"""Driver-side component split of the fused four-gate battery.

Reproducible protocol behind docs/SCALE.md's round-13/14 tables: the
same batch engines the executor scan builds (make_batch_scorer /
make_batch_profiler / make_batch_perplexity, identical model configs
to /tmp-corpus battery benches), run single-core over the corpus's
text column with warm memos, each component timed separately. This is
the measure-BEFORE-touching gate of the r12 queue discipline: attack
a term only when its share and a paired >= 1.5x are both on the table.

Usage: python tools/profile_battery.py [sf_dir] (default /tmp/sf1.0;
falls back to /root/testdata/sf0.1 if absent). The corpus text is
collected to the driver: at sf1 give it SPARK_GRAFT_DRIVER_MEM=16g.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else (
        "/tmp/sf1.0" if os.path.isdir("/tmp/sf1.0") else "/root/testdata/sf0.1"
    )
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.session import get_spark

    spark = get_spark("profile_battery")
    spark.sparkContext.setLogLevel("ERROR")
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
    )
    from ds_caselaw_ingester_spark.operators.repetition import (
        make_batch_profiler,
    )
    from ds_caselaw_ingester_spark.operators.textstats import py_tokens
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        make_batch_perplexity,
        unigram_fit,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("text")
    wf = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    logp = unigram_fit(wf, num_iters=2, max_piece_len=6, max_vocab=2000)

    # identical model shapes to the /tmp battery benches (r12/r13)
    langid = make_batch_scorer(QualityModel(
        dim=1 << 15, bias=0.4,
        weights={i: (0.8 if i % 3 else -0.6) for i in range(0, 1 << 15, 7)},
        feature="char", max_chars=512,
    ))
    word_clf = make_batch_scorer(QualityModel(
        dim=1 << 15, bias=0.3,
        weights={i: (0.5 if i % 2 else -0.7) for i in range(0, 1 << 15, 5)},
        feature="word",
    ))
    rep = make_batch_profiler((2,), (5,))
    ppl = make_batch_perplexity(logp, 6, None)

    t0 = time.time()
    texts = [r["text"] or "" for r in docs.collect()]
    t_conv = time.time() - t0
    print(f"corpus: {len(texts)} docs from {sf} (collect {t_conv:.2f}s)")

    toks_by_i = [py_tokens(t) for t in texts]

    def _timed(label, fn):
        # warm the engine's memos on a slice first so shares reflect
        # the steady state the executor scan reaches within a partition
        for i in range(min(2000, len(texts))):
            fn(i)
        t0 = time.time()
        for i in range(len(texts)):
            fn(i)
        return label, time.time() - t0

    rows = [
        _timed("py_tokens regex split", lambda i: py_tokens(texts[i])),
        _timed("langid scorer (char/512)", lambda i: langid(texts[i])),
        _timed(
            "quality classifier (word)",
            lambda i: word_clf(texts[i], toks_by_i[i]),
        ),
        _timed(
            "repetition profiler (2,5-grams)",
            lambda i: rep(texts[i], toks_by_i[i]),
        ),
        _timed(
            "LM perplexity (2k vocab)",
            lambda i: ppl(texts[i], toks_by_i[i]),
        ),
    ]

    total = sum(dt for _, dt in rows)
    print(f"\n| component | sec | share |\n|---|---|---|")
    for label, dt in rows:
        print(f"| {label} | {dt:.2f} | {100 * dt / total:.0f}% |")
    print(f"| total (ex collect) | {total:.2f} | |")
    spark.stop()


if __name__ == "__main__":
    main()
