"""Language-identification gate (r9 verdict queue #2): the hashed
char-n-gram logistic classifier — the fastText-langid architecture on
the repo's replay-exact trainer — trained on a planted multilingual
corpus, exposed through apply_quality_gates, fingerprinted by the
streaming sink, and partitioning-invariant inside curate_corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.curation import (
    apply_quality_gates,
    curate_corpus,
)
from ds_caselaw_ingester_spark.operators.quality_clf import (
    QualityModel,
    py_replay_train,
    py_score,
    score_quality,
    train_quality_classifier,
)

# planted bilingual corpus: label 1 = target language (English-like),
# label 0 = pseudo-German (distinct char 1-3-gram profile: umlauts,
# ß, sch/ der/ ung patterns)
ENGLISH = [
    "the report shows steady growth across the whole region this year",
    "researchers published the findings after careful peer review",
    "a committee will examine the evidence and issue guidance",
    "these results suggest the method works well in practice",
    "the survey covered thousands of households across the country",
    "new measurements confirm the earlier estimate within error",
]
GERMANIC = [
    "der bericht zeigt ein stetiges wachstum in der ganzen region",
    "die forscher veröffentlichten die ergebnisse nach sorgfältiger prüfung",
    "ein ausschuss wird die beweise prüfen und leitlinien herausgeben",
    "diese ergebnisse zeigen dass die methode gut funktioniert",
    "die umfrage erfasste tausende haushalte im ganzen land",
    "neue messungen bestätigen die frühere schätzung",
]
HELDOUT_EN = [
    "the council approved the plan after a short debate",
    "measurements were taken daily throughout the study period",
]
HELDOUT_DE = [
    "der rat genehmigte den plan nach einer kurzen aussprache",
    "messungen wurden während der gesamten studie täglich durchgeführt",
]

DIM = 1 << 12


def _train_rows():
    return [(i, t, 1) for i, t in enumerate(ENGLISH)] + [
        (100 + i, t, 0) for i, t in enumerate(GERMANIC)
    ]


def _train(spark) -> QualityModel:
    rows = _train_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    return train_quality_classifier(
        docs, dim=DIM, iters=8, lr=2.0, feature="char"
    )


def test_char_training_is_replay_exact(spark):
    """Engine weights == pure-Python replay bit-for-bit, with char
    features — the same contract the word-feature trainer pins."""
    model = _train(spark)
    replay = py_replay_train(_train_rows(), dim=DIM, iters=8, lr=2.0, feature="char")
    assert model.feature == "char"
    assert model.bias == replay.bias
    assert model.weights == replay.weights


def test_scoring_matches_python_replay_and_separates(spark):
    """Held-out scores equal py_score exactly, and the classifier
    separates the languages on documents it never saw."""
    model = _train(spark)
    unseen = HELDOUT_EN + HELDOUT_DE
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(unseen)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["quality_p"] for r in score_quality(df, model).collect()}
    for i, t in enumerate(unseen):
        assert got[i] == py_score(t, model), (i, t)
    en = [got[i] for i in range(len(HELDOUT_EN))]
    de = [got[len(HELDOUT_EN) + i] for i in range(len(HELDOUT_DE))]
    assert min(en) > 0.5 > max(de), (en, de)


def test_gate_keep_set_matches_python_replay(spark):
    """The judge's done-criterion: apply_quality_gates(langid_model=...)
    keep set over a mixed corpus == {docs whose py_score clears the
    threshold}, computed independently."""
    model = _train(spark)
    mixed = [(i, t) for i, t in enumerate(HELDOUT_EN + HELDOUT_DE + ENGLISH[:2] + GERMANIC[:2])]
    df = spark.createDataFrame(mixed, "doc_id long, text string")
    kept = {
        r["doc_id"]
        for r in apply_quality_gates(
            df, "doc_id", "text", langid_model=model, min_lang_p=0.5
        ).collect()
    }
    want = {i for i, t in mixed if py_score(t, model) >= 0.5}
    assert kept == want
    # and the gate actually separates on this corpus (non-vacuous)
    assert kept and kept != {i for i, _ in mixed}


def test_curate_corpus_with_langid_is_partitioning_invariant(spark):
    """curate_corpus with the langid gate enabled: foreign documents
    produce no chunks, and the output is identical under different
    input partitionings (the composite's standing contract)."""
    model = _train(spark)
    rows = [(i, t) for i, t in enumerate(HELDOUT_EN + ENGLISH)] + [
        (200 + i, t) for i, t in enumerate(HELDOUT_DE + GERMANIC)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(df):
        out = curate_corpus(
            df,
            min_tokens=4,
            min_alpha_ratio=0.3,
            chunk_tokens=16,
            overlap=4,
            langid_model=model,
            min_lang_p=0.5,
        )
        return {
            (r["doc_id"], r["chunk_index"], r["chunk_text"])
            for r in out.collect()
        }

    c1 = run(docs.repartition(1))
    c7 = run(docs.repartition(7))
    assert c1 == c7 and c1
    ids = {doc_id for doc_id, _, _ in c1}
    assert ids and all(i < 200 for i in ids), sorted(ids)


def test_sink_fingerprint_pins_langid(spark):
    """The streaming sink's gate fingerprint must change when the
    langid model or its threshold changes, and a char model must not
    collide with a word model of identical weights; pre-existing
    word-only fingerprints stay valid across the upgrade (feature only
    enters the digest when non-default)."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        _quality_fingerprint,
    )

    w = {3: 0.25, 7: -0.5}
    char_m = QualityModel(dim=16, bias=0.1, weights=w, feature="char")
    word_m = QualityModel(dim=16, bias=0.1, weights=w, feature="word")
    base = _quality_fingerprint({"langid_model": char_m})
    assert base is not None
    assert base != _quality_fingerprint({"langid_model": char_m, "min_lang_p": 0.7})
    assert base != _quality_fingerprint({"langid_model": word_m})
    # a langid gate is not a quality gate: same model, different slot
    assert base != _quality_fingerprint({"quality_model": char_m})
    # upgrade safety: the word-model digest ignores the new field, so
    # sidecars written before the feature field existed still match
    legacy_equivalent = QualityModel(dim=16, bias=0.1, weights=w)
    assert _quality_fingerprint({"quality_model": word_m}) == _quality_fingerprint(
        {"quality_model": legacy_equivalent}
    )


def test_char_score_matches_duckdb_oracle(spark, sf_dir):
    """Char-feature scoring with a pinned sparse model over the real
    documents table must hash-match a DuckDB replay — the same contract
    the word-feature scorer pins (test_quality_clf.py), extended to the
    char 1-3-gram featurizer: same lowercased token-joined canon text,
    same md5 hash, same rounding."""
    import duckdb

    model = QualityModel(
        dim=4096,
        bias=0.1,
        weights={3: 2.0, 777: -1.25, 2047: 0.5, 4001: -0.75},
        feature="char",
    )
    got = {
        r["doc_id"]: r["quality_p"]
        for r in score_quality(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            ),
            model,
        ).collect()
    }
    vals = ", ".join(f"({i}, {w!r})" for i, w in sorted(model.weights.items()))
    sql = f"""
WITH base AS (
  SELECT doc_id,
         lower(array_to_string(
           list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), ' '
         )) AS c
  FROM read_parquet('{sf_dir}/documents.parquet')
),
grams AS (
  SELECT doc_id,
         list_concat(list_concat(
           list_transform(generate_series(1, length(c)), i -> substr(c, i, 1)),
           CASE WHEN length(c) >= 2
                THEN list_transform(generate_series(1, length(c) - 1), i -> substr(c, i, 2))
                ELSE []::VARCHAR[] END),
           CASE WHEN length(c) >= 3
                THEN list_transform(generate_series(1, length(c) - 2), i -> substr(c, i, 3))
                ELSE []::VARCHAR[] END) AS t
  FROM base
),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(u.term), 1, 13))::BIGINT % 4096 AS INTEGER) AS idx,
         CAST(count(*) AS DOUBLE) / max(len(t)) AS x
  FROM grams, unnest(t) AS u(term)
  GROUP BY doc_id, idx
),
margin AS (
  SELECT f.doc_id, round(sum(f.x * w.w) + 0.1, 6) AS m
  FROM feat f JOIN (VALUES {vals}) AS w(idx, w) ON f.idx = w.idx
  GROUP BY f.doc_id
)
SELECT b.doc_id,
       round(1.0 / (1.0 + exp(-coalesce(m.m, 0.1))), 6) AS quality_p
FROM base b LEFT JOIN margin m USING (doc_id)
"""
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want and got


def test_streaming_sink_applies_langid_gate(spark, tmp_path):
    """Integration: the curation sink with a langid gate in
    quality_gates drops foreign documents from the stream exactly as
    the batch composite would, and a restart with a DIFFERENT langid
    threshold refuses via the pinned gate fingerprint."""
    import pytest as _pytest

    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        apply_curation_batch,
    )

    model = _train(spark)
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    filler = " one two three four five six seven eight"
    rows = (
        [(f"en-{i}", t + filler) for i, t in enumerate(HELDOUT_EN + ENGLISH[:2])]
        + [(f"de-{i}", t + filler) for i, t in enumerate(HELDOUT_DE + GERMANIC[:2])]
    )
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    gates = {"langid_model": model, "min_lang_p": 0.5}
    apply_curation_batch(
        docs, idx, chk, min_tokens=4, min_alpha_ratio=0.3,
        chunk_tokens=16, overlap=4, epoch_id=0, n_buckets=8,
        quality_gates=gates,
    )
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{chk}/epoch=0").select("doc_id").collect()
    }
    assert kept and all(d.startswith("en-") for d in kept), sorted(kept)
    # drift: a different threshold is a different gate — must refuse
    with _pytest.raises(ValueError, match="gate params"):
        apply_curation_batch(
            docs, idx, chk, min_tokens=4, min_alpha_ratio=0.3,
            chunk_tokens=16, overlap=4, epoch_id=1, n_buckets=8,
            quality_gates={"langid_model": model, "min_lang_p": 0.9},
        )


def test_max_chars_cap_is_replay_exact_and_prefix_only(spark):
    """The langid prefix cap (round 10): a capped model trains and
    scores identically to the Python replay, scoring reads ONLY the
    document head (an English prefix with a German tail scores as the
    prefix), and the cap changes the sink fingerprint."""
    rows = _train_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    capped = train_quality_classifier(
        docs, dim=DIM, iters=8, lr=2.0, feature="char", max_chars=40
    )
    replay = py_replay_train(rows, dim=DIM, iters=8, lr=2.0, feature="char",
                             max_chars=40)
    assert capped.max_chars == 40
    assert capped.bias == replay.bias and capped.weights == replay.weights

    # prefix-only scoring: same 40-char English head, divergent tails
    head = "the committee reviewed the annual report"[:40]
    mixed = spark.createDataFrame(
        [
            (1, head + " and published the findings for the region"),
            (2, head + " der bericht zeigt wachstum in der ganzen region"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["quality_p"] for r in score_quality(mixed, capped).collect()}
    assert got[1] == got[2] == py_score(head, capped)

    # an uncapped model disagrees across the two tails (non-vacuous)
    uncapped = _train(spark)
    g2 = {r["doc_id"]: r["quality_p"] for r in score_quality(mixed, uncapped).collect()}
    assert g2[1] != g2[2]

    # the cap rides the gate fingerprint
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        _quality_fingerprint,
    )

    free = QualityModel(dim=capped.dim, bias=capped.bias,
                        weights=capped.weights, feature="char")
    assert _quality_fingerprint({"langid_model": capped}) != _quality_fingerprint(
        {"langid_model": free}
    )


def test_mapside_scorer_equals_aggregation_scorer(spark):
    """The batch scorer the curation gates run map-side
    (make_batch_scorer) must produce the same probabilities as the
    aggregation path post-rounding, for BOTH feature families,
    including empty/null text (bias score). The gate's plan is pinned
    shuffle-free below."""
    from ds_caselaw_ingester_spark.operators.quality_clf import make_batch_scorer

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(HELDOUT_EN + HELDOUT_DE + ENGLISH[:2])]
        + [(90, ""), (91, None)],
        "doc_id long, text string",
    )
    for feature in ("char", "word"):
        model = (
            _train(spark)
            if feature == "char"
            else train_quality_classifier(
                spark.createDataFrame(
                    _train_rows(), "doc_id long, text string, label int"
                ),
                dim=DIM, iters=8, lr=2.0, feature="word",
            )
        )
        agg = {
            r["doc_id"]: r["quality_p"]
            for r in score_quality(docs, model).collect()
        }
        scorer = make_batch_scorer(model)
        got = {r["doc_id"]: scorer(r["text"]) for r in docs.collect()}
        assert got == agg, feature


def test_langid_gate_plan_is_shuffle_free(spark):
    """The gate as applied by apply_quality_gates: scoring + filter add
    NO exchange to the plan — the 100 TB first-gate contract."""
    model = _train(spark)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ENGLISH + GERMANIC)],
        "doc_id long, text string",
    )
    gated = apply_quality_gates(
        docs, "doc_id", "text", langid_model=model, min_lang_p=0.5
    )
    plan = gated._sc._jvm.PythonSQLUtils.explainString(
        gated._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan, plan


def test_incremental_api_honors_langid_gate(spark):
    """curate_increment_seq forwards quality_gates to the SAME
    apply_quality_gates the batch composite uses: a mixed-language
    increment against an English base index keeps only the documents
    the langid gate passes, and the index delta contains band rows for
    exactly those keepers (a gated-out doc is never indexed)."""
    from ds_caselaw_ingester_spark.operators.curation import (
        curate_increment_seq,
        curation_band_index_seq,
    )

    model = _train(spark)
    gates = {"langid_model": model, "min_lang_p": 0.5}
    base = spark.createDataFrame(
        [(f"b-{i}", t) for i, t in enumerate(ENGLISH)],
        "doc_id string, text string",
    )
    index = curation_band_index_seq(
        base, min_tokens=4, min_alpha_ratio=0.3, **gates
    ).localCheckpoint(eager=True)
    inc = spark.createDataFrame(
        [(f"en-{i}", t) for i, t in enumerate(HELDOUT_EN)]
        + [(f"de-{i}", t) for i, t in enumerate(HELDOUT_DE)],
        "doc_id string, text string",
    )
    chunks, delta = curate_increment_seq(
        inc, index, min_tokens=4, min_alpha_ratio=0.3,
        chunk_tokens=16, overlap=4, **gates,
    )
    kept = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    assert kept and all(d.startswith("en-") for d in kept), sorted(kept)
    indexed = {r["doc_id"] for r in delta.select("doc_id").distinct().collect()}
    assert indexed == kept  # gated-out docs never enter the index


def test_batch_scorer_equals_py_score_both_feature_families():
    """make_batch_scorer IS py_score, amortized: bit-identical scores
    for word AND char/max_chars models on hostile texts (unicode
    whitespace, empties, None→'' coercion), with the md5 memo WARM —
    one scorer instance scores the whole list, so a cache-poisoning
    bug (wrong idx reused across docs) cannot hide."""
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    texts = (
        ENGLISH + GERMANIC
        + ["", "   ", "a", "a b c", "der the la\nle und of",
           "x " * 200, " one two three"]
    )
    for feature, mc in (("word", None), ("char", 64), ("char", None)):
        m = QualityModel(
            dim=1 << 12, bias=-0.25,
            weights={i: (0.9 if i % 3 else -0.8) for i in range(0, 1 << 12, 5)},
            feature=feature, max_chars=mc,
        )
        scorer = make_batch_scorer(m)
        for t in texts:
            assert scorer(t) == py_score(t, m), (feature, mc, t)
        # second pass fully memo-warm: values must not drift
        for t in texts:
            assert scorer(t) == py_score(t, m), ("warm", feature, mc, t)


def test_batch_scorer_cache_cap_clears_without_value_drift():
    """An adversarial all-distinct-gram stream overflows the memo; the
    clear must reset amortization only, never values."""
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    m = QualityModel(dim=256, bias=0.1, weights={7: 1.0, 13: -1.0},
                     feature="word")
    scorer = make_batch_scorer(m, cache_cap=8)
    texts = [f"tok{i} tok{i+1} shared" for i in range(40)]
    for t in texts:
        assert scorer(t) == py_score(t, m), t


def test_batch_scorer_packed_path_equals_py_score_adversarially():
    """The round-12 char fast path (code points packed 21-bits-each
    into int64 n-gram windows + per-distinct md5 memo + vectorized
    exact margin) must be bit-identical to py_score on ANY text —
    ASCII, Latin diacritics, CJK, astral-plane emoji (code points past
    0xFFFF exercise the 21-bit packing), control chars — through ONE
    scorer instance (shared memos), at tiny dim (heavy idx collisions
    exercising the same-idx fold), and under prefix caps that slice
    mid-word."""
    import random
    import string

    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    rng = random.Random(5)
    cases = ["", " ", "a", "aa bb aa", "x" * 600, "héllo wörld", "ß",
             "mixed ascii ünd nicht", "\x01\x02 ctrl", "tab\tand\nnl",
             "日本語 テキスト 分類", "правовой текст", "🦜 emoji 🧪🧪 mix",
             "\U0010FFFF max \U0001F600 astral"]
    cases += [
        "".join(rng.choice(string.ascii_lowercase + " \né")
                for _ in range(rng.randint(0, 120)))
        for _ in range(200)
    ]
    for dim, mc in ((17, 64), (1 << 12, None), (1 << 10, 3)):
        m = QualityModel(
            dim=dim, bias=-0.2,
            weights={i: rng.uniform(-2, 2) for i in range(min(dim, 500))},
            feature="char", max_chars=mc,
        )
        scorer = make_batch_scorer(m)
        for t in cases:
            assert scorer(t) == py_score(t, m), (dim, mc, repr(t)[:40])


def test_batch_scorer_combined_path_nul_fallback_and_cap():
    """Round-13 combined-n counting: NUL is the ONE code point that
    makes the magnitude-based n recovery ambiguous, so NUL documents
    must take the per-n legacy path — and both paths must stay
    bit-identical to py_score through ONE scorer instance (shared
    memos, interleaved) and across a cache-cap reset of the sorted
    memo arrays."""
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    m = QualityModel(
        dim=64, bias=0.05,
        weights={i: ((i * 29) % 19 - 9) / 7 for i in range(64)},
        feature="char", max_chars=None,
    )
    scorer = make_batch_scorer(m)
    cases = [
        "\x00", "a\x00b", "\x00 leading nul", "trailing nul \x00",
        "no nul here", "a\x00b", "no nul here",  # interleave both paths
        "nul\x00mid and 日本語", "\x00\x00\x00",
    ]
    for t in cases:
        assert scorer(t) == py_score(t, m), repr(t)

    # tiny cap: the sorted-array memo resets mid-stream (every doc's
    # grams overflow it); values must never drift
    capped = make_batch_scorer(m, cache_cap=8)
    for i in range(30):
        t = f"uniq{i}word {i}x{i}"
        assert capped(t) == py_score(t, m), t


def test_batch_scorer_hypothesis_equals_py_score_any_unicode():
    """Hypothesis pin for the r13 combined-n path: for ARBITRARY
    unicode text (NUL and astral planes included, so both the combined
    and the legacy per-n paths and the path SWITCH mid-stream are
    exercised through one shared-memo scorer), the batch scorer equals
    py_score bit-for-bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    m = QualityModel(
        dim=128, bias=-0.1,
        weights={i: ((i * 31) % 41 - 20) / 13 for i in range(128)},
        feature="char", max_chars=96,
    )
    scorer = make_batch_scorer(m)
    text = st.text(
        alphabet=st.characters(
            codec="utf-8",  # excludes lone surrogates, like Arrow strings
            categories=None,
        ),
        max_size=200,
    )

    @given(text)
    @settings(max_examples=300, deadline=None)
    def check(t):
        assert scorer(t) == py_score(t, m)

    check()


def test_batch_scorer_cap_halving_stays_exact_at_the_cap():
    """Round-14 (r13 watch item #1): the combined scorer now HALVES the
    sorted memo arrays at cache_cap instead of resetting them. The
    pathological shape the halving targets — a corpus whose working
    vocabulary sits right at the cap, cycling the same grams forever —
    must stay bit-identical to py_score through repeated halvings, and
    revisiting earlier documents after several halvings must too (idx
    values are pure functions of the gram; only amortization may
    change)."""
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        make_batch_scorer,
        py_score,
    )

    m = QualityModel(
        dim=128, bias=-0.3,
        weights={i: ((i * 17) % 23 - 11) / 5 for i in range(128)},
        feature="char", max_chars=None,
    )
    # cap 16 with ~30+ distinct grams per pass: every cycle crosses the
    # cap several times, so the halving runs repeatedly mid-stream
    scorer = make_batch_scorer(m, cache_cap=16)
    texts = [f"abc{i}멀티{i % 3}" for i in range(12)]
    for _cycle in range(4):
        for t in texts:
            assert scorer(t) == py_score(t, m), (_cycle, t)
