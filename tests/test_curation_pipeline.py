"""End-to-end curation composite: PII never reaches a chunk, near-dup
clusters contribute exactly one document's chunks, the quality gate
drops junk, and the run is deterministic."""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.curation import curate_corpus
from ds_caselaw_ingester_spark.operators.scrub import EMAIL_RE, IP_RE, PHONE_RE


def _corpus(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
    ) * 2
    rows = [
        # near-dup cluster {1, 2}: only the canonical (min id) survives
        (1, base),
        (2, base + "extra tail token"),
        # clean unique doc with planted PII
        (3, "contact me at bob1@example.com or call 555-0199 from 10.0.0.7 "
            + "please do follow up on the quarterly ingest report "
            + "with all the usual words repeated here for length "
            + "and a few more tokens to pass the gate easily"),
        # junk: too short
        (4, "tiny doc"),
        # junk: low alpha ratio
        (5, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pipeline_end_to_end(spark):
    chunks = curate_corpus(
        _corpus(spark), min_tokens=8, min_alpha_ratio=0.5,
        chunk_tokens=16, overlap=4,
    ).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)

    # near-dup cluster {1,2}: canonical id 1 chunked, duplicate 2 dropped
    assert 1 in by_doc and 2 not in by_doc
    # quality gate: 4 (short) and 5 (numeric) gone
    assert 4 not in by_doc and 5 not in by_doc
    # PII scrubbed before chunking: no pattern survives in ANY chunk
    all_text = " ".join(r.chunk_text for r in chunks)
    df = spark.createDataFrame([(all_text,)], "t string")
    counts = df.select(
        *[F.regexp_count("t", F.lit(p)).alias(f"c{i}")
          for i, p in enumerate((EMAIL_RE, PHONE_RE, IP_RE))]
    ).collect()[0]
    assert (counts.c0, counts.c1, counts.c2) == (0, 0, 0)
    assert "[EMAIL]" in " ".join(r.chunk_text for r in by_doc[3])

    # chunk arithmetic: doc 1 (40 tokens) at chunk 16 stride 12 -> 4 chunks
    assert [r.chunk_index for r in sorted(by_doc[1], key=lambda r: r.chunk_index)] == [0, 1, 2, 3]


def test_pipeline_quality_keeper_overrides_min_id(spark):
    """keeper_score_col flips the near-dup cluster {1,2}'s keeper to the
    higher-scoring id 2; everything else (gates, PII, singleton docs)
    is unchanged vs the default min-id run on the same corpus. A doc
    without a score row still wins its singleton component (NULL
    contract), and a score column missing from the input raises."""
    import pytest

    scored = _corpus(spark).withColumn(
        "score",
        F.when(F.col("doc_id") == 2, F.lit(0.9))
        .when(F.col("doc_id") == 1, F.lit(0.1)),  # 3/4/5 unscored -> NULL
    )
    chunks = curate_corpus(
        scored, min_tokens=8, min_alpha_ratio=0.5,
        chunk_tokens=16, overlap=4, keeper_score_col="score",
    ).collect()
    kept = {r.doc_id for r in chunks}
    assert 2 in kept and 1 not in kept  # arg-max score, not min id
    assert 3 in kept                    # unscored singleton keeps itself
    assert 4 not in kept and 5 not in kept  # gates unaffected

    with pytest.raises(ValueError, match="keeper_score_col"):
        curate_corpus(_corpus(spark), keeper_score_col="score")


def test_pipeline_is_deterministic(spark):
    a = {(r.doc_id, r.chunk_index, r.chunk_text)
         for r in curate_corpus(_corpus(spark), chunk_tokens=16, overlap=4).collect()}
    b = {(r.doc_id, r.chunk_index, r.chunk_text)
         for r in curate_corpus(_corpus(spark).repartition(7), chunk_tokens=16, overlap=4).collect()}
    assert a == b


def test_pipeline_decontaminates_against_benchmark(spark):
    corpus = _corpus(spark)
    # benchmark shares an 8-gram with doc 3's text and nothing else
    bench = spark.createDataFrame(
        [("please do follow up on the quarterly ingest report",)], "text string"
    )
    chunks = curate_corpus(
        corpus, min_tokens=8, min_alpha_ratio=0.5,
        chunk_tokens=16, overlap=4, benchmark=bench,
    ).collect()
    docs_out = {r.doc_id for r in chunks}
    assert 3 not in docs_out  # contaminated doc dropped entirely
    assert 1 in docs_out  # untouched survivors still flow through


def test_pipeline_semantic_stage_collapses_paraphrases(spark):
    """Two documents sharing NO n-grams (lexical dedup is blind to them)
    but with near-identical embeddings collapse to one exemplar when the
    embeddings frame is supplied; without it both survive. A document
    with no embedding row always survives the stage."""
    filler = "one two three four five six seven eight nine ten "
    rows = [
        (10, "the quick brown fox jumps over the lazy dog near the river " + filler),
        # paraphrase: disjoint vocabulary, same meaning -> same embedding
        (11, "a fast auburn canine leaps across an idle hound by a stream " + filler),
        (12, "completely unrelated document about parquet row groups and shuffles " + filler),
        # no embedding row for this one
        (13, "another unrelated document regarding watermark state eviction rules " + filler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = [1.0, 0.5, -0.25] * 8
    other = [-0.5, 1.0, 0.75] * 8
    emb_rows = [
        (10, base),
        (11, [v * 1.001 for v in base]),  # cosine ~1.0 with base
        (12, other),
    ]
    emb = spark.createDataFrame(emb_rows, "doc_id long, embedding array<double>")

    with_sem = curate_corpus(
        docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=64, overlap=0,
        embeddings=emb, semdedup_k=2,
    )
    ids_sem = {r.doc_id for r in with_sem.select("doc_id").distinct().collect()}
    without = curate_corpus(
        docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=64, overlap=0,
    )
    ids_plain = {r.doc_id for r in without.select("doc_id").distinct().collect()}

    assert ids_plain == {10, 11, 12, 13}
    # the paraphrase pair collapsed to one; 12 (distinct embedding) and
    # 13 (no embedding) both survive
    assert len(ids_sem & {10, 11}) == 1
    assert {12, 13} <= ids_sem


def test_curation_lm_perplexity_gate_drops_gibberish(spark):
    """The optional LM gate: with a unigram model trained on the
    corpus's own clean text, a long-but-gibberish document (which the
    structural gates pass — enough tokens, alphabetic) is dropped while
    natural documents survive and chunk as before."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.curation import curate_corpus
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        unigram_fit,
        unigram_perplexity,
    )

    clean = [
        "the court held the appeal was dismissed with costs today",
        "the appeal court dismissed the second appeal with costs",
        "costs were held over while the court heard the appeal",
    ]
    gibberish = "zxqv kjwp qqzz vvkk zzzz xqxq wqwq zzxx qvqv kkjj"
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(clean)] + [(50, gibberish)],
        "doc_id long, text string",
    )
    wf = (
        spark.createDataFrame([(w,) for t in clean for w in t.split()], "word string")
        .groupBy("word").agg(F.count("*").alias("freq"))
    )
    logp = unigram_fit(wf, num_iters=2, max_piece_len=4, max_vocab=200)
    # threshold between the natural band and the gibberish score
    ppl = {r["doc_id"]: r["ppl"] for r in unigram_perplexity(
        docs, "doc_id", "text", logp, max_piece_len=6
    ).collect()}
    cut = (max(ppl[i] for i in range(len(clean))) + ppl[50]) / 2
    out = curate_corpus(
        docs, min_tokens=5, min_alpha_ratio=0.5, chunk_tokens=8, overlap=0,
        lm_logp=logp, max_ppl=cut,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert 50 not in kept
    assert kept >= {0, 1, 2}


def test_curation_repetition_caps_gate(spark):
    docs = _corpus(spark)
    # doc 6: extreme 2-gram repetition, passes structural gates
    rep = (6, "spam ham " * 30)
    docs = docs.union(spark.createDataFrame([rep], "doc_id long, text string"))
    base_ids = {
        r.doc_id
        for r in curate_corpus(
            docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=16, overlap=4
        ).collect()
    }
    assert 6 in base_ids
    capped_ids = {
        r.doc_id
        for r in curate_corpus(
            docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=16, overlap=4,
            repetition_caps={"top_2gram_char_frac": 0.2},
        ).collect()
    }
    assert 6 not in capped_ids
    assert 3 in capped_ids  # normal prose survives the cap
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate_corpus(docs, repetition_caps={"bogus_column": 0.1})


def test_curation_quality_model_gate(spark):
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        train_quality_classifier,
    )

    train = spark.createDataFrame(
        [
            (1, "the quarterly report shows measured growth in every region", 1),
            (2, "careful analysis of the data reveals a consistent trend", 1),
            (3, "click click buy now buy now cheap cheap cheap free free", 0),
            (4, "winner winner free free free click here now now cheap", 0),
        ],
        "doc_id long, text string, label int",
    )
    model = train_quality_classifier(train, dim=1 << 12, iters=15, lr=2.0)
    docs = spark.createDataFrame(
        [
            (10, "the quarterly report reveals consistent measured growth "
                 "with careful analysis of the trend in every region"),
            (11, "free cheap click now winner free cheap click now buy "
                 "cheap free now click winner buy now free cheap click"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in curate_corpus(
            docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=16, overlap=4,
            quality_model=model, min_quality_p=0.5,
        ).collect()
    }
    assert 10 in kept and 11 not in kept


def test_curation_semantic_decontam_gate(spark):
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    # benchmark vector nearly parallel to doc 1's embedding
    bench = spark.createDataFrame(
        [(100, [0.99, 0.01, 0.0])], "bid long, embedding array<double>"
    )
    kept = {
        r.doc_id
        for r in curate_corpus(
            docs, min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=16, overlap=4,
            embeddings=emb, benchmark_embeddings=bench,
            semantic_decontam_threshold=0.95,
        ).collect()
    }
    assert kept == {2}
    with _pytest.raises(ValueError):
        curate_corpus(docs, benchmark_embeddings=bench)  # no embeddings frame


def test_curation_dsir_final_selection(spark):
    """The DSIR stage runs LAST: its quota is spent on gated, deduped
    survivors, and the kept set is the target-likeness Gumbel top-k
    over exactly those survivors (pinned against dsir_select run on
    the pipeline's own survivor set)."""
    from ds_caselaw_ingester_spark.operators.curation import curate_corpus
    from ds_caselaw_ingester_spark.operators.dsir import dsir_select

    filler = "one common filler sentence with enough tokens to pass gates"
    rows = [
        (1, "the quarterly market report shows steady revenue growth " + filler),
        (2, "market analysts expect revenue to grow again this quarter " + filler),
        (3, "a folk tale about a clever fox and a patient heron " + filler),
        (4, "recipe steps for slow cooked stew with root vegetables " + filler),
        (5, "tiny"),  # structurally gated out — must never consume quota
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "quarterly revenue growth report for market analysts")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, min_tokens=8, chunk_tokens=64, overlap=0,
        dsir_target=target, dsir_keep=2,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert len(kept) == 2 and 5 not in kept

    # pin against dsir_select over the actual survivor set (1-4 here:
    # no dedup collapses, only the structural gate fires)
    survivors = docs.where("doc_id != 5")
    want = {r["doc_id"] for r in dsir_select(survivors, target, 2).collect()}
    assert kept == want
    # and the finance docs are what target-likeness picks
    assert kept == {1, 2}

    # quota >= survivors keeps everything; mismatched args refuse
    out_all = curate_corpus(
        docs, min_tokens=8, chunk_tokens=64, overlap=0,
        dsir_target=target, dsir_keep=100,
    )
    assert {r["doc_id"] for r in out_all.select("doc_id").distinct().collect()} == {1, 2, 3, 4}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        curate_corpus(docs, dsir_target=target, dsir_keep=0)
    with _pytest.raises(ValueError, match="together"):
        curate_corpus(docs, dsir_keep=3)


def test_curation_boilerplate_stage(spark):
    """boilerplate_min_df strips cross-document paragraphs BEFORE the
    structural gate: a doc that is banner+footer only dies at the gate
    (nothing real remains), a doc with real content survives WITHOUT
    the boilerplate tokens, and lexical dedup no longer sees the shared
    paragraphs."""
    from ds_caselaw_ingester_spark.operators.curation import curate_corpus

    banner = "this site uses cookies and trackers everywhere"
    real1 = "genuinely unique prose about alpha beta gamma delta topics"
    real2 = "completely different words regarding epsilon zeta eta theta"
    rows = [
        (1, f"{banner}\n\n{real1}"),
        (2, f"{banner}\n\n{real2}"),
        (3, banner),  # boilerplate-only: must die at the gate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(
        docs, min_tokens=5, chunk_tokens=64, overlap=0, boilerplate_min_df=2
    ).collect()
    kept = {r["doc_id"] for r in out}
    assert kept == {1, 2}
    texts = {r["doc_id"]: r["chunk_text"] for r in out}
    assert texts[1] == real1 and texts[2] == real2
    # without the stage, doc 3 passes the gate on banner tokens alone
    base = curate_corpus(docs, min_tokens=5, chunk_tokens=64, overlap=0)
    assert {r["doc_id"] for r in base.collect()} == {1, 2, 3}


def test_curate_increment_equals_recompute_on_new_ids(spark):
    """The incremental contract: increment keepers == full-recompute
    keepers ∩ new ids, with base decisions untouched. The corpus plants
    every interesting shape: a new near-dup of a KEPT base doc, a new
    near-dup of a DROPPED base doc, a fresh new-new family, and unique
    new docs. Plus the empty-index bootstrap. The ids arrive in
    increasing order, so the ingest sequence follows the id and the
    min-id recompute is the arrival-order one."""
    from ds_caselaw_ingester_spark.operators.curation import (
        curate_corpus,
        curate_increment_seq,
        curation_band_index_seq,
    )

    fam_a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 2
    fam_b = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen ") * 2
    base = {
        1: fam_a,                       # family A canonical
        2: fam_a + "tail variant x",    # family A dropped member
        3: fam_b,                       # family B canonical
        4: "a unique base document with plenty of perfectly normal words here",
    }
    new = {
        11: fam_a + "another tail y",   # near-dups the DROPPED member's family
        12: fam_b + "small change z",   # near-dups a KEPT base doc
        13: "an entirely new family of words repeated in two fresh documents now",
        14: "an entirely new family of words repeated in two fresh documents also",
        15: "a singleton brand new document with its own vocabulary entirely",
    }
    bd = spark.createDataFrame(list(base.items()), "doc_id long, text string")
    nd = spark.createDataFrame(list(new.items()), "doc_id long, text string")
    kw = dict(min_tokens=5, chunk_tokens=64, overlap=0)

    full = {r["doc_id"] for r in curate_corpus(bd.union(nd), **kw).select("doc_id").distinct().collect()}
    base_keep = {r["doc_id"] for r in curate_corpus(bd, **kw).select("doc_id").distinct().collect()}

    index = curation_band_index_seq(bd, min_tokens=5).localCheckpoint()
    chunks, delta = curate_increment_seq(nd, index, min_tokens=5, chunk_tokens=64, overlap=0)
    incr_keep = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}

    assert incr_keep == {i for i in full if i > 10}
    assert base_keep == {i for i in full if i <= 10}  # no bridges planted
    # the delta carries every gated NEW doc, kept AND dropped — append
    # it to the index and day two dedups against base ∪ day-one
    assert {r["doc_id"] for r in delta.select("doc_id").distinct().collect()} == set(new)
    day2 = spark.createDataFrame(
        [(21, new[13] + " t"), (22, "wholly novel words never seen in any prior day at all")],
        "doc_id long, text string",
    )
    c2, _ = curate_increment_seq(day2, index.unionByName(delta), min_tokens=5, chunk_tokens=64, overlap=0)
    # 21 near-dups day-one's kept doc 13 -> dropped; 22 is fresh -> kept
    assert {r["doc_id"] for r in c2.select("doc_id").distinct().collect()} == {22}

    # empty-index bootstrap == plain curation of the increment
    empty_index = curation_band_index_seq(bd.where("doc_id < 0"), min_tokens=5)
    boot_chunks, _ = curate_increment_seq(nd, empty_index, min_tokens=5, chunk_tokens=64, overlap=0)
    want_boot = {r["doc_id"] for r in curate_corpus(nd, **kw).select("doc_id").distinct().collect()}
    assert {r["doc_id"] for r in boot_chunks.select("doc_id").distinct().collect()} == want_boot


def test_mixture_stage_blends_after_dedup(spark):
    """curate_corpus(mixture_weights=...) — the multi-source final
    blend: runs on the SURVIVORS (a near-dup's epochs are never
    spent), adds an `epoch` column, replicates every chunk identically
    per kept epoch, and matches mix_corpus applied to the same
    survivors exactly (the wiring contract). The pair/column guards
    fail fast."""
    import string

    import pytest as _pytest
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.curation import curate_corpus
    from ds_caselaw_ingester_spark.operators.mixture import mix_corpus

    def text(tag):
        return " ".join(f"m{tag}{c * 3}" for c in string.ascii_lowercase[:12])

    rows = [
        (1, "a", text("one")),
        (2, "a", text("two")),
        (3, "a", text("one")),   # near-dup of 1 -> dropped before blending
        (4, "b", text("three")),
        (5, "b", text("four")),
        (6, "b", "too short"),   # gated out
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kw = dict(min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=16, overlap=2)
    weights, budget = {"a": 0.7, "b": 0.3}, 1200

    plain = curate_corpus(docs, **kw)
    assert "epoch" not in plain.columns
    kept = {r["doc_id"] for r in plain.select("doc_id").distinct().collect()}
    assert kept == {1, 2, 4, 5}

    blended = curate_corpus(
        docs, mixture_weights=weights, mixture_budget=budget, **kw
    )
    assert "epoch" in blended.columns
    got = blended.collect()
    assert {r["doc_id"] for r in got} <= kept  # dropped docs never blended
    # exact wiring contract: epochs equal mix_corpus over the survivors'
    # curated char masses
    from ds_caselaw_ingester_spark.operators.curation import gate_documents

    curated_text = gate_documents(docs, "doc_id", "text", 8, 0.5)
    sized = curated_text.join(
        plain.select("doc_id").distinct(), "doc_id"
    ).select(
        "doc_id", F.length("text").alias("_n_chars")
    ).join(docs.select("doc_id", "source"), "doc_id")
    want = {
        (r["doc_id"], r["epoch"])
        for r in mix_corpus(
            sized, "doc_id", "source", "_n_chars", weights, budget
        ).collect()
    }
    assert {(r["doc_id"], r["epoch"]) for r in got} == want
    # every kept epoch carries the full identical chunk set
    per_doc_epoch = {}
    for r in got:
        per_doc_epoch.setdefault((r["doc_id"], r["epoch"]), set()).add(
            (r["chunk_index"], r["chunk_text"])
        )
    by_doc = {}
    for (d, _e), chunks in per_doc_epoch.items():
        by_doc.setdefault(d, []).append(chunks)
    assert all(len(set(map(frozenset, v))) == 1 for v in by_doc.values())

    with _pytest.raises(ValueError, match="together"):
        curate_corpus(docs, mixture_weights=weights, **kw)
    with _pytest.raises(ValueError, match="source"):
        curate_corpus(
            docs.drop("source"),
            mixture_weights=weights,
            mixture_budget=budget,
            **kw,
        )


def test_fused_gate_scan_matches_sequential_relational_gates(spark):
    """The round-11 fusion (VERDICT r10 #1/#2/#6): apply_quality_gates
    with ALL FOUR gates on keeps exactly the documents that pass each
    gate's RELATIONAL form (score_quality twice, repetition_profile
    caps, unigram_perplexity NULL-keeps rule) applied sequentially —
    the keep-set-equality done-criterion on a planted corpus where the
    repetition and LM gates each non-vacuously drop documents."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.curation import apply_quality_gates
    from ds_caselaw_ingester_spark.operators.quality_clf import (
        QualityModel,
        score_quality,
    )
    from ds_caselaw_ingester_spark.operators.repetition import repetition_profile
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        unigram_fit,
        unigram_perplexity,
    )

    base = [
        "the court held the appeal was dismissed with costs",
        "the appeal court dismissed the appeal and the costs order",
        "costs were held over while the court dismissed the appeal",
    ]
    rows = [(i, t) for i, t in enumerate(base)] + [
        (20, "zxqv kjwp qqzz vvkk zzzz xqxq glorp wibble"),   # high ppl
        (21, "spam ham " * 30),                                # repetition
        (22, "dup line\ndup line\ndup line\ndup line"),        # dup lines
        (23, ""),                                              # tokenless
        (24, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    all_ids = {r[0] for r in rows}

    wf = (
        spark.createDataFrame([(w,) for t in base for w in t.split()], "word string")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    lm = unigram_fit(wf, num_iters=2, max_piece_len=4, max_vocab=200)
    # hand-built classifier models: arbitrary-but-fixed hashed weights;
    # the fusion claim is keep-set EQUALITY, not classifier quality
    langid_m = QualityModel(
        dim=1 << 10, bias=0.4,
        weights={i: (0.8 if i % 3 else -0.6) for i in range(0, 1 << 10, 7)},
        feature="char", max_chars=512,
    )
    quality_m = QualityModel(
        dim=1 << 10, bias=0.3,
        weights={i: (0.5 if i % 2 else -0.7) for i in range(0, 1 << 10, 5)},
        feature="word",
    )
    caps = {"top_2gram_char_frac": 0.2, "dup_line_frac": 0.4,
            "dup_5gram_char_frac": 0.5}
    max_ppl = 60.0

    kept = {
        r["doc_id"]
        for r in apply_quality_gates(
            docs, "doc_id", "text",
            langid_model=langid_m, min_lang_p=0.5,
            repetition_caps=caps,
            quality_model=quality_m, min_quality_p=0.5,
            lm_logp=lm, max_ppl=max_ppl, lm_max_piece_len=4,
        ).collect()
    }

    # the relational expectation, gate by gate
    lang_ok = {
        r["doc_id"]
        for r in score_quality(docs, langid_m).collect()
        if r["quality_p"] >= 0.5
    }
    prof = {r["doc_id"]: r.asDict() for r in repetition_profile(
        docs, top_ns=(2,), dup_ns=(5,)
    ).collect()}
    rep_ok = {
        i for i, p in prof.items() if all(p[c] <= v for c, v in caps.items())
    }
    qual_ok = {
        r["doc_id"]
        for r in score_quality(docs, quality_m).collect()
        if r["quality_p"] >= 0.5
    }
    ppl = {r["doc_id"]: r["ppl"] for r in unigram_perplexity(
        docs, "doc_id", "text", lm, max_piece_len=4
    ).collect()}
    lm_ok = {i for i, p in ppl.items() if p is None or p <= max_ppl}

    want = lang_ok & rep_ok & qual_ok & lm_ok
    assert kept == want, (kept, want, lang_ok, rep_ok, qual_ok, lm_ok)
    # non-vacuity: the planted docs actually exercised their gates
    assert 21 not in rep_ok and 22 not in rep_ok
    assert 20 not in lm_ok
    assert 23 in lm_ok and 24 in lm_ok  # NULL ppl keeps
    assert kept and kept != all_ids


def test_fused_gate_scan_is_one_exchange_free_pass(spark):
    """All four gates fuse into ONE MapInPandas node with no Exchange —
    the 100 TB first-gates contract (previously: three separate Arrow
    passes plus id-keyed exchanges and join-backs for the repetition
    and LM gates)."""
    from ds_caselaw_ingester_spark.operators.curation import apply_quality_gates
    from ds_caselaw_ingester_spark.operators.quality_clf import QualityModel

    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "more words")], "doc_id long, text string"
    )
    m = QualityModel(dim=64, bias=0.0, weights={3: 0.5}, feature="char",
                     max_chars=256)
    q = QualityModel(dim=64, bias=0.0, weights={5: 0.5})
    out = apply_quality_gates(
        docs, "doc_id", "text",
        langid_model=m, min_lang_p=0.4,
        repetition_caps={"dup_line_frac": 0.9},
        quality_model=q, min_quality_p=0.4,
        lm_logp={"a": -1.0, "b": -2.0}, max_ppl=1e9,
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_semantic_stage_auto_k_follows_sizing_rule(spark):
    """semdedup_k defaults to 'auto' (round 11): k comes from the
    k ≈ n/cell_size rule applied to the SURVIVOR count, so the composite
    does not inherit the pinned-k quadratic the sf3 crossover measured
    (BENCH_SF1.md). On a corpus small enough that the rule clamps to its
    floor, auto must equal the explicitly-pinned floor k exactly; a
    bogus string must raise before any work runs."""
    import pytest

    from ds_caselaw_ingester_spark.operators.curation import curate_corpus
    from ds_caselaw_ingester_spark.operators.sizing import semdedup_num_clusters

    filler = "the quick brown fox jumps over a lazy dog near the river bank"
    rows = [
        (10, "a fast auburn canine leaps across an idle hound by a stream " + filler),
        (11, "a fast auburn canine leaps across an idle hound by a stream too " + filler),
        (12, "completely unrelated document about parquet row groups and shuffles " + filler),
        (13, "another unrelated document regarding watermark state eviction rules " + filler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = [1.0, 0.5, -0.25] * 8
    other = [-0.5, 1.0, 0.75] * 8
    emb = spark.createDataFrame(
        [(10, base), (11, [v * 1.001 for v in base]), (12, other), (13, [-v for v in other])],
        "doc_id long, embedding array<double>",
    )
    kwargs = dict(
        min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=64, overlap=0,
        embeddings=emb,
    )
    auto = sorted(
        (r.doc_id, r.chunk_index)
        for r in curate_corpus(docs, semdedup_k="auto", **kwargs).collect()
    )
    # survivors here are <= 4 docs -> the rule clamps to its floor
    floor_k = semdedup_num_clusters(4)
    pinned = sorted(
        (r.doc_id, r.chunk_index)
        for r in curate_corpus(docs, semdedup_k=floor_k, **kwargs).collect()
    )
    assert auto == pinned and auto  # same kept chunks, non-empty

    with pytest.raises(ValueError, match="semdedup_k"):
        curate_corpus(docs, semdedup_k="bogus", **kwargs).collect()


def test_gate_battery_validates_driver_side(spark):
    """Misconfigurations must fail at the driver before any work runs:
    a typo'd repetition cap (dup_0gram) previously profiled nothing and
    silently never dropped; an empty LM vocab previously failed
    per-document inside the executor scan; a bogus semdedup_k string
    previously surfaced only deep inside the embeddings branch."""
    import pytest

    from ds_caselaw_ingester_spark.operators.curation import (
        apply_quality_gates,
        curate_corpus,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="n >= 2"):
        apply_quality_gates(docs, repetition_caps={"dup_0gram_char_frac": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        apply_quality_gates(docs, lm_logp={})
    # entry validation fires even with NO embeddings frame (previously
    # silently ignored on that path)
    with pytest.raises(ValueError, match="semdedup_k"):
        curate_corpus(docs, semdedup_k="Auto")


def test_incremental_entries_self_defend_against_narrow_input(spark):
    """Round 12 (VERDICT r11 #4): the incremental production entries —
    curation_band_index_seq and curate_increment_seq — run
    the same map-heavy stages curate_corpus guards with
    spread_if_narrow, so each must produce IDENTICAL results on a
    1-partition frame and a pre-spread frame (the repartition is a
    pure perf guard, never semantics)."""
    from ds_caselaw_ingester_spark.operators.curation import (
        curate_increment_seq,
        curation_band_index_seq,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    base = _corpus(spark)
    inc_rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon " * 2),
        (11, "a wholly new increment document with plenty of unique "
             "tokens to clear the structural gate and band cleanly"),
    ]
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    narrow = _rows(curation_band_index_seq(base.coalesce(1)))
    wide = _rows(curation_band_index_seq(spread(base, "doc_id")))
    assert narrow == wide

    idx = curation_band_index_seq(base).localCheckpoint(eager=True)
    chunks_n, delta_n = curate_increment_seq(inc.coalesce(1), idx)
    chunks_w, delta_w = curate_increment_seq(spread(inc, "doc_id"), idx)
    assert _rows(chunks_n) == _rows(chunks_w)
    assert _rows(delta_n) == _rows(delta_w)


def test_gate_spec_broadcast_is_reused_across_calls(spark):
    """Round-12 review finding: one model-sized broadcast per
    apply_quality_gates call accumulates in executor block managers on
    a per-epoch streaming path — the spec broadcast must be REUSED for
    an identical gate config and evicted (unpersisted) past the cap."""
    from ds_caselaw_ingester_spark.operators import curation as C
    from ds_caselaw_ingester_spark.operators.quality_clf import QualityModel

    C._SPEC_BC_CACHE.clear()
    docs = spark.createDataFrame(
        [(1, "some text tokens here"), (2, "more words again")],
        "doc_id long, text string",
    )
    m = QualityModel(dim=64, bias=0.0, weights={3: 0.5}, feature="char",
                     max_chars=64)
    a = C.apply_quality_gates(docs, langid_model=m, min_lang_p=0.1)
    b = C.apply_quality_gates(docs, langid_model=m, min_lang_p=0.1)
    assert len(C._SPEC_BC_CACHE) == 1  # same config -> one broadcast
    assert a.count() == b.count() == 2
    m2 = QualityModel(dim=64, bias=0.1, weights={5: 0.2}, feature="word")
    C.apply_quality_gates(docs, quality_model=m2, min_quality_p=0.1).count()
    assert len(C._SPEC_BC_CACHE) == 2  # distinct config -> second entry
    C._SPEC_BC_CACHE.clear()


def test_gate_spec_broadcast_evicts_oldest_only(spark):
    """Round-12 review finding: at the cap the cache used to clear ALL
    entries — interleaved long-lived streams then re-broadcast each
    other's payloads every batch. Eviction must drop the OLDEST entry
    and keep the survivors' Broadcast objects identical."""
    from ds_caselaw_ingester_spark.operators import curation as C

    sc = spark.sparkContext
    C._SPEC_BC_CACHE.clear()
    payloads = [("spec", i) for i in range(C._SPEC_BC_CAP)]
    bcs = [C._broadcast_specs(sc, p) for p in payloads]
    assert len(C._SPEC_BC_CACHE) == C._SPEC_BC_CAP
    # one over the cap: only the OLDEST is evicted
    extra = C._broadcast_specs(sc, ("spec", "extra"))
    assert len(C._SPEC_BC_CACHE) == C._SPEC_BC_CAP
    survivors = [C._broadcast_specs(sc, p) for p in payloads[1:]]
    for want, got in zip(bcs[1:], survivors):
        assert want is got  # survivors still cached, not re-broadcast
    assert C._broadcast_specs(sc, ("spec", "extra")) is extra
    # the evicted oldest re-broadcasts under a NEW Broadcast object
    assert C._broadcast_specs(sc, payloads[0]) is not bcs[0]
    C._SPEC_BC_CACHE.clear()


def test_gate_spec_broadcast_eviction_is_lru_not_fifo(spark):
    """ADVICE r13: eviction was FIFO — a hit never refreshed recency,
    so the earliest-INSERTED but still-hot stream's broadcast was the
    one evicted at the cap. A cache hit now moves the entry to the
    back: after re-touching the oldest entry, inserting one-over-cap
    must evict the second-oldest instead."""
    from ds_caselaw_ingester_spark.operators import curation as C

    sc = spark.sparkContext
    C._SPEC_BC_CACHE.clear()
    payloads = [("lru", i) for i in range(C._SPEC_BC_CAP)]
    bcs = [C._broadcast_specs(sc, p) for p in payloads]
    # HIT the oldest: recency refreshed
    assert C._broadcast_specs(sc, payloads[0]) is bcs[0]
    # one over the cap: the still-hot oldest survives, #1 is evicted
    C._broadcast_specs(sc, ("lru", "extra"))
    assert C._broadcast_specs(sc, payloads[0]) is bcs[0]
    assert C._broadcast_specs(sc, payloads[1]) is not bcs[1]
    C._SPEC_BC_CACHE.clear()
