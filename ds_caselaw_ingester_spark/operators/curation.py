"""End-to-end corpus curation: scrub -> quality gate -> near-dup
keep-one -> chunk, composed from the pipeline's individual operators.

This is the composition a pre-training data pipeline actually runs, and
the reason the individual operators share conventions (one whitespace
tokenization, id-keyed frames, map-side projections wherever possible):

1. PII scrub (operators/scrub.py) — pure projection.
2. Quality gate — alpha ratio / token count thresholds from the same
   expressions text_profile registers; a map-side filter, evaluated on
   the SCRUBBED text so redaction tokens count like any other token.
3. Near-dup dedup — MinHash-LSH pairs -> connected components ->
   canonical keep-one (operators/dedup.py + cluster.py). Only the
   canonical representative of each near-dup cluster survives.
4. Chunking (operators/chunking.py) — overlapping token windows over
   the surviving documents.

Scale shape: stages 1-2 never shuffle; stage 3 is the bounded dedup
pipeline (pairs ≪ corpus); stage 4 is a map-side explode. The join
keeping survivors is id-only (the text rides the original frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.chunking import chunk_documents
from ds_caselaw_ingester_spark.operators.cluster import canonical_assignment
from ds_caselaw_ingester_spark.operators.dedup import (
    doc_shingles,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ds_caselaw_ingester_spark.operators.scrub import scrub_text
from ds_caselaw_ingester_spark.operators.textstats import alpha_ratio, tokens

SEQ_COL = "_seq"
_UNSET = object()  # distinguishes "not passed" from an explicit None

# (applicationId, payload-md5) -> Broadcast: gate-spec broadcasts reused
# across apply_quality_gates calls (see the call site for why)
_SPEC_BC_CACHE: "dict[tuple, object]" = {}
_SPEC_BC_CAP = 8
# foreachBatch callbacks from multiple concurrent streaming queries run
# on different JVM-callback threads; the lock makes check-then-insert
# atomic so two threads racing on the same payload don't each broadcast
# (and so eviction never interleaves with an insert).
_SPEC_BC_LOCK = __import__("threading").Lock()


def _broadcast_specs(sc, specs):
    import hashlib
    import pickle

    key = (sc.applicationId, hashlib.md5(pickle.dumps(specs)).hexdigest())
    with _SPEC_BC_LOCK:
        bc = _SPEC_BC_CACHE.get(key)
        if bc is not None:
            # LRU, not FIFO: refresh recency on hit so a still-hot
            # long-lived stream's payload isn't the one evicted just
            # because it was inserted first.
            _SPEC_BC_CACHE.pop(key)
            _SPEC_BC_CACHE[key] = bc
        if bc is None:
            # Evict OLDEST-first (dicts preserve insertion order) rather
            # than clearing the whole cache: interleaved long-lived
            # streams at the cap would otherwise re-broadcast each
            # other's payloads on every batch.
            while len(_SPEC_BC_CACHE) >= _SPEC_BC_CAP:
                oldest_key = next(iter(_SPEC_BC_CACHE))
                old = _SPEC_BC_CACHE.pop(oldest_key)
                try:
                    old.unpersist()
                except Exception:  # noqa: BLE001 — stopped context etc.
                    pass
            bc = sc.broadcast(specs)
            _SPEC_BC_CACHE[key] = bc
    return bc


def _scrub(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(F.col(id_col), scrub_text(F.col(text_col)).alias(text_col))


def _structural_gate(
    scrubbed: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    min_alpha_ratio: float,
) -> DataFrame:
    """The core structural gate — ONE definition shared by the batch
    composite and the incremental path, so their keep decisions cannot
    drift (the incremental equivalence contract depends on it)."""
    tok = tokens(F.col(text_col))
    return scrubbed.where(
        (F.size(tok) >= min_tokens)
        & (alpha_ratio(F.col(text_col)) >= min_alpha_ratio)
    )


def gate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """scrub + structural gate, the shared front half of every curation
    path (batch composite, incremental API, streaming sink) — ONE
    definition so keep decisions cannot drift across them."""
    return _structural_gate(
        _scrub(docs, id_col, text_col), id_col, text_col, min_tokens, min_alpha_ratio
    )


def apply_quality_gates(
    gated: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langid_model=None,
    min_lang_p: float = 0.5,
    repetition_caps: "dict[str, float] | None" = None,
    quality_model=None,
    min_quality_p: float = 0.5,
    lm_logp: "dict[str, float] | None" = None,
    max_ppl: float = 1e6,
    lm_max_piece_len: int = 6,
) -> DataFrame:
    """The per-document quality gates (language identification, Gopher
    repetition caps, learned quality classifier, CCNet-style LM
    perplexity), ONE definition shared by the batch composite, the
    incremental APIs, and the streaming sink — each gate is a pure
    per-document function, so applying it to an increment is trivially
    recompute-equivalent, and sharing the definition keeps stream and
    nightly keep decisions from drifting (the _structural_gate rule,
    extended). Gates compose after the cheap structural gate and before
    banding: a doc any gate drops is never indexed. Semantics per gate
    are documented on curate_corpus (which forwards here).

    EXECUTION (round 11): ONE fused Arrow mapInPandas pass scores every
    enabled gate row-locally and emits only the survivors — no exchange,
    no join-back, no checkpoint workaround, and a single Arrow
    serialization round-trip however many gates are on. The pass is
    LAZY like any map: a caller fanning the survivors into multiple
    consumers must materialize ONCE (localCheckpoint/persist) or each
    action replays the whole scoring scan — curate_corpus and the
    incremental/seq paths all do. Each gate's
    row-local engine is a BATCH ENGINE (round 12: make_batch_scorer /
    make_batch_profiler / make_batch_perplexity) producing values
    bit-identical to the pure-Python replays the parity tests pin
    (py_score, py_repetition_profile, py_doc_perplexity) while
    amortizing the per-document constants across the partition — md5
    gram-hash memo, per-word Viterbi memo, tuple-gram counting, ONE
    tokenization shared by all gates — measured 5-6x (paired windows)
    on the full four-gate battery over 50k sf1 docs (docs/SCALE.md
    round 12). The keep set equals the relational forms'
    post-rounding — pinned per gate in
    tests/test_langid.py, test_repetition.py, test_unigram_lm.py, and
    for the fusion in test_curation_pipeline.py. The relational forms
    (score_quality, repetition_profile, unigram_perplexity) remain the
    DuckDB-oracle paths. At 100 TB this is the difference between a
    read-only map over the corpus and (previously) id-keyed
    explode/groupBy exchanges carrying ~(grams + lines + tokens) rows
    per document for the repetition and LM gates — docs/SCALE.md
    records the composite before/after.

    Gate ORDER is the CCNet pipeline's, short-circuited PER DOCUMENT:
    langid first (the cheapest learned gate and the biggest filter on a
    web-scale corpus — no point profiling repetition in a document the
    pipeline won't keep), then repetition caps, then the quality
    classifier, then the LM."""
    import re

    enabled = (
        langid_model is not None
        or bool(repetition_caps)
        or quality_model is not None
        or lm_logp is not None
    )
    if not enabled:
        return gated
    if text_col not in gated.columns:
        raise ValueError(f"{text_col!r} is not a column of the input frame")

    # (kind, payload) specs in CCNet order; payloads are plain
    # dicts/scalars (a closure-minimal convention) — models are
    # reconstructed inside the worker
    specs: "list[tuple[str, tuple]]" = []

    def _clf_spec(model, threshold: float) -> "tuple[str, tuple]":
        return (
            "clf",
            (
                model.dim,
                model.bias,
                dict(model.weights),
                getattr(model, "feature", "word"),
                getattr(model, "max_chars", None),
                float(threshold),
            ),
        )

    if langid_model is not None:
        specs.append(_clf_spec(langid_model, min_lang_p))
    if repetition_caps:
        # profile ONLY the gram sizes a cap references (computing the
        # default (5, 10) coverage for a caller capping dup_line_frac
        # is per-document work for signals immediately discarded)
        top_ns = tuple(
            sorted(
                int(m.group(1))
                for c in repetition_caps
                if (m := re.fullmatch(r"top_(\d+)gram_char_frac", c))
            )
        )
        dup_ns = tuple(
            sorted(
                int(m.group(1))
                for c in repetition_caps
                if (m := re.fullmatch(r"dup_(\d+)gram_char_frac", c))
            )
        )
        known = {
            "n_lines", "dup_line_frac", "dup_line_char_frac",
            "n_paras", "dup_para_frac", "dup_para_char_frac",
        } | {f"top_{n}gram_char_frac" for n in top_ns} | {
            f"dup_{n}gram_char_frac" for n in dup_ns
        }
        unknown = set(repetition_caps) - known
        if unknown:
            raise ValueError(f"unknown repetition_caps columns: {sorted(unknown)}")
        bad_ns = sorted(n for n in (*top_ns, *dup_ns) if n < 2)
        if bad_ns:
            # the relational forms raise "repetition n-grams need n >= 2";
            # without this check a typo'd cap (dup_0gram_char_frac) would
            # silently profile nothing and the filter would never drop
            raise ValueError(
                f"repetition_caps reference n-gram sizes {bad_ns}; "
                "repetition n-grams need n >= 2"
            )
        caps = sorted((c, float(v)) for c, v in repetition_caps.items())
        specs.append(("rep", (caps, top_ns, dup_ns)))
    if quality_model is not None:
        specs.append(_clf_spec(quality_model, min_quality_p))
    if lm_logp is not None:
        if not lm_logp:
            raise ValueError(
                "lm_logp must be a non-empty trained vocab (unigram_fit "
                "output); an empty dict would fail per-document inside "
                "the executor scan"
            )
        # hoist the OOV floor ONCE: py_doc_perplexity's default rescans
        # min(logp.values()) per document — pure waste over a corpus
        specs.append((
            "lm",
            (
                dict(lm_logp),
                float(max_ppl),
                int(lm_max_piece_len),
                min(float(v) for v in lm_logp.values()),
            ),
        ))

    # sc.broadcast, not closure capture: the specs embed the LM vocab
    # and classifier weight dicts — MBs for a real vocab — and a
    # closure-captured payload is re-pickled into EVERY task launch,
    # while a broadcast ships once per executor and the closure carries
    # only the handle (the codebook/LUT convention elsewhere in the
    # repo). Size bound: the payload is model-sized (vocab cap ×
    # piece strings + dim-bounded weights), never corpus-sized. The
    # broadcast is REUSED across calls with the same gate config
    # (keyed by payload fingerprint): the streaming sink runs this
    # per micro-batch, and one fresh model-sized broadcast per epoch
    # would accumulate in executor block managers between GC cycles
    # (review finding, round 12) — the cache caps at a handful of
    # configs and unpersists evictees (a still-referenced evictee is
    # re-sent on use; unpersist, never destroy).
    bc_specs = _broadcast_specs(gated.sparkSession.sparkContext, specs)

    def _gate_scan(batches):
        import numpy as np

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
        )

        # one BATCH ENGINE per gate per partition (round 12): each is
        # the pure-function replay its parity tests pin, with the
        # cross-document amortizations (md5 gram-hash memo, per-word
        # Viterbi memo, tuple-gram counting) living for the whole
        # partition — see each factory's docstring for why the values
        # are bit-identical to the per-document replays
        gates = []
        for kind, p in bc_specs.value:
            if kind == "clf":
                dim, bias, weights, feature, max_chars, thr = p
                scorer = make_batch_scorer(
                    QualityModel(
                        dim=dim, bias=bias, weights=weights,
                        feature=feature, max_chars=max_chars,
                    )
                )
                gates.append(("clf", scorer, thr))
            elif kind == "rep":
                caps_, tns, dns = p
                gates.append(("rep", make_batch_profiler(tns, dns), caps_))
            else:  # lm
                logp, cap, mpl, floor = p
                gates.append(
                    ("lm", make_batch_perplexity(logp, mpl, floor), cap)
                )

        def _keep(text) -> bool:
            t = text if isinstance(text, str) else ""
            # tokenize ONCE per document, feed every gate (each gate's
            # standalone replay tokenizes for itself; fused, the split
            # is shared — py_tokens is part of every pinned signature)
            toks = py_tokens(t)
            for kind, fn, arg in gates:
                if kind == "clf":
                    if fn(t, toks) < arg:
                        return False
                elif kind == "rep":
                    prof = fn(t, toks)
                    for col, cap in arg:
                        if not prof[col] <= cap:
                            return False
                else:  # lm
                    if (ppl := fn(t, toks)["ppl"]) is not None and ppl > arg:
                        return False
            return True

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = np.fromiter(
                (_keep(t) for t in pdf[text_col]), dtype=bool, count=len(pdf)
            )
            yield pdf[mask]

    return gated.mapInPandas(_gate_scan, gated.schema)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_alpha_ratio: float = 0.5,
    chunk_tokens: int = 128,
    overlap: int = 16,
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    embeddings: DataFrame | None = None,
    semdedup_threshold: float = 0.95,
    semdedup_k: "int | str" = "auto",
    lm_logp: "dict[str, float] | None" = None,
    max_ppl: float = 1e6,
    lm_max_piece_len: int = 6,
    repetition_caps: "dict[str, float] | None" = None,
    quality_model=None,
    min_quality_p: float = 0.5,
    benchmark_embeddings: DataFrame | None = None,
    semantic_decontam_threshold: float = 0.95,
    dsir_target: DataFrame | None = None,
    dsir_keep: int = 0,
    dsir_buckets: int = 10_000,
    boilerplate_min_df: "int | None" = None,
    mixture_weights: "dict[str, float] | None" = None,
    mixture_budget: int = 0,
    source_col: str = "source",
    keeper_score_col: "str | None" = None,
    langid_model=None,
    min_lang_p: float = 0.5,
    pca_model: "dict | None" = None,
) -> DataFrame:
    """(id, chunk_index, chunk_text, n_chunk_tokens) for the curated
    corpus: scrubbed text, quality-gated, optionally decontaminated
    against a benchmark set, one canonical document per near-dup
    cluster, optionally SEMANTICALLY deduplicated, chunked.
    Deterministic end to end — a rerun produces identical chunks.

    benchmark: optional frame with a `text_col` column; documents
    sharing any word `decontam_n`-gram with it are DROPPED before
    dedup (operators/decontam.py — broadcast probe on the RAW text,
    before scrubbing, so redaction tokens cannot mask an overlap).

    embeddings: optional (id_col, embedding array<double>) frame; after
    the LEXICAL keep-one, survivors run SemDeDup
    (operators/semdedup.py) — paraphrases and re-encodes that share no
    n-grams but sit within `semdedup_threshold` cosine collapse to the
    paper's least-centroid-similar exemplar. The quantizer trains on
    the survivors' own embeddings (3 Lloyd rounds, deterministic
    init) — the stages compose, they don't share hidden state.
    semdedup_k defaults to "auto": k follows the k ≈ n/cell_size rule
    (operators/sizing.py) from the SURVIVOR count, so the in-cell pair
    search stays linear as the corpus grows instead of quadratic under
    a pinned k (the sf3 crossover measured in BENCH_SF1.md round 11);
    pass an int to pin it (oracle replays do). Runs after lexical
    dedup on purpose: lexical pairs are cheaper per candidate, so the
    embedding stage sees an already-shrunk corpus.

    keeper_score_col: optional column ON THE INPUT docs frame; when
    set, each lexical near-dup cluster keeps its highest-scoring
    member (ties -> min id; unscored members lose to scored ones)
    instead of the min-id canonical — keep the best copy, not an
    arbitrary one. Batch-only: the incremental/streaming paths
    deliberately reject this rule (see the inline note at the
    assignment stage).

    lm_logp: optional trained unigram-LM vocab (unigram_fit output);
    documents whose perplexity under it exceeds `max_ppl` are dropped
    at the quality gate - the CCNet-style LM filter
    (operators/unigram_lm.py unigram_perplexity), composed after the
    cheap structural gates so the Viterbi pass sees only structurally
    plausible survivors. lm_max_piece_len MUST match the value the
    model was trained and the cutoff calibrated with (a narrower
    window than training systematically inflates scores near the
    threshold). Documents the LM cannot score (no tokens -> NULL ppl)
    are KEPT - the gate's only documented drop condition is
    ppl > max_ppl; structural gates own the empty-doc decision.

    repetition_caps: optional {repetition_profile column -> max value}
    (e.g. {"dup_line_frac": 0.3, "top_2gram_char_frac": 0.2} — the
    Gopher Table A1 filter thresholds); documents exceeding ANY cap are
    dropped after the structural gate.

    quality_model: optional trained QualityModel
    (operators/quality_clf.py); documents scoring below min_quality_p
    are dropped — the GPT-3-style learned quality filter, composed
    after the cheap structural gates like the LM gate.

    langid_model + min_lang_p: optional language-identification gate —
    a QualityModel trained with feature="char" (hashed char-n-gram
    logistic regression, the fastText-langid architecture; label 1 =
    target language); documents scoring below min_lang_p are dropped
    FIRST among the learned gates, the CCNet pipeline's stage order.
    Pure per-document function like every other gate, so all three
    curation paths (batch, incremental, streaming sink) apply it
    identically through apply_quality_gates.

    benchmark_embeddings: optional (id_col-compatible id, embedding)
    frame of BENCHMARK vectors; requires `embeddings` for the corpus
    side. Documents whose embedding clears
    `semantic_decontam_threshold` cosine against any benchmark vector
    are DROPPED alongside the n-gram decontamination pass — the
    paraphrase-level overlap the exact-gram check cannot see.
    Documents with no embedding row cannot be judged and survive,
    matching the SemDeDup stage's documented convention.

    pca_model: optional pca_fit output; when set, the SemDeDup stage
    projects the survivors' embeddings map-side (operators/pca.py
    pca_project — plan-literal matrix, no shuffle) before quantizer
    training and the pair search, cutting the stage's shuffled bytes
    by dim/k with the module's measured recall trade. Pure
    deterministic map, so the composite with (raw embeddings +
    pca_model) equals the composite fed pre-projected embeddings.

    boilerplate_min_df: optional paragraph-level boilerplate cut
    (operators/dedup.py common_paragraphs + strip_common_paragraphs)
    applied right after scrubbing, BEFORE the structural gates — so a
    document that is mostly cookie-banner/footer is judged on its real
    content (and dropped if nothing real remains), and the lexical
    dedup downstream never clusters documents on shared boilerplate.

    dsir_target + dsir_keep: optional FINAL selection — after every
    gate and both dedup stages, keep the `dsir_keep` surviving
    documents whose hashed-n-gram profile best matches `dsir_target`
    (operators/dsir.py, Xie 2023 importance resampling with
    hash-derived Gumbel noise, so the selection stays a pure function
    of the data). Runs LAST on purpose: selection quotas should spend
    on unique, clean documents, not on duplicates the next stage would
    have removed. dsir_keep larger than the survivor count keeps
    everything (Gumbel top-k over n ≤ k rows is the identity).

    mixture_weights + mixture_budget: optional multi-source BLEND after
    everything above (operators/mixture.py mix_corpus) — the input
    `docs` must carry `source_col`; the per-source char masses are
    measured on the SURVIVORS' scrubbed text (a mixture planned on the
    raw corpus would over-count the mass that dedup/gating removed),
    sources are up/down-sampled to the char budget with deterministic
    hash-gated epochs, and the output gains an `epoch` column (chunks
    are computed ONCE per document and replicated per epoch by an
    id-keyed join — never re-chunked). Runs after DSIR: selection
    decides WHICH documents, mixture decides HOW OFTEN the trainer
    sees them. Weights and a positive budget must be passed together,
    like the DSIR pair."""
    if benchmark_embeddings is not None and embeddings is None:
        raise ValueError("benchmark_embeddings requires the corpus `embeddings` frame")
    if (mixture_weights is not None) != (mixture_budget > 0):
        raise ValueError(
            "mixture_weights and mixture_budget > 0 must be passed "
            "together (weights without a budget, or a budget without "
            "weights, would silently blend nothing)"
        )
    if mixture_weights is not None and source_col not in docs.columns:
        raise ValueError(
            f"mixture needs a `{source_col}` column on the input docs"
        )
    if isinstance(semdedup_k, str) and semdedup_k != "auto":
        # driver-side and input-independent: fail HERE, not hours into
        # the job after decontam/gates/banding/CC have already run
        raise ValueError(
            f"semdedup_k must be an int or 'auto', got {semdedup_k!r}"
        )
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # Production entry for an UNSEEN frame: a single-file corpus plans as
    # 1-2 partitions, and the fused Arrow gate scan below — the stage
    # that touches every byte — would serialise on 1-2 cores. No-op when
    # the scan is already wide (the real-scale case); results are
    # partitioning-invariant either way (pinned in
    # tests/test_curation_pipeline.py).
    docs = spread_if_narrow(docs, id_col)
    if benchmark is not None:
        from ds_caselaw_ingester_spark.operators.decontam import decontaminate

        verdict = decontaminate(
            docs, benchmark, id_col, text_col, bench_text_col=text_col, n=decontam_n
        )
        docs = docs.join(
            verdict.where(~F.col("is_contaminated")).select(id_col), id_col
        )
    if benchmark_embeddings is not None:
        from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

        sem_flags = semantic_decontam(
            docs.select(id_col).join(embeddings, id_col).select(
                id_col, F.col("embedding").alias("_v")
            ),
            benchmark_embeddings,
            threshold=semantic_decontam_threshold,
            id_col=id_col,
            vec_col="_v",
            bench_id_col=benchmark_embeddings.columns[0],
            bench_vec_col="embedding",
        )
        docs = docs.join(
            sem_flags.where(F.col("contaminated")).select(id_col),
            id_col,
            "left_anti",
        )
    scrubbed = _scrub(docs, id_col, text_col)
    if boilerplate_min_df is not None:
        from ds_caselaw_ingester_spark.operators.dedup import (
            common_paragraphs,
            strip_common_paragraphs,
        )

        census = common_paragraphs(
            scrubbed, id_col, text_col, min_doc_freq=boilerplate_min_df
        )
        # checkpoint the stripped frame: it feeds EVERY downstream
        # consumer (the gates, shingling, the spine joins, chunking),
        # and without truncation each action replays the census
        # aggregation and the strip explode+join — the same lineage
        # hazard this file documents at the semdedup and DSIR stages
        scrubbed = (
            strip_common_paragraphs(scrubbed, id_col, text_col, census)
            .select(F.col("doc_id").alias(id_col), F.col("text").alias(text_col))
            .localCheckpoint(eager=True)
        )
    gated = apply_quality_gates(
        _structural_gate(scrubbed, id_col, text_col, min_tokens, min_alpha_ratio),
        id_col,
        text_col,
        langid_model=langid_model,
        min_lang_p=min_lang_p,
        repetition_caps=repetition_caps,
        quality_model=quality_model,
        min_quality_p=min_quality_p,
        lm_logp=lm_logp,
        max_ppl=max_ppl,
        lm_max_piece_len=lm_max_piece_len,
    )
    if (
        langid_model is not None
        or repetition_caps
        or quality_model is not None
        or lm_logp is not None
    ):
        # the fused gate scan has >= 3 downstream consumers (banding,
        # keeper assignment, the keepers join); without materialization
        # each action replays the whole per-document scoring pass — the
        # guarantee the pre-fusion LM shortlist checkpoint used to give
        # (review finding, round 11). The stage forces eager jobs
        # anyway, so this changes no laziness contract.
        gated = gated.localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(_bands(gated, id_col, text_col), id_col)
    if keeper_score_col is not None:
        # quality-aware keep-one: each near-dup component keeps its
        # arg-max-score member (operators/cluster.py quality_keep_one)
        # instead of the min id — the components are identical, only
        # the representative changes. BATCH-ONLY by design: the
        # incremental APIs (curate_increment*) and the streaming sink
        # keep the canonical-min rule because their recompute-
        # equivalence contract needs every component's keeper to stay
        # in the base by construction — a min-key keeper can never be
        # displaced by a later arrival under a monotone key, while a
        # score-max keeper can (a better copy arriving tomorrow would
        # have to retract today's keeper's chunks). Scores are read
        # from the INPUT frame so gating cannot change them; gated
        # docs missing a score degrade to the min-id rule per
        # quality_keep_one's NULL contract.
        if keeper_score_col not in docs.columns:
            raise ValueError(
                f"keeper_score_col {keeper_score_col!r} is not a column "
                "of the input docs frame"
            )
        from ds_caselaw_ingester_spark.operators.cluster import quality_keep_one

        assignment = quality_keep_one(
            gated.select(id_col).join(
                docs.select(id_col, keeper_score_col), id_col, "left"
            ),
            pairs,
            id_col=id_col,
            score_col=keeper_score_col,
        )
    else:
        assignment = canonical_assignment(gated, pairs, id_col=id_col)
    keepers = gated.join(
        assignment.where(~F.col("is_duplicate")).select(id_col), id_col
    )
    if embeddings is not None:
        from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup
        from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

        # The semantic stage reads `keepers` many times (the survivor
        # count, quantizer training's init + per-round aggregations,
        # semantic_dedup's scans, and the final chunking) — without a
        # checkpoint each read replays the WHOLE lexical-dedup lineage
        # (shingle -> minhash -> banding -> connected components), the
        # most expensive part of the job, ~4x over (review finding).
        # The stage forces eager jobs anyway (counts/collects), so the
        # checkpoint changes no laziness contract for callers.
        keepers = keepers.localCheckpoint(eager=True)
        vecs = keepers.select(id_col).join(embeddings, id_col).select(
            id_col, F.col("embedding").cast("array<double>").alias("_v")
        )
        if pca_model is not None:
            from ds_caselaw_ingester_spark.operators.pca import pca_project

            # map-side projection BEFORE the semantic stage: quantizer
            # training and the cell-bounded pair search then shuffle
            # k-dim vectors instead of dim-dim (the pca.py 4× cut).
            # Deterministic pure map, so recompute-equivalence holds by
            # construction: this composite with (raw embeddings +
            # pca_model) is definitionally identical to the same
            # composite fed pre-projected embeddings — pinned in
            # tests/test_pca.py. The dedup DECISIONS are made in the
            # projected space; the recall trade is the module's
            # measured contract.
            vecs = pca_project(vecs, "_v", pca_model, out_col="_p").select(
                id_col, F.col("_p").alias("_v")
            )
        n_vecs = vecs.count()
        if n_vecs:
            if semdedup_k == "auto":
                # the k ≈ n/cell_size rule (operators/sizing.py): a
                # PINNED k makes the in-cell pair search quadratic in
                # corpus growth — measured 62.3 s (k=16) vs 23.2 s
                # (auto k=60) on the same 60k-vector corpus
                # (BENCH_SF1.md round 11). Deterministic given the
                # corpus: k is a pure function of the survivor count.
                from ds_caselaw_ingester_spark.operators.sizing import (
                    semdedup_num_clusters,
                )

                k = min(semdedup_num_clusters(n_vecs), n_vecs)
            elif isinstance(semdedup_k, str):
                raise ValueError(
                    f"semdedup_k must be an int or 'auto', got {semdedup_k!r}"
                )
            else:
                k = min(semdedup_k, n_vecs)
            cents = kmeans_fit(
                vecs, "_v", id_col, k=k, max_iter=3, tol=0.0, round_centroids=6
            )
            sem = semantic_dedup(
                vecs, "_v", id_col, cents, threshold=semdedup_threshold
            )
            # anti-join on CONFIRMED duplicates: a document with no
            # embedding row cannot be semantically judged and survives
            keepers = keepers.join(
                sem.where(F.col("is_duplicate")).select(id_col), id_col, "left_anti"
            )
    if (dsir_target is not None) != (dsir_keep > 0):
        raise ValueError(
            "dsir_target and dsir_keep > 0 must be passed together "
            "(a target without a quota, or a quota without a target, "
            "would silently select nothing)"
        )
    if dsir_target is not None:
        from ds_caselaw_ingester_spark.operators.dsir import dsir_select

        if embeddings is None:
            # the semdedup branch already truncated the lexical-dedup
            # lineage; without it, the three consumers below (the DSIR
            # featurize, its spine join, and the final chunk scan) would
            # each replay shingle -> minhash -> banding -> CC — the same
            # ~4x hazard documented above (review-found)
            keepers = keepers.localCheckpoint(eager=True)
        picked = dsir_select(
            keepers,
            dsir_target.select(F.col(id_col), F.col(text_col)),
            dsir_keep,
            id_col=id_col,
            text_col=text_col,
            num_buckets=dsir_buckets,
        )
        keepers = keepers.join(picked.select(id_col), id_col)
    chunks = chunk_documents(
        keepers, id_col, text_col, chunk_tokens=chunk_tokens, overlap=overlap
    )
    if mixture_weights is not None:
        from ds_caselaw_ingester_spark.operators.mixture import mix_corpus

        # char mass measured on the SURVIVORS' curated text; source
        # re-attached from the original frame (the scrub projection
        # dropped it). Chunks replicate per epoch via an id-keyed join
        # — each document chunks exactly once however often the blend
        # repeats it.
        sized = keepers.select(
            F.col(id_col), F.length(F.col(text_col)).alias("_n_chars")
        ).join(docs.select(F.col(id_col), F.col(source_col)), id_col)
        blended = mix_corpus(
            sized, id_col, source_col, "_n_chars", mixture_weights, mixture_budget
        )
        chunks = chunks.join(blended.select(id_col, "epoch"), id_col)
    return chunks


def _bands(gated: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """shingle → minhash → LSH bands, ONE definition: the persisted
    index and every probe must band identically or the equi-join
    silently finds nothing (same drift rationale as _structural_gate)."""
    return lsh_bands(
        minhash_signatures(doc_shingles(gated, id_col, text_col), id_col), id_col
    )


def _seq_bands(gated: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _seq, band, band_key) for gated documents that carry SEQ_COL:
    banded on the ingest sequence, with the id joined back on. ONE
    definition for the batch index, the batch increment and the
    streaming sink, so every index row and every probe row has the same
    shape."""
    return (
        _bands(gated, SEQ_COL, text_col)
        .join(gated.select(id_col, SEQ_COL), SEQ_COL)
        .select(id_col, SEQ_COL, "band", "band_key")
    )


def _increment_core(
    gated: DataFrame,
    new_bands: DataFrame,
    band_index: DataFrame,
    mx,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    overlap: int,
) -> DataFrame:
    """The increment keep decision, shared by curate_increment_seq, the
    streaming sink and its rebuild: probe the index on (band, band_key),
    split pairs into base-touching vs new-new on the base's max ingest
    sequence `mx`, run connected components over new-new, drop tainted
    components whole, chunk the keepers. All frames carry SEQ_COL, and
    every base seq is below every new one (the callers assign new seqs
    from mx + 1).

    The index is probed DIRECTLY, with no anti-join dropping a re-sent
    id's earlier rows: a re-sent id is a new arrival (a new seq) that
    must still pair with its earlier self (curate_increment_seq's
    re-sent-id rule), and such an anti-join would cost an O(index) pass
    per increment."""
    old = band_index.select(F.col(SEQ_COL).alias("_old_id"), "band", "band_key")
    nv = new_bands.select(F.col(SEQ_COL).alias("_new_id"), "band", "band_key")
    cross = (
        nv.join(old, ["band", "band_key"])
        .select(
            F.least(F.col("_old_id"), F.col("_new_id")).alias("doc_a"),
            F.greatest(F.col("_old_id"), F.col("_new_id")).alias("doc_b"),
        )
    )
    pairs = (
        cross.unionAll(
            lsh_candidate_pairs(new_bands.select(SEQ_COL, "band", "band_key"), SEQ_COL)
        ).distinct()
    ).localCheckpoint(eager=True)  # split two ways below
    # seqs <= the indexed max are base docs; an EMPTY index has no max
    # and therefore no base side at all — an explicit branch, not a
    # numeric sentinel
    if mx is None:
        base_hit = pairs.select(F.col("doc_b").alias(SEQ_COL)).limit(0)
        new_new = pairs
    else:
        base_hit = (
            pairs.where(F.col("doc_a") <= F.lit(mx))
            .select(F.col("doc_b").alias(SEQ_COL))
            .distinct()
        )
        new_new = pairs.where(F.col("doc_a") > F.lit(mx))
    assignment = canonical_assignment(gated, new_new, id_col=SEQ_COL)
    tainted = (
        assignment.join(base_hit, SEQ_COL)
        .select(F.col("component").alias("_tc"))
        .distinct()
    )
    keep_keys = (
        assignment.where(~F.col("is_duplicate"))
        .join(tainted, assignment["component"] == F.col("_tc"), "left_anti")
        .select(SEQ_COL)
    )
    keepers = gated.join(keep_keys, SEQ_COL)
    return chunk_documents(
        keepers, id_col, text_col, chunk_tokens=chunk_tokens, overlap=overlap
    )


def _assign_seq(gated: DataFrame, id_col: str, start: int) -> DataFrame:
    """Deterministic surrogate ingest sequence for one increment: the
    global rank of the id within the increment, offset by the base's
    max seq + 1. Within-increment order is an arbitrary deterministic
    choice (any total order yields a valid canonical rule); id order
    makes it engine-replayable.

    Computed WITHOUT the single-partition global window: the increment
    range-partitions on id (disjoint, ordered ranges), per-partition
    counts cross to the driver (one row per partition), and each row's
    seq is its partition's cumulative offset plus its rank WITHIN the
    partition. Range disjointness makes the composition equal the
    global rank whatever boundaries the range sampler picks, so the
    result is deterministic even though the partitioning isn't. Ids
    must be unique within the increment (both callers' documented
    precondition — a duplicated id would get two seqs)."""
    from pyspark.sql import Window

    spark = gated.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = gated.repartitionByRange(p, F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # a localCheckpoint pins the (sampled, nondeterministic) partition
    # boundaries so the count pass and the rank pass see the SAME
    # layout — without it the two passes could re-sample differently
    # and offsets would not match partitions (seqs still globally
    # correct only if they agree)
    ranged = ranged.localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        # an empty increment: nothing to number, and an empty offset
        # map cannot be indexed by the int partition id
        return ranged.withColumn(SEQ_COL, F.lit(None).cast("long")).drop("_pid")
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(F.col(id_col))
    return ranged.withColumn(
        SEQ_COL,
        (
            F.lit(start)
            - 1
            + off[F.col("_pid")]
            + F.row_number().over(w)
        ).cast("long"),
    ).drop("_pid")


def curation_band_index_seq(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_alpha_ratio: float = 0.5,
    start: int = 0,
    **quality_gates,
) -> DataFrame:
    """(id, _seq, band, band_key) for the scrubbed+gated corpus — the
    persisted band index curate_increment_seq probes. Ids may be of any
    type in any order (the reference's own fallback URIs are
    `d-<uuid>`, ingester.py:538): a surrogate ingest sequence `_seq` is
    assigned (id order within this build, offset by `start`) and the
    incremental canonical rule runs on it.

    Must be built with the SAME gate parameters the increments will
    use: the equivalence contract compares keep decisions, and a doc
    gated differently on the two paths trivially diverges. PERSIST/WRITE
    this frame before chaining into curate_increment_seq: the increment
    consumes it several times (the max-seq aggregate + the probe join),
    and an unmaterialized frame replays the base corpus's
    scrub/gate/shingle lineage per consumer."""
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # production entry for an unseen frame (the curate_corpus guard):
    # the gate scan runs BEFORE _assign_seq's range exchange, so a
    # one-file corpus would pay it on 1-2 cores; wide frames untouched
    docs = spread_if_narrow(docs, id_col)
    gated = _structural_gate(
        _scrub(docs, id_col, text_col), id_col, text_col, min_tokens, min_alpha_ratio
    )
    if quality_gates:
        # the index must be gated EXACTLY like the increments probing
        # it: a base doc the full gate battery would have dropped could
        # otherwise taint new arrivals the recompute keeps. Gates run
        # BEFORE seq assignment — the sequence numbers SURVIVORS,
        # matching the sink's order, so a gated-out doc consumes no seq
        # value on any path
        gated = apply_quality_gates(gated, id_col, text_col, **quality_gates)
    gated = _assign_seq(gated, id_col, start)
    # no extra checkpoint here: _assign_seq already localCheckpoints its
    # `ranged` frame internally (to pin sampled partition boundaries), so
    # the fused gate scan is materialized exactly once — the two
    # consumers in _seq_bands (banding + the seq join) replay only the
    # cheap row_number window over that checkpoint, not the gate scan. A
    # second checkpoint would pay a full re-materialization to save a
    # window recompute (review finding, round 12).
    return _seq_bands(gated, id_col, text_col)


def curate_increment_seq(
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_alpha_ratio: float = 0.5,
    chunk_tokens: int = 128,
    overlap: int = 16,
    base_max_seq=_UNSET,
    **quality_gates,
) -> "tuple[DataFrame, DataFrame]":
    """Daily-increment curation: gate + near-dup-dedup ONLY the new
    documents against the maintained band index, never recomputing the
    base corpus. Ids may be of ANY type in any order — uuid-keyed
    corpora included — because the canonical order is a surrogate
    ingest sequence, not the id.

    Returns (chunks, index_delta) — chunks for the new KEEPERS only;
    APPEND index_delta (the new docs' (id, _seq, band, band_key) rows)
    to the persisted index for tomorrow. A delta, deliberately NOT the
    full union: returning base ∪ new invites `.write.mode("overwrite")`
    onto the index's own path — which Spark either refuses or corrupts
    mid-scan (the plan still reads it) — and rewrites O(corpus) per day
    where an append writes O(increment).

    band_index must carry (id_col, _seq, band, band_key) — built by
    curation_band_index_seq, or accumulated from this function's own
    returned deltas. New docs receive `_seq` values strictly above the
    base's max (computed here, or passed via `base_max_seq` when the
    caller maintains it as metadata — the streaming sink does, so no
    O(index) aggregate runs per micro-batch). Canonical minima are
    then in the base BY CONSTRUCTION, for every id type, no check
    needed.

    Cost tracks the increment: the new docs scrub/gate/shingle
    map-side, the probe equi-joins their band keys against the index,
    and the connected components run over new-new pairs only.

    Keep rule: connected components run over the new-new pairs; any
    component ONE of whose members also pairs with an indexed doc is
    dropped WHOLE (the recompute would connect the entire component
    into that base family, whose canonical is in the base), and the
    surviving components keep their min _seq. The index delta carries
    gated new docs kept AND dropped — tomorrow's increment may near-dup
    a doc that today's keep-one dropped, and the recompute would still
    connect them transitively.

    EQUIVALENCE CONTRACT (pinned in tests/test_curation_pipeline.py and
    tests/test_curation_sink.py): increment keepers == full-recompute
    keepers ∩ new ids, where the recompute's canonical rule is ARRIVAL
    order (min _seq) — i.e. curate_corpus over the same documents keyed
    by their _seq. When every new id sorts above every indexed id,
    _seq follows id order, so this is also the min-id recompute. BASE
    decisions, by contrast, are APPEND-ONLY: a "bridge" increment doc
    that connects two previously separate base families would make a
    recompute retract the larger family's already-kept canonical; the
    incremental path never retracts published keepers — deliberately,
    because yesterday's corpus has already been shipped/trained on.
    That is the one documented divergence from recompute semantics.

    Re-sent ids: an id already in the index is NOT an error here (the
    seq is the key, not the id). A re-sent identical document shares
    its earlier self's bands, pairs with it, and is dropped as a
    near-dup of the base — arrival-time re-ingest semantics. Ids
    should still be unique WITHIN one increment.

    **quality_gates: forwarded to apply_quality_gates (repetition_caps,
    quality_model + min_quality_p, lm_logp + max_ppl +
    lm_max_piece_len) — the per-document gates of the batch composite,
    applied between the structural gate and seq assignment, so the
    ingest sequence ranks only fully-gated documents. Each is a pure
    per-document function, so incremental application is
    recompute-equivalent BY CONSTRUCTION; pass the SAME gate config the
    base index was built under (the streaming sink pins a fingerprint
    of it; callers of this batch API own that discipline)."""
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # production entry for an unseen frame (the curate_corpus guard)
    new_docs = spread_if_narrow(new_docs, id_col)
    gated = apply_quality_gates(
        _structural_gate(
            _scrub(new_docs, id_col, text_col),
            id_col,
            text_col,
            min_tokens,
            min_alpha_ratio,
        ),
        id_col,
        text_col,
        **quality_gates,
    )
    if base_max_seq is _UNSET:
        base_max_seq = band_index.agg(F.max(SEQ_COL).alias("mx")).collect()[0]["mx"]
    start = 0 if base_max_seq is None else int(base_max_seq) + 1
    # consumed by bands, the CC spine, AND chunking — three consumers,
    # so unlike curation_band_index_seq (two consumers; its equivalent
    # checkpoint was dropped, round 12) this one is kept: _assign_seq's
    # internal checkpoint protects the gate scan either way, but here
    # the row_number window + seq map would replay three times over the
    # full increment without it
    gated = _assign_seq(gated, id_col, start).localCheckpoint(eager=True)
    # probed twice (cross + the delta) — checkpoint once
    new_bands = _seq_bands(gated, id_col, text_col).localCheckpoint(eager=True)
    chunks = _increment_core(
        gated,
        new_bands,
        band_index,
        base_max_seq,
        id_col=id_col,
        text_col=text_col,
        chunk_tokens=chunk_tokens,
        overlap=overlap,
    )
    return chunks, new_bands
