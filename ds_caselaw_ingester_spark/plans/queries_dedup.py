"""Near-dup dedup queries (SURVEY.md §2.9): MinHash+LSH, exact n-gram
Jaccard, exact-substring spans — over a corpus with *planted*
near-duplicates so the pair-producing branches are verifiable (a purely
random corpus would yield zero pairs and an empty — vacuous —
correctness check).

Planted corpus: every doc_id % 10 == 0 document reappears as
doc_id + 1000000000 with its last token dropped (a true near-duplicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.dedup import (
    doc_shingles,
    estimate_jaccard,
    exact_jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ds_caselaw_ingester_spark.operators.textstats import tokens
from ds_caselaw_ingester_spark.plans.registry import register
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import table

# Shared corpus CTE (DuckDB dialect). tok list is 1-based in both engines.
CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         array_to_string(
           list_slice(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), 1,
                      len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) - 1), ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.sources.catalog import spread

    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    tok = tokens(F.col("text"))
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.array_join(F.slice(tok, 1, F.size(tok) - 1), " ").alias("text"),
    )
    return d.unionAll(dups)


# ---------------------------------------------------------------------------
# minhash_lsh_pairs — banded MinHash-LSH candidate pairs + Jaccard estimate
# ---------------------------------------------------------------------------

MINHASH_ORACLE = f"""
WITH {CORPUS_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tok FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 2), ' ') AS gram
  FROM toks, unnest(generate_series(1, len(tok) - 2)) AS t(i)
  WHERE len(tok) >= 3
),
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 13))::BIGINT % 4294967291 AS ha,
         ('0x' || substr(md5(gram), 14, 13))::BIGINT % 4294967291 AS hb
  FROM grams
),
mh AS (
  SELECT doc_id, seed, min((ha + seed * hb) % 4294967291) AS mh
  FROM hashed CROSS JOIN seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0, 4) AS est_jaccard
FROM pairs p
JOIN mh x ON x.doc_id = p.doc_a
JOIN mh y ON y.doc_id = p.doc_b AND y.seed = x.seed
GROUP BY p.doc_a, p.doc_b
"""


@register(
    "minhash_lsh_pairs",
    MINHASH_ORACLE,
    doc="MinHash (16 affine permutations from ONE md5 per gram) + LSH "
    "banding (4 bands × 4 "
    "rows) -> candidate pairs via equi-join on band_key (O(n), never "
    "pairwise) -> signature-agreement Jaccard estimate.",
    survey_ops=("ext:dedup-minhash-lsh",),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    corpus = _corpus(spark, sf_dir)
    shingles = doc_shingles(corpus, "doc_id", "text", n=3)
    # signatures feed BOTH the banding and the Jaccard estimate — persist
    # so the shingle->md5->groupBy-min subtree runs once, not three times
    sigs = minhash_signatures(shingles, "doc_id", num_seeds=16).persist()
    bands = lsh_bands(sigs, "doc_id", rows_per_band=4)
    # guard_occupancy stays off: its extra agg (a WARN before the pair
    # explode on a hot band, sizing.occupancy_guard) is for unseen
    # corpora, and the oracle/bench path pays nothing for it here
    pairs = lsh_candidate_pairs(bands, "doc_id")
    return estimate_jaccard(pairs, sigs, "doc_id", num_seeds=16)


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs — exact set Jaccard over 3-gram shingles
# ---------------------------------------------------------------------------

# Hot-shingle document-frequency cap for the registered query. One gram
# shared by df documents produces O(df²) candidate pairs — the cap bounds
# the worst bucket. Inactive at sf0.01 (max gram df = 9) so the oracle row
# is value-identical to the uncapped plan, and genuinely protective at sf1+
# (max gram df ≈ 300, growing with corpus size).
MAX_DOC_FREQ = 50

JACCARD_ORACLE = f"""
WITH {CORPUS_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tok FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 2), ' ') AS gram
  FROM toks, unnest(generate_series(1, len(tok) - 2)) AS t(i)
  WHERE len(tok) >= 3
),
gram_df AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
common AS (
  -- df cap mirrors exact_jaccard_pairs(max_doc_freq={MAX_DOC_FREQ}):
  -- grams hotter than the cap are excluded from pair generation only;
  -- sizes still count them, so surviving jaccards are lower bounds
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM grams a
  JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  JOIN gram_df d ON d.gram = a.gram
  WHERE d.df <= {MAX_DOC_FREQ}
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, c.n_common,
       round(CAST(c.n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - c.n_common), 4) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE round(CAST(c.n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - c.n_common), 4) >= 0.5
"""


@register(
    "ngram_jaccard_pairs",
    JACCARD_ORACLE,
    doc="Exact 3-gram Jaccard >= 0.5 via inverted-index self-join on the "
    "shingle (never a document cross-join). Measured choice: on this "
    "corpus (short docs, max gram df ~300) the in-bucket pair fan-out "
    "beats prefix filtering 4x (24 s vs 104 s at sf1) because the "
    "candidates are cheap structs while PPJoin's verification joins "
    "carry full gram arrays, so the prefix-filtering operator is not "
    "kept. The registered plan carries max_doc_freq so one "
    "hot shingle can never make the in-bucket fan-out O(df²).",
    survey_ops=("ext:dedup-ngram-jaccard",),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    corpus = _corpus(spark, sf_dir)
    shingles = doc_shingles(corpus, "doc_id", "text", n=3)
    return exact_jaccard_pairs(
        shingles, "doc_id", threshold=0.5, max_doc_freq=MAX_DOC_FREQ
    )


# ---------------------------------------------------------------------------
# neardup_clusters — pairs -> connected components -> canonical keep-one
# ---------------------------------------------------------------------------

# The end-to-end dedup decision (pairs alone don't dedup anything): the
# MinHash-LSH candidate pairs become undirected edges, components get the
# MINIMUM member id as their label (deterministic), and every corpus doc
# — paired or not — receives (component, is_duplicate). The oracle replays
# the same pair generation and computes min-reachable-id per node with a
# recursive CTE; Spark computes it with O(log diameter) pointer-jumping
# label propagation (operators/cluster.py:33-109) because a 100 TB corpus
# can't do unbounded recursion, but the FIXPOINT is identical.
NEARDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {CORPUS_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tok FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 2), ' ') AS gram
  FROM toks, unnest(generate_series(1, len(tok) - 2)) AS t(i)
  WHERE len(tok) >= 3
),
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 13))::BIGINT % 4294967291 AS ha,
         ('0x' || substr(md5(gram), 14, 13))::BIGINT % 4294967291 AS hb
  FROM grams
),
mh AS (
  SELECT doc_id, seed, min((ha + seed * hb) % 4294967291) AS mh
  FROM hashed CROSS JOIN seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.comp FROM sym s JOIN reach r ON r.node = s.dst
)
SELECT node AS doc_id,
       min(comp) AS component,
       min(comp) <> node AS is_duplicate
FROM reach GROUP BY node
"""


@register(
    "neardup_clusters",
    NEARDUP_CLUSTERS_ORACLE,
    doc="Dedup end-to-end: MinHash-LSH pairs -> connected components "
    "(min-label fixpoint; Spark side is O(log diameter) pointer-jumping "
    "with localCheckpoint lineage truncation) -> one canonical doc per "
    "component, singletons (the unpaired majority of a real corpus) via "
    "left join without ever entering the component computation.",
    survey_ops=("ext:dedup-cluster", "ext:dedup-minhash-lsh"),
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.cluster import canonical_assignment

    ensure_oracle_safe(spark)
    corpus = _corpus(spark, sf_dir)
    shingles = doc_shingles(corpus, "doc_id", "text", n=3)
    sigs = minhash_signatures(shingles, "doc_id", num_seeds=16)
    bands = lsh_bands(sigs, "doc_id", rows_per_band=4)
    pairs = lsh_candidate_pairs(bands, "doc_id")
    return canonical_assignment(corpus, pairs, id_col="doc_id")


# ---------------------------------------------------------------------------
# neardup_quality_keepers — keep the BEST member per cluster
# ---------------------------------------------------------------------------

# Same pipeline as neardup_clusters up to the components, then the keeper
# is the arg-max text length (ties -> min id; operators/cluster.py
# quality_keep_one) instead of the min id — a real dedup keeps the best
# copy, not an arbitrary one. Length ties occur organically (exact
# duplicates), so the tie-break rule is exercised by the corpus itself.
NEARDUP_QUALITY_KEEPERS_ORACLE = f"""
WITH RECURSIVE {CORPUS_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tok FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 2), ' ') AS gram
  FROM toks, unnest(generate_series(1, len(tok) - 2)) AS t(i)
  WHERE len(tok) >= 3
),
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 13))::BIGINT % 4294967291 AS ha,
         ('0x' || substr(md5(gram), 14, 13))::BIGINT % 4294967291 AS hb
  FROM grams
),
mh AS (
  SELECT doc_id, seed, min((ha + seed * hb) % 4294967291) AS mh
  FROM hashed CROSS JOIN seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.comp FROM sym s JOIN reach r ON r.node = s.dst
),
labels AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
scored AS (
  SELECT l.doc_id, l.component, length(c.text) AS score
  FROM labels l JOIN corpus c USING (doc_id)
),
ranked AS (
  SELECT doc_id, component,
         row_number() OVER (
           PARTITION BY component ORDER BY score DESC, doc_id ASC
         ) AS rk
  FROM scored
),
keep AS (SELECT component, doc_id AS keeper_id FROM ranked WHERE rk = 1)
SELECT s.doc_id, s.component, k.keeper_id,
       s.doc_id <> k.keeper_id AS is_duplicate
FROM scored s JOIN keep k USING (component)
"""


@register(
    "neardup_quality_keepers",
    NEARDUP_QUALITY_KEEPERS_ORACLE,
    doc="Quality-aware keep-one over the REAL near-dup pipeline "
    "(shingle → minhash → LSH bands → connected components → arg-max-"
    "score keeper, operators/cluster.py quality_keep_one): each "
    "component keeps its longest member, ties → min id — the dedup "
    "decision a production corpus actually ships. Scale shape: the "
    "keeper is ONE "
    "min(struct(-score, id)) aggregation — the shuffle carries combined "
    "partials, never raw membership (partial_min pinned in "
    "tests/test_plan_shapes.py).",
    survey_ops=("ext:dedup-keep-one",),
)
def q_neardup_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.cluster import quality_keep_one

    ensure_oracle_safe(spark)
    corpus = _corpus(spark, sf_dir)
    shingles = doc_shingles(corpus, "doc_id", "text", n=3)
    sigs = minhash_signatures(shingles, "doc_id", num_seeds=16)
    bands = lsh_bands(sigs, "doc_id", rows_per_band=4)
    pairs = lsh_candidate_pairs(bands, "doc_id")
    return quality_keep_one(
        corpus.select("doc_id", F.length("text").alias("score")),
        pairs,
        score_col="score",
    )


# ---------------------------------------------------------------------------
# strip_spans — maximal duplicated-passage ranges (duplicate_spans), then
# the token-range cut, so one registry row gates the full detect -> cut
# exact-substring pipeline end-to-end.
# ---------------------------------------------------------------------------

_SPAN_N = 8

STRIP_SPANS_ORACLE = f"""
WITH {{corpus}},
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM corpus
),
pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {_SPAN_N - 2}, 1))) AS i
  FROM tok
),
ex AS (
  SELECT doc_id, i,
         md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ')) AS g
  FROM pos
),
totals AS (SELECT g, count(*) AS total FROM ex GROUP BY g),
dup AS (
  SELECT doc_id, i FROM ex JOIN totals USING (g) WHERE total >= 2
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev IS NULL OR i - prev > {_SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
           AS island
  FROM (
    SELECT doc_id, i,
           lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM dup
  )
),
spans AS (
  SELECT doc_id, min(i) AS span_start, max(i) + {_SPAN_N - 1} AS span_end
  FROM isl GROUP BY doc_id, island
),
toks2 AS (
  SELECT doc_id,
         unnest(toks) AS t,
         unnest(range(1, len(toks) + 1)) AS i
  FROM tok
),
kept AS (
  SELECT k.doc_id, k.i, k.t FROM toks2 k
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = k.doc_id AND k.i BETWEEN s.span_start AND s.span_end
  )
),
agg AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS new_text
  FROM kept GROUP BY doc_id
),
touched AS (SELECT DISTINCT doc_id FROM spans)
SELECT c.doc_id,
       CASE WHEN tc.doc_id IS NULL THEN c.text
            ELSE coalesce(a.new_text, '') END AS text
FROM corpus c
LEFT JOIN touched tc USING (doc_id)
LEFT JOIN agg a USING (doc_id)
""".format(corpus=CORPUS_SQL)


@register(
    "strip_spans",
    STRIP_SPANS_ORACLE,
    doc="Exact-substring dedup end-to-end (Lee et al. 2022 ExactSubstr, "
    "re-expressed set-oriented): duplicated 8-token windows -> "
    "gaps-and-islands maximal spans (per-doc window over ONLY the "
    "duplicated positions) -> map-side token cut with the span arrays "
    "joined back per document. Positions ride the per-(gram, doc) "
    "aggregation as arrays bounded by one document's internal repeats, "
    "so hot grams cost counters, never an inverted index; the corpus is "
    "exploded exactly once. Linear at the duplication worst case "
    "(BENCH_SF1.md: 500k docs, 98% duplicated, 62 s + 56.5 s).",
    survey_ops=("ext:dedup-exact-substring",),
)
def q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup applied: every planted near-copy (and the
    duplicated region of its original) must come back with the shared
    passage cut, untouched documents must pass through verbatim."""
    ensure_oracle_safe(spark)
    from ds_caselaw_ingester_spark.operators.dedup import (
        duplicate_spans,
        strip_spans,
    )

    corpus = _corpus(spark, sf_dir)
    spans = duplicate_spans(corpus, "doc_id", "text", n=_SPAN_N)
    return strip_spans(corpus, "doc_id", "text", spans)
