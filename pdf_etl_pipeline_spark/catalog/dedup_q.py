"""Dedup catalog — exact / n-gram Jaccard / MinHash-LSH / SimHash /
embedding-cosine over the ``documents`` and ``embeddings`` tables, each
with a DuckDB oracle that reproduces the identical hash arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.catalog import (
    TwoBatch,
    halves,
    halving,
    register,
    require_pin,
    unroll,
)
from pdf_etl_pipeline_spark.llmdata import dedup as DD
from pdf_etl_pipeline_spark.llmdata import similarity as SIM
from pdf_etl_pipeline_spark.session import load_table, session_memo, tune
from pdf_etl_pipeline_spark.streaming.containment_guard import (
    guard_containment_batch,
    pin_containment_index,
)

_TOKS = DD.tokens_sql("text")
_TOKSH = DD.token_hashes_sql("text")
_SIG = DD.minhash_signature_sql("text")
_COS = DD.cosine_sql("va", "vb")


# --- DD1: exact -------------------------------------------------------------
@register(
    "dd1_exact_dedup",
    oracle="""
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",
    doc="DD1 exact dedup via content-hash groupBy (min-doc-id survivor)",
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    # library result is unordered (scale); the catalog adds gate ordering
    return DD.exact_dedup(load_table(spark, sf_dir, "documents")).orderBy("keep_doc_id")


# --- DD2: token-set Jaccard (DF-pruned by default — the scale path) ----------
# Document-frequency pruning (drop tokens in > 395 docs) is the DEFAULT:
# without it a single stopword token generates O(df²) candidate pairs — a
# quadratic blowup at 100 TB. The unpruned form stays in the library
# (jaccard_pairs(max_df=None)) as a test-only reference implementation.
@register(
    "dd2_ngram_jaccard",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 395
),
ptoks AS (SELECT t.doc_id, t.tok FROM toks t JOIN rare USING (tok)),
sizes AS (SELECT doc_id, len({_TOKS}) AS n_tok FROM documents),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ptoks a JOIN ptoks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_tok + sb.n_tok - n_common) >= 0.5
ORDER BY doc_a, doc_b""",
    doc="DD2 token-set Jaccard ≥0.5 via inverted-index self-join; DF pruning (max_df=395) on by default — the quadratic-blowup guard",
)
def dd2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, max_df=395
    ).orderBy("doc_a", "doc_b")


# --- Shared LSH pair index ----------------------------------------------------
# The near-dup pair relation feeds SIX catalog queries (dd3, dd6, dd6b, cc1,
# cc2, cc4). A real system builds the LSH index ONCE and every consumer reads
# it; ``session_memo`` is that pattern — ``minhash_lsh_pairs`` checkpoints
# the pairs eagerly on first use (and releases its build-time caches),
# later queries in the same Spark application reuse the checkpointed RDD
# instead of re-hashing the corpus.
def shared_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.9) -> DataFrame:
    return session_memo(
        spark,
        (shared_pairs, sf_dir, threshold),
        lambda: DD.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents", spread=True), threshold
        ),
    )


# --- DD3: MinHash + LSH -----------------------------------------------------
# CTE chain shared by dd3 (the pair relation) and dd6 (clusters over it).
_DD3_CTES = f"""sigs AS (
  SELECT doc_id, {_TOKSH} AS toks, {_SIG} AS sig FROM documents
),
banded AS (
  SELECT doc_id, toks, band,
         array_to_string(sig[band * {DD.ROWS_PER_BAND} + 1 : (band + 1) * {DD.ROWS_PER_BAND}], '-') AS key
  FROM sigs, (VALUES (0), (1), (2), (3)) bb(band)
),
cands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.toks) AS ta, any_value(b.toks) AS tb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
_DD3_JACCARD = (
    "len(list_intersect(ta, tb)) / (len(ta) + len(tb) - len(list_intersect(ta, tb)))"
)

# Public aliases: other catalog families compose the same oracle fragments
# (quality_q's dq8 split-leakage audit runs over the dd3 pair relation).
DD3_PAIR_CTES = _DD3_CTES
DD3_JACCARD_SQL = _DD3_JACCARD

@register(
    "dd3_minhash_lsh",
    oracle=f"""
WITH {_DD3_CTES}
SELECT doc_a, doc_b, round({_DD3_JACCARD}, 6) AS jaccard
FROM cands
WHERE {_DD3_JACCARD} >= 0.9
ORDER BY doc_a, doc_b""",
    doc="DD3 MinHash(64 perms)+LSH(4 bands of 16): candidates share a band key, verified with true Jaccard >= 0.9",
)
def dd3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    # no global sort: the gate's value-hash is order-insensitive, and at
    # scale sorting the pair relation is pure overhead
    return shared_pairs(spark, sf_dir, 0.9)


# --- DD6: near-dup clusters (transitive closure over dd3 pairs) ---------------
def _label_rounds(iters: int, nodes: str = "documents", edges: str = "e", prefix: str = "l") -> str:
    """Unrolled min-label propagation (mirrors DD.near_dup_clusters): each
    round every doc takes the min cluster label among itself and its
    neighbors. Fixed round count = exactly reproducible across engines.

    ``nodes``/``edges``/``prefix`` parameterize the relations so the same
    unrolling serves the full-corpus clustering (dd6, defaults) and the
    per-batch clustering inside the st7 ingest oracle.

    Every round CTE is MATERIALIZED: each references the previous round
    TWICE, so left to inlining the plan doubles per round and drags the
    whole MinHash subtree along (measured: DuckDB OOM-killed at 6 rounds).
    The SQL analog of the Spark side's localCheckpoint-per-round."""
    ctes = [f"{prefix}0 AS MATERIALIZED (SELECT doc_id, doc_id AS cluster_id FROM {nodes})"]
    for i in range(1, iters + 1):
        p = f"{prefix}{i - 1}"
        ctes.append(
            f"""{prefix}{i} AS MATERIALIZED (
  SELECT l.doc_id, least(l.cluster_id, COALESCE(m.nbr_min, l.cluster_id)) AS cluster_id
  FROM {p} l LEFT JOIN (
    SELECT e.doc_a AS doc_id, MIN(pl.cluster_id) AS nbr_min
    FROM {edges} e JOIN {p} pl ON e.doc_b = pl.doc_id GROUP BY 1
  ) m ON l.doc_id = m.doc_id)"""
        )
    return ",\n".join(ctes)


@register(
    "dd6_near_dup_clusters",
    oracle=f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)}
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
FROM l{DD.CLUSTER_ITERS}
ORDER BY doc_id""",
    doc="DD6 near-dup clusters: connected components over the MinHash-LSH pair graph via fixed-round min-label propagation; cluster_id = canonical survivor",
)
def dd6_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.near_dup_clusters(
        load_table(spark, sf_dir, "documents"),
        threshold=0.9,
        pairs=shared_pairs(spark, sf_dir, 0.9),
    ).orderBy("doc_id")


# --- DD6b: log-round clustering (pointer doubling) ---------------------------
# Same fixed-point (exact connected components) reached in O(log D) rounds.
# The oracle is the PLAIN propagation unrolled to 12 rounds — both engines
# land on the converged component labeling, so the arithmetic path may
# differ while the fixed point is identical; 12 plain rounds converge for
# any diameter <= 12, far beyond near-dup component diameters (dense copies
# of a common origin), while 5 doubling rounds cover ~2^5 hops.
@register(
    "dd6b_clusters_loground",
    oracle=f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(12)}
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
FROM l12
ORDER BY doc_id""",
    doc="DD6b near-dup clusters via pointer-doubling min-label (O(log D) rounds — the 100 TB diameter-safe variant); oracle = converged plain propagation",
)
def dd6b_clusters_loground(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.near_dup_clusters_star(
        load_table(spark, sf_dir, "documents"),
        threshold=0.9,
        pairs=shared_pairs(spark, sf_dir, 0.9),
    ).orderBy("doc_id")


# --- DD4: SimHash fingerprints ----------------------------------------------
_HASHES = f"list_transform({_TOKS}, t -> " + DD.portable_hash32_sql("t") + ")"
_bits = " + ".join(
    f"CASE WHEN len(list_filter(hs, h -> (h & {1 << i}) <> 0)) * 2 >= len(hs) THEN {1 << i} ELSE 0 END"
    for i in range(32)
)

@register(
    "dd4_simhash",
    oracle=f"""
SELECT doc_id, CAST({_bits} AS BIGINT) AS simhash
FROM (SELECT doc_id, {_HASHES} AS hs FROM documents)
ORDER BY doc_id""",
    doc="DD4 32-bit SimHash fingerprint (majority-vote bits over token hashes)",
)
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.simhash_relation(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# --- DD5: embedding cosine near-dups (banded sign-LSH — the scale path) ------
# Candidates come from a 4-band × 16-plane sign-LSH equi-join (shuffle key =
# (band, sign key)), never an all-pairs product; exact cosine verifies only
# the survivors. The brute O(n²) verifier stays in the library
# (DD.embedding_dup_pairs) as the test-only recall baseline.
#
# The synthetic embeddings have no genuine near-dups (max pairwise cosine
# ≈ 0.51 at sf0.01), which made the old gate trivially 0-row. The query
# input is therefore augmented with a deterministic perturbed twin of every
# vector (+0.05 on component 0, id offset +1,000,000) — reproduced
# bit-for-bit in the oracle — so the gate pins the banding join, the
# cosine arithmetic and the pair orientation with >0 rows at every sf.
_TWIN_OFFSET = 1_000_000
_TWIN_SQL = f"""
  SELECT vec_id + {_TWIN_OFFSET} AS id,
         list_transform(range(1, len(embedding) + 1),
                        i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.05
                                  ELSE CAST(embedding[i] AS DOUBLE) END) AS v
  FROM embeddings"""
_BANDED_ARMS = "\nUNION ALL\n".join(
    f"SELECT id, v, {b} AS band, {SIM.sign_key_sql('v', ps)} AS key FROM aug"
    for b, ps in enumerate(SIM.BAND_PLANE_SETS)
)


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twin = e.select(
        (F.col("vec_id") + F.lit(_TWIN_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == F.lit(0), x + F.lit(0.05)).otherwise(x)
        ).alias("embedding"),
    )
    return e.unionAll(twin)


@register(
    "dd5_embedding_dups",
    oracle=f"""
WITH aug AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
  UNION ALL{_TWIN_SQL}
),
banded AS MATERIALIZED (
{_BANDED_ARMS}
),
cands AS (
  SELECT a.id AS id_a, b.id AS id_b, any_value(a.v) AS va, any_value(b.v) AS vb
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round({_COS}, 6) AS cosine
FROM cands
WHERE {_COS} >= 0.9
ORDER BY id_a, id_b""",
    doc="DD5 embedding near-dup pairs, cosine ≥ 0.9 via banded sign-LSH candidates (4 bands × 16 planes); planted deterministic twins keep the gate non-trivial",
)
def dd5_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    # session memo (same pattern as shared_pairs): the banded join + verify
    # runs once per (application, sf_dir); embedding_dup_pairs_lsh
    # checkpoints the result and releases its build-time band/candidate
    # caches, so a long-lived session accumulates no cached blocks.
    pairs = session_memo(
        spark,
        (dd5_embedding_dups, sf_dir),
        lambda: SIM.embedding_dup_pairs_lsh(
            _augmented_embeddings(spark, sf_dir), threshold=0.9
        ),
    )
    return pairs.orderBy("id_a", "id_b")


# --- DD2b: word-shingle Jaccard (order-sensitive n-gram dedup) ----------------
# 3-gram shingles are the classic near-dup unit (Broder's MinHash papers):
# unlike bag-of-words Jaccard, scrambled documents stop looking identical.
# Same DF-pruned inverted-index machinery as dd2, over shingle sets.
_SHINGLES = DD.shingles_sql("text")

@register(
    "dd2b_shingle_jaccard",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SHINGLES}) AS tok FROM documents
),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 395
),
ptoks AS (SELECT t.doc_id, t.tok FROM toks t JOIN rare USING (tok)),
sizes AS (SELECT doc_id, len({_SHINGLES}) AS n_tok FROM documents),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ptoks a JOIN ptoks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_tok + sb.n_tok - n_common) >= 0.5
ORDER BY doc_a, doc_b""",
    doc="DD2b 3-gram word-shingle Jaccard ≥0.5 (order-sensitive near-dup), DF-pruned inverted index",
)
def dd2b_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(
        docs, threshold=0.5, max_df=395, sets=DD.shingles_col("text")
    ).orderBy("doc_a", "doc_b")


@register(
    "dd7_shingle_containment",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SHINGLES}) AS tok FROM documents
),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 395
),
ptoks AS (SELECT t.doc_id, t.tok FROM toks t JOIN rare USING (tok)),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM ptoks GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ptoks a JOIN ptoks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, n_common, sa.n_tok AS na, sb.n_tok AS nb
  FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
),
bothdir AS (
  SELECT doc_a, doc_b, round(n_common / na, 6) AS containment FROM j
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b, round(n_common / nb, 6) AS containment FROM j
)
SELECT doc_a, doc_b, containment FROM bothdir
WHERE containment >= 0.8 ORDER BY doc_a, doc_b""",
    doc="DD7 asymmetric containment |A∩B|/|A| ≥ 0.8 over 3-gram shingles: the quote/boilerplate/subset-document detector symmetric Jaccard misses — one unordered DF-pruned inverted-index join, both directions derived from it for free",
)
def dd7_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs(
        docs, threshold=0.8, max_df=395, sets=DD.shingles_col("text")
    ).orderBy("doc_a", "doc_b")


# --- DD8: duplicated-span accounting ------------------------------------------
from pdf_etl_pipeline_spark.llmdata.dedup import dup_span_stats, dup_span_stats_sql  # noqa: E402


@register(
    "dd8_dup_spans",
    oracle=dup_span_stats_sql("documents"),
    doc="DD8 exact-substring duplication accounting (Lee et al. 2021 signal): every 10-token window hashed, cross-doc duplicated hashes found by ONE keyed aggregation, per-doc duplicated fraction via semi-join — sees boilerplate/syndication that whole-doc dedup cannot; no pairwise comparison anywhere",
)
def dd8_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return dup_span_stats(load_table(spark, sf_dir, "documents", spread=True))


# --- DD10: duplicated-token coverage --------------------------------------------
from pdf_etl_pipeline_spark.llmdata.dedup import (  # noqa: E402
    dup_token_coverage,
    dup_token_coverage_sql,
)


@register(
    "dd10_dup_token_coverage",
    oracle=dup_token_coverage_sql("documents"),
    doc="DD10 duplicated-TOKEN coverage (the fraction Lee et al. 2022 report and "
    "the span-trim signal): dd8's window hashes with positions, duplicated "
    "starts' fixed-width intervals merged per doc by a gaps-and-islands window "
    "(start gap < n merges) — overlapping windows no longer multi-count tokens. "
    "The merge window runs over the duplicated-starts relation only, partitioned "
    "by doc_id; pure integer arithmetic, bit-identical DuckDB twin",
)
def dd10_dup_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return dup_token_coverage(load_table(spark, sf_dir, "documents", spread=True))


# --- DD11: duplicated-span TRIM (the actionable transform) ----------------------
from pdf_etl_pipeline_spark.llmdata.dedup import trim_dup_spans, trim_dup_spans_sql  # noqa: E402


@register(
    "dd11_span_trim",
    oracle=trim_dup_spans_sql("documents"),
    doc="DD11 span-dedup TRIM (the transform dd8/dd10's measurements argue for): "
    "drop every token inside a cross-doc-duplicated 10-token window and re-emit "
    "the trimmed document — covered positions exploded from the merged intervals "
    "(bounded by coverage, not corpus), kept tokens a doc+position anti-join, "
    "text re-assembled in-plan by array_sort over (pos, tok) structs (no sort "
    "shuffle, no Python); the oracle hash-checks the trimmed text's md5",
)
def dd11_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return trim_dup_spans(load_table(spark, sf_dir, "documents", spread=True))


# --- DD13: near-dup cluster-size histogram ---------------------------------------
_DD13_ORACLE = f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
sizes AS (
  SELECT cluster_id, COUNT(*) AS sz FROM l{DD.CLUSTER_ITERS} GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1 ORDER BY 1"""


@register(
    "dd13_cluster_size_histogram",
    oracle=_DD13_ORACLE,
    doc="DD13 near-dup cluster-size distribution: the observability view over "
    "dd6's transitive closure — how big the duplicate families actually are "
    "(size-1 singletons vs long syndication chains), the number a curation "
    "run reads before deciding keep-one-per-cluster is safe. Two keyed "
    "aggregations over the converged label relation; the heavy lifting is "
    "the already-audited shared LSH pair index",
)
def dd13_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    labels = near_dup_clusters(docs, threshold=0.9, pairs=shared_pairs(spark, sf_dir, 0.9))
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# --- DD12: duplicated-span provenance (which boilerplate dominates) -------------
DD12_TOP_K = 20


def _dd12_oracle() -> str:
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql
    from pdf_etl_pipeline_spark.llmdata.dedup import DUP_SPAN_N, P31, ROLL_B, tokens_sql

    n = DUP_SPAN_N
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    return f"""
WITH tokhash AS (
  SELECT doc_id, {toks} AS tk, list_transform({toks}, t -> {th}) AS th FROM documents
),
spans AS MATERIALIZED (
  -- pos is 0-based (the Spark side's posexplode convention; dd12 exposes it)
  SELECT doc_id, i - 1 AS pos,
         list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}) AS h
  FROM tokhash, unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS u(i)
),
stats AS MATERIALIZED (
  SELECT h, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS n_occurrences,
         MIN(doc_id) AS ex_doc
  FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
),
ex AS (
  SELECT s.h, MIN(s.pos) AS ex_pos
  FROM spans s JOIN stats t ON s.h = t.h AND s.doc_id = t.ex_doc
  GROUP BY 1
),
top AS (
  SELECT t.h, t.nd, t.n_occurrences, t.ex_doc AS example_doc_id,
         e.ex_pos AS example_pos
  FROM stats t JOIN ex e ON t.h = e.h
  ORDER BY nd DESC, n_occurrences DESC, t.h LIMIT {DD12_TOP_K}
)
SELECT CAST(p.h AS BIGINT) AS h, CAST(p.nd AS BIGINT) AS nd,
       CAST(p.n_occurrences AS BIGINT) AS n_occurrences,
       p.example_doc_id, CAST(p.example_pos AS BIGINT) AS example_pos,
       array_to_string(d.tk[p.example_pos + 1 : p.example_pos + {n}], ' ') AS span_text
FROM top p JOIN tokhash d ON d.doc_id = p.example_doc_id
ORDER BY nd DESC, n_occurrences DESC, h"""


@register(
    "dd12_span_provenance",
    oracle=_dd12_oracle(),
    doc=f"DD12 duplicated-span provenance: the top-{DD12_TOP_K} cross-doc-"
    "duplicated 10-grams by distinct-doc count with occurrence totals and the "
    "reconstructed span TEXT of a deterministic example (lexicographic-min "
    "(doc_id, pos)) — the observability report behind dd10/dd11: WHICH "
    "boilerplate dominates the corpus, not just how much. Scale: dd8's keyed "
    "hash aggregation, one example-site join back on (h, min-doc), bounded "
    "TakeOrdered top-k; the span text comes from an in-array slice of the "
    "example doc only — no text ever shuffles for the ranking",
)
def dd12_span_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        DUP_SPAN_N,
        span_hashes_df,
        tokens_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    spans = span_hashes_df(docs, DUP_SPAN_N)
    stats = (
        spans.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("doc_id", "pos")).alias("ex"),
        )
        .filter(F.col("nd") >= 2)
    )
    top = (
        stats.select(
            "h",
            "nd",
            "n_occurrences",
            F.col("ex.doc_id").alias("example_doc_id"),
            F.col("ex.pos").alias("example_pos"),
        )
        .orderBy(F.desc("nd"), F.desc("n_occurrences"), "h")
        .limit(DD12_TOP_K)
    )
    toks = docs.select(
        F.col("doc_id").alias("example_doc_id"),
        tokens_col("text", distinct=False).alias("tk"),
    )
    return (
        toks.join(F.broadcast(top), "example_doc_id")
        .select(
            "h",
            "nd",
            "n_occurrences",
            "example_doc_id",
            "example_pos",
            F.array_join(
                F.expr(f"slice(tk, example_pos + 1, {DUP_SPAN_N})"), " "
            ).alias("span_text"),
        )
        .orderBy(F.desc("nd"), F.desc("n_occurrences"), "h")
    )


# --- dd15: exact set-containment join (prefix filtering) --------------------------
# The asymmetric near-dup relation Jaccard misses: an excerpt/quote is
# CONTAINED in its source at containment ~1.0 while Jaccard is tiny.
# Prefix filtering (PPJoin) keeps the join EXACT without all-pairs, so —
# unlike dd3's oracle, which must reproduce the banding — this oracle is
# TRUE brute force: the operator must find exactly the all-pairs answer.
_DD15_T = DD.CONTAINMENT_THRESHOLD

_DD15_ORACLE = f"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
th AS (
  SELECT doc_id, {_TOKSH} AS ts FROM documents
  WHERE doc_id IN (SELECT doc_id FROM reps)
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.ts, b.ts)) AS inter,
         len(a.ts) AS na, len(b.ts) AS nb
  FROM th a JOIN th b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / least(na, nb), 6) AS containment,
       round(inter / (na + nb - inter), 6) AS jaccard
FROM p
-- nullif guards an empty/punctuation-only doc (len(ts) = 0): the Spark
-- operator emits no candidate for a tokenless doc (it has no hashed rows
-- at all), so the oracle must read NULL >= t (no match), not divide by
-- zero (r14 ADVICE)
WHERE inter / nullif(least(na, nb), 0) >= {_DD15_T}
ORDER BY doc_a, doc_b"""


@register(
    "dd15_containment_pairs",
    oracle=_DD15_ORACLE,
    doc="dd15: EXACT set-containment join (|A∩B|/min(|A|,|B|) >= 0.9 over "
    "distinct token sets) via PPJoin prefix filtering — ascending-df token "
    "order, floor((1-t)n)+1 prefixes, prefix x postings equi-join, exact "
    "verify; catches excerpts/quotes Jaccard misses. Oracle is TRUE brute "
    "force (prefix filtering has no false negatives). Scale: exact-dup "
    "collapse first, candidates bounded by the PPJoin prefix bound, df one "
    "keyed aggregate, per-doc ordering a doc-partitioned window",
)
def dd15_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.ppjoin_containment_pairs(load_table(spark, sf_dir, "documents"))


# --- dd16: exact Jaccard-similarity join (PPJoin, native form) --------------------
# dd3 approximates this join (MinHash-LSH trades a banding miss
# probability for index cost); dd16 is the provably-complete exact form:
# PPJoin with the Jaccard prefix na - ceil(t*na) + 1, the REAL length
# filter (t*nb <= na), and the positional bound vs ceil(t*(na+nb)/(1+t)).
# TRUE brute-force oracle, like dd15's.
_DD16_T = DD.JACCARD_JOIN_THRESHOLD

_DD16_ORACLE = f"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
th AS (
  SELECT doc_id, {_TOKSH} AS ts FROM documents
  WHERE doc_id IN (SELECT doc_id FROM reps)
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.ts, b.ts)) AS inter,
         len(a.ts) AS na, len(b.ts) AS nb
  FROM th a JOIN th b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / (na + nb - inter), 6) AS jaccard,
       round(inter / least(na, nb), 6) AS containment
FROM p
-- nullif: two tokenless docs (na + nb - inter = 0) must read as
-- no-match, not a division by zero (the operator never generates a
-- candidate for a doc with no hashed rows)
WHERE inter / nullif(na + nb - inter, 0) >= {_DD16_T}
ORDER BY doc_a, doc_b"""


@register(
    "dd16_jaccard_join",
    oracle=_DD16_ORACLE,
    doc="dd16: EXACT Jaccard-similarity join (|A∩B|/|A∪B| >= 0.8 over "
    "distinct token sets) — PPJoin in its native form: Jaccard prefix "
    "na-ceil(t·na)+1 (shorter than containment's), the REAL length filter "
    "t·nb <= na, positional bound vs ceil(t·(na+nb)/(1+t)), exact verify; "
    "the provably-complete companion to dd3's MinHash-LSH approximation. "
    "TRUE brute-force oracle. Scale: dd15's audited shape — keyed df "
    "aggregate, doc-partitioned rank window, prefix×postings equi-join "
    "with integer-arithmetic pre-filters, one array_intersect per survivor",
)
def dd16_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return DD.ppjoin_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# --- st19: streaming containment guard (pinned excerpt screen) --------------------
# dd15 as an admission guard: held reps' token sets + PPJoin prefixes pin
# once; each incoming batch screens for docs ≥ t contained in (or
# containing) held content. Screening is pin-only, so the two-batch
# unroll's verdicts are batch-independent and the oracle is one
# brute-force incoming × held pass.
_ST19_CUT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"
_ST19_MID2 = f"(SELECT ({_ST19_CUT} + MAX(doc_id) + 1) // 2 FROM documents)"

_ST19_ORACLE = f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id FROM documents WHERE doc_id < {_ST19_CUT}
  GROUP BY md5(text)
),
hth AS (
  SELECT doc_id AS held_id, {_TOKSH} AS th FROM documents
  WHERE doc_id IN (SELECT doc_id FROM reps)
),
bth AS (
  SELECT doc_id, {_TOKSH} AS ta FROM documents WHERE doc_id >= {_ST19_CUT}
),
m AS (
  -- nullif: a tokenless doc (empty/punctuation-only text) must read as
  -- no-match, not a division by zero — the Spark guard never generates a
  -- candidate for a doc with no hashed token rows (r14 ADVICE)
  SELECT b.doc_id, h.held_id,
         len(list_intersect(b.ta, h.th)) /
           nullif(least(len(b.ta), len(h.th)), 0) AS c
  FROM bth b JOIN hth h
    ON len(list_intersect(b.ta, h.th)) /
         nullif(least(len(b.ta), len(h.th)), 0) >= {DD.CONTAINMENT_THRESHOLD}
)
SELECT b.doc_id,
       CAST(COUNT(DISTINCT m.held_id) AS BIGINT) AS n_held_matches,
       round(MAX(m.c), 6) AS max_containment,
       COUNT(m.held_id) > 0 AS is_excerpt,
       CAST(CASE WHEN b.doc_id < {_ST19_MID2} THEN 0 ELSE 1 END AS BIGINT) AS batch_id
FROM bth b LEFT JOIN m ON m.doc_id = b.doc_id
GROUP BY b.doc_id
ORDER BY b.doc_id"""


@register(
    "st19_containment_guard",
    oracle=_ST19_ORACLE,
    doc="st19: streaming containment guard — dd15's exact PPJoin screen at "
    "admission time: held reps' token sets + prefixes (pin's df order) pin "
    "write-once; each batch's candidates are prefix(batch)×postings(pin) ∪ "
    "postings(batch)×prefix(pin) (exact — the prefix pigeonhole holds for "
    "ANY prefix of the bound size), exact containment verify on survivors, "
    "one verdict row per doc. Brute-force oracle over the two-batch unroll. "
    "Scale: pin-only screening (replay bit-identical), candidates bounded "
    "by the PPJoin prefix bound, never incoming × held all-pairs",
)
def st19_containment_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST19, order=("doc_id",))


def _st19_stage(spark: SparkSession, sf_dir: str, state: str):
    """The lower half pins; the upper half arrives as two quarter batches."""
    docs = load_table(spark, sf_dir, "documents")
    cut = halving(docs)
    held, incoming = halves(docs, cut)
    require_pin(pin_containment_index(held, state), "st19")
    body = lambda batch, b: guard_containment_batch(batch, state, b)
    return halves(incoming, halving(docs, lo=cut)), body


_ST19 = TwoBatch("st19_pin_", _st19_stage)
