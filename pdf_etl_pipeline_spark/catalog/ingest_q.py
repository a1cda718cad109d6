"""Incremental near-dup ingest catalog (st7) — the streaming twin of the
MinHash-LSH dedup path, gate-checked end to end.

The registered query simulates two ingest batches (documents split at the
median doc_id) against a fresh on-disk index, exactly what the
``foreachBatch`` stream does per micro-batch. The DuckDB oracle composes
the SAME fragments the batch path is checked with — per-batch MinHash →
banding → verified pairs → unrolled min-label components (keepers), then
the cross-batch banding join against batch-1 keepers with exact-Jaccard
verification — so the online admission semantics are hash-pinned, not just
rows-counted.
"""

from __future__ import annotations

import os

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
from pdf_etl_pipeline_spark.catalog.dedup_q import _DD3_JACCARD, _label_rounds
from pdf_etl_pipeline_spark.llmdata import dedup as DD
from pdf_etl_pipeline_spark.llmdata.curation_stream import (
    curation_verdict_batch,
    drop_curation_state,
)
from pdf_etl_pipeline_spark.llmdata.ingest import drop_index, ingest_batch
from pdf_etl_pipeline_spark.llmdata.span_ingest import drop_span_index, monitor_batch
from pdf_etl_pipeline_spark.session import load_table, tune
from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
from pdf_etl_pipeline_spark.streaming.corpus_builder import (
    LEAKAGE_SUBDIR,
    build_corpus_batch,
    drop_builder_state,
)
from pdf_etl_pipeline_spark.streaming.leakage_guard import pin_heldout

_TOKSH = DD.token_hashes_sql("text")
_SIG = DD.minhash_signature_sql("text")
# band VALUES list derived from DD.BANDS so the oracles track the engine's
# banding if it ever changes (corpus_q's _DC2_BANDS convention)
_BANDS_SQL = ", ".join(f"({b})" for b in range(DD.BANDS))


def _half_ctes(h: int, pred: str) -> str:
    """One ingest batch's intra-batch pipeline: signatures, banding,
    verified pairs, converged (12-round) min-label components, keepers."""
    r = DD.ROWS_PER_BAND
    return f"""s{h} AS MATERIALIZED (
  SELECT doc_id, {_TOKSH} AS toks, {_SIG} AS sig FROM documents WHERE {pred}
),
b{h} AS MATERIALIZED (
  SELECT doc_id, toks, band,
         array_to_string(sig[band * {r} + 1 : (band + 1) * {r}], '-') AS key
  FROM s{h}, (VALUES {_BANDS_SQL}) bb(band)
),
c{h} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.toks) AS ta, any_value(b.toks) AS tb
  FROM b{h} a JOIN b{h} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
p{h} AS MATERIALIZED (SELECT doc_a, doc_b FROM c{h} WHERE {_DD3_JACCARD} >= 0.9),
e{h} AS MATERIALIZED (
  SELECT doc_a, doc_b FROM p{h}
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM p{h}
),
n{h} AS (SELECT doc_id FROM s{h}),
{_label_rounds(12, nodes=f"n{h}", edges=f"e{h}", prefix=f"k{h}_")},
keep{h} AS MATERIALIZED (SELECT doc_id FROM k{h}_12 WHERE doc_id = cluster_id)"""


_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"

_ST7_ORACLE = f"""
WITH {_half_ctes(1, f"doc_id < {_SPLIT}")},
{_half_ctes(2, f"doc_id >= {_SPLIT}")},
xb AS (
  SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         any_value(a.toks) AS ta, any_value(b.toks) AS tb
  FROM b2 a JOIN b1 b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id IN (SELECT doc_id FROM keep2)
    AND b.doc_id IN (SELECT doc_id FROM keep1)
  GROUP BY 1, 2
),
matched AS (SELECT DISTINCT new_id FROM xb WHERE {_DD3_JACCARD} >= 0.9)
SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM keep1
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM keep2
WHERE doc_id NOT IN (SELECT new_id FROM matched)
ORDER BY doc_id"""


@register(
    "st7_neardup_ingest",
    oracle=_ST7_ORACLE,
    doc="ST7 incremental near-dup ingest: per-batch LSH clustering keeps component minima, cross-batch banding join vs the admitted index rejects near-dups of already-admitted docs (streaming foreachBatch twin driven in tests)",
)
def st7_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST7, order=("doc_id",))


def _st7_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    body = lambda batch, b: ingest_batch(batch, state).select("doc_id")
    return halves(docs, halving(docs)), body


_ST7 = TwoBatch("st7_index_", _st7_stage, drop_index)


# --- ST10: incremental duplicated-span monitor ----------------------------------
from pdf_etl_pipeline_spark.llmdata.dedup import (  # noqa: E402
    DUP_SPAN_N,
    P31,
    ROLL_B,
    tokens_sql,
)
from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql  # noqa: E402


def _span_scope_ctes(tag: str, pred: str, n: int = DUP_SPAN_N) -> str:
    """One batch scope's span pipeline: rolling window hashes with
    positions + per-hash distinct-doc counts (dd10's fragments scoped by
    a doc_id predicate)."""
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    return f"""th{tag} AS (
  SELECT doc_id, list_transform({toks}, t -> {th}) AS th FROM documents WHERE {pred}
),
sp{tag} AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}) AS h
  FROM th{tag}, unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS u(i)
),
c{tag} AS MATERIALIZED (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sp{tag} GROUP BY 1
)"""


def _span_cov_ctes(tag: str, dup_src: str, n: int = DUP_SPAN_N) -> str:
    """Merged-interval coverage for one scope given its duplicated-hash
    relation ``dup_src``."""
    return f"""ds{tag} AS (
  SELECT doc_id, pos FROM sp{tag} WHERE h IN (SELECT h FROM {dup_src})
),
g{tag} AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= {n}
              THEN 1 ELSE 0 END AS brk
  FROM ds{tag}
),
i{tag} AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM g{tag}
),
cov{tag} AS (
  SELECT doc_id, SUM(ilen) AS n_dup_tokens FROM (
    SELECT doc_id, island, MAX(pos) - MIN(pos) + {n} AS ilen
    FROM i{tag} GROUP BY 1, 2
  ) GROUP BY 1
)"""


_ST10_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"
_ST10_TOKS = tokens_sql("text", distinct=False)

_ST10_ORACLE = f"""
WITH {_span_scope_ctes(1, f"doc_id < {_ST10_SPLIT}")},
{_span_scope_ctes(2, f"doc_id >= {_ST10_SPLIT}")},
dup1 AS (SELECT h FROM c1 WHERE nd >= 2),
dup2 AS (
  SELECT c2.h FROM c2 LEFT JOIN c1 ON c2.h = c1.h
  WHERE c2.nd + COALESCE(c1.nd, 0) >= 2
),
{_span_cov_ctes(1, "dup1")},
{_span_cov_ctes(2, "dup2")},
rep AS (
  SELECT d.doc_id, CAST(len({_ST10_TOKS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         CAST(0 AS BIGINT) AS batch_id
  FROM documents d LEFT JOIN cov1 c ON d.doc_id = c.doc_id
  WHERE d.doc_id < {_ST10_SPLIT}
  UNION ALL
  SELECT d.doc_id, CAST(len({_ST10_TOKS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         CAST(1 AS BIGINT) AS batch_id
  FROM documents d LEFT JOIN cov2 c ON d.doc_id = c.doc_id
  WHERE d.doc_id >= {_ST10_SPLIT}
)
SELECT doc_id, n_tokens, n_dup_tokens,
       round(n_dup_tokens / nullif(n_tokens, 0), 6) AS dup_token_frac,
       batch_id
FROM rep ORDER BY doc_id"""


@register(
    "st10_span_monitor",
    oracle=_ST10_ORACLE,
    doc="ST10 incremental duplicated-span monitor (streaming-scale dd10): two "
    "ingest batches against an append-only (hash, distinct-doc-count) index — "
    "disjoint batch doc sets make the corpus-wide count the SUM of per-batch "
    "counts, so the index stores one aggregated row per (batch, hash), bounded "
    "by distinct hashes, never corpus tokens. Admission-time semantics: batch-1 "
    "reports are final (a batch-2 duplicate shows in batch 2's report only). "
    "Oracle unrolls both batches with the dd10 fragments",
)
def st10_span_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST10, order=("doc_id",))


def _st10_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    body = lambda batch, b: monitor_batch(batch, state, batch_id=b)
    return halves(docs, halving(docs)), body


_ST10 = TwoBatch("st10_index_", _st10_stage, drop_span_index)


# --- ST11: streaming curation verdict (st7 + st10 + cc9 gates composed) -----------
from pdf_etl_pipeline_spark.catalog.curation_q import _QUALITY  # noqa: E402
from pdf_etl_pipeline_spark.llmdata import text as TX  # noqa: E402


def _span_trim_ctes(tag: str, pred: str, dup_src: str, n: int = DUP_SPAN_N) -> str:
    """Span-TRIM fragments for one batch scope given its duplicated-hash
    relation: covered positions exploded from merged intervals, kept
    tokens anti-joined, trimmed text re-assembled (``ttrim{tag}`` =
    (doc_id, n_tokens, n_kept, text)) — the scoped twin of
    ``dedup.trimmed_docs_ctes``, sharing ``sp{tag}`` with the st10
    fragments. Positions are 1-based on the DuckDB side throughout, so
    the 0/1 base offset cancels (the dd12 lesson applies only when a
    position is EXPOSED)."""
    toks = tokens_sql("text", distinct=False)
    return f"""tk{tag} AS (
  SELECT doc_id, {toks} AS tk FROM documents WHERE {pred}
),
dst{tag} AS (
  SELECT doc_id, pos FROM sp{tag} WHERE h IN (SELECT h FROM {dup_src})
),
tg{tag} AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= {n}
              THEN 1 ELSE 0 END AS brk
  FROM dst{tag}
),
ti{tag} AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM tg{tag}
),
tc{tag} AS (
  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM (
    SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {n - 1} AS e
    FROM ti{tag} GROUP BY 1, 2
  )
),
tt{tag} AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM tk{tag}, unnest(range(1, len(tk) + 1)) AS u(i)
),
tkp{tag} AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tt{tag} t LEFT JOIN tc{tag} c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
ttrim{tag} AS MATERIALIZED (
  SELECT k.doc_id,
         CAST(len(k.tk) AS BIGINT) AS n_tokens,
         CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         COALESCE(a.trimmed, '') AS text
  FROM tk{tag} k LEFT JOIN (
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(tok, ' ' ORDER BY pos) AS trimmed
    FROM tkp{tag} GROUP BY 1
  ) a ON k.doc_id = a.doc_id
)"""


_ST11_PRED1 = f"doc_id < {_SPLIT}"
_ST11_PRED2 = f"doc_id >= {_SPLIT}"


# the composed two-batch unroll: st7's admission fragments (keep1/keep2 +
# cross-batch matched), st10's span-count fragments under non-colliding
# x1/x2 tags, the scoped trim, then cc9's lang/quality gates on trimmed
# text. Parameterized by the batch predicates so st14 can reuse the whole
# chain over the contamination-filtered corpus.
def _ver_ctes(pred1: str, pred2: str) -> str:
    return f"""{_half_ctes(1, pred1)},
{_half_ctes(2, pred2)},
xb AS (
  SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         any_value(a.toks) AS ta, any_value(b.toks) AS tb
  FROM b2 a JOIN b1 b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id IN (SELECT doc_id FROM keep2)
    AND b.doc_id IN (SELECT doc_id FROM keep1)
  GROUP BY 1, 2
),
matched AS (SELECT DISTINCT new_id FROM xb WHERE {_DD3_JACCARD} >= 0.9),
adm1 AS (SELECT doc_id FROM keep1),
adm2 AS (
  SELECT doc_id FROM keep2 WHERE doc_id NOT IN (SELECT new_id FROM matched)
),
{_span_scope_ctes("x1", pred1)},
{_span_scope_ctes("x2", pred2)},
dupx1 AS (SELECT h FROM cx1 WHERE nd >= 2),
dupx2 AS (
  SELECT cx2.h FROM cx2 LEFT JOIN cx1 ON cx2.h = cx1.h
  WHERE cx2.nd + COALESCE(cx1.nd, 0) >= 2
),
{_span_trim_ctes("x1", pred1, "dupx1")},
{_span_trim_ctes("x2", pred2, "dupx2")},
ver AS MATERIALIZED (
  SELECT t.doc_id, CAST(0 AS BIGINT) AS batch_id, t.n_tokens, t.n_kept,
         (a.doc_id IS NOT NULL) AS admitted,
         {TX.lang_id_sql("text")} AS lang_trim,
         round({_QUALITY}, 6) AS q_trim
  FROM ttrimx1 t LEFT JOIN adm1 a ON a.doc_id = t.doc_id
  UNION ALL
  SELECT t.doc_id, CAST(1 AS BIGINT) AS batch_id, t.n_tokens, t.n_kept,
         (a.doc_id IS NOT NULL) AS admitted,
         {TX.lang_id_sql("text")} AS lang_trim,
         round({_QUALITY}, 6) AS q_trim
  FROM ttrimx2 t LEFT JOIN adm2 a ON a.doc_id = t.doc_id
)"""


_ST11_VER_CTES = _ver_ctes(_ST11_PRED1, _ST11_PRED2)

_ST11_ORACLE = f"""
WITH {_ST11_VER_CTES}
SELECT doc_id, batch_id, n_tokens, n_kept, admitted, lang_trim, q_trim,
       CASE WHEN NOT admitted THEN 'drop_neardup'
            WHEN lang_trim <> 'en' THEN 'drop_lang'
            WHEN q_trim < 0.5 THEN 'drop_quality'
            ELSE 'keep' END AS verdict
FROM ver ORDER BY doc_id"""


_ST11_STAGES = ["raw", "neardup_admit", "span_trim", "lang", "quality"]


def _st11_funnel_oracle() -> str:
    conds = [
        ("TRUE", "n_tokens"),
        ("admitted", "n_tokens"),
        ("admitted", "n_kept"),
        ("admitted AND lang_trim = 'en'", "n_kept"),
        ("admitted AND lang_trim = 'en' AND q_trim >= 0.5", "n_kept"),
    ]
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS s{i}d, "
        f"CAST(SUM(CASE WHEN {c} THEN {t} ELSE 0 END) AS BIGINT) AS s{i}t"
        for i, (c, t) in enumerate(conds)
    )
    stage_rows = "\nUNION ALL\n".join(
        f"SELECT batch_id, {i} AS stage, '{name}' AS stage_name, s{i}d AS n_docs, "
        f"s{i}t AS n_tokens, round(CAST(s{i}d AS DOUBLE) / s0d, 6) AS doc_retention, "
        f"round(CAST(s{i}t AS DOUBLE) / s0t, 6) AS token_retention FROM wide"
        for i, name in enumerate(_ST11_STAGES)
    )
    return f"""
WITH {_ST11_VER_CTES},
wide AS (SELECT batch_id, {sums} FROM ver GROUP BY 1)
{stage_rows}
ORDER BY batch_id, stage"""


def _st11_stage(spark: SparkSession, sf_dir: str, state: str):
    """Two real ingest batches through the composed foreachBatch body
    (fresh on-disk st7 + span indexes)."""
    docs = load_table(spark, sf_dir, "documents")
    body = lambda batch, b: curation_verdict_batch(batch, state, batch_id=b)
    return halves(docs, halving(docs)), body


_ST11 = TwoBatch("st11_state_", _st11_stage, drop_curation_state)


@register(
    "st11_streaming_curation",
    oracle=_ST11_ORACLE,
    doc="ST11 streaming curation verdict — the streaming twin of cc9: per "
    "micro-batch, st7 near-dup admission (LSH canonicalization + banding probe "
    "vs the accumulated index), st10 span trim vs (span index ∪ batch), then "
    "lang/quality gates on the TRIMMED text; one FINAL verdict row per doc "
    "(keep / drop_neardup / drop_lang / drop_quality) with raw/trimmed token "
    "accounting. Oracle unrolls two batches from the proven st7 + st10 + dd11 "
    "+ cc9 fragments. Scale: both probes are keyed equi-joins against "
    "pre-aggregated/pruned index relations, trim windows doc_id-partitioned, "
    "gates codegen — nothing corpus-global per batch",
)
def st11_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return (
        unroll(spark, sf_dir, _ST11)
        .select(
            "doc_id", "batch_id", "n_tokens", "n_kept", "admitted",
            "lang_trim", "q_trim", "verdict",
        )
        .orderBy("doc_id")
    )


@register(
    "st11_curation_funnel",
    oracle=_st11_funnel_oracle(),
    doc="ST11's per-batch funnel readout (cc9-shaped): raw -> neardup_admit "
    "-> span_trim -> lang -> quality per ingest batch, doc/token counts (raw "
    "tokens through admit, TRIMMED tokens after) and retentions vs the "
    "batch's raw stage. ONE conditional aggregate over the verdict relation "
    "— no per-stage rescans",
)
def st11_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.llmdata.curation_stream import curation_funnel

    return curation_funnel(unroll(spark, sf_dir, _ST11)).orderBy("batch_id", "stage")


# --- CC11: streaming-verdict shard manifest (st11's delivery path) ----------------
from pdf_etl_pipeline_spark.llmdata import corpus as CP  # noqa: E402

_CC11_ORACLE = f"""
WITH {_ST11_VER_CTES},
survivors AS (
  SELECT doc_id, n_kept AS n_tokens FROM ver
  WHERE admitted AND lang_trim = 'en' AND q_trim >= 0.5
),
packed AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CAST(CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS BIGINT) AS DOUBLE) / {CP.PACK_BUDGET}) AS BIGINT) AS shard_id
  FROM survivors
)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
FROM packed GROUP BY 1 ORDER BY 1"""


@register(
    "cc11_verdict_shard_manifest",
    oracle=_CC11_ORACLE,
    doc="CC11 streaming-verdict shard manifest — st11's delivery path (the "
    "streaming twin of cc10): the curation stream's KEEP verdicts, already "
    "span-trimmed and gate-scored at admission time, greedily packed into "
    f"{CP.PACK_BUDGET}-token shards budgeted by their TRIMMED token counts — "
    "what a training run loads from a streaming ingest. Scale: one filter "
    "over the (corpus-linear, final) verdicts relation into pk1's two-level "
    "packing cumsum (per-bucket windows + a bounded offsets relation, never "
    "a corpus-wide single-partition sort)",
)
def cc11_verdict_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    survivors = (
        unroll(spark, sf_dir, _ST11)
        .filter(F.col("verdict") == "keep")
        .select("doc_id", F.col("n_kept").alias("n_tokens"))
    )
    packed = CP.pack_counts(survivors)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("shard_id")
    )


# --- ST14: composed streaming corpus builder (st13 -> st11 -> cc11) ---------------
# The capstone composition: per micro-batch, contamination guard against
# the pinned benchmark, curation verdict over the CLEAN docs (contaminated
# docs never reach the near-dup or span indexes), per-batch shard packing
# of the keep verdicts. Oracle = the st13 guard fragments feeding the
# proven st11 ver CTEs via contamination-filtered batch predicates.
_SH14 = CP._shingle_hashes_sql("text", CP.DECON_N)

_ST14_GUARD_CTES = f"""gsh AS (SELECT doc_id, unnest({_SH14}) AS h FROM documents),
gbench AS (SELECT DISTINCT h FROM gsh WHERE doc_id % {CP.BENCH_MOD} = 0),
contam AS MATERIALIZED (
  SELECT DISTINCT s.doc_id FROM gsh s JOIN gbench USING (h)
  WHERE s.doc_id % {CP.BENCH_MOD} <> 0
)"""

_ST14_CLEAN = (
    f"doc_id % {CP.BENCH_MOD} <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM contam)"
)
_ST14_PRED1 = f"{_ST14_CLEAN} AND doc_id < {_SPLIT}"
_ST14_PRED2 = f"{_ST14_CLEAN} AND doc_id >= {_SPLIT}"

_ST14_VERDICT_CASE = """CASE WHEN NOT admitted THEN 'drop_neardup'
            WHEN lang_trim <> 'en' THEN 'drop_lang'
            WHEN q_trim < 0.5 THEN 'drop_quality'
            ELSE 'keep' END"""

_ST14_VERDICTS_ORACLE = f"""
WITH {_ST14_GUARD_CTES},
{_ver_ctes(_ST14_PRED1, _ST14_PRED2)}
SELECT doc_id, batch_id, n_tokens, n_kept, admitted, lang_trim, q_trim,
       {_ST14_VERDICT_CASE} AS verdict
FROM ver
UNION ALL
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id < {_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       CAST(len({_ST10_TOKS}) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_kept,
       FALSE AS admitted,
       CAST(NULL AS VARCHAR) AS lang_trim,
       CAST(NULL AS DOUBLE) AS q_trim,
       'drop_contaminated' AS verdict
FROM documents d JOIN contam c ON d.doc_id = c.doc_id
ORDER BY doc_id"""

_ST14_MANIFEST_ORACLE = f"""
WITH {_ST14_GUARD_CTES},
{_ver_ctes(_ST14_PRED1, _ST14_PRED2)},
keep14 AS (
  SELECT batch_id, doc_id, n_kept AS n_tokens FROM ver
  WHERE admitted AND lang_trim = 'en' AND q_trim >= 0.5
),
packed14 AS (
  SELECT batch_id, doc_id, n_tokens,
         CAST(floor(CAST(CAST(SUM(n_tokens) OVER (PARTITION BY batch_id ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS DOUBLE)
                    / {CP.PACK_BUDGET}) AS BIGINT) AS shard_id
  FROM keep14
)
SELECT batch_id, shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
FROM packed14 GROUP BY 1, 2 ORDER BY 1, 2"""


def _st14_stage(spark: SparkSession, sf_dir: str, state: str):
    """Two real ingest batches through the composed builder body (fresh
    pinned benchmark + curation state). Batch split and benchmark
    convention match st13's (corpus = doc_id % BENCH_MOD != 0, split at
    (max+1)//2 over all documents)."""
    docs = load_table(spark, sf_dir, "documents")
    require_pin(pin_benchmark(docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0), state), "st14")
    corpus = docs.filter(F.col("doc_id") % CP.BENCH_MOD != 0)
    body = lambda batch, b: build_corpus_batch(batch, state, batch_id=b)
    return halves(corpus, halving(docs)), body


_ST14 = TwoBatch("st14_state_", _st14_stage, drop_builder_state)


@register(
    "st14_builder_verdicts",
    oracle=_ST14_VERDICTS_ORACLE,
    doc="ST14 composed streaming corpus builder — the per-doc verdict relation: "
    "st13 contamination guard (pinned benchmark; contaminated docs dropped "
    "BEFORE the curation indexes see them), st11 curation verdict over the "
    "clean docs (st7 admission + st10 span trim + lang/quality on trimmed "
    "text), one FINAL row per incoming doc incl. drop_contaminated. Oracle "
    "feeds the dc1 guard fragments into the proven st11 ver CTEs via "
    "contamination-filtered batch predicates. Scale: guard is a broadcast-pin "
    "equi-join, the rest the audited st7/st10 probe plans — nothing "
    "stream-global per batch",
)
def st14_builder_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    verdicts, _ = unroll(spark, sf_dir, _ST14)
    return verdicts.select(
        "doc_id", "batch_id", "n_tokens", "n_kept", "admitted",
        "lang_trim", "q_trim", "verdict",
    ).orderBy("doc_id")


@register(
    "st14_corpus_builder",
    oracle=_ST14_MANIFEST_ORACLE,
    doc="ST14 composed streaming corpus builder — the per-batch DELIVERY "
    "MANIFEST: the batch's keep verdicts (guarded, admitted, trimmed, "
    "gate-scored) packed into 2048-token shards by TRIMMED token counts "
    "(pk1's two-level cumsum, shard ids batch-local), one row per (batch, "
    "shard) with doc/token accounting — what a training loader pulls from a "
    "streaming ingest. Scale: a filter over the batch's bounded materialized "
    "verdict relation into bkt-partitioned cumsum windows; the only "
    "single-partition exchange is the tiny per-bucket offsets relation",
)
def st14_corpus_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    _, manifest = unroll(spark, sf_dir, _ST14)
    return manifest.select(
        "batch_id", "shard_id", "n_docs", "total_tokens",
        "first_doc_id", "last_doc_id",
    ).orderBy("batch_id", "shard_id")


# --- ST16: guarded streaming RELEASE builder (st13 + st15 + st11) -------------------
# st14 with the split-hygiene stage wired in: per batch, contamination guard
# against the pinned benchmark, LEAKAGE guard against the pinned held-out
# (val/test) near-dup index, curation verdict over the surviving docs.
# Verdict precedence: contaminated > leaks > curation — both guard families
# drop BEFORE the curation indexes (an eval twin must not enter the banding
# where it would shadow genuine docs as their admitted copy).
_ST16_STAGE_T = CP.split_stage_sql("t.doc_id")
_ST16_STAGE_H = CP.split_stage_sql("h.doc_id")
_ST16_STAGE_D = CP.split_stage_sql("d.doc_id")
_ST16_STAGE = CP.split_stage_sql("doc_id")

_ST16_LEAK_CTES = f"""hsig AS MATERIALIZED (
  SELECT doc_id, {_TOKSH} AS toks, {_SIG} AS sig FROM documents
),
hb AS MATERIALIZED (
  SELECT doc_id, band,
         array_to_string(sig[band * {DD.ROWS_PER_BAND} + 1 : (band + 1) * {DD.ROWS_PER_BAND}], '-') AS key
  FROM hsig, (VALUES {_BANDS_SQL}) bb(band)
),
leaks AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM (
    SELECT t.doc_id AS doc_id, any_value(ts.toks) AS ta, any_value(hs.toks) AS tb
    FROM hb t JOIN hb h ON t.band = h.band AND t.key = h.key
    JOIN hsig ts ON ts.doc_id = t.doc_id
    JOIN hsig hs ON hs.doc_id = h.doc_id
    WHERE t.doc_id % {CP.BENCH_MOD} <> 0 AND ({_ST16_STAGE_T}) = 0
      AND t.doc_id NOT IN (SELECT doc_id FROM contam)
      AND ({_ST16_STAGE_H}) >= 1
    GROUP BY t.doc_id, h.doc_id
  ) WHERE {_DD3_JACCARD} >= 0.9
)"""

_ST16_CLEAN = (
    f"doc_id % {CP.BENCH_MOD} <> 0 AND ({_ST16_STAGE}) = 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM contam) "
    "AND doc_id NOT IN (SELECT doc_id FROM leaks)"
)
_ST16_PRED1 = f"{_ST16_CLEAN} AND doc_id < {_SPLIT}"
_ST16_PRED2 = f"{_ST16_CLEAN} AND doc_id >= {_SPLIT}"

_ST16_VERDICTS_ORACLE = f"""
WITH {_ST14_GUARD_CTES},
{_ST16_LEAK_CTES},
{_ver_ctes(_ST16_PRED1, _ST16_PRED2)}
SELECT doc_id, batch_id, n_tokens, n_kept, admitted, lang_trim, q_trim,
       {_ST14_VERDICT_CASE} AS verdict
FROM ver
UNION ALL
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id < {_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       CAST(len({_ST10_TOKS}) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_kept,
       FALSE AS admitted,
       CAST(NULL AS VARCHAR) AS lang_trim,
       CAST(NULL AS DOUBLE) AS q_trim,
       'drop_contaminated' AS verdict
FROM documents d JOIN contam c ON d.doc_id = c.doc_id
WHERE ({_ST16_STAGE_D}) = 0
UNION ALL
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id < {_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       CAST(len({_ST10_TOKS}) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_kept,
       FALSE AS admitted,
       CAST(NULL AS VARCHAR) AS lang_trim,
       CAST(NULL AS DOUBLE) AS q_trim,
       'drop_leaks_heldout' AS verdict
FROM documents d JOIN leaks l ON d.doc_id = l.doc_id
ORDER BY doc_id"""


def _st16_stage(spark: SparkSession, sf_dir: str, state: str):
    """Two real ingest batches through the guarded release body: benchmark
    AND held-out index pinned fresh, train-split corpus docs streamed in
    two halves with the leakage stage on. The body keeps the verdicts
    only, so the lazily checkpointed manifest is never packed."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    stage = CP.split_stage(F.col("doc_id"))
    require_pin(pin_benchmark(docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0), state), "st16")
    require_pin(pin_heldout(docs.filter(stage >= 1), os.path.join(state, LEAKAGE_SUBDIR)), "st16")
    corpus = docs.filter((F.col("doc_id") % CP.BENCH_MOD != 0) & (stage == 0))
    body = lambda batch, b: build_corpus_batch(batch, state, batch_id=b, leakage_guard=True)[0]
    return halves(corpus, halving(docs)), body


ST16 = TwoBatch("st16_state_", _st16_stage, drop_builder_state)


@register(
    "st16_guarded_release",
    oracle=_ST16_VERDICTS_ORACLE,
    doc="ST16 guarded streaming RELEASE builder — st14 with split hygiene "
    "wired in: per batch, st13 contamination guard (pinned benchmark "
    "shingles), st15 LEAKAGE guard (pinned held-out near-dup band index), "
    "st11 curation verdict over the survivors; one FINAL row per incoming "
    "train doc, precedence contaminated > leaks > curation, both guard "
    "families dropping BEFORE the curation indexes (index isolation). "
    "Scale: per batch, two broadcast-pin probes (shingle equi-join; band "
    "equi-join + survivor-only Jaccard) in front of the audited st11 body — "
    "nothing stream-global",
)
def st16_guarded_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, ST16, order=("doc_id",)).select(
        "doc_id", "batch_id", "n_tokens", "n_kept", "admitted",
        "lang_trim", "q_trim", "verdict",
    )
