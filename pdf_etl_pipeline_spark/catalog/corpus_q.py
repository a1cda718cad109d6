"""Corpus-management catalog — deterministic splits, stratified sampling,
sequence packing, benchmark decontamination, PII scrubbing over the
``documents`` table, each with an arithmetic-identical DuckDB oracle."""

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
from pdf_etl_pipeline_spark.llmdata import corpus as CP
from pdf_etl_pipeline_spark.session import load_table, tune
from pdf_etl_pipeline_spark.streaming.contamination_guard import (
    guard_contamination_batch,
    pin_benchmark,
)
from pdf_etl_pipeline_spark.streaming.leakage_guard import guard_leakage_batch, pin_heldout

_TOKS = CP.tokens_sql("text", distinct=False)


# --- SP1: deterministic train/val/test split ---------------------------------
_SPLIT_B = CP.hash_split_bucket_sql()

@register(
    "sp1_hash_split",
    oracle=f"""
SELECT doc_id, {_SPLIT_B} AS bucket,
       CASE WHEN {_SPLIT_B} < {CP.TRAIN_PCT} THEN 'train'
            WHEN {_SPLIT_B} < {CP.TRAIN_PCT + CP.VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id""",
    doc="SP1 salted-hash train/val/test split (90/5/5): reshard-stable membership, zero shuffle",
)
def sp1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.hash_split(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# --- SP2: stratified deterministic sampling ----------------------------------
_SAMP_B, _SAMP_RATE = CP.stratified_sample_sql()

@register(
    "sp2_stratified_sample",
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE {_SAMP_B} < {_SAMP_RATE} ORDER BY doc_id""",
    doc="SP2 per-language deterministic downsampling (salted hash vs per-stratum rate): nested samples, zero shuffle",
)
def sp2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.stratified_sample(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# --- SP3: temporal split with leakage embargo ---------------------------------
_SP3_CUTOFF = "2024-01-25 00:00:00"
_SP3_EMBARGO_S = 86_400  # 1 day >= the longest trailing-feature lookback


@register(
    "sp3_temporal_split",
    oracle=f"""
WITH labeled AS (
  SELECT event_id, ts, {CP.temporal_split_sql('ts', _SP3_CUTOFF, _SP3_EMBARGO_S)} AS split
  FROM events
)
SELECT split, COUNT(*) AS n_events,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM labeled GROUP BY 1 ORDER BY 1""",
    doc="SP3 temporal train/test split with a 1-day leakage embargo before the cutoff (purged-split discipline: trailing-window features may not straddle the boundary) — pure projection, partition-prunable at scale",
)
def sp3_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    labeled = CP.temporal_split(
        load_table(spark, sf_dir, "events"), "ts", _SP3_CUTOFF, _SP3_EMBARGO_S
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("split")
    )


# --- SP4: weighted sampling without replacement ------------------------------
@register(
    "sp4_weighted_sample",
    oracle=CP.weighted_sample_sql("documents", k=200),
    doc="SP4 deterministic weighted sampling without replacement (Efraimidis-Spirakis A-ES): hash-uniform u, key=ln(u)/n_chars, top-200 keys via TakeOrderedAndProject — probability-proportional-to-size yet fully reproducible, zero shuffle",
)
def sp4_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.weighted_sample(load_table(spark, sf_dir, "documents"), k=200)


# --- PK1: sequence packing (token-budget sharding) ---------------------------
@register(
    "pk1_sequence_packing",
    oracle=f"""
WITH d AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_tokens AS BIGINT) AS start_offset
  FROM d
)
SELECT doc_id, n_tokens,
       CAST(floor(CAST(start_offset AS DOUBLE) / {CP.PACK_BUDGET}) AS BIGINT) AS shard_id,
       start_offset
FROM c ORDER BY doc_id""",
    doc="PK1 greedy sequence packing into 2048-token shards via two-level cumulative sum (no single-partition global window)",
)
def pk1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.pack_sequences(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# --- DC1: benchmark decontamination ------------------------------------------
_SH = CP._shingle_hashes_sql("text", CP.DECON_N)

@register(
    "dc1_decontamination",
    oracle=f"""
WITH sh AS (SELECT doc_id, unnest({_SH}) AS h FROM documents),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {CP.BENCH_MOD} = 0),
corpus AS (SELECT doc_id, h FROM sh WHERE doc_id % {CP.BENCH_MOD} <> 0)
SELECT doc_id, COUNT(*) AS n_shared_shingles
FROM corpus JOIN bench USING (h)
GROUP BY 1 ORDER BY doc_id""",
    doc=f"DC1 benchmark decontamination: {CP.DECON_N}-gram shingle-hash equi-join (shuffle on the shingle, never doc x doc)",
)
def dc1_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.decontaminate(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# --- HH1: heavy hitters (sketch candidates + exact verify) --------------------
@register(
    "hh1_frequent_tokens",
    oracle=f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT tok, COUNT(*) AS cnt
FROM toks, tot
GROUP BY tok, n
HAVING COUNT(*) > {CP.HH_PHI} * n
ORDER BY cnt DESC, tok""",
    doc=f"HH1 exact heavy hitters (> {CP.HH_PHI:.0%} of tokens): per-partition Misra-Gries candidates (map-only) + exact recount of the candidate set — partitioning-independent output",
)
def hh1_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.frequent_tokens(load_table(spark, sf_dir, "documents"))


# --- TX5: PII scrubbing -------------------------------------------------------
# The synthetic corpus contains no PII, so the catalog query deterministically
# plants doc_id-derived emails / phone-shaped / SSN-shaped strings on a subset
# of documents before scrubbing — the oracle mirrors the augmentation, making
# the count/redact check non-trivial on every run.
def _aug_spark() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


_AUG_SQL = """text
  || CASE WHEN doc_id % 3 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 4 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"""

_SCRUB_SQL = (
    f"regexp_replace(regexp_replace(regexp_replace(aug, "
    f"'{CP.EMAIL_RE}', '[EMAIL]', 'g'), "
    f"'{CP.SSN_RE}', '[SSN]', 'g'), "
    f"'{CP.PHONE_RE}', '[PHONE]', 'g')"
)

@register(
    "tx5_pii_scrub",
    oracle=f"""
WITH a AS (SELECT doc_id, {_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
       len(regexp_extract_all(aug, '{CP.EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(aug, '{CP.SSN_RE}')) AS n_ssns,
       len(regexp_extract_all(aug, '{CP.PHONE_RE}')) AS n_phones,
       md5({_SCRUB_SQL}) AS scrub_md5
FROM a ORDER BY doc_id""",
    doc="TX5 PII scrub: count + redact email/SSN/phone patterns (RE2-safe regexes, pure codegen, zero shuffle)",
)
def tx5_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    d = load_table(spark, sf_dir, "documents").withColumn("aug", _aug_spark())
    return CP.pii_scrub(d, text="aug").orderBy("doc_id")


# --- DC2: near-duplicate decontamination --------------------------------------
from pdf_etl_pipeline_spark.llmdata import dedup as DD  # noqa: E402

_DC2_SIG = DD.minhash_signature_sql("text")
_DC2_TOKSH = DD.token_hashes_sql("text")
_DC2_BANDS = ", ".join(f"({b})" for b in range(DD.BANDS))


@register(
    "dc2_near_decontamination",
    oracle=f"""
WITH sigs AS (SELECT doc_id, {_DC2_SIG} AS sig FROM documents),
banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band * {DD.ROWS_PER_BAND} + 1 : (band + 1) * {DD.ROWS_PER_BAND}], '-') AS key
  FROM sigs, (VALUES {_DC2_BANDS}) bb(band)
),
cands AS (
  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id
  FROM banded c JOIN banded b
    ON c.band = b.band AND c.key = b.key
   AND c.doc_id % {CP.BENCH_MOD} <> 0 AND b.doc_id % {CP.BENCH_MOD} = 0
  GROUP BY 1, 2
),
toks AS (SELECT doc_id, {_DC2_TOKSH} AS th FROM documents)
SELECT cands.doc_id AS doc_id, cands.bench_id AS bench_id,
       round(len(list_intersect(ta.th, tb.th)) /
             (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))), 6) AS jaccard
FROM cands
JOIN toks ta ON ta.doc_id = cands.doc_id
JOIN toks tb ON tb.doc_id = cands.bench_id
WHERE len(list_intersect(ta.th, tb.th)) /
      (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))) >= 0.9
ORDER BY cands.doc_id, cands.bench_id""",
    doc="DC2 near-duplicate benchmark decontamination: MinHash-LSH banding made BIPARTITE (corpus bands vs broadcast benchmark bands — benchmarks are thousands of docs, the corpus is billions; no self-join), exact Jaccard verify on banding survivors only — catches the paraphrased leakage exact-shingle dc1 misses",
)
def dc2_near_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.near_decontaminate(load_table(spark, sf_dir, "documents"))


# --- SP5: T5 span corruption -----------------------------------------------------
@register(
    "sp5_span_corruption",
    oracle=CP.span_corruption_sql("documents"),
    doc="SP5 deterministic T5-style span corruption (the text-to-text pretraining "
    "pair generated in-plan): salted-hash 15% token mask, adjacent masked "
    "positions merged into sentinel-numbered spans, corrupted input and "
    "sentinel-delimited target re-assembled per doc and md5 hash-checked — "
    "bit-identical pairs on any partitioning/engine, epoch variation by salt "
    "string instead of per-worker RNG state. One posexplode + doc-partitioned "
    "island window over masked positions only",
)
def sp5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return CP.span_corruption(load_table(spark, sf_dir, "documents"))


# --- ST13: streaming contamination guard (dc1 at admission time) -------------------
_ST13_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"

_ST13_ORACLE = f"""
WITH sh AS (SELECT doc_id, unnest({_SH}) AS h FROM documents),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {CP.BENCH_MOD} = 0),
corpus AS (SELECT doc_id FROM documents WHERE doc_id % {CP.BENCH_MOD} <> 0),
hits AS (
  SELECT s.doc_id, COUNT(*) AS ns
  FROM sh s JOIN bench USING (h)
  WHERE s.doc_id % {CP.BENCH_MOD} <> 0
  GROUP BY 1
)
SELECT c.doc_id,
       CAST(CASE WHEN c.doc_id < {_ST13_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       CAST(COALESCE(h.ns, 0) AS BIGINT) AS n_shared_shingles,
       COALESCE(h.ns, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id"""


@register(
    "st13_contamination_guard",
    oracle=_ST13_ORACLE,
    doc=f"ST13 streaming contamination guard — dc1 at admission time: the "
    f"benchmark's distinct {CP.DECON_N}-gram shingle hashes are PINNED once "
    "(write-once, replay/restart-immutable), every arriving batch is screened "
    "against the pin before admission — one FINAL verdict row per doc "
    "(n_shared_shingles, contaminated), batches independent by construction "
    "(screened against the pin only, never each other). Runs the real "
    "foreachBatch body over a two-batch unroll. Scale: one corpus-linear "
    "shingle explode per batch, an equi-join whose build side is the "
    "broadcast eval-suite-sized pin, one keyed count — nothing stream-global",
)
def st13_contamination_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST13, order=("doc_id",)).select(
        "doc_id", "batch_id", "n_shared_shingles", "contaminated"
    )


def _st13_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    require_pin(pin_benchmark(docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0), state), "st13")
    corpus = docs.filter(F.col("doc_id") % CP.BENCH_MOD != 0)
    body = lambda batch, b: guard_contamination_batch(batch, state)
    return halves(corpus, halving(docs)), body


_ST13 = TwoBatch("st13_state_", _st13_stage)


# --- ST15: streaming split-leakage guard (dq8 at admission time) --------------------
# The held-out splits' MinHash band index + verify token sets are PINNED once;
# every arriving TRAIN batch probes the pin (dc2's bipartite banding — batch
# bands vs broadcast held-out bands, exact Jaccard on survivors only) and
# emits one verdict row per doc. Batches screen against the pin only, never
# each other — replays are bit-identical.
_ST15_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"

_ST15_ORACLE = f"""
WITH sigs AS (SELECT doc_id, {_DC2_SIG} AS sig FROM documents),
banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band * {DD.ROWS_PER_BAND} + 1 : (band + 1) * {DD.ROWS_PER_BAND}], '-') AS key
  FROM sigs, (VALUES {_DC2_BANDS}) bb(band)
),
stage AS (SELECT doc_id, {CP.split_stage_sql('doc_id')} AS s FROM documents),
held AS (
  SELECT b.doc_id AS heldout_id, band, key
  FROM banded b JOIN stage USING (doc_id) WHERE s >= 1
),
train_b AS (
  SELECT b.doc_id, band, key
  FROM banded b JOIN stage USING (doc_id) WHERE s = 0
),
cands AS (
  SELECT t.doc_id, h.heldout_id
  FROM train_b t JOIN held h ON t.band = h.band AND t.key = h.key
  GROUP BY 1, 2
),
toksh AS (SELECT doc_id, {_DC2_TOKSH} AS th FROM documents),
ver AS (
  SELECT c.doc_id, c.heldout_id,
         len(list_intersect(ta.th, tb.th)) /
         (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))) AS jac
  FROM cands c
  JOIN toksh ta ON ta.doc_id = c.doc_id
  JOIN toksh tb ON tb.doc_id = c.heldout_id
),
hits AS (
  SELECT doc_id, COUNT(DISTINCT heldout_id) AS nh, MAX(jac) AS mx
  FROM ver WHERE jac >= 0.9 GROUP BY 1
)
SELECT st.doc_id,
       CAST(CASE WHEN st.doc_id < {_ST15_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_heldout_dups,
       round(h.mx, 6) AS max_jaccard,
       COALESCE(h.nh, 0) > 0 AS leaks
FROM stage st LEFT JOIN hits h ON st.doc_id = h.doc_id
WHERE st.s = 0
ORDER BY st.doc_id"""


@register(
    "st15_leakage_guard",
    oracle=_ST15_ORACLE,
    doc="ST15 streaming split-leakage guard — dq8 at admission time: the "
    "held-out (val/test) splits' MinHash band index + verify token sets are "
    "PINNED once (write-once, toks-then-bands so a torn pin reads as "
    "unpinned and the guard refuses), every arriving TRAIN batch probes the "
    "pin and emits one FINAL verdict row per doc (n_heldout_dups, "
    "max_jaccard, leaks). Runs the real foreachBatch body over a two-batch "
    "unroll. Scale: per batch one tokenize+hash pass, a band equi-join whose "
    "build side is the broadcast 10%-sized pinned index (64-bit keys, never "
    "text), exact Jaccard on banding survivors only — nothing stream-global",
)
def st15_leakage_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST15, order=("doc_id",)).select(
        "doc_id", "batch_id", "n_heldout_dups", "max_jaccard", "leaks"
    )


def _st15_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    stage = CP.split_stage(F.col("doc_id"))
    require_pin(pin_heldout(docs.filter(stage >= 1), state), "st15")
    body = lambda batch, b: guard_leakage_batch(batch, state)
    return halves(docs.filter(stage == 0), halving(docs)), body


_ST15 = TwoBatch("st15_state_", _st15_stage)
