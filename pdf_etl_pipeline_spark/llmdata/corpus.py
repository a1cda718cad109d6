"""Corpus management for training-data pipelines (north-star op set):
deterministic splits, stratified sampling, sequence packing, benchmark
decontamination, PII scrubbing.

All operators are hash-deterministic (engine-portable md5-fold — no RNG,
no partition-order dependence) so reruns and the DuckDB oracle reproduce
them bit-for-bit, and resharding the input cannot move a document between
splits/samples — the property `rand()`-based sampling lacks.

Scale notes per operator live on the functions; the common theme: splits,
sampling and PII are pure codegen projections (zero shuffle at 100 TB);
packing uses a two-level cumulative sum so no single task ever sees the
whole corpus; decontamination shuffles on the shingle hash (the join key),
never materializing a doc × doc relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions.scalars import portable_hash32, portable_hash32_sql
from pdf_etl_pipeline_spark.llmdata.dedup import P31, tokens_col, tokens_sql
from pdf_etl_pipeline_spark.session import materialized

# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------
SPLIT_SALT = "split_"
TRAIN_PCT, VAL_PCT = 90, 5  # train <90, val 90-94, test >=95


def _salted_bucket(doc_id: Column, salt: str, mod: int) -> Column:
    return portable_hash32(F.concat(F.lit(salt), doc_id.cast("string"))) % mod


def _salted_bucket_sql(salt: str, mod: int, col: str = "doc_id") -> str:
    return portable_hash32_sql(f"'{salt}' || CAST({col} AS VARCHAR)") + f" % {mod}"


def hash_split(docs: DataFrame) -> DataFrame:
    """Assign every document to train/val/test by salted content-stable hash.

    The salt namespaces this split from any other hash use (sampling,
    sharding) so the subsets are statistically independent. Pure projection:
    at 100 TB this is a zero-shuffle map over the scan, and membership is
    reproducible from doc_id alone — no seed state to persist.
    """
    b = _salted_bucket(F.col("doc_id"), SPLIT_SALT, 100)
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", b.cast("long").alias("bucket"), split.alias("split"))


def hash_split_bucket_sql() -> str:
    return _salted_bucket_sql(SPLIT_SALT, 100)


def split_stage(doc_id: Column) -> Column:
    """Ordinal split stage (0=train, 1=val, 2=test) from a doc-id column.

    Same salted-hash arithmetic as :func:`hash_split`, but usable directly on
    pair relations (doc_a / doc_b) — the leakage audit never joins pairs back
    to the documents table for membership: at 100 TB the staging is a pure
    projection over the (corpus-linear) near-dup pair relation.
    """
    b = _salted_bucket(doc_id, SPLIT_SALT, 100)
    return (
        F.when(b < TRAIN_PCT, F.lit(0))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit(1))
        .otherwise(F.lit(2))
    )


def split_stage_sql(col: str) -> str:
    """DuckDB twin of :func:`split_stage` for an arbitrary id column."""
    b = _salted_bucket_sql(SPLIT_SALT, 100, col)
    return (
        f"CASE WHEN {b} < {TRAIN_PCT} THEN 0 "
        f"WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 1 ELSE 2 END"
    )


def split_name_sql(stage_expr: str) -> str:
    return f"CASE {stage_expr} WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END"


def split_leakage(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup leakage audit across the hash split (dq8).

    For every unordered split combination, counts the near-dup pairs landing
    in it and the distinct documents on the MORE-held-out side carrying a
    dup (``is_leak`` marks cross-split rows — a val/test doc with a train
    near-dup is contamination; same-split rows are ordinary redundancy).
    ``dup_doc_rate`` normalizes by the held-out split's size.

    Scale: ``pairs`` is the dd3 banded relation (corpus-linear, never
    doc × doc); split staging is a zero-shuffle projection over it (no join
    with ``docs``); the aggregate is 6 rows; split sizes are one
    scan-aggregate broadcast into the final join. Nothing here grows faster
    than the pair relation itself.
    """
    sa, sb = split_stage(F.col("doc_a")), split_stage(F.col("doc_b"))
    staged = pairs.select(
        F.least(sa, sb).alias("lo_s"),
        F.greatest(sa, sb).alias("hi_s"),
        # pairs arrive doc_a < doc_b, so the tie (sa == sb) picks doc_a
        # deterministically in both engines
        F.when(sa >= sb, F.col("doc_a")).otherwise(F.col("doc_b")).alias("hi_doc"),
    )
    agg = staged.groupBy("lo_s", "hi_s").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("hi_doc").alias("n_dup_docs"),
    )
    sizes = (
        docs.select(split_stage(F.col("doc_id")).alias("hi_s"))
        .groupBy("hi_s")
        .agg(F.count(F.lit(1)).alias("n_docs_hi"))
    )
    name = lambda c: F.when(c == 0, "train").when(c == 1, "val").otherwise("test")  # noqa: E731
    return agg.join(F.broadcast(sizes), "hi_s").select(
        name(F.col("lo_s")).alias("split_lo"),
        name(F.col("hi_s")).alias("split_hi"),
        (F.col("lo_s") != F.col("hi_s")).alias("is_leak"),
        "n_pairs",
        "n_dup_docs",
        "n_docs_hi",
        F.round(F.col("n_dup_docs") / F.col("n_docs_hi"), 6).alias("dup_doc_rate"),
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo_s: int,
) -> DataFrame:
    """Time-based train/test split with a leakage EMBARGO: rows in the
    ``embargo_s`` seconds before ``cutoff`` are assigned to neither side.

    A random (hash) split leaks for time-series models — trailing-window
    features computed on a training row just before the cutoff overlap the
    test period. The embargo gap (= the longest feature lookback) removes
    the straddling rows, the standard purged-split discipline from
    financial ML. Pure projection over the scan: zero shuffle at any
    scale, and at 100 TB a ts-partitioned table turns the three ranges
    into partition pruning."""
    ts = F.col(ts_col)
    cut = F.to_timestamp(F.lit(cutoff))
    emb_start = cut - F.make_interval(secs=F.lit(embargo_s))
    split = (
        F.when(ts < emb_start, "train")
        .when(ts < cut, "embargo")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def temporal_split_sql(ts_col: str, cutoff: str, embargo_s: int) -> str:
    """The split CASE as a DuckDB expression (same boundary semantics)."""
    return f"""CASE
  WHEN {ts_col} < TIMESTAMP '{cutoff}' - INTERVAL {embargo_s} SECOND THEN 'train'
  WHEN {ts_col} < TIMESTAMP '{cutoff}' THEN 'embargo'
  ELSE 'test' END"""


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------
SAMPLE_SALT = "sample_"
# per-language keep rates in basis points (of 10_000)
STRATA_RATES_BP = {"en": 5000, "fr": 2500, "es": 2500, "de": 2500, "zh": 1000}
DEFAULT_RATE_BP = 0


def stratified_sample(docs: DataFrame, rates_bp: dict[str, int] | None = None) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a document iff its
    salted hash bucket (of 10 000) falls below the stratum's rate.

    The classic corpus-mixing op (upweight/downweight sources or
    languages). Because membership is a pure function of (doc_id, salt),
    raising a rate strictly grows the sample (nested samples), and the
    same doc never flips between runs or partitionings. Zero shuffle.
    """
    rates = rates_bp or STRATA_RATES_BP
    b = _salted_bucket(F.col("doc_id"), SAMPLE_SALT, 10_000)
    rate = F.lit(DEFAULT_RATE_BP)
    for lang, bp in rates.items():
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    return docs.filter(b < rate).select("doc_id", "lang")


def stratified_sample_sql(rates_bp: dict[str, int] | None = None) -> tuple[str, str]:
    """(bucket_expr, rate_case_expr) mirroring ``stratified_sample``."""
    rates = rates_bp or STRATA_RATES_BP
    b = _salted_bucket_sql(SAMPLE_SALT, 10_000)
    case = f"{DEFAULT_RATE_BP}"
    for lang, bp in rates.items():
        case = f"CASE WHEN lang = '{lang}' THEN {bp} ELSE {case} END"
    return b, case


WEIGHTED_SALT = "wsample_"
U32 = 1 << 32


def weighted_sample(docs: DataFrame, k: int = 200) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-ES one-pass scheme): each doc draws a
    hash-derived uniform u ∈ (0,1] and competes on key = ln(u)/w with
    weight w = n_chars; the k LARGEST keys are the sample. Inclusion
    probability is proportional to weight, yet the whole draw is a pure
    function of (doc_id, salt) — reproducible across runs, partitionings,
    and engines, unlike ``rand()``-based sampling.

    Shape for scale: keys are computed in the scan (zero shuffle) and the
    selection is an ordered top-k — TakeOrderedAndProject keeps per-task
    heaps of k rows and merges on the driver; no global sort, no
    all-data exchange, the same shape as W5. This is how you draw a
    quality-weighted pretraining subset from 100 TB in one pass.

    Determinism: keys are rounded to 9 decimals in both engines (libm
    ``ln`` ulp convention) with doc_id as the total-order tiebreak.

    Zero-weight docs (n_chars <= 0) are filtered out before the draw:
    A-ES gives weight-0 items zero inclusion probability, and computing
    their key would divide by zero — ln(u)/0 = -Inf, and in the u == 1
    corner 0/0 = NaN, which Spark's DESC sort orders ABOVE every double,
    so a NaN-keyed empty doc would otherwise top the sample.
    """
    u = (_salted_bucket(F.col("doc_id"), WEIGHTED_SALT, U32) + 1) / F.lit(float(U32))
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    eligible = docs.filter(F.col("n_chars") > 0)
    ranked = eligible.select("doc_id", "n_chars", key.alias("key")).orderBy(
        F.desc("key"), F.asc("doc_id")
    )
    # intentional single-partition window: applied AFTER limit(k), so it
    # ranks at most k sampled rows, never the corpus
    w = Window.orderBy(F.desc("key"), F.asc("doc_id"))
    return ranked.limit(k).withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "n_chars", "key"
    )


def weighted_sample_sql(table: str, k: int = 200) -> str:
    """DuckDB oracle for :func:`weighted_sample` — identical arithmetic."""
    u = f"(({_salted_bucket_sql(WEIGHTED_SALT, U32)}) + 1) / {float(U32)}"
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars, round(ln({u}) / n_chars, 9) AS key
  FROM {table} WHERE n_chars > 0
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY key DESC, doc_id) AS rank FROM keyed
)
SELECT rank, doc_id, n_chars, key FROM ranked WHERE rank <= {k}
ORDER BY rank"""


# ---------------------------------------------------------------------------
# Sequence packing (token-budget sharding)
# ---------------------------------------------------------------------------
PACK_BUDGET = 2048  # tokens per shard
PACK_BUCKET = 10_000  # doc_ids per cumsum bucket (level-1 parallelism unit)


CURRICULUM_SALT = "curriculum_"
CURRICULUM_THRESHOLDS = (0.75, 0.65, 0.6)  # stage 0 = highest quality first
CURRICULUM_BUCKETS = 64


def curriculum_order(
    docs: DataFrame,
    thresholds: tuple = CURRICULUM_THRESHOLDS,
    n_buckets: int = CURRICULUM_BUCKETS,
) -> DataFrame:
    """Deterministic curriculum training order (cc13): stage documents by
    quality score (highest first), pseudo-shuffle WITHIN each stage by a
    salted hash (training order must not correlate with doc_id / crawl
    order), and assign every document a global position.

    The global position is stage-major rank over ``(stage, h, doc_id)``,
    computed with pk1's two-level trick so it scales: a row_number within
    each ``(stage, hash-bucket)`` partition (bounded rows per task, all
    buckets in parallel), plus a cumulative offset over the tiny
    ``stages × n_buckets`` count relation broadcast back. No global sort —
    a naive ``Window.orderBy(stage, h)`` would collapse the corpus onto one
    task at 100 TB. Reshard-stable and seedless: position is a pure function
    of (text, doc_id).
    """
    from pdf_etl_pipeline_spark.llmdata.text import quality_score_col

    return curriculum_rank(
        docs.select("doc_id", quality_score_col("text").alias("quality_score")),
        thresholds,
        n_buckets,
    )


def curriculum_rank(
    scored: DataFrame,
    thresholds: tuple = CURRICULUM_THRESHOLDS,
    n_buckets: int = CURRICULUM_BUCKETS,
) -> DataFrame:
    """The two-level stage-major rank over a PRE-SCORED ``(doc_id,
    quality_score)`` relation — the composition point: cc13 scores the raw
    corpus, cc14 feeds the curated keep set (whose scores were already
    computed by the curation funnel).

    ``n_buckets`` is the scale dial: per-(stage, bucket) window rows are
    ~corpus / (stages × n_buckets), so the default 64 is sized for the
    test SFs and a 100 TB corpus sets n_buckets ≈ corpus_docs / 1e6 to
    bound each window task at ~1M rows. The offsets relation stays
    stages × n_buckets rows — still broadcast-sized at billions of docs
    (4M rows at 1e12); past that the offsets cumsum itself becomes a
    second two-level pass (pk1's recursion). Measured (SCALE.md r14):
    per-row cost is FLAT across the 100×→1000× decade (0.086 → 0.083
    ms/row), i.e. the operator is corpus-linear with bounded tasks —
    e→1 wall-clock is the honest shape for a full-manifest deliverable."""
    t0, t1, t2 = thresholds
    base = scored.select(
        "doc_id",
        "quality_score",
        _salted_bucket(F.col("doc_id"), CURRICULUM_SALT, 2**31).alias("h"),
    ).withColumn(
        "stage",
        F.when(F.col("quality_score") >= t0, 0)
        .when(F.col("quality_score") >= t1, 1)
        .when(F.col("quality_score") >= t2, 2)
        .otherwise(3),
    ).withColumn(
        # RANGE bucket (h // width), not h % n: bucket-major order must equal
        # h order for the two-level rank to reproduce ORDER BY (stage, h);
        # hash values are uniform, so range buckets stay balanced anyway
        "bkt",
        (F.col("h") / (2**31 // n_buckets + 1)).cast("long"),
    )
    in_b = Window.partitionBy("stage", "bkt").orderBy("h", "doc_id")
    local = base.withColumn("local_rank", F.row_number().over(in_b))
    # intentional single-partition window: over the (stage, bkt) COUNT
    # aggregate — one row per bucket, bounded by the fixed bucket count
    off_w = Window.orderBy("stage", "bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("stage", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("offset", F.coalesce(F.sum("n").over(off_w), F.lit(0)))
        .select("stage", "bkt", "offset")
    )
    return local.join(F.broadcast(offsets), ["stage", "bkt"]).select(
        "doc_id",
        "quality_score",
        F.col("stage").cast("long").alias("stage"),
        (F.col("offset") + F.col("local_rank") - 1).cast("long").alias("position"),
    )


def curriculum_order_oracle_sql(quality_sql: str) -> str:
    """DuckDB twin of :func:`curriculum_order` — a plain global row_number
    (the oracle may do what the engine must not)."""
    t0, t1, t2 = CURRICULUM_THRESHOLDS
    h = _salted_bucket_sql(CURRICULUM_SALT, 2**31)
    return f"""
WITH scored AS (
  SELECT doc_id, round(({quality_sql}), 6) AS quality_score, {h} AS h
  FROM documents
),
staged AS (
  SELECT *, CASE WHEN quality_score >= {t0} THEN 0
                 WHEN quality_score >= {t1} THEN 1
                 WHEN quality_score >= {t2} THEN 2 ELSE 3 END AS stage
  FROM scored
)
SELECT doc_id, quality_score, stage,
       row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS position
FROM staged ORDER BY position"""


def pack_sequences(docs: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Greedy contiguous sequence packing over raw documents: computes
    whitespace token counts, then delegates to ``pack_counts``."""
    n_tok = F.size(tokens_col("text", distinct=False)).cast("long")
    return pack_counts(docs.select("doc_id", n_tok.alias("n_tokens")), budget)


def pack_counts(
    counts: DataFrame, budget: int = PACK_BUDGET, order_col: str = "doc_id"
) -> DataFrame:
    """Greedy contiguous sequence packing: documents fill shards of
    ``budget`` tokens in ``order_col`` order (doc_id by default; cc14 packs
    in curriculum-position order); a document starts in the shard where
    its running offset lands (the streaming-fill packer every training
    loader uses — shards may overflow by at most one document).

    ``counts`` is a ``(doc_id, n_tokens)`` relation — raw documents, or a
    curated subset (composition point for the curation pipeline).

    The global running token count is computed in TWO levels so it scales:
    (1) a window cumsum WITHIN each order bucket (`order_col // PACK_BUCKET`,
    bounded rows per task, all buckets in parallel), (2) a cumsum over the
    tiny per-bucket totals relation (#buckets rows — KBs at 100 TB)
    broadcast-joined back as each bucket's starting offset. No single task
    ever sorts or scans the whole corpus, unlike a naive global
    ``Window.orderBy`` which collapses to one partition.
    """
    d = counts.select(
        "doc_id",
        "n_tokens",
        F.col(order_col).alias("_ord"),
        (F.col(order_col) / PACK_BUCKET).cast("long").alias("bkt"),
    )
    in_bkt = Window.partitionBy("bkt").orderBy("_ord").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = d.withColumn("local_cum", F.sum("n_tokens").over(in_bkt))
    # intentional single-partition window: over the per-bucket TOTAL
    # aggregate — one row per PACK_BUCKET range, bounded
    totals_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("n_tokens").alias("bkt_total"))
        .withColumn("bkt_offset", F.coalesce(F.sum("bkt_total").over(totals_w), F.lit(0)))
        .select("bkt", "bkt_offset")
    )
    start = F.col("bkt_offset") + F.col("local_cum") - F.col("n_tokens")
    return (
        local.join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(start / budget).cast("long").alias("shard_id"),
            start.alias("start_offset"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------
DECON_N = 5  # word n-gram size (13 is the common LLM choice; 5 fits short docs)
BENCH_MOD = 97  # synthetic benchmark set: doc_id % 97 == 0


def _shingle_hashes(text: Column | str, n: int) -> Column:
    """Distinct portable hashes of word n-gram shingles.

    The token array is let-bound (r16): the ``element_at`` references
    inside the gram lambda previously re-ran the whole split+lower
    tokenizer PER GRAM PER OFFSET — O(n_tokens · n) tokenizer evaluations
    per row; bound, it runs once."""
    from pdf_etl_pipeline_spark.functions.scalars import let_col

    toks = tokens_col(text, distinct=False)

    def body(ts: Column) -> Column:
        starts = F.sequence(F.lit(1), F.greatest(F.size(ts) - (n - 1), F.lit(0)))
        mk = lambda i: F.concat_ws(" ", *[F.element_at(ts, i + off) for off in range(n)])
        grams = F.when(F.size(ts) >= n, F.transform(starts, mk)).otherwise(
            F.array().cast("array<string>")
        )
        return F.array_distinct(F.transform(grams, lambda g: portable_hash32(g) % P31))

    return let_col(toks, body)


def _shingle_hashes_sql(expr: str, n: int) -> str:
    toks = tokens_sql(expr, distinct=False)
    parts = " || ' ' || ".join(f"({toks})[i + {off}]" for off in range(n))
    h = portable_hash32_sql("g") + f" % {P31}"
    return (
        f"list_distinct(list_transform(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), i -> {parts}), g -> {h}))"
    )


def decontaminate(docs: DataFrame, n: int = DECON_N) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with the benchmark
    set (here: the deterministic pseudo-benchmark ``doc_id % BENCH_MOD == 0``;
    in production the benchmark relation is the eval suites' text).

    Both sides explode to (doc, shingle-hash) and meet in an equi-join on
    the hash — the shuffle key — so cost is linear in shingle volume and
    the quadratic doc × doc relation never exists. The benchmark side is
    eval-suite-sized (small), so AQE broadcasts it without a forced hint.
    Emits one row per contaminated corpus doc with its overlap count.
    """
    sh = _shingle_hashes("text", n)
    bench = (
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(sh).alias("h"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.explode(sh).alias("h")
    )
    return (
        corpus.join(bench, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Heavy hitters: sketch candidates + exact verification
# ---------------------------------------------------------------------------
HH_PHI = 0.01  # report tokens with frequency > phi * total
HH_COUNTERS = 256  # Misra-Gries counters per partition (>= 1/phi with margin)


def frequent_tokens(
    docs: DataFrame, phi: float = HH_PHI, counters: int = HH_COUNTERS
) -> DataFrame:
    """Exact heavy hitters (tokens with count > ``phi`` · total) via the
    sketch-then-verify shape: per-partition Misra-Gries candidate
    generation, then an exact recount restricted to the candidate set.

    Misra-Gries with k counters guarantees every item with global count
    > n/k survives in at least one partition's summary (pigeonhole over the
    per-partition decrements), so with k ≥ 1/phi the candidate union is a
    SUPERSET of the answer under ANY partitioning — the exact recount +
    threshold makes the final output partitioning-independent, which is why
    a DuckDB oracle can check it. Avoids a full-vocabulary shuffle: phase 1
    is map-only (k-row summaries per partition), phase 2 shuffles only the
    candidate-filtered tokens. The same candidates-then-verify shape as the
    MinHash-LSH dedup path.

    The recount and the grand total come from ONE aggregation over ONE scan:
    the group key is ``tok`` for candidates and NULL for everything else, so
    map-side partial aggregation collapses the non-candidate mass to at most
    one row per task (shuffle volume ≈ candidates + #partitions, same as the
    semi-join form) and ``sum(cnt)`` over the tiny aggregated relation is
    exactly the corpus token count — no second full pass just for the
    denominator.
    """
    import pandas as pd

    toks = docs.select(F.explode(tokens_col("text", distinct=False)).alias("tok"))

    def mg(batches):
        # Vectorized Misra-Gries in its mergeable-summaries form (Agarwal,
        # Cormode et al. 2012): each Arrow batch collapses to an exact
        # value_counts (a zero-error summary), summaries merge by counter
        # addition, and the prune-to-k step subtracts the (k+1)-th largest
        # count from every counter and drops the non-positives. Merged
        # error stays ≤ n/(k+1), so the superset guarantee is the same as
        # the classic per-token loop — with no per-element Python.
        acc = None
        for pdf in batches:
            bc = pdf["tok"].value_counts()
            acc = bc if acc is None else acc.add(bc, fill_value=0)
            if len(acc) > counters:
                thresh = acc.nlargest(counters + 1).iloc[-1]
                acc = acc[acc > thresh] - thresh
        yield pd.DataFrame(
            {"tok": [] if acc is None else acc.index.to_numpy(dtype=object)}
        )

    cands = toks.mapInPandas(mg, "tok string").distinct()
    marked = toks.join(
        F.broadcast(cands.withColumn("is_cand", F.lit(True))), "tok", "left"
    )
    counted = marked.groupBy(
        F.when(F.col("is_cand"), F.col("tok")).alias("tok")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())  # ≤ k·partitions+1 rows
    return (
        counted.withColumn("total", total)
        .filter(F.col("tok").isNotNull() & (F.col("cnt") > phi * F.col("total")))
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------
# RE2-compatible (no lookaround) so the DuckDB oracle runs them verbatim.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame, text: Column | str = "text") -> DataFrame:
    """Count and redact email / SSN-shaped / phone-shaped substrings.

    Pure codegen regex pass (counts + three sequential replaces), zero
    shuffle. Replace order matters and is fixed: emails first (their local
    part may contain digit runs), then SSN (3-2-4 groups), then phone
    (3-3-4) — the patterns are disjoint after each predecessor is removed.
    Emits counts plus the md5 of the scrubbed text (the scrubbed corpus
    itself at scale; the digest keeps the gate's compare narrow).
    """
    t = F.col(text) if isinstance(text, str) else text
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), SSN_RE, "[SSN]"
        ),
        PHONE_RE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(SSN_RE)).cast("long").alias("n_ssns"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


def near_decontaminate(docs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """DC2: NEAR-duplicate benchmark contamination — MinHash-LSH banding
    between the corpus and the benchmark set (``doc_id % BENCH_MOD == 0``),
    catching the paraphrased/lightly-edited leakage that exact-shingle
    decontamination (:func:`decontaminate`) misses.

    Shape for scale: identical to dd3 with the join made BIPARTITE — the
    benchmark side's bands are a tiny relation (benchmarks are thousands
    of docs, the corpus is billions), so the band equi-join broadcasts
    the benchmark bands and the corpus side never self-joins; the exact
    Jaccard verify touches only banding survivors.

    Output: (doc_id, bench_id, jaccard) for corpus docs within
    ``threshold`` of any benchmark doc, checkpointed eagerly (the
    contamination pairs are small). The hashed-token relation feeds the
    signatures AND both sides' verify sets, so it is cached for this one
    run — uncached, Catalyst replicates the tokenize+md5 explode per
    consumer (the dd3 lesson) — and released before returning.
    """
    result, hashed, _ = _near_decontaminate_plan(docs, threshold)
    with materialized(hashed):
        return result.localCheckpoint()


def _near_decontaminate_plan(docs: DataFrame, threshold: float) -> tuple[DataFrame, ...]:
    """:func:`near_decontaminate`'s lazy plan, the hashed tokens it caches
    (see ``dedup._minhash_lsh_plan``) and its banding candidates."""
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        bands_from_signatures,
        hashed_tokens,
        jaccard,
        pair_sets,
        reported,
        signatures_from_hashed,
        verified,
    )

    is_bench = F.col("doc_id") % BENCH_MOD == 0
    hashed = hashed_tokens(docs).dropDuplicates(["doc_id", "h"])
    bands = bands_from_signatures(signatures_from_hashed(hashed))
    corpus_bands = bands.filter(~is_bench)
    bench_bands = bands.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), "band", "key"
    )
    cands = (
        corpus_bands.join(F.broadcast(bench_bands), ["band", "key"])
        .select("doc_id", "bench_id")
        .dropDuplicates()
    )
    toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("th"))
    pairs = pair_sets(cands, toks, "th", "doc_id", "bench_id")
    result = (
        verified(pairs, ["doc_id", "bench_id"], threshold, jaccard=jaccard("ta", "tb"))
        .select("doc_id", "bench_id", reported("jaccard"))
        .orderBy("doc_id", "bench_id")
    )
    return result, hashed, cands


# --- T5-style deterministic span corruption (sp5) ---------------------------------
MASK_RATE_PCT = 15  # target corruption rate (T5 uses 15%)
MASK_SALT = "mask_"


def span_corruption(docs: DataFrame) -> DataFrame:
    """Deterministic T5-style span corruption (Raffel et al. 2020 §3.1.4):
    the encoder/decoder pretraining pair generated IN-PLAN. Each token
    position is masked by a salted hash draw at MASK_RATE_PCT; runs of
    adjacent masked positions merge into spans; span k is replaced by the
    sentinel ``<extra_id_k>`` in the corrupted input, and the target is
    the sentinel-delimited sequence of removed spans — exactly the
    text-to-text objective's example shape.

    Determinism is the point: the draw is portable_hash32(salt‖doc_id‖
    ':'‖pos), so the same corpus yields bit-identical training pairs on
    any cluster, any partitioning, any engine — the DuckDB oracle
    reproduces both md5s. (Real pipelines vary the mask per epoch by
    changing the salt — one string, not one RNG state per worker.)

    Shape for scale: one posexplode (corpus-linear), the island merge
    over MASKED positions only (doc_id-partitioned window), and two
    collect_list re-assemblies bounded by document length. No shuffle
    beyond the doc_id aggregations, no Python, no RNG.
    """
    toks = tokens_col("text", distinct=False)
    # 1-based positions — the oracle's unnest(range(1, …)) convention,
    # and the hash input must match exactly
    tokens = docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    draw = portable_hash32(
        F.concat(F.lit(MASK_SALT), F.col("doc_id"), F.lit(":"), F.col("pos"))
    )
    tokens = tokens.withColumn("masked", draw % 100 < MASK_RATE_PCT)
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        tokens.filter("masked")
        .select(
            "doc_id",
            "pos",
            "tok",
            F.sum(F.when(F.col("pos") - F.lag("pos").over(w) > 1, 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("k"),
        )
    )
    per_span = spans.groupBy("doc_id", "k").agg(
        F.min("pos").alias("span_pos"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("span_text"),
    )
    corrupted_rows = tokens.filter(~F.col("masked")).select(
        "doc_id", "pos", "tok"
    ).unionByName(
        per_span.select(
            "doc_id",
            F.col("span_pos").alias("pos"),
            F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">")).alias("tok"),
        )
    )
    corrupted = corrupted_rows.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("corrupted_md5")
    )
    targets = per_span.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "k",
                                F.concat(
                                    F.lit("<extra_id_"),
                                    F.col("k"),
                                    F.lit("> "),
                                    F.col("span_text"),
                                ).alias("piece"),
                            )
                        )
                    ),
                    lambda s: s["piece"],
                ),
            )
        ).alias("targets_md5"),
    )
    n_masked = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0)).cast("long").alias("n_masked"),
    )
    return (
        # anchor on docs: a token-less document still gets its row
        # (n_tokens 0, empty-string md5s), like every per-doc report here
        docs.select("doc_id")
        .join(n_masked, "doc_id", "left")
        .join(corrupted, "doc_id", "left")
        .join(targets, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("corrupted_md5", F.md5(F.lit(""))).alias("corrupted_md5"),
            F.coalesce("targets_md5", F.md5(F.lit(""))).alias("targets_md5"),
        )
        .orderBy("doc_id")
    )


def span_corruption_sql(table: str) -> str:
    """DuckDB oracle for :func:`span_corruption` — identical hash draw,
    island merge, sentinel numbering and md5 re-assemblies."""
    toks = tokens_sql("text", distinct=False)
    draw = portable_hash32_sql(
        f"'{MASK_SALT}' || CAST(base.doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )
    return f"""
WITH tokens AS (
  SELECT doc_id, i AS pos, tk[i] AS tok,
         {draw} % 100 < {MASK_RATE_PCT} AS masked
  FROM (SELECT doc_id, {toks} AS tk FROM {table}) base,
       unnest(range(1, len(tk) + 1)) AS u(i)
),
mk AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
              THEN 1 ELSE 0 END AS brk
  FROM tokens WHERE masked
),
sp AS (
  SELECT doc_id, pos, tok,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS k
  FROM mk
),
per_span AS (
  SELECT doc_id, k, MIN(pos) AS span_pos,
         string_agg(tok, ' ' ORDER BY pos) AS span_text
  FROM sp GROUP BY 1, 2
),
corrupted_rows AS (
  SELECT doc_id, pos, tok FROM tokens WHERE NOT masked
  UNION ALL
  SELECT doc_id, span_pos AS pos, '<extra_id_' || k || '>' AS tok FROM per_span
),
corrupted AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS corrupted_md5
  FROM corrupted_rows GROUP BY 1
),
targets AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         md5(string_agg('<extra_id_' || k || '> ' || span_text, ' ' ORDER BY k))
           AS targets_md5
  FROM per_span GROUP BY 1
),
nm AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked
  FROM tokens GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(n.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.n_masked, 0) AS BIGINT) AS n_masked,
       CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans,
       COALESCE(c.corrupted_md5, md5('')) AS corrupted_md5,
       COALESCE(t.targets_md5, md5('')) AS targets_md5
FROM {table} d
LEFT JOIN nm n ON d.doc_id = n.doc_id
LEFT JOIN corrupted c ON d.doc_id = c.doc_id
LEFT JOIN targets t ON d.doc_id = t.doc_id
ORDER BY d.doc_id"""
