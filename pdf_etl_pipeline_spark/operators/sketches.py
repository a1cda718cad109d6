"""Distinct-count sketching (beyond-reference op): KMV (k-minimum-values)
estimation of per-group cardinality.

Why KMV and not HyperLogLog here: Spark's ``approx_count_distinct`` is an
HLL whose register layout no other engine reproduces, so its output can't
be oracle-checked. KMV with the engine-portable md5 hash is just order
statistics — the estimate is a pure function of the k-th smallest distinct
hash value, which DuckDB computes bit-identically — so the approximation
itself sits under the hash-compare gate (the same trick as the
Misra-Gries heavy hitters: deterministic sketch, verifiable output).

Estimator (Bar-Yossef et al. 2002): with distinct values hashed uniformly
into [0, M), and h_(k) the k-th smallest distinct hash in a group,
``est = (k-1) * M / h_(k)``.

Two modes, honestly priced:

- ``exact_fallback=True`` (default, the oracle-registered mode): groups
  whose sketch is not full fall back to their EXACT distinct-hash count.
  That exactness requires a full distinct aggregation over (group, hash)
  — i.e. this mode does NOT save the distinct shuffle; the sketch's
  saving is confined to the ordering/window stage, which runs on the
  ~1/prune survivor relation instead of the full cardinality. The two
  consumers of the hashed relation are deliberately NOT persisted/shared:
  Catalyst pushes the ``h < M/prune`` predicate beneath the survivor
  branch's shuffle (verified in the plan — the branches' exchanges differ,
  so no ReusedExchange), giving a 1/prune-volume shuffle + a pruned scan,
  which at 100 TB beats materializing the full deduped relation to save
  one scan.
- ``exact_fallback=False`` (the true sketch-scale mode): no exact total is
  computed anywhere — the only shuffles are the pre-pruned (group, h)
  dedup (1/prune of the hash space, filter pushed to the scan) and a
  cheap per-group count for the group universe. Non-full sketches are
  estimated as ``survivors * prune`` (each survivor represents 1/prune of
  the hash space — unbiased, relative error ~1/sqrt(survivors)). This
  mode targets the regime distinct >> k*prune; tiny groups get noisy
  estimates (a group whose hashes all land above M/prune reads 0), which
  is the inherent price of pruning — size ``prune`` so expected survivors
  per group >> 1.

The pre-filter is sound for the full-sketch path in BOTH modes: the k
smallest hashes are below M/prune whenever the group has enough distinct
values to fill the sketch from survivors alone; groups where pruning
starves the sketch take the fallback (exact or survivors*prune).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions.scalars import portable_hash32
from pdf_etl_pipeline_spark.session import materialized

M_SPACE = 1 << 32  # portable_hash32 range [0, 2^32)
KMV_K = 64
KMV_PRUNE = 8  # keep hashes < M/8 for the k-min selection


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
    prune: int = KMV_PRUNE,
    exact_fallback: bool = True,
) -> DataFrame:
    """Per-group approximate distinct count of ``value_col``. Output:
    (group, est_distinct, sketch_size) with est_distinct rounded to 6
    decimals. See the module docstring for the two modes' cost honesty:
    ``exact_fallback=True`` is exact for non-full sketches but pays a full
    distinct aggregation; ``False`` never computes an exact total."""
    thresh = M_SPACE // prune
    hashed = df.select(
        F.col(group_col), portable_hash32(F.col(value_col).cast("string")).alias("h")
    ).dropDuplicates([group_col, "h"])
    survivors = hashed.filter(F.col("h") < thresh)
    w = Window.partitionBy(group_col).orderBy("h")
    kth = (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy(group_col)
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("sketch_size"))
    )
    full_est = (F.lit(k - 1) * F.lit(float(M_SPACE))) / F.col("h_k")
    if exact_fallback:
        # exact distinct-hash count per group — a FULL distinct aggregation
        # (this is what makes non-full sketches exact, and what this mode
        # does not save; see module docstring)
        base = hashed.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_hashes"))
        fallback = F.col("n_hashes").cast("double")
    else:
        # group universe only: map-side-combined count over the RAW rows —
        # no distinct aggregation anywhere in this mode
        base = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
        fallback = (F.coalesce(F.col("sketch_size"), F.lit(0)) * F.lit(float(prune)))
    est = F.when(F.col("sketch_size") >= k, full_est).otherwise(fallback)
    return base.join(kth, group_col, "left").select(
        group_col,
        F.round(F.coalesce(est, fallback), 6).alias("est_distinct"),
        F.coalesce(F.col("sketch_size"), F.lit(0)).cast("long").alias("sketch_size"),
    )


def kmv_sql(
    table: str,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
    prune: int = KMV_PRUNE,
    exact_fallback: bool = True,
) -> str:
    """DuckDB oracle reproducing ``kmv_distinct`` bit-for-bit (both modes)."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql

    h = portable_hash32_sql(f"CAST({value_col} AS VARCHAR)")
    thresh = M_SPACE // prune
    if exact_fallback:
        base = (
            f"base AS (SELECT {group_col}, COUNT(*) AS n_hashes FROM hashed GROUP BY 1)"
        )
        fallback = "CAST(t.n_hashes AS DOUBLE)"
    else:
        base = f"base AS (SELECT {group_col}, COUNT(*) AS n_rows FROM {table} GROUP BY 1)"
        fallback = f"COALESCE(k.sketch_size, 0) * CAST({float(prune)} AS DOUBLE)"
    return f"""
WITH hashed AS (SELECT DISTINCT {group_col}, {h} AS h FROM {table}),
{base},
surv AS (
  SELECT {group_col}, h,
         row_number() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
  FROM hashed WHERE h < {thresh}
),
kth AS (
  SELECT {group_col}, MAX(h) AS h_k, COUNT(*) AS sketch_size
  FROM surv WHERE rn <= {k} GROUP BY 1
)
SELECT t.{group_col},
       round(COALESCE(CASE WHEN k.sketch_size >= {k}
                           THEN ({k - 1} * CAST({float(M_SPACE)} AS DOUBLE)) / k.h_k
                           ELSE {fallback} END,
                      {fallback}), 6) AS est_distinct,
       COALESCE(k.sketch_size, 0) AS sketch_size
FROM base t LEFT JOIN kth k ON t.{group_col} = k.{group_col}
ORDER BY t.{group_col}"""


# --- SK4: KMV set algebra (audience overlap) ----------------------------------
def kmv_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """Pairwise union/intersection/Jaccard ESTIMATES between every two
    groups' value sets, from their KMV sketches alone — sketch set
    algebra (Beyer et al. 2007): KMV sketches are mergeable (min-k of a
    union is computable from the two min-k sets), and the fraction of the
    merged sketch present in both input sketches estimates the Jaccard.

    This is the audience-overlap query ("how many users do segments A and
    B share?") at 100 TB cost: ONE corpus pass builds |groups|·k sketch
    rows; every pairwise estimate then runs on that tiny relation — the
    quadratic pair work never touches the corpus. If a merged sketch
    holds fewer than k hashes, both input sets were fully enumerated and
    the union/intersection are EXACT (the estimate degrades to truth).

    Output: (grp_a, grp_b, est_union, est_intersection, est_jaccard,
    merged_size) rounded to 6, grp_a < grp_b, checkpointed eagerly (the
    pair output is tiny). The sketch relation (hash + dedup + per-group
    top-k) is read four times (a, b, and twice inside pairs); caching it
    for this one run is what makes "ONE corpus pass builds the sketch
    rows" true, and it is released before returning.
    """
    result, sketch = _kmv_overlap_plan(df, group_col, value_col, k)
    with materialized(sketch):
        return result.localCheckpoint()


def _kmv_overlap_plan(
    df: DataFrame, group_col: str, value_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """:func:`kmv_overlap`'s lazy plan and the sketch relation it caches
    (see ``llmdata.dedup._minhash_lsh_plan``)."""
    hashed = df.select(
        F.col(group_col).alias("grp"),
        portable_hash32(F.col(value_col).cast("string")).alias("h"),
    ).dropDuplicates(["grp", "h"])
    w = Window.partitionBy("grp").orderBy("h")
    sketch = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    a = sketch.select(F.col("grp").alias("grp_a"), F.col("h").alias("h"))
    b = sketch.select(F.col("grp").alias("grp_b"), F.col("h").alias("h"))
    pairs = (
        sketch.select("grp").distinct().alias("x")
        .join(sketch.select("grp").distinct().alias("y"), F.col("x.grp") < F.col("y.grp"))
        .select(F.col("x.grp").alias("grp_a"), F.col("y.grp").alias("grp_b"))
    )
    pooled = (
        pairs.join(a, "grp_a").select("grp_a", "grp_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionAll(
            pairs.join(b, "grp_b").select(
                "grp_a", "grp_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    merged = pooled.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= k)
    stats = merged.groupBy("grp_a", "grp_b").agg(
        F.max("h").alias("h_k"),
        F.count(F.lit(1)).alias("merged_size"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter_cnt"),
    )
    full = F.col("merged_size") >= k
    est_union = F.when(
        full, (F.lit(k - 1) * F.lit(float(M_SPACE))) / F.col("h_k")
    ).otherwise(F.col("merged_size").cast("double"))
    rho = F.col("inter_cnt") / F.col("merged_size")
    result = stats.select(
        "grp_a",
        "grp_b",
        F.round(est_union, 6).alias("est_union"),
        F.round(rho * est_union, 6).alias("est_intersection"),
        F.round(rho, 6).alias("est_jaccard"),
        F.col("merged_size").cast("long").alias("merged_size"),
    ).orderBy("grp_a", "grp_b")
    return result, sketch


def kmv_overlap_sql(table: str, group_col: str, value_col: str, k: int = KMV_K) -> str:
    """DuckDB oracle reproducing :func:`kmv_overlap` bit-for-bit."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql

    h = portable_hash32_sql(f"CAST({value_col} AS VARCHAR)")
    return f"""
WITH hashed AS (SELECT DISTINCT {group_col} AS grp, {h} AS h FROM {table}),
sketch AS (
  SELECT * FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {k}
),
pairs AS (
  SELECT x.grp AS grp_a, y.grp AS grp_b
  FROM (SELECT DISTINCT grp FROM sketch) x
  JOIN (SELECT DISTINCT grp FROM sketch) y ON x.grp < y.grp
),
pooled AS (
  SELECT grp_a, grp_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.grp_a AS grp_a, p.grp_b AS grp_b, s.h AS h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sketch s ON s.grp = p.grp_a
    UNION ALL
    SELECT p.grp_a AS grp_a, p.grp_b AS grp_b, s.h AS h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sketch s ON s.grp = p.grp_b
  ) GROUP BY 1, 2, 3
),
merged AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
    FROM pooled
  ) WHERE rn <= {k}
),
stats AS (
  SELECT grp_a, grp_b, MAX(h) AS h_k, COUNT(*) AS merged_size,
         SUM(in_a * in_b) AS inter_cnt
  FROM merged GROUP BY 1, 2
)
SELECT grp_a, grp_b,
       round(CASE WHEN merged_size >= {k}
                  THEN ({k - 1} * CAST({float(M_SPACE)} AS DOUBLE)) / h_k
                  ELSE CAST(merged_size AS DOUBLE) END, 6) AS est_union,
       round((inter_cnt / merged_size) * CASE WHEN merged_size >= {k}
                  THEN ({k - 1} * CAST({float(M_SPACE)} AS DOUBLE)) / h_k
                  ELSE CAST(merged_size AS DOUBLE) END, 6) AS est_intersection,
       round(inter_cnt / merged_size, 6) AS est_jaccard,
       CAST(merged_size AS BIGINT) AS merged_size
FROM stats ORDER BY grp_a, grp_b"""


# --- CM1: Count-Min sketch ----------------------------------------------------
CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row


def cms_build(
    toks: DataFrame, tok_col: str = "tok", d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """(row, col, cnt) Count-Min sketch of a token stream (Cormode &
    Muthukrishnan 2005): each occurrence increments one counter per hash
    row. The sketch is d*w counters TOTAL — constant size regardless of
    corpus scale — and MERGEABLE by plain addition, so it builds as one
    map-side-combined aggregation and the identical expression runs as an
    incremental streaming aggregation (pinned streamed-equals-batch in
    tests, like the st8 histogram)."""
    # one scan: each token explodes into its d (row, col) cells (the
    # phash banding shape) — a unionAll of d projections would re-run the
    # upstream tokenize+explode d times
    cells = F.array(
        *[
            F.struct(
                F.lit(di).alias("row"),
                (
                    portable_hash32(F.concat(F.lit(f"cms{di}_"), F.col(tok_col))) % w
                ).alias("col"),
            )
            for di in range(d)
        ]
    )
    return (
        toks.select(F.explode(cells).alias("c"))
        .select("c.row", "c.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: list[str], d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """(tok, est): point-frequency estimates = min over rows of the
    probed counters (missing counter = 0). Estimates NEVER undercount;
    overcounting is collision noise bounded by ~2*N/w w.h.p."""
    spark = sketch.sparkSession
    probe_cells = spark.createDataFrame(
        [(t, di) for t in probes for di in range(d)], "tok string, row int"
    ).select(
        "tok",
        "row",
        (
            portable_hash32(
                F.concat(
                    F.lit("cms"), F.col("row").cast("string"), F.lit("_"), F.col("tok")
                )
            )
            % w
        ).alias("col"),
    )
    return (
        probe_cells.join(sketch, ["row", "col"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
        .orderBy("tok")
    )


def cms_sql(
    table: str, text_toks_sql: str, probes: list[str], d: int = CMS_D, w: int = CMS_W
) -> str:
    """DuckDB oracle: build + probe + exact truth for the probe set."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql

    row_parts = []
    for di in range(d):
        h = portable_hash32_sql("'cms" + str(di) + "_' || tok")
        row_parts.append(
            "SELECT " + str(di) + " AS row, " + h + " % " + str(w) + " AS col FROM toks"
        )
    row_selects = "\nUNION ALL\n".join(row_parts)
    probe_vals = []
    for t in probes:
        for di in range(d):
            h = portable_hash32_sql("'cms" + str(di) + "_" + t + "'")
            probe_vals.append("('" + t + "', " + str(di) + ", " + h + " % " + str(w) + ")")
    probe_rows = ", ".join(probe_vals)
    return f"""
WITH toks AS (SELECT unnest({text_toks_sql}) AS tok FROM {table}),
cells AS (
{row_selects}
),
sketch AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
probes(tok, row, col) AS (VALUES {probe_rows}),
est AS (
  SELECT tok, MIN(COALESCE(cnt, 0)) AS est
  FROM probes LEFT JOIN sketch USING (row, col) GROUP BY tok
),
truth AS (
  SELECT p.tok AS tok, COUNT(t.tok) AS true_cnt
  FROM (SELECT DISTINCT tok FROM probes) p
  LEFT JOIN toks t ON t.tok = p.tok GROUP BY 1
)
SELECT est.tok AS tok, est, true_cnt
FROM est JOIN truth ON est.tok = truth.tok
ORDER BY tok"""
