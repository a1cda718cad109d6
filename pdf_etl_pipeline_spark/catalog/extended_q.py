"""Extended relational surface beyond the reference — as-of join, pivot/
unpivot, grouping sets, percentiles (SURVEY §2 'absent' rows + pyspark
guide common-pattern ops), all oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.catalog import register
from pdf_etl_pipeline_spark.functions.scalars import dec_sum, dec_sum_sql
from pdf_etl_pipeline_spark.operators.asof import asof_join
from pdf_etl_pipeline_spark.session import load_events, load_table, tune


# --- AJ1: as-of join ---------------------------------------------------------
@register(
    "aj1_asof_join",
    oracle="""
WITH tagged AS (
  SELECT user_id AS _key, ts AS _ts, 1 AS _side, event_id, value,
         CAST(NULL AS BIGINT) AS r_event_id
  FROM events WHERE event_type = 'purchase'
  UNION ALL BY NAME
  SELECT user_id AS _key, ts AS _ts, 0 AS _side, CAST(NULL AS BIGINT) AS event_id,
         CAST(NULL AS DOUBLE) AS value, event_id AS r_event_id
  FROM events WHERE event_type = 'view'
),
carried AS (
  SELECT *, last_value(r_event_id IGNORE NULLS)
              OVER (PARTITION BY _key ORDER BY _ts, _side
                    ROWS UNBOUNDED PRECEDING) AS asof_event_id
  FROM tagged
)
SELECT event_id, _key AS user_id, value, asof_event_id
FROM carried WHERE _side = 1
ORDER BY user_id, event_id""",
    doc="AJ1 as-of join (most recent prior 'view' for each 'purchase') via union + last-ignoring-nulls window — no native Spark as-of",
)
def aj1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    joined = asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts", right_cols=["event_id"]
    )
    return joined.select(
        "event_id", "user_id", "value", F.col("asof_event_id")
    ).orderBy("user_id", "event_id")


# --- PV1: pivot --------------------------------------------------------------
@register(
    "pv1_pivot",
    oracle=f"""
SELECT l_returnflag,
       {dec_sum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE NULL END", 2)} AS qty_O,
       {dec_sum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE NULL END", 2)} AS qty_F
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="PV1 pivot: per-returnflag quantity by linestatus as columns",
)
def pv1_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dec_sum("l_quantity", 2))
        .withColumnsRenamed({"O": "qty_O", "F": "qty_F"})
        .orderBy("l_returnflag")
    )


# --- PV2: unpivot (stack) ----------------------------------------------------
@register(
    "pv2_unpivot",
    oracle="""
SELECT p_partkey, metric, val FROM (
  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
) ORDER BY p_partkey, metric""",
    doc="PV2 unpivot: wide part columns to (metric, val) long form",
)
def pv2_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.expr(
                "stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice) AS (metric, val)"
            ),
        )
        .orderBy("p_partkey", "metric")
    )


# --- GS1: grouping sets ------------------------------------------------------
@register(
    "gs1_grouping_sets",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows, {dec_sum_sql('l_extendedprice')} AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    doc="GS1 explicit GROUPING SETS (flag-only, status-only, grand total)",
)
def gs1_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


# --- PC1: percentiles --------------------------------------------------------
@register(
    "pc1_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="PC1 exact continuous percentiles per group (approx_percentile is the 100TB path)",
)
def pc1_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


# --- PC2: histogram quantile sketch -------------------------------------------
from pdf_etl_pipeline_spark.operators.histogram import (  # noqa: E402
    histogram_quantiles,
    histogram_quantiles_sql,
)

_PC2_QS = [0.5, 0.95, 0.99]


@register(
    "pc2_histogram_quantiles",
    oracle=histogram_quantiles_sql("lineitem", "l_returnflag", "l_extendedprice", _PC2_QS),
    doc="PC2 histogram quantile sketch (1024 fixed bins): p50/p95/p99 per group from two keyed aggregations + a bounded <=1024-row cumulative window — the percentile cost shape that survives 100 TB (pc1's exact path sorts every group), yet deterministic and hash-checked unlike approx_percentile",
)
def pc2_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return histogram_quantiles(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice", _PC2_QS
    ).orderBy("l_returnflag")


_ST8_LO, _ST8_HI, _ST8_BINS = 0.0, 101.0, 256
_ST8_W = (_ST8_HI - _ST8_LO) / _ST8_BINS


def _st8_oracle(qs: list[float]) -> str:
    sel = ["MAX(n_rows) AS n_rows"]
    for q in qs:
        name = f"q{str(q).replace('.', '_')}"
        est = f"{_ST8_LO!r} + bin * {_ST8_W!r} + (({q} * n_rows - (cum - c)) / c) * {_ST8_W!r}"
        sel.append(
            f"floor(MIN(CASE WHEN cum >= {q} * n_rows AND (cum - c) < {q} * n_rows "
            f"THEN {est} END) * 1000000 + 0.5) / 1000000 AS {name}"
        )
    return f"""
WITH binned AS (
  SELECT event_type,
         greatest(CAST(0 AS BIGINT), least({_ST8_BINS - 1},
           CAST(floor((CAST(value AS DOUBLE) - {_ST8_LO!r}) / {_ST8_HI - _ST8_LO!r} * {_ST8_BINS}) AS BIGINT))) AS bin,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT *, CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_rows
  FROM binned
)
SELECT event_type, {', '.join(sel)}
FROM cum GROUP BY 1 ORDER BY 1"""


@register(
    "st8_histogram_sketch",
    oracle=_st8_oracle([0.5, 0.95]),
    doc="ST8 fixed-edge histogram quantile sketch: bin counts are a MERGEABLE sketch, so the identical expression runs as an incremental streaming aggregation (state <= 256 longs per group; streamed-vs-batch equality pinned in tests/test_streaming.py) — this batch twin is the hash-checked form",
)
def st8_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_etl_pipeline_spark.operators.histogram import (
        fixed_histogram_counts,
        quantiles_from_counts,
    )

    tune(spark)
    counts = fixed_histogram_counts(
        load_table(spark, sf_dir, "events"), "event_type", "value", _ST8_LO, _ST8_HI, _ST8_BINS
    )
    return quantiles_from_counts(
        counts, "event_type", _ST8_LO, _ST8_HI, [0.5, 0.95], _ST8_BINS
    ).orderBy("event_type")


# --- RJ1: range/interval join ------------------------------------------------
_BANDS_SQL = "(VALUES (0.0, 25.0, 'low'), (25.0, 100.0, 'mid'), (100.0, 250.0, 'high'), (250.0, 1000.0, 'extreme')) bands(lo, hi, label)"


@register(
    "rj1_range_join",
    oracle=f"""
WITH b AS (SELECT * FROM {_BANDS_SQL})
SELECT label, COUNT(*) AS n_events,
       {dec_sum_sql('value')} AS total_value
FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
GROUP BY label ORDER BY label""",
    doc="RJ1 interval join via bucketization (explode intervals to buckets, equi-join, exact residual filter) vs the oracle's theta join",
)
def rj1_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.operators.range_join import range_join_bucketized

    bands = spark.createDataFrame(
        [(0.0, 25.0, "low"), (25.0, 100.0, "mid"), (100.0, 250.0, "high"), (250.0, 1000.0, "extreme")],
        "lo double, hi double, label string",
    )
    joined = range_join_bucketized(load_events(spark, sf_dir), bands, "value", bucket_width=50.0)
    return (
        joined.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
        .orderBy("label")
    )


# --- SK1: salted aggregation (skew strategy, result-identical) ---------------
@register(
    "sk1_salted_agg",
    oracle=f"""
SELECT l_returnflag, {dec_sum_sql('l_extendedprice')} AS revenue
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="SK1 salted two-phase SUM equals the direct groupBy (decimal-exact merge) — the skewed-key strategy",
)
def sk1_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.operators.salted_agg import salted_sum

    return salted_sum(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        F.col("l_extendedprice"),
        "revenue",
        n_salts=16,
    ).orderBy("l_returnflag")


# --- RS1: time-series resample + gap fill ------------------------------------
@register(
    "rs1_resample_gapfill",
    oracle=f"""
WITH span AS (
  SELECT user_id,
         (CAST(floor(epoch(MIN(ts))) AS BIGINT) // 3600) * 3600 AS lo,
         (CAST(floor(epoch(MAX(ts))) AS BIGINT) // 3600) * 3600 AS hi
  FROM events GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket_s FROM span
),
actual AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_s,
         COUNT(*) AS n_events,
         {dec_sum_sql('value')} AS total_value
  FROM events GROUP BY 1, 2
)
SELECT g.user_id, g.bucket_s,
       COALESCE(a.n_events, 0) AS n_events,
       COALESCE(a.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN actual a ON g.user_id = a.user_id AND g.bucket_s = a.bucket_s
ORDER BY g.user_id, g.bucket_s""",
    doc="RS1 hourly resample with gap fill: per-user dense time grid (sequence+explode) left-joined to actual buckets — empty hours emitted as zeros",
)
def rs1_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).withColumn(
        "bucket_s", (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    )
    span = ev.groupBy("user_id").agg(
        F.min("bucket_s").alias("lo"), F.max("bucket_s").alias("hi")
    )
    # the dense grid: one sequence per user, exploded — grid size is
    # (span/step) rows per user, generated executor-side with no shuffle
    # beyond the span aggregation
    grid = span.select(
        "user_id", F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("bucket_s")
    )
    actual = ev.groupBy("user_id", "bucket_s").agg(
        F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value")
    )
    return (
        grid.join(actual, ["user_id", "bucket_s"], "left")
        .select(
            "user_id",
            "bucket_s",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("user_id", "bucket_s")
    )


# --- RS3: resample + linear interpolation ------------------------------------
@register(
    "rs3_interpolate",
    oracle=f"""
WITH span AS (
  SELECT user_id,
         (CAST(floor(epoch(MIN(ts))) AS BIGINT) // 3600) * 3600 AS lo,
         (CAST(floor(epoch(MAX(ts))) AS BIGINT) // 3600) * 3600 AS hi
  FROM events GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket_s FROM span
),
actual AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_s,
         CAST({dec_sum_sql('value')} AS DOUBLE) / COUNT(*) AS obs
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT g.user_id, g.bucket_s, a.obs
  FROM grid g LEFT JOIN actual a ON g.user_id = a.user_id AND g.bucket_s = a.bucket_s
),
f AS (
  SELECT *,
    last_value(obs IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket_s
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN obs IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket_s
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(obs IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket_s
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN obs IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket_s
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT user_id, bucket_s,
       -- floor(x*1e6+0.5)/1e6, NOT round(): Spark's round() rounds the
       -- shortest decimal repr of the double while DuckDB rounds the
       -- binary value, so a .5-at-6th-decimal interpolant diverges;
       -- floor-of-double is the same IEEE op in both engines
       floor((CASE WHEN obs IS NOT NULL THEN obs
              ELSE pv + (nv - pv) * (CAST(bucket_s - pt AS DOUBLE) / (nt - pt)) END)
             * 1000000 + 0.5) / 1000000 AS value,
       obs IS NULL AS is_interpolated
FROM f ORDER BY user_id, bucket_s""",
    doc="RS3 hourly resample with LINEAR interpolation: per-user dense grid; missing hours get pv + (nv-pv)*(t-pt)/(nt-pt) from the neighboring observed bucket means via ignore-null window fills — both windows partition by user (no global sort); decimal-exact observed means so both engines interpolate from identical anchors",
)
def rs3_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pyspark.sql import Window as W

    ev = load_events(spark, sf_dir).withColumn(
        "bucket_s", (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    )
    span = ev.groupBy("user_id").agg(
        F.min("bucket_s").alias("lo"), F.max("bucket_s").alias("hi")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("bucket_s")
    )
    actual = ev.groupBy("user_id", "bucket_s").agg(
        (dec_sum("value").cast("double") / F.count(F.lit(1))).alias("obs")
    )
    j = grid.join(actual, ["user_id", "bucket_s"], "left")
    wp = W.partitionBy("user_id").orderBy("bucket_s").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("user_id").orderBy("bucket_s").rowsBetween(0, W.unboundedFollowing)
    obs_t = F.when(F.col("obs").isNotNull(), F.col("bucket_s"))
    f = (
        j.withColumn("pv", F.last("obs", ignorenulls=True).over(wp))
        .withColumn("pt", F.last(obs_t, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("obs", ignorenulls=True).over(wn))
        .withColumn("nt", F.first(obs_t, ignorenulls=True).over(wn))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("bucket_s") - F.col("pt")).cast("double") / (F.col("nt") - F.col("pt"))
    )
    val = F.when(F.col("obs").isNotNull(), F.col("obs")).otherwise(interp)
    return f.select(
        "user_id",
        "bucket_s",
        # engine-agnostic 6-place rounding (see the oracle's comment)
        (F.floor(val * 1e6 + F.lit(0.5)) / 1e6).alias("value"),
        F.col("obs").isNull().alias("is_interpolated"),
    ).orderBy("user_id", "bucket_s")


# --- SJ1: salted replicated join (skew strategy, result-identical) -----------
@register(
    "sj1_salted_join",
    oracle=f"""
SELECT s.s_nationkey, COUNT(*) AS n_items,
       {dec_sum_sql('l_extendedprice')} AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1 ORDER BY 1""",
    doc="SJ1 salted replicated join equals the plain join (fact salted on (key, salt), dim replicated n_salts x) — the skewed-JOIN-key strategy",
)
def sj1_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.operators.skew_join import salted_join

    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    dim = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(fact, dim, "l_suppkey", n_salts=16)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_items"), dec_sum("l_extendedprice").alias("revenue"))
        .orderBy("s_nationkey")
    )


# --- RS2: OHLC resample -------------------------------------------------------
@register(
    "rs2_ohlc_resample",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
         value,
         row_number() OVER (PARTITION BY event_type, (epoch_ns(ts) // 3600000000000)
                            ORDER BY epoch_ns(ts), event_id, value) AS rn_a,
         row_number() OVER (PARTITION BY event_type, (epoch_ns(ts) // 3600000000000)
                            ORDER BY epoch_ns(ts) DESC, event_id DESC, value DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket_s,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       {dec_sum_sql('value')} AS volume
FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="RS2 hourly OHLC resample per event_type: open/close via min_by/max_by on the (ts, event_id, value) ordering (deterministic under duplicate timestamps), exact-decimal volume — one map-side-combined keyed aggregation",
)
def rs2_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    # lexicographic struct comparison ≡ the oracle's multi-key ORDER BY;
    # the trailing value key makes ties (duplicate ts+event_id rows) pick
    # the same row in both engines
    ord_ = F.struct("ts_ns", "event_id", "value")
    # integer `div`, not '/': double division rounds int64 nanoseconds above
    # 2^53 by up to ~128 ns, which could flip a bucket at an hour boundary —
    # `div` floors exactly like the oracle's epoch_ns(ts) // 3600000000000
    bucket = (F.expr("ts_ns div 3600000000000") * 3600).alias("bucket_s")
    return (
        ev.groupBy("event_type", bucket)
        .agg(
            F.min_by("value", ord_).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("volume"),
        )
        .orderBy("event_type", "bucket_s")
    )


# --- SK2: KMV distinct-count sketch -------------------------------------------
from pdf_etl_pipeline_spark.operators.sketches import kmv_distinct, kmv_sql  # noqa: E402

@register(
    "sk2_kmv_distinct",
    oracle=kmv_sql("lineitem", "l_returnflag", "l_partkey"),
    doc="SK2 KMV distinct-count sketch: per-returnflag approximate COUNT(DISTINCT partkey) from the k=64 smallest portable hashes (pre-pruned to 1/8 of hash space) — a hash-checkable approximation, unlike HLL",
)
def sk2_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return kmv_distinct(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_partkey"
    ).orderBy("l_returnflag")


@register(
    "sk3_kmv_sketch_only",
    oracle=kmv_sql("lineitem", "l_returnflag", "l_partkey", exact_fallback=False),
    doc="SK3 KMV in sketch-only mode (exact_fallback=False): NO exact distinct aggregation anywhere — the only distinct shuffle is the 1/8-pruned survivor relation (filter pushed to the scan), non-full sketches estimated as survivors*prune; the true sketch-scale cost shape, still hash-checked",
)
def sk3_kmv_sketch_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return kmv_distinct(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_partkey",
        exact_fallback=False,
    ).orderBy("l_returnflag")


# --- J5: fuzzy record linkage -------------------------------------------------
from pdf_etl_pipeline_spark.operators.fuzzy import fuzzy_pairs, fuzzy_pairs_sql  # noqa: E402

@register(
    "j5_fuzzy_supplier_match",
    oracle=fuzzy_pairs_sql("supplier", "s_suppkey", "s_name"),
    doc="J5 fuzzy record linkage: supplier pairs within edit distance 1 via SymSpell deletion-variant equi-join (shuffle on the variant, Levenshtein only on candidates — never a quadratic name scan)",
)
def j5_fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return fuzzy_pairs(
        load_table(spark, sf_dir, "supplier"), "s_suppkey", "s_name"
    ).orderBy("key_a", "key_b")


@register(
    "j5b_fuzzy_ed2",
    oracle=fuzzy_pairs_sql("supplier", "s_suppkey", "s_name", max_dist=2),
    doc="J5b fuzzy linkage at edit distance 2: COMPLETE depth-2 deletion neighborhoods (SymSpell guarantee: Levenshtein<=d pairs share a depth-d variant) — O(len^2) variants per record, still linear in record count, Levenshtein only on candidates",
)
def j5b_fuzzy_ed2(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return fuzzy_pairs(
        load_table(spark, sf_dir, "supplier"), "s_suppkey", "s_name", max_dist=2
    ).orderBy("key_a", "key_b")


# --- G1: PageRank over the purchase graph --------------------------------------
from pdf_etl_pipeline_spark.operators.pagerank import pagerank, pagerank_sql  # noqa: E402

_G1_NODES_SQL = """SELECT c_custkey * 2 AS node_id FROM customer
UNION ALL SELECT s_suppkey * 2 + 1 AS node_id FROM supplier"""
_G1_EDGES_SQL = """SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
UNION ALL
SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""


@register(
    "g1_pagerank",
    oracle=pagerank_sql(_G1_NODES_SQL, _G1_EDGES_SQL),
    doc="G1 PageRank (5 power iterations, d=0.85) over the symmetric customer-supplier purchase graph — pure DataFrame message passing (join on src + decimal-summed aggregation on dst per round, both linear in |E|); an iterative float algorithm hash-matched by an unrolled SQL oracle",
)
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2).alias("node_id")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node_id")
    )
    purchases = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
    )
    edges = purchases.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionAll(
        purchases.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst"))
    )
    return pagerank(cust.unionAll(supp), edges).orderBy("node_id")


# --- W10: event-sequence pattern match -----------------------------------------
from pdf_etl_pipeline_spark.operators.patterns import match_pattern, match_pattern_sql  # noqa: E402

_ALPHABET = {"signup": "s", "view": "v", "click": "c", "purchase": "p", "error": "e"}
# view, then click, then purchase, with NO error anywhere between the
# view and the purchase — the negative condition a step-join funnel (w9)
# cannot express
_PATTERN = "v[^e]*c[^e]*p"


@register(
    "w10_pattern_match",
    oracle=match_pattern_sql("events", _PATTERN, _ALPHABET),
    doc="W10 MATCH_RECOGNIZE-shaped sequence query: users whose ordered event history matches v[^e]*c[^e]*p (view->click->purchase with no intervening error) — one keyed aggregation builds the symbol string, codegen rlike matches; no global-order window",
)
def w10_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return match_pattern(load_table(spark, sf_dir, "events"), _PATTERN, _ALPHABET)


# --- S13: SCD-2 history --------------------------------------------------------
from pdf_etl_pipeline_spark.operators.scd import scd2_history, scd2_history_sql  # noqa: E402

@register(
    "s13_scd2_history",
    oracle=scd2_history_sql("events", "user_id", "event_type", "ts", "event_id"),
    doc="S13 type-2 SCD history: every state each user's event_type passed through, as validity intervals — null-safe change-point compression then lead-stitched [valid_from, valid_to) ranges; both windows partition by the key (no global sort)",
)
def s13_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return scd2_history(
        load_table(spark, sf_dir, "events"), "user_id", "event_type", "ts", "event_id"
    ).orderBy("user_id", "valid_from")


# --- EV1: cohort retention matrix ----------------------------------------------
from pyspark.sql.window import Window  # noqa: E402


@register(
    "ev1_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
ret AS (
  SELECT cohort_week,
         date_diff('day', cohort_week, week) // 7 AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_users
  FROM activity a JOIN first_seen f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_users,
       max(CASE WHEN week_offset = 0 THEN n_users END)
         OVER (PARTITION BY cohort_week) AS cohort_size,
       round(n_users / (max(CASE WHEN week_offset = 0 THEN n_users END)
         OVER (PARTITION BY cohort_week)), 6) AS retention
FROM ret ORDER BY cohort_week, week_offset""",
    doc="EV1 weekly cohort retention matrix: first-seen week per user, distinct active (user, week) pairs, retention vs week-0 cohort size — two user_id-keyed aggregations whose exchange Catalyst reuses, then a window over the tiny (cohort, offset) aggregate; the product-analytics staple",
)
def ev1_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    ret = (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    # cohort size = the week-0 row of each cohort (min(ts) is in week 0 by
    # construction); window over the post-aggregation relation, which is
    # |cohorts| x |offsets| rows — tiny at any corpus scale.
    w = Window.partitionBy("cohort_week")
    size = F.max(F.when(F.col("week_offset") == 0, F.col("n_users"))).over(w)
    return (
        ret.withColumn("cohort_size", size)
        .withColumn("retention", F.round(F.col("n_users") / F.col("cohort_size"), 6))
        .orderBy("cohort_week", "week_offset")
    )


# --- G2: triangle counting ------------------------------------------------------
from pdf_etl_pipeline_spark.operators.triangles import triangle_count, triangle_count_sql  # noqa: E402

_G2_EDGES_SQL = """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""


@register(
    "g2_triangle_count",
    oracle=triangle_count_sql(_G2_EDGES_SQL),
    doc="G2 triangle count of the part co-order graph via degree orientation (out-degree capped at O(sqrt E), wedge join bounded by E^1.5 regardless of hub skew); oracle is the naive a<b<c 3-way join — a different algorithm, same count by construction",
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem", spread=True).select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    return triangle_count(edges)


# --- G2a: DOULION approximate triangle count ------------------------------------
from pdf_etl_pipeline_spark.operators.triangles import (  # noqa: E402
    triangle_count_sampled,
    triangle_count_sampled_sql,
)

# p = 3/10: measured on the sf1 co-order graph (SCALE.md), this cuts the
# wedge volume ~6x while the 1/p^3 estimate lands within a few percent of
# the exact count. Deterministic (hash-derived) draw, so the oracle runs
# the identical sample.
_G2A_P = (3, 10)


@register(
    "g2a_triangle_doulion",
    oracle=triangle_count_sampled_sql(_G2_EDGES_SQL, *_G2A_P),
    doc="G2a DOULION approximate triangle count (p=0.3 edge sparsification, "
    "estimate = sampled/p^3): the bounded path for the one measured exponent "
    "that compounds (exact g2 is e=1.23, ~40 min at sf10) — sampling is a "
    "deterministic portable_hash32 draw over the canonical edge identity, so "
    "the DuckDB oracle reproduces the identical subgraph and the estimate is "
    "hash-checked, not just statistically plausible; downstream is the same "
    "audited degree-oriented plan at (p|E|)^1.5 wedge cost",
)
def g2a_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    return triangle_count_sampled(edges, *_G2A_P)


# --- ML1: grouped OLS via sufficient statistics --------------------------------
from pdf_etl_pipeline_spark.operators.linreg import linreg, linreg_sql  # noqa: E402


@register(
    "ml1_linreg",
    oracle=linreg_sql("events", "event_type", "hour(ts)", "value"),
    doc="ML1 per-event-type OLS fit of value ~ hour-of-day (slope/intercept/R^2) from the 6 sufficient statistics in ONE map-side-combinable keyed aggregation — closed-form ML with nothing but a few doubles per group on the wire; decimal-exact sums make the fit partition-order independent",
)
def ml1_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return linreg(
        load_events(spark, sf_dir), "event_type", F.hour("ts"), F.col("value")
    )


# --- DP1: one-scan dataset profile ---------------------------------------------
from pdf_etl_pipeline_spark.operators.profile import profile, profile_sql  # noqa: E402

_DP1_COLS = ["l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus"]


@register(
    "dp1_profile",
    oracle=profile_sql("lineitem", _DP1_COLS),
    doc="DP1 one-scan dataset profile (ANALYZE-style): per-column null count, exact distinct cardinality, native-ordered min/max — all statistics ride a single aggregation over a single lineitem scan; approx_count_distinct is the documented 100 TB lever",
)
def dp1_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return profile(load_table(spark, sf_dir, "lineitem"), _DP1_COLS)


_DP2_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "dp2_correlation",
    oracle=__import__(
        "pdf_etl_pipeline_spark.operators.profile", fromlist=["correlation_matrix_sql"]
    ).correlation_matrix_sql("lineitem", _DP2_COLS),
    doc="DP2 pairwise Pearson correlation matrix: every sufficient statistic (n, Σx, Σx², Σxy per pair) from ONE aggregation over ONE lineitem scan — O(|cols|²) doubles shuffle, nothing else; decimal-exact sums make the closed form engine-identical",
)
def dp2_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_etl_pipeline_spark.operators.profile import correlation_matrix

    tune(spark)
    return correlation_matrix(load_table(spark, sf_dir, "lineitem"), _DP2_COLS)


# --- RS4: truncated EWMA smoothing ---------------------------------------------
from pdf_etl_pipeline_spark.operators.ewma import ewma, ewma_sql  # noqa: E402


@register(
    "rs4_ewma",
    oracle=ewma_sql(
        "(SELECT * FROM events WHERE value IS NOT NULL) ev",
        "event_type",
        ["ts", "event_id"],
        "value",
    ),
    doc="RS4 truncated EWMA (alpha=0.3, 32-row frame; dropped tail < 1e-5, below output precision): the sequential smoothing recursion re-expressed as a bounded keyed window — no cross-row dependency chain, safe at any history length; fixed-order fold of rounded terms is bit-identical across engines",
)
def rs4_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return ewma(ev, "event_type", ["ts", "event_id"], "value")


# --- SK4: KMV audience overlap -------------------------------------------------
from pdf_etl_pipeline_spark.operators.sketches import kmv_overlap, kmv_overlap_sql  # noqa: E402


@register(
    "sk4_kmv_overlap",
    oracle=kmv_overlap_sql("events", "event_type", "user_id"),
    doc="SK4 KMV sketch set algebra (Beyer et al. 2007): pairwise union/intersection/Jaccard estimates between event-type audiences from mergeable k-min sketches — one corpus pass builds groups*k sketch rows, the quadratic pair work never touches the corpus; exact when a merged sketch is not full",
)
def sk4_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return kmv_overlap(load_events(spark, sf_dir), "event_type", "user_id")


# --- EV2: RFM segmentation ------------------------------------------------------
_EV2_SEG_SQL = """CASE
  WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
  WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
  WHEN m_score = 5 THEN 'big_spender'
  WHEN r_score >= 4 THEN 'recent'
  ELSE 'other' END"""


@register(
    "ev2_rfm_segmentation",
    oracle=f"""
WITH base AS (
  SELECT user_id,
         MAX(ts) AS last_ts,
         COUNT(*) AS frequency,
         {dec_sum_sql('COALESCE(value, 0.0)')} AS monetary
  FROM events GROUP BY 1
),
anchor AS (SELECT MAX(ts) AS now_ts FROM events),
metrics AS (
  SELECT user_id, frequency, monetary,
         date_diff('second', last_ts, now_ts) AS recency_s
  FROM base, anchor
),
scored AS (
  SELECT user_id, recency_s, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_s DESC, user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
  FROM metrics
)
SELECT user_id, recency_s, frequency, monetary,
       r_score, f_score, m_score,
       {_EV2_SEG_SQL} AS segment
FROM scored ORDER BY user_id""",
    doc="EV2 RFM customer segmentation: per-user recency/frequency/monetary (decimal-exact spend), quintile scores via user_id-tiebroken ntile, deterministic segment labels — the CRM staple; the global ntile runs over the per-user AGGREGATE (|users| rows, not events; plan-audited), and at extreme user counts the lever is histogram-quantile bucket boundaries (pc2) instead of exact ntile",
)
def ev2_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    base = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        dec_sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("monetary"),
    )
    anchor = ev.agg(F.max("ts").alias("now_ts"))
    metrics = base.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        (F.unix_timestamp("now_ts") - F.unix_timestamp("last_ts")).alias("recency_s"),
        "frequency",
        "monetary",
    )
    # intentional single-partition windows: they run over the per-user
    # AGGREGATE (|users| rows, ~events/66 — bounded, plan-audited), never
    # the event relation; at extreme user counts the documented lever is
    # pc2's histogram-quantile boundaries instead of exact ntile
    r_w = Window.orderBy(F.desc("recency_s"), F.asc("user_id"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.asc("monetary"), F.asc("user_id"))
    scored = metrics.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when(F.col("m_score") == 5, "big_spender")
        .when(F.col("r_score") >= 4, "recent")
        .otherwise("other")
    )
    return scored.withColumn("segment", seg).orderBy("user_id")


# --- EV3: rolling active users (DAU / trailing-7-day AU) -------------------------
@register(
    "ev3_active_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
spine AS (SELECT DISTINCT day FROM du),
contrib AS (
  SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS wday,
         user_id
  FROM du
),
wau AS (
  SELECT wday AS day, COUNT(DISTINCT user_id) AS wau_7d FROM contrib
  WHERE wday IN (SELECT day FROM spine) GROUP BY 1
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1)
SELECT dau.day AS day, dau.dau AS dau, wau.wau_7d AS wau_7d
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY day""",
    doc="EV3 rolling active users: exact DAU and trailing-7-day AU per activity day. Sliding COUNT(DISTINCT) is NOT windowable, so each (day,user) row is exploded to the 7 window-days it contributes to — a pure keyed shuffle of 7x|day-users| rows, no range join, no per-day rescan; the standard engagement metric at any corpus size",
)
def ev3_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
        "user_id",
    )
    wau = (
        contrib.join(du.select("day").distinct(), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )
    return dau.join(wau, "day").orderBy("day")


# --- J6: point-in-time (bitemporal) join ---------------------------------------
from pdf_etl_pipeline_spark.operators.scd import point_in_time_join  # noqa: E402


@register(
    "j6_point_in_time",
    oracle=f"""
WITH hist AS ({scd2_history_sql("events", "user_id", "event_type", "ts", "event_id")}),
facts AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id AS event_id, f.user_id AS user_id, f.value AS value,
       h.event_type AS state_at_time, h.valid_from AS valid_from
FROM facts f
LEFT JOIN hist h
  ON f.user_id = h.user_id
 AND f.ts >= h.valid_from
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
ORDER BY event_id""",
    doc="J6 bitemporal point-in-time join: each purchase picks up the SCD-2 state interval containing its own timestamp (leakage-safe dimension lookup — never a future state); key equality is the join key, interval containment the join filter; tiling guarantees at most one match and fact cardinality is preserved",
)
def j6_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    hist = scd2_history(ev, "user_id", "event_type", "ts", "event_id")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        point_in_time_join(facts, hist, "user_id", "event_type", "ts")
        .select("event_id", "user_id", "value", "state_at_time", "valid_from")
        .orderBy("event_id")
    )


# --- MK1: event-transition matrix ----------------------------------------------
@register(
    "mk1_transition_matrix",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
trans AS (
  SELECT src, dst, COUNT(*) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT src, SUM(n) AS row_total FROM trans GROUP BY 1)
SELECT trans.src AS src, dst, n,
       round(n / row_total, 6) AS p
FROM trans JOIN tot ON trans.src = tot.src
ORDER BY src, dst""",
    doc="MK1 user-flow transition matrix (first-order Markov estimate): per-user lead() over the event sequence, keyed (src,dst) counts, row-normalized probabilities — the product-analytics flow map; one user-partitioned window + two map-side-combined aggregations, no global order",
)
def mk1_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    trans = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("src").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(tot, "src")
        .select("src", "dst", "n", F.round(F.col("n") / F.col("row_total"), 6).alias("p"))
        .orderBy("src", "dst")
    )


# --- CM1: Count-Min point-frequency sketch -------------------------------------
from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col, tokens_sql  # noqa: E402
from pdf_etl_pipeline_spark.operators.sketches import (  # noqa: E402
    cms_build,
    cms_estimate,
    cms_sql,
)

_CM1_PROBES = ["table", "spark", "vector", "window", "zzzneverseen"]


@register(
    "cm1_count_min",
    oracle=cms_sql("documents", tokens_sql("text", distinct=False), _CM1_PROBES),
    doc="CM1 Count-Min sketch (4x1024 counters, engine-portable hashes): constant-size mergeable point-frequency summary built in one map-side-combined aggregation; probe estimates = min over rows, never undercounting — truth column included so the overestimate property is hash-checked",
)
def cm1_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col("text", distinct=False)).alias("tok"))
    est = cms_estimate(cms_build(toks), _CM1_PROBES)
    probe_df = spark.createDataFrame([(t,) for t in _CM1_PROBES], "tok string")
    truth = (
        probe_df.join(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")), "tok", "left")
        .select("tok", F.coalesce("c", F.lit(0)).alias("true_cnt"))
    )
    return est.join(truth, "tok").select("tok", "est", "true_cnt").orderBy("tok")


# --- ML4: chi-square independence test ------------------------------------------
@register(
    "ml4_chi2",
    oracle=f"""
WITH base AS (
  SELECT event_type AS a, CAST(hour(ts) // 6 AS INT) AS b FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
obs AS (SELECT a, b, COUNT(*) AS n FROM base GROUP BY 1, 2),
ra AS (SELECT a, SUM(n) AS na FROM obs GROUP BY 1),
rb AS (SELECT b, SUM(n) AS nb FROM obs GROUP BY 1),
tot AS (SELECT SUM(n) AS nn, COUNT(*) FILTER (WHERE TRUE) AS _ FROM obs),
cells AS (
  SELECT ra.a, rb.b, COALESCE(obs.n, 0) AS n,
         CAST(na * nb AS DOUBLE) / nn AS e
  FROM ra CROSS JOIN rb CROSS JOIN tot
  LEFT JOIN obs ON obs.a = ra.a AND obs.b = rb.b
),
contrib AS (SELECT round((n - e) * (n - e) / e, 6) AS c FROM cells),
stats AS (
  SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM obs) AS n_rows,
         (SELECT COUNT(*) FROM ra) AS levels_a,
         (SELECT COUNT(*) FROM rb) AS levels_b,
         (SELECT {dec_sum_sql('c')} FROM contrib) AS chi2
)
SELECT n_rows, levels_a, levels_b,
       CAST((levels_a - 1) * (levels_b - 1) AS BIGINT) AS dof,
       round(chi2, 6) AS chi2,
       round(sqrt(chi2 / (n_rows * least(levels_a - 1, levels_b - 1))), 6) AS cramers_v
FROM stats""",
    doc="ML4 chi-square test of independence (event_type x six-hour daypart) "
    "computed entirely in-plan: one keyed count over the corpus, margins and "
    "expected counts derived from the tiny contingency table (never a second "
    "corpus pass), zero-observed cells restored by the levels cross join so "
    "the statistic matches the textbook definition; per-cell contributions "
    "rounded then decimal-summed for engine-identical chi2 and Cramer's V",
)
def ml4_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    base = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("a"),
            (F.hour("ts") / 6).cast("int").alias("b"),
        )
    )
    obs = base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    ra = obs.groupBy("a").agg(F.sum("n").alias("na"))
    rb = obs.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = obs.agg(F.sum("n").alias("nn"))
    cells = (
        ra.crossJoin(F.broadcast(rb))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["a", "b"], "left")
        .select(
            F.coalesce("n", F.lit(0)).alias("n"),
            ((F.col("na") * F.col("nb")).cast("double") / F.col("nn")).alias("e"),
        )
    )
    contrib = cells.select(
        F.round((F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e"), 6).alias("c")
    )
    n_rows = obs.agg(F.sum("n").cast("long").alias("n_rows"))
    la = ra.agg(F.count(F.lit(1)).alias("levels_a"))
    lb = rb.agg(F.count(F.lit(1)).alias("levels_b"))
    chi2 = contrib.agg(dec_sum("c").alias("chi2"))
    return (
        n_rows.crossJoin(F.broadcast(la))
        .crossJoin(F.broadcast(lb))
        .crossJoin(F.broadcast(chi2))
        .select(
            "n_rows",
            "levels_a",
            "levels_b",
            ((F.col("levels_a") - 1) * (F.col("levels_b") - 1)).cast("long").alias("dof"),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n_rows") * F.least(F.col("levels_a") - 1, F.col("levels_b") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --- AB1: deterministic A/B assignment + two-proportion z-test -------------------
from pdf_etl_pipeline_spark.functions.scalars import portable_hash32, portable_hash32_sql  # noqa: E402


@register(
    "ab1_two_proportion_z",
    oracle=f"""
WITH assign AS (
  SELECT DISTINCT user_id,
         {portable_hash32_sql("'ab1_' || CAST(user_id AS VARCHAR)")} % 2 AS variant
  FROM events WHERE user_id IS NOT NULL
),
conv AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value >= 150
),
per AS (
  SELECT variant, COUNT(*) AS n,
         CAST(SUM(CASE WHEN user_id IN (SELECT user_id FROM conv) THEN 1 ELSE 0 END) AS BIGINT) AS x
  FROM assign GROUP BY 1
),
wide AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
         MAX(CASE WHEN variant = 0 THEN x END) AS x_a,
         MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
         MAX(CASE WHEN variant = 1 THEN x END) AS x_b
  FROM per
)
SELECT n_a, x_a, round(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
       n_b, x_b, round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
       CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL ELSE
       round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
             / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_stat
FROM wide""",
    doc="AB1 experimentation readout: deterministic variant assignment by "
    "engine-portable hash of user_id (the sp1 split move — reproducible, "
    "no stored assignment table), per-variant conversion (>=1 high-value "
    "purchase, value >= 150), pooled two-proportion z-statistic in closed "
    "form (NULL when degenerate: 0%% or 100%% pooled rate). Everything "
    "derives from two keyed distincts + one tiny pivot; identical double "
    "arithmetic on exact counts in both engines",
)
def ab1_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    assign = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (portable_hash32(F.concat(F.lit("ab1_"), F.col("user_id").cast("string"))) % 2).alias(
                "variant"
            ),
        )
    )
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
    )
    flagged = assign.join(
        F.broadcast(conv.withColumn("_c", F.lit(1))), "user_id", "left"
    ).select("variant", F.coalesce("_c", F.lit(0)).alias("converted"))
    per = flagged.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").cast("long").alias("x")
    )
    wide = per.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    return wide.select(
        "n_a",
        "x_a",
        F.round(p_a, 6).alias("rate_a"),
        "n_b",
        "x_b",
        F.round(p_b, 6).alias("rate_b"),
        F.when(
            (F.col("x_a") + F.col("x_b") == 0)
            | (F.col("x_a") + F.col("x_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (p_a - p_b)
                / F.sqrt(
                    pool * (1 - pool) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
                ),
                6,
            )
        )
        .alias("z_stat"),
    )


# --- RS5: rolling z-score anomaly detection -------------------------------------
from pdf_etl_pipeline_spark.operators.rolling_anomaly import (  # noqa: E402
    rolling_anomalies,
    rolling_anomalies_sql,
)


@register(
    "rs5_rolling_anomaly",
    oracle=rolling_anomalies_sql(
        "(SELECT * FROM events WHERE value IS NOT NULL) ev",
        "event_type",
        ["ts", "event_id"],
        "value",
    ),
    doc="RS5 rolling z-score anomaly detection: each observation scored "
    "against the trailing 32 points of its own series (strictly-prior "
    "frame — leakage-free), |z| > 3 flagged. ONE keyed frame-bounded "
    "window (the rs4 cost shape — a single keyed shuffle at any history "
    "length); rolling moments from decimal-exact frame sums so evaluation "
    "order cannot flicker the result; variance gated on n>=2 and clamped "
    "at 0 before sqrt (NaN orders differently across engines — the trap); "
    "zero-variance windows yield NULL z like dp3's zero-MAD contract",
)
def rs5_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return rolling_anomalies(ev, "event_type", ["ts", "event_id"], "value")


# --- ML6: split-half label agreement (Cohen's kappa) ----------------------------
from pdf_etl_pipeline_spark.llmdata import text as _TXm  # noqa: E402

# annotator A reads the whole document; annotator B reads only its second
# half — split-half reliability of the lang-ID labeler: disagreement flags
# documents whose label depends on WHERE you look (mixed-language or
# marker-sparse texts), exactly what a labeling QA pass hunts.
_ML6_HALF = "substring(text, CAST(floor(length(text) / 2) AS INT) + 1)"


def _ml6_oracle() -> str:
    return f"""
WITH labels AS (
  SELECT {_TXm.lang_id_sql('text')} AS a,
         {_TXm.lang_id_sql(_ML6_HALF)} AS b
  FROM documents
),
n_tot AS (SELECT COUNT(*) AS n, CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM labels),
ma AS (SELECT a AS lbl, COUNT(*) AS ca FROM labels GROUP BY 1),
mb AS (SELECT b AS lbl, COUNT(*) AS cb FROM labels GROUP BY 1),
chance AS (
  SELECT CAST(SUM(ca * cb) AS BIGINT) AS sum_axb FROM ma JOIN mb USING (lbl)
)
SELECT n AS n_docs, n_agree,
       round(CAST(n_agree AS DOUBLE) / n, 6) AS po,
       round(CAST(sum_axb AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
       CASE WHEN CAST(sum_axb AS DOUBLE) / (CAST(n AS DOUBLE) * n) < 1 THEN
         round((CAST(n_agree AS DOUBLE) / n - CAST(sum_axb AS DOUBLE) / (CAST(n AS DOUBLE) * n))
               / (1 - CAST(sum_axb AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 6)
       END AS kappa
FROM n_tot CROSS JOIN chance"""


@register(
    "ml6_cohens_kappa",
    oracle=_ml6_oracle(),
    doc="ML6 split-half label agreement (Cohen's kappa): the lang-ID "
    "labeler applied to each whole document vs only its second half — "
    "the labeling-QA metric that flags labels depending on WHERE the "
    "classifier looks (mixed-language / marker-sparse docs), with chance "
    "agreement corrected from the marginal label distributions. One "
    "corpus scan produces both labels in the same projection; marginals "
    "join on the <=6-row label space; kappa NULL when chance agreement "
    "is 1 (degenerate single-label corpus). Measured at sf0.01: po 0.778, "
    "kappa 0.537 — 111/500 docs flip label on the half view",
)
def ml6_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_etl_pipeline_spark.llmdata.text import lang_id

    tune(spark)
    labels = load_table(spark, sf_dir, "documents").select(
        lang_id("text").alias("a"),
        lang_id(F.expr(_ML6_HALF)).alias("b"),
    )
    tot = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).cast("long").alias("n_agree"),
    )
    ma = labels.groupBy(F.col("a").alias("lbl")).agg(F.count(F.lit(1)).alias("ca"))
    mb = labels.groupBy(F.col("b").alias("lbl")).agg(F.count(F.lit(1)).alias("cb"))
    chance = (
        ma.join(mb, "lbl")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sum_axb"))
    )
    po = F.col("n_agree").cast("double") / F.col("n")
    pe = F.col("sum_axb").cast("double") / (F.col("n").cast("double") * F.col("n"))
    return tot.crossJoin(F.broadcast(chance)).select(
        F.col("n").alias("n_docs"),
        "n_agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1, F.round((po - pe) / (1 - pe), 6)).alias("kappa"),
    )


# --- RS6: seasonal decomposition + residual anomalies ----------------------------
RS6_MIN_CELL = 5  # observations a seasonal cell needs before it can score
RS6_Z = 3.0


def _rs6_oracle() -> str:
    return f"""
WITH ev AS (
  -- floor of the fractional-seconds epoch, then a POSITIVE modulo: both
  -- engines floor toward -inf (date_diff would truncate toward zero for
  -- pre-1970 timestamps, and % is sign-preserving in both engines, so
  -- the naive date_diff % 168 silently disagrees on historical data;
  -- CAST(epoch(ts) AS BIGINT) would ROUND fractional seconds and shove
  -- boundary events into the next cell)
  SELECT event_id, event_type, ts, value,
         ((CAST(floor(epoch(ts) / 3600) AS BIGINT) % 168) + 168) % 168 AS how
  FROM events
),
profile AS (
  SELECT event_type, how, COUNT(*) AS cell_n,
         round(CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6)
           AS seasonal_mean
  FROM ev GROUP BY 1, 2
),
resid AS (
  SELECT e.event_id, e.event_type, e.ts, e.value, p.cell_n,
         p.seasonal_mean,
         round(e.value - p.seasonal_mean, 6) AS residual
  FROM ev e JOIN profile p ON e.event_type = p.event_type AND e.how = p.how
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(residual AS DECIMAL(12,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(residual AS DECIMAL(12,6)) * CAST(residual AS DECIMAL(12,6))) AS DOUBLE) AS s2
  FROM resid GROUP BY 1
),
scored AS (
  SELECT r.event_id, r.event_type, r.ts, r.value, r.seasonal_mean, r.residual,
         CASE WHEN r.cell_n >= {RS6_MIN_CELL} AND s.n >= 2
                   AND sqrt(greatest((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1), 0.0)) > 0
              THEN round((r.residual - s.s1 / s.n)
                         / sqrt(greatest((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1), 0.0)), 6)
         END AS z
  FROM resid r JOIN stats s ON r.event_type = s.event_type
)
SELECT event_id, event_type, ts, value, seasonal_mean, residual, z
FROM scored WHERE abs(z) > {RS6_Z}
ORDER BY event_id"""


@register(
    "rs6_seasonal_anomaly",
    oracle=_rs6_oracle(),
    doc=f"RS6 seasonal decomposition + residual anomalies (the monitoring "
    "complement to rs5's rolling z: rs5 catches level shifts against recent "
    "history, rs6 catches departures from the series' PERIODIC shape): "
    "hour-of-week profile as pure epoch integer arithmetic (no calendar "
    "semantics to disagree across engines), decimal-exact cell means, residual "
    "z per event_type from decimal-exact moment sums (the rs4/rs5 determinism "
    f"discipline), cells under {RS6_MIN_CELL} observations abstain. Scale: one "
    "keyed profile aggregation (bounded at types x 168 cells, broadcast back), "
    "one 1-row-per-type stats aggregate — the corpus is scanned once and "
    "joined against bounded relations only",
)
def rs6_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "ts",
        "value",
        # floor of the fractional-seconds epoch + pmod so pre-1970
        # timestamps land in the same hour-of-week cell as the oracle
        # (unix_timestamp would truncate away sub-second parts; % would
        # go negative before the epoch)
        F.pmod(F.floor(F.col("ts").cast("double") / 3600).cast("long"), F.lit(168)).alias(
            "how"
        ),
    )
    dec = F.col("value").cast("decimal(12,6)")
    profile = ev.groupBy("event_type", "how").agg(
        F.count(F.lit(1)).alias("cell_n"),
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias("seasonal_mean"),
    )
    resid = ev.join(F.broadcast(profile), ["event_type", "how"]).select(
        "event_id",
        "event_type",
        "ts",
        "value",
        "cell_n",
        "seasonal_mean",
        F.round(F.col("value") - F.col("seasonal_mean"), 6).alias("residual"),
    )
    rdec = F.col("residual").cast("decimal(12,6)")
    stats = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rdec).cast("double").alias("s1"),
        F.sum(rdec * rdec).cast("double").alias("s2"),
    )
    sd = F.sqrt(
        F.greatest((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1), F.lit(0.0))
    )
    scored = resid.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "ts",
        "value",
        "seasonal_mean",
        "residual",
        F.when(
            (F.col("cell_n") >= RS6_MIN_CELL) & (F.col("n") >= 2) & (sd > 0),
            F.round((F.col("residual") - F.col("s1") / F.col("n")) / sd, 6),
        ).alias("z"),
    )
    return scored.filter(F.abs("z") > RS6_Z).orderBy("event_id")


# --- RS7: retrospective CUSUM changepoint --------------------------------------
# The third leg of the monitoring family: rs5 catches level shifts against
# recent history, rs6 catches departures from the periodic shape, rs7 asks
# "did this series' MEAN shift somewhere, and where?" — the retrospective
# CUSUM test: C_t = cumulative sum of (value - series mean) in time order;
# a mean shift makes |C_t| peak at the change point, and the peak height
# standardized by sd*sqrt(n) is the test statistic (Page's cumulative-sum
# chart, retrospective form). Running sums are DECIMAL-exact (the w7
# discipline) so the peak and its location are bit-identical cross-engine.
RS7_MIN_N = 2


def _rs7_oracle() -> str:
    return f"""
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6) AS mu,
         CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(12,6)) * CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s2
  FROM events GROUP BY 1
),
resid AS (
  SELECT e.event_id, e.event_type, e.ts,
         CAST(round(e.value - m.mu, 6) AS DECIMAL(27,6)) AS r
  FROM events e JOIN m ON e.event_type = m.event_type
),
cum AS (
  SELECT event_id, event_type,
         abs(SUM(r) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)) AS abs_c
  FROM resid
),
mx AS (
  SELECT event_type, MAX(abs_c) AS mxc FROM cum GROUP BY 1
),
cp AS (
  SELECT c.event_type, MIN(c.event_id) AS changepoint_event_id
  FROM cum c JOIN mx ON c.event_type = mx.event_type AND c.abs_c = mx.mxc
  GROUP BY 1
)
SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
       round(CAST(mx.mxc AS DOUBLE), 6) AS max_abs_cusum,
       CASE WHEN m.n >= {RS7_MIN_N}
                 AND sqrt(greatest((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1), 0.0)) > 0
            THEN round(CAST(mx.mxc AS DOUBLE)
                       / (sqrt(greatest((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1), 0.0))
                          * sqrt(m.n)), 6)
       END AS cusum_stat,
       cp.changepoint_event_id
FROM m JOIN mx ON m.event_type = mx.event_type
JOIN cp ON m.event_type = cp.event_type
ORDER BY m.event_type"""


@register(
    "rs7_cusum_changepoint",
    oracle=_rs7_oracle(),
    doc="RS7 retrospective CUSUM changepoint (Page's chart, retrospective "
    "form): per event_type, the peak |cumulative residual| locates the mean "
    "shift and its sd*sqrt(n)-standardized height is the test statistic — "
    "rs5 watches recent levels, rs6 the periodic shape, rs7 answers WHERE the "
    "mean moved. Decimal-exact running sums (w7 discipline) make peak and "
    "location bit-identical cross-engine; the only window is keyed by "
    "event_type, the stats are one decimal-moment aggregate broadcast back — "
    "nothing corpus-global",
)
def rs7_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    tune(spark)
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    dec = F.col("value").cast("decimal(12,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias("mu"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    resid = ev.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "ts",
        "n",
        "s1",
        "s2",
        F.round(F.col("value") - F.col("mu"), 6).cast("decimal(27,6)").alias("r"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = resid.select(
        "event_id", "event_type", "n", "s1", "s2", F.abs(F.sum("r").over(w)).alias("abs_c")
    )
    mx = cum.groupBy("event_type").agg(F.max("abs_c").alias("mxc"))
    cp = (
        cum.join(F.broadcast(mx), "event_type")
        .filter(F.col("abs_c") == F.col("mxc"))
        .groupBy("event_type")
        .agg(F.min("event_id").alias("changepoint_event_id"))
    )
    stats = m.join(F.broadcast(mx), "event_type").join(F.broadcast(cp), "event_type")
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1),
            F.lit(0.0),
        )
    )
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("mxc").cast("double"), 6).alias("max_abs_cusum"),
        F.when(
            (F.col("n") >= RS7_MIN_N) & (sd > 0),
            F.round(F.col("mxc").cast("double") / (sd * F.sqrt(F.col("n"))), 6),
        ).alias("cusum_stat"),
        "changepoint_event_id",
    ).orderBy("event_type")


# --- EV4: time-weighted average (TWAP) -------------------------------------------
# The time-series staple plain AVG gets wrong whenever observations are
# irregular: each value is weighted by how long it was the CURRENT value
# (seconds until the next observation of the same series), per
# (event_type, epoch day). The last observation of a day has no forward
# holding interval and drops out of the weighted mean — the standard
# next-observation convention. Weights are integer seconds and the
# value*dt products are decimal-exact, so the sums are partition-order
# independent (the dec_sum discipline) and the oracle hash-matches.
def _ev4_oracle() -> str:
    return """
WITH ev AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE value IS NOT NULL
),
seq AS (
  -- floor division, NOT DuckDB's truncate-toward-zero `//`: a pre-1970
  -- epoch like -86401 must land in day -2 on both engines (rs6 lesson)
  SELECT event_type, value, es,
         CAST(floor(es / 86400.0) AS BIGINT) AS day_num,
         lead(es) OVER (PARTITION BY event_type, CAST(floor(es / 86400.0) AS BIGINT)
                        ORDER BY es, value) AS nxt
  FROM ev
),
agg AS (
  SELECT event_type, day_num,
         COUNT(*) AS n_obs,
         CAST(SUM(CASE WHEN nxt IS NOT NULL
                       THEN CAST(value AS DECIMAL(12,6)) * (nxt - es) END)
              AS DOUBLE) AS wsum,
         SUM(CASE WHEN nxt IS NOT NULL THEN nxt - es END) AS tsum,
         CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS vsum
  FROM seq GROUP BY 1, 2
)
SELECT event_type, CAST(day_num AS BIGINT) AS day_num,
       CAST(n_obs AS BIGINT) AS n_obs,
       CASE WHEN tsum > 0 THEN round(wsum / tsum, 6) END AS twap,
       round(vsum / n_obs, 6) AS plain_avg
FROM agg ORDER BY event_type, day_num"""


@register(
    "ev4_twap",
    oracle=_ev4_oracle(),
    doc="EV4 time-weighted average per (event_type, epoch day): each value "
    "weighted by its holding interval (seconds until the next observation of "
    "the series; the day's last observation drops — the next-observation "
    "convention), beside the plain average it corrects. Integer-second "
    "weights x decimal-exact value products keep the sums partition-order "
    "independent. Scale: ONE keyed window (type, day) for the lead, one "
    "keyed aggregation — no global sort, no join, nothing corpus-wide",
)
def ev4_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_timestamp("ts").alias("es"),
        )
        # floor, not truncate-toward-zero; the oracle must use explicit
        # floor(es / 86400.0) too — DuckDB's `//` truncates toward zero,
        # which diverges from floor for pre-1970 epochs (the rs6 lesson)
        .withColumn("day_num", F.floor(F.col("es") / 86400).cast("long"))
    )
    w = Window.partitionBy("event_type", "day_num").orderBy("es", "value")
    seq = ev.withColumn("nxt", F.lead("es").over(w))
    dec = F.col("value").cast("decimal(12,6)")
    dt = F.col("nxt") - F.col("es")
    agg = seq.groupBy("event_type", "day_num").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.when(F.col("nxt").isNotNull(), dec * dt)).cast("double").alias("wsum"),
        F.sum(F.when(F.col("nxt").isNotNull(), dt)).alias("tsum"),
        F.sum(dec).cast("double").alias("vsum"),
    )
    return agg.select(
        "event_type",
        F.col("day_num").cast("long").alias("day_num"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.when(F.col("tsum") > 0, F.round(F.col("wsum") / F.col("tsum"), 6)).alias("twap"),
        F.round(F.col("vsum") / F.col("n_obs"), 6).alias("plain_avg"),
    ).orderBy("event_type", "day_num")


# --- G3: local clustering coefficients --------------------------------------------
from pdf_etl_pipeline_spark.operators.triangles import (  # noqa: E402
    clustering_coefficients,
    clustering_coefficients_sql,
)


@register(
    "g3_clustering_coeff",
    oracle=clustering_coefficients_sql(_G2_EDGES_SQL),
    doc="G3 per-node local clustering coefficient of the part co-order graph: "
    "the degree-oriented triangle LISTING (each triangle once at its "
    "orientation root, |E|^1.5 wedge bound, hub-skew immune), corners "
    "exploded (linear in triangles) and counted per node, joined with "
    "degrees — never the quadratic per-node adjacency intersection; oracle "
    "is the naive a<b<c listing, same counts by construction",
)
def g3_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    return clustering_coefficients(edges).orderBy("node")


# --- EV5: inter-event gap distribution ----------------------------------------------
# The latency/engagement profile behind session-timeout tuning and anomaly
# thresholds: per (user, event_type) consecutive-event gaps, summarized per
# event_type. Exact percentiles via the proven pc1 equivalence
# (Spark percentile() == DuckDB quantile_cont); pc2's histogram sketch is the
# documented 100 TB path for the percentile step.
@register(
    "ev5_inter_event_gaps",
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) -
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_s
  FROM events
)
SELECT event_type, COUNT(gap_s) AS n_gaps,
       quantile_cont(gap_s, 0.5) AS p50_gap_s,
       quantile_cont(gap_s, 0.9) AS p90_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1 ORDER BY 1""",
    doc="EV5 inter-event gap distribution: per-(user, event_type) consecutive "
    "gaps via ONE keyed lag window (partitioned — parallel across users), "
    "exact p50/p90/max per event_type. Scale: the window never globalizes; "
    "the exact percentile sorts only per event_type group (pc2's histogram "
    "sketch is the 100 TB drop-in for that step)",
)
def ev5_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pyspark.sql.window import Window as W

    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    gaps = ev.select("event_type", gap.alias("gap_s")).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.expr("percentile(gap_s, 0.5)").alias("p50_gap_s"),
            F.expr("percentile(gap_s, 0.9)").alias("p90_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("event_type")
    )
