"""Data-quality & join-pruning query family (dp3 / dq1 / bf1) — the audit
and scale-pattern ops a 100 TB warehouse runs before trusting or joining
a table: robust outlier detection (median/MAD), referential-integrity
audit (orphan-FK rates), and observable Bloom-filter join pruning.

All three are fully SQL-expressible and hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.catalog import register, scratch_state
from pdf_etl_pipeline_spark.operators.bloom import bloom_semi_stats, bloom_semi_stats_sql
from pdf_etl_pipeline_spark.session import load_events, load_table, tune


# --- DP3: robust outlier detection (median / MAD z-scores) -----------------------
@register(
    "dp3_robust_outliers",
    oracle="""
WITH v AS (
  SELECT l_returnflag, l_linestatus, l_extendedprice AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
med AS (
  SELECT l_returnflag, l_linestatus, round(quantile_cont(x, 0.5), 6) AS med
  FROM v GROUP BY 1, 2
),
dev AS (
  SELECT v.*, med, abs(x - med) AS dev
  FROM v JOIN med USING (l_returnflag, l_linestatus)
),
mad AS (
  SELECT l_returnflag, l_linestatus, round(quantile_cont(dev, 0.5), 6) AS mad
  FROM dev GROUP BY 1, 2
),
z AS (
  SELECT dev.l_returnflag, dev.l_linestatus, dev.med, mad,
         CASE WHEN mad > 0 THEN round(0.6745 * (x - med) / mad, 6) END AS z
  FROM dev JOIN mad USING (l_returnflag, l_linestatus)
)
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       MAX(med) AS med, MAX(mad) AS mad,
       CAST(SUM(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(MAX(abs(z)), 6) AS max_abs_z
FROM z GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="DP3 robust outlier audit (Iglewicz-Hoaglin modified z-score): per-group "
    "median and MAD of l_extendedprice, rows with |0.6745*(x-med)/MAD| > 3.5 "
    "flagged — immune to the outliers it hunts, unlike mean/stddev z-scores. "
    "Two keyed exact-median passes (the MAD is a nested median, irreducibly "
    "two-pass) with the tiny per-group stats broadcast back; at 100 TB the "
    "exact percentile swaps for the pc2 histogram-sketch quantile, same plan "
    "shape. Rounded medians feed the z formula so both engines run identical "
    "double arithmetic.",
)
def dp3_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    g = ["l_returnflag", "l_linestatus"]
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(*g, F.col("l_extendedprice").alias("x"))
    )
    med = v.groupBy(*g).agg(F.round(F.expr("percentile(x, 0.5)"), 6).alias("med"))
    dev = v.join(F.broadcast(med), g).withColumn("dev", F.abs(F.col("x") - F.col("med")))
    mad = dev.groupBy(*g).agg(F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad"))
    # mad = 0 (a constant-valued group, e.g. a single-row group): z is
    # undefined — NULL z, zero outliers, NULL max_abs_z, no ANSI error
    z = dev.join(F.broadcast(mad), g).withColumn(
        "z",
        F.when(
            F.col("mad") > 0,
            F.round(F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad"), 6),
        ),
    )
    return (
        z.groupBy(*g)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(F.when(F.abs("z") > 3.5, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
        .orderBy(*g)
    )


# --- DQ1: referential-integrity audit --------------------------------------------
# (label, fact table, fk column, dim table, dim key, dim broadcastable)
_DQ1_RELS = [
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey", True),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", True),
]


def _dq1_sql() -> str:
    parts = []
    for label, facts, fk, dim, dk, _ in _DQ1_RELS:
        parts.append(
            f"""SELECT '{label}' AS relation,
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
  CAST(SUM(CASE WHEN {fk} IS NOT NULL
             AND {fk} NOT IN (SELECT {dk} FROM {dim} WHERE {dk} IS NOT NULL)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
  round(CAST(SUM(CASE WHEN {fk} IS NOT NULL
             AND {fk} NOT IN (SELECT {dk} FROM {dim} WHERE {dk} IS NOT NULL)
           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS orphan_rate
FROM {facts}"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY relation"


@register(
    "dq1_ref_integrity",
    oracle=_dq1_sql(),
    doc="DQ1 referential-integrity audit: per FK relation, row count, NULL-FK "
    "count and orphan count (non-null FK with no dim match, via left-anti "
    "join) — the pre-join trust check for every edge of the star schema. "
    "Small dims broadcast their distinct-key sets; the fact-fact edge "
    "(lineitem->orders) is a shuffled anti join AQE plans. NULL dim keys "
    "are excluded on both engines so the anti join and NOT IN agree.",
)
def dq1_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    outs = []
    for label, facts_name, fk, dim_name, dk, can_broadcast in _DQ1_RELS:
        facts = (
            load_events(spark, sf_dir)
            if facts_name == "events"
            else load_table(spark, sf_dir, facts_name)
        )
        dim = load_table(spark, sf_dir, dim_name)
        f = facts.select(F.col(fk).alias("fk"))
        dimk = dim.select(F.col(dk).alias("fk")).filter(F.col("fk").isNotNull()).distinct()
        if can_broadcast:
            dimk = F.broadcast(dimk)
        counts = f.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("fk").isNull(), 1)).alias("n_null_fk"),
        )
        orph = (
            f.filter(F.col("fk").isNotNull())
            .join(dimk, "fk", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        outs.append(
            counts.crossJoin(F.broadcast(orph)).select(
                F.lit(label).alias("relation"),
                "n_rows",
                "n_null_fk",
                "n_orphans",
                F.round(F.col("n_orphans").cast("double") / F.col("n_rows"), 6).alias(
                    "orphan_rate"
                ),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("relation")


# --- BF1: Bloom-filter join pruning ----------------------------------------------
@register(
    "bf1_bloom_semi_join",
    oracle=bloom_semi_stats_sql(
        "orders",
        "o_custkey",
        "(SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') dimsel",
        "c_custkey",
    ),
    doc="BF1 Bloom-filter join pruning, made observable: a 32768-bit / 4-hash "
    "filter of the selective dim side (BUILDING customers) prunes the fact "
    "side (orders) before the exact semi join — the runtime-filter pattern "
    "that turns a full fact shuffle into a broadcast of <=m bit positions "
    "at 100 TB. Engine-portable md5 hashing makes the bit pattern, the "
    "false-positive count and the fill ratio identical in the DuckDB "
    "oracle; exact verification rides behind the filter so correctness "
    "never depends on it (no false negatives by construction).",
)
def bf1_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return bloom_semi_stats(orders, "o_custkey", dim, "c_custkey")


# --- DQ2: declarative constraint audit -------------------------------------------
_DQ2_ENUM = ("click", "error", "purchase", "signup", "view")


def _dq2_oracle() -> str:
    enum = ", ".join(f"'{v}'" for v in _DQ2_ENUM)
    return f"""
WITH o AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_pos,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uniq
  FROM orders
),
l AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(SUM(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS v_pk
  FROM lineitem
),
ev AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN NOT COALESCE(event_type IN ({enum}), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_enum,
         CAST(SUM(CASE WHEN NOT COALESCE(value <= 250, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_cap
  FROM events
),
rules AS (
  SELECT 'events.event_type_enum' AS rule, n, v_enum AS n_violations FROM ev
  UNION ALL SELECT 'events.value_cap_250', n, v_cap FROM ev
  UNION ALL SELECT 'lineitem.l_discount_in_0_0.1', n, v_disc FROM l
  UNION ALL SELECT 'lineitem.l_quantity_in_1_50', n, v_qty FROM l
  UNION ALL SELECT 'lineitem.pk_orderkey_linenumber_unique', n, v_pk FROM l
  UNION ALL SELECT 'orders.o_orderkey_unique', n, v_uniq FROM o
  UNION ALL SELECT 'orders.o_totalprice_positive', n, v_pos FROM o
)
SELECT rule, CAST(n AS BIGINT) AS n_rows, CAST(n_violations AS BIGINT) AS n_violations,
       round(CAST(n_violations AS DOUBLE) / n, 6) AS violation_rate
FROM rules ORDER BY rule"""


@register(
    "dq2_constraint_audit",
    oracle=_dq2_oracle(),
    doc="DQ2 declarative constraint audit (the expectations-suite staple): "
    "range, enum-membership and key-uniqueness rules evaluated as "
    "conditional aggregates — ONE scan per table covers all of its rules "
    "(never a scan per rule), uniqueness as count-minus-distinct in the "
    "same aggregate; NULLs fail closed (an unknown value violates a "
    "domain rule). The composite-key rule genuinely fires on this corpus "
    "(lineitem's (l_orderkey, l_linenumber) is not unique) — audits that "
    "can never fail audit nothing",
)
def dq2_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)

    def failed(cond):
        return F.sum(F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)).cast("long")

    o = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n"),
        failed(F.col("o_totalprice") > 0).alias("v_pos"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("v_uniq"),
    )
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        failed(F.col("l_discount").between(0, 0.1)).alias("v_disc"),
        failed(F.col("l_quantity").between(1, 50)).alias("v_qty"),
        (F.count(F.lit(1)) - F.count_distinct("l_orderkey", "l_linenumber")).alias("v_pk"),
    )
    ev = load_events(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        failed(F.col("event_type").isin(*_DQ2_ENUM)).alias("v_enum"),
        failed(F.col("value") <= 250).alias("v_cap"),
    )
    rules = (
        ev.select(F.lit("events.event_type_enum").alias("rule"), "n", F.col("v_enum").alias("n_violations"))
        .unionByName(ev.select(F.lit("events.value_cap_250").alias("rule"), "n", F.col("v_cap").alias("n_violations")))
        .unionByName(li.select(F.lit("lineitem.l_discount_in_0_0.1").alias("rule"), "n", F.col("v_disc").alias("n_violations")))
        .unionByName(li.select(F.lit("lineitem.l_quantity_in_1_50").alias("rule"), "n", F.col("v_qty").alias("n_violations")))
        .unionByName(li.select(F.lit("lineitem.pk_orderkey_linenumber_unique").alias("rule"), "n", F.col("v_pk").alias("n_violations")))
        .unionByName(o.select(F.lit("orders.o_orderkey_unique").alias("rule"), "n", F.col("v_uniq").alias("n_violations")))
        .unionByName(o.select(F.lit("orders.o_totalprice_positive").alias("rule"), "n", F.col("v_pos").alias("n_violations")))
    )
    return rules.select(
        "rule",
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.round(F.col("n_violations").cast("double") / F.col("n"), 6).alias("violation_rate"),
    ).orderBy("rule")


# --- DQ3: k-anonymity audit ------------------------------------------------------
K_ANON = 5
_DQ3_QUASI = "event_type, CAST(ts AS DATE) AS qd, EXTRACT(hour FROM ts) AS qh"


@register(
    "dq3_k_anonymity",
    oracle=f"""
WITH g AS (
  SELECT {_DQ3_QUASI}, COUNT(*) AS sz
  FROM events GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(MIN(sz) AS BIGINT) AS k_anonymity,
       CAST(SUM(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
       CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT) AS n_risky_rows,
       round(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) / SUM(sz), 6)
         AS risky_row_frac
FROM g""",
    doc=f"DQ3 k-anonymity audit (privacy gate before a table is shared or joined "
    f"into training data): group sizes over the quasi-identifier set "
    f"(event_type, date, hour) in ONE keyed aggregation + a 1-row rollup — "
    f"k = min group size, rows in groups smaller than K={K_ANON} are "
    f"re-identification-risky (the pii-scrub complement: pii removes direct "
    f"identifiers, this measures indirect ones). One shuffle on the quasi key; "
    f"at 100 TB the group relation is bounded by the quasi-domain, not rows",
)
def dq3_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir)
    g = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("qd"),
        F.hour("ts").alias("qh"),
    ).agg(F.count(F.lit(1)).alias("sz"))
    risky = F.when(F.col("sz") < K_ANON, F.col("sz")).otherwise(F.lit(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.min("sz").cast("long").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < K_ANON, 1).otherwise(0)).cast("long").alias("n_risky_groups"),
        F.sum(risky).cast("long").alias("n_risky_rows"),
        F.round(F.sum(risky) / F.sum("sz"), 6).alias("risky_row_frac"),
    )


# --- DQ4: distribution-drift audit (PSI) ------------------------------------------
# Population Stability Index between the first and second half of the event
# log (split at the epoch midpoint — the "did this week's data still look
# like last week's" audit every production table runs). Value space is cut
# into 10 fixed-width buckets over the GLOBAL min/max so both halves share
# the grid; Laplace-smoothed shares keep ln() finite on one-sided buckets;
# PSI >= 0.2 is the standard drift flag.
DQ4_BUCKETS = 10
DQ4_DRIFT = 0.2

_DQ4_ORACLE = f"""
WITH ev AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         CAST(floor((MIN(es) + MAX(es)) / 2.0) AS BIGINT) AS mid
  FROM ev
),
bucketed AS (
  SELECT event_type,
         CASE WHEN vmax = vmin THEN 0
              ELSE least(CAST(floor(((value - vmin) * {DQ4_BUCKETS}.0) / (vmax - vmin)) AS BIGINT), {DQ4_BUCKETS - 1})
         END AS bkt,
         (es < mid) AS is_ref
  FROM ev, stats
),
cells AS (
  SELECT event_type, bkt,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cref,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ccur
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(cref) AS n_ref, SUM(ccur) AS n_cur
  FROM cells GROUP BY 1
),
psi AS (
  -- each term rounded to 12 decimals then summed as exact decimals (the
  -- rs7/dec_sum discipline): double addition is non-associative and the
  -- engines' aggregation orders differ, so a plain double SUM can flip
  -- the 6th rounded decimal between engines (or between runs)
  SELECT c.event_type, t.n_ref, t.n_cur,
         CAST(SUM(CAST(round(
             ((c.ccur + 1.0) / (t.n_cur + {DQ4_BUCKETS})
              - (c.cref + 1.0) / (t.n_ref + {DQ4_BUCKETS}))
             * ln(((c.ccur + 1.0) / (t.n_cur + {DQ4_BUCKETS}))
                  / ((c.cref + 1.0) / (t.n_ref + {DQ4_BUCKETS}))), 12)
           AS DECIMAL(27,12))) AS DOUBLE) AS psi
  FROM cells c JOIN tot t ON c.event_type = t.event_type
  GROUP BY 1, 2, 3
)
SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       round(psi, 6) AS psi, (psi >= {DQ4_DRIFT}) AS drift
FROM psi ORDER BY event_type"""


def psi_drift_df(
    ref: DataFrame,
    cur: DataFrame,
    buckets: int = DQ4_BUCKETS,
    drift: float = DQ4_DRIFT,
) -> DataFrame:
    """PSI drift between TWO relations of (event_type, value) — the
    general form dq4 specializes: production monitoring compares the
    current batch against a FROZEN reference snapshot, which arrives as
    its own relation (a pinned manifest, a past partition), not as an
    epoch predicate over one table. Shared fixed-width grid over the
    global min/max of (ref ∪ cur); Laplace smoothing; per-term round(12)
    + decimal-exact sum (the rs7 discipline) so the result is
    aggregation-order independent and bit-identical cross-engine.

    When ref and cur are filters of ONE scan, dq4's single-pass
    membership-flag form reads the table once where this union reads it
    twice — keep dq4's shape for same-table epoch splits; use this one
    when the reference genuinely is a separate relation."""
    ev = ref.select("event_type", "value", F.lit(True).alias("is_ref")).unionByName(
        cur.select("event_type", "value", F.lit(False).alias("is_ref"))
    )
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    b = buckets
    bkt = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.floor(((F.col("value") - F.col("vmin")) * float(b)) / (F.col("vmax") - F.col("vmin"))).cast("long"),
            F.lit(b - 1),
        )
    )
    cells = (
        ev.crossJoin(F.broadcast(stats))
        .select("event_type", bkt.alias("bkt"), "is_ref")
        .groupBy("event_type", "bkt")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("cref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("ccur"),
        )
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cref").alias("n_ref"), F.sum("ccur").alias("n_cur")
    )
    pr = (F.col("cref") + 1.0) / (F.col("n_ref") + b)
    pc = (F.col("ccur") + 1.0) / (F.col("n_cur") + b)
    term = F.round((pc - pr) * F.log(pc / pr), 12).cast("decimal(27,12)")
    psi = (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.sum(term).cast("double").alias("psi"))
    )
    return psi.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("psi", 6).alias("psi"),
        (F.col("psi") >= drift).alias("drift"),
    ).orderBy("event_type")


def _psi_drift_tail_sql(buckets: int = DQ4_BUCKETS, drift: float = DQ4_DRIFT) -> str:
    """Oracle tail from two CTEs named ``ref``/``cur`` of (event_type,
    value) to the PSI report — the SQL twin of :func:`psi_drift_df`."""
    return f"""ev AS (
  SELECT event_type, value, TRUE AS is_ref FROM ref
  UNION ALL
  SELECT event_type, value, FALSE AS is_ref FROM cur
),
stats AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM ev),
bucketed AS (
  SELECT event_type,
         CASE WHEN vmax = vmin THEN 0
              ELSE least(CAST(floor(((value - vmin) * {buckets}.0) / (vmax - vmin)) AS BIGINT), {buckets - 1})
         END AS bkt,
         is_ref
  FROM ev, stats
),
cells AS (
  SELECT event_type, bkt,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cref,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ccur
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(cref) AS n_ref, SUM(ccur) AS n_cur
  FROM cells GROUP BY 1
),
psi AS (
  SELECT c.event_type, t.n_ref, t.n_cur,
         CAST(SUM(CAST(round(
             ((c.ccur + 1.0) / (t.n_cur + {buckets})
              - (c.cref + 1.0) / (t.n_ref + {buckets}))
             * ln(((c.ccur + 1.0) / (t.n_cur + {buckets}))
                  / ((c.cref + 1.0) / (t.n_ref + {buckets}))), 12)
           AS DECIMAL(27,12))) AS DOUBLE) AS psi
  FROM cells c JOIN tot t ON c.event_type = t.event_type
  GROUP BY 1, 2, 3
)
SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       round(psi, 6) AS psi, (psi >= {drift}) AS drift
FROM psi ORDER BY event_type"""


@register(
    "dq4_distribution_drift",
    oracle=_DQ4_ORACLE,
    doc=f"DQ4 distribution-drift audit (PSI, the scorecard-monitoring "
    f"standard): per event_type, Population Stability Index of `value` "
    f"between the first and second epoch half of the log over a shared "
    f"{DQ4_BUCKETS}-bucket global grid, Laplace-smoothed, drift flagged at "
    f">= {DQ4_DRIFT}. Scale: one 1-row min/max/midpoint aggregate broadcast "
    f"back to the scan, ONE (type, bucket) keyed aggregation with map-side "
    f"combine, then arithmetic over the bounded types x buckets relation — "
    f"two corpus-touching exchanges total, no window, no join of raw rows",
)
def dq4_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    stats = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("mid"),
    )
    b = DQ4_BUCKETS
    bkt = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.floor(((F.col("value") - F.col("vmin")) * float(b)) / (F.col("vmax") - F.col("vmin"))).cast("long"),
            F.lit(b - 1),
        )
    )
    cells = (
        ev.crossJoin(F.broadcast(stats))
        .select("event_type", bkt.alias("bkt"), (F.col("es") < F.col("mid")).alias("is_ref"))
        .groupBy("event_type", "bkt")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("cref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("ccur"),
        )
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cref").alias("n_ref"), F.sum("ccur").alias("n_cur")
    )
    pr = (F.col("cref") + 1.0) / (F.col("n_ref") + b)
    pc = (F.col("ccur") + 1.0) / (F.col("n_cur") + b)
    # per-term round(12) + decimal-exact sum: partition-order independent
    # and bit-identical to the oracle's identical formula (rs7 discipline)
    term = F.round((pc - pr) * F.log(pc / pr), 12).cast("decimal(27,12)")
    psi = (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.sum(term).cast("double").alias("psi"))
    )
    return psi.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("psi", 6).alias("psi"),
        (F.col("psi") >= DQ4_DRIFT).alias("drift"),
    ).orderBy("event_type")


# --- DP4: two-sample Kolmogorov–Smirnov drift test ----------------------------------
# The nonparametric complement to dq4's binned PSI: D = max |ECDF_ref -
# ECDF_cur| over the pooled distinct values, per event_type, halves split at
# the epoch midpoint like dq4. No binning — KS sees shape changes PSI's 10
# buckets smear out. ECDFs are exact integer-count ratios at distinct values
# (ties grouped first), so D is bit-identical cross-engine; the reject line
# is the large-sample 5% critical value 1.358*sqrt((nr+nc)/(nr*nc)).
DP4_ALPHA_COEF = 1.358  # Smirnov critical coefficient at alpha = 0.05


_DP4_ORACLE = f"""
WITH ev AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT CAST(floor((MIN(es) + MAX(es)) / 2.0) AS BIGINT) AS mid FROM ev
),
cells AS (
  SELECT event_type, value,
         SUM(CASE WHEN es < mid THEN 1 ELSE 0 END) AS cref,
         SUM(CASE WHEN es < mid THEN 0 ELSE 1 END) AS ccur
  FROM ev, stats GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(cref) AS n_ref, SUM(ccur) AS n_cur
  FROM cells GROUP BY 1
),
ecdf AS (
  SELECT event_type,
         SUM(cref) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS rref,
         SUM(ccur) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS rcur
  FROM cells
),
d AS (
  SELECT e.event_type,
         MAX(abs(CAST(e.rref AS DOUBLE) / t.n_ref
                 - CAST(e.rcur AS DOUBLE) / t.n_cur)) AS ks
  FROM ecdf e JOIN tot t ON e.event_type = t.event_type
  WHERE t.n_ref > 0 AND t.n_cur > 0
  GROUP BY 1
)
SELECT d.event_type, CAST(t.n_ref AS BIGINT) AS n_ref,
       CAST(t.n_cur AS BIGINT) AS n_cur,
       round(d.ks, 6) AS ks_d,
       (d.ks > {DP4_ALPHA_COEF} * sqrt((t.n_ref + t.n_cur)
                                       / (CAST(t.n_ref AS DOUBLE) * t.n_cur))) AS reject
FROM d JOIN tot t ON d.event_type = t.event_type
ORDER BY d.event_type"""


def ks_drift_df(ref: DataFrame, cur: DataFrame, alpha_coef: float = DP4_ALPHA_COEF) -> DataFrame:
    """Two-sample KS between TWO relations of (event_type, value) — the
    general form dp4 specializes (see :func:`psi_drift_df` on why the
    same-table epoch split keeps its own single-scan shape). Exact
    tie-grouped integer-count ECDFs, so D is bit-identical cross-engine."""
    from pyspark.sql.window import Window

    ev = ref.select("event_type", "value", F.lit(True).alias("is_ref")).unionByName(
        cur.select("event_type", "value", F.lit(False).alias("is_ref"))
    )
    cells = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("cref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("ccur"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cref").alias("n_ref"), F.sum("ccur").alias("n_cur")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ecdf = cells.select(
        "event_type",
        F.sum("cref").over(w).alias("rref"),
        F.sum("ccur").over(w).alias("rcur"),
    )
    d = (
        ecdf.join(F.broadcast(tot), "event_type")
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(
            F.max(
                F.abs(
                    F.col("rref").cast("double") / F.col("n_ref")
                    - F.col("rcur").cast("double") / F.col("n_cur")
                )
            ).alias("ks")
        )
    )
    crit = alpha_coef * F.sqrt(
        (F.col("n_ref") + F.col("n_cur")) / (F.col("n_ref").cast("double") * F.col("n_cur"))
    )
    return d.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("ks", 6).alias("ks_d"),
        (F.col("ks") > crit).alias("reject"),
    ).orderBy("event_type")


def _ks_drift_tail_sql(alpha_coef: float = DP4_ALPHA_COEF) -> str:
    """Oracle tail from two CTEs named ``ref``/``cur`` to the KS report —
    the SQL twin of :func:`ks_drift_df`."""
    return f"""ev AS (
  SELECT event_type, value, TRUE AS is_ref FROM ref
  UNION ALL
  SELECT event_type, value, FALSE AS is_ref FROM cur
),
cells AS (
  SELECT event_type, value,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cref,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ccur
  FROM ev GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(cref) AS n_ref, SUM(ccur) AS n_cur
  FROM cells GROUP BY 1
),
ecdf AS (
  SELECT event_type,
         SUM(cref) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS rref,
         SUM(ccur) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS rcur
  FROM cells
),
d AS (
  SELECT e.event_type,
         MAX(abs(CAST(e.rref AS DOUBLE) / t.n_ref
                 - CAST(e.rcur AS DOUBLE) / t.n_cur)) AS ks
  FROM ecdf e JOIN tot t ON e.event_type = t.event_type
  WHERE t.n_ref > 0 AND t.n_cur > 0
  GROUP BY 1
)
SELECT d.event_type, CAST(t.n_ref AS BIGINT) AS n_ref,
       CAST(t.n_cur AS BIGINT) AS n_cur,
       round(d.ks, 6) AS ks_d,
       (d.ks > {alpha_coef} * sqrt((t.n_ref + t.n_cur)
                                   / (CAST(t.n_ref AS DOUBLE) * t.n_cur))) AS reject
FROM d JOIN tot t ON d.event_type = t.event_type
ORDER BY d.event_type"""


@register(
    "dp4_ks_drift",
    oracle=_DP4_ORACLE,
    doc="DP4 two-sample Kolmogorov-Smirnov drift test per event_type (first "
    "vs second epoch half): D = max |ECDF difference| over pooled distinct "
    "values — the unbinned complement to dq4's PSI (KS sees shape changes the "
    "10-bucket grid smears); rejects at the large-sample 5% Smirnov line. "
    "ECDFs are exact integer-count ratios at tie-grouped values, so D is "
    "bit-identical cross-engine. Scale: one (type, value) keyed aggregation, "
    "a type-keyed cumulative window over the DISTINCT-value relation (bounded "
    "by value cardinality, not rows), bounded joins — nothing corpus-global",
)
def dp4_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    tune(spark)
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    stats = ev.agg(F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("mid"))
    cells = (
        ev.crossJoin(F.broadcast(stats))
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("es") < F.col("mid"), 1).otherwise(0)).alias("cref"),
            F.sum(F.when(F.col("es") < F.col("mid"), 0).otherwise(1)).alias("ccur"),
        )
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cref").alias("n_ref"), F.sum("ccur").alias("n_cur")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ecdf = cells.select(
        "event_type",
        F.sum("cref").over(w).alias("rref"),
        F.sum("ccur").over(w).alias("rcur"),
    )
    d = (
        ecdf.join(F.broadcast(tot), "event_type")
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(
            F.max(
                F.abs(
                    F.col("rref").cast("double") / F.col("n_ref")
                    - F.col("rcur").cast("double") / F.col("n_cur")
                )
            ).alias("ks")
        )
    )
    crit = DP4_ALPHA_COEF * F.sqrt(
        (F.col("n_ref") + F.col("n_cur")) / (F.col("n_ref").cast("double") * F.col("n_cur"))
    )
    return d.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("ks", 6).alias("ks_d"),
        (F.col("ks") > crit).alias("reject"),
    ).orderBy("event_type")


# --- DQ5/DP5: drift vs a PINNED reference snapshot ---------------------------------
# dq4/dp4 compare epoch halves of one relation; the production shape is
# "current data vs a frozen reference manifest" — the reference is its own
# relation, pinned once, compared against forever. Stand-in snapshot spec
# over the shared testdata: reference = the corpus-birth quarter
# (es < emin + (emax-emin)/4), current = the most recent quarter
# (es >= emin + 3(emax-emin)/4) — non-adjacent, non-covering, so the grid
# and counts genuinely differ from dq4/dp4's halves. Both registered
# queries ride the two-relation fragments (psi_drift_df / ks_drift_df),
# whose ref==first-half specialization reproduces dq4/dp4 exactly
# (test-pinned).

_SNAP_CTES = """base AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE value IS NOT NULL
),
qs AS (
  SELECT CAST(floor(MIN(es) + (MAX(es) - MIN(es)) / 4.0) AS BIGINT) AS q1,
         CAST(floor(MIN(es) + (MAX(es) - MIN(es)) * 3.0 / 4.0) AS BIGINT) AS q3
  FROM base
),
ref AS (SELECT event_type, value FROM base, qs WHERE es < q1),
cur AS (SELECT event_type, value FROM base, qs WHERE es >= q3)"""


def _snapshot_halves(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    qs = ev.agg(
        F.floor(F.min("es") + (F.max("es") - F.min("es")) / 4.0).cast("long").alias("q1"),
        F.floor(F.min("es") + (F.max("es") - F.min("es")) * 3.0 / 4.0)
        .cast("long")
        .alias("q3"),
    )
    evq = ev.crossJoin(F.broadcast(qs))
    ref = evq.filter(F.col("es") < F.col("q1")).select("event_type", "value")
    cur = evq.filter(F.col("es") >= F.col("q3")).select("event_type", "value")
    return ref, cur


@register(
    "dq5_snapshot_psi_drift",
    oracle=f"WITH {_SNAP_CTES},\n{_psi_drift_tail_sql()}",
    doc="DQ5 PSI drift vs a pinned reference snapshot (the production "
    "monitoring shape dq4's epoch-half split stands in for): corpus-birth "
    "quarter as the frozen reference, most recent quarter as current, shared "
    "grid over their union, decimal-exact term sums. Scale: the reference is "
    "its own (usually tiny, pinned) relation — one keyed bucket aggregation "
    "over ref ∪ cur, one 2-value min/max broadcast, bounded arithmetic after",
)
def dq5_snapshot_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ref, cur = _snapshot_halves(spark, sf_dir)
    return psi_drift_df(ref, cur)


@register(
    "dp5_snapshot_ks_drift",
    oracle=f"WITH {_SNAP_CTES},\n{_ks_drift_tail_sql()}",
    doc="DP5 two-sample KS vs a pinned reference snapshot (dp4's general "
    "two-relation form): corpus-birth quarter vs most recent quarter, exact "
    "tie-grouped integer ECDFs over the pooled distinct values. Scale: one "
    "(type, value) keyed aggregation over ref ∪ cur, a type-keyed window "
    "over the DISTINCT-value relation, bounded joins",
)
def dp5_snapshot_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ref, cur = _snapshot_halves(spark, sf_dir)
    return ks_drift_df(ref, cur)


# --- ST12: streaming drift monitor (the dq5/dp5 fragments as a stream) -------------
# Two-batch unroll of streaming/drift_monitor.py: the first epoch half is
# pinned as the reference snapshot, the second half is the arriving batch,
# and the monitor's row per event_type carries BOTH drift views (binned PSI
# + unbinned KS) against the pin — by construction identical to joining
# dq4's and dp4's outputs, which the oracle does via the shared tails.

_ST12_ORACLE = f"""
WITH base AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE value IS NOT NULL
),
-- named 'halves', NOT 'stats': the nested psi tail defines its own
-- 'stats', and DuckDB re-binds outer CTE references inside the nested
-- scope — ev -> ref -> stats would resolve to the INNER stats (which
-- reads ev), a circular reference
halves AS (
  SELECT CAST(floor((MIN(es) + MAX(es)) / 2.0) AS BIGINT) AS mid FROM base
),
ref AS (SELECT event_type, value FROM base, halves WHERE es < mid),
cur AS (SELECT event_type, value FROM base, halves WHERE es >= mid),
p AS (WITH {_psi_drift_tail_sql()}),
k AS (WITH {_ks_drift_tail_sql()})
SELECT p.event_type, p.n_ref, p.n_cur, p.psi, p.drift, k.ks_d, k.reject
FROM p JOIN k ON p.event_type = k.event_type
ORDER BY p.event_type"""


@register(
    "st12_drift_monitor",
    oracle=_ST12_ORACLE,
    doc="ST12 streaming drift monitor: the first batch is PINNED as the "
    "reference snapshot (written once, replay-immutable), every later batch "
    "scores against it — per event_type, binned PSI (shared grid, "
    "decimal-exact term sums) beside the unbinned two-sample KS with its 5% "
    "Smirnov line; one final drift row per (batch, type), exact "
    "(batch_id, event_type) dedup on read. Runs the REAL foreachBatch body "
    "over a two-batch epoch-half unroll. Scale: the audited dq5/dp5 plans "
    "with the snapshot as the ref relation — one keyed bucket aggregation + "
    "one keyed distinct-value ECDF window per batch, nothing stream-global",
)
def st12_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.streaming.drift_monitor import monitor_drift_batch

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    mid = ev.agg(
        F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("mid")
    )
    evm = ev.crossJoin(F.broadcast(mid))
    b1 = evm.filter(F.col("es") < F.col("mid"))
    b2 = evm.filter(F.col("es") >= F.col("mid"))
    with scratch_state(spark, "st12_state_") as state:
        pinned = monitor_drift_batch(b1, state, batch_id=0)
        assert pinned is None  # first batch becomes the reference
        return monitor_drift_batch(b2, state, batch_id=1)


# --- DQ6: categorical drift (two-sample chi-square homogeneity) ---------------------
# Completes the drift family: dq4 = binned numeric (PSI), dp4 = unbinned
# numeric (KS), dq6 = CATEGORICAL — did the event-type MIX shift between the
# epoch halves? Two-sample chi-square homogeneity over the per-type counts,
# with expected cells from the pooled proportions. Per-cell terms are pure
# integer-count arithmetic rounded to 12 decimals and summed as exact
# decimals (the dq4/rs7 discipline). The 5% reject line is the
# Wilson–Hilferty approximation of the chi-square critical value — an
# explicit closed form both engines evaluate identically (NOT the exact
# quantile; documented as the approximate line, weakest at dof 1 where it
# reads ~3.75 vs the true 3.84).
DQ6_Z_05 = 1.6448536269514722  # standard normal 95% quantile


def chi2_drift_df(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Two-sample chi-square homogeneity between TWO relations of
    (event_type) rows — the categorical member of the two-relation drift
    family (psi_drift_df / ks_drift_df)."""
    ev = ref.select("event_type", F.lit(True).alias("is_ref")).unionByName(
        cur.select("event_type", F.lit(False).alias("is_ref"))
    )
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("oref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("ocur"),
    )
    tot = cells.agg(
        F.sum("oref").alias("n_ref"),
        F.sum("ocur").alias("n_cur"),
        F.count(F.lit(1)).alias("k"),
    )
    n = F.col("n_ref") + F.col("n_cur")
    nt = F.col("oref") + F.col("ocur")
    er = nt * F.col("n_ref") / n
    ec = nt * F.col("n_cur") / n
    term = F.when(
        (er > 0) & (ec > 0),
        F.round(
            (F.col("oref") - er) * (F.col("oref") - er) / er
            + (F.col("ocur") - ec) * (F.col("ocur") - ec) / ec,
            12,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(27,12)")
    wide = (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n_ref", "n_cur", "k")
        .agg(F.sum(term).cast("double").alias("chi2"))
    )
    dof = (F.col("k") - 1).cast("double")
    wh = dof * F.pow(
        F.lit(1.0) - 2.0 / (9.0 * dof) + DQ6_Z_05 * F.sqrt(2.0 / (9.0 * dof)), 3.0
    )
    return wide.select(
        F.col("k").cast("long").alias("n_types"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("chi2", 6).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.when(F.col("k") > 1, F.round(wh, 6)).alias("crit_05"),
        F.when(F.col("k") > 1, F.col("chi2") > wh).alias("reject"),
    )


def _chi2_drift_tail_sql(z: float = DQ6_Z_05) -> str:
    """Oracle tail from two CTEs named ``ref``/``cur`` of (event_type)
    rows — the SQL twin of :func:`chi2_drift_df`."""
    return f"""ev AS (
  SELECT event_type, TRUE AS is_ref FROM ref
  UNION ALL
  SELECT event_type, FALSE AS is_ref FROM cur
),
cells AS (
  SELECT event_type,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS oref,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ocur
  FROM ev GROUP BY 1
),
tot AS (
  SELECT SUM(oref) AS n_ref, SUM(ocur) AS n_cur, COUNT(*) AS k FROM cells
),
wide AS (
  SELECT t.n_ref, t.n_cur, t.k,
         CAST(SUM(CAST(
           CASE WHEN (c.oref + c.ocur) * t.n_ref / (t.n_ref + t.n_cur) > 0
                 AND (c.oref + c.ocur) * t.n_cur / (t.n_ref + t.n_cur) > 0
                THEN round(
                  (c.oref - (c.oref + c.ocur) * t.n_ref / CAST(t.n_ref + t.n_cur AS DOUBLE))
                  * (c.oref - (c.oref + c.ocur) * t.n_ref / CAST(t.n_ref + t.n_cur AS DOUBLE))
                  / ((c.oref + c.ocur) * t.n_ref / CAST(t.n_ref + t.n_cur AS DOUBLE))
                  + (c.ocur - (c.oref + c.ocur) * t.n_cur / CAST(t.n_ref + t.n_cur AS DOUBLE))
                  * (c.ocur - (c.oref + c.ocur) * t.n_cur / CAST(t.n_ref + t.n_cur AS DOUBLE))
                  / ((c.oref + c.ocur) * t.n_cur / CAST(t.n_ref + t.n_cur AS DOUBLE)), 12)
                ELSE 0.0 END
           AS DECIMAL(27,12))) AS DOUBLE) AS chi2
  FROM cells c, tot t
  GROUP BY 1, 2, 3
)
SELECT CAST(k AS BIGINT) AS n_types,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       round(chi2, 6) AS chi2,
       CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN k > 1 THEN round((k - 1) * pow(1.0 - 2.0 / (9.0 * (k - 1))
                 + {z} * sqrt(2.0 / (9.0 * (k - 1))), 3.0), 6) END AS crit_05,
       CASE WHEN k > 1 THEN chi2 > (k - 1) * pow(1.0 - 2.0 / (9.0 * (k - 1))
                 + {z} * sqrt(2.0 / (9.0 * (k - 1))), 3.0) END AS reject
FROM wide"""


_DQ6_ORACLE = f"""
WITH base AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
halves AS (
  SELECT CAST(floor((MIN(es) + MAX(es)) / 2.0) AS BIGINT) AS mid FROM base
),
ref AS (SELECT event_type FROM base, halves WHERE es < mid),
cur AS (SELECT event_type FROM base, halves WHERE es >= mid),
{_chi2_drift_tail_sql()}"""


@register(
    "dq6_categorical_drift",
    oracle=_DQ6_ORACLE,
    doc="DQ6 categorical drift: two-sample chi-square homogeneity of the "
    "event-type MIX between the epoch halves (expected cells from pooled "
    "proportions; per-cell terms rounded to 12 dp and summed as exact "
    "decimals; reject at the Wilson-Hilferty approximate 5% line, evaluated "
    "identically on both engines). Completes the drift family: dq4 binned "
    "numeric, dp4 unbinned numeric, dq6 categorical. Scale: ONE keyed count "
    "aggregation over the type column, then arithmetic on the bounded "
    "type-count relation — one corpus exchange, no window, no raw-row join",
)
def dq6_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = load_events(spark, sf_dir).select(
        "event_type", F.unix_timestamp("ts").alias("es")
    )
    mid = ev.agg(F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("mid"))
    evm = ev.crossJoin(F.broadcast(mid))
    ref = evm.filter(F.col("es") < F.col("mid")).select("event_type")
    cur = evm.filter(F.col("es") >= F.col("mid")).select("event_type")
    return chi2_drift_df(ref, cur)


# --- DQ7: embedding-centroid drift -------------------------------------------------
# The drift family's EMBEDDING member: per label, did the centroid of the
# vector population move between the two halves of the table? The
# LLM-data shape: embeddings of successive crawl snapshots (or encoder
# versions) should occupy the same region per cluster — a centroid that
# rotates (cosine) or translates (L2 shift) flags representation drift
# long before downstream metrics do. Every aggregation is decimal-exact
# over 12-dp-rounded terms (the dq4/rs7 discipline): per-dimension sums
# over the corpus, then the bounded per-label dot/norm sums over the
# dimension axis — bit-identical cross-engine.
DQ7_COS_MIN = 0.9  # centroid-direction drift flag


def dq7_embedding_drift_oracle() -> str:
    dec = "DECIMAL(27,12)"
    return f"""
WITH halves AS (
  SELECT (MAX(vec_id) + 1) // 2 AS split FROM embeddings
),
ex AS (
  SELECT label, (vec_id < split) AS is_ref, d,
         round(CAST(embedding[d] AS DOUBLE), 12) AS v
  FROM embeddings, halves, unnest(range(1, len(embedding) + 1)) AS u(d)
),
counts AS (
  SELECT label,
         COUNT(DISTINCT CASE WHEN vec_id < split THEN vec_id END) AS n_ref,
         COUNT(DISTINCT CASE WHEN vec_id >= split THEN vec_id END) AS n_cur
  FROM embeddings, halves
  GROUP BY 1
),
cells AS (
  SELECT label, d,
         CAST(SUM(CASE WHEN is_ref THEN CAST(v AS {dec}) END) AS DOUBLE) AS sref,
         CAST(SUM(CASE WHEN NOT is_ref THEN CAST(v AS {dec}) END) AS DOUBLE) AS scur
  FROM ex GROUP BY 1, 2
),
cent AS (
  SELECT c.label, t.n_ref, t.n_cur,
         COALESCE(c.sref, 0.0) / t.n_ref AS cr,
         COALESCE(c.scur, 0.0) / t.n_cur AS cc
  FROM cells c JOIN counts t ON c.label = t.label
  WHERE t.n_ref > 0 AND t.n_cur > 0
),
per_label AS (
  SELECT label, n_ref, n_cur,
         CAST(SUM(CAST(round(cr * cc, 12) AS {dec})) AS DOUBLE) AS dot,
         CAST(SUM(CAST(round(cr * cr, 12) AS {dec})) AS DOUBLE) AS qa,
         CAST(SUM(CAST(round(cc * cc, 12) AS {dec})) AS DOUBLE) AS qb,
         CAST(SUM(CAST(round((cr - cc) * (cr - cc), 12) AS {dec})) AS DOUBLE) AS qd
  FROM cent GROUP BY 1, 2, 3
)
SELECT label, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       CASE WHEN qa > 0 AND qb > 0
            THEN round(dot / (sqrt(qa) * sqrt(qb)), 6) END AS centroid_cos,
       round(sqrt(qd), 6) AS centroid_l2_shift,
       CASE WHEN qa > 0 AND qb > 0
            THEN dot / (sqrt(qa) * sqrt(qb)) < {DQ7_COS_MIN} END AS drift
FROM per_label ORDER BY label"""


@register(
    "dq7_embedding_drift",
    oracle=dq7_embedding_drift_oracle(),
    doc=f"DQ7 embedding-centroid drift per label between the vec_id halves: "
    f"cosine of the two centroids (rotation) beside the centroid L2 shift "
    f"(translation), drift flagged at cos < {DQ7_COS_MIN} — the "
    "representation-drift check an embedding pipeline runs across crawl "
    "snapshots or encoder versions. Decimal-exact 12-dp term sums at both "
    "aggregation levels (per-dim over vectors, per-label over dims). Scale: "
    "ONE keyed (label, dim) aggregation over the corpus-linear explode, then "
    "arithmetic on the bounded labels x dims relation — one corpus exchange, "
    "no window, full vectors never shuffle",
)
def dq7_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    split = emb.agg(((F.max("vec_id") + 1) / 2).cast("long").alias("split"))
    base = emb.crossJoin(F.broadcast(split)).withColumn(
        "is_ref", F.col("vec_id") < F.col("split")
    )
    counts = base.groupBy("label").agg(
        F.count_distinct(F.when(F.col("is_ref"), F.col("vec_id"))).alias("n_ref"),
        F.count_distinct(F.when(~F.col("is_ref"), F.col("vec_id"))).alias("n_cur"),
    )
    dec = "decimal(27,12)"
    ex = base.select(
        "label",
        "is_ref",
        F.posexplode("embedding").alias("d", "v0"),
    ).withColumn("v", F.round(F.col("v0").cast("double"), 12))
    cells = ex.groupBy("label", "d").agg(
        F.sum(F.when(F.col("is_ref"), F.col("v").cast(dec))).cast("double").alias("sref"),
        F.sum(F.when(~F.col("is_ref"), F.col("v").cast(dec))).cast("double").alias("scur"),
    )
    cent = (
        cells.join(F.broadcast(counts), "label")
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            "label",
            "n_ref",
            "n_cur",
            (F.coalesce("sref", F.lit(0.0)) / F.col("n_ref")).alias("cr"),
            (F.coalesce("scur", F.lit(0.0)) / F.col("n_cur")).alias("cc"),
        )
    )
    rd = lambda c: F.round(c, 12).cast(dec)
    per_label = cent.groupBy("label", "n_ref", "n_cur").agg(
        F.sum(rd(F.col("cr") * F.col("cc"))).cast("double").alias("dot"),
        F.sum(rd(F.col("cr") * F.col("cr"))).cast("double").alias("qa"),
        F.sum(rd(F.col("cc") * F.col("cc"))).cast("double").alias("qb"),
        F.sum(rd((F.col("cr") - F.col("cc")) * (F.col("cr") - F.col("cc"))))
        .cast("double")
        .alias("qd"),
    )
    ok = (F.col("qa") > 0) & (F.col("qb") > 0)
    cos = F.col("dot") / (F.sqrt("qa") * F.sqrt("qb"))
    return per_label.select(
        "label",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.when(ok, F.round(cos, 6)).alias("centroid_cos"),
        F.round(F.sqrt("qd"), 6).alias("centroid_l2_shift"),
        F.when(ok, cos < DQ7_COS_MIN).alias("drift"),
    ).orderBy("label")


# --- DQ8: near-dup leakage across the train/val/test hash split --------------------
# The split-hygiene audit a training pipeline runs before trusting held-out
# numbers: sp1's salted-hash split assigns membership per document, but
# near-DUPLICATE documents land in splits independently — a test doc whose
# near-copy trains is contamination that exact decontamination (dc1) misses.
# Composes the two proven fragments: dd3's banded near-dup pair relation
# (corpus-linear, never doc x doc) and sp1's zero-shuffle split projection,
# applied directly to the pair columns (no join back to documents).
def _dq8_oracle() -> str:
    from pdf_etl_pipeline_spark.catalog.dedup_q import DD3_JACCARD_SQL, DD3_PAIR_CTES
    from pdf_etl_pipeline_spark.llmdata import corpus as CP

    return f"""
WITH {DD3_PAIR_CTES},
pairs AS (SELECT doc_a, doc_b FROM cands WHERE {DD3_JACCARD_SQL} >= 0.9),
staged AS (
  SELECT least(sa, sb) AS lo_s, greatest(sa, sb) AS hi_s,
         CASE WHEN sa >= sb THEN doc_a ELSE doc_b END AS hi_doc
  FROM (SELECT doc_a, doc_b, {CP.split_stage_sql('doc_a')} AS sa,
               {CP.split_stage_sql('doc_b')} AS sb FROM pairs)
),
agg AS (
  SELECT lo_s, hi_s, COUNT(*) AS n_pairs, COUNT(DISTINCT hi_doc) AS n_dup_docs
  FROM staged GROUP BY 1, 2
),
sizes AS (
  SELECT {CP.split_stage_sql('doc_id')} AS hi_s, COUNT(*) AS n_docs_hi
  FROM documents GROUP BY 1
)
SELECT {CP.split_name_sql('lo_s')} AS split_lo, {CP.split_name_sql('hi_s')} AS split_hi,
       lo_s <> hi_s AS is_leak, n_pairs, n_dup_docs, n_docs_hi,
       round(n_dup_docs / n_docs_hi, 6) AS dup_doc_rate
FROM agg JOIN sizes USING (hi_s)
ORDER BY split_lo, split_hi"""


@register(
    "dq8_split_leakage",
    oracle=_dq8_oracle(),
    doc="DQ8 near-dup leakage across the sp1 hash split: per split combination, "
    "dd3 pair count + distinct held-out-side docs carrying a dup (is_leak marks "
    "cross-split contamination), normalized by split size. Scale: split staging "
    "is a pure projection over the corpus-linear pair relation (no membership "
    "join); 6-row aggregate; split sizes broadcast",
)
def dq8_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata import corpus as CP

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return CP.split_leakage(docs, shared_pairs(spark, sf_dir, 0.9)).orderBy(
        "split_lo", "split_hi"
    )


# --- DQ10: CONTAINMENT leakage across the hash split ------------------------------
# dq8 audits near-dup (Jaccard) leakage; the asymmetric tail it misses is
# the EXCERPT leak: a held-out doc fully contained in a train doc (or the
# reverse) shares its content across the split at containment ~1.0 while
# Jaccard is tiny — eval answers literally quoted inside training text.
# dd15's exact PPJoin containment pairs feed the same zero-shuffle split
# staging as dq8. Scoped to md5-collapsed reps (dd15's contract): exact
# cross-split duplicates are dq8/dc1 territory; dq10 adds the asymmetric
# containment tail.
def _dq10_oracle() -> str:
    from pdf_etl_pipeline_spark.catalog.dedup_q import _TOKSH as TOKSH
    from pdf_etl_pipeline_spark.llmdata import corpus as CP
    from pdf_etl_pipeline_spark.llmdata import dedup as DDm

    return f"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
th AS (
  SELECT doc_id, {TOKSH} AS ts FROM documents
  WHERE doc_id IN (SELECT doc_id FROM reps)
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.ts, b.ts)) AS inter,
         len(a.ts) AS na, len(b.ts) AS nb
  FROM th a JOIN th b ON a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM p
  WHERE inter / nullif(least(na, nb), 0) >= {DDm.CONTAINMENT_THRESHOLD}
),
staged AS (
  SELECT least(sa, sb) AS lo_s, greatest(sa, sb) AS hi_s,
         CASE WHEN sa >= sb THEN doc_a ELSE doc_b END AS hi_doc
  FROM (SELECT doc_a, doc_b, {CP.split_stage_sql('doc_a')} AS sa,
               {CP.split_stage_sql('doc_b')} AS sb FROM pairs)
),
agg AS (
  SELECT lo_s, hi_s, COUNT(*) AS n_pairs, COUNT(DISTINCT hi_doc) AS n_dup_docs
  FROM staged GROUP BY 1, 2
),
sizes AS (
  SELECT {CP.split_stage_sql('doc_id')} AS hi_s, COUNT(*) AS n_docs_hi
  FROM documents GROUP BY 1
)
SELECT {CP.split_name_sql('lo_s')} AS split_lo, {CP.split_name_sql('hi_s')} AS split_hi,
       lo_s <> hi_s AS is_leak, n_pairs, n_dup_docs, n_docs_hi,
       round(n_dup_docs / n_docs_hi, 6) AS dup_doc_rate
FROM agg JOIN sizes USING (hi_s)
ORDER BY split_lo, split_hi"""


@register(
    "dq10_containment_leakage",
    oracle=_dq10_oracle(),
    doc="DQ10 CONTAINMENT leakage across the sp1 hash split — the asymmetric "
    "tail dq8's Jaccard audit misses: a held-out doc contained in (or "
    "containing) a train doc at containment >= 0.9 leaks eval content even "
    "when Jaccard is tiny. dd15's exact PPJoin pairs feed dq8's zero-shuffle "
    "split staging; per split combination: pair count, distinct held-out "
    "dup docs, rate vs split size, is_leak on cross-split rows. Scale: the "
    "audited dd15 plan + a pure projection over its corpus-linear pair "
    "relation; 6-row aggregate; split sizes broadcast",
)
def dq10_containment_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_etl_pipeline_spark.llmdata import corpus as CP
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_containment_pairs

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = ppjoin_containment_pairs(docs).select("doc_a", "doc_b")
    return CP.split_leakage(docs, pairs).orderBy("split_lo", "split_hi")
