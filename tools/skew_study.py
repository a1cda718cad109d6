"""AQE skew-join vs manual salting, measured (SCALE.md evidence).

Plants a deliberately skewed fact⋈dim sort-merge join — one hot key owns
half the fact rows, so one reduce task owns half the shuffle — and times
three physical strategies over the SAME logical join:

1. **baseline**: AQE skew-join OFF — the hot partition serializes the job
   (straggler = the skew tax).
2. **aqe**: AQE skew-join ON (thresholds sized to the local data so the
   planted partition qualifies) — the optimizer splits the oversized
   partition at runtime; the executed plan is asserted to carry an
   AQEShuffleRead with a skew split, so the run measures the mechanism,
   not a silent fallback.
3. **salted**: operators.skew_join.salted_join with AQE OFF — the manual
   lever: deterministic per-row salt, dim replicated n_salts×.

Broadcast is disabled throughout (autoBroadcastJoinThreshold=-1): with a
broadcastable dim there IS no skew problem — broadcast-hash-join is
always the first lever, and both AQE and salting are for dims too big to
broadcast.

Decision rule this measures (written up in SCALE.md): prefer AQE for
plain shuffled equi-joins (zero code, splits only when needed); reach for
salted_join when the skew lives where AQE's splitter can't see it —
aggregations (use salted_agg), joins that must avoid sort-merge, or
pipelines that need a deterministic pre-planned shape.

Usage:
    python tools/skew_study.py [n_fact_rows]   # default 8_000_000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators.skew_join import salted_join
from pdf_etl_pipeline_spark.session import get_spark

HOT_KEY = 0
N_DIM = 100_000


def make_tables(spark, n_fact: int):
    # hot key owns half the fact; the rest spreads uniformly over N_DIM keys
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 2 == 0, F.lit(HOT_KEY))
        .otherwise(F.pmod(F.col("id"), F.lit(N_DIM)))
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    dim = spark.range(N_DIM).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("payload")
    )
    return fact, dim


def timed_join(spark, fact, dim, salted: bool):
    t0 = time.time()
    if salted:
        out = salted_join(fact, dim, "k", n_salts=32)
    else:
        out = fact.join(dim, "k")
    agg = out.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    # collect() executes THIS plan (so its AdaptiveSparkPlan finalizes and
    # can be audited for the skew split); the checksum folds driver-side
    rows = agg.collect()
    check = (len(rows), sum(r["n"] for r in rows), sum(r["sv"] for r in rows))
    return time.time() - t0, check, agg


def main() -> None:
    n_fact = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    load_at_start = os.getloadavg()[0]
    spark = get_spark("skew-study")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # shuffle partitions modest so the hot partition is clearly oversized
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    fact, dim = make_tables(spark, n_fact)
    fact = fact.localCheckpoint()  # freeze input so each variant re-reads, not re-derives
    dim = dim.localCheckpoint()

    results = {"n_fact": n_fact, "hot_share": 0.5, "n_dim": N_DIM}

    # 1. baseline: no skew handling
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    sec, check0, _ = timed_join(spark, fact, dim, salted=False)
    results["baseline_sec"] = round(sec, 2)

    # 2. AQE skew split, thresholds sized to the planted data. NOTE the
    # trap this measures: this query aggregates ON the join key right
    # above the join, so the SMJ's hash output partitioning feeds the
    # aggregate exchange-free — splitting the skewed partition would
    # break that property and force a new shuffle, so OptimizeSkewedJoin
    # DECLINES unless forceOptimizeSkewedJoin accepts the extra shuffle.
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    sec, check1, agg = timed_join(spark, fact, dim, salted=False)
    results["aqe_sec"] = round(sec, 2)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    results["aqe_skew_split_in_plan"] = "skew" in plan.lower()

    # 2b. forced: accept the extra shuffle to split the straggler — the
    # audit asserts the EXECUTED plan really carries the skew split
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    sec, check1b, aggf = timed_join(spark, fact, dim, salted=False)
    results["aqe_forced_sec"] = round(sec, 2)
    planf = aggf._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in planf
    results["aqe_forced_skew_split_in_plan"] = "skew" in planf.lower()
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
    assert check1 == check1b

    # 3. manual salting, AQE skew-join off
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    sec, check2, _ = timed_join(spark, fact, dim, salted=True)
    results["salted_sec"] = round(sec, 2)

    assert check0 == check1 == check2, f"variants disagree: {check0} {check1} {check2}"
    results["results_identical"] = True
    results["load_avg_before"] = load_at_start
    print(json.dumps(results))


if __name__ == "__main__":
    main()
