"""Fixed-iteration PageRank as pure DataFrame message passing (G1,
beyond-reference) — the canonical iterative-graph workload, done
Spark-first with no graph library: each round is one keyed join
(rank ⋈ edges on the source) and one keyed aggregation (sum of
contributions by destination), the exact shape of the dd6 label
propagation and the k-means iterations.

Determinism contract (what lets a DuckDB oracle hash-match an
*iterative float algorithm*): every per-edge contribution
``rank(u)/outdeg(u)`` is a double computed identically in both engines,
and the per-destination sum runs through DECIMAL(38,12) — addition over
decimals is associative-commutative, so the result is independent of
partition order, like the k-means centroid means
(`llmdata/similarity.py`). Iterations loop in Python over PLANS; ranks
are one row per node, localCheckpoint'ed per round to truncate lineage.

Scale notes: the join shuffles edges on src and contributions on dst —
both linear in |E| per round, the optimal exchange volume for
power-iteration. Skewed in-degree (celebrity nodes) is aggregation skew,
which partial aggregation absorbs map-side; skewed OUT-degree replicates
one rank row per out-edge, which the salted-join lever
(`operators/skew_join.py`) handles if a single source's edge list
exceeds a task. Dangling nodes (no out-edges) keep the teleport term
only — their mass is deliberately NOT redistributed (same convention in
the oracle), which keeps each round a single join+agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.session import materialized

_DEC = "decimal(38,12)"


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(node_id, rank) after ``iters`` power iterations from a uniform
    start. ``nodes`` = (node_id); ``edges`` = (src, dst) directed pairs
    (deduplicated here). Ranks sum to N over nodes reachable by the
    teleport-only recurrence; rounded to 9 places for a stable oracle
    hash."""
    with materialized(edges.select("src", "dst").dropDuplicates()) as e:
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ranks = nodes.select("node_id", F.lit(1.0).alias("rank"))
        teleport = (1.0 - damping) * 1.0  # uniform prior of 1 per node
        for _ in range(iters):
            contrib = (
                e.join(ranks.withColumnRenamed("node_id", "src"), "src")
                .join(outdeg, "src")
                .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            )
            recv = contrib.groupBy("dst").agg(
                F.sum(F.col("c").cast(_DEC)).cast("double").alias("mass")
            )
            ranks = (
                nodes.join(recv.withColumnRenamed("dst", "node_id"), "node_id", "left")
                .select(
                    "node_id",
                    (F.lit(teleport) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))).alias(
                        "rank"
                    ),
                )
                .localCheckpoint()
            )
    return ranks.select("node_id", F.round("rank", 9).alias("rank"))


def pagerank_sql(
    nodes_sql: str, edges_sql: str, iters: int = 5, damping: float = 0.85
) -> str:
    """DuckDB oracle: the same recurrence unrolled iteration-for-iteration
    (decimal-summed contributions, identical teleport/damping terms)."""
    teleport = 1.0 - damping
    ctes = [
        f"nodes AS ({nodes_sql})",
        f"edges AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)",
        "r0 AS (SELECT node_id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"""m{i} AS (
  SELECT e.dst, CAST(SUM(CAST(r.rank / o.outdeg AS DECIMAL(38,12))) AS DOUBLE) AS mass
  FROM edges e JOIN {prev} r ON e.src = r.node_id JOIN outdeg o ON e.src = o.src
  GROUP BY 1)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT n.node_id, {teleport} + {damping} * COALESCE(m.mass, 0.0) AS rank
  FROM nodes n LEFT JOIN m{i} m ON n.node_id = m.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node_id, round(rank, 9) AS rank FROM r{iters} ORDER BY node_id"
    )
