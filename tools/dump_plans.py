"""Dump `.explain("formatted")` for the bench-tier queries into
plans/<SPARK_GRAFT_PLANS_DIR or r17>/<query>_<tag>.txt — the
judge-checkable evidence for every plan claim in OPTIMIZATION_r*.md.

Usage: python tools/dump_plans.py <tag> [query ...]
  tag: 'before' or 'after' (file suffix)
  queries: default = headline + extended bench tiers
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.catalog import load_registry
from pdf_etl_pipeline_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        import bench

        names = bench.BENCH_QUERIES + bench.EXTENDED_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r17"),
    )
    os.makedirs(out_dir, exist_ok=True)
    registry = load_registry()
    spark = get_spark("dump_plans")

    # dd3/dd11 return a localCheckpoint'ed relation, so the registered
    # query's plan is 8 lines of `Scan ExistingRDD` — zero evidence value
    # (r16 VERDICT). Dump the library function's lazy plan (its private
    # ``_*_plan`` builder, which the function itself runs) so the full
    # pre-checkpoint plan (exchanges, join strategy, scan pruning) is on
    # the record; the registered query computes identically.
    def _dd3_evidence(spark, sf_dir):
        from pdf_etl_pipeline_spark.llmdata import dedup as DD
        from pdf_etl_pipeline_spark.session import load_table

        return DD._minhash_lsh_plan(_load_docs_like(DD, spark, sf_dir), 0.9)[0]

    def _load_docs_like(DD, spark, sf_dir):
        # match the registered query's loader signature across rounds:
        # r17 consumer-gates the spread (spread=True at this site), the
        # r16 loader has no such parameter
        from pdf_etl_pipeline_spark.session import load_table
        import inspect

        if "spread" in inspect.signature(load_table).parameters:
            return load_table(spark, sf_dir, "documents", spread=True)
        return load_table(spark, sf_dir, "documents")

    def _dd11_evidence(spark, sf_dir):
        from pdf_etl_pipeline_spark.llmdata import dedup as DD

        return DD._trim_dup_spans_plan(_load_docs_like(DD, spark, sf_dir))[0]

    def _st10_evidence(spark, sf_dir):
        # the registered st10 runs two side-effecting monitor batches and
        # returns a checkpointed union — dump the LAZY per-batch probe
        # plan (batch_report_df) against a real first-batch index instead:
        # that is the plan every steady-state batch pays
        import tempfile

        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.llmdata import dedup as DD
        from pdf_etl_pipeline_spark.llmdata.span_ingest import (
            batch_report_df,
            monitor_batch,
        )

        from pdf_etl_pipeline_spark.session import load_table

        # raw scan, matching the registered st10 site (spread measured a
        # LOSS for st10's per-batch bodies — r17 A/B — so it reads raw)
        docs = load_table(spark, sf_dir, "documents")
        split = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
        tmp = tempfile.mkdtemp(prefix="st10_plan_")
        monitor_batch(docs.filter(F.col("doc_id") < split), tmp, batch_id=0)
        return batch_report_df(
            docs.filter(F.col("doc_id") >= split), tmp, batch_id=1
        )

    evidence = {
        "dd3_minhash_lsh": _dd3_evidence,
        "dd11_span_trim": _dd11_evidence,
        "st10_span_monitor": _st10_evidence,
    }
    for name in names:
        df = evidence.get(name, registry[name].fn)(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
