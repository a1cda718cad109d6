"""Self-test of the benchmark's correctness accounting: a planted wrong
result and a planted raised error must each count as a failed op.

    python3 perfbench/selftest.py

Runs ``invoice_analytics`` and ``invoice_ingest`` once each with both
faults planted, and exits non-zero unless every run reports
``correct: false`` with at least two failed ops.
"""

from __future__ import annotations

import json
import os
import sys

import pdfgen
import run
import workloads


class PlantedAnalytics(workloads.InvoiceAnalytics):
    """Op 0 raises; op 1 returns an empty result for whichever query it runs."""

    def op(self, spark, i, mode):
        if i == 0:
            raise RuntimeError("planted error")
        if i != 1:
            return super().op(spark, i, mode)
        from pdf_etl_pipeline_spark.catalog import QuerySpec

        real = self.registry
        self.registry = {
            q: QuerySpec(fn=lambda s, d, f=spec.fn: f(s, d).limit(0), oracle=spec.oracle)
            for q, spec in real.items()
        }
        try:
            return super().op(spark, i, mode)
        finally:
            self.registry = real


class PlantedIngest(workloads.InvoiceIngest):
    """Op 0's batch gets one extra new invoice its ground truth does not
    know about; op 1 raises."""

    planted = -workloads.WARM_BATCHES  # batches handed out so far, minus the warm-up batches
    min_ops = 2  # both faulty ops run, however short the run

    def next_batch(self):
        batch = super().next_batch()
        if self.planted == 0:
            lines, _ = pdfgen._invoice(self.corpus.rng, 1, ("Planted", "Supplier"))
            with open(os.path.join(batch.path, "planted.pdf"), "wb") as f:
                f.write(pdfgen.pdf_bytes(lines))
        self.planted += 1
        return batch

    def op(self, spark, i, mode):
        if i == 1:
            raise RuntimeError("planted error")
        return super().op(spark, i, mode)


def main() -> int:
    ok = True
    for name, cls in (("invoice_analytics", PlantedAnalytics), ("invoice_ingest", PlantedIngest)):
        result, detail = run.run(name, seed=1, seconds=0, trace=False, workload_cls=cls)
        caught = result["failed"] >= 2 and not result["correct"] and detail["error_ratio"] > 0
        ok &= caught
        print(json.dumps({"workload": name, "caught": caught, "failed": result["failed"],
                          "attempted": result["attempted"], "errors": detail["errors"]}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
