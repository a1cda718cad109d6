"""Measured st10 steady-state monitor-latency curve (SCALE.md evidence).

Drives N staged micro-batches through ``monitor_batch`` twice over the
same document stream — once with in-loop per-bucket compaction
(``compact_span_index`` after every batch at the default threshold),
once without — recording per-batch wall seconds and the max
data-file-count per bucket partition. The claim under test
(``llmdata/span_ingest.py``, r11 redesign): every batch appends one file
per non-empty bucket, so the uncompacted probe opens O(batches) files
per bucket while the compacted series stays bounded by the threshold;
and compaction is INVISIBLE to admission (both series' reports are
bit-identical — also pinned at smaller scale in tests).

Usage:
    python tools/span_latency.py [sf_dir] [n_batches]   # default sf0.01, 24
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.catalog import scratch_state
from pdf_etl_pipeline_spark.llmdata.span_ingest import (
    _index_path,
    compact_span_index,
    monitor_batch,
)
from pdf_etl_pipeline_spark.session import get_spark, load_table
from tools.measure import max_partition_files, series_record, staged_batches, staged_series


def run_series(spark, batches, compact: bool):
    reports = {}
    with scratch_state(spark, "st10_latency_") as ix:
        index = _index_path(ix)

        def step(i, b):
            for r in monitor_batch(b, ix, batch_id=i).collect():
                reports[r.doc_id] = (r.n_tokens, r.n_dup_tokens)
            if compact:
                compact_span_index(spark, ix)

        def after():
            return max_partition_files(index, "bucket"), spark.read.parquet(index).count()

        secs, seen = staged_series(batches, step, after)
        distinct_h = spark.read.parquet(index).select("h").distinct().count()
    files, rows = (list(c) for c in zip(*seen))
    layout = {"max_bucket_files": files, "index_rows": rows, "distinct_hashes": distinct_h}
    return series_record(secs, **layout), reports


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    load_at_start = os.getloadavg()[0]
    spark = get_spark("st10-latency")
    n_docs, batches = staged_batches(load_table(spark, sf_dir, "documents"), n_batches)
    # warm plans so batch 1 isn't charged JVM/codegen startup
    with scratch_state(spark, "st10_warm_") as warm:
        staged_series(batches[:1] * 2, lambda i, b: monitor_batch(b, warm, batch_id=i))

    plain, rep_plain = run_series(spark, batches, compact=False)
    compacted, rep_comp = run_series(spark, batches, compact=True)
    assert rep_plain == rep_comp, "compaction changed admission reports"

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_batches": n_batches,
                "n_docs": n_docs,
                "plain": plain,
                "compacted": compacted,
                "load_avg_before": load_at_start,
            }
        )
    )


if __name__ == "__main__":
    main()
