"""Measured st7 steady-state admission-latency curve (SCALE.md evidence).

Drives N staged micro-batches through ``ingest_batch`` twice over the
same document stream — once with in-loop compaction
(``compact_threshold=MAX_FILES_PER_BAND``), once without — and records
per-batch admission wall-time plus the per-band data-file count after
each batch. The claim under test (``llmdata/ingest.py``): without
compaction every micro-batch appends one file family per band partition,
so admission latency drifts up with file count while data volume barely
grows; with compaction the file count (and hence the latency curve)
stays flat.

The two runs admit the BIT-IDENTICAL doc set (also asserted here — the
invariance test in tests/test_streaming.py pins the same thing at
smaller scale), so any timing difference is pure physical layout. One
batch adds one file per band partition, so compaction first runs at
batch ``MAX_FILES_PER_BAND + 1``: ``n_batches`` must exceed
``MAX_FILES_PER_BAND`` (8), or the two runs would be the same run. The
compacted run's peak per-band file count is asserted below the plain
run's, so the invariance check always compares two different layouts.

Usage:
    python tools/ingest_latency.py [sf_dir] [n_batches]   # default sf0.01, 24; n_batches > 8

Prints one JSON line with both curves and writes nothing outside /tmp.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.catalog import scratch_state
from pdf_etl_pipeline_spark.llmdata.ingest import (
    BANDS_SUBDIR,
    MAX_FILES_PER_BAND,
    drop_index,
    ingest_batch,
)
from pdf_etl_pipeline_spark.session import get_spark, load_table
from tools.measure import max_partition_files, series_record, staged_batches, staged_series


def run_series(spark, batches, compact_threshold):
    kept = set()
    # the tables key on the index path; a fresh path per run guarantees
    # fresh catalog state
    with scratch_state(spark, "st7_latency_", drop_index) as ix:

        def step(i, b):
            out = ingest_batch(b, ix, compact_threshold=compact_threshold)
            kept.update(r.doc_id for r in out.collect())

        bands = os.path.join(ix, BANDS_SUBDIR)
        secs, files = staged_series(batches, step, lambda: max_partition_files(bands, "band"))
    return series_record(secs, max_band_files=files), kept


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    if n_batches <= MAX_FILES_PER_BAND:
        sys.exit(
            f"n_batches must exceed MAX_FILES_PER_BAND={MAX_FILES_PER_BAND}: "
            "compaction never runs before that, so both series would be one run"
        )
    load_at_start = os.getloadavg()[0]
    spark = get_spark("st7-latency")
    n_docs, batches = staged_batches(load_table(spark, sf_dir, "documents"), n_batches)
    # warm the plans so batch 1 isn't charged JVM/codegen startup
    with scratch_state(spark, "st7_warm_", drop_index) as warm:
        staged_series(batches[:1] * 2, lambda i, b: ingest_batch(b, warm))

    plain, kept_plain = run_series(spark, batches, None)
    compacted, kept_comp = run_series(spark, batches, MAX_FILES_PER_BAND)
    assert max(compacted["max_band_files"]) < max(plain["max_band_files"]), (
        "compaction never ran",
        compacted["max_band_files"],
        plain["max_band_files"],
    )
    assert kept_plain == kept_comp, "compaction changed admission semantics"

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_batches": n_batches,
                "n_docs": n_docs,
                "admitted": len(kept_plain),
                "plain": plain,
                "compacted": compacted,
                "load_avg_before": load_at_start,
            }
        )
    )


if __name__ == "__main__":
    main()
