"""Streaming drift monitor (st12) — dq5/dp5's pinned-snapshot drift as a
foreachBatch stream.

Production data-quality monitoring is a STREAM shape: the reference
distribution is frozen once (the snapshot a scorecard was validated
against), and every arriving batch is scored against it — "does today's
data still look like the data we signed off on?". This module composes
the r12 two-relation drift fragments (``quality_q.psi_drift_df`` /
``ks_drift_df``) with the repo's foreachBatch discipline:

- the FIRST batch becomes the pinned reference snapshot (written once
  under ``<state_dir>/reference``; later runs and replays see it exists
  and never overwrite — the pin is the point);
- every later batch appends one drift row per event_type under
  ``<state_dir>/drift``, tagged ``batch_id``: PSI over the shared
  10-bucket grid of (reference ∪ batch) AND the two-sample KS D with its
  5% Smirnov reject line — the binned and unbinned views side by side,
  exactly dq4/dp4's statistics with the batch as the current side;
- micro-batch replay recomputes bit-identical rows against the immutable
  snapshot, so :func:`read_drift_reports`'s (batch_id, event_type) dedup
  is exact, not lossy (st7/st10/st11's recovery contract).

Scale shape per batch: the snapshot is its own (typically small, pinned)
relation; scoring is one keyed bucket aggregation plus one keyed
distinct-value ECDF window over (snapshot ∪ batch) — the audited
dq5/dp5 plans. Nothing grows with stream lifetime except the one-row-
per-(batch, type) drift relation itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.streaming import driver

REFERENCE_SUBDIR = "reference"
DRIFT_SUBDIR = "drift"
PIN_MARKER = "_pinned_batch_id"


def _reference_path(state_dir: str) -> str:
    return os.path.join(state_dir, REFERENCE_SUBDIR)


def _pinned_batch_id(spark, state_dir: str) -> int | None:
    from pdf_etl_pipeline_spark.operators import fsutil

    ref_path = _reference_path(state_dir)
    p = os.path.join(ref_path, PIN_MARKER)
    if not fsutil.exists(p, spark):
        return None
    raw = fsutil.read_text(p, spark).strip()
    try:
        return int(raw)
    except ValueError:
        # fsutil.write_text is non-atomic: a marker torn mid-write (empty
        # or partial bytes) must not wedge the stream with a permanent
        # parse error. The write order (marker BEFORE snapshot rows) means
        # a torn marker implies no snapshot rows — treat it as no-pin so
        # the next batch re-pins, overwriting the torn bytes. A torn
        # marker ALONGSIDE snapshot rows cannot arise from this module's
        # writes; refuse to guess rather than silently re-pin.
        if fsutil.list_data_files(ref_path, spark):
            raise ValueError(
                f"drift monitor state corrupt: unparseable pin marker {p!r}"
                f" ({raw!r}) alongside existing snapshot rows"
            ) from None
        return None


def drift_batch_df(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """The LAZY per-batch drift report: PSI (+ flag) and KS D (+ reject)
    joined per event_type — one row per type seen in either relation's
    shared-support types. Factored out for the plan audit and the
    two-batch registered query."""
    from pdf_etl_pipeline_spark.catalog.quality_q import ks_drift_df, psi_drift_df

    psi = psi_drift_df(ref, cur)
    ks = ks_drift_df(ref, cur).select("event_type", "ks_d", "reject")
    return psi.join(ks, "event_type").select(
        "event_type", "n_ref", "n_cur", "psi", "drift", "ks_d", "reject"
    ).orderBy("event_type")


def monitor_drift_batch(values: DataFrame, state_dir: str, batch_id: int) -> DataFrame | None:
    """Process one batch of (event_type, value) rows: pin it as the
    reference if none exists yet (returns None — the reference defines
    "no drift" and is not scored against itself), else score it against
    the pinned snapshot and return the materialized drift rows.

    The pin records its ``batch_id`` in a marker file (written BEFORE the
    snapshot rows, so a torn pin re-pins on replay): a micro-batch that
    crashed after pinning but before its offset committed replays with
    the pin already present — without the marker it would score the
    reference AGAINST ITSELF and emit spurious psi=0 rows no first run
    ever produced. With it, the replayed pinning batch returns None
    again, bit-identical to the original outcome."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = values.sparkSession
    ref_path = _reference_path(state_dir)
    pinned = _pinned_batch_id(spark, state_dir)
    if pinned is not None and batch_id == pinned:
        # the replayed pinning batch: same verdict as run 1 (None). A pin
        # torn between marker and snapshot rows is completed here — the
        # replayed batch is deterministic, so the rows are the originals
        if not fsutil.list_data_files(ref_path, spark):
            values.select("event_type", "value").write.mode("append").parquet(ref_path)
        return None
    if not fsutil.list_data_files(ref_path, spark):
        if pinned is not None:
            # Torn pin (marker committed, snapshot rows not) seen by a
            # DIFFERENT batch id: only reachable through out-of-order
            # DIRECT calls — the streaming wrapper replays the torn epoch
            # first (checkpoint contract) and completes the pin above.
            # Re-pinning here would silently move the reference under the
            # original batch's feet; refuse instead.
            raise ValueError(
                f"drift monitor pin is torn: marker claims batch {pinned} "
                f"but no snapshot rows exist; replay batch {pinned} to "
                f"complete the pin before scoring batch {batch_id}"
            )
        fsutil.write_text(
            os.path.join(ref_path, PIN_MARKER), str(int(batch_id)), spark,
            overwrite=True,
        )
        values.select("event_type", "value").write.mode("append").parquet(ref_path)
        return None
    ref = spark.read.parquet(ref_path)
    return drift_batch_df(ref, values.select("event_type", "value")).localCheckpoint()


def drift_monitor_stream(events_stream: DataFrame, state_dir: str):
    """A restart resumes offsets from ``<state_dir>/_checkpoint``, and the
    pinned reference survives it (it is written once, ever)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        values = batch_df.filter(F.col("value").isNotNull())
        rows = monitor_drift_batch(values, state_dir, batch_id)
        if rows is not None:
            driver.append_batch(rows, batch_id, os.path.join(state_dir, DRIFT_SUBDIR))

    return driver.run_batches(events_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_drift_reports(spark, state_dir: str) -> DataFrame:
    """One drift row per (batch, event_type): replays recompute
    bit-identical rows against the immutable snapshot, so the dedup is
    exact."""
    return driver.read_batches(spark, os.path.join(state_dir, DRIFT_SUBDIR), "event_type")
