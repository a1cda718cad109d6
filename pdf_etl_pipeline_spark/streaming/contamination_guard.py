"""Streaming contamination guard (st13) — dc1's benchmark
decontamination at admission time.

A training pipeline must not LEARN the eval suite: dc1 flags
benchmark-overlapping documents offline, but the production shape is a
GUARD — the benchmark shingle set is pinned once (eval suites change
rarely and deliberately), and every arriving batch is screened before
admission. This module follows st12's pinned-snapshot discipline:

- :func:`pin_benchmark` writes the benchmark's DISTINCT word-n-gram
  shingle hashes once under ``<state_dir>/bench_shingles`` (write-once;
  re-pinning is a no-op — replacing an eval suite is a new state dir,
  never an in-place mutation);
- each batch emits ONE FINAL verdict row per document — ``(doc_id,
  n_shared_shingles, contaminated)`` — from a shingle-hash equi-join
  against the pin (the dc1 plan: shuffle on the shingle hash, never
  doc × doc; the pinned side is eval-suite-sized and broadcasts);
- batches are screened against the PIN only (never against each
  other), so replays recompute bit-identical rows and
  :func:`read_contamination_reports`'s (batch_id, doc_id) dedup is
  exact (st7/st10/st11/st12's recovery contract).

Scale shape per batch: one corpus-linear shingle explode, one equi-join
whose build side is the broadcast pin, one keyed count — nothing grows
with stream lifetime except the one-row-per-doc report relation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.corpus import DECON_N, _shingle_hashes
from pdf_etl_pipeline_spark.streaming import driver

BENCH_SUBDIR = "bench_shingles"
REPORTS_SUBDIR = "contamination"


def _bench_path(state_dir: str) -> str:
    return os.path.join(state_dir, BENCH_SUBDIR)


def pin_benchmark(bench_docs: DataFrame, state_dir: str, n: int = DECON_N) -> bool:
    """Pin the benchmark's distinct shingle hashes (write-once). Returns
    True when this call created the pin, False when one already existed
    (the existing pin is never touched)."""
    from pdf_etl_pipeline_spark.operators import fsutil

    path = _bench_path(state_dir)
    if fsutil.list_data_files(path, bench_docs.sparkSession):
        return False
    (
        bench_docs.select(F.explode(_shingle_hashes("text", n)).alias("h"))
        .distinct()
        .write.mode("append")
        .parquet(path)
    )
    return True


def guard_batch_df(docs: DataFrame, bench_hashes: DataFrame, n: int = DECON_N) -> DataFrame:
    """The LAZY guard plan: one verdict row per incoming doc —
    (doc_id, n_shared_shingles, contaminated). Factored out for the
    plan audit; dc1's join shape with the pin as the build side."""
    sh = docs.select("doc_id", F.explode(_shingle_hashes("text", n)).alias("h"))
    hits = sh.join(bench_hashes, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("ns")
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("ns", F.lit(0)).cast("long").alias("n_shared_shingles"),
        (F.coalesce("ns", F.lit(0)) > 0).alias("contaminated"),
    )


def guard_contamination_batch(docs: DataFrame, state_dir: str, n: int = DECON_N) -> DataFrame:
    """Screen one batch against the pinned benchmark; returns the
    materialized verdict rows. Raises if no benchmark was pinned — a
    guard with nothing to guard against is a wiring error, not an
    everything-is-clean result."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = docs.sparkSession
    path = _bench_path(state_dir)
    if not fsutil.list_data_files(path, spark):
        raise ValueError(
            f"no benchmark pinned under {path!r}: call pin_benchmark first "
            "(an unpinned guard would silently admit everything)"
        )
    return guard_batch_df(docs, spark.read.parquet(path), n).localCheckpoint()


def contamination_guard_stream(docs_stream: DataFrame, state_dir: str):
    """Epoch ids tag the verdict rows; the benchmark must be pinned before
    the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = guard_contamination_batch(batch_df, state_dir)
        driver.append_batch(rows, batch_id, os.path.join(state_dir, REPORTS_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_contamination_reports(spark, state_dir: str) -> DataFrame:
    """One verdict row per (batch, doc): screening is against the
    immutable pin only, so replays are bit-identical and the dedup is
    exact."""
    return driver.read_batches(spark, os.path.join(state_dir, REPORTS_SUBDIR), "doc_id")
