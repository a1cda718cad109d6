"""Small-files compaction (S14, beyond-reference).

A 100 TB table ingested by streaming micro-batches (st7's index, the
foreachBatch sinks) accretes thousands of KB-sized parquet files; every
subsequent scan then pays one task + one footer-read + one open per file,
and the NameNode/listing layer pays for all of them. Compaction rewrites
a directory into size-targeted files — the maintenance operator every
table format (Iceberg/Delta `OPTIMIZE`) ships, expressed Spark-first:

- target file count = ceil(input_bytes / target_bytes), measured from the
  filesystem (Hadoop FS listing — works on local disk, HDFS, and object
  stores alike), not guessed;
- `repartition(n)` (round-robin) balances rows across output files —
  an optional cluster key turns it into `repartitionByRange` + in-file
  sort so min/max row-group stats become selective for range predicates
  (poor man's clustering);
- the rewrite is **append-then-prune**: the compacted files are appended
  next to the originals through the normal committer, then the original
  files are deleted individually. No rename anywhere — object stores
  don't have an atomic one, so any rename-based swap is wrong at scale
  by construction. A crash between append and prune leaves DUPLICATE
  rows (re-running compaction converges); it can never lose or truncate
  data. A table format's transaction subsumes this at cluster scale.

The reader-visible relation is IDENTICAL before and after (pinned by
test) — compaction is pure physical-layout maintenance. The contract is a
LEAF directory (one parquet file family, no partition subdirectories):
partitioned layouts compact per partition directory. The st7 and st17
indexes do not go through here: their appends go through the index's
catalog tables, so ``operators.index_table.IndexTable.compact`` runs the
per-partition loop with the same append-then-prune rule.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators import fsutil


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    cluster_by: str | None = None,
) -> int:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(bytes/target_bytes)`` files; returns the output file count.
    ``cluster_by`` additionally range-partitions + sorts so each output
    file covers a tight range of that column (stats-friendly)."""
    old_files = [uri for uri, _ in fsutil.list_data_files(path, spark)]
    if not old_files:
        return 0
    n_files = max(1, math.ceil(fsutil.dir_bytes(path, spark) / target_bytes))
    # Read the EXPLICIT old-file list (not the directory): the plan can
    # never observe the files the append below adds, so the self-append
    # is race-free without any checkpoint or temp directory.
    df = spark.read.parquet(*old_files)
    if cluster_by is not None:
        df = df.repartitionByRange(n_files, F.col(cluster_by)).sortWithinPartitions(cluster_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("append").parquet(path)
    for uri in old_files:
        fsutil.delete(uri, spark=spark)
    return fsutil.data_file_count(path, spark)
