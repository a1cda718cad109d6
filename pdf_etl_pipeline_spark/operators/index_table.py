"""How an incremental dedup index (st7 in ``llmdata/ingest.py``, st17 in
``llmdata/mm_ingest.py``, reused by st20) is stored as catalog tables:
naming, register-or-recover, append, drop and partition compaction. Each
relation is an :class:`IndexTable` spec applied to the caller's index dir;
an :class:`Index` groups an index's relations.
"""

from __future__ import annotations

import hashlib
import os
import re
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators import fsutil

# Band partitions fragment by one file family per micro-batch (one file
# per shuffle task per partition); past this many data files per
# partition the steady-state ingest compacts them (see compact_index).
# Measured (SCALE.md, r9): 24 staged batches leave 267 files/partition
# uncompacted vs a bounded count with in-loop compaction; on local SSD
# the admission latency stays flat either way at this file count — the
# compaction lever exists for the object-store regime, where every file
# open is a round trip and listing is priced per entry.
MAX_FILES_PER_BAND = 8


# --- catalog registration -----------------------------------------------------
# The index is a CATALOG TABLE set, not a bare directory: existence is a
# metastore probe (spark.catalog.tableExists), reads go through
# spark.table() so Spark's table-level file-index cache and partition
# pruning both apply, and appends go through saveAsTable so the cache
# invalidates transactionally with the write. The directory layout under
# index_dir is unchanged (st7: bands/ partitioned by band, toks/
# hash-clustered; st17: mm_bands/ partitioned by band_idx) — external
# tables point AT it, so a catalog that doesn't survive the process
# (local in-memory metastore) recovers by re-registering the location
# (Index.ensure_registered's CREATE TABLE ... LOCATION path, schema and
# partitions inferred from the files).


def _digest(index_dir: str) -> str:
    return hashlib.md5(os.path.abspath(index_dir).encode()).hexdigest()[:10]


@dataclass(frozen=True)
class IndexTable:
    prefix: str  # catalog name is ``<prefix>_<md5 of the index dir>``
    subdir: str  # the relation's directory under the index dir
    partition_by: str | None = None

    def name(self, index_dir: str) -> str:
        return f"{self.prefix}_{_digest(index_dir)}"

    def path(self, index_dir: str) -> str:
        return os.path.join(index_dir, self.subdir)

    def append(self, df: DataFrame, index_dir: str) -> None:
        """Append through the catalog: first write creates the external
        table at :meth:`path`, later writes append to the registered table
        (which also invalidates Spark's cached file listing — an external
        rewrite would not)."""
        name = self.name(index_dir)
        w = df.write.mode("append").format("parquet")
        if self.partition_by is not None:
            w = w.partitionBy(self.partition_by)
        if not df.sparkSession.catalog.tableExists(name):
            w = w.option("path", self.path(index_dir))
        w.saveAsTable(name)

    def rewrite(self, spark, index_dir: str, old_files: list, df: DataFrame) -> None:
        # read the EXPLICIT old-file list so the plan can never observe
        # the files the append adds; then append through the catalog
        # (cache invalidates with the write) and prune the old files
        self.append(df, index_dir)
        for uri in old_files:
            fsutil.delete(uri, spark=spark)

    def compact(self, spark, index_dir: str, max_files: int, target_bytes: int) -> list:
        """Rewrite each partition holding more than ``max_files`` data
        files into ``ceil(bytes/target_bytes)`` files, append-then-prune;
        returns the compacted partition names (``<col>=K``). The caller
        runs :meth:`Index.refresh` once its rewrites are done."""
        col = self.partition_by
        col_type = spark.table(self.name(index_dir)).schema[col].dataType.simpleString()
        compacted: list[str] = []
        for pdir in fsutil.list_subdirs(self.path(index_dir), spark):
            base = pdir.rstrip("/").rsplit("/", 1)[-1]
            if not base.startswith(f"{col}="):
                continue
            # Hive %-escapes special chars in partition-directory values and
            # spells NULL as __HIVE_DEFAULT_PARTITION__; index partition
            # columns are integers by construction, so unescape and refuse
            # anything that isn't one rather than writing a garbage/NULL
            # partition column on the rewrite.
            val = urllib.parse.unquote(base.split("=", 1)[1])
            if not re.fullmatch(r"-?\d+", val):
                continue
            files = [uri for uri, _ in fsutil.list_data_files(pdir, spark)]
            if len(files) > max_files:
                n_out = max(1, -(-fsutil.dir_bytes(pdir, spark) // target_bytes))
                df = (
                    spark.read.parquet(*files)
                    .withColumn(col, F.lit(val).cast(col_type))
                    .repartition(n_out)
                )
                self.rewrite(spark, index_dir, files, df)
                compacted.append(base)
        return compacted


class Index:
    """The catalog tables of one index; existence on disk is judged on
    the first table's directory."""

    def __init__(self, *tables: IndexTable):
        self.tables = tables

    def ensure_registered(self, spark, index_dir: str) -> bool:
        """True iff the index exists: registered in the catalog, or present
        on disk from a previous process — in which case it is re-registered
        (external CREATE TABLE over the existing location; schema and the
        partitioning are inferred from the files)."""
        if all(spark.catalog.tableExists(t.name(index_dir)) for t in self.tables):
            return True
        # Hadoop-FS existence probe — the recovery path works wherever the
        # index lives (local disk, HDFS, object store), not just on POSIX
        if not fsutil.exists(self.tables[0].path(index_dir), spark):
            return False
        for t in self.tables:
            name = t.name(index_dir)
            if not spark.catalog.tableExists(name):
                # the table name is md5-derived (safe); the LOCATION path is
                # caller-controlled, so escape it as a SQL string literal
                loc = t.path(index_dir).replace("'", "''")
                spark.sql(f"CREATE TABLE `{name}` USING parquet LOCATION '{loc}'")
                if t.partition_by is not None:
                    # partition discovery is not implied by schema inference:
                    # without the repair the recovered table lists zero files
                    spark.sql(f"MSCK REPAIR TABLE `{name}`")
        return True

    def drop(self, spark, index_dir: str) -> None:
        """Unregister the index's catalog tables (files untouched) — callers
        that delete a temporary index directory drop its tables first so the
        catalog never points at a vanished location."""
        for t in self.tables:
            spark.sql(f"DROP TABLE IF EXISTS {t.name(index_dir)}")

    def refresh(self, spark, index_dir: str) -> None:
        for t in self.tables:
            # compaction's prunes happened outside the catalog — drop the
            # cached file listing so no scan ever serves a vanished file
            spark.catalog.refreshTable(t.name(index_dir))
