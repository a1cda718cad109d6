"""SparkSession construction, runtime tuning and the table loaders.

The driver harness owns its own SparkSession; everything here must also be
safely applicable to a session we did not build (``tune`` only touches
runtime-settable confs).

The loaders read parquet through ``read_parquet``, which infers each
single-file table's schema once. ``spark.read.parquet`` on a path with no
schema launches a one-task inference job before any plan is built; the
schema is memoized per file identity ``(st_dev, st_ino, st_size,
st_mtime_ns)`` plus the session confs that change what inference returns
(``_SCHEMA_CONFS``), and later reads pass it to ``.schema()``. A rewritten
file or a changed conf is a new key, so it re-infers. Directories and paths
that cannot be ``stat``ed (growing sink and state dirs, object stores) keep
the inferring read.

Values that are costly to build and tied to one Spark application live in
one memo registry, ``session_memo(spark, key, build)``: the doc-type
parsers' Column trees, the catalog's shared relations (LSH pairs, dd5
pairs, k-means centroids, PQ codebooks, the st20 release unroll, most of
them checkpointed) and the leakage guard's pin row counts. Entries live as
long as their Spark application: the first call under a new
``applicationId`` drops the old one's, which releases its checkpoints.
``forget(key)`` drops one entry (a fresh pin at a reused path), ``forget()``
every entry (a timed run that must rebuild).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Runtime-settable confs applied defensively to any session we run on.
# - UTC timezone: parquet timestamps must compare bit-identical with the
#   DuckDB oracle (duckdb timestamps are naive/UTC).
# - AQE on: runtime coalescing + skew-join splitting — the local stand-in for
#   what we rely on at cluster scale.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    try:
        # shuffle partitions ≈ cores for a driver-owned vanilla session
        # (its default of 200 over-parallelizes local data; AQE coalesces,
        # but task-launch overhead is real). At cluster scale this would be
        # sized to ~128 MB shuffle blocks instead.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)),
        )
    except Exception:
        pass
    return spark


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` body and release it on exit, also
    when the body raises: every action in the body shares one execution of
    ``df``'s plan instead of re-running it. A plan that is already cached
    belongs to whoever cached it, so it is yielded as is and left cached."""
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        yield df
        return
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


# application id -> {key: value}; holds at most the current application
_MEMO: dict[str, dict] = {}


def session_memo(spark: SparkSession, key, build):
    """``build()``, called once per Spark application and ``key``.

    The memo is keyed on ``spark.sparkContext.applicationId``, unique per
    SparkContext (``id(spark)`` is not: CPython reuses addresses). The first
    call under a new application id drops every entry of the old one, so a
    value is never served to a SparkContext it was not built for, and a
    dead application's checkpointed relations become collectable. Meant for
    values that cost driver time or Spark jobs to build: unresolved Column
    trees, checkpointed relations shared by several queries, pin metadata.
    ``key`` is by convention the builder plus its arguments."""
    app = spark.sparkContext.applicationId
    memo = _MEMO.get(app)
    if memo is None:
        _MEMO.clear()
        memo = _MEMO[app] = {}
    if key not in memo:
        memo[key] = build()
    return memo[key]


def forget(key=None) -> None:
    """Drop ``key``'s ``session_memo`` entry, or every entry when ``key`` is
    None, so the next call rebuilds it. ``_MEMO`` holds only the current
    application, so no session is needed."""
    if key is None:
        _MEMO.clear()
        return
    for memo in _MEMO.values():
        memo.pop(key, None)


def get_spark(app_name: str = "pdf_etl_pipeline_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session sized for this machine.

    ``local[N]`` is a single JVM: ``spark.driver.memory`` is the only memory
    knob. Shuffle partitions ≈ cores — at cluster scale this would instead be
    sized so each task's shuffle block fits executor memory (~128 MB/task).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


# Hash keys the spread partitions on (the table's row identity), for the
# tables any consumer is allowed to request a spread of. r16 applied the
# spread to EVERY consumer of these tables inside load_table; the r16
# verdict adjudicated that as the cause of every real headline regression
# (dd1 0.31x, ss1 0.87x, w5 0.71x — cheap-aggregate consumers paying a
# full-table exchange for nothing). r17 makes the spread CONSUMER-GATED:
# ``load_table(..., spread=True)`` at the call sites whose per-row work
# is heavy enough to win the exchange back (measured per-consumer
# interleaved A/B, OPTIMIZATION_r17.md); every other consumer reads the
# raw scan. ``events`` keeps its r16 adjudication (window/aggregate-bound,
# st2 1.5 -> 2.6 s with the spread) — no consumer opts in.
_SPREAD_TABLES = {
    "documents": "doc_id",
    "lineitem": "l_orderkey",
    "embeddings": "vec_id",
}


def _input_bytes(path: str) -> int | None:
    """Total bytes under ``path`` (file or directory), or None when the
    path is not locally stat-able (object store at cluster scale — the
    caller then skips the spread, the scale-safe default)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    except OSError:
        return None


def spread_scan(spark: SparkSession, df, path: str, key: str):
    """Hash-repartition a scan that parquet row-group boundaries leave
    narrower than the session's parallelism (optimization guide §2.5
    "input skew: one huge unsplittable file — repartition immediately
    after the read").

    The testdata tables are ONE parquet file with ONE row group each, so
    every scan-rooted stage — including the most CPU-expensive stages in
    the repo (token hashing over ``documents``, the 5-broadcast-join
    pipeline over ``lineitem``) — ran on ONE core of local[32]
    (BENCH_r15 windows: busy_cores 1.6–2.7 for most queries).

    Scale-adaptive, not a local[32] tune: the byte gate keeps the
    repartition OFF whenever the scan can already produce >= parallelism
    splits (input_bytes >= maxPartitionBytes x parallelism), which is
    every real multi-file table at cluster scale, and ON only for
    unsplittable-small inputs where the shuffle is by construction
    cheaper than one task's serial scan of the same bytes.

    HASH on the table's row identity, not round-robin: round-robin
    scatters every downstream group across ALL partitions, so
    per-row-keyed aggregates (MinHash's 64 mins per doc_id) lose map-side
    partial aggregation — each of the 32 partitions emits partials for
    nearly every group and the following exchange carries up to 32x the
    rows. Hash-by-identity keeps each group's rows in ONE partition
    (partials stay disjoint), lets pk-keyed groupBys/joins reuse the
    exchange outright (HashPartitioning(pk, para) with para ==
    shuffle.partitions satisfies their ClusteredDistribution — committed
    evidence: plans/r17/dd3_minhash_lsh_after.txt line 722, the spread
    exchange IS the signature groupBy's distribution, no further
    exchange; per-consumer wins in plans/r17/ab_*.json, e.g. dd3 5.68 on
    vs 6.17 off, tx2 1.19 vs 2.06, st16 32.9 vs 43.2), and needs no
    sort-before-repartition for retry determinism (hash placement is
    deterministic by value). The cost is the key column forced into every
    spread scan's ReadSchema — one int64 per row, and only on inputs the
    byte gate already proved tiny. The partition count is EXPLICIT so
    AQE's coalescer cannot fold the tiny partitions straight back to one.
    """
    para = spark.sparkContext.defaultParallelism
    if para <= 1:
        return df
    size = _input_bytes(path)
    if size is None:
        return df
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    if size >= max_split * para:
        return df
    return df.repartition(para, F.col(key))


# Session confs whose value changes the schema parquet inference returns:
# TIMESTAMP(NANOS) reads as BIGINT only under nanosAsLong (load_events sets
# it; without it the read fails), BINARY as STRING, INT96 as TIMESTAMP, and
# a tz-less timestamp as TIMESTAMP_NTZ or TIMESTAMP.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema only
    the first time that file is read under the current ``_SCHEMA_CONFS``
    (see the module docstring). The memo holds schemas, never data, and is
    checked by ``stat`` on every call, so a hit costs what a read with a
    known schema costs."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k, None) for k in _SCHEMA_CONFS
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False):
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    The read goes through ``read_parquet``: the table file's schema is
    inferred on its first read and reused while the file and the schema
    confs are unchanged; a directory keeps the inferring read.

    ``spread=True`` opts this CONSUMER into the byte-gated scan spread
    (see ``spread_scan``) — for pipelines whose per-row work downstream of
    the scan (tokenizer/hash chains, multi-join probes) is heavy enough
    that serializing it on the scan's narrow parallelism dominates the
    extra exchange. Default off: a cheap aggregate over the raw scan is
    faster than shuffling the whole table first (r16 verdict: dd1 went
    0.27 -> 0.59 s paying a spread it could not use)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    if spread:
        key = _SPREAD_TABLES.get(name)
        if key is not None:
            df = spread_scan(spark, df, path, key)
    return df


def load_events(spark: SparkSession, sf_dir: str):
    """Read the ``events`` table, normalizing the ``ts`` column's on-disk type.

    The driver has shipped two physical encodings of ``ts`` across testdata
    generations, so the loader is type-aware:

    - TIMESTAMP(NANOS) parquet: Spark has no nanosecond timestamp, so the
      column arrives as raw INT64 nanos (``nanosAsLong``) and is floored to
      microseconds with integer ``div`` — double division would *round* the
      microsecond (observable drift vs the oracle).
    - ``timestamp[us]`` parquet (no tz): Spark reads TIMESTAMP_NTZ; cast to
      session-local TIMESTAMP. The session timezone is pinned to UTC
      (``_RUNTIME_CONFS``), so the wall-clock is preserved bit-exactly and
      matches DuckDB's naive read of the same file.

    Either way the callers see ``ts`` as TIMESTAMP plus ``ts_ns`` (epoch
    nanos, BIGINT) for exact integer arithmetic. Event-time query outputs are
    emitted as epoch-second BIGINTs (not timestamps) so the DuckDB oracle
    hashes identically.

    The read goes through ``read_parquet`` after ``nanosAsLong`` is set, so
    the memoized schema is the one inferred under that conf: ``nanosAsLong``
    is part of the memo key, and a ``load_table(..., "events")`` made with a
    different value infers its own.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The TIMESTAMP_NTZ->TIMESTAMP cast below is wall-clock-preserving only
    # when the session timezone is UTC; a driver-owned session that hasn't
    # been through tune() may carry a machine-local zone, silently shifting
    # ts/ts_ns. Pin it here, next to the other load-critical conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events is not spread — see _SPREAD_TABLES (window/aggregate-bound)
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "ts_ns", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
    )
