"""Dedup-insert sink — J1/S7/S8 (reference: db_connection.py:35-88).

The reference fetches existing ``(invoice_number, supplier_name)`` pairs,
anti-filters in pandas, then INSERTs row by row. Spark-first shape:

    existing keys (projection pushed to storage)
      → left-anti join against incoming (planner broadcasts iff small)
      → executor-parallel append

The sink is storage-agnostic: a parquet directory locally (tests, and the
lakehouse layout at scale) or JDBC when ``url`` is given. Exactly-once-ish
semantics match the reference: re-running on an augmented corpus inserts
only new keys. The streaming variant wraps the same function in
``foreachBatch`` (streaming/jobs.py).

Both appends hold the anti-joined rows in one ``materialized`` scope: the
count and the append read the same cached rows, so the key read, the
anti-join and everything upstream run once, and the returned count is taken
from the very rows that are written, not from a second run of the plan.

Scale notes: the key set is read with only the key columns (column-pruned
scan); Catalyst broadcasts it when small. When the existing-key side is too
big to broadcast, the anti-join shuffles both sides on the key — at that
point bucket the table by the dedup key so the join co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators import fsutil
from pdf_etl_pipeline_spark.session import materialized

DEFAULT_KEYS = ("invoice_number", "supplier_name")


def dedup_against_existing(
    df: DataFrame,
    table_path: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    spark: SparkSession | None = None,
) -> DataFrame:
    """The sink's dedup plan: anti-join incoming rows against the existing
    key set, then drop same-batch duplicates.

    No broadcast hint on the existing side: the planner/AQE broadcasts when
    the key set is under the size threshold and falls back to a shuffled
    anti-join when it isn't — forcing the hint OOMs once the table grows.
    """
    spark = spark or df.sparkSession
    key_cols = [k for k in keys if k in df.columns]
    # fsutil.exists, not os.path.isdir: on s3a:// a POSIX probe is always
    # False, which would silently turn dedup-append into blind append.
    if fsutil.exists(table_path, spark):
        # The key columns' schema comes from the incoming rows: reading with
        # it skips the schema-inference job on the sink directory. Parquet
        # resolves columns by name, so a sink whose key types differ raises.
        key_schema = df.select(*key_cols).schema
        existing = spark.read.schema(key_schema).parquet(table_path).distinct()
        df = df.join(existing, key_cols, "left_anti")
    return df.dropDuplicates(key_cols)


def insert_dataframe(
    df: DataFrame,
    table_path: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    spark: SparkSession | None = None,
) -> int:
    """Anti-join dedup + append to a parquet table; returns inserted count
    (0 = all duplicates — reference db_connection.py:63 semantics)."""
    fresh = dedup_against_existing(df, table_path, keys, spark)
    with materialized(fresh):
        # a separate count, not an Observation on the append: an observed
        # append of zero rows still writes an empty part file
        n = fresh.count()
        if n:
            # AQE does not coalesce a cached plan's partitions, so the cache
            # keeps one per shuffle partition; the rebalance lets AQE size the
            # appended files as it does for an uncached write.
            fresh.hint("rebalance").write.mode("append").parquet(table_path)
    return n


def invoice_exists(
    spark: SparkSession,
    table_path: str,
    company_id: int,
    invoice_number: str,
    invoice_date,
) -> bool:
    """S8 point probe (reference db_connection.py:72-88): 3-key existence
    check as a pruned scan + limit(1)."""
    if not fsutil.exists(table_path, spark):
        return False
    t = spark.read.parquet(table_path)
    return (
        t.filter(
            (F.col("company_id") == company_id)
            & (F.col("invoice_number") == invoice_number)
            & (F.col("invoice_date") == F.lit(invoice_date).cast("date"))
        )
        .limit(1)
        .count()
        > 0
    )


def write_jdbc_dedup(
    df: DataFrame,
    url: str,
    table: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    properties: dict | None = None,
) -> int:
    """S7 against a real database: key-only JDBC read (projection pushdown),
    size-gated anti-join (planner picks broadcast vs shuffle), executor-
    parallel batched append."""
    spark = df.sparkSession
    key_cols = list(keys)
    existing = spark.read.jdbc(
        url, f"(SELECT DISTINCT {', '.join(key_cols)} FROM {table}) t", properties=properties or {}
    )
    fresh = df.join(existing, key_cols, "left_anti").dropDuplicates(key_cols)
    with materialized(fresh):
        n = fresh.count()
        if n:
            fresh.write.jdbc(url, table, mode="append", properties=properties or {})
    return n


def invoice_exists_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    company_id: int,
    invoice_number: str,
    invoice_date,
    properties: dict | None = None,
) -> bool:
    """S8 against a live database (reference db_connection.py:72-88): the
    three predicates push down to the database as a WHERE clause (JDBC
    source predicate pushdown) — the probe ships no table data to Spark."""
    t = spark.read.jdbc(url, table, properties=properties or {})
    return (
        t.filter(
            (F.col("company_id") == company_id)
            & (F.col("invoice_number") == invoice_number)
            & (F.col("invoice_date") == F.lit(invoice_date).cast("date"))
        )
        .limit(1)
        .count()
        > 0
    )
