"""The one micro-batch driver behind every ``*_stream`` wrapper: a batch
body runs with the epoch id as its batch id, its rows append tagged with
it, and a replay's duplicate appends collapse on read."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_batches(stream: DataFrame, body: Callable[[DataFrame, int], None], checkpoint: str | None):
    """The unstarted ``availableNow`` writer running ``body(batch_df,
    batch_id)`` per micro-batch; a None ``checkpoint`` keeps Spark's
    temporary one."""
    writer = stream.writeStream.outputMode("append").foreachBatch(
        lambda batch_df, epoch_id: body(batch_df, int(epoch_id))
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True)


def append_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Append ``df`` tagged with ``batch_id`` as parquet under ``path``."""
    df.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode("append").parquet(path)


def read_batches(spark, path: str, key: str) -> DataFrame:
    """Every batch's rows once: replayed appends collapse on (batch_id, key)."""
    return spark.read.parquet(path).dropDuplicates(["batch_id", key])
