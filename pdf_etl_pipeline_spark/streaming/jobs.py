"""Structured Streaming jobs — SURVEY.md §2.9 (absent in the reference;
its closest behavior is incremental re-run + insert-dedup, which maps to a
file-source stream + ``foreachBatch`` anti-join upsert).

Every transformation here uses Spark's unified API: the same function body
works on a batch DataFrame (driver correctness checks run it in batch mode)
and on a ``readStream`` DataFrame (watermarks/output-modes then apply).

Scale notes: streaming state (window aggs, dedup) is keyed by
(window, event_type) / event_id — watermarks bound state size; at high
volume the state store partitions by ``spark.sql.shuffle.partitions``,
sized like any other shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe
from pdf_etl_pipeline_spark.streaming import driver

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of event parquet drops (micros timestamps)."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding when ``slide`` given) event-time window
    aggregation with a late-data watermark."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return events.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time session windows per user (the streaming analog of the
    OCR gap-grouping operator)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.groupBy(F.session_window("ts", gap).alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exactly-once-ish dedup on event_id within the watermark —
    the streaming twin of the sink anti-join."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.dropDuplicates(["event_id"])


def upsert_stream(events: DataFrame, sink_path: str):
    """Dedup-append: each micro-batch goes through the same anti-join
    insert as the batch sink (reference S7 semantics, db_connection.py:41-47,
    made incremental). Spark's temporary checkpoint, because a checkpoint
    inside the sink would make the first anti-join read it as the table."""

    def _batch(batch_df: DataFrame, _batch_id: int) -> None:
        insert_dataframe(batch_df, sink_path, keys=("event_id",))

    return driver.run_batches(events, _batch, None)


def attribution_join(
    events: DataFrame, horizon: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval self-join: each ``purchase`` matched to the
    same user's ``view`` events in the preceding ``horizon`` — the classic
    attribution join.

    In streaming mode this is Spark's watermarked stream-stream inner join:
    the time-range condition plus both watermarks bound the join state (a
    view can be dropped from state once it is ``horizon`` + watermark old).
    In batch mode the same plan is a plain interval join. Both sides shuffle
    on ``user_id`` — the join key; the range condition is evaluated post-hash
    so no theta-join blowup.
    """
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    if events.isStreaming:
        p = p.withWatermark("p_ts", watermark)
        v = v.withWatermark("v_ts", watermark)
    cond = (
        (p["user_id"] == v["v_user"])
        & (v["v_ts"] <= p["p_ts"])
        & (v["v_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(v, cond).drop("v_user")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals that persist across micro-batches — the §2.9
    'custom stateful operator' surface.

    State = (n_events, total_value) per user; each batch emits the updated
    running totals for users seen in that batch. In batch mode (unit
    correctness) the same logic degenerates to a groupBy aggregate.
    """
    import pandas as pd

    out_schema = "user_id long, n_events long, total_value double"

    if not events.isStreaming:
        return (
            events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
            )
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_rolling_anomalies(
    events: DataFrame,
    w_rows: int | None = None,
    min_n: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """rs5's rolling z-score anomaly detection as a custom STATEFUL
    streaming operator (applyInPandasWithState): per event_type, the state
    is just the trailing W raw values — the sequential form of the batch
    plan's strictly-prior frame, so a stream processed in event-time order
    emits EXACTLY the batch result (pinned in tests/test_streaming.py).

    Exactness contract: the batch plan sums DECIMAL(12,6)-quantized values
    (cast = HALF_UP on the double's shortest repr), casts the exact sums to
    double, then runs double arithmetic. The Python state path reproduces
    each step with decimal.Decimal — quantize(1e-6, HALF_UP) on repr(v),
    exact sums, float() conversion (correctly rounded, same as the CAST) —
    so streamed and batch z-scores are bit-identical, not approximately so.

    In batch mode this delegates to the window implementation.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from pdf_etl_pipeline_spark.operators.rolling_anomaly import (
        MIN_N,
        THRESHOLD,
        W_ROWS,
        rolling_anomalies,
    )

    w_rows = W_ROWS if w_rows is None else w_rows
    min_n = MIN_N if min_n is None else min_n
    threshold = THRESHOLD if threshold is None else threshold

    ev = events.filter(F.col("value").isNotNull())
    if not events.isStreaming:
        return rolling_anomalies(ev, "event_type", ["ts", "event_id"], "value")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_type string, ts timestamp, event_id long, value double, "
        "mean_w double, std_w double, z double"
    )
    state_schema = "vals array<double>"
    SIX = Decimal("0.000001")

    def _r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(SIX, ROUND_HALF_UP))

    def update(key, pdfs, state: GroupState):
        vals = list(state.get[0]) if state.exists else []
        qsum = sum((Decimal(repr(v)).quantize(SIX, ROUND_HALF_UP) for v in vals), Decimal(0))
        qsq = sum(
            (
                Decimal(repr(v)).quantize(SIX, ROUND_HALF_UP) ** 2
                for v in vals
            ),
            Decimal(0),
        )
        out = {c: [] for c in ("event_type", "ts", "event_id", "value", "mean_w", "std_w", "z")}
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for row in pdf.itertuples(index=False):
            v = float(row.value)
            n = len(vals)
            if n >= min_n:
                s1 = float(qsum)
                s2 = float(qsq)
                mean = s1 / n
                var = max((s2 - s1 * s1 / n) / (n - 1), 0.0)
                std = var**0.5
                if std > 0:
                    z = _r6((v - mean) / std)
                    if abs(z) > threshold:
                        out["event_type"].append(key[0])
                        out["ts"].append(row.ts)
                        out["event_id"].append(row.event_id)
                        out["value"].append(v)
                        out["mean_w"].append(_r6(mean))
                        out["std_w"].append(_r6(std))
                        out["z"].append(z)
            q = Decimal(repr(v)).quantize(SIX, ROUND_HALF_UP)
            vals.append(v)
            qsum += q
            qsq += q * q
            if len(vals) > w_rows:
                dropped = Decimal(repr(vals.pop(0))).quantize(SIX, ROUND_HALF_UP)
                qsum -= dropped
                qsq -= dropped * dropped
        state.update((vals,))
        yield pd.DataFrame(out)

    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
