"""Structured Streaming over the events table.

The reference is strictly batch (whole sheet in memory, ``main.gs:52``);
streaming is an [EXT] capability.  Design:

* event-time processing with ``withWatermark`` so state is bounded — at
  100 TB/day the watermark is what keeps window state from growing without
  limit while still admitting late data inside the threshold;
* tumbling / sliding windows via ``F.window``, session windows via
  ``F.session_window`` — all have exact batch twins registered in
  ``ext_queries`` so the DuckDB oracle can check the aggregation logic;
* running per-user totals as a streaming aggregation in update mode
  (``running_user_totals``): Spark keeps one state row per user id, so
  no Python worker runs and a restart restores the state from the
  checkpoint.

Tests drive these with the file source + ``availableNow`` trigger and a
memory sink, then diff against the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark.errors import EngineError
from spreadsheet_etl_engine_spark.functions.numeric import finite_or_fail
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def check_stream_columns(
    spark: SparkSession, path: str, schema: StructType, what: str
) -> None:
    """Fail loud if the parquet files under ``path`` lack a column of
    ``schema``.

    A parquet stream resolves columns by name, so a renamed field would
    read as all-NULL in every micro-batch with nothing failing.  The
    probe is a batch read through Spark, so it sees every path Spark
    can read (local, ``file:``, ``hdfs://``, ``s3a://``).  Limits: files
    arriving after construction are not re-checked (pair the stream with
    a ``not_null`` quality constraint on required fields), and an empty
    or missing directory is not checked (a stream may start before its
    first file).  Every other read failure, such as a corrupt footer or
    a denied permission, propagates.
    """
    from pyspark.errors import AnalysisException

    try:
        present = set(spark.read.parquet(path).schema.names)
    except AnalysisException as exc:
        if (exc.getCondition() or "") not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return
    missing = [f.name for f in schema.fields if f.name not in present]
    if missing:
        raise EngineError(
            f"{what} stream at {path}: columns {missing} missing from the "
            f"files present (found {sorted(present)}); a parquet stream "
            "would silently read them as NULL."
        )


def read_event_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of event parquet files under ``path``, checked
    against ``EVENT_SCHEMA`` at construction (``check_stream_columns``).

    ``maxFilesPerTrigger`` keeps micro-batches bounded when backfilling a
    large directory (tests set 1 to force one file per micro-batch so
    watermark advancement between batches is observable).
    """
    check_stream_columns(spark, path, EVENT_SCHEMA, "event")
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(
    events: DataFrame, *, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time aggregation (streaming twin of
    ``events_tumbling_window``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             F.sum(finite_or_fail(F.col("value"), "value")
                   .cast("decimal(18,2)")).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    *,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session-window aggregation (streaming twin of ``events_sessionize``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def view_click_attribution(
    views: DataFrame,
    clicks: DataFrame,
    *,
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each click to the
    view(s) by the same user within ``horizon`` before it.

    The time-range predicate (``click_ts`` in [``view_ts``, ``view_ts`` +
    horizon]) plus watermarks on BOTH sides is what lets Spark bound the
    join state: a buffered view can be evicted once the click-side
    watermark passes ``view_ts + horizon`` — without it, stream-stream
    join state grows forever.  At 100 TB/day this horizon/watermark pair
    IS the memory budget.

    Watermark sizing: the delay must cover the source's event-time
    DISORDER, not just network lateness — a file-source backfill reads
    files in arbitrary order, so rows arrive arbitrarily "late" and a
    small delay silently drops matches; callers replaying history pass a
    watermark spanning the backfill window (state stays bounded by the
    run's total data), while live mostly-ordered streams use minutes."""
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return (
        v.join(
            c,
            F.expr(
                "user_id = click_user AND click_ts >= view_ts "
                f"AND click_ts <= view_ts + interval {horizon}"
            ),
        )
        .select("user_id", "view_id", "click_id", "view_ts", "click_ts")
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user event count and value sum: a streaming
    aggregation keyed by ``user_id``.  Run in update mode, it emits one
    row per user touched in each micro-batch, carrying that user's
    totals so far.

    The state is Spark's own aggregation buffer, one row per user id
    (a count and a decimal sum), so a restart restores it from the
    checkpoint whatever the caller's shuffle width.  State grows with
    the number of distinct users; running-forever totals belong in a
    batch aggregate over the archived stream.

    The sum is exact: ``value`` is cast to decimal(18,2) under the
    engine-wide measure contract (the ANSI cast fails loud on NaN/±inf
    and on magnitudes past the cap, as the batch twins' arithmetic
    does), scaled to integer cents and accumulated as decimal(38,0),
    which cannot wrap.  A NULL value contributes nothing, and a user
    whose every value is NULL totals 0.  ``total_value`` is the exact
    cent total divided by 100 in decimal, then cast to double: the
    correctly rounded double of the exact total, independent of
    arrival order.
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.coalesce(F.sum(cents), F.lit(0)) / 100).cast("double").alias("total_value"),
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, *, output_mode: str = "append"):
    """Execute a streaming query to completion on available data (test/
    batch-catchup harness): availableNow trigger + memory sink."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
