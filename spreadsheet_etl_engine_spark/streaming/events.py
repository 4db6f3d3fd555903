"""Structured Streaming over the events table.

The reference is strictly batch (whole sheet in memory, ``main.gs:52``);
streaming is an [EXT] capability.  Design:

* event-time processing with ``withWatermark`` so state is bounded — at
  100 TB/day the watermark is what keeps window state from growing without
  limit while still admitting late data inside the threshold;
* tumbling / sliding windows via ``F.window``, session windows via
  ``F.session_window`` — all have exact batch twins registered in
  ``ext_queries`` so the DuckDB oracle can check the aggregation logic;
* a custom stateful operator (running per-user counters) via
  ``applyInPandasWithState`` showing the arbitrary-state escape hatch.

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


def running_user_totals(
    events: DataFrame, *, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator: running per-user event count and value sum
    maintained with ``applyInPandasWithState`` — the escape hatch when
    built-in windows can't express the state machine.  Emits one row per
    user per micro-batch with the updated totals.

    State-bounding is OPT-IN via ``idle_timeout_ms`` (processing-time
    timeout): a user silent that long has their state row evicted
    (emitting a final row with the last totals), so a CONTINUOUS
    deployment tracks only recently-active users instead of every user
    id ever seen — without it, unbounded key cardinality OOMs a
    week-long run, which is why a production continuous stream must set
    it.  A user returning after eviction restarts from zero — the
    standard trade: running-forever totals belong in a batch aggregate
    over the archived stream, not in stream state.

    The default is ``None`` (no eviction) because processing-time
    timeouts interact badly with the ``availableNow`` backfill/test
    harness: the query keeps scheduling micro-batches until wall-clock
    timeouts fire (observed: hundreds of empty batches), so
    catch-up/backfill runs — whose state is bounded by the run's total
    key count anyway — should leave it off and continuous deployments
    should turn it on.

    The running sum is EXACT, not float (r11): ``value`` is cast to
    integer cents Spark-side under the engine-wide decimal(18,2)
    measure contract — the ANSI decimal cast fails loud on NaN/±inf and
    on magnitudes past the cap, the same stance as
    ``functions.numeric.finite_or_fail`` and the same arithmetic every
    batch twin's oracle uses — and the state accumulates Python ints
    (arbitrary precision; the int64 state-store boundary is guarded
    fail-loud).  A float64 accumulator drifted ~1e-2 on 1e12-magnitude
    values depending on arrival order (edge family 5), which is both
    nondeterministic across retries and unreconcilable with an exact
    decimal oracle.  The emitted ``total_value`` is the correctly-
    rounded double of the exact cent total.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total_cents long"
    timeout = (GroupStateTimeout.NoTimeout if idle_timeout_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)

    def _as_double(cents: int) -> float:
        from decimal import Decimal

        # float(Decimal)/100 in one exact step: correctly rounded for ANY
        # cent total (float(cents)/100.0 double-rounds past 2^53).
        return float(Decimal(cents) / 100)

    def update(key, pdf_iter, state):
        import numpy as np

        if state.hasTimedOut:
            n, cents = state.get if state.exists else (0, 0)
            state.remove()          # evict: bounded state
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n],
                 "total_value": [_as_double(cents)]}
            )
            return
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # value_cents is coalesced to 0 Spark-side (NULL value =
            # zero contribution, exactly SQL sum semantics), so the
            # Arrow batch is null-free and pandas keeps int64 — a
            # nullable column would arrive as float64, which silently
            # rounds ODD cent totals past 2^53 (reachable inside the
            # decimal(18,2) domain: 90071992547409.93 units is 2^53+1
            # cents).  tolist() yields Python ints; sum() over them is
            # exact at any magnitude.  The dtype check fails loud if a
            # float column ever sneaks back in.
            c = pdf["value_cents"]
            if not np.issubdtype(c.dtype, np.integer):
                raise TypeError(
                    f"value_cents arrived as {c.dtype}, not int64 — the "
                    "exact-cents contract requires a null-free integer "
                    "column (see the coalesce in running_user_totals)"
                )
            cents += sum(c.tolist())
        if not (-(2**63) < cents < 2**63):  # pragma: no cover — 9.2e16 units
            raise ValueError(
                f"running_user_totals: total for user {key[0]} overflows "
                "the int64 cent state (|total| >= 2^63 cents); this feed "
                "needs a wider state type or per-window totals"
            )
        state.update((n, cents))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "total_value": [_as_double(cents)]}
        )

    # Project BEFORE the stateful op: applyInPandasWithState ships every
    # input column through Arrow into pandas, so (a) wide rows (props,
    # event_type) would cross the Python boundary for nothing — at
    # 100 TB the Arrow batch width IS the transfer cost — and (b) a
    # timestamp column would hit pandas' ns-range limit (year 9999
    # overflows timestamp[ns]; ArrowInvalid kills the stream — edge
    # family 2 find).  The cents cast lives here too, so every value
    # semantics decision (rounding, NaN, overflow) is made by the SAME
    # Spark/ANSI arithmetic the batch twins and their oracles use —
    # Python only ever sees exact integers.
    return (
        events.select(
            "user_id",
            # coalesce(., 0): NULL contributes nothing to the sum (SQL
            # semantics) AND keeps the Arrow batch null-free so pandas
            # receives exact int64, never float64 — see the dtype check
            # in update().
            F.coalesce(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
                F.lit(0).cast("long"),
            ).alias("value_cents"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, output_schema, state_schema, "update", timeout
        )
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
