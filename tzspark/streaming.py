"""Structured Streaming front-end for the lookup engine.

The reference is strictly batch (no streaming anywhere — SURVEY.md §2.6);
this is an engine extension: the same compiled-cover UDFs run unchanged
inside a streaming query over the mapped index file, because the lookup path
is stateless per-row (no shuffle, no state store): engine.assign_timezones
takes a read_image_stream DataFrame as it is (any sink, exactly-once with
checkpointLocation). Late data only matters for the windowed tile
aggregation, handled with a watermark.

Patterns provided:
* ``stream_assign_join``  — the lookup without tzid
                            (covertable.assign_images_via_join) into a
                            parquet sink
* ``stream_tile_counts``  — event-time windowed per-tile counts with a
                            watermark for late rows
* ``run_available_now``   — drain-everything-then-stop runner (used by tests
                            and backfills; Trigger.AvailableNow)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datasets import IMAGES_SCHEMA


def read_image_stream(spark: SparkSession, path: str, per_trigger_files: int = 4) -> DataFrame:
    """File-source stream over an image-table directory (parquet)."""
    return (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", per_trigger_files)
        .parquet(path)
    )


def stream_assign_join(
    images_stream: DataFrame,
    cover,
    out_path: str,
    checkpoint_dir: str,
):
    """The lookup (covertable.assign_images_via_join) on a stream, into a
    parquet file sink at ``out_path``: a plain stateless query (the batch
    plan, pinned in tests/test_streaming.py), exactly-once through
    checkpointLocation and the sink's metadata log. Returns the stopped
    StreamingQuery (AvailableNow trigger — drain + stop)."""
    from .covertable import assign_images_via_join

    q = (
        assign_images_via_join(images_stream, cover)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_tile_counts(
    assigned_stream: DataFrame,
    ts_col: str = "event_ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Windowed per-tile counts with late-data handling: rows later than the
    watermark are dropped from their (closed) window instead of reopening it."""
    return (
        assigned_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "cell_id")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("via_knn").cast("long")).alias("n_via_knn"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cell_id",
            "n_images",
            "n_via_knn",
        )
    )


def stream_dedup(
    images_stream: DataFrame,
    key: str = "image_id",
    ts_col: str = None,
    watermark: str = None,
) -> DataFrame:
    """Stateful exact dedup across triggers: first occurrence of each key
    wins, later re-deliveries are dropped via the streaming state store —
    the streaming form of the q13 exact-dedup operator (at-least-once
    sources -> exactly-once rows).

    Without a watermark the dedup state grows UNBOUNDEDLY (one entry per
    distinct key forever) — acceptable for bounded backfills only. For a
    long-running stream pass ts_col + watermark: re-deliveries are expected
    within the lateness horizon, and dropDuplicatesWithinWatermark evicts
    state older than it."""
    if ts_col is not None and watermark is not None:
        return images_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [key]
        )
    return images_stream.dropDuplicates([key])


SESSION_STATE_SCHEMA = (
    "start_us LONG, last_us LONG, session_idx LONG, n_events LONG, "
    "n_purchases LONG, total_value DOUBLE"
)

SESSION_OUT_SCHEMA = (
    "user_id LONG, session_idx LONG, session_start TIMESTAMP, "
    "session_end TIMESTAMP, n_events LONG, n_purchases LONG, "
    "total_value DOUBLE"
)

_GAP_US_DEFAULT = 30 * 60 * 1_000_000


def stream_sessionize(events_stream: DataFrame, gap_us: int = _GAP_US_DEFAULT):
    """Custom STATEFUL streaming operator: sessionization with
    ``applyInPandasWithState`` — the arbitrary-state API the built-in
    windowed aggregations can't express (a session's extent is data-driven,
    not a fixed window).

    Per user the state carries (session_start, last_ts, running counters);
    a row with gap > ``gap_us`` CLOSES the current session (emitted
    downstream, append mode) and opens the next. Sessions therefore close
    exactly when their user's next session begins — NoTimeout keeps the
    emission deterministic for replay/backfill (batch==stream pinned in
    tests); a production deployment that must flush idle sessions without
    waiting for the user's next event would use EventTimeTimeout + a
    watermark, trading that determinism for bounded latency. Assumes
    per-user event-time-ordered arrival across triggers (file/Kafka sources
    partitioned by time), the standard contract for this operator.

    Output schema matches the batch q46_sessionize rollup, so
    closed-session rows are directly comparable against the batch answer.
    """
    import pandas as pd

    def _fn(key, pdfs, state):
        (user_id,) = key
        ev = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start_us, last_us, idx, n, npur, tot = state.get
        else:
            start_us = last_us = None
            idx, n, npur, tot = 0, 0, 0, 0.0
        out = []
        for ts, et, val in zip(ev["ts"], ev["event_type"], ev["value"]):
            us = ts.value // 1000  # pandas ns -> engine microseconds
            if start_us is None:
                idx += 1
                start_us, n, npur, tot = us, 0, 0, 0.0
            elif us - last_us > gap_us:
                out.append(
                    (user_id, idx, pd.Timestamp(start_us * 1000),
                     pd.Timestamp(last_us * 1000), n, npur, tot)
                )
                idx += 1
                start_us, n, npur, tot = us, 0, 0, 0.0
            last_us = us
            n += 1
            npur += int(et == "purchase")
            tot += float(val)
        state.update((start_us, last_us, idx, n, npur, tot))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "session_idx", "session_start", "session_end",
                    "n_events", "n_purchases", "total_value",
                ],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events_stream.groupBy("user_id").applyInPandasWithState(
        _fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    df: DataFrame, checkpoint_dir: str, sink_name: str, output_mode: str = None
):
    """Drain all available input once (Trigger.AvailableNow) into an
    in-memory sink; returns after the stream stops. For backfills and tests;
    production sinks swap format('memory') for parquet/Kafka with the same
    checkpointLocation semantics.

    output_mode default: append for stateless/dedup plans, complete for
    aggregations (the memory sink shows every window even when the final
    watermark has not closed them — a drained backfill wants all results).
    Pass output_mode='append' explicitly for a watermarked aggregation whose
    closed-window/late-data-dropping behavior is under test."""
    if output_mode is None:
        output_mode = "append" if df.isStreaming and not _has_agg(df) else "complete"
    q = (
        df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _has_agg(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


TRANSITION_STATE_SCHEMA = "prev_zone INTEGER"
TRANSITION_OUT_SCHEMA = (
    "user_id LONG, event_id LONG, from_zone INTEGER, to_zone INTEGER"
)


def stream_zone_transitions(assigned_events_stream: DataFrame):
    """Custom STATEFUL streaming operator: geofence transition detection —
    the streaming twin of queries_geo.q65_zone_transitions.

    Input: an event stream already carrying ``zone_id`` from the stateless
    cover probe upstream (the assignment itself needs no state),
    plus (user_id, event_id, ts). Per-user state is ONE integer — the zone
    of the user's latest event — so the state store is O(active users)
    regardless of stream length; each micro-batch sorts its own rows by
    (ts, event_id) and emits a row per zone change, including changes that
    straddle trigger boundaries (the whole reason this needs
    applyInPandasWithState instead of a per-batch window). Same arrival
    contract as stream_sessionize: per-user event-time-ordered delivery
    across triggers. Unlike sessionization there is no open tail — a
    drained AvailableNow run emits EXACTLY the batch answer (pinned in
    tests/test_streaming.py)."""
    import pandas as pd

    def _fn(key, pdfs, state):
        (user_id,) = key
        ev = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        prev = state.get[0] if state.exists else None
        out = []
        for eid, z in zip(ev["event_id"], ev["zone_id"]):
            z = int(z)
            if prev is not None and z != prev:
                out.append((user_id, int(eid), prev, z))
            prev = z
        state.update((prev,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "from_zone", "to_zone"]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return assigned_events_stream.groupBy("user_id").applyInPandasWithState(
        _fn,
        TRANSITION_OUT_SCHEMA,
        TRANSITION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
