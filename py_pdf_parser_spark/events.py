"""Event-stream analytics over the ``events`` table.

The reference is a batch library with no time dimension (SURVEY.md
§2.10); a web-scale extraction deployment, however, rides alongside an
event stream (crawl/ingest telemetry: one row per document landing,
parse completion, error, …).  These operators are the Spark-native
time-series layer: tumbling-window aggregation, gap-based
sessionization, and JSON property extraction — all built-in JVM-side
expressions (zero Python), all shuffling only on small
(window, type) / (user, session) keys.

The same transformations run unchanged under Structured Streaming:
``streaming.stream(spark, input_dir, EVENTS_SCHEMA, windowed_counts,
query_name, output_mode="complete")`` keeps every window, so its table
equals the batch result.  ``windowed_counts`` is written against
event-time, so a ``withWatermark`` prefix would make it a valid
append-mode aggregation with late-data handling; complete mode ignores
a watermark (it neither drops late rows nor evicts window state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

WINDOW_MINUTES = 5
SESSION_GAP_MINUTES = 30


def _epoch(col) -> "F.Column":
    """Epoch seconds (with fractional micros) of a naive timestamp,
    treating the wall clock as UTC — independent of the session timezone.

    Parquet naive timestamps arrive as TIMESTAMP_NTZ in Spark 4, which
    has no direct numeric cast, and an NTZ->LTZ cast would interpret
    the wall clock in ``spark.sql.session.timeZone`` (a hidden session
    dependence).  Pure field extraction avoids the zone entirely:
    days-since-epoch * 86400 + time-of-day (date_part('SECOND') keeps
    the fractional micros).  All JVM-side, whole-stage-codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.unix_date(c.cast("date")).cast("double") * 86400.0
        + F.hour(c).cast("double") * 3600.0
        + F.minute(c).cast("double") * 60.0
        + F.date_part(F.lit("SECOND"), c).cast("double")
    )


def windowed_counts(
    events: DataFrame, minutes: int = WINDOW_MINUTES
) -> DataFrame:
    """Tumbling event-time window counts + value sums per event_type.

    Partial aggregation is map-side combinable; the shuffle carries one
    row per (window, event_type) per input partition.  Window start is
    emitted as epoch seconds (bigint) for a stable cross-engine key.
    """
    win = F.window(F.col("ts"), f"{minutes} minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            _epoch(F.col("w.start")).cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    since the previous event exceeds ``gap_minutes``.

    Classic lag + running-sum-of-boundaries over a per-user window —
    one shuffle on user_id, everything else stays in the window stage.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    prev_ts = F.lag(_epoch("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull() | (_epoch("ts") - prev_ts > gap_s), 1
    ).otherwise(0)
    with_sess = events.withColumn(
        "session_id", F.sum(is_new).over(w).cast("long")
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.min(_epoch("ts"))).cast("long").alias("start_s"),
            F.floor(F.max(_epoch("ts"))).cast("long").alias("end_s"),
        )
    )


def windowed_distinct_users(
    events: DataFrame, minutes: int = WINDOW_MINUTES
) -> DataFrame:
    """Exact distinct users per tumbling window (reach/uniques).

    count(distinct) plans as a two-stage aggregate (partial distinct
    per partition, then merge) — shuffle carries the distinct
    (window, user) pairs, not raw events.  At extreme cardinality swap
    in approx_count_distinct (HLL) — kept exact here so the DuckDB
    oracle can hash-match."""
    win = F.window(F.col("ts"), f"{minutes} minutes")
    return (
        events.groupBy(win.alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            _epoch(F.col("w.start")).cast("long").alias("win_start"),
            "n_users",
        )
    )


def json_prop_stats(events: DataFrame) -> DataFrame:
    """Parse the ``props`` JSON column and aggregate by extracted key.

    ``get_json_object`` is JVM-side (Jackson) — no Python in the path;
    the groupBy key is a small int bucket so the shuffle is tiny.
    """
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k_bucket", (k % 10).cast("long"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max(k).alias("max_k"),
        )
    )
