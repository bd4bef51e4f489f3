"""Event-time window aggregations — batch-checkable twins of the
streaming operators (SURVEY.md §2.9 upgrades).

The reference only has a processing-time 60 s flush loop (reference
consumer.py:87-110); Structured Streaming gives event-time windows with
watermarks. These functions express the SAME window algebra on a batch
DataFrame, which is how Spark itself defines streaming window semantics
(a windowed streaming agg over a finite source equals the batch agg).
The live-stream wiring (readStream/writeStream/watermark) is in
streaming/ingest.py; its tests replay these shapes with
Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.registry import query


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts per event type (ST2's event-time
    upgrade). groupBy(window(...)) is a plain hash aggregate on the
    truncated timestamp — partial map-side, tiny shuffle."""
    return (
        events.groupBy(
            F.window("ts", duration).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("cnt"),
            half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@query(
    "st1_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS cnt, {half_up_sql('sum(value)', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows over the events table."""
    return tumbling_counts(table(spark, sf_dir, "events"))


def sliding_counts(
    events: DataFrame, duration: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time windows: each event lands in duration/slide
    overlapping windows (Spark expands them scan-side — narrow, no
    pre-shuffle blowup beyond the window multiplicity)."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cnt")
    )


@query(
    "st2_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
      FROM events
    )
    SELECT window_start, count(*) AS cnt
    FROM expanded GROUP BY window_start
    """,
)
def st2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min. Oracle: each event belongs to
    exactly two windows — the one starting at its 30-min bucket and the
    one 30 min earlier."""
    return sliding_counts(table(spark, sf_dir, "events"))


#: st3's oracle, shared verbatim by st12 (streaming/ingest.py): one SQL
#: definition of the session table for the batch and the streaming path.
_ST3_ORACLE = """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """


@query("st3_session_window", oracle=_ST3_ORACLE)
def st3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) via Spark's native session_window —
    the streaming-capable form of w5_sessionize. Oracle derives the same
    sessions with lag+cumsum."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


@query(
    "st4_stream_dedup",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def st4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the first arrival (ST5 upgrade:
    dropDuplicates-with-watermark in the stream). Batch twin: min over
    the arrival-order id per key — deterministic, unlike bare
    dropDuplicates."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"))
    )
