"""Structured Streaming ingest — the reference's producer/consumer loop
re-expressed as readStream -> transform -> writeStream (SURVEY §2.9).

The reference's streaming layer is two hand-rolled Python loops: a
row-at-a-time Kafka producer (reference producer.py:81-116) and a poll
loop flushing 60 s wall-clock batches to CSV (consumer.py:87-114). Here
the whole loop is one declarative streaming query:

    events = stream_events(spark, sf_dir)          # source (S8 analog)
    q = micro_batch_csv_sink(events, out, cp)      # ST2: 60 s trigger
    ...
    q.stop()                                       # ST4: graceful drain

plus the upgrades the reference lacks (SURVEY §2.9 ST5): event-time
watermarks and keyed dedup on the stream.

Determinism: tests and registry queries run with Trigger.AvailableNow
over the finite driver parquet (SURVEY §7 risk register — never wall
clock), so a streaming result equals its batch twin in
streaming/batch_windows.py and can be DuckDB-oracled.

Scale: the file source lists directories incrementally and each
micro-batch is a normal parquet scan; state stores (window aggs, dedup)
are per-key and RocksDB-backed on a real cluster. Nothing funnels
through the driver.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from a3_fp_bigdata_spark.data import fresh_scratch
from a3_fp_bigdata_spark.data import table as batch_table
from a3_fp_bigdata_spark.data import widen_legacy_long_ts
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.sources.csv_io import append_csv_batch

_qname_counter = itertools.count()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (file source; a Kafka source is
    a one-line swap via sources.kafka_io.kafka_source + parse_payload).
    The file streaming source requires a directory: we point at sf_dir
    and glob-filter to the one table.

    The stream's declared schema is read from the parquet FOOTER via the
    batch loader (one driver-side footer read, no data scan) — never
    hard-coded. Round 3 hard-coded ``ts: long`` + a nanos->micros
    division against data that had drifted to ``timestamp[us]``, which
    silently compressed event time 1000x; deriving the schema from the
    file and sharing data.py's widen-only-if-long rule makes the batch
    and streaming paths drift together or not at all."""
    batch = batch_table(spark, sf_dir, "events")  # also pins UTC session
    physical = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = widen_legacy_long_ts(raw, ("ts",))
    # Event-time ops (withWatermark, window) REQUIRE TimestampType —
    # Spark rejects TIMESTAMP_NTZ event time
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Under the engine's pinned
    # UTC session the NTZ->LTZ cast is the identity on the stored
    # micros, so streamed results still collect equal to batch twins.
    def _as_event_time(df: DataFrame) -> DataFrame:
        if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    out = _as_event_time(out)
    got = [(f.name, f.dataType) for f in out.schema.fields]
    want = [
        (f.name, f.dataType)
        for f in _as_event_time(batch).schema.fields
    ]
    # RuntimeError, not assert: this guard is the silent-drift tripwire
    # (round-3 incident) and must survive `python -O`, which compiles
    # asserts out.
    if got != want:
        raise RuntimeError(f"stream/batch schema drift: {got} != {want}")
    return out


def windowed_counts(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """ST2 event-time upgrade: watermarked tumbling windows on the
    stream. The watermark bounds state: windows older than
    max(event time) - delay are finalized and evicted."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
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


def dedup_keys(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """ST5 upgrade: keyed first-arrival dedup with bounded state.
    Projected to the key columns — the kept row per key is
    arrival-order-dependent across partitions, the key set is not."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@contextmanager
def streaming_shuffle(spark, n: int | None):
    """Temporarily set spark.sql.shuffle.partitions for a streaming
    start. A stateful query materializes one state store PER shuffle
    partition per operator per micro-batch — partitions must track
    STATE SIZE, not the session's batch default (32 stores for a
    finite test stream measured 13.3 s vs 2.9 s at 8 on st7). At real
    scale pass None and size the session setting to the key space.
    The conf is read at query START, so restoring after
    awaitTermination is safe."""
    if n is None:
        yield
        return
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def run_available_now(
    stream: DataFrame,
    *,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a streaming frame to completion over all currently-available
    input (Trigger.AvailableNow) into a memory sink; return the result
    as a batch DataFrame. Deterministic test/driver harness — the
    production path would run the same frame with a real trigger+sink.
    ``state_partitions`` sizes the state stores for the finite test
    stream (see streaming_shuffle); results are partition-invariant
    (the oracles prove it), only setup cost changes."""
    name = f"a3_stream_{next(_qname_counter)}"
    spark = stream.sparkSession
    with streaming_shuffle(spark, state_partitions):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def micro_batch_csv_sink(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    *,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """ST2/ST3/ST4: the consumer's 60 s CSV batch loop (consumer.py:19-67,
    87-114) as a foreachBatch writer. Empty micro-batches write nothing
    (ST3 comes free); `.stop()` drains gracefully (ST4); the checkpoint
    gives exactly-once file output across restarts, strictly stronger
    than the reference's at-least-once (ST5).

    trigger_seconds=None runs AvailableNow (deterministic tests);
    production passes 60 for the reference's cadence."""
    cp = checkpoint_dir or fresh_scratch("a3_stream_cp_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_csv_batch(batch_df, os.path.join(out_dir, f"batch={batch_id}"))

    writer = events.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", cp
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def rate_source(spark: SparkSession, rows_per_second: int = 500) -> DataFrame:
    """ST1: the reference throttles its producer to ~200-1000 rows/s
    (producer.py:116 sleep-per-row). Spark's rate source generates the
    same load shape for tests/soak runs without a broker; swap for
    sources.kafka_io.kafka_source in production."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def enrich_events(events: DataFrame) -> DataFrame:
    """ST6: stateless per-record enrichment on the stream — the
    reference's genre->icon mapping before send (producer.py:87-106) as
    a map-literal lookup with a default. Identical expression works on
    batch and streaming frames (tested equal)."""
    weights = F.create_map(
        F.lit("click"), F.lit(1.0),
        F.lit("view"), F.lit(0.5),
        F.lit("purchase"), F.lit(5.0),
    )
    return events.withColumn(
        "weight", F.coalesce(weights[F.col("event_type")], F.lit(0.1))
    )


# ---------------------------------------------------------------------------
# Registered queries — REAL streaming runs, DuckDB-oracled.
# ---------------------------------------------------------------------------


@query(
    "st5_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS cnt, {half_up_sql('sum(value)', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st5_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming run: file source -> watermarked
    tumbling agg -> AvailableNow -> memory sink. Same oracle as the
    batch twin st1 — a windowed streaming agg over a finite source
    equals the batch aggregation."""
    return run_available_now(
        windowed_counts(stream_events(spark, sf_dir)), output_mode="complete"
    )


@query(
    "st6_stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st6_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates with watermark, projected to the
    deterministic key set."""
    return run_available_now(
        dedup_keys(stream_events(spark, sf_dir)), output_mode="append"
    )


@query(
    "st7_stream_stream_join",
    oracle=f"""
    SELECT a.event_id AS purchase_id, b.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON a.user_id = b.user_id
     AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts
    """,
)
def st7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (absent in the reference — SURVEY §2.9
    'no stream-stream joins'): purchases joined to the same user's
    clicks in the preceding 10 minutes. Watermarks on BOTH sides plus
    the time-range predicate bound the join state (Spark evicts rows
    older than watermark - range), so state is O(rate x window), not
    O(stream). Oracle: the equivalent batch interval join."""
    ev = stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("purchase_id", "click_id")
    return run_available_now(joined, output_mode="append")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count + value total held in explicit keyed state,
    re-emitted on every update. This is the API for stateful logic the
    built-in operators can't express (session scoring, CUSUM detectors,
    decaying counters); here the state transition is a running sum so
    the finite-stream result has an exact SQL twin.

    Scale: state lives in the per-key state store (RocksDB-backed on a
    cluster), partitioned by the grouping key — no driver state. Arrow
    batches cross to Python per key-group, not per row.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def update_fn(key, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "cnt": [cnt], "total": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType="user_id long, cnt long, total double",
        stateStructType="cnt long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "st8_stateful_op",
    oracle=f"""
    SELECT user_id, count(*) AS cnt, {half_up_sql('sum(value)', 2)} AS total
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
)
def st8_stateful_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState end-to-end: the stream re-emits each
    user's running totals per micro-batch; the LAST emission per key
    (max cnt) is the final state and must equal the batch aggregate.
    struct-max picks the final (cnt, total) pair atomically, so the
    check is batch-count-invariant."""
    ev = stream_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    emitted = run_available_now(
        stateful_user_totals(ev), output_mode="update"
    )
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("cnt", "total")).alias("s"))
        .select(
            "user_id",
            F.col("s.cnt").alias("cnt"),
            half_up(F.col("s.total"), 2).alias("total"),
        )
    )
    return final


@query(
    "st9_materialized_view",
    oracle=f"""
    SELECT event_type, count(*) AS cnt, {half_up_sql('sum(value)', 2)}
             AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def st9_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming materialized view end-to-end as a driver-checkable
    query: stream the events table through the bucket-partitioned
    incremental-merge sink (streaming/materialized.py), then read the
    maintained parquet back. The view must equal the batch aggregate —
    the invariant the partition-scoped merge preserves batch after
    batch."""
    from a3_fp_bigdata_spark.streaming import materialized as MV

    out = fresh_scratch("a3_mv_q_") + "/view"
    with streaming_shuffle(spark, 8):
        q = MV.materialized_view_sink(
            MV.event_type_counts_stream(stream_events(spark, sf_dir)),
            spark,
            "event_type",
            out,
        )
        q.awaitTermination()
    return MV.read_view(spark, out)


@query("st12_stream_session_window", oracle=None)  # st3's SQL, attached below
def st12_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows: file source -> native
    session_window aggregation (30-min gap, the streaming-capable
    sessionizer) -> AvailableNow -> memory sink. Shares st3's oracle
    verbatim — a session aggregation over a finite stream must equal
    the batch derivation — so the STATEFUL merge path (Spark's
    session-window state store merges adjacent micro-batch sessions)
    is value-checked against plain SQL, not just its batch twin.

    Scale: session state is per (user, open session); the state store
    holds only OPEN sessions (closed ones emit and evict under a real
    watermark), so state size tracks concurrent active users, not
    history."""
    ev = stream_events(spark, sf_dir)
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    return run_available_now(sess, output_mode="complete")


def _attach_st12_oracle() -> None:
    """st12 shares st3's oracle — ONE SQL definition of the session
    table, checked against both the batch and the real streaming
    path (same single-source pattern as st11/pl2)."""
    import dataclasses

    from a3_fp_bigdata_spark import registry as _R
    from a3_fp_bigdata_spark.streaming import batch_windows  # noqa: F401
    # ^ importing guarantees st3 is registered even when ingest is
    #   imported standalone (registry loads modules alphabetically,
    #   but direct importers need the twin pulled in explicitly)

    rq = _R._REGISTRY["st12_stream_session_window"]
    st3 = _R._REGISTRY.get("st3_session_window")
    if rq.oracle is None and st3 is not None and st3.oracle:
        _R._REGISTRY["st12_stream_session_window"] = dataclasses.replace(
            rq, oracle=st3.oracle
        )


_attach_st12_oracle()
