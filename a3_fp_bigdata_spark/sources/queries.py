"""Registry queries exercising the source/sink edge (SURVEY §2.1).

Each runs a real write+read round-trip through a sources/ codec and is
checked against a DuckDB oracle reading the ORIGINAL parquet — so a bug
in either direction of the codec shows up as a value-hash mismatch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from a3_fp_bigdata_spark.data import dir_stage, run_scratch, table, table_path
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.sources import csv_io, kafka_io, parquet_io


def _scratch(name: str, sf_dir: str) -> str:
    """Per-process source-roundtrip scratch (write → read-back inside
    ONE query invocation, oracle reads the original parquet) — the
    run_scratch protocol, so a pytest run next to a parity sweep can
    never clobber a sibling's half-written directory."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return run_scratch(f"src_{name}_{tag}")


@query(
    "src1_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def src1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S9: customer -> CSV directory (distributed append writer) ->
    schema-declared permissive scan (spark_script.py:168 re-expressed).
    Exactness of the double column proves the writer emits round-trip-safe
    representations; the oracle reads the original parquet."""
    path = _scratch("csv1", sf_dir)
    cust = table(spark, sf_dir, "customer")
    cust.write.mode("overwrite").option("header", True).csv(path)
    return csv_io.read_csv_dir(spark, path, TESTDATA["customer"]).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "src2_json_roundtrip",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           {half_up_sql('sum(value)')} AS total_value,
           max(ts) AS max_ts,
           count(user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def src2_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+S8 codec: events -> to_json payload (producer.py:45's
    json.dumps analog) -> from_json back to typed columns
    (consumer.py:77's json.loads analog) -> aggregate. Checks the full
    type surface survives the codec: long, timestamp, double, string,
    nested-JSON-in-string."""
    import pyspark.sql.functions as F

    ev = table(spark, sf_dir, "events")
    payload = kafka_io.to_payload(ev, key_col="event_id")
    # decode with the encoder's own schema: the codec contract is
    # type-kind-exact (an NTZ column must parse back as NTZ — see
    # kafka_io._JSON_OPTS), and ev.schema is what a real consumer would
    # fetch from a schema registry rather than hard-code.
    parsed = kafka_io.parse_payload(payload, ev.schema)
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        half_up(F.sum("value")).alias("total_value"),
        F.max("ts").alias("max_ts"),
        F.count("user_id").alias("n_users"),
    )


@query(
    "src3_json_cache",
    oracle="""
    SELECT p_partkey, p_name,
           'https://img.example/p/' || CAST(p_partkey AS VARCHAR) || '=s512'
             AS icon_url
    FROM part WHERE p_partkey % 3 = 0
    """,
)
def src3_json_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: the scraper's icon-URL JSON cache (app_scraper.py:57-70)
    as an engine source/sink: derive the cache table (1/3 of parts get
    a URL — the deterministic stand-in for scraped entries), write it
    as JSON files, re-read with a declared schema, then broadcast-join
    the cache onto the part table (J2's dict-merge, in-engine:
    app.py:55-65). The oracle reproduces the derivation without the
    file round-trip, so any codec loss shows as a hash mismatch."""
    import pyspark.sql.functions as F

    path = _scratch("jcache", sf_dir)
    part = table(spark, sf_dir, "part")
    cache = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("app_id"),
        F.concat(
            F.lit("https://img.example/p/"),
            F.col("p_partkey").cast("string"),
            F.lit("=s512"),
        ).alias("icon_url"),
    )
    cache.write.mode("overwrite").json(path)
    cached = spark.read.schema("app_id long, icon_url string").json(path)
    return part.join(
        F.broadcast(cached), part.p_partkey == cached.app_id, "inner"
    ).select("p_partkey", "p_name", "icon_url")


@query(
    "src5_latest_snapshot",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           {half_up_sql('sum(o_totalprice)', 2)} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def src5_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5 driver-attested: write TWO timestamped serving snapshots —
    an older DECOY holding only a third of the rows, then the full
    current one — discover the newest via find_latest_data_path
    (app.py:98-108's mtime pick), and aggregate what it returns. The
    oracle aggregates the full orders table, so discovering the WRONG
    snapshot (decoy rows) is a value-hash mismatch, not a silent pass."""
    import pyspark.sql.functions as F

    from a3_fp_bigdata_spark.sources.parquet_io import (
        find_latest_data_path,
        write_parquet_overwrite,
    )

    base = _scratch("snapshots", sf_dir)
    orders = table(spark, sf_dir, "orders")
    decoy = orders.filter(F.col("o_orderkey") % 3 == 0)
    write_parquet_overwrite(decoy, os.path.join(base, "api_app_info_001"))
    write_parquet_overwrite(orders, os.path.join(base, "api_app_info_002"))
    # mtime order must match version order even on coarse-grained
    # filesystem clocks: bump the newer dir explicitly
    now = os.path.getmtime(os.path.join(base, "api_app_info_001")) + 10
    os.utime(os.path.join(base, "api_app_info_002"), (now, now))
    latest = find_latest_data_path(base, "api_app_info_")
    return (
        spark.read.parquet(latest)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            half_up(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "src4_compaction_roundtrip",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           {half_up_sql('sum(value)', 2)} AS total
    FROM events GROUP BY event_type
    """,
)
def src4_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: shatter events into 64 tiny
    files (micro-batch litter), compact the directory down (sorted by
    ts so row-group stats turn selective), then aggregate the result.
    The oracle reads the ORIGINAL table — compaction must be a pure
    layout change, never a data change."""
    import pyspark.sql.functions as F

    from a3_fp_bigdata_spark.sources.parquet_io import compact_parquet_dir

    path = _scratch("compact", sf_dir)
    ev = table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(path)
    compact_parquet_dir(spark, path, sort_col="ts")
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            half_up(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "src6_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def src6_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar interchange format Spark
    ships built-in (warehouses Hive-era and Trino-adjacent pipelines
    still hand over): supplier -> ORC directory (zlib, the format
    default) -> native vectorized ORC scan. Exact value equality
    against the ORIGINAL parquet via the oracle proves the codec is
    lossless for long/string/double columns; the scan benefits from
    the same pushdown/pruning machinery as parquet (ORC predicate
    pushdown is on by default in Spark 3+/4)."""
    path = _scratch("orc1", sf_dir)
    sup = table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


#: src7: deterministic corruption rule — every event whose id hashes
#: into this residue class gets its JSON line mangled at staging.
CORRUPT_MOD = 37


@query(
    "src7_corrupt_records",
    oracle=f"""
    SELECT CAST(count(CASE WHEN event_id % {CORRUPT_MOD} <> 0
                      THEN 1 END) AS BIGINT) AS n_good,
           CAST(count(CASE WHEN event_id % {CORRUPT_MOD} = 0
                      THEN 1 END) AS BIGINT) AS n_corrupt,
           {half_up_sql(f'sum(CASE WHEN event_id % {CORRUPT_MOD} <> 0 '
                        'THEN value END)')} AS good_value_total
    FROM events
    """,
)
def src7_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine — the ingestion edge every real feed
    needs and the reference's consumer lacks entirely (a bad line
    kills its json.loads loop, consumer.py:77): stage the events table
    as JSON lines with a DETERMINISTIC subset mangled (truncated
    mid-object, keyed by event_id so distributed write order cannot
    affect which rows break), then scan PERMISSIVE with a
    ``_corrupt_record`` column. Good rows parse to typed columns;
    broken rows land intact in quarantine instead of failing the job
    or silently dropping. The oracle re-derives (n_good, n_corrupt,
    good-row value sum) from the ORIGINAL table by the same keyed
    rule — so a parser that dropped, double-counted, or mis-parsed
    either class hash-mismatches.

    Scale: the mangling is a scan-side concat at staging; the
    PERMISSIVE scan is Spark's native JSON reader (no UDF), and the
    quarantine column prunes away for consumers that select only the
    typed columns."""
    import pyspark.sql.functions as F

    from a3_fp_bigdata_spark.data import table as _table

    path = _scratch("corrupt", sf_dir)
    ev = _table(spark, sf_dir, "events")
    line = F.to_json(F.struct(*[F.col(c) for c in ev.columns]))
    staged = ev.select(
        F.when(
            F.col("event_id") % CORRUPT_MOD == 0,
            # truncate mid-object: unparseable, recognizably the row
            F.concat(F.lit('{"broken":'), F.substring(line, 1, 20)),
        )
        .otherwise(line)
        .alias("value")
    )
    staged.write.mode("overwrite").text(path)

    # fresh StructType — StructType.add would MUTATE ev's cached schema
    # object in place, leaving a phantom column on later introspection
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(ev.schema.fields)
        + [StructField("_corrupt_record", StringType())]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.count(F.when(good, 1)).cast("long").alias("n_good"),
        F.count(F.when(~good, 1)).cast("long").alias("n_corrupt"),
        half_up(F.sum(F.when(good, F.col("value")))).alias(
            "good_value_total"
        ),
    )


# ---------------------------------------------------------------------------
# S-extension: Z-order clustered layout (multi-dimensional pruning)
# ---------------------------------------------------------------------------

ZBOX_PK = (500, 900)
ZBOX_SK = (20, 60)


def warm_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (or reuse) the z-ordered lineitem layout for sf_dir and
    return its path: a directory-valued stage keyed on the lineitem
    table, so bench warms it and the timed row is the pruned box SCAN,
    not the one-time layout write (same convention as
    warm_sim4_index). One range shuffle on the Morton key; at 100 TB
    this is the nightly OPTIMIZE job, amortized over every box query
    that follows."""
    return dir_stage(
        spark, "zorder_layout",
        lambda out: parquet_io.write_zordered(
            table(spark, sf_dir, "lineitem"),
            out,
            ["l_partkey", "l_suppkey"],
            n_files=16,
        ),
        [table_path(sf_dir, "lineitem")],
    )


@query(
    "src8_zorder_box_query",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {half_up_sql('sum(l_quantity)', 2)} AS sum_qty,
           CAST(min(l_partkey) AS BIGINT) AS min_pk,
           CAST(max(l_suppkey) AS BIGINT) AS max_sk
    FROM lineitem
    WHERE l_partkey BETWEEN {ZBOX_PK[0]} AND {ZBOX_PK[1]}
      AND l_suppkey BETWEEN {ZBOX_SK[0]} AND {ZBOX_SK[1]}
    """,
)
def src8_zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering end-to-end (Delta OPTIMIZE ZORDER shape):
    lineitem rewritten once into a Morton-key-clustered layout
    (parquet_io.write_zordered — range partition + sort on the
    interleaved (l_partkey, l_suppkey) bits), then a 2-D box query
    reads it back. The oracle runs the same box on the ORIGINAL table,
    so any row lost/duplicated/reordered by the layout rewrite is a
    value-hash mismatch. The PLAN evidence is the point: both
    predicates push into the scan of the clustered layout, and because
    the layout is z-sorted the parquet footer min/max stats are
    selective in BOTH dimensions — a 1-D sort prunes only its own
    column's boxes (tests/test_plans.py pins the file-level pruning
    counts for z vs 1-D layouts)."""
    import pyspark.sql.functions as F

    path = warm_zorder_layout(spark, sf_dir)
    li = spark.read.parquet(path)
    box = (
        F.col("l_partkey").between(*ZBOX_PK)
        & F.col("l_suppkey").between(*ZBOX_SK)
    )
    return li.filter(box).agg(
        F.count("*").cast("long").alias("n_rows"),
        half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_partkey").cast("long").alias("min_pk"),
        F.max("l_suppkey").cast("long").alias("max_sk"),
    )


# ---------------------------------------------------------------------------
# src9: versioned-snapshot read (time-travel-lite over CDC versions)
# ---------------------------------------------------------------------------


@query(
    "src9_versioned_snapshot_read",
    oracle=None,  # attached below (composes u5's changelog CTEs)
)
def src9_versioned_snapshot_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-travel-lite: maintain a customer table as versioned
    snapshot directories (version=0 base, then one directory per CDC
    changelog application via u5's apply_changelog), discover the
    NEWEST version with S4's path-discovery rung, read it back, and
    return a per-segment summary of what the latest snapshot holds.
    The oracle never sees the directories: it replays BOTH changelog
    applications as nested SQL CTEs from the raw table — so a write
    bug, a discovery bug (stale version wins), or a read-back drift
    all land as a red hash mismatch.

    Changelog 2 derives its updates from VERSION 1's state (not the
    base), the real CDC chain shape. Scale: each version write is one
    key-partitioned overwrite; discovery lists version DIRS only;
    production swaps the mtime rule for a manifest (Delta/Iceberg's
    log) with the same read surface."""
    import pyspark.sql.functions as F

    from a3_fp_bigdata_spark.operators.upsert import apply_changelog
    from a3_fp_bigdata_spark.sources.parquet_io import (
        find_latest_data_path,
        write_parquet_overwrite,
    )

    base_dir = run_scratch("src9_versions")
    cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    v0 = table(spark, sf_dir, "customer").select(*cols)

    # changelog 1: u5's derivation (update %10 +500 seq1, delete %7
    # seq2, insert %100 as fresh keys)
    src = table(spark, sf_dir, "customer")
    log1 = (
        src.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.lit("U").alias("op"), F.lit(1).alias("seq"),
            "c_custkey", "c_name",
            half_up(F.col("c_acctbal") + 500, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            src.filter(F.col("c_custkey") % 7 == 0).select(
                F.lit("D").alias("op"), F.lit(2).alias("seq"), *cols
            )
        )
        .unionByName(
            src.filter(F.col("c_custkey") % 100 == 0).select(
                F.lit("I").alias("op"), F.lit(1).alias("seq"),
                (F.col("c_custkey") + 8000000).alias("c_custkey"),
                F.concat(
                    F.lit("cdc#"), F.col("c_custkey").cast("string")
                ).alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    )
    v1 = apply_changelog(v0, log1, "c_custkey")

    # write + re-read version 1 so changelog 2 derives from the DISK
    # state (the nightly chain), not a lazily recomputed lineage
    for k, frame in ((0, v0), (1, v1)):
        write_parquet_overwrite(
            frame, os.path.join(base_dir, f"version={k}")
        )
    v1_disk = spark.read.parquet(os.path.join(base_dir, "version=1"))

    # changelog 2 over v1's state: balance haircut for %9 keys (seq 1),
    # deletes for %11 keys (seq 2)
    log2 = (
        v1_disk.filter(F.col("c_custkey") % 9 == 0)
        .select(
            F.lit("U").alias("op"), F.lit(1).alias("seq"),
            "c_custkey", "c_name",
            half_up(F.col("c_acctbal") - 250, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            v1_disk.filter(F.col("c_custkey") % 11 == 0).select(
                F.lit("D").alias("op"), F.lit(2).alias("seq"), *cols
            )
        )
    )
    v2 = apply_changelog(v1_disk, log2, "c_custkey")
    write_parquet_overwrite(v2, os.path.join(base_dir, "version=2"))

    latest = find_latest_data_path(base_dir, "version=")
    snap = spark.read.parquet(latest)
    return snap.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_rows"),
        half_up(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.min("c_custkey").cast("long").alias("min_key"),
        F.max("c_custkey").cast("long").alias("max_key"),
    )


def _attach_src9_oracle() -> None:
    import dataclasses

    from a3_fp_bigdata_spark import registry as _R

    sql = f"""
    WITH log1 AS (
      SELECT 'U' AS op, 1 AS seq, c_custkey, c_name,
             {half_up_sql('c_acctbal + 500', 2)} AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 'D', 2, c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT 'I', 1, 8000000 + c_custkey,
             'cdc#' || CAST(c_custkey AS VARCHAR), 0.0, c_mktsegment
      FROM customer WHERE c_custkey % 100 = 0
    ), latest1 AS (
      SELECT * FROM (
        SELECT op, c_custkey, c_name, c_acctbal, c_mktsegment,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY seq DESC, op DESC) AS rn
        FROM log1
      ) WHERE rn = 1
    ), v1 AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM latest1)
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM latest1
      WHERE op <> 'D'
    ), log2 AS (
      SELECT 'U' AS op, 1 AS seq, c_custkey, c_name,
             {half_up_sql('c_acctbal - 250', 2)} AS c_acctbal,
             c_mktsegment
      FROM v1 WHERE c_custkey % 9 = 0
      UNION ALL
      SELECT 'D', 2, c_custkey, c_name, c_acctbal, c_mktsegment
      FROM v1 WHERE c_custkey % 11 = 0
    ), latest2 AS (
      SELECT * FROM (
        SELECT op, c_custkey, c_name, c_acctbal, c_mktsegment,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY seq DESC, op DESC) AS rn
        FROM log2
      ) WHERE rn = 1
    ), v2 AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM v1
      WHERE c_custkey NOT IN (SELECT c_custkey FROM latest2)
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM latest2
      WHERE op <> 'D'
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           {half_up_sql('sum(c_acctbal)', 2)} AS total_bal,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM v2 GROUP BY c_mktsegment
    """
    rq = _R._REGISTRY["src9_versioned_snapshot_read"]
    if rq.oracle is None:
        _R._REGISTRY["src9_versioned_snapshot_read"] = dataclasses.replace(
            rq, oracle=sql
        )


_attach_src9_oracle()
