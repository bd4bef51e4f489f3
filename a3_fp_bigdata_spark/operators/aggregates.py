"""Aggregations — SURVEY.md §2.4 rows A1-A7 plus the generic agg surface.

All hash aggregates with map-side partial aggregation (Spark's
HashAggregate pairs): at 100 TB the shuffle carries only one partial row
per (partition, group), so low-cardinality group-bys like these move
kilobytes, not terabytes.

Floating-point sums are rounded to 2 decimals on output — summation order
varies with partitioning, so unrounded doubles are not reproducible on ANY
distributed engine; 2 decimals is stable at these magnitudes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    fingerprint_where,
    read_scratch,
    run_scratch,
    table_fingerprint,
    table,
    write_scratch,
)
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.operators.text_analysis import _SQL_TOKS
from a3_fp_bigdata_spark.registry import pin, query


@query(
    "a1_groupby_count",
    oracle="""
    SELECT l_returnflag, count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a1_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by count histogram (A1; reference spark_script.py:80
    cluster histogram)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
    )


@query("a2_global_count", oracle="SELECT count(*) AS cnt FROM lineitem")
def a2_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count (A2; reference spark_script.py:47, app.py:115)."""
    return table(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


@query(
    "a3_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def a3_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection dedup (A3; reference app.py:161,173). Distinct is a hash
    aggregate on all projected columns — partial map-side, tiny shuffle."""
    return table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "a4_mean_surrogate",
    oracle=f"""
    SELECT event_id,
           {half_up_sql('coalesce(value, avg(value) OVER ())', 2)} AS value_imputed
    FROM events
    """,
)
def a4_mean_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation (A4; the core agg inside the reference's Imputer,
    spark_script.py:66,100): null values replaced by the global mean.
    Implemented as a single-row mean agg cross-joined back (Spark
    broadcasts the 1-row side automatically) — no full-table window."""
    ev = table(spark, sf_dir, "events")
    mean = ev.agg(F.avg("value").alias("_mean"))
    return ev.crossJoin(F.broadcast(mean)).select(
        "event_id",
        half_up(F.coalesce(F.col("value"), F.col("_mean")), 2).alias(
            "value_imputed"
        ),
    )


@query(
    "a5_stddev",
    oracle=f"""
    SELECT l_returnflag,
           {half_up_sql('avg(l_quantity)', 2)} AS avg_qty,
           {half_up_sql('stddev_samp(l_quantity)', 2)} AS std_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a5_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/stddev moments (A5; core aggs of the reference's
    StandardScaler fit, spark_script.py:70)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            half_up(F.avg("l_quantity"), 2).alias("avg_qty"),
            half_up(F.stddev_samp("l_quantity"), 2).alias("std_qty"),
        )
    )


@query(
    "a6_freq_rank",
    oracle="""
    SELECT event_type,
           CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) - 1
                AS BIGINT) AS freq_index
    FROM events GROUP BY event_type
    """,
)
def a6_freq_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency ranking (A6; the core agg of the reference's
    StringIndexer with frequencyDesc order, spark_script.py:67,101).
    Ties broken by the label itself so the index is total."""
    from pyspark.sql import Window

    counts = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("_cnt"))
    )
    w = Window.orderBy(F.desc("_cnt"), F.asc("event_type"))
    return counts.select(
        "event_type",
        (F.row_number().over(w) - 1).cast("bigint").alias("freq_index"),
    )


@query(
    "a7_rmse",
    oracle=f"""
    SELECT {half_up_sql('''sqrt(avg(power(l_extendedprice * (1 - l_discount)
                               - l_extendedprice, 2)))''', 2)} AS rmse
    FROM lineitem
    """,
)
def a7_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSE as a relational aggregate (A7; reference
    RegressionEvaluator(metricName='rmse'), spark_script.py:117-120)."""
    li = table(spark, sf_dir, "lineitem")
    err = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "l_extendedprice"
    )
    return li.agg(
        half_up(F.sqrt(F.avg(F.pow(err, F.lit(2)))), 2).alias("rmse")
    )


@query(
    "a8_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {half_up_sql('sum(l_quantity)', 2)} AS sum_qty,
           {half_up_sql('sum(l_extendedprice)', 2)} AS sum_base_price,
           {half_up_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
           {half_up_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)}
               AS sum_charge,
           {half_up_sql('avg(l_quantity)', 2)} AS avg_qty,
           {half_up_sql('avg(l_extendedprice)', 2)} AS avg_price,
           {half_up_sql('avg(l_discount)')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a8_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's headline wide
    aggregate: 8 aggregates over a filtered scan, 2-column group key.
    One scan, one tiny shuffle; whole-stage codegen end to end."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
        half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        half_up(F.sum(disc_price), 2).alias("sum_disc_price"),
        half_up(F.sum(charge), 2).alias("sum_charge"),
        half_up(F.avg("l_quantity"), 2).alias("avg_qty"),
        half_up(F.avg("l_extendedprice"), 2).alias("avg_price"),
        half_up(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "a9_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           {half_up_sql('sum(l_quantity)', 2)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (engine-generic; absent in the reference,
    SURVEY.md §2.4 'no grouping sets' — added as part of the generic
    surface). NULL group cells mark subtotal rows, as in ANSI."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "a10_pivot",
    oracle="""
    SELECT user_bucket,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS "view"
    FROM (SELECT user_id % 4 AS user_bucket, event_type FROM events)
    GROUP BY user_bucket
    """,
)
def a10_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine-generic). Explicit pivot values keep it one pass —
    without them Spark runs an extra distinct job to discover columns."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("user_bucket"), "event_type"
    )
    return (
        ev.groupBy("user_bucket")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )


@query(
    "a11_distinct_count",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a11_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate (engine-generic; Spark expands this to a
    two-phase aggregate). For 100 TB cardinality estimation prefer
    a12_approx_distinct."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


#: a19's scratch: the audit oracle must read Spark's sketch estimates
#: from a path the static SQL can name (per-process run_scratch, same protocol as
#: dedup's d4 containment audit, including the stale-scratch guard:
#: rows carry the (``n_src``, ``src_ck``) fingerprint of events at
#: write time and the oracle filters on both against its live events
#: view, so scratch from a different sf — or a regenerated corpus at
#: the same cardinality — red-flags as a row/hash mismatch).
_A19_SCRATCH = run_scratch("a19_approx_audit")


@query(
    "a19_approx_distinct_audit",
    oracle=f"""
    WITH exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    ), approx AS (
      SELECT event_type, approx_users
      FROM read_parquet('{_A19_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('events', 'event_id')}
    )
    SELECT e.event_type,
           CAST(e.exact_users AS BIGINT) AS exact_users,
           CAST(a.approx_users AS BIGINT) AS approx_users,
           CAST(abs(a.approx_users - e.exact_users)
                <= 0.05 * e.exact_users AS BOOLEAN) AS within_5pct
    FROM exact e JOIN approx a USING (event_type)
    """,
)
def a19_approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED error-bound attestation for a12's HyperLogLog++
    estimates (whose sketch internals have no SQL twin): Spark
    materializes the per-key estimates to scratch parquet, and BOTH
    engines independently join them against their own exact distinct
    counts — so `within_5pct` is verified against ground truth the
    sketch never touched (rsd=0.02, so 5% is a comfortable bound at
    these cardinalities). Upgrades a12's evidence from rows-only to
    an audited error bound, the d4-containment pattern applied to
    sketches."""
    approx = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias(
                "approx_users"
            )
        )
    )
    fp = table_fingerprint(spark, sf_dir, "events", "event_id", table_fn=table)
    write_scratch(approx, _A19_SCRATCH, fp)
    back = read_scratch(spark, _A19_SCRATCH)
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return exact.join(back, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.col("approx_users").cast("long").alias("approx_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


_A20_SCRATCH = run_scratch("a20_quantile_audit")
_A20_QS = (0.25, 0.5, 0.9)
_A20_ACCURACY = 10000


@query(
    "a20_quantile_rank_audit",
    oracle=f"""
    WITH vals AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), ap AS (
      SELECT event_type, q, approx_val
      FROM read_parquet('{_A20_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('events', 'event_id')}
    ), rk AS (
      SELECT a.event_type, a.q,
             count(*) AS n_vals,
             count_if(v.value < a.approx_val) AS cnt_lt,
             count_if(v.value <= a.approx_val) AS cnt_le
      FROM ap a JOIN vals v USING (event_type)
      GROUP BY a.event_type, a.q
    )
    SELECT event_type, CAST(q AS DOUBLE) AS q,
           CAST(n_vals AS BIGINT) AS n_vals,
           CAST(cnt_lt AS BIGINT) AS cnt_lt,
           CAST(cnt_le AS BIGINT) AS cnt_le,
           CAST(cnt_le >= q * n_vals - n_vals / {_A20_ACCURACY}.0 - 1
            AND cnt_lt <= q * n_vals + n_vals / {_A20_ACCURACY}.0
            AS BOOLEAN) AS within_rank_bound
    FROM rk
    """,
)
def a20_quantile_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED rank-error attestation for a12's percentile_approx
    (Greenwald-Khanna sketch, the quantile half of the approximate
    tier; its internals have no SQL twin). Spark materializes the
    per-(event_type, quantile) estimates to fingerprint-stamped
    scratch; BOTH engines then independently recount, over their own
    scan of the raw values, how many fall below / at-or-below each
    estimate — so ``within_rank_bound`` (GK contract: the estimate's
    rank interval [cnt_lt+1, cnt_le] must overlap q*n ± n/accuracy,
    with a +1 slack absorbing rank rounding) is checked against ground
    truth the sketch never touched. Same protocol as a19/d4/d9/sim11;
    with this, every approximate operator in the engine is audited.

    Scale: the estimate frame is |event_types| x |quantiles| rows —
    broadcast to the rank recount, whose single shuffle is the
    map-side-combinable (event_type, q) aggregate; the sketch itself
    merges per-partition, so nothing here is driver-bound at 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    qarr = F.array(*[F.lit(q) for q in _A20_QS])
    ap = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", qarr, _A20_ACCURACY).alias(
                "avals"
            )
        )
        .select(
            "event_type", F.posexplode("avals").alias("pos", "approx_val")
        )
        .select(
            "event_type",
            F.element_at(qarr, F.col("pos") + 1).alias("q"),
            "approx_val",
        )
    )
    fp = table_fingerprint(spark, sf_dir, "events", "event_id", table_fn=table)
    write_scratch(ap, _A20_SCRATCH, fp)
    back = read_scratch(spark, _A20_SCRATCH)
    vals = ev.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    rk = (
        vals.join(F.broadcast(back), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.count("*").cast("long").alias("n_vals"),
            F.sum(
                F.when(F.col("value") < F.col("approx_val"), 1).otherwise(0)
            )
            .cast("long")
            .alias("cnt_lt"),
            F.sum(
                F.when(F.col("value") <= F.col("approx_val"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("cnt_le"),
        )
    )
    eps_n = F.col("n_vals") / _A20_ACCURACY
    return rk.select(
        "event_type",
        F.col("q").cast("double").alias("q"),
        "n_vals",
        "cnt_lt",
        "cnt_le",
        (
            (
                F.col("cnt_le")
                >= F.col("q") * F.col("n_vals") - eps_n - 1
            )
            & (F.col("cnt_lt") <= F.col("q") * F.col("n_vals") + eps_n)
        ).alias("within_rank_bound"),
    )


@query("a12_approx_distinct", oracle=None)
def a12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct + quantiles (HyperLogLog++ / KLL-style
    sketches) — the scale path for cardinality/quantile estimation; no
    SQL oracle because sketch internals are engine-specific (rows-only
    check)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        )
    )


@query(
    "a13_tpch_q6",
    oracle=f"""
    SELECT {half_up_sql('sum(l_extendedprice * l_discount)', 2)} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def a13_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure filter + global agg.
    Every predicate pushes into the parquet scan (date range on the
    sort-friendly shipdate column prunes row groups); the agg is a
    map-side partial + single-row final — the cheapest possible shape
    at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            half_up(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "a14_tpch_q3_shape",
    oracle=f"""
    SELECT l_orderkey,
           {half_up_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def a14_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dim filter -> broadcast
    join chain -> grouped revenue -> top-k. The c_mktsegment filter
    shrinks customer before broadcasting; lineitem (the 100 TB fact)
    joins shuffle-free; TakeOrderedAndProject caps the sort at k.
    orderdate emitted as ISO string (see p2: DATE crosses pandas fetch
    paths as midnight timestamps)."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey")
        .agg(
            half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.min(F.col("o_orderdate")).cast("date").cast("string").alias(
                "orderdate"
            ),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {half_up_sql('sum(l_quantity)', 2)} AS sum_qty,
       {half_up_sql('sum(l_extendedprice)', 2)} AS sum_base_price,
       {half_up_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
       {half_up_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)}
           AS sum_charge,
       {half_up_sql('avg(l_quantity)', 2)} AS avg_qty,
       {half_up_sql('avg(l_extendedprice)', 2)} AS avg_price,
       {half_up_sql('avg(l_discount)')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql1_spark_sql_surface", oracle=_Q1_SQL)
def sql1_spark_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point: the SAME ANSI text runs through
    spark.sql over registered temp views AND through the DuckDB oracle —
    proof the SQL surface (not just the DataFrame API) is ANSI-portable.
    Catalyst compiles this to the identical plan as a8_tpch_q1."""
    from a3_fp_bigdata_spark.data import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL)


@query(
    "a15_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys (completes the grouping-sets family beside
    a9's ROLLUP): all 4 grouping combinations in ONE pass — Spark
    expands the grouping sets scan-side, so the fact is read once."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "a16_exact_percentiles",
    oracle=f"""
    SELECT l_returnflag,
           {half_up_sql('quantile_cont(l_quantity, 0.5)')} AS p50,
           {half_up_sql('quantile_cont(l_quantity, 0.95)')} AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a16_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (interpolating, matching
    SQL's PERCENTILE_CONT). Exact quantiles sort within groups — at
    100 TB prefer a12's KLL-style approx unless exactness is
    contractual."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            half_up(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
            half_up(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95"),
        )
    )


@query(
    "a17_corr_covar",
    oracle=f"""
    SELECT {half_up_sql('corr(l_quantity, l_extendedprice)', 6)} AS qty_price_corr,
           {half_up_sql('covar_samp(l_discount, l_tax)', 6)} AS disc_tax_covar
    FROM lineitem
    """,
)
def a17_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation/covariance moments — single-pass streaming aggregates
    (Welford-style partials combine associatively, so map-side partial
    aggregation works exactly like sum/count)."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        half_up(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        half_up(F.covar_samp("l_discount", "l_tax"), 6).alias(
            "disc_tax_covar"
        ),
    )


@query(
    "a18_grouping_sets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n, {half_up_sql('sum(o_totalprice)', 2)} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def a18_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond a9 rollup / a15 cube): priority
    totals, status totals, and the grand total in ONE pass — Spark
    expands the sets into a single Expand + partial-agg plan, so the
    fact table is scanned once however many sets are requested."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n, {half_up_sql('sum(o_totalprice)', 2)} AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


#: a21 — deterministic distributed heavy-hitters (Misra-Gries-style
#: truncation summaries, Agarwal et al. "Mergeable Summaries"): K
#: counters per summary, documents sharded by doc_id % HH_SHARDS so
#: the summary values are a pure function of the data (NOT of Spark's
#: physical partitioning) — which is what lets the oracle replay the
#: ENTIRE sketch in SQL, a stronger check than the scratch-audit
#: protocol the other sketches need.
HH_K = 8
HH_SHARDS = 32


def _a21_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id % {HH_SHARDS} AS shard, unnest({_SQL_TOKS}) AS tok
      FROM documents
    ), shard_counts AS (
      SELECT shard, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY shard, tok
    ), ranked AS (
      SELECT shard, tok, c,
             row_number() OVER (PARTITION BY shard
                                ORDER BY c DESC, tok) AS rn
      FROM shard_counts
    ), d1 AS (
      SELECT shard,
             COALESCE(max(CASE WHEN rn = {HH_K + 1} THEN c END), 0)
               AS dec1
      FROM ranked GROUP BY shard
    ), summaries AS (
      SELECT r.tok, r.c - d.dec1 AS est
      FROM ranked r JOIN d1 d USING (shard)
      WHERE r.rn <= {HH_K} AND r.c - d.dec1 > 0
    ), merged AS (
      SELECT tok, CAST(sum(est) AS BIGINT) AS s
      FROM summaries GROUP BY tok
    ), mranked AS (
      SELECT tok, s, row_number() OVER (ORDER BY s DESC, tok) AS rn
      FROM merged
    ), d2 AS (
      SELECT COALESCE(max(CASE WHEN rn = {HH_K + 1} THEN s END), 0)
        AS dec2
      FROM mranked
    ), final AS (
      SELECT tok, s - (SELECT dec2 FROM d2) AS est
      FROM mranked
      WHERE rn <= {HH_K} AND s - (SELECT dec2 FROM d2) > 0
    ), exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY tok
    ), total AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT f.tok, CAST(f.est AS BIGINT) AS est, e.exact_cnt,
           t.n_tokens,
           CAST(f.est <= e.exact_cnt
                AND (e.exact_cnt - f.est) * {HH_K + 1} <= 2 * t.n_tokens
                AS BOOLEAN) AS within_bound
    FROM final f JOIN exact e USING (tok) CROSS JOIN total t
    """


@query("a21_heavy_hitters_audit", oracle=_a21_oracle())
def a21_heavy_hitters_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed heavy-hitters with a FULLY replayed sketch + error
    attestation: per shard, build a Misra-Gries-style summary from the
    shard's token histogram (subtract the (K+1)-th largest count from
    every count, keep the positive top-K — same space/error contract
    as stream MG: per-item deficit <= n_shard/(K+1)); merge the
    HH_SHARDS summaries by summing per token and truncating once more
    (the Mergeable Summaries merge). Join survivors to the exact
    counts and attest, per token: est <= exact (MG never overcounts)
    and (exact - est)*(K+1) <= 2*n (per-shard + merge deficits).

    Unlike HLL (a19) and Greenwald-Khanna (a20), whose internals have
    no SQL twin, THIS sketch is deterministic end to end (integer
    counts, value-determined truncation — rank ties share a count, so
    the decrement and the survivor set don't depend on tie order), so
    the DuckDB oracle replays every stage bit-for-bit AND re-derives
    the bound columns from its own exact scan.

    Scale: stage 1 is one map-side-combinable (shard, tok) count whose
    wire bytes are <= per-shard vocabulary; the rank windows run on
    K-scale frames per shard; the merge sees <= HH_SHARDS*K rows
    total. The exact join here is the AUDIT rung — production keeps
    only the summary path, whose state is K counters per shard no
    matter how hot the keys."""
    from pyspark.sql import Window

    from a3_fp_bigdata_spark.functions import text as TX

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % HH_SHARDS).alias("shard"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    )
    counts = toks.groupBy("shard", "tok").agg(
        F.count("*").alias("c")
    )
    w_shard = Window.partitionBy("shard").orderBy(
        F.desc("c"), F.asc("tok")
    )
    ranked = counts.withColumn("rn", F.row_number().over(w_shard))
    dec1 = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == HH_K + 1, F.col("c"))),
            F.lit(0),
        ).alias("dec1")
    )
    summaries = (
        ranked.join(F.broadcast(dec1), "shard")
        .filter(
            (F.col("rn") <= HH_K) & (F.col("c") - F.col("dec1") > 0)
        )
        .select("tok", (F.col("c") - F.col("dec1")).alias("est"))
    )
    merged = summaries.groupBy("tok").agg(F.sum("est").alias("s"))
    w_all = Window.orderBy(F.desc("s"), F.asc("tok"))
    mranked = merged.withColumn("rn", F.row_number().over(w_all))
    dec2 = mranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == HH_K + 1, F.col("s"))),
            F.lit(0),
        ).alias("dec2")
    )
    final = (
        mranked.crossJoin(F.broadcast(dec2))
        .filter(
            (F.col("rn") <= HH_K) & (F.col("s") - F.col("dec2") > 0)
        )
        .select("tok", (F.col("s") - F.col("dec2")).alias("est"))
    )
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    total = toks.agg(F.count("*").cast("long").alias("n_tokens"))
    return final.join(exact, "tok").crossJoin(F.broadcast(total)).select(
        "tok",
        F.col("est").cast("long").alias("est"),
        "exact_cnt",
        "n_tokens",
        (
            (F.col("est") <= F.col("exact_cnt"))
            & (
                (F.col("exact_cnt") - F.col("est")) * (HH_K + 1)
                <= 2 * F.col("n_tokens")
            )
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# a22: deterministic Bloom filter, FULLY replayed by the oracle
# ---------------------------------------------------------------------------

#: a21's contract applied to Bloom membership: the sketch uses
#: engine-portable multiplicative hashes (pure int64 arithmetic — the
#: sample_predicate family), so DuckDB rebuilds the identical 4096-bit
#: filter in SQL and every count below is exact parity, not a bound.
#: (j11's production bloom uses xxhash64 — Spark-side only; THIS rung
#: exists so the bloom MACHINERY has an oracle-attested twin.)
#: Words are 32-bit lanes in int64 cells: DuckDB's BIGINT << raises on
#: shift 63 (signed overflow), so both engines shift by at most 31 and
#: every word value stays positive — identical bit patterns for free.
A22_BITS = 4096
A22_PREMOD = 1_000_003  # prime pre-reduction keeps products < 2^63
A22_MULTS = (2_654_435_761, 2_246_822_519)  # Knuth + xxPrime32_2


def _a22_pos(key, mult: int):
    """Bit position of one hash: ((key % P) * M) % BITS — identical
    int64 arithmetic in Spark and the SQL oracle (keys are positive)."""
    return ((key % A22_PREMOD) * F.lit(mult)) % A22_BITS


@query(
    "a22_bloom_filter_audit",
    oracle=f"""
    WITH ck AS (
      SELECT c_custkey AS key FROM customer
    ), pos AS (
      SELECT ((key % {A22_PREMOD}) * {A22_MULTS[0]}) % {A22_BITS} AS p
      FROM ck
      UNION ALL
      SELECT ((key % {A22_PREMOD}) * {A22_MULTS[1]}) % {A22_BITS} AS p
      FROM ck
    ), words AS (
      SELECT p // 32 AS w,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
      FROM pos GROUP BY 1
    ), probe AS (
      SELECT p_partkey AS key,
             ((p_partkey % {A22_PREMOD}) * {A22_MULTS[0]})
               % {A22_BITS} AS p0,
             ((p_partkey % {A22_PREMOD}) * {A22_MULTS[1]})
               % {A22_BITS} AS p1
      FROM part
    ), h AS (
      SELECT pr.key,
             COALESCE(
               (w0.bits & (1::BIGINT << CAST(pr.p0 % 32 AS INT))) <> 0
               AND
               (w1.bits & (1::BIGINT << CAST(pr.p1 % 32 AS INT))) <> 0,
               FALSE) AS hit,
             ck.key IS NOT NULL AS member
      FROM probe pr
      LEFT JOIN words w0 ON w0.w = pr.p0 // 32
      LEFT JOIN words w1 ON w1.w = pr.p1 // 32
      LEFT JOIN ck ON ck.key = pr.key
    )
    SELECT
      CAST((SELECT count(*) FROM ck) AS BIGINT) AS n_members,
      CAST((SELECT sum(bit_count(bits)) FROM words) AS BIGINT)
        AS n_bits_set,
      CAST(count(*) AS BIGINT) AS n_probes,
      CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
        AS n_true_members,
      CAST(sum(CASE WHEN hit AND NOT member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
      CAST(sum(CASE WHEN member AND NOT hit THEN 1 ELSE 0 END)
           AS BIGINT) AS n_missed
    FROM h
    """,
)
def a22_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit, the a21 pattern for Bloom: build
    a {A22_BITS}-bit / 2-hash filter over customer keys with
    engine-portable multiplicative hashes, probe it with part keys,
    and report the full confusion surface — n_missed MUST be 0 (Bloom
    admits no false negatives, structurally) and n_false_pos is the
    price actually paid, both replayed EXACTLY by the oracle because
    the hash arithmetic is plain int64 on both engines.

    Scale shape (mirrors j11's production fold): the build side folds
    map-side to <= {A22_BITS // 32} (word, bits) rows via bit_or — a
    Bloom over 10^9 keys still crosses the wire as 128 longs; the probe
    side pays two broadcast joins against that 128-row frame plus one
    key-equality membership join (the audit's ground truth — the
    production path drops it and keeps only the filter)."""
    cust = pin(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("key")
        )
    )
    pos = cust.select(
        F.explode(
            F.array(
                *[_a22_pos(F.col("key"), m).alias("p") for m in A22_MULTS]
            )
        ).alias("p")
    )
    words = pos.groupBy((F.col("p") / 32).cast("long").alias("w")).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("p") % 32).cast("int"),
            )
        ).alias("bits")
    )
    probe = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"),
        _a22_pos(F.col("p_partkey"), A22_MULTS[0]).alias("p0"),
        _a22_pos(F.col("p_partkey"), A22_MULTS[1]).alias("p1"),
    )
    w0 = words.select(F.col("w").alias("w0w"), F.col("bits").alias("b0"))
    w1 = words.select(F.col("w").alias("w1w"), F.col("bits").alias("b1"))
    mask = lambda p: F.call_function(  # noqa: E731
        "shiftleft", F.lit(1).cast("long"), (p % 32).cast("int")
    )
    h = (
        probe.join(
            F.broadcast(w0),
            (F.col("p0") / 32).cast("long") == F.col("w0w"),
            "left",
        )
        .join(
            F.broadcast(w1),
            (F.col("p1") / 32).cast("long") == F.col("w1w"),
            "left",
        )
        .join(
            cust.select(F.col("key"), F.lit(True).alias("_m")),
            "key",
            "left",
        )
        .select(
            F.coalesce(
                (F.col("b0").bitwiseAND(mask(F.col("p0"))) != 0)
                & (F.col("b1").bitwiseAND(mask(F.col("p1"))) != 0),
                F.lit(False),
            ).alias("hit"),
            F.coalesce(F.col("_m"), F.lit(False)).alias("member"),
        )
    )
    n_members = cust.agg(F.count("*").cast("long").alias("n_members"))
    n_bits = words.agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_bits_set")
    )
    return (
        h.agg(
            F.count("*").cast("long").alias("n_probes"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.sum(F.when(F.col("member"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_members"),
            F.sum(F.when(F.col("hit") & ~F.col("member"), 1).otherwise(0))
            .cast("long")
            .alias("n_false_pos"),
            F.sum(F.when(F.col("member") & ~F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_missed"),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
    )
