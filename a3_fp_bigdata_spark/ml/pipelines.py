"""spark.ml pipelines — the reference's ML capability surface (SURVEY §2.11).

The reference fits two PipelineModels over its app table
(reference spark_script.py:56-121):

- KMeans branch: Imputer(mean) -> StringIndexer(genre) -> VectorAssembler
  -> StandardScaler(withStd, no mean) -> KMeans(k=5, seed=1, pred 'cluster')
  (spark_script.py:64-77)
- RF branch: Imputer(mean) -> StringIndexer -> VectorAssembler
  -> RandomForestRegressor(seed=42, maxBins=64, pred 'PredictedRating')
  (spark_script.py:97-113)

fit on the non-null training subset, transform over ALL rows, evaluate RMSE
(spark_script.py:117-121), persist models (spark_script.py:145-149), and
write a final 12-col parquet (spark_script.py:136-153).

We re-express the same stages over the driver's star schema: the "apps"
analog is customers enriched with per-customer order aggregates (a real
map-side-combinable groupBy, not a crutch), `c_mktsegment` standing in for
`genre`, `avg_order` for `score`. All seeds pinned as in the reference
(KMeans seed=1, RF seed=42). spark.ml runs JVM-side over DataFrames, so the
same code path scales to the cluster: fits are a handful of aggregation /
iteration jobs, transforms are narrow projections.

Scale notes (100 TB): the feature build is one shuffle (groupBy o_custkey,
partial aggregation map-side) + one shuffle-free broadcastable join when the
dim is small; KMeans is iterative but each iteration is a single
mapPartitions + reduce; RF trains on a sampled/cached frame. Nothing here
collects to the driver except the tiny k-row histogram.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import Imputer, StandardScaler, StringIndexer, VectorAssembler
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    fingerprint_where,
    read_scratch,
    run_scratch,
    table_fingerprint,
    table,
    table_path,
    write_scratch,
)
from a3_fp_bigdata_spark import stages
from a3_fp_bigdata_spark.registry import query

#: Numeric feature columns of the customer-features frame (analog of the
#: reference's 8-col numeric map, spark_script.py:32-36).
NUMERIC_FEATURES = ("c_acctbal", "order_cnt", "total_spent", "avg_order")
CATEGORICAL = "c_mktsegment"  # genre analog
RF_LABEL = "avg_order"  # score analog

KMEANS_K = 5
KMEANS_SEED = 1  # reference spark_script.py:71
RF_SEED = 42  # reference spark_script.py:106
RF_MAX_BINS = 64


def customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-customer frame: customer dims + order aggregates.

    Mirrors the reference's apps ⋈ image-features join shape
    (spark_script.py:24): big fact aggregated once (map-side combine),
    left-outer joined back so customers with no orders keep NULL features
    — exactly the nulls the Imputer stage exists to fill.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_cnt"),
        F.sum("o_totalprice").alias("total_spent"),
        F.avg("o_totalprice").alias("avg_order"),
    )
    return cust.select("c_custkey", "c_acctbal", CATEGORICAL).join(
        per_cust,
        cust["c_custkey"] == per_cust["o_custkey"],
        "left_outer",
    ).drop("o_custkey")


def _common_stages(features: tuple[str, ...]) -> list:
    """Imputer -> StringIndexer -> VectorAssembler (M1-M3)."""
    imputed = [f"{c}_imp" for c in features]
    return [
        Imputer(strategy="mean", inputCols=list(features), outputCols=imputed),
        # frequencyDesc ordering is the default, matching the fitted
        # reference metadata; handleInvalid="keep" deviates deliberately
        # from the reference's "skip" (which silently drops rows,
        # spark_script.py:67 — see SURVEY §7 risk register).
        StringIndexer(
            inputCol=CATEGORICAL,
            outputCol="cat_idx",
            handleInvalid="keep",
        ),
        VectorAssembler(
            inputCols=imputed + ["cat_idx"], outputCol="unscaled_features"
        ),
    ]


def build_kmeans_pipeline() -> Pipeline:
    """M1-M5: impute -> index -> assemble -> scale -> KMeans(k=5, seed=1)."""
    return Pipeline(
        stages=_common_stages(NUMERIC_FEATURES)
        + [
            StandardScaler(
                inputCol="unscaled_features",
                outputCol="features",
                withStd=True,
                withMean=False,  # reference spark_script.py:70
            ),
            KMeans(
                k=KMEANS_K,
                seed=KMEANS_SEED,
                featuresCol="features",
                predictionCol="cluster",
            ),
        ]
    )


def build_rf_pipeline() -> Pipeline:
    """M1-M3 + M6: impute -> index -> assemble -> RF regression.

    Label excluded from its own feature set (the reference's RF branch
    drops `score` from features, spark_script.py:99-103).
    """
    feats = tuple(c for c in NUMERIC_FEATURES if c != RF_LABEL)
    return Pipeline(
        stages=_common_stages(feats)
        + [
            RandomForestRegressor(
                featuresCol="unscaled_features",
                labelCol=RF_LABEL,
                predictionCol="PredictedRating",
                seed=RF_SEED,
                maxBins=RF_MAX_BINS,
            )
        ]
    )


def fit_transform(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, PipelineModel, PipelineModel, float]:
    """The reference's full training flow (spark_script.py:56-123):

    fit both pipelines on the non-null subset (cached across the two fits,
    M9), transform KMeans over ALL rows, chain RF transform on the
    clustered frame, evaluate training RMSE (M8).
    Returns (scored_frame, kmeans_model, rf_model, rmse).

    One fit per input snapshot (stages.py): the three registered
    queries below all consume the same trained artifacts; refitting per
    query would triple the driver's correctness-pass cost for identical
    results (seeds pinned).
    """
    return stages.get(
        spark, "customer_fit", (), lambda: _fit(spark, sf_dir),
        [table_path(sf_dir, "customer"), table_path(sf_dir, "orders")],
    )


def _fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, PipelineModel, PipelineModel, float]:
    df = customer_features(spark, sf_dir)
    train = df.filter(
        F.col(RF_LABEL).isNotNull() & F.col("c_acctbal").isNotNull()
    ).cache()
    if train.count() < 10:  # min-rows guard, spark_script.py:49-52
        raise ValueError("not enough valid training rows")

    km_model = build_kmeans_pipeline().fit(train)
    rf_model = build_rf_pipeline().fit(train)
    train.unpersist()

    clustered = km_model.transform(df)
    scored = rf_model.transform(
        clustered.drop(
            "cat_idx", "unscaled_features", "features",
            *[f"{c}_imp" for c in NUMERIC_FEATURES],
        )
    )
    rmse = RegressionEvaluator(
        labelCol=RF_LABEL, predictionCol="PredictedRating", metricName="rmse"
    ).evaluate(scored.filter(F.col(RF_LABEL).isNotNull()))

    final = scored.select(
        "c_custkey",
        "c_acctbal",
        CATEGORICAL,
        "order_cnt",
        "total_spent",
        "avg_order",
        F.col("cluster").cast("int").alias("cluster"),
        F.round("PredictedRating", 6).alias("PredictedRating"),
    )
    return (final, km_model, rf_model, rmse)


# ---------------------------------------------------------------------------
# Registered queries (rows-only: KMeans/RF outputs are seed/impl-specific,
# not SQL-expressible — the driver records the weaker check; pytest pins
# the invariants: k distinct clusters, full row coverage, RMSE bound).
# ---------------------------------------------------------------------------


_ML1_ASSIGN_SCRATCH = run_scratch("ml1_assignments")


@query(
    "ml1_cluster_sizes",
    oracle=f"""
    SELECT cluster, CAST(count(*) AS BIGINT) AS n
    FROM read_parquet('{_ML1_ASSIGN_SCRATCH}/*.parquet')
    WHERE {fingerprint_where('customer', 'c_custkey')}
    GROUP BY cluster
    ORDER BY cluster
    """,
)
def ml1_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster histogram of the fitted KMeans pipeline — the reference's
    diagnostic `groupBy('cluster').count().orderBy('cluster')`
    (spark_script.py:80).

    ORACLE-BACKED since r13 (was rows-only "centroid assignment is
    impl-specific"): the assignments — the seed-internal values, taken
    as given — materialize to stamped scratch, and BOTH engines
    independently derive the histogram from the same rows. A dropped
    customer, a double count, or a grouping slip is a red hash
    mismatch; the centroid geometry itself stays pinned by pytest's
    k-cluster/coverage invariants (no SQL oracle can exist for the
    fit)."""
    final, _, _, _ = fit_transform(spark, sf_dir)
    fp = table_fingerprint(spark, sf_dir, "customer", "c_custkey", table_fn=table)
    assign = final.select("c_custkey", "cluster")
    write_scratch(assign, _ML1_ASSIGN_SCRATCH, fp)
    back = read_scratch(spark, _ML1_ASSIGN_SCRATCH)
    return (
        back.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .orderBy("cluster")
    )


#: ml2/ml3 scratch (r13, VERDICT ask #5): the model OUTPUTS — the only
#: seed/impl-specific values — materialize to fingerprinted scratch;
#: everything DOWNSTREAM of the fit (ml2's ranked score-table
#: selection, ml3's RMSE aggregation) is re-derived independently by
#: both engines from the same materialized predictions, so the
#: aggregation surface is value-attested even though the fit itself
#: admits no SQL oracle. Same division of labor as ml5's calibration
#: audit, promoted onto the queries themselves. Rows carry the CUSTOMER
#: table's fingerprint. No pin: each frame feeds exactly ONE write (the
#: read-back is a fresh scan of the scratch) — persisting a
#: single-consumer frame just burns executor memory (ADVICE r13).
_ML2_SCORED_SCRATCH = run_scratch("ml2_scored")
_ML3_PRED_SCRATCH = run_scratch("ml3_preds")

_ML2_COLS = (
    "c_custkey", "c_acctbal", CATEGORICAL, "order_cnt",
    "total_spent", "avg_order", "cluster", "PredictedRating",
)


@query(
    "ml2_rf_score_table",
    oracle=f"""
    SELECT {", ".join(_ML2_COLS)}
    FROM read_parquet('{_ML2_SCORED_SCRATCH}/*.parquet')
    WHERE {fingerprint_where('customer', 'c_custkey')}
    ORDER BY c_acctbal DESC NULLS LAST, c_custkey
    LIMIT 20
    """,
)
def ml2_rf_score_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 12-col final API-table shape (spark_script.py:136-142): every
    customer with cluster + PredictedRating, top 20 by account balance
    (total order with unique key so the sample is stable).

    ORACLE-BACKED since r13 (was rows-only): the full scored frame —
    the seed-internal model outputs, taken as given — materializes to
    stamped scratch; Spark ranks/limits from the read-back while DuckDB
    replays the same total order and LIMIT independently, so the
    selection surface (sort keys, tie-break, cut) is value-attested."""
    final, _, _, _ = fit_transform(spark, sf_dir)
    fp = table_fingerprint(spark, sf_dir, "customer", "c_custkey", table_fn=table)
    write_scratch(final, _ML2_SCORED_SCRATCH, fp)
    back = read_scratch(spark, _ML2_SCORED_SCRATCH)
    # desc_nulls_last EXPLICITLY: Spark's desc already sorts nulls
    # last, but DuckDB's DESC puts them FIRST — both sides pin the
    # same null placement so the total order can't diverge if the
    # feature frame ever carries a null balance (ADVICE r13)
    return back.orderBy(
        F.desc_nulls_last("c_acctbal"), "c_custkey"
    ).limit(20)


#: micro-quantization unit for the materialized (label, prediction)
#: pairs and centi-unit for the per-row squared error: e is exact
#: int64 micros, (e/1e6)^2 is the same correctly-rounded double on
#: both engines, and the floor(x*100+0.5) centi-count keeps the SUM an
#: exact integer (order-independent) — bound: |e| <= ~3e5 gives
#: <= 9e12 centi-units/row, ~1e6 training rows before the int64 sum
#: nears 2^63. Beyond that, shard the evaluation by cluster first.
_ML3_MICRO = 1_000_000


@query(
    "ml3_training_rmse",
    oracle=f"""
    WITH p AS (
      SELECT label_micro, pred_micro
      FROM read_parquet('{_ML3_PRED_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('customer', 'c_custkey')}
    ), d AS (
      -- plain multiplication, NOT power(x,2): IEEE mandates correctly-
      -- rounded *, so both engines get the same double bit-for-bit;
      -- pow() routes through libm and carries no such guarantee
      SELECT CAST(label_micro - pred_micro AS DOUBLE)
               / {_ML3_MICRO} AS e_d
      FROM p
    ), e AS (
      SELECT CAST(floor(e_d * e_d * 100 + 0.5) AS BIGINT) AS e2_centi
      FROM d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(e2_centi) AS BIGINT) AS sse_centi,
           sqrt(CAST(sum(e2_centi) AS DOUBLE) / 100.0 / count(*))
             AS rmse
    FROM e
    """,
)
def ml3_training_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set RMSE of the RF branch (spark_script.py:117-121) as a
    one-row frame (n_train, sse_centi, rmse).

    ORACLE-BACKED since r13 (was rows-only): per-row (label,
    prediction) pairs — micro-quantized int64, the seed-internal
    values taken as given — materialize to stamped scratch, and BOTH
    engines independently re-derive the RMSE with the exact-integer
    construction above (int64 micro difference, one correctly-rounded
    double square, exact centi-unit sum, one division + sqrt), so the
    aggregation is value-attested while the fit stays in Spark.
    pytest pins this rmse against RegressionEvaluator's within 1e-6
    relative, so the quantized construction can't drift from the
    reference metric (spark_script.py:117-121)."""
    scored, _, _, _ = fit_transform(spark, sf_dir)
    pairs = scored.filter(F.col(RF_LABEL).isNotNull()).select(
        "c_custkey",
        F.floor(F.col(RF_LABEL) * _ML3_MICRO + 0.5)
        .cast("long")
        .alias("label_micro"),
        F.floor(F.col("PredictedRating") * _ML3_MICRO + 0.5)
        .cast("long")
        .alias("pred_micro"),
    )
    fp = table_fingerprint(spark, sf_dir, "customer", "c_custkey", table_fn=table)
    write_scratch(pairs, _ML3_PRED_SCRATCH, fp)
    back = read_scratch(spark, _ML3_PRED_SCRATCH)
    e_d = (
        (F.col("label_micro") - F.col("pred_micro")).cast("double")
        / _ML3_MICRO
    )
    e2_centi = F.floor(e_d * e_d * 100 + F.lit(0.5)).cast("long")
    agg = back.select(e2_centi.alias("e2_centi")).agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum("e2_centi").cast("long").alias("sse_centi"),
        F.max("e2_centi").cast("long").alias("max_e2c"),
    )
    # loud overflow guard (the dq5 pattern): sum <= max*count, so the
    # exact-int64 sum is provably safe when max_e2c <= 2^62 / n_train.
    # Spark wraps int64 silently past that; DuckDB raises — the guard
    # makes Spark raise too instead of returning a wrapped SSE.
    in_bound = F.col("max_e2c") <= F.expr(
        f"CAST({2 ** 62} AS BIGINT) DIV GREATEST(n_train, 1L)"
    )
    guarded_sse = F.when(
        F.assert_true(
            in_bound,
            F.lit(
                "ml3_training_rmse: per-row squared-error magnitude x "
                "row count exceeds the exact-int64 bound; shard the "
                "evaluation by cluster first"
            ),
        ).isNull(),
        F.col("sse_centi"),
    )
    return agg.select(
        "n_train",
        guarded_sse.alias("sse_centi"),
        F.sqrt(
            guarded_sse.cast("double") / 100.0 / F.col("n_train")
        ).alias("rmse"),
    )
