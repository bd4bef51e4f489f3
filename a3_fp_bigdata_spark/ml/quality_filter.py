"""Model-based quality filtering — the fastText/CCNet-style classifier
rung of the curation ladder (SURVEY §2 extension; reference surface:
none — the reference's ML is the KMeans/RF pair in spark_script.py).

Every production LLM pipeline (CCNet, GPT-3, LLaMA) trains a linear
classifier to score documents "curated-like" and keeps the high end.
The driver's synthetic corpus has no curated/crawl axis (all five
langs share one vocabulary — the lang column is a metadata tag, not a
text property), so the anchor label here is WEAK SUPERVISION from the
engine's own heuristic rung: tx2's quality score above a fixed floor.
Training a model to reproduce-and-generalize a heuristic label is
itself a production pattern (heuristic -> classifier distillation,
CCNet §4.3); here it also makes learnability honest — the label is a
deterministic function of the text, so a bag-of-words linear model
must recover it or the pipeline is broken, and pytest pins exactly
that (train accuracy floor, full corpus coverage).

The MODEL SHAPE is the deliverable: tokenize -> HashingTF -> IDF ->
LogisticRegression, fit on a deterministic split, score the full
corpus, keep above a probability floor.

Scale notes (100 TB): HashingTF is stateless (a hash per token — no
vocabulary broadcast, no OOV), IDF's fit is one treeAggregate over the
SAMPLE only, and each LBFGS iteration is one treeAggregate over the
sample; scoring broadcasts a HASH_DIM coefficient vector and is a
narrow map over the corpus — the exact shape fastText filtering runs
at crawl scale. The fit sample is tx6's deterministic predicate, so
reruns and engines agree on WHICH rows trained the model.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, IDF
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import run_scratch, table, table_path
from a3_fp_bigdata_spark.functions import text as TX
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.operators.text_analysis import sample_predicate
from a3_fp_bigdata_spark import stages
from a3_fp_bigdata_spark.registry import query

QUALITY_TAU = 0.66      # heuristic label floor (~median of tx2 at sf0.01)
HASH_DIM = 1 << 13      # stateless hashing; sized to the corpus vocab
#: (production picks 2^18+ for crawl vocab — the knob, not the shape;
#: measured: 2^13 matches 2^16 holdout accuracy here at ~4x less fit
#: wall, because LBFGS iterations are O(dim) driver-side)
FIT_SAMPLE_PCT = 50     # deterministic fit split (tx6 predicate)
KEEP_PROB = 0.5         # keep floor on P(quality)
LR_MAX_ITER = 30  # converges by ~20 on this corpus; margin, not cost
LR_REG = 0.01           # small L2: keeps LBFGS well-conditioned


def _featurized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label, tokens) — engine tokenizer + tx2's exact quality
    expression, so the weak label is the one the heuristic rung ships."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (TX.quality_score(F.col("text")) >= QUALITY_TAU)
        .cast("double")
        .alias("label"),
        TX.tokens(F.col("text")).alias("tokens"),
    )


def build_quality_pipeline() -> Pipeline:
    return Pipeline(
        stages=[
            HashingTF(
                inputCol="tokens", outputCol="tf", numFeatures=HASH_DIM
            ),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(
                featuresCol="features",
                labelCol="label",
                maxIter=LR_MAX_ITER,
                regParam=LR_REG,
            ),
        ]
    )


def fit_score(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, PipelineModel]:
    """Fit on the deterministic {FIT_SAMPLE_PCT}% split, score ALL docs.

    Returns (scored frame with p_keep/keep columns, fitted model); one
    fit per documents snapshot (stages.py)."""
    return stages.get(
        spark, "quality_fit", (), lambda: _fit(spark, sf_dir),
        [table_path(sf_dir, "documents")],
    )


def _fit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, PipelineModel]:
    feats = _featurized(spark, sf_dir)
    fit_rows = feats.filter(
        sample_predicate(F.col("doc_id"), FIT_SAMPLE_PCT)
    )
    model = build_quality_pipeline().fit(fit_rows)
    # P(label=1) = element 1 of the probability vector; vector_to_array
    # keeps the projection JVM-side (no UDF).
    from pyspark.ml.functions import vector_to_array

    p1 = vector_to_array(F.col("probability")).getItem(1)
    scored = model.transform(feats).select(
        "doc_id",
        "label",
        p1.alias("p_keep"),
        (p1 >= KEEP_PROB).cast("int").alias("keep"),
        sample_predicate(F.col("doc_id"), FIT_SAMPLE_PCT)
        .cast("int")
        .alias("in_fit"),
    )
    return (scored, model)


_ML4_SCORE_SCRATCH = run_scratch("ml4_scores")


@query(
    "ml4_quality_filter",
    oracle=None,  # attached below (needs data.fingerprint_where)
)
def ml4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion report of the model-based quality filter against its
    weak-supervision label, split by fit/holdout membership: one row
    per (in_fit, label, keep) cell with count and mean P(keep). This is
    the keep-rate dashboard a production filter ships — and because the
    label is a deterministic text function, the holdout cells measure
    real generalization, not leakage.

    ORACLE-BACKED since r13 (was rows-only "IDF weights and LBFGS
    iterates are impl-specific"): per-doc (in_fit, label, keep,
    micro-quantized P(keep)) — the model outputs, taken as given —
    materialize to stamped scratch, and BOTH engines independently
    re-derive the confusion cells (exact int64 counts + micro-sum, one
    shared division construction, half_up to 2 decimals). The fit
    itself stays pinned by pytest's holdout-accuracy floor."""
    from a3_fp_bigdata_spark.data import table, table_fingerprint

    scored, _ = fit_score(spark, sf_dir)
    rows = scored.select(
        "doc_id",
        F.col("in_fit"),
        F.col("label"),
        F.col("keep"),
        F.floor(F.col("p_keep") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("p_micro"),
    )
    fp = table_fingerprint(spark, sf_dir, "documents", "doc_id", table_fn=table)
    rows.crossJoin(F.broadcast(fp)).repartition(1).write.mode(
        "overwrite"
    ).parquet(_ML4_SCORE_SCRATCH)
    back = spark.read.parquet(_ML4_SCORE_SCRATCH).drop("n_src", "src_ck")
    return (
        back.groupBy("in_fit", "label", "keep")
        .agg(
            F.count("*").alias("n"),
            half_up(
                F.sum("p_micro").cast("double") / 1000000.0 / F.count("*"),
                2,
            ).alias("mean_p"),
        )
        .orderBy("in_fit", "label", "keep")
    )


def _attach_ml4_oracle() -> None:
    """Deferred like st13's: renders data.py's fingerprint snippet."""
    import dataclasses

    from a3_fp_bigdata_spark import registry as _R
    from a3_fp_bigdata_spark.data import fingerprint_where

    mean_sql = half_up_sql(
        "CAST(sum(p_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE)"
        " / count(*)", 2
    )
    sql = f"""
    SELECT in_fit, label, keep,
           CAST(count(*) AS BIGINT) AS n,
           {mean_sql} AS mean_p
    FROM read_parquet('{_ML4_SCORE_SCRATCH}/*.parquet')
    WHERE {fingerprint_where('documents', 'doc_id')}
    GROUP BY in_fit, label, keep
    ORDER BY in_fit, label, keep
    """
    rq = _R._REGISTRY["ml4_quality_filter"]
    if rq.oracle is None:
        _R._REGISTRY["ml4_quality_filter"] = dataclasses.replace(
            rq, oracle=sql
        )


_attach_ml4_oracle()


#: ml5 scratch — the audit-scratch protocol (mm7/mm9): Spark
#: materializes the model's scores in EXACT integer micro-units, and
#: DuckDB re-derives the calibration table from the same bytes. The
#: per-process run_scratch path removes the concurrent-writer hazard;
#: n_src is still stamped so a torn read across generations within one
#: process disagrees loudly.
_ML5_SCRATCH = run_scratch("ml5_calib")

#: Reliability binning: micro-unit scores 0..1_000_000 into 10 equal
#: probability bins, the top edge folded into bin 9.
_ML5_NBINS = 10
_ML5_BIN_WIDTH_U = 1_000_000 // _ML5_NBINS


@query(
    "ml5_calibration_audit",
    oracle=f"""
    WITH s AS (
      SELECT label_i, p_u
      FROM read_parquet('{_ML5_SCRATCH}/*.parquet')
      WHERE in_fit = 0
        AND n_src = (SELECT count(*)
                     FROM read_parquet('{_ML5_SCRATCH}/*.parquet'))
    )
    SELECT CAST(least(p_u // {_ML5_BIN_WIDTH_U}, {_ML5_NBINS - 1})
                AS INT) AS bin,
           count(*) AS n,
           {half_up_sql(
               'CAST(sum(p_u) AS DOUBLE) / count(*)'
               ' / CAST(1000000 AS DOUBLE)'
           )} AS mean_p,
           {half_up_sql('CAST(sum(label_i) AS DOUBLE) / count(*)')}
             AS emp_rate,
           {half_up_sql(
               'abs(CAST(sum(p_u) AS DOUBLE) / count(*)'
               ' / CAST(1000000 AS DOUBLE)'
               ' - CAST(sum(label_i) AS DOUBLE) / count(*))'
           )} AS abs_gap
    FROM s GROUP BY bin
    """,
)
def ml5_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) audit of ml4's quality scorer over the
    HOLDOUT rows: bin P(keep) into {_ML5_NBINS} equal-probability bins
    and compare the mean predicted probability against the empirical
    label rate per bin — the per-bin terms of Expected Calibration
    Error, the audit a production filter ships before its keep
    threshold is trusted (a miscalibrated scorer silently moves the
    corpus mix when the threshold is interpreted as a probability).

    ORACLE-BACKED through the audit-scratch protocol even though LBFGS
    iterates are not SQL-expressible: Spark quantizes each holdout
    score to EXACT integer micro-units (floor(p*1e6 + 0.5)) and
    materializes (label, p_u) to stamped scratch; both engines then
    aggregate the SAME integers — sums are exact int64 math and the
    final divides see identical operands, so the table is
    bit-identical before rounding. A binning bug, a fit/holdout leak,
    or a score drift is a red hash mismatch; ml4's pytest pins the
    model quality floor itself.

    Scale: scoring is ml4's broadcast-coefficient narrow map; the
    audit adds one map-side-combinable groupBy over {_ML5_NBINS} keys
    — aggregate state is {_ML5_NBINS} rows regardless of corpus
    size."""
    scored, _ = fit_score(spark, sf_dir)
    holdout = scored.select(
        "doc_id",
        F.col("label").cast("int").alias("label_i"),
        "in_fit",
        F.floor(F.col("p_keep") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("p_u"),
    )
    stamp = holdout.agg(F.count("*").cast("long").alias("n_src"))
    holdout.crossJoin(F.broadcast(stamp)).repartition(1).write.mode(
        "overwrite"
    ).parquet(_ML5_SCRATCH)
    s = (
        spark.read.parquet(_ML5_SCRATCH)
        .filter(F.col("in_fit") == 0)
        .select("label_i", "p_u")
    )
    bin_col = F.least(
        F.expr(f"p_u div {_ML5_BIN_WIDTH_U}"), F.lit(_ML5_NBINS - 1)
    ).cast("int")
    n = F.count("*")
    mean_p = (
        F.sum("p_u").cast("double") / n / F.lit(1000000.0)
    )
    emp_rate = F.sum("label_i").cast("double") / n
    return s.groupBy(bin_col.alias("bin")).agg(
        n.alias("n"),
        half_up(mean_p).alias("mean_p"),
        half_up(emp_rate).alias("emp_rate"),
        half_up(F.abs(mean_p - emp_rate)).alias("abs_gap"),
    )
