"""Streaming embedding-drift monitor (st14): dq4's LSH super-cell
histogram maintained across REAL micro-batches.

The production shape: embedding ingest is a stream (new vectors land
continuously from an upstream encoder), and the drift monitor should
not re-scan the corpus nightly — it maintains the per-cell
(n_old, n_new) histogram incrementally, one tiny additive view of at
most EMB_DRIFT_CELLS rows, merged through materialized.delta_merge_sink
(the engine's single replay-protected additive-sink protocol).

Unlike st13's MG summaries (approximate — only the BOUNDS have an SQL
twin), the cell counts here are EXACT, so the streaming result must
equal dq4's batch answer bit for bit, and the oracle is dq4's own SQL
replayed from the raw embeddings table: a replay bug (double-merged
batch), a lost batch, or a broken combine lands as a red driver/parity
row with no scratch or stamping involved — the strongest attestation a
REAL streaming run can carry.

Reference parity: none (the reference's consumer appends blindly,
consumer.py:87-114); engine extension surface, st10/st11/st13's tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import fresh_scratch, table
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.streaming.incremental_dedup import STAGE_FILES
from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle
from a3_fp_bigdata_spark.streaming.materialized import delta_merge_sink


def cell_histogram_delta(batch: DataFrame, planes: DataFrame) -> DataFrame:
    """One micro-batch of embeddings -> its (cell, n_old, n_new)
    count delta, using the STATIC plane table (the hyperplanes are
    index metadata, not stream content — a batch containing none of
    vec_id 1..N_PLANES still buckets correctly)."""
    from a3_fp_bigdata_spark.operators.quality_checks import (
        EMB_DRIFT_CELLS,
        EMB_SNAPSHOT_PCT,
    )
    from a3_fp_bigdata_spark.operators.similarity import _buckets
    from a3_fp_bigdata_spark.operators.text_analysis import (
        sample_predicate,
    )

    buckets = _buckets(batch, planes)
    is_old = sample_predicate(F.col("vec_id"), EMB_SNAPSHOT_PCT)
    return (
        buckets.select(
            F.pmod(F.col("bucket"), F.lit(EMB_DRIFT_CELLS))
            .cast("long")
            .alias("cell"),
            is_old.alias("old"),
        )
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("old"), 1).otherwise(0))
            .cast("long")
            .alias("n_old"),
            F.sum(F.when(~F.col("old"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )


def drift_histogram_sink(
    emb_stream: DataFrame,
    spark: SparkSession,
    planes: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
):
    """Maintain ``out_dir`` as the per-cell count view while vectors
    stream in. combine = plain per-cell sums (exact, associative,
    commutative); delta_merge_sink owns replay protection."""

    def combine(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("cell").agg(
            F.sum("n_old").cast("long").alias("n_old"),
            F.sum("n_new").cast("long").alias("n_new"),
        )

    return delta_merge_sink(
        emb_stream,
        spark,
        out_dir,
        key="cell",
        delta_fn=lambda batch: cell_histogram_delta(batch, planes),
        combine_fn=combine,
        checkpoint_dir=checkpoint_dir or fresh_scratch("a3_drift_cp_"),
    )


@query(
    "st14_stream_embedding_drift",
    oracle=None,  # attached below: dq4's SQL verbatim — full replay
)
def st14_stream_embedding_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming run: stage embeddings as {STAGE_FILES} parquet
    files, stream them one file per micro-batch through
    drift_histogram_sink, then derive shares + drift verdicts from the
    drained view — which must equal dq4's batch answer EXACTLY (same
    integer math over the same counts), proved by running dq4's oracle
    SQL against the raw table. No scratch, no stamping: the counts are
    exact, so the whole streaming computation is SQL-replayable.

    Scale: per-batch cost is the broadcast-plane bucketing of the
    BATCH plus a merge against a <= EMB_DRIFT_CELLS-row view; the view
    never grows, and a re-delivered batch is a no-op by the
    delta_merge_sink watermark."""
    from a3_fp_bigdata_spark.operators.quality_checks import EMB_DRIFT_BP
    from a3_fp_bigdata_spark.operators.similarity import _planes
    from a3_fp_bigdata_spark.registry import pin

    stage = fresh_scratch("a3_drift_stage_")
    out = fresh_scratch("a3_drift_out_")
    emb = table(spark, sf_dir, "embeddings")
    emb.repartition(STAGE_FILES, "vec_id").write.mode(
        "overwrite"
    ).parquet(stage)
    # planes pinned from the STATIC table: every micro-batch buckets
    # against the same hyperplanes regardless of which file delivered
    # vec_id 1..N_PLANES
    planes = pin(_planes(emb))
    stream = (
        spark.readStream.schema(TESTDATA["embeddings"])
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    with streaming_shuffle(spark, 8):
        q = drift_histogram_sink(stream, spark, planes, out)
        q.awaitTermination()
    hist = spark.read.parquet(out).select("cell", "n_old", "n_new")
    totals = hist.agg(
        F.sum("n_old").cast("long").alias("t_old"),
        F.sum("n_new").cast("long").alias("t_new"),
    )
    # same NULLIF zero-guard as dq4 (whose SQL replays this run):
    # a degenerate corpus yields NULL shares on both engines
    share_old = F.expr("n_old * 10000 DIV nullif(t_old, 0)")
    share_new = F.expr("n_new * 10000 DIV nullif(t_new, 0)")
    return (
        hist.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            "n_old",
            "n_new",
            share_old.cast("long").alias("share_old_bp"),
            share_new.cast("long").alias("share_new_bp"),
            (F.abs(share_old - share_new) > EMB_DRIFT_BP)
            .cast("int")
            .alias("drifted"),
        )
    )


def _attach_st14_oracle() -> None:
    """The oracle IS dq4's: the streaming view must converge to the
    batch histogram, so the batch SQL replays the streaming run."""
    import dataclasses

    from a3_fp_bigdata_spark import registry as _R

    dq4 = _R._REGISTRY["dq4_embedding_drift"]
    rq = _R._REGISTRY["st14_stream_embedding_drift"]
    if rq.oracle is None and dq4.oracle is not None:
        _R._REGISTRY["st14_stream_embedding_drift"] = dataclasses.replace(
            rq, oracle=dq4.oracle
        )


_attach_st14_oracle()
