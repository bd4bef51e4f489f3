"""Streaming chunk-index maintenance (st11): pl2's RAG ingest, run
continuously.

Each micro-batch of documents is chunked (pk8), featurized and
LSH-bucketed (pl2's exact derivation, shared code), aggregated to
per-bucket (n_chunks, n_docs) deltas, and merged into the bucketed
materialized view — so after the stream drains, the occupancy table
equals what pl2_chunk_index_stats computes over the whole corpus in
one batch. That equality is this operator's oracle: a REAL streaming
run checked against pl2's plain ANSI SQL.

Merge semantics: both counts are ADDITIVE across batches because a
document arrives wholly inside one micro-batch (a file/Kafka partition
carries whole rows, and chunking is per-row) — its chunks, and its
single distinct-doc contribution per touched bucket, are counted
exactly once. Arrival order and batch boundaries therefore cannot
change the drained result. The reference has no streaming indexing at
all; this is the ingest shape a RAG/embedding index actually runs —
new crawl partitions land, only the buckets they touch get rewritten.

Scale: per-batch cost tracks batch size (chunk fan-out is pk8's
zero-shuffle Generate; the delta aggregate is map-side combinable over
<= 2^|planes| keys), and the MV write rewrites only touched bucket
partitions (materialized.merge_batch_into). The combine step's base
read prunes to the batch's buckets via a broadcast semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from a3_fp_bigdata_spark.data import fresh_scratch, table
from a3_fp_bigdata_spark.operators.packing import (
    chunk_bucket_frame,
    sliding_chunk_frame,
)
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.streaming.incremental_dedup import STAGE_FILES
from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle
from a3_fp_bigdata_spark.streaming.materialized import delta_merge_sink


def bucket_delta_frame(docs: DataFrame) -> DataFrame:
    """(bucket, n_chunks, n_docs) for one batch of documents — pl2's
    aggregate over the shared chunk/bucket derivation."""
    return (
        chunk_bucket_frame(sliding_chunk_frame(docs))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


def chunk_index_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
    *,
    docs_arrive_whole: bool = True,
) -> StreamingQuery:
    """Maintain ``out_dir`` as the chunk-index occupancy table while
    documents stream in. Combine = per-bucket SUM of batch deltas
    (associative + commutative, see module docstring). Replay
    protection and the touched-key merge live in
    materialized.delta_merge_sink — the same single-source protocol
    the incremental-dedup sink rides.

    API CONTRACT — ``docs_arrive_whole``: ``n_docs`` is additive
    across batches ONLY if each document's rows land wholly inside one
    micro-batch (st11 guarantees it by staging with a doc_id
    repartition; a file source carries whole rows and chunking is
    per-row). A source that can re-deliver or split a doc_id across
    batches (e.g. a Kafka topic keyed by something other than doc_id)
    silently over-counts distinct docs — callers of such sources MUST
    pass ``docs_arrive_whole=False``, which switches to
    ``chunk_membership_sink``'s per-(bucket, doc_id) view (same replay
    protocol, occupancy derived at read time via
    ``occupancy_from_membership``). Membership mode makes ``n_docs``
    exact under ANY delivery; ``n_chunks`` is exact under doc
    SPLITTING but — like every at-least-once additive count — still
    double-counts a row the source re-delivers under a new batch id
    (same-lineage replays are watermark-deduped). A source that can
    duplicate rows needs row-level idempotence keys; that is a
    source contract, not something a sink can reconstruct."""
    if not docs_arrive_whole:
        return chunk_membership_sink(
            doc_stream, spark, out_dir, checkpoint_dir
        )

    def combine(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("bucket").agg(
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )

    return delta_merge_sink(
        doc_stream,
        spark,
        out_dir,
        key="bucket",
        delta_fn=bucket_delta_frame,
        combine_fn=combine,
        checkpoint_dir=checkpoint_dir or fresh_scratch("a3_chunkidx_cp_"),
    )


_PAIR_COL = "_pair"  # surrogate merge key: one row per (bucket, doc_id)


def membership_delta_frame(docs: DataFrame) -> DataFrame:
    """(pair, bucket, doc_id, n_chunks) for one batch — the exact-mode
    delta. One row per (bucket, doc_id) the batch touches; a doc whose
    rows were SPLIT across batches produces the same pair key again and
    the combine sums its chunk counts into one row instead of
    double-counting the doc."""
    return (
        chunk_bucket_frame(sliding_chunk_frame(docs))
        .groupBy("bucket", "doc_id")
        .agg(F.count("*").alias("n_chunks"))
        .withColumn(
            _PAIR_COL,
            F.concat_ws("|", F.col("bucket").cast("string"), "doc_id"),
        )
    )


def chunk_membership_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Membership-mode chunk index: the view is keyed per
    (bucket, doc_id) pair, so distinct-doc counting never relies on
    batch boundaries — n_docs exact under any delivery, n_chunks
    correct under doc-splitting (see chunk_index_sink's contract for
    the row-re-delivery caveat) — at the cost of one view row per
    pair (an index-sized table, still bucket-partition-pruned on
    merge) instead of one per LSH bucket."""

    def combine(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy(_PAIR_COL).agg(
            F.first("bucket").alias("bucket"),
            F.first("doc_id").alias("doc_id"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
        )

    return delta_merge_sink(
        doc_stream,
        spark,
        out_dir,
        key=_PAIR_COL,
        delta_fn=membership_delta_frame,
        combine_fn=combine,
        checkpoint_dir=checkpoint_dir or fresh_scratch("a3_chunkmem_cp_"),
    )


def occupancy_from_membership(spark: SparkSession, out_dir: str) -> DataFrame:
    """pl2's occupancy table derived from the exact membership view:
    count(*) per bucket IS the distinct-doc count (one row per pair by
    construction)."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("bucket")
        .agg(
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


@query("st11_chunk_index_stream", oracle=None)  # attached below (pl2's SQL)
def st11_chunk_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: stage documents as {STAGE_FILES} parquet
    files, stream them one file per micro-batch through
    chunk_index_sink, then read the drained occupancy table. The
    oracle is pl2's one-shot SQL over the full corpus — streaming
    accumulation must converge to exactly the batch answer."""
    stage = fresh_scratch("a3_chunkidx_stage_")
    out = fresh_scratch("a3_chunkidx_out_")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(STAGE_FILES, "doc_id").write.mode("overwrite").parquet(
        stage
    )
    stream = (
        spark.readStream.schema(TESTDATA["documents"])
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    with streaming_shuffle(spark, 8):
        q = chunk_index_sink(stream, spark, out)
        q.awaitTermination()
    return spark.read.parquet(out).select("bucket", "n_chunks", "n_docs")


def _attach_oracle() -> None:
    """st11 shares pl2's oracle verbatim — ONE SQL definition of the
    occupancy table, checked against both the batch and the streaming
    path."""
    import dataclasses

    from a3_fp_bigdata_spark import registry as _R
    from a3_fp_bigdata_spark.operators.packing import _pl2_oracle

    rq = _R._REGISTRY["st11_chunk_index_stream"]
    if rq.oracle is None:
        _R._REGISTRY["st11_chunk_index_stream"] = dataclasses.replace(
            rq, oracle=_pl2_oracle()
        )


_attach_oracle()
