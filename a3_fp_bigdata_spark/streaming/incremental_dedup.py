"""Streaming corpus ingestion with incremental exact-dedup state (st10).

d10's nightly new-batch-vs-corpus shape, run continuously: each
micro-batch of documents is fingerprinted, combined with the corpus
fingerprint table so far (min keeper id, summed copy count), and merged
back via the bucketed materialized-view writer — so after the stream
drains, the fingerprint table equals what d1_exact_dedup computes over
the whole corpus in one batch. That equality is this operator's oracle:
a REAL streaming run checked against plain ANSI SQL.

Scale: the fingerprint table is the merge-key-bucketed layout
materialized.merge_batch_into maintains — a micro-batch rewrites only
the bucket partitions its fingerprints land in, and the combine step's
base read prunes to those same buckets' keys (here via a semi-join on
the batch's fingerprints; at 100 TB the bucket partition filter does
it). Per-batch cost tracks batch size, never corpus size. The
reference has no streaming dedup at all (its consumer appends blindly,
consumer.py:87-114); this is the engine extension a training-data
pipeline actually runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from a3_fp_bigdata_spark.data import fresh_scratch, table
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle
from a3_fp_bigdata_spark.streaming.materialized import (
    delta_merge_sink,
)

#: micro-batch granularity for the staged stream (files per trigger = 1)
STAGE_FILES = 4


def stream_staged_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    sink: Callable[[DataFrame, str], StreamingQuery],
) -> DataFrame:
    """Stage table ``name`` as STAGE_FILES parquet files (partitioned
    on ``key``) in a fresh scratch dir, stream them one file per
    trigger through ``sink(stream, out)`` under 8 shuffle partitions,
    wait for the stream to drain, and read ``out`` back — the shared
    REAL-stream harness of st10, st11, st13 and st14."""
    stage = fresh_scratch(f"a3_{name}_stage_")
    out = fresh_scratch(f"a3_{name}_out_")
    table(spark, sf_dir, name).repartition(STAGE_FILES, key).write.mode(
        "overwrite"
    ).parquet(stage)
    stream = (
        spark.readStream.schema(TESTDATA[name])
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    with streaming_shuffle(spark, 8):
        sink(stream, out).awaitTermination()
    return spark.read.parquet(out)


def fingerprint_frame(docs: DataFrame) -> DataFrame:
    """(fp, keeper_id, n_copies) — d1's aggregate, reusable per batch."""
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    ).select(
        F.md5(F.col("text").cast("binary")).alias("fp"),
        "keeper_id",
        "n_copies",
    )


def incremental_dedup_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain ``out_dir`` as the corpus fingerprint table while
    documents stream in. Combine semantics are associative+commutative
    (min keeper, sum copies), so batch boundaries and arrival order
    cannot change the drained result. Replay protection and the
    touched-key merge live in materialized.delta_merge_sink — ONE
    definition of the at-least-once protocol for every additive view
    (see its docstring for the crash-window contract)."""

    def combine(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("fp").agg(
            F.min("keeper_id").alias("keeper_id"),
            F.sum("n_copies").cast("long").alias("n_copies"),
        )

    return delta_merge_sink(
        doc_stream,
        spark,
        out_dir,
        key="fp",
        delta_fn=fingerprint_frame,
        combine_fn=combine,
        checkpoint_dir=checkpoint_dir or fresh_scratch("a3_incdedup_cp_"),
    )


@query(
    "st10_incremental_dedup_stream",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def st10_incremental_dedup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming run: stage documents as {STAGE_FILES} parquet
    files, stream them one file per micro-batch through
    incremental_dedup_sink, then read the drained fingerprint table.
    The oracle is d1's one-shot SQL over the full corpus — streaming
    accumulation must converge to exactly the batch answer."""
    drained = stream_staged_table(
        spark,
        sf_dir,
        "documents",
        "doc_id",
        lambda stream, out: incremental_dedup_sink(stream, spark, out),
    )
    return drained.select("fp", "keeper_id", "n_copies")
