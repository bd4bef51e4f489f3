"""Streaming hot-key monitor (st13): a21's Misra-Gries summary
maintained across REAL micro-batches.

The production shape: a pipeline watches its key distribution while
data streams in (hot tokens, hot users, hot join keys — the signal
that decides when j7-style salting is needed), but cannot afford
exact per-key counts. This sink keeps ONE K-counter MG summary per
shard as a tiny materialized view: each micro-batch's per-shard token
counts are truncated to a summary, merged into the view through
materialized.delta_merge_sink (the engine's single replay-protected
additive-sink protocol), and re-truncated — so state never exceeds
HH_SHARDS x HH_K rows no matter how many batches or how hot the keys.

Correctness under batching is the Mergeable Summaries theorem
(Agarwal et al.): merging MG summaries and re-truncating keeps the
per-shard deficit <= n_shard/(K+1) for ANY merge tree, so batch
boundaries cannot break the bound — only shift which near-threshold
keys survive. The final read merges shards (a21's level-2 truncation)
and attests, against exact counts both engines recompute from the raw
corpus: est <= exact and (exact - est)*(K+1) <= 2n. The estimates
themselves go through the stamped-scratch protocol (a19's shape)
because their exact values depend on the batch plan, which has no SQL
twin — the BOUNDS are what the oracle re-derives independently.

Reference parity: none (the reference's consumer appends blindly,
consumer.py:87-114); this is engine extension surface, same tier as
st10/st11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    fresh_scratch,
    read_stamped_scratch,
    run_scratch,
    table,
    write_scratch,
)
from a3_fp_bigdata_spark.functions import text as TX
from a3_fp_bigdata_spark.operators.aggregates import HH_K, HH_SHARDS
from a3_fp_bigdata_spark.operators.text_analysis import _SQL_TOKS
from a3_fp_bigdata_spark.registry import query
from a3_fp_bigdata_spark.streaming.incremental_dedup import (
    stream_staged_table,
)
from a3_fp_bigdata_spark.streaming.materialized import delta_merge_sink


def mg_truncate(counts: DataFrame) -> DataFrame:
    """(shard, tok, c) -> the per-shard K-counter MG summary: subtract
    the (K+1)-th largest count from every count, keep the positive
    top-K. Value-determined (count ties share the decrement), so the
    summary is a pure function of the input rows."""
    w = Window.partitionBy("shard").orderBy(F.desc("c"), F.asc("tok"))
    ranked = counts.withColumn("rn", F.row_number().over(w))
    dec = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == HH_K + 1, F.col("c"))),
            F.lit(0),
        ).alias("dec")
    )
    return (
        ranked.join(F.broadcast(dec), "shard")
        .filter((F.col("rn") <= HH_K) & (F.col("c") - F.col("dec") > 0))
        .select(
            "shard", "tok", (F.col("c") - F.col("dec")).alias("c")
        )
    )


def shard_summary_delta(docs: DataFrame) -> DataFrame:
    """One micro-batch -> its per-shard MG summary (already truncated,
    so even batch 1's view respects the K-counter invariant)."""
    toks = docs.select(
        (F.col("doc_id") % HH_SHARDS).alias("shard"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    )
    counts = toks.groupBy("shard", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    return mg_truncate(counts)


def hot_key_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
):
    """Maintain ``out_dir`` as the per-shard MG summary view while
    documents stream in. combine = sum counters per (shard, tok), then
    re-truncate — the Mergeable Summaries merge. delta_merge_sink owns
    replay protection; merge_upsert's touched-key replacement is what
    makes truncation-dropped tokens actually leave the view."""

    def combine(unioned: DataFrame) -> DataFrame:
        summed = unioned.groupBy("shard", "tok").agg(
            F.sum("c").cast("long").alias("c")
        )
        return mg_truncate(summed)

    return delta_merge_sink(
        doc_stream,
        spark,
        out_dir,
        key="shard",
        delta_fn=shard_summary_delta,
        combine_fn=combine,
        checkpoint_dir=checkpoint_dir or fresh_scratch("a3_hotkey_cp_"),
    )


_ST13_SCRATCH = run_scratch("st13_hot_keys")


def _st13_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT tok, est
      FROM read_parquet('{_ST13_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_ST13_SCRATCH}/*.parquet'))
    ), toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ), exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY tok
    ), total AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT s.tok, CAST(s.est AS BIGINT) AS est, e.exact_cnt,
           t.n_tokens,
           CAST(s.est <= e.exact_cnt
                AND (e.exact_cnt - s.est) * {HH_K + 1} <= 2 * t.n_tokens
                AS BOOLEAN) AS within_bound
    FROM s JOIN exact e USING (tok) CROSS JOIN total t
    """


@query("st13_stream_hot_keys", oracle=_st13_oracle())
def st13_stream_hot_keys(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL streaming run: stage documents as {STAGE_FILES} parquet
    files, stream them one file per micro-batch through hot_key_sink,
    then merge the drained per-shard summaries (a21's level-2
    truncation) and attest the MG bounds against exact counts. The
    estimates are materialized to stamped scratch — the oracle reads
    the SAME estimate bytes and re-derives exact counts + bound
    verdicts from its own scan of documents, so a broken merge (state
    overcounting on replay, truncation failing to drop rows) is a red
    bound column, not a silent drift.

    Scale: per-batch cost is one map-side-combinable (shard, tok)
    count over the BATCH plus a merge against a <= HH_SHARDS*HH_K-row
    view; the view never grows. The exact-count join here is the
    AUDIT rung only."""
    state = stream_staged_table(
        spark,
        sf_dir,
        "documents",
        "doc_id",
        lambda stream, out: hot_key_sink(stream, spark, out),
    ).select("shard", "tok", "c")
    # level-2 merge across shards — a21's global truncation
    merged = state.groupBy("tok").agg(F.sum("c").cast("long").alias("s"))
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
    write_scratch(final, _ST13_SCRATCH)
    back = read_stamped_scratch(spark, _ST13_SCRATCH)
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    total = toks.agg(F.count("*").cast("long").alias("n_tokens"))
    return (
        back.join(exact, "tok")
        .crossJoin(F.broadcast(total))
        .select(
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
    )
