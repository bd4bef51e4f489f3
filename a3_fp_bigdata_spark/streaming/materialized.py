"""Streaming materialized view — incremental aggregate maintenance.

The reference recomputes its serving table from scratch on every
training run (spark_script.py:153 full overwrite). The streaming
version maintains it incrementally: the base table is PARTITIONED on a
hash bucket of the merge key (``_kb = pmod(xxhash64(key), n)``), and
each micro-batch merges its UPDATED aggregate rows into only the
bucket partitions that batch touches, via Spark's dynamic partition
overwrite. Write cost therefore tracks TOUCHED BUCKETS (bounded by
changed keys), not table size — at 100 TB with n=4096 buckets a batch
that changes 50 keys rewrites at most 50 partitions.

Crash story: ``out_dir`` is never renamed or removed — dynamic
overwrite stages new files per partition and swaps them in at commit,
leaving untouched partitions alone, and checkpoint replay re-merges
update-mode aggregates (ABSOLUTE values, not deltas) idempotently.
The residual window plain parquet cannot close: the per-partition
commit deletes a bucket directory before renaming staged files in, so
a crash INSIDE that instant can lose the touched bucket's OTHER keys
(replay restores only the batch's own keys). Closing that window
needs a transactional table format — Delta/Iceberg ``MERGE INTO`` is
the production form; this is the engine-portable plain-parquet
equivalent with the failure mode stated rather than hidden.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from a3_fp_bigdata_spark.data import fresh_scratch
from a3_fp_bigdata_spark.functions.rounding import half_up
from a3_fp_bigdata_spark.operators.upsert import merge_upsert
from a3_fp_bigdata_spark.stages import free_checkpoint

#: Default key-bucket count. Small here (tests touch few keys); at
#: production scale size it so one bucket's rows fit an executor task
#: (e.g. 4096 for a multi-TB view).
DEFAULT_BUCKETS = 64

_BUCKET_COL = "_kb"
_META_FILE = "_mv_buckets"  # underscore-prefixed: ignored by readers


def _bucket_count(out_dir: str, requested: int) -> int:
    """The layout's bucket count is fixed at view creation; later
    merges must use the same n or keys would hash to the wrong
    partition. A tiny manifest inside the view dir records it."""
    meta = os.path.join(out_dir, _META_FILE)
    if os.path.isfile(meta):
        with open(meta) as fh:
            return int(fh.read().strip())
    return requested


def _write_meta(out_dir: str, num_buckets: int) -> None:
    with open(os.path.join(out_dir, _META_FILE), "w") as fh:
        fh.write(str(num_buckets))


def _has_parquet_data(out_dir: str) -> bool:
    for root, _dirs, files in os.walk(out_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def merge_batch_into(
    spark: SparkSession,
    batch_df: DataFrame,
    key: str,
    out_dir: str,
    num_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Merge one batch of keyed rows into the bucketed view at
    ``out_dir``, rewriting only the bucket partitions the batch
    touches. Public so batch jobs can maintain the same view layout
    the streaming sink does.

    Freshness is decided by DATA PRESENCE, never by the meta file
    alone: a crash between the first parquet commit and the meta write
    must not let a replayed batch re-initialize the view (dynamic
    overwrite would then replace touched buckets with just the batch's
    keys). The meta file is also written BEFORE the initial data
    commit, so an existing-data-without-meta state can only mean a
    foreign/legacy directory — refused loudly rather than mis-merged
    under a guessed bucket count."""
    if batch_df.isEmpty():
        return
    has_meta = os.path.isfile(os.path.join(out_dir, _META_FILE))
    # The walk short-circuits at the first parquet file (normally the
    # first bucket dir), so the per-batch cost is one small listing —
    # and it is REQUIRED in both directions: data-without-meta means a
    # foreign directory (refuse), meta-without-data means a crash
    # landed between the meta write and the first data commit (the
    # replayed batch must re-run the INITIAL load, not a merge — the
    # merge path would try to read a parquet-less directory and fail
    # permanently on every replay).
    has_data = os.path.isdir(out_dir) and _has_parquet_data(out_dir)
    if has_data and not has_meta:
        raise ValueError(
            f"{out_dir} contains parquet but no {_META_FILE} manifest — "
            "not a view this sink created; refusing to merge (the bucket "
            "count would be a guess and keys would land in wrong "
            "partitions)"
        )
    n = _bucket_count(out_dir, num_buckets)
    batch = batch_df.withColumn(
        _BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int")
    )
    if has_data:
        # Which buckets does this batch touch? At most n tiny rows —
        # the one deliberate driver-side collect, needed to prune the
        # base read down to the touched partitions.
        touched = [
            r[0] for r in batch.select(_BUCKET_COL).distinct().collect()
        ]
        base = spark.read.parquet(out_dir).filter(
            F.col(_BUCKET_COL).isin(touched)  # partition-pruned scan
        )
        merged = merge_upsert(base, batch.select(*base.columns), key)
    else:
        merged = batch
    # meta BEFORE data: a crash after this point replays into the
    # merge path (meta present, data maybe partial) and converges;
    # the reverse order had a window where replay saw data-without-
    # meta and re-initialized the view from one batch
    os.makedirs(out_dir, exist_ok=True)
    _write_meta(out_dir, n)
    (
        # cluster by bucket BEFORE the partitioned write (r16, guide
        # §6 small files): without it every upstream partition writes
        # a sliver into every touched bucket dir (tasks x buckets
        # files per batch — a drained st10 view held 251 files for 64
        # buckets), inflating the commit's rename count and every
        # later batch's base-read listing/open cost. With it each
        # touched bucket is exactly one file.
        merged.repartition(_BUCKET_COL)
        .write.mode("overwrite")
        # replace only the partitions present in `merged` (the touched
        # buckets); untouched partition dirs are left as-is
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(_BUCKET_COL)
        .parquet(out_dir)
    )


def materialized_view_sink(
    agg_stream: DataFrame,
    spark: SparkSession,
    key: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    num_buckets: int = DEFAULT_BUCKETS,
) -> StreamingQuery:
    """Maintain ``out_dir`` as the materialized result of a streaming
    aggregate. ``agg_stream`` must be a keyed aggregation; update output
    mode delivers only the keys whose values changed in each batch."""
    cp = checkpoint_dir or fresh_scratch("a3_mv_cp_")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into(spark, batch_df, key, out_dir, num_buckets)

    return (
        agg_stream.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )


def read_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the view without its internal bucket column."""
    return spark.read.parquet(out_dir).drop(_BUCKET_COL)


def event_type_counts_stream(events: DataFrame) -> DataFrame:
    """The demo aggregate: running count + value sum per event type."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("cnt"), half_up(F.sum("value"), 2).alias("sum_value")
    )


# ---- additive-delta sink: the shared replay protocol -----------------

_WM_FILE = "_last_batch"  # underscore-prefixed: ignored by readers


def read_watermark(out_dir: str, lineage: str | None = None) -> int:
    """Last committed batch id for this checkpoint LINEAGE, else -1.

    Batch ids are checkpoint-scoped: a new stream run with a FRESH
    checkpoint over an existing view restarts at batch 0, so an
    out_dir-scoped bare integer would make the sink silently skip
    genuinely new batches whose ids happen to fall under the old run's
    watermark (data loss, not dedup). The watermark therefore records
    WHICH checkpoint wrote it; a different lineage reads as -1 (nothing
    from *this* run is committed yet). A legacy single-line file (no
    lineage) is treated as FOREIGN when the caller names a lineage:
    its writer's checkpoint is unknown, and assuming "same run" would
    silently skip a fresh-lineage run's first batches (data loss) —
    the worse of the two errors. The cost is bounded: at most the
    legacy run's LAST batch can double-merge if the same checkpoint
    resumes, the already-documented plain-parquet residue. A
    lineage-agnostic read (lineage=None) still returns the bare id."""
    path = os.path.join(out_dir, _WM_FILE)
    if not os.path.isfile(path):
        return -1
    with open(path) as fh:
        lines = fh.read().strip().splitlines()
    if len(lines) == 1:  # legacy format: bare batch id, lineage unknown
        return int(lines[0]) if lineage is None else -1
    stored_lineage, batch_id = lines[0], int(lines[1])
    if lineage is not None and stored_lineage != lineage:
        return -1
    return batch_id


def write_watermark(
    out_dir: str, batch_id: int, lineage: str | None = None
) -> None:
    path = os.path.join(out_dir, _WM_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        if lineage is not None:
            fh.write(f"{lineage}\n{batch_id}")
        else:
            fh.write(str(batch_id))
    os.replace(tmp, path)  # atomic on POSIX


def delta_merge_sink(
    stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    *,
    key: str,
    delta_fn,
    combine_fn,
    checkpoint_dir: str,
) -> StreamingQuery:
    """foreachBatch sink maintaining ``out_dir`` as a keyed view whose
    combine is associative + commutative: per batch, ``delta_fn``
    turns the raw rows into keyed delta rows, the base view's TOUCHED
    keys are read back (broadcast semi-join prune; the bucket layout
    prunes the scan to their partitions), ``combine_fn`` re-aggregates
    base ∪ delta, and merge_batch_into rewrites only the touched
    bucket partitions.

    This function owns the REPLAY PROTOCOL for every additive sink
    (incremental dedup, chunk indexing, any future delta view), so the
    contract lives in exactly one place: foreachBatch is
    at-least-once and the combines are DELTAS, so a re-delivered batch
    must not re-merge — a batch-id watermark written atomically AFTER
    each data commit makes replays of committed batches no-ops. The
    watermark is scoped to the CHECKPOINT LINEAGE (batch ids restart at
    0 under a fresh checkpoint, so an unscoped watermark would silently
    drop a new run's first batches over a pre-existing view).
    Residual window: a crash BETWEEN the data commit and the watermark
    write replays one batch into an already-merged base and
    double-counts its deltas — the same plain-parquet residue
    merge_batch_into documents; closing it needs a transactional table
    format (Delta/Iceberg MERGE)."""
    lineage = os.path.realpath(checkpoint_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id <= read_watermark(out_dir, lineage):
            return  # replay of a committed batch: already merged
        # Materialize the delta ONCE per batch (r16, guide §2.4/§5):
        # it feeds the base read's broadcast semi-join build, the
        # combine union arm, and merge_batch_into's three actions
        # (isEmpty, touched-bucket collect, write) — and foreachBatch
        # frames re-execute their full upstream derivation (tokenize/
        # bucket/aggregate over the batch) on EVERY action, so the
        # per-batch delta chain ran 3-4x. localCheckpoint(eager=True)
        # runs it once and truncates the plan to the materialized
        # blocks; plain .persist() was measured and REJECTED (cached
        # plans lose AQE and the InMemoryRelation build cost more than
        # st10's cheap delta recompute: none 9.7-11.0 s vs persist
        # 13.5-19.8 s vs localCheckpoint 8.5-9.6 s; st13 12.5 -> 6.7 s).
        # Replay semantics unchanged: the blocks live only inside this
        # batch's merge — a lost executor just fails the batch and the
        # at-least-once replay re-derives the delta from the source.
        delta = delta_fn(batch_df).localCheckpoint(eager=True)
        frames = [delta]
        try:
            if _has_parquet_data(out_dir):
                base = (
                    spark.read.parquet(out_dir)
                    .join(F.broadcast(delta.select(key)), key, "left_semi")
                    .select(*delta.columns)
                )
                # the combined view rows are re-read by every downstream
                # action too — same one-materialization treatment
                merged = combine_fn(
                    base.unionByName(delta)
                ).localCheckpoint(eager=True)
                frames.append(merged)
            else:
                merged = delta
            merge_batch_into(spark, merged, key, out_dir)
            write_watermark(out_dir, batch_id, lineage)
        finally:
            # free the blocks now, not when the JVM's GC collects
            # the frames: storage then holds one batch at a time
            for df in frames:
                free_checkpoint(df)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
