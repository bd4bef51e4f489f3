"""Structured Streaming tests (SURVEY §2.9) — all Trigger.AvailableNow
over the finite driver parquet, so results are deterministic and equal
their batch twins (SURVEY §7: never wall clock in tests)."""

from __future__ import annotations

import glob
import os

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.sources import csv_io
from a3_fp_bigdata_spark.streaming import batch_windows, ingest
from tests.conftest import SF0001


def test_stream_tumbling_equals_batch_twin(spark):
    streamed = ingest.run_available_now(
        ingest.windowed_counts(ingest.stream_events(spark, SF0001))
    )
    batch = batch_windows.tumbling_counts(table(spark, SF0001, "events"))
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_dedup_keys_equal_distinct(spark):
    streamed = ingest.run_available_now(
        ingest.dedup_keys(ingest.stream_events(spark, SF0001)),
        output_mode="append",
    )
    batch = table(spark, SF0001, "events").select("user_id", "event_type").distinct()
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_micro_batch_csv_sink_roundtrip(spark, tmp_path):
    """The consumer loop analog (ST2-ST5): stream -> foreachBatch CSV
    batches -> scan back; no row lost or duplicated (exactly-once via
    checkpoint)."""
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    ev = ingest.stream_events(spark, SF0001)
    q = ingest.micro_batch_csv_sink(ev, out, cp)
    q.awaitTermination()
    assert not q.isActive  # ST4: drained and stopped

    batch_dirs = glob.glob(os.path.join(out, "batch=*"))
    assert batch_dirs  # at least one non-empty micro-batch written
    back = csv_io.read_csv_dir(spark, os.path.join(out, "batch=*"), TESTDATA["events"])
    n_src = table(spark, SF0001, "events").count()
    assert back.count() == n_src
    # restart with the same checkpoint: no new input -> no new batches
    q2 = ingest.micro_batch_csv_sink(ingest.stream_events(spark, SF0001), out, cp)
    q2.awaitTermination()
    back2 = csv_io.read_csv_dir(
        spark, os.path.join(out, "batch=*"), TESTDATA["events"]
    )
    assert back2.count() == n_src


def test_stream_enrichment_equals_batch(spark):
    """ST6: the same enrichment expression on stream and batch frames
    yields identical rows."""
    streamed = ingest.run_available_now(
        ingest.enrich_events(ingest.stream_events(spark, SF0001)).select(
            "event_id", "weight"
        ),
        output_mode="append",
    )
    batch = ingest.enrich_events(table(spark, SF0001, "events")).select(
        "event_id", "weight"
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_rate_source_is_streaming(spark):
    """ST1: the rate source builds a streaming frame with the documented
    (timestamp, value) schema — no broker needed."""
    src = ingest.rate_source(spark, rows_per_second=10)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == ["timestamp", "value"]


def test_materialized_view_incremental_merge(spark, tmp_path):
    """Streaming materialized view: the parquet table equals the batch
    aggregate after the stream drains, and a restart with the same
    checkpoint leaves it unchanged (idempotent merge)."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.functions.rounding import half_up
    from a3_fp_bigdata_spark.streaming import materialized as MV

    out = str(tmp_path / "mv")
    cp = str(tmp_path / "cp")
    agg = MV.event_type_counts_stream(ingest.stream_events(spark, SF0001))
    q = MV.materialized_view_sink(agg, spark, "event_type", out, cp)
    q.awaitTermination()

    got = {
        r.event_type: (r.cnt, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_type: (r.cnt, r.sum_value)
        for r in table(spark, SF0001, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == want

    q2 = MV.materialized_view_sink(
        MV.event_type_counts_stream(ingest.stream_events(spark, SF0001)),
        spark, "event_type", out, cp,
    )
    q2.awaitTermination()
    got2 = {
        r.event_type: (r.cnt, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == want


def _parquet_files(d):
    """{path: mtime_ns} for every parquet data file under d."""
    state = {}
    for root, _, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                state[p] = os.stat(p).st_mtime_ns
    return state


def test_materialized_view_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucketed view's merge is partition-scoped: a batch touching
    one key rewrites only that key's bucket partition — every other
    partition's files survive byte-identical (same paths, same mtimes),
    unlike a full overwrite which would replace them all."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.streaming import materialized as MV

    out = str(tmp_path / "mv")
    b1 = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40)], "k string, v long"
    )
    MV.merge_batch_into(spark, b1, "k", out, num_buckets=8)
    part_dirs = [
        d for d in os.listdir(out) if d.startswith(MV._BUCKET_COL + "=")
    ]
    assert len(part_dirs) > 2  # 40 keys spread over several buckets
    before = _parquet_files(out)

    b2 = spark.createDataFrame([("k3", 999)], "k string, v long")
    MV.merge_batch_into(spark, b2, "k", out, num_buckets=8)
    after = _parquet_files(out)

    touched_bucket = (
        b2.select(
            F.pmod(F.xxhash64(F.col("k")), F.lit(8)).cast("int").alias("b")
        ).first().b
    )
    touched_prefix = os.path.join(out, f"{MV._BUCKET_COL}={touched_bucket}")
    for p, mtime in before.items():
        if not p.startswith(touched_prefix):
            # untouched partitions: identical file set, never rewritten
            assert after.get(p) == mtime
    # the touched bucket WAS rewritten
    assert not any(
        p.startswith(touched_prefix) and after.get(p) == m
        for p, m in before.items()
    )

    got = {
        (r.k, r.v) for r in MV.read_view(spark, out).collect()
    }
    want = {(f"k{i}", i) for i in range(40) if i != 3} | {("k3", 999)}
    assert got == want


def test_materialized_view_refuses_foreign_dir(spark, tmp_path):
    """A directory with parquet but no bucket manifest is NOT a view
    this sink created — merging under a guessed bucket count would put
    keys in wrong partitions, so it must refuse loudly. (Also pins the
    meta-first crash ordering: data-without-meta can only be foreign.)"""
    import pytest

    from a3_fp_bigdata_spark.streaming import materialized as MV

    foreign = str(tmp_path / "foreign")
    spark.createDataFrame([("a", 1)], "k string, v long").write.parquet(
        foreign
    )
    batch = spark.createDataFrame([("b", 2)], "k string, v long")
    with pytest.raises(ValueError, match="manifest"):
        MV.merge_batch_into(spark, batch, "k", foreign, num_buckets=4)


def test_incremental_dedup_stream_combines_across_batches(spark, tmp_path):
    """st10's machinery on crafted input: duplicates that SPAN
    micro-batches must combine (min keeper id, summed copies) exactly
    as if the whole corpus arrived at once — batch boundaries must be
    invisible in the drained fingerprint table."""
    from a3_fp_bigdata_spark.streaming import incremental_dedup as ID

    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    # batch 1: docs 1,2 ("aa" twice); batch 2: docs 3 ("aa" again), 4
    b1 = spark.createDataFrame([(1, "aa"), (2, "aa")], "doc_id long, text string")
    b2 = spark.createDataFrame([(3, "aa"), (4, "bb")], "doc_id long, text string")
    b1.coalesce(1).write.parquet(stage + "/f1")
    b2.coalesce(1).write.parquet(stage + "/f2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = ID.incremental_dedup_sink(stream, spark, out)
    q.awaitTermination()
    got = {
        r.fp: (r.keeper_id, r.n_copies)
        for r in spark.read.parquet(out).collect()
    }
    aa = {v for k, v in got.items()}
    assert (1, 3) in aa  # "aa": keeper 1, three copies across batches
    assert (4, 1) in aa  # "bb": unique
    assert len(got) == 2


def test_materialized_view_meta_only_dir_reinitializes(spark, tmp_path):
    """Crash window: meta is written BEFORE the first data commit, so a
    crash in between leaves a meta-only directory. Replay must treat
    that as the initial load (merge path would read a parquet-less dir
    and error permanently) — and must honour the recorded bucket count,
    not the caller's."""
    from a3_fp_bigdata_spark.streaming import materialized as MV

    out = str(tmp_path / "mv")
    os.makedirs(out)
    MV._write_meta(out, 8)  # simulate: meta committed, data commit lost

    batch = spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], "k string, v long"
    )
    MV.merge_batch_into(spark, batch, "k", out, num_buckets=4)  # replay
    got = {(r.k, r.v) for r in MV.read_view(spark, out).collect()}
    assert got == {(f"k{i}", i) for i in range(10)}
    # layout used the manifest's count (8), not the caller's 4
    assert MV._bucket_count(out, 4) == 8
    # and a follow-up merge converges normally
    MV.merge_batch_into(
        spark,
        spark.createDataFrame([("k3", 999)], "k string, v long"),
        "k",
        out,
        num_buckets=4,
    )
    got = {(r.k, r.v) for r in MV.read_view(spark, out).collect()}
    assert got == {(f"k{i}", i) for i in range(10) if i != 3} | {("k3", 999)}


def test_delta_merge_sink_replay_and_fresh_lineage(spark, tmp_path):
    """The shared additive-sink replay guard (materialized.
    delta_merge_sink) in both directions:

    1. WITHIN a checkpoint lineage, re-delivered batch ids are no-ops
       (restarting the drained query on the SAME checkpoint leaves the
       view bit-identical — without the guard, at-least-once
       foreachBatch would double every count on a crash replay).
    2. ACROSS lineages, a NEW stream run with a FRESH checkpoint over
       an existing view must MERGE, not skip: batch ids restart at 0
       under a new checkpoint, and the round-5 out_dir-scoped
       watermark silently dropped those genuinely new batches
       (data loss). The watermark is now lineage-scoped."""
    from a3_fp_bigdata_spark.streaming import materialized as MV
    from a3_fp_bigdata_spark.streaming.chunk_index import chunk_index_sink
    from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle

    stage1 = str(tmp_path / "stage1")
    stage2 = str(tmp_path / "stage2")
    out = str(tmp_path / "view")
    # deterministic disjoint split (limit() without order is not):
    # ~2/3 of docs arrive in run 1, the rest in run 2's fresh lineage
    from pyspark.sql import functions as F

    docs = table(spark, SF0001, "documents").orderBy("doc_id").limit(60)
    split = F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0
    docs.filter(~split).repartition(2, "doc_id").write.mode(
        "overwrite"
    ).parquet(stage1)
    docs.filter(split).repartition(2, "doc_id").write.mode(
        "overwrite"
    ).parquet(stage2)

    def run_once(stage: str, cp: str):
        stream = (
            spark.readStream.schema(TESTDATA["documents"])
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        with streaming_shuffle(spark, 4):
            q = chunk_index_sink(stream, spark, out, checkpoint_dir=cp)
            q.awaitTermination()

    def snapshot():
        return sorted(
            map(tuple, spark.read.parquet(out).select(
                "bucket", "n_chunks", "n_docs").collect())
        )

    cp1 = str(tmp_path / "cp1")
    run_once(stage1, cp1)
    first = snapshot()
    lineage1 = os.path.realpath(cp1)
    assert first and MV.read_watermark(out, lineage1) >= 0
    # (1) same lineage, restart on the drained checkpoint: no-op
    run_once(stage1, cp1)
    assert snapshot() == first
    # a foreign lineage must see "nothing committed yet"
    assert MV.read_watermark(out, "/elsewhere/cp") == -1
    # (2) fresh checkpoint delivering NEW data (batch ids restart at 0,
    # all <= the recorded watermark): must merge, not skip — the view
    # must converge to the ONE-SHOT answer over both runs' staged docs
    run_once(stage2, str(tmp_path / "cp2"))
    after = snapshot()
    assert sum(r[1] for r in after) > sum(r[1] for r in first)
    from a3_fp_bigdata_spark.streaming.chunk_index import bucket_delta_frame

    expected = sorted(
        map(tuple, bucket_delta_frame(
            spark.read.parquet(stage1, stage2)
        ).select("bucket", "n_chunks", "n_docs").collect())
    )
    assert after == expected


def test_delta_merge_sink_frees_each_batch_blocks(spark, tmp_path):
    """Every micro-batch's localCheckpoint blocks are dropped at the end
    of its merge: across a six-batch availableNow stream, no batch
    starts (and the stream does not end) with an earlier batch's blocks
    still in storage, whenever the JVM's GC runs."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.streaming import materialized as MV

    stage, out = str(tmp_path / "stage"), str(tmp_path / "view")
    rows = spark.range(60).selectExpr("id % 7 AS k", "id AS n")
    rows.repartition(6).write.parquet(stage)
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {i.id() for i in sc.getRDDStorageInfo()}

    before = stored()
    leftover = []

    def delta_fn(batch):
        leftover.append(stored() - before)
        return batch.groupBy("k").agg(F.sum("n").alias("n"))

    def combine_fn(df):
        return df.groupBy("k").agg(F.sum("n").alias("n"))

    stream = (
        spark.readStream.schema("k long, n long")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    MV.delta_merge_sink(
        stream, spark, out, key="k", delta_fn=delta_fn, combine_fn=combine_fn,
        checkpoint_dir=str(tmp_path / "cp"),
    ).awaitTermination()
    leftover.append(stored() - before)
    assert leftover == [set()] * 7  # six batch starts and the end
    got = sorted(map(tuple, MV.read_view(spark, out).select("k", "n").collect()))
    want = sorted(map(tuple, combine_fn(rows).select("k", "n").collect()))
    assert got == want


def test_watermark_lineage_scoping(tmp_path):
    """read/write_watermark unit semantics: lineage match returns the
    id, mismatch returns -1, and a legacy bare-int file reads as
    FOREIGN (-1) for any named lineage — its writer's checkpoint is
    unknown, and assuming "same run" would skip a fresh run's first
    batches (data loss, worse than the bounded double-merge the -1
    trades it for)."""
    from a3_fp_bigdata_spark.streaming import materialized as MV

    out = str(tmp_path)
    assert MV.read_watermark(out, "cpA") == -1
    MV.write_watermark(out, 7, "cpA")
    assert MV.read_watermark(out, "cpA") == 7
    assert MV.read_watermark(out, "cpB") == -1
    assert MV.read_watermark(out) == 7  # lineage-agnostic read
    MV.write_watermark(out, 3)  # legacy writer (no lineage)
    assert MV.read_watermark(out, "cpB") == -1  # legacy = foreign
    assert MV.read_watermark(out) == 3  # agnostic read keeps old sense


def test_chunk_index_exact_mode_counts_redelivered_doc_once(spark, tmp_path):
    """The n_docs additivity contract (chunk_index_sink docstring): a
    doc_id delivered in TWO micro-batches is over-counted
    by the additive per-bucket sink, and counted exactly once by the
    exact membership sink (docs_arrive_whole=False). Ground truth is
    the one-shot derivation over the staged rows — same per-row
    chunking both paths, so n_chunks must also agree exactly."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import (
        chunk_bucket_frame,
        sliding_chunk_frame,
    )
    from a3_fp_bigdata_spark.streaming.chunk_index import (
        chunk_index_sink,
        occupancy_from_membership,
    )
    from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle

    base = (
        table(spark, SF0001, "documents")
        .orderBy("doc_id")
        .limit(21)
        .collect()
    )
    # doc 9999's row is RE-DELIVERED: the identical row lands in both
    # micro-batches (the at-least-once Kafka scenario the API contract
    # names) — its chunks hit the same buckets twice, so the additive
    # per-bucket distinct count sees "one doc" in each batch and sums
    # to two
    text = " ".join(r.text for r in base[:2])
    mk = lambda txt: (9999, txt, "en", "synthetic", len(txt))
    rows_a = [tuple(r) for r in base[:10]] + [mk(text)]
    rows_b = [tuple(r) for r in base[10:]] + [mk(text)]
    stage = str(tmp_path / "stage")
    for i, rows in enumerate((rows_a, rows_b)):
        spark.createDataFrame(rows, TESTDATA["documents"]).coalesce(
            1
        ).write.mode("append").parquet(stage)

    def run(out: str, cp: str, whole: bool):
        stream = (
            spark.readStream.schema(TESTDATA["documents"])
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        with streaming_shuffle(spark, 4):
            q = chunk_index_sink(
                stream, spark, out, checkpoint_dir=cp,
                docs_arrive_whole=whole,
            )
            q.awaitTermination()

    expected = {
        r.bucket: (r.n_chunks, r.n_docs)
        for r in chunk_bucket_frame(
            sliding_chunk_frame(spark.read.parquet(stage))
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .collect()
    }

    exact_out = str(tmp_path / "exact")
    run(exact_out, str(tmp_path / "cp_exact"), whole=False)
    exact = {
        r.bucket: (r.n_chunks, r.n_docs)
        for r in occupancy_from_membership(spark, exact_out).collect()
    }
    assert exact == expected

    additive_out = str(tmp_path / "additive")
    run(additive_out, str(tmp_path / "cp_add"), whole=True)
    additive = {
        r.bucket: (r.n_chunks, r.n_docs)
        for r in spark.read.parquet(additive_out)
        .select("bucket", "n_chunks", "n_docs")
        .collect()
    }
    # additive mode: n_chunks still exact, but the split doc's buckets
    # over-count n_docs — the documented hazard the parameter names
    assert {b: v[0] for b, v in additive.items()} == {
        b: v[0] for b, v in expected.items()
    }
    assert any(
        additive[b][1] > expected[b][1] for b in expected
    ), "split doc did not over-count — test premise broken"


def test_hot_key_stream_state_stays_bounded_and_bounds_hold(spark, tmp_path):
    """st13's machinery on crafted input: a token holding ~40% of the
    stream, split across micro-batches, must survive both truncations
    with its MG bounds intact, and the materialized view must never
    hold more than HH_SHARDS x HH_K counter rows (the whole point of
    the sketch)."""
    from a3_fp_bigdata_spark.operators.aggregates import HH_K, HH_SHARDS
    from a3_fp_bigdata_spark.streaming import hot_keys as HK

    vocab = [f"w{i}" for i in range(25)]
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    for b in range(3):  # 3 micro-batches, hot token in every one
        rows = []
        for i in range(20):
            doc_id = b * 20 + i
            filler = " ".join(
                vocab[(doc_id * 3 + j) % len(vocab)] for j in range(12)
            )
            text = ("hot " * 8 + filler) if i % 2 == 0 else filler
            rows.append((doc_id, text))
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(f"{stage}/f{b}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = HK.hot_key_sink(stream, spark, out)
    q.awaitTermination()
    state = spark.read.parquet(out).select("shard", "tok", "c").collect()
    assert len(state) <= HH_SHARDS * HH_K  # K-counter invariant held
    per_shard = {}
    for r in state:
        per_shard.setdefault(r["shard"], []).append(r)
    assert all(len(v) <= HH_K for v in per_shard.values())
    # level-2 merge + bound check against exact counts
    import collections

    exact = collections.Counter()
    n = 0
    for b in range(3):
        for r in spark.read.parquet(f"{stage}/f{b}").collect():
            toks = r["text"].split()
            exact.update(toks)
            n += len(toks)
    merged = collections.Counter()
    for r in state:
        merged[r["tok"]] += r["c"]
    top = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    dec2 = top[HH_K][1] if len(top) > HH_K else 0
    final = {t: s - dec2 for t, s in top[:HH_K] if s - dec2 > 0}
    assert "hot" in final  # ~40% share MUST survive any batching
    for tok, est in final.items():
        assert est <= exact[tok]
        assert (exact[tok] - est) * (HH_K + 1) <= 2 * n


# --- st14: streaming embedding-drift histogram -------------------------------


def test_st14_streaming_converges_to_batch_dq4(spark):
    """The drained streaming view must equal dq4's batch answer
    EXACTLY — same cells, same counts, same shares, same verdicts
    (exact counts, so convergence is equality, not a bound)."""
    from tests.conftest import SF0001
    from a3_fp_bigdata_spark.operators.quality_checks import (
        dq4_embedding_drift,
    )
    from a3_fp_bigdata_spark.streaming.drift import (
        st14_stream_embedding_drift,
    )

    stream_rows = {
        r["cell"]: (r["n_old"], r["n_new"], r["share_old_bp"],
                    r["share_new_bp"], r["drifted"])
        for r in st14_stream_embedding_drift(spark, SF0001).collect()
    }
    batch_rows = {
        r["cell"]: (r["n_old"], r["n_new"], r["share_old_bp"],
                    r["share_new_bp"], r["drifted"])
        for r in dq4_embedding_drift(spark, SF0001).collect()
    }
    assert stream_rows == batch_rows
    assert stream_rows  # non-vacuous
