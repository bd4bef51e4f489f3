"""Per-batch attribution for st10's streaming wall time (VERDICT r6 #1).

The committed full-sweep artifact showed z_st10 climbing (11.8 s r4 →
16.6 s r5 → 18.4 s r6) while idle re-runs measured 11-15 s. This tool
replaces that narrative with data: it re-runs st10's exact pipeline
(stage sf documents as 4 parquet files → stream 1 file per micro-batch
through the bucketed delta-merge sink → read the drained view) with

- the StreamingQuery's own ``recentProgress`` per-batch timings
  (triggerExecution / addBatch / getBatch / latestOffset /
  queryPlanning / commitOffsets / walCommit, all ms),
- ``stage_metrics()`` shuffle deltas around the whole run, and
- wall-clock splits for the three phases (stage write, stream drain,
  final view read).

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/st10_breakdown.py

Prints a markdown table (pasteable into SCALE.md) and one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from a3_fp_bigdata_spark.data import fresh_scratch, table
from a3_fp_bigdata_spark.metrics import stage_metrics
from a3_fp_bigdata_spark.schemas import TESTDATA
from a3_fp_bigdata_spark.session import local_session
from a3_fp_bigdata_spark.streaming.incremental_dedup import (
    STAGE_FILES,
    incremental_dedup_sink,
)
from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle

DURATION_KEYS = (
    "triggerExecution",
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "commitOffsets",
    "walCommit",
)


def run_once(spark, sf_dir: str) -> dict:
    stage = fresh_scratch("a3_st10brk_stage_")
    out = fresh_scratch("a3_st10brk_out_")

    t0 = time.monotonic()
    docs = table(spark, sf_dir, "documents")
    docs.repartition(STAGE_FILES, "doc_id").write.mode("overwrite").parquet(
        stage
    )
    t_staged = time.monotonic()

    stream = (
        spark.readStream.schema(TESTDATA["documents"])
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    with stage_metrics(spark) as m:
        with streaming_shuffle(spark, 8):
            q = incremental_dedup_sink(stream, spark, out)
            q.awaitTermination()
            progress = [json.loads(p.json) for p in q.recentProgress]
    t_drained = time.monotonic()

    n_rows = spark.read.parquet(out).count()
    t_read = time.monotonic()

    batches = []
    for p in progress:
        d = p.get("durationMs", {})
        batches.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                **{k: d.get(k, 0) for k in DURATION_KEYS},
            }
        )

    return {
        "sf_dir": sf_dir,
        "wall_stage_write_s": round(t_staged - t0, 3),
        "wall_stream_drain_s": round(t_drained - t_staged, 3),
        "wall_view_read_s": round(t_read - t_drained, 3),
        "wall_total_s": round(t_read - t0, 3),
        "n_batches": len(batches),
        "view_rows": n_rows,
        "shuffle_write_mb": round(m.shuffle_write_bytes / 2**20, 2),
        "shuffle_read_mb": round(m.shuffle_read_bytes / 2**20, 2),
        "batches": batches,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = local_session(app_name="a3-st10-breakdown")
    spark.sparkContext.setLogLevel("ERROR")

    runs = [run_once(spark, sf_dir) for _ in range(2)]  # cold, warm

    for label, r in zip(("cold", "warm"), runs):
        print(f"\n### st10 breakdown ({label}, {r['sf_dir']})\n")
        print(
            f"wall: stage-write {r['wall_stage_write_s']} s + "
            f"stream-drain {r['wall_stream_drain_s']} s + "
            f"view-read {r['wall_view_read_s']} s = {r['wall_total_s']} s; "
            f"{r['n_batches']} batches, {r['view_rows']} view rows, "
            f"shuffle {r['shuffle_write_mb']} MiB written / "
            f"{r['shuffle_read_mb']} MiB read\n"
        )
        hdr = ["batch", "rows"] + list(DURATION_KEYS)
        print("| " + " | ".join(hdr) + " |")
        print("|" + "---|" * len(hdr))
        for b in r["batches"]:
            cells = [str(b["batchId"]), str(b["numInputRows"])] + [
                str(b[k]) for k in DURATION_KEYS
            ]
            print("| " + " | ".join(cells) + " |")

    # machine-readable line (without the verbose batch tables twice)
    print()
    print(json.dumps({"cold": runs[0], "warm": runs[1]}))
    spark.stop()


if __name__ == "__main__":
    main()
