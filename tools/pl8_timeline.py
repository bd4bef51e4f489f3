"""One cold pl8 pass, job by job: which branch and which step ran each
Spark job, when, and which stages started Python workers.

    python tools/pl8_timeline.py [--seed 4]

Generates the ``corpus`` benchmark's tables at the benchmark's size
(perfbench/gen.py, ``SIZES["bench"]["corpus"]``), starts a session configured as perfbench/run.py
configures it (same JVM heap and local[N], Spark's event log on), and
collects ``pl8_release_manifest`` once, cold. While the pass runs:

- the d17 branch (``materialize_d17_verdict``, on pl8's worker thread)
  sets a thread-local job property, so its jobs are told apart from the
  calling thread's ("main");
- d12, d16, tx9, d18, pl6, d17's k-means fit, the table fingerprint and
  every parquet write tag the jobs they start with a step property.
  Jobs under no step are pl8's own (the survivor pin, the mixture
  rates, the final collect).

Then it folds the event log and prints the job count and job span
(seconds from the start of the pass) of each branch and of each step
in it, and every stage whose accumulables report Python worker time or
whose RDDs include a PythonRDD. The branch that ends last is the
pass's critical path. All files go to a temporary directory, removed
at exit.

It reuses two private helpers of perfbench/run.py, ``_session_conf``
(the session's conf) and ``_stop_jvm`` (stopping the session, which
completes the event log), so a change to either must keep this tool
working; tests/test_packing.py runs it end to end.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import ExitStack
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

BRANCH = "pl8.timeline.branch"
STEP = "pl8.timeline.step"


def _tagged(spark, key: str, value: str, fn):
    """``fn`` with the job property ``key`` set to ``value`` on the
    calling thread for the length of the call."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        sc = spark.sparkContext
        old = sc.getLocalProperty(key)
        sc.setLocalProperty(key, value)
        try:
            return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty(key, old)

    return call


def _tags() -> list[tuple[object, str, str, str]]:
    """(owner, attribute, property, value) of every wrapped call."""
    from pyspark.sql.readwriter import DataFrameWriter

    from a3_fp_bigdata_spark.operators import (
        dedup,
        packing,
        similarity,
        text_analysis,
    )

    return [
        (similarity, "materialize_d17_verdict", BRANCH, "d17"),
        (dedup, "d12_dedup_clusters", STEP, "d12"),
        (dedup, "d16_span_cut", STEP, "d16"),
        (text_analysis, "tx9_decontaminate", STEP, "tx9"),
        (dedup, "d18_fuzzy_decontaminate", STEP, "d18"),
        (packing, "pl6_forget_ledger", STEP, "pl6"),
        (similarity, "_fit_semdedup_cells", STEP, "kmeans_fit"),
        (similarity, "table_fingerprint", STEP, "fingerprint"),
        (DataFrameWriter, "parquet", STEP, "scratch_write"),
    ]


def _fold(log_dir: str, t0_ms: float) -> tuple[dict, list]:
    """(jobs by id, Python stages) from the completed event log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "branch": props.get(BRANCH, "main"),
                    "step": props.get(STEP, "-"),
                    "start": (ev["Submission Time"] - t0_ms) / 1000,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = (
                    ev["Completion Time"] - t0_ms
                ) / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rdds = [r["Name"] for r in info.get("RDD Info", [])]
                times = {
                    a["Name"]: int(a["Value"])
                    for a in info.get("Accumulables", [])
                    if a.get("Name", "").startswith("time to")
                    and "Python workers" in a["Name"]
                }
                if times or "PythonRDD" in rdds:
                    job = jobs.get(stage_job.get(info["Stage ID"]), {})
                    python.append({
                        "stage": info["Stage ID"],
                        "name": info.get("Stage Name", ""),
                        "branch": job.get("branch"),
                        "step": job.get("step"),
                        "python_rdd": "PythonRDD" in rdds,
                        "worker_ms": times,
                    })
    return {k: v for k, v in jobs.items() if v["start"] >= 0}, python


def _report(jobs: dict, python: list, wall_s: float) -> None:
    print(f"pass wall: {wall_s:.2f} s, {len(jobs)} jobs")
    print("\njob spans per branch, then per step (s from the pass start):")
    for key in sorted({(j["branch"], "") for j in jobs.values()}
                      | {(j["branch"], j["step"]) for j in jobs.values()}):
        mine = [
            j for j in jobs.values()
            if j["branch"] == key[0] and key[1] in ("", j["step"])
        ]
        first = min(j["start"] for j in mine)
        last = max(j.get("end", j["start"]) for j in mine)
        print(f"  {key[0]:6s} {key[1] or '(all)':14s} {len(mine):4d} jobs"
              f"  {first:7.2f} -> {last:7.2f}")
    print(f"\nstages with Python workers: {len(python)}")
    for s in python:
        print(f"  stage {s['stage']} [{s['branch']}/{s['step']}] "
              f"python_rdd={s['python_rdd']} {s['worker_ms']} {s['name']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=4)
    args = ap.parse_args(argv)

    scratch = tempfile.mkdtemp(prefix="pl8_timeline_")
    log_dir = os.path.join(scratch, "eventlog")
    os.makedirs(log_dir)
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    tempfile.tempdir = None
    try:
        import gen
        import run
        from workloads import SIZES, Corpus

        from a3_fp_bigdata_spark.operators.packing import pl8_release_manifest
        from a3_fp_bigdata_spark.session import local_session

        sf = SIZES["bench"]["corpus"]
        data_dir = gen.make_tables(
            os.path.join(scratch, "tables"), args.seed, sf, Corpus.tables
        )
        spark = local_session(
            cores=len(os.sched_getaffinity(0)),
            extra_conf=run._session_conf(scratch, log_dir),
        )
        try:
            with ExitStack() as stack:
                for owner, attr, key, value in _tags():
                    fn = _tagged(spark, key, value, getattr(owner, attr))
                    stack.enter_context(mock.patch.object(owner, attr, fn))
                t0 = time.time()
                rows = pl8_release_manifest(spark, data_dir).collect()
                wall_s = time.time() - t0
        finally:
            run._stop_jvm(spark)  # stopping completes the event log
        jobs, python = _fold(log_dir, t0 * 1000)
        print(f"seed {args.seed}, sf {sf}: {len(rows)} release rows")
        _report(jobs, python, wall_s)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
