"""Cost of each serving route when its answer is not memoized: what a
request costs under traffic that never repeats a key.

    python3 tools/serve_miss_path.py --seed 1 --rounds 30

Sets up perfbench's ``serve`` workload (its seeded sf0.1 tables, session
settings and warm-up), then sends ``--rounds`` rounds of one request per
route from one client twice, timing the second pass. Each request gets a
fresh key from the workload's request generator, and the app's answer
memo (where the checkout has one) is emptied before it. So every request runs its whole query,
including the similar route's cluster listing. Then comes one pass of
``--rounds`` similar requests for vec_ids not sent before, made after
every label's listing has been requested once (``similar_listed``): what
a stream of distinct vec_ids sees once the ten labels have come up.

Prints one JSON line per route: median wall ms, CPU ms per request (this
process and the JVM), Spark jobs per request, generated classes per
request (Spark's ``CodegenMetrics`` source-size count: each is Java
source Janino compiled and HotSpot then JIT-compiles), JIT ms per
request (HotSpot's ``CompilationMXBean`` total compile time), and how
many bodies differ from the DuckDB oracle. Both JVM counters are read
through py4j from the session's own JVM. Runs against the checkout it
sits in, so copy it into another checkout to compare two commits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import oracle  # noqa: E402
import run as bench  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import ROUTE_WEIGHTS, Serve  # noqa: E402


def _cpu_s(pids: list[int]) -> float:
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def measure(seed: int, rounds: int) -> list[dict]:
    scratch = os.path.join(bench.SCRATCH_BASE, f"serve-miss-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    tempfile.tempdir = None

    from a3_fp_bigdata_spark.session import local_session
    from pyspark import SparkContext

    wl = Serve(scratch, seed, "bench")
    cores = len(os.sched_getaffinity(0))
    spark = local_session(cores=cores, extra_conf=bench._session_conf(scratch, None))
    try:
        wl.setup(spark, Tracer(spark, enabled=False))
        app, sc = wl.app, spark.sparkContext
        memo = app.extensions.get("serving_answers")
        client = app.test_client()
        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        jvm = sc._jvm
        sources = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        samples: dict[str, list[tuple[float, float, int, int, int, bool]]] = {}

        def send(name: str, route: str, url: str, p: dict, expect: int) -> None:
            group = f"miss-{name}-{sum(map(len, samples.values()))}"
            sc.setJobGroup(group, url)
            classes0, jit0 = sources.getCount(), jit.getTotalCompilationTime()
            cpu0, t0 = _cpu_s(pids), time.perf_counter()
            resp = client.get(url)
            wall, cpu = time.perf_counter() - t0, _cpu_s(pids) - cpu0
            classes = sources.getCount() - classes0
            jit_ms = jit.getTotalCompilationTime() - jit0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            ok = oracle.check_response(
                con, route, p, resp.status_code, resp.get_json(silent=True), expect)
            samples.setdefault(name, []).append((wall, cpu, jobs, classes, jit_ms, ok))

        con = oracle.connect(wl.data_dir, wl.tables)
        routes = list(ROUTE_WEIGHTS)
        # the first pass is untimed: it leaves the JVM as warm as a run
        # with no memo, which sent every warm-up request to Spark
        for timed in (False, True):
            for i in range(rounds):
                for route in routes[i % len(routes):] + routes[:i % len(routes)]:
                    url, p, expect = wl.requests.make(route, False)
                    if memo is not None:
                        memo.cache_clear()
                    if timed:
                        send(route, route, url, p, expect)
                    else:
                        client.get(url)

        route = "recommend_similar_app_by_name"
        if memo is not None:
            memo.cache_clear()
        for k in wl.requests.labels:
            client.get(f"/apps_in_cluster/{k}")
        sent: set[str] = set()
        while len(sent) < rounds:
            url, p, expect = wl.requests.make(route, False)
            if url not in sent:
                sent.add(url)
                send("similar_listed", route, url, p, expect)
        con.close()
    finally:
        bench._stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(bench.SCRATCH_BASE)
        except OSError:  # another run's scratch is still there
            pass

    out = []
    for name, s in samples.items():
        wall, cpu, jobs, classes, jit_ms, ok = zip(*s)
        out.append({
            "route": name,
            "n": len(s),
            "wall_ms_median": round(statistics.median(wall) * 1000, 1),
            "cpu_ms_per_req": round(sum(cpu) / len(s) * 1000, 1),
            "jobs_per_req": round(sum(jobs) / len(s), 2),
            "classes_per_req": round(sum(classes) / len(s), 2),
            "jit_ms_per_req": round(sum(jit_ms) / len(s), 1),
            "failed": ok.count(False),
        })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, default=30)
    args = ap.parse_args(argv)
    for line in measure(args.seed, args.rounds):
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
