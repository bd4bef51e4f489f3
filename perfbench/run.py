"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs one workload (serve, pipeline or corpus; see workloads.py) in this
process from the root of a source checkout: it generates the workload's
tables from ``--seed``, then starts a ``local[N]`` session with N the
usable cores and sets the workload up (``setup_s`` is process start to
ready, less the table generation). It runs the workload's operations
for ``--seconds`` (see ``Workload.measure``), checks every output
against DuckDB, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` turns on job groups and Spark's event log and reports the
per-layer metrics instead. All files go to a scratch directory under
the checkout, removed at exit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_BASE = os.path.join(ROOT, ".bench_scratch")
#: Heap of the session's JVM; the package's default (8g) is sized for a
#: 32-core box.
JVM_HEAP = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "pipeline", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _percentile(values: list[float], pct: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' high-water resident set sizes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def _tree_cpu_s(jvm: int) -> float:
    """User plus system CPU time so far of this process, the JVM and the
    JVM's children (the Python workers). Time the hypervisor gave to
    other guests is not in it."""
    ticks = 0
    for pid in (os.getpid(), jvm, *_descendants(jvm)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # a worker that has exited
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pid_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait for all of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(map(_pid_alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in workers:
        if _pid_alive(pid):
            os.kill(pid, 9)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session_conf(scratch: str, log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData"
        ),
    }
    if log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{log_dir}",
        })
    return conf


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "bench"):
    """Run one workload; returns (result line, facts about the run)."""
    scratch = os.path.join(SCRATCH_BASE, f"{workload}-{os.getpid()}")
    log_dir = os.path.join(scratch, "eventlog") if trace else None
    os.makedirs(os.path.join(scratch, "tmp"))
    if log_dir:
        os.makedirs(log_dir)
    # the package, PySpark and the JVM all write temp files; keep them in
    # the run's scratch
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    tempfile.tempdir = None

    from a3_fp_bigdata_spark.session import local_session
    from pyspark import SparkContext
    from spans import Tracer
    from workloads import WORKLOADS

    # the benchmark's own preparation (seeded tables, request
    # parameters) is left out of setup_s
    t0 = time.perf_counter()
    wl = WORKLOADS[workload](scratch, seed, size)
    harness_s = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    spark = local_session(cores=cores, extra_conf=_session_conf(scratch, log_dir))
    try:
        wl.setup(spark, Tracer(spark, enabled=trace))
        setup_s = time.perf_counter() - _T0 - harness_s

        jvm = SparkContext._gateway.proc.pid
        steal0, total0 = _cpu_ticks()
        cpu0 = _tree_cpu_s(jvm)
        walls, elapsed = wl.measure(seconds)
        cpu1 = _tree_cpu_s(jvm)
        steal1, total1 = _cpu_ticks()
        # this Python process and its JVM, read before the DuckDB checks
        # run in this process
        peak_rss_mb = _peak_rss_mb([os.getpid(), jvm])
        failed = wl.verify()
        metrics = {
            "setup_s": setup_s,
            "p50_ms": statistics.median(walls) * 1000,
            "p90_ms": _percentile(walls, 90) * 1000,
            "ops_per_s": len(walls) / elapsed,
            "cpu_ms_per_op": (cpu1 - cpu0) / len(walls) * 1000,
        }
        attempted = len(walls)
        if trace:
            extra_attempted, extra_failed = wl.breakdown()
            attempted += extra_attempted
            failed += extra_failed
            spark.stop()  # completes the event log
            layers = wl.layers(wl.tracer.fold_event_log(log_dir))
            metrics = {**layers, **{f"traced.{k}": v for k, v in metrics.items()}}
    finally:
        _stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_BASE)
        except OSError:
            pass

    spec = _benchmark_spec()["per_layer" if trace else "end_to_end"]
    unknown = set(metrics) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not call reports 0
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
            for m in spec
        },
    }
    # CPU time the hypervisor gave to other guests during the timed
    # operations: a noisy host shows here, not in the program
    steal_share = (steal1 - steal0) / max(1, total1 - total0)
    # end-to-end figures BENCHMARK.json leaves out (see README.md)
    p90 = _percentile(walls, 90)
    facts = {
        "workload": workload, "seed": seed, "cores": cores,
        "samples": len(walls), "samples_above_p90": sum(w > p90 for w in walls),
        "host_steal_share": round(steal_share, 4),
        **wl.info(),
        "harness_s": {"value": harness_s, "unit": "s"},
        "run_s": {"value": elapsed, "unit": "s"},
        "p95_ms": {"value": _percentile(walls, 95) * 1000, "unit": "ms"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "1"},
    }
    return result, facts


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import a3_fp_bigdata_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"run.py: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    result, facts = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(facts))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
