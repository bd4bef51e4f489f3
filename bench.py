"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Times EVERY registered query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], forcing full execution through the noop sink
(count() would let Catalyst prune the compute we want to measure). The
headline metric (`value`) stays the sum over the declared HEADLINE set
so it is comparable round-over-round; `queries` carries per-query wall
seconds for the whole registry so regressions are visible per query.

Set SPARK_GRAFT_BENCH_HEADLINE_ONLY=1 to time only the headline set.

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from a3_fp_bigdata_spark import registry
from a3_fp_bigdata_spark.session import local_session

#: Headline set: one per operator family, covering scan/filter/top-k,
#: broadcast + multiway joins, wide aggs, windows, sessionization,
#: event-time windows, text analysis, dedup (exact + near-dup), and
#: vector similarity. Keep stable across rounds — `value` sums these.
#: REGISTRY names (tier-free): the driver-facing spelling is resolved
#: per run via registry.exposure_name(), so a CANONICAL rotation can
#: never orphan a headline entry (r8 review: the old hard-coded z_
#: spellings needed a hand edit every time a member changed tiers).
HEADLINE_BASE = [
    "a8_tpch_q1",
    "t1_topk_multikey",
    "j1_left_outer_broadcast",
    "j5_multiway_join",
    "w1_topk_per_group",
    "w5_sessionize",
    "st1_tumbling_window",
    "st5_stream_tumbling",
    "f1_extract_keywords",
    "tx2_quality_score",
    "d1_exact_dedup",
    "d3_ngram_jaccard",
    "d4_minhash_lsh",
    "sim1_cosine_topk",
    "sim2_lsh_ann",
    "mm2_image_features",
    "src2_json_roundtrip",
    "srv_top_apps",
]
#: resolved at import for this run; same 18 queries every round, whatever
#: tier each is currently exposed under
HEADLINE = [registry.exposure_name(n) for n in HEADLINE_BASE]

#: Pinned calibration reference for the NORMALIZED headline: the
#: calibrate() wall time measured on this box idle (round-8 daytime
#: captures read ~0.52 s; the same code has read ~0.75 s on a loaded
#: night window). `value_norm = value * CALIB_REF / mean(calib)`
#: re-expresses the headline as "seconds on the 0.52-calib box", so the
#: round-over-round table is self-describing without per-round prose
#: about host-floor drift. RAW `value` stays the honest primary metric;
#: the norm is the cross-round comparator. NEVER retune CALIB_REF — its
#: entire worth is being the same constant in every round's artifact.
CALIB_REF = 0.52


def force(df) -> None:
    """Execute the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


#: Outlier re-probe: a shared box shows transient contention spikes
#: (round 9: d6_gemm_audit 63.8 s in the sweep vs 16.1 s steady-state,
#: annotated by hand in README prose). Instead of prose, the sweep
#: re-times any row that reads > OUTLIER_RATIO x its value in the
#: previous committed sweep (and above OUTLIER_FLOOR_S, so sub-second
#: noise never triggers a re-run) and records BOTH readings in the
#: JSON — `queries` keeps the honest first reading, `reprobes` carries
#: {name: {first, reprobe}} so the artifact self-describes contention.
OUTLIER_RATIO = 3.0
OUTLIER_FLOOR_S = 2.0

#: Headline rows get a TIGHTER re-probe gate, against the prior
#: committed DRIVER artifact (BENCH_r{N}.json) rather than the prior
#: full sweep: they are the round-over-round metric, so a contention
#: spike like r10's st5 (3.34 s driver vs 1.87 s steady) should
#: self-describe inside BENCH_r{N}.json instead of needing a verdict
#: footnote. The honest first reading still feeds `value`; the reprobe
#: only annotates.
HEADLINE_OUTLIER_RATIO = 2.0


def _canon(name: str) -> str:
    """Tier-free spelling: rotation moves names between the canonical
    and z_ tiers round to round; comparisons must ignore the prefix."""
    return name[2:] if name.startswith("z_") else name


def prev_sweep_timings() -> dict[str, float]:
    """Per-query walls from the previous committed full sweep, keyed by
    tier-free name. $SPARK_GRAFT_BENCH_PREV overrides; default is the
    numerically-latest bench_full_r*.json next to this file."""
    import glob
    import re

    ref = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if ref is None:
        here = os.path.dirname(os.path.abspath(__file__))
        def rank(p):
            m = re.search(r"bench_full_r(\d+)([a-z]?)\.json$", p)
            return (int(m.group(1)), m.group(2)) if m else (-1, "")
        cands = sorted(glob.glob(os.path.join(here, "bench_full_r*.json")), key=rank)
        ref = cands[-1] if cands else None
    if not ref or not os.path.exists(ref):
        return {}
    try:
        with open(ref) as fh:
            qs = json.load(fh).get("queries") or {}
        return {_canon(k): float(v) for k, v in qs.items()}
    except Exception:  # noqa: BLE001 — a corrupt ref disables reprobe, never the bench
        return {}


def prev_driver_timings() -> dict[str, float]:
    """Per-query headline walls from the previous committed DRIVER
    bench (the numerically-latest BENCH_r*.json next to this file),
    keyed by tier-free name. These are the round-over-round readings
    the headline re-probe gates against."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def rank(p):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    cands = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), key=rank)
    if not cands:
        return {}
    try:
        with open(cands[-1]) as fh:
            qs = json.load(fh).get("queries") or {}
        return {_canon(k): float(v) for k, v in qs.items()}
    except Exception:  # noqa: BLE001 — a corrupt ref disables reprobe, never the bench
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = local_session(app_name="a3-bench")
    # driver-facing (two-tier) names so BENCH keys line up with the
    # CORRECTNESS artifact; HEADLINE names are all canonical (stable)
    queries = registry.exposed_queries()

    headline = [n for n in HEADLINE if n in queries]
    missing_headline = [n for n in HEADLINE if n not in queries]
    if os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_ONLY"):
        to_time = list(headline)
    else:
        # headline first (their timings are the round-over-round metric,
        # so they should not inherit another query's codegen/cache noise),
        # then the rest of the registry alphabetically
        to_time = headline + [n for n in sorted(queries) if n not in headline]

    # Hot-cache benchmark: warm every table's scan path (OS page cache,
    # parquet footers, codegen of the read schema) so timings measure
    # query compute, not first-touch IO. One noop pass per table.
    # FAULT ISOLATION EVERYWHERE BELOW: one broken query must never zero
    # the whole bench (round 3: a single AnalysisException crashed the
    # harness at this level and the round lost its driver bench, rc=1).
    # Failures are recorded per query in `errors`; the headline total is
    # computed over survivors and the process still exits 0.
    from a3_fp_bigdata_spark.data import TABLES, table

    errors: dict[str, str] = {}
    for n in missing_headline:
        # a HEADLINE spelling that fell out of the exposed names (e.g.
        # an unrecorded CANONICAL rotation) must be LOUD, not silently
        # shrink the round-over-round sum
        errors[f"headline_missing:{n}"] = (
            "HEADLINE name not in exposed queries — update bench.py "
            "after the rotation"
        )

    def try_force(df_fn, label: str) -> float | None:
        t0 = time.perf_counter()
        try:
            force(df_fn())
            return round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — isolate ANY query fault
            errors[label] = f"{type(e).__name__}: {str(e)[:300]}"
            return None

    for name in TABLES:
        try_force(lambda n=name: table(spark, sf_dir, n), f"warm:{name}")
    # sim4 is build-once/probe-many: materialize its index AND run one
    # probe during warmup, so the timed number is the steady-state
    # partition-pruned probe — the per-query cost at scale — not the
    # one-time index build, partition-dir listing, or probe codegen
    try:
        from a3_fp_bigdata_spark.operators.similarity import warm_sim4_index

        warm_sim4_index(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        errors["warm:sim4_index"] = f"{type(e).__name__}: {str(e)[:300]}"
    # warm-up lookups go through exposure_name(): the CANONICAL window
    # rotates between rounds, so a hard-coded two-tier spelling goes
    # stale (round 7: "z_sim10_incremental_index" had rotated to the
    # canonical tier, the warm-up KeyError'd silently into `errors`,
    # and sim10's timed row ran cold)
    _sim4 = registry.exposure_name("sim4_bucketed_ann")
    try_force(lambda: queries[_sim4](spark, sf_dir), "warm:sim4")
    # sim10 is the same build-once/probe-many shape (base index +
    # appended batch, a stage keyed on the embeddings table): warm the
    # build so its timed row is the steady-state partition-pruned
    # probe, like sim4's
    _sim10 = registry.exposure_name("sim10_incremental_index")
    try_force(lambda: queries[_sim10](spark, sf_dir), "warm:sim10")
    # src8 is layout-once/box-query-many: warm the z-ordered rewrite so
    # the timed row is the footer-pruned scan (the per-query cost at
    # scale), not the one-time OPTIMIZE-style layout job
    try:
        from a3_fp_bigdata_spark.sources.queries import warm_zorder_layout

        warm_zorder_layout(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        errors["warm:src8_zorder"] = f"{type(e).__name__}: {str(e)[:300]}"
    # warm the Python worker pool + Arrow runner path: the FIRST Arrow
    # stage of a session forks every worker (pandas/pyarrow imports ×
    # ncpus) and JITs the JVM-side ArrowPythonRunner — an ~8-10 s
    # one-time tax that would otherwise land on whichever mapInPandas
    # query happens to run first (measured: d6 9.1 s cold vs 1.6 s
    # steady-state, identical plan). Production executors hold warm
    # reused workers, so steady-state is the honest per-query number —
    # same argument as the hot-cache table warmup above.
    def _warm_python_pool():
        def _ident(it):
            for batch in it:
                yield batch

        return (
            spark.range(0, 32 * 64, 1, 32)
            .mapInPandas(_ident, "id long")
        )

    try_force(_warm_python_pool, "warm:python_pool")
    # warm with the same cheap query every round (NOT headline[0]: that
    # would warm the heaviest headline query right before timing it
    # first, biasing the round-over-round total downward)
    warm = "t1_topk_multikey" if "t1_topk_multikey" in queries else headline[0]
    try_force(lambda: queries[warm](spark, sf_dir), f"warm:{warm}")

    # Host-speed calibration: a fixed synthetic workload (data-independent,
    # deterministic shape) timed at INTERLEAVED points through the sweep.
    # The shared box's speed swings ~1.5x between windows (same code
    # measured 19.1 s and 31.9 s hours apart), and r12 showed bookend-only
    # probes are blind to MID-RUN contention (a +17% headline regression
    # with identical bookends, bracketed by same-code sweeps 14% apart —
    # VERDICT r12 watch #1). Probes now run before the sweep, right after
    # the headline block, every CALIB_EVERY queries, and after the sweep;
    # value_norm divides by the mean of ALL probes (same definition —
    # "mean host speed during the sweep" — just a better estimator), and
    # value_norm_seg corrects each headline query by its LOCAL bounding
    # probes, so a contention spike confined to one segment no longer
    # smears across the whole normalization. Not used to adjust `value` —
    # raw wall time stays the honest headline.
    CALIB_EVERY = 25

    def calibrate() -> float:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        force(
            spark.range(50_000_000)
            .groupBy((F.col("id") % 1000).alias("k"))
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        )
        return round(time.perf_counter() - t0, 3)

    calib_points: list[tuple[int, float]] = []  # (queries timed so far, s)

    def probe_calib(pos: int) -> None:
        calib_points.append((pos, calibrate()))

    # JIT-warm the calib workload itself before the first probe: the
    # cold first run reads 0.66-0.85 s vs ~0.55 s steady on an idle box
    # (codegen + whole-stage JIT, not host load), which would overstate
    # slowness at exactly the headline segment and make value_norm_seg
    # overcorrect the headline downward.
    calibrate()
    probe_calib(0)

    timings: dict[str, float] = {}
    qpos: dict[str, int] = {}
    # median-of-3 headline protocol (r14, VERDICT r13 ask #3): five
    # same-code r13 sweeps spanned 16.8-22.1 s raw, so a SINGLE pass
    # cannot gate round-over-round regressions. After the first
    # headline pass (whose sum stays `value`, the series comparable
    # back to r01), the headline block runs twice more and
    # `value_med3` sums the per-query MEDIANS — one contention spike
    # in any single pass can no longer move the gate. Passes 2-3 run
    # inside the same session, so session memos (sim4's index, ml
    # fits, the SA cache) stay warm: value_med3 is the SESSION-STEADY
    # headline, a protocol of its own — compare it to other
    # value_med3 readings only, never to pre-r14 `value`.
    HEADLINE_PASSES = 3
    headline_passes: dict[str, list[float]] = {n: [] for n in headline}
    for i, name in enumerate(to_time):
        qpos[name] = i
        t = try_force(lambda n=name: queries[n](spark, sf_dir), name)
        if t is not None:
            timings[name] = t
            if name in headline_passes:
                headline_passes[name].append(t)
        try:
            registry.release_pinned()  # drop per-query persisted frames
        except Exception as e:  # noqa: BLE001
            errors[f"release:{name}"] = f"{type(e).__name__}: {str(e)[:120]}"
        done = i + 1
        if done == len(headline):
            probe_calib(done)
            for p in range(2, HEADLINE_PASSES + 1):
                for hname in headline:
                    tp = try_force(
                        lambda n=hname: queries[n](spark, sf_dir),
                        f"{hname}#pass{p}",
                    )
                    if tp is not None:
                        headline_passes[hname].append(tp)
                    try:
                        registry.release_pinned()
                    except Exception as e:  # noqa: BLE001
                        # recorded like the pass-1 loop's failures — a
                        # persist leak surfacing only in the warm
                        # passes would otherwise silently inflate
                        # later med3 timings (ADVICE r14)
                        errors[f"release:{hname}#pass{p}"] = (
                            f"{type(e).__name__}: {str(e)[:120]}"
                        )
                probe_calib(done)
        elif done < len(to_time) and done % CALIB_EVERY == 0:
            probe_calib(done)

    probe_calib(len(to_time))
    calib_before = calib_points[0][1]
    calib_after = calib_points[-1][1]

    def local_calib(pos: int) -> float:
        """Mean of the probes bounding ``pos``'s segment."""
        before = [c for p, c in calib_points if p <= pos]
        after = [c for p, c in calib_points if p > pos]
        lo = before[-1] if before else calib_points[0][1]
        hi = after[0] if after else calib_points[-1][1]
        return (lo + hi) / 2

    # outlier re-probe AFTER the sweep (the contention window that
    # inflated the first reading has usually passed by then)
    prev = prev_sweep_timings()
    reprobes: dict[str, dict[str, float]] = {}
    for name, t in sorted(timings.items()):
        base = prev.get(_canon(name))
        if base is None or t <= OUTLIER_FLOOR_S or t <= OUTLIER_RATIO * base:
            continue
        t2 = try_force(lambda n=name: queries[n](spark, sf_dir), f"reprobe:{name}")
        try:
            registry.release_pinned()
        except Exception:  # noqa: BLE001
            pass
        if t2 is not None:
            reprobes[name] = {"first": t, "reprobe": t2, "prev_sweep": base}

    # headline re-probe: tighter gate, against the prior committed
    # DRIVER reading (see HEADLINE_OUTLIER_RATIO)
    prev_driver = prev_driver_timings()
    for name in headline:
        t = timings.get(name)
        base = prev_driver.get(_canon(name))
        if (
            t is None
            or name in reprobes
            or base is None
            or t <= OUTLIER_FLOOR_S
            or t <= HEADLINE_OUTLIER_RATIO * base
        ):
            continue
        t2 = try_force(
            lambda n=name: queries[n](spark, sf_dir), f"reprobe:{name}"
        )
        try:
            registry.release_pinned()
        except Exception:  # noqa: BLE001
            pass
        if t2 is not None:
            reprobes[name] = {"first": t, "reprobe": t2, "prev_driver": base}

    headline_timed = [n for n in headline if n in timings]
    # A partial sum is NOT comparable round-over-round (a crashed
    # headline query would read as a speedup): null the headline value
    # and mark the line when any headline query is missing.
    partial = bool(missing_headline) or len(headline_timed) < len(HEADLINE)
    total = (
        None
        if partial
        else round(sum(timings[n] for n in headline_timed), 3)
    )
    # calib-normalized headline (see CALIB_REF): host-speed-corrected
    # seconds, computable from values already on the line — emitted so
    # no reader has to do the division or know which runs were on an
    # idle box. The mean now covers ALL interleaved probes (r13);
    # value_norm_seg additionally corrects each headline query by its
    # LOCAL segment's probes — when the two disagree materially, the
    # sweep hit localized contention and value_norm_seg is the better
    # cross-round comparator.
    calib_mean = sum(c for _, c in calib_points) / len(calib_points)
    value_norm = (
        round(total * CALIB_REF / calib_mean, 3)
        if total is not None and calib_mean > 0
        else None
    )
    value_norm_seg = (
        round(
            sum(
                timings[n] * CALIB_REF / local_calib(qpos[n])
                for n in headline_timed
            ),
            3,
        )
        if total is not None
        else None
    )
    # median-of-3 headline (the r14 regression gate — see the protocol
    # note above the sweep loop): per-query medians over the three
    # passes; null if any headline query missed a pass.
    from statistics import median

    med3_ok = not partial and all(
        len(headline_passes[n]) == HEADLINE_PASSES for n in headline
    )
    value_med3 = (
        round(sum(median(headline_passes[n]) for n in headline), 3)
        if med3_ok
        else None
    )
    value_med3_norm = (
        round(value_med3 * CALIB_REF / calib_mean, 3)
        if value_med3 is not None and calib_mean > 0
        else None
    )
    # Full per-query map goes to a committed FILE; the printed line must
    # stay small (headline-only) — a 117-entry JSON line overflowed the
    # round driver's tail capture in round 2 and the round lost its
    # headline number ("parsed": null).
    full_out = os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT", "bench_full.json")
    with open(full_out, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "value_norm": value_norm,
                "value_norm_seg": value_norm_seg,
                "value_med3": value_med3,
                "value_med3_norm": value_med3_norm,
                "calib_ref": CALIB_REF,
                "unit": "sec",
                "queries": timings,
                "headline_passes": headline_passes,
                "reprobes": reprobes,
                "errors": errors,
                "headline": headline,
                "headline_timed": headline_timed,
                "partial": partial,
                "sf": sf,
                "calib_points": calib_points,
                "env": {
                    "pyspark": __import__("pyspark").__version__,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                    "calib_before_s": calib_before,
                    "calib_after_s": calib_after,
                },
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    line_dict = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "value_norm": value_norm,
        "value_norm_seg": value_norm_seg,
        "value_med3": value_med3,
        "value_med3_norm": value_med3_norm,
        "calib_ref": CALIB_REF,
        "unit": "sec",
        "queries": {n: timings[n] for n in headline_timed},
        "sf": sf,
        "calib": [calib_before, calib_after],
        "calib_probes": [c for _, c in calib_points],
    }
    if partial:
        line_dict["partial"] = sorted(
            set(HEADLINE) - set(headline_timed)
        )
    if reprobes:
        # names only; both readings live in full_out
        line_dict["reprobed"] = sorted(reprobes)[:20]
    if errors:
        # names only on the printed line (messages live in full_out) so
        # a long error can't overflow the driver's tail capture
        line_dict["errors"] = sorted(errors)[:20]
    line = json.dumps(line_dict)
    if len(line) >= 2000:  # never crash the bench over line size —
        # degrade to the headline metric alone (full data is in full_out)
        line = json.dumps(
            {
                k: line_dict[k]
                for k in ("metric", "value", "value_norm", "unit", "sf")
            }
        )
    print(line)
    if errors:
        # LOUD, on stderr, so a swallowed per-query fault (stale warm
        # name, crashed query) can never again skew a timed row without
        # anyone noticing. Exit code stays 0 on purpose: a non-zero rc
        # would cost the round its whole bench artifact (the round-3
        # failure mode) — the banner plus the `errors` key on the
        # printed line are the alarm.
        print(
            "BENCH ERRORS ({}): {}".format(
                len(errors),
                "; ".join(f"{k} -> {v}" for k, v in sorted(errors.items())),
            ),
            file=sys.stderr,
        )
    spark.stop()


if __name__ == "__main__":
    main()
