"""Scale-stress the dedup ladder + pl1 on a skewed, high-dup corpus.

Evidence for the 100x claims (SCALE.md): the sf* testdata carries a
~5% near-dup rate and uniform lang/source keys — nothing like a web
crawl. This harness generates a corpus with

- 3x sf0.1's row count (30k docs; regenerable, never committed),
- a >=30% near-dup member rate (every production web-corpus figure
  lands in 20-50%), clusters of size 2-6,
- hot keys: ~60% of docs in one lang, ~50% in one source,

then runs the ladder (d1 exact, d4 MinHash+LSH, d12 clusters,
d13/d14 keepers, pl1 manifest) with DROP_BROADCAST_MAX_ROWS forced to
0 so every drop-set anti-join takes the FALLBACK (shuffled) path —
the path a real 100 TB corpus with billions of dropped rows must
survive, where the old forced-broadcast hint would OOM. Per stage it
records wall seconds plus shuffle read/write bytes and peak executor
memory from Spark's own status REST API.

Further rungs stress the rest of the extension surface:
- work-vs-scale: the dedup ladder's core (d1/d4/d12) at 1x vs 10x of
  the corpus with the dup RATE held constant (replica-tagged union
  amplification) — the work-proportional-to-collisions evidence;
- mixing (pk5/pk6) on the same 60%-hot-lang corpus — pk5 must pull
  the hot lang back to its renormalized target share;
- curation scoring (tx12/tx13/pk7/pl2) on the skewed corpus;
- time-series (w8/w9 gap-fill, w5/j8/j9) on a generated event stream
  where ONE user holds 40% of all events and the tail is sparse
  enough that the dense grid is ~25x the observed rows;
- ANN (d6 blocked GEMM, sim2, sim4 build+probe) on generated
  clustered embeddings with one hot cell holding 40% of the vectors
  and the probe vector inside it — the worst-bucket serving case —
  plus a 1x-vs-10x-vector probe-scaling rung (brute force grows with
  the corpus, the pruned probe only with its bucket's occupancy).

Usage: python tools/scale_stress.py [> SCALE.md]
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 20250814
N_UNIQUE = 20_000
DUP_FRACTION = 0.25  # fraction of unique docs that seed a dup cluster
CORPUS_DIR = "/tmp/scale_skew_corpus"

#: ~200-word letters-only vocab: large enough that unrelated docs share
#: few 3-gram shingles (the testdata's ~30-word vocab would make EVERY
#: doc pair a shingle collision — a different stress), alpha-only so
#: tx2's alpha-purity component scores like real prose (digit-bearing
#: tokens drove every doc under pl1's 0.5 quality floor — the first
#: draft of this harness produced an empty manifest).
_SYL = ["ba", "co", "den", "fi", "gu", "ha", "ki", "lo", "mer", "nu",
        "pra", "qui", "ros", "sta", "tel", "ur", "vec", "wi", "xe", "zam"]
VOCAB = [a + b for a in _SYL for b in _SYL][:200]
#: English function words sprinkled at ~12% so the stopword component
#: behaves like prose (and tx1/tx2 see a realistic distribution).
FUNCTION_WORDS = ["the", "a", "and", "of", "to", "in", "is", "on"]
LANGS = ["en"] * 12 + ["zh", "de", "fr", "es", "ru", "ja", "pt", "it"]
SOURCES = ["src_hot"] * 10 + [f"src{i}" for i in range(10)]


def build_corpus() -> tuple[str, dict]:
    rng = random.Random(SEED)
    rows = []
    doc_id = 0
    n_members = 0
    for _ in range(N_UNIQUE):
        # ~15% deliberately short docs so pl1's quality floor has real
        # work to do (len component drags them under 0.5)
        n_words = rng.randint(8, 18) if rng.random() < 0.15 else rng.randint(40, 60)
        words = [
            rng.choice(FUNCTION_WORDS) if rng.random() < 0.12 else rng.choice(VOCAB)
            for _ in range(n_words)
        ]
        lang = rng.choice(LANGS)
        source = rng.choice(SOURCES)
        text = " ".join(words)
        rows.append((doc_id, text, lang, source, len(text)))
        doc_id += 1
        if rng.random() < DUP_FRACTION:
            # a near-dup cluster: 1-5 mutated copies (so cluster sizes
            # run 2-6 and the member rate lands >= 30% of the corpus)
            n_members += 1  # the seed doc is a member too
            for _ in range(rng.randint(1, 5)):
                mutated = list(words)
                for _ in range(rng.randint(1, 4)):  # light mutation
                    mutated[rng.randrange(len(mutated))] = rng.choice(VOCAB)
                text_m = " ".join(mutated)
                rows.append((doc_id, text_m, lang, source, len(text_m)))
                doc_id += 1
                n_members += 1
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(CORPUS_DIR, exist_ok=True)
    cols = list(zip(*rows))
    t = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(t, f"{CORPUS_DIR}/documents.parquet")
    stats = {
        "rows": len(rows),
        "dup_members_min": n_members,
        "member_rate_min": round(n_members / len(rows), 3),
        "hot_lang_share": round(sum(1 for r in rows if r[2] == "en") / len(rows), 3),
        "hot_source_share": round(
            sum(1 for r in rows if r[3] == "src_hot") / len(rows), 3
        ),
    }
    return CORPUS_DIR, stats


#: Embedding stress parameters: 3x sf0.1's vector count, 64-dim like
#: the testdata. Vectors are clustered Gaussians with a deliberately
#: HOT cluster (~40% of vectors — the skewed IVF/LSH cell a web corpus
#: produces), cluster tightness tuned so intra-cluster cosine sits
#: near d6's 0.4 threshold (the all-pairs output stays bounded but
#: non-trivial), plus planted near-identical pairs (cos ~0.99).
N_VECS = 6_000
EMB_DIM = 64
EMB_CLUSTERS = 16
HOT_CLUSTER_SHARE = 0.4
CENTER_SCALE = 0.45  # intra-cluster cosine ~ c^2/(c^2+1) ~ 0.17
PLANT_DUP_FRACTION = 0.05


def build_embeddings(
    n_vecs: int = N_VECS, out_dir: str = CORPUS_DIR
) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    centers = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # hot cell: cluster 0 takes HOT_CLUSTER_SHARE of all vectors
    p = np.full(EMB_CLUSTERS, (1 - HOT_CLUSTER_SHARE) / (EMB_CLUSTERS - 1))
    p[0] = HOT_CLUSTER_SHARE
    labels = rng.choice(EMB_CLUSTERS, size=n_vecs, p=p)
    vecs = CENTER_SCALE * centers[labels] + rng.standard_normal(
        (n_vecs, EMB_DIM)
    )
    # vec 0 probes the HOT cell so sim2/sim4 read the worst bucket —
    # pinned BEFORE dup planting so a plant can never copy (and then
    # lose) a pre-rewrite vec 0
    labels[0] = 0
    vecs[0] = CENTER_SCALE * centers[0] + rng.standard_normal(EMB_DIM)
    # planted near-identical pairs: overwrite the tail with perturbed
    # copies of earlier vectors (cosine ~0.995 >> the 0.4 threshold)
    n_plant = int(n_vecs * PLANT_DUP_FRACTION)
    src = rng.choice(n_vecs - n_plant, size=n_plant, replace=False)
    vecs[-n_plant:] = vecs[src] + 0.1 * rng.standard_normal(
        (n_plant, EMB_DIM)
    )
    labels[-n_plant:] = labels[src]

    t = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )
    pq.write_table(t, f"{out_dir}/embeddings.parquet")
    return {
        "n_vecs": n_vecs,
        "hot_cluster_share": HOT_CLUSTER_SHARE,
        "planted_dups": n_plant,
    }


#: Skewed event stream for the time-series rung: 3x sf0.1's row count,
#: ONE user holding HOT_USER_SHARE of all events (the service account /
#: bot every real event stream has), the tail sparse enough that w8/w9
#: fill mostly GAPS (~40 events per user across a ~720-hour span).
N_EVENTS = 300_000
N_EVENT_USERS = 4_500
HOT_USER_SHARE = 0.4
EVENT_SPAN_S = 30 * 24 * 3600


def build_events() -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED + 1)
    hot = rng.random(N_EVENTS) < HOT_USER_SHARE
    users = rng.integers(1, N_EVENT_USERS, size=N_EVENTS)
    users[hot] = 0
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + (rng.random(N_EVENTS) * EVENT_SPAN_S * 1e6).astype(
        "timedelta64[us]"
    )
    etypes = rng.choice(
        np.array(["click", "purchase", "error"]),
        size=N_EVENTS,
        p=[0.7, 0.2, 0.1],
    )
    values = np.round(rng.random(N_EVENTS) * 200, 2)
    t = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype("int64"), pa.int64()),
            "event_type": pa.array(etypes.astype(object), pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * N_EVENTS, pa.string()),
        }
    )
    pq.write_table(t, f"{CORPUS_DIR}/events.parquet")
    return {
        "n_events": N_EVENTS,
        "n_users": N_EVENT_USERS,
        "hot_user_share": HOT_USER_SHARE,
    }


def _shuffle_totals(spark) -> tuple[int, int]:
    from a3_fp_bigdata_spark.metrics import shuffle_totals

    return shuffle_totals(spark)


def _peak_mem(spark) -> int:
    from a3_fp_bigdata_spark.metrics import peak_jvm_memory

    return peak_jvm_memory(spark)


def amplify_corpus(spark, factor: int) -> tuple[str, int]:
    """Union-amplify the stress corpus by ``factor`` with the dup RATE
    held constant: every replica's words get a replica-specific
    suffix, so within-replica near-dup clusters survive verbatim while
    replicas share no 3-gram shingles (no cross-replica collisions).
    factor x rows => factor x clusters at the SAME member rate — if
    pair work is proportional to collisions (the engine's design
    claim), d1/d4/d12 cost scales ~linearly in the factor; an
    all-pairs design would go quadratic. Returns (dir, n_rows)."""
    from pyspark.sql import functions as F

    out = f"{CORPUS_DIR}_x{factor}"
    docs = spark.read.parquet(f"{CORPUS_DIR}/documents.parquet")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    tagged = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(
                w, F.lit("r"), F.col("rep").cast("string")
            ),
        ),
        " ",
    )
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n)).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(tagged)
            .alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    n_rows = spark.read.parquet(f"{out}/documents.parquet").count()
    return out, n_rows


def microbatch_overhead_probe(spark, src_dir: str, nfiles: int = 40) -> dict:
    """Isolate st13's residual per-batch growth (r13, VERDICT ask #6):
    run the SAME staged corpus through (a) a NO-OP foreachBatch sink —
    pure micro-batch scheduling + source/checkpoint listing — and (b)
    the real hot_key_sink merge, collecting PER-BATCH triggerExecution
    durations from the streaming progress log. Early-vs-late batch
    means separate "accumulates with batch count" (listing growth)
    from "flat per-batch work" (bounded merge)."""
    import json as _json

    from a3_fp_bigdata_spark.data import fresh_scratch
    from a3_fp_bigdata_spark.data import table as _table
    from a3_fp_bigdata_spark.schemas import TESTDATA
    from a3_fp_bigdata_spark.streaming.hot_keys import hot_key_sink
    from a3_fp_bigdata_spark.streaming.ingest import streaming_shuffle

    stage = fresh_scratch("a3_probe_stage_")
    _table(spark, src_dir, "documents").repartition(
        nfiles, "doc_id"
    ).write.mode("overwrite").parquet(stage)

    def run(make_sink) -> tuple[float, list[float]]:
        stream = (
            spark.readStream.schema(TESTDATA["documents"])
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        t0 = time.perf_counter()
        with streaming_shuffle(spark, 8):
            q = make_sink(stream)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        durs = []
        for p in q.recentProgress:
            d = _json.loads(p.json) if hasattr(p, "json") else p
            if d.get("numInputRows", 0) > 0:
                durs.append(d["durationMs"]["triggerExecution"] / 1000.0)
        return wall, durs

    noop_wall, noop_durs = run(
        lambda s: s.writeStream.foreachBatch(
            lambda df, bid: df.count()
        )
        .option("checkpointLocation", fresh_scratch("a3_probe_cp_"))
        .trigger(availableNow=True)
        .start()
    )
    merge_wall, merge_durs = run(
        lambda s: hot_key_sink(
            s,
            spark,
            fresh_scratch("a3_probe_out_"),
            checkpoint_dir=fresh_scratch("a3_probe_cp2_"),
        )
    )

    def halves(durs: list[float]) -> tuple[float, float]:
        k = max(len(durs) // 4, 1)
        return sum(durs[:k]) / k, sum(durs[-k:]) / k

    return {
        "nfiles": nfiles,
        "noop": (noop_wall, *halves(noop_durs), len(noop_durs)),
        "merge": (merge_wall, *halves(merge_durs), len(merge_durs)),
    }


def main() -> None:
    sf_dir, stats = build_corpus()
    emb_stats = build_embeddings()
    ev_stats = build_events()

    from a3_fp_bigdata_spark import registry
    from a3_fp_bigdata_spark.operators import dedup as D
    from a3_fp_bigdata_spark.session import build_session

    # the ENGINE's own session builder (AQE, Arrow, 8g driver JVM) —
    # measuring the stress rungs under a bare 1g-default session is a
    # harness artifact, not an engine property: the 10x amplified d12
    # (iterative localCheckpoint over 349k rows) OOMs the stock 1g JVM
    # while the engine's documented session runs it comfortably.
    spark = build_session(
        app_name="scale-stress",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=32,
        # the shuffle/memory columns come from the status REST API
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # FORCE the fallback: every drop set is "too big to broadcast" —
    # the shape a web-scale corpus presents. The run must complete and
    # keep per-stage shuffle volume sane; the hint path is already
    # covered everywhere else.
    D.DROP_BROADCAST_MAX_ROWS = 0

    qs = registry.all_queries()
    ladder = [
        "d1_exact_dedup",
        "d4_minhash_lsh",
        "d10_incremental_dedup",  # nightly exact rung (batch vs corpus)
        "d11_incremental_lsh",  # nightly near-dup probe (staged buckets)
        "d12_dedup_clusters",
        "d13_dedup_corpus",
        "d14_quality_keeper",
        "pl1_training_manifest",
        "pl4_span_clean_manifest",  # span-cut composition (r9)
        # the full release chain (r10): pl4's stages + d17 SemDeDup
        # keeper over the skewed stress embeddings + decontamination +
        # pl6 purge + survivor-derived pk5 mixture + pack + per-shard
        # xor attestation — the composed flagship under the same
        # forced-fallback, hot-key conditions as its parts
        "pl8_release_manifest",
    ]
    print("# SCALE — skewed high-dup stress of the dedup ladder")
    print()
    print("Generated by tools/scale_stress.py (deterministic corpus,")
    print(f"seed {SEED}, rebuilt in /tmp on each run — never committed).")
    print()
    print(
        f"Corpus: {stats['rows']} docs (3x sf0.1), >= "
        f"{stats['member_rate_min']:.0%} near-dup members "
        f"(clusters of 2-6, light word mutations), hot keys: "
        f"{stats['hot_lang_share']:.0%} one lang, "
        f"{stats['hot_source_share']:.0%} one source."
    )
    print()
    print("`DROP_BROADCAST_MAX_ROWS = 0` for the whole run: every")
    print("drop-set anti-join takes the shuffled FALLBACK path (the")
    print("web-corpus shape where the drop set is unbroadcastable) —")
    print("completion + bounded shuffle volume below is the evidence")
    print("the ladder survives without the broadcast hint.")
    print()
    def timed_row(name, thunk):
        t0 = time.perf_counter()
        n = thunk()
        dt = time.perf_counter() - t0
        w1, r1 = _shuffle_totals(spark)
        mem = _peak_mem(spark)
        gib = 1 << 30
        print(
            f"| {name} | {n} | {dt:.1f} | "
            f"{(w1 - timed_row.w0) / gib:.2f} GiB | "
            f"{(r1 - timed_row.r0) / gib:.2f} GiB | "
            f"{mem / gib:.1f} GiB |"
        )
        timed_row.w0, timed_row.r0 = w1, r1
        timed_row.last_dt = dt
        registry.release_pinned()
        return n

    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    for name in ladder:
        if name == "pl8_release_manifest":
            # collect, not count: a bare count() lets Catalyst prune
            # the xor digest aggregates out of the plan; the release
            # table is <= NSHARDS rows, so collect is free
            timed_row(
                name, lambda n=name: len(qs[n](spark, sf_dir).collect())
            )
        else:
            timed_row(name, lambda n=name: qs[n](spark, sf_dir).count())
    # honest footnote: what the numbers do and don't show
    print()
    print("Stage rows are cumulative pipeline outputs (d12's clusters")
    print("feed d13/d14/pl1 via the session memo, so their rows column")
    print("reflects the post-dedup corpus / manifest, not fresh work).")
    print("Shuffle columns are per-stage deltas of Spark's completed-")
    print("stage totals; the memoized cluster build is attributed to")
    print("the first stage that triggers it (d12).")
    print("pl8's wall is the COMPOSED release chain and carries every")
    print("stage no earlier rung warmed: d17 SemDeDup over the skewed")
    print("stress embeddings (cells + within-cell pairs + scratch")
    print("write), tx9/d18 decontamination, the pl6 ledger expansion,")
    print("and the per-shard xor digests — per-snapshot costs a real")
    print("pipeline materializes once; its shuffle deltas stay")
    print("corpus-linear like its parts'.")

    # ---- work-proportional-to-collisions: identical dup-rate recipe
    # at 1x and 10x (union-amplified in Spark; replica-tagged words
    # keep replicas shingle-disjoint so the RATE never drifts)
    print()
    print("## Dedup work vs corpus scale (1x vs 10x, dup rate held)")
    print()
    print("The corpus above, union-amplified 10x with replica-tagged")
    print("words: within-replica near-dup clusters survive verbatim,")
    print("replicas share no 3-gram shingles — 10x rows, 10x clusters,")
    print("identical member RATE. The design claim under test: d4's")
    print("LSH work (and d12's propagation) is proportional to")
    print("COLLISIONS, so cost should scale ~10x, never the 100x an")
    print("all-pairs scheme would pay. Fresh scratch dirs per factor")
    print("(the stage memos key on the path), so 1x pays the same")
    print("staging cost as 10x.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    ratio_wall: dict[str, float] = {}
    ratio_rows: dict[str, int] = {}
    for factor in (1, 10):
        amp_dir, amp_rows = amplify_corpus(spark, factor)
        timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
        # d15 rides the same amplified corpus: replica word-suffixes
        # keep replicas disjoint for ANY k-gram length, so the
        # duplicated-8-gram rate is held exactly like the shingle
        # rate — its gram-key shuffle should scale with rows, and its
        # island merge with HIT rows only. d16 is the CUT step on top:
        # its extra work is d15's spans aggregated to one array row per
        # FLAGGED doc + one join back to the corpus (the "only flagged
        # docs join back" claim, VERDICT r8 ask #5) — so its wall/
        # shuffle deltas over d15 should stay rows-proportional too.
        for name in (
            "d1_exact_dedup",
            "d4_minhash_lsh",
            "d12_dedup_clusters",
            "d15_duplicated_spans",
            "d16_span_cut",
            # d18 rides the same amplification: the 10% bench split
            # falls inside each replica, replicas share no 5-grams, so
            # contaminated (train, bench) pairs scale with rows — the
            # broadcast-bench join must stay linear, never pair-
            # quadratic across replicas.
            "d18_fuzzy_decontaminate",
        ):
            if name == "d16_span_cut":
                # count() alone would let Catalyst ELIMINATE the cut:
                # d16 is a left join against a doc_id-unique aggregate,
                # so a bare count prunes the whole d15+cut subtree and
                # times a document scan. Filter on n_cut forces the
                # spans, the join-back, and the positional cut to run;
                # rows out = docs that actually lost a span.
                from pyspark.sql import functions as SF

                action = lambda n=name, d=amp_dir: (  # noqa: E731
                    qs[n](spark, d).filter(SF.col("n_cut") > 0).count()
                )
            else:
                action = lambda n=name, d=amp_dir: qs[n](  # noqa: E731
                    spark, d
                ).count()
            n_out = timed_row(
                f"{name} x{factor} ({amp_rows} docs)", action
            )
            ratio_wall[f"{name}@{factor}"] = timed_row.last_dt
            ratio_rows[f"{name}@{factor}"] = n_out
    print()
    for name in (
        "d1_exact_dedup",
        "d4_minhash_lsh",
        "d12_dedup_clusters",
        "d15_duplicated_spans",
        "d16_span_cut",
        "d18_fuzzy_decontaminate",
    ):
        w1, w10 = ratio_wall[f"{name}@1"], ratio_wall[f"{name}@10"]
        r1, r10 = ratio_rows[f"{name}@1"], ratio_rows[f"{name}@10"]
        print(
            f"- {name}: rows out {r1} -> {r10} "
            f"({r10 / max(r1, 1):.1f}x), wall {w1:.1f} -> {w10:.1f} s "
            f"({w10 / max(w1, 0.001):.1f}x at 10x data — linear-ish, "
            f"nowhere near the 100x all-pairs floor)."
        )

    # ---- mixing under key skew: pk5's whole purpose is the hot lang
    print()
    print("## Mixing under key skew")
    print()
    print(
        f"The corpus above is {stats['hot_lang_share']:.0%} one "
        "language. pk5 re-derives per-lang keep rates from the counts"
    )
    print("(int64 floor math, broadcast rate join); pk6 amplifies")
    print("scarce langs by its centi-epoch schedule (narrow explode).")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import (
        MIX_DEFAULT_PCT,
        MIX_PCT,
    )

    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    # one pk5 execution serves both the table row and the per-lang
    # breakdown: aggregate, collect the tiny result, sum for the total
    mix: dict[str, int] = {}

    def run_pk5() -> int:
        rows = (
            qs["pk5_domain_mixture"](spark, sf_dir)
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        mix.update({r["lang"]: r["n"] for r in rows})
        return sum(mix.values())

    timed_row("pk5_domain_mixture", run_pk5)
    timed_row("pk6_epoch_plan", lambda: qs["pk6_epoch_plan"](spark, sf_dir).count())
    total = sum(mix.values()) or 1
    # derive the renormalized target from the actual config + corpus
    # langs (hard-coding it here would silently drift from MIX_PCT)
    extra_langs = sorted(set(mix) - set(MIX_PCT))
    sum_t = sum(MIX_PCT.values()) + MIX_DEFAULT_PCT * len(extra_langs)
    print()
    print(
        f"pk5 realized mixture: hot lang 'en' "
        f"{stats['hot_lang_share']:.0%} of the corpus -> "
        f"{mix.get('en', 0) / total:.0%} of the sample "
        f"({total} docs kept; the renormalized target — "
        f"{len(extra_langs)} langs beyond the config stack their "
        f"default shares on the configured {sum(MIX_PCT.values())}, "
        f"so 'en' targets {MIX_PCT['en']}/{sum_t} = "
        f"{MIX_PCT['en'] / sum_t:.0%})."
    )

    # ---- curation scoring rung: the per-doc rewrite/score ops at 3x
    # sf0.1 on the skewed corpus — tx12/tx13 must stay scan-dominated
    # (tx12 zero-shuffle; tx13's only corpus shuffle is the per-doc
    # re-agg, its vocab build capped at LM_VOCAB_K), and pk7 rides the
    # already-staged shingle structures (its pair derivation is d3's).
    print()
    print("## Curation scoring / leakage audit")
    print()
    print("tx12 rewrites every doc (run-length segment collapse) with")
    print("ZERO shuffles; tx13 fits a capped-vocab unigram LM on the")
    print("deterministic sample and scores the corpus through one")
    print("broadcast join + one map-side-combinable re-agg; pk7 reuses")
    print("the staged shingle inverted index to find near-dup pairs")
    print("that straddle the train/val split under the 60% hot lang;")
    print("pl2 fans every doc out to overlapping chunks, featurizes,")
    print("and buckets them with only the final occupancy aggregation")
    print("leaving the scan stage.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    for name in (
        "tx12_collapse_repeats",
        "tx13_unigram_logprob",
        "pk7_split_leakage",
        "pl2_chunk_index_stats",
    ):
        timed_row(name, lambda n=name: qs[n](spark, sf_dir).count())

    # ---- heavy-hitters rung: the MG sketch's whole contract is that
    # duplication/skew makes keys HOTTER without growing state. The
    # 57%-near-dup corpus multiplies token counts 2-6x; the summary
    # must stay <= HH_SHARDS*HH_K counter rows at 1x AND at 10x rows,
    # with wall tracking the one (shard, tok) count shuffle.
    print()
    print("## Heavy-hitters sketch under duplication (a21)")
    print()
    print("The near-dup clusters concentrate token mass (boilerplate")
    print("phrases repeat 2-6x), exactly the regime MG exists for; the")
    print("audit join against exact counts is part of the timed run,")
    print("so the rung UNDERSTATES the sketch-only path.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    timed_row(
        "a21_heavy_hitters_audit",
        lambda: qs["a21_heavy_hitters_audit"](spark, sf_dir).count(),
    )
    big_dir, big_rows = amplify_corpus(spark, 10)
    timed_row(
        f"a21_heavy_hitters_audit x10 ({big_rows} docs)",
        lambda: qs["a21_heavy_hitters_audit"](spark, big_dir).count(),
    )
    from a3_fp_bigdata_spark.operators.aggregates import HH_K, HH_SHARDS

    print()
    print(
        f"Survivor rows are <= HH_K={HH_K} at BOTH scales (the table "
        f"above); intermediate state is <= {HH_SHARDS}x{HH_K} = "
        f"{HH_SHARDS * HH_K} counter rows by construction — corpus "
        "growth changes the counts, never the state size."
    )

    # ---- global-order packers rung (r11, VERDICT ask #7): pk13/pk15
    # claim corpus-wide order/mixture WITHOUT a global sort — pk13's
    # second pass (ordered prefix window) runs over the GROUP GRID
    # (band x shard x bucket), pk15's over the per-lang count table.
    # 10x rows must move wall ~linearly (the first-pass aggregation)
    # while the grid row count barely moves — the grid, not the
    # corpus, bounds the single-task window input.
    print()
    print("## Global-order packers (pk13 curriculum, pk15 temperature)")
    print()
    print("pk13 computes a global curriculum position via two-pass")
    print("prefix sums: per-(band, shard, bucket) batch counts (the")
    print("GRID), one bounded ordered window over the grid, broadcast")
    print("offsets + within-group row_number. pk15's weight table is")
    print("one row per lang. Neither funnels corpus rows into a")
    print("single-partition window; the rung pins that the grid stays")
    print("~fixed while rows grow 10x.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    grid_rows: dict[str, int] = {}
    pk_wall: dict[str, float] = {}
    for factor, d, nrows in ((1, sf_dir, stats["rows"]), (10, big_dir, big_rows)):
        for name in ("pk13_curriculum_schedule", "pk15_temperature_mixture"):
            timed_row(
                f"{name} x{factor} ({nrows} docs)",
                lambda n=name, dd=d: qs[n](spark, dd).count(),
            )
            pk_wall[f"{name}@{factor}"] = timed_row.last_dt
        grid_rows[f"pk13@{factor}"] = (
            qs["pk13_curriculum_schedule"](spark, d)
            .select("band", "shard", "bucket")
            .distinct()
            .count()
        )
        grid_rows[f"pk15@{factor}"] = (
            qs["pk15_temperature_mixture"](spark, d)
            .select("lang")
            .distinct()
            .count()
        )
    print()
    for name, key in (
        ("pk13_curriculum_schedule", "pk13"),
        ("pk15_temperature_mixture", "pk15"),
    ):
        w1 = pk_wall[f"{name}@1"]
        w10 = pk_wall[f"{name}@10"]
        g1, g10 = grid_rows[f"{key}@1"], grid_rows[f"{key}@10"]
        print(
            f"- {name}: wall {w1:.1f} -> {w10:.1f} s "
            f"({w10 / max(w1, 0.001):.1f}x at 10x rows); bounded-window "
            f"input {g1} -> {g10} grid rows ({g10 / max(g1, 1):.1f}x) — "
            "the ordered window's input is grid-sized at both scales, "
            "never corpus-sized."
        )

    # ---- tokenizer rung: BPE fit on the boilerplate-heavy corpus —
    # the 57% near-dup members inflate word COUNTS, not word TYPES,
    # so the histogram (and every iteration after it) must stay
    # vocab-sized; only the first shuffle sees corpus-sized rows.
    print()
    print("## Tokenizer induction on the duplicated corpus")
    print()
    print("tk1 fits its merges on the 25%-sample word histogram; the")
    print("near-dup clusters multiply word frequencies ~2-6x without")
    print("growing the vocabulary, so the per-iteration pair counts")
    print("are unchanged in size — duplication costs the fit almost")
    print("nothing beyond the single corpus-sized histogram shuffle,")
    print("which is the property that keeps BPE trainable at 100 TB.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    timed_row(
        "tk1_bpe_merges",
        lambda: qs["tk1_bpe_merges"](spark, sf_dir).count(),
    )

    # merge-loop scaling: wall must grow ~linearly in N_MERGES (each
    # iteration is one vocab-sized pair count + a 1-row argmax), with
    # the corpus-sized histogram shuffle paid ONCE up front — if wall
    # grew superlinearly the persist/unpersist chain would be broken
    # and every iteration would be re-tokenizing the corpus.
    print()
    print("### Merge-loop scaling (wall vs n_merges)")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    from a3_fp_bigdata_spark.operators.tokenizer import fit_bpe

    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    for n_merges in (4, 8, 16):
        timed_row(
            f"tk1 fit n_merges={n_merges}",
            lambda n=n_merges: len(fit_bpe(spark, sf_dir, n)),
        )
    print()
    print("The per-row wall deltas are the per-iteration cost; the")
    print("histogram build (first shuffle) amortizes across rows.")

    # ---- streaming rung: REAL micro-batch runs over the duplicated
    # corpus — the incremental dedup state (st10) and the chunk index
    # (st11) must converge while merging batch deltas into their
    # bucketed views under the 57% dup rate (many batches touch the
    # SAME fingerprint buckets, the worst case for touched-partition
    # rewrite amplification).
    print()
    print("## Streaming sinks on the duplicated corpus")
    print()
    print("st10 fingerprints each micro-batch and merges (min keeper,")
    print("summed copies) into the bucketed view; st11 chunks,")
    print("featurizes, LSH-buckets and delta-merges occupancy. With")
    print("57% near-dup members most batches collide on hot")
    print("fingerprint buckets, so the dynamic-partition-overwrite")
    print("path rewrites the same few bucket dirs repeatedly — wall")
    print("time below is dominated by micro-batch scheduling, the")
    print("per-batch data work stays batch-sized.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    for name in (
        "st10_incremental_dedup_stream",
        "st11_chunk_index_stream",
        # st13 streams the SAME corpus through the K-counter MG view:
        # the hot boilerplate tokens saturate their counters while
        # state stays <= HH_SHARDS*HH_K rows across every batch
        "st13_stream_hot_keys",
    ):
        timed_row(name, lambda n=name: qs[n](spark, sf_dir).count())

    # ---- micro-batch scaling rung (r12, VERDICT ask #5): st10/st13 at
    # 1x (4 micro-batches over the stress corpus) vs 10x BATCHES (40
    # micro-batches over the 10x-amplified corpus — batch SIZE held
    # constant). The streaming-MV claim to pin: wall tracks the BATCH
    # COUNT (~10x, i.e. per-batch work is batch-sized — an
    # accumulated-corpus rescan per batch would go ~quadratic, 55x
    # total here), and the maintained view tracks KEYS (st10: distinct
    # fingerprints; st13: <= HH_SHARDS x HH_K counters), never the
    # accumulated row count.
    print()
    print("## Micro-batch scaling (st10, st13): 1x vs 10x batches")
    print()
    print("Batch size held constant (corpus/batches); the amplified")
    print("corpus carries 10x distinct fingerprints by construction")
    print("(replica-suffixed words), so st10's view must grow ~10x")
    print("(keys), st13's must stay counter-bounded, and BOTH walls")
    print("must track the batch count, not accumulate.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    import a3_fp_bigdata_spark.streaming.hot_keys as _hk
    import a3_fp_bigdata_spark.streaming.incremental_dedup as _incd

    def _view_stats(df) -> tuple[int, int]:
        files = df.inputFiles()
        nbytes = 0
        for f in files:
            p = f.removeprefix("file:")
            try:
                nbytes += os.path.getsize(p)
            except OSError:
                pass
        return df.count(), nbytes

    mb: dict[str, tuple[float, int, int, int]] = {}
    try:
        for factor, d, nfiles in ((1, sf_dir, 4), (10, big_dir, 40)):
            # batch size constant: corpus/nfiles. Both modules bind
            # STAGE_FILES by value at import; set both, restore after.
            _incd.STAGE_FILES = nfiles
            _hk.STAGE_FILES = nfiles
            for name in (
                "st10_incremental_dedup_stream",
                "st13_stream_hot_keys",
            ):
                # keep the drained-view frame from the TIMED run: the
                # query body runs the whole stream inside fn(), so a
                # second fn() call would re-stream everything
                holder: dict[str, object] = {}

                def _run(n=name, dd=d, h=holder):
                    df = qs[n](spark, dd)
                    h["df"] = df
                    return df.count()

                timed_row(f"{name} x{factor} ({nfiles} batches)", _run)
                if name.startswith("st10"):
                    # st10 returns the drained view read-back directly:
                    # inputFiles IS the maintained state's parquet
                    rows, nbytes = _view_stats(holder["df"])
                else:
                    # st13 returns the audited top-K (joined back to
                    # the corpus for exact counts) — its row count is
                    # the counter-bounded state evidence; view bytes
                    # aren't reachable from the returned frame
                    rows, nbytes = holder["df"].count(), 0
                mb[f"{name}@{factor}"] = (
                    timed_row.last_dt, nfiles, rows, nbytes,
                )
    finally:
        _incd.STAGE_FILES = 4
        _hk.STAGE_FILES = 4
    print()
    for name in ("st10_incremental_dedup_stream", "st13_stream_hot_keys"):
        w1, b1, r1, s1 = mb[f"{name}@1"]
        w10, b10, r10, s10 = mb[f"{name}@10"]
        size = (
            f" ({s1 / 1024:.0f} -> {s10 / 1024:.0f} KiB on disk)"
            if s1 or s10
            else ""
        )
        pb_ratio = (w10 / b10) / max(w1 / b1, 0.001)
        print(
            f"- {name}: wall {w1:.1f} -> {w10:.1f} s "
            f"({w10 / max(w1, 0.001):.1f}x at {b10 // b1}x batches; "
            f"per-batch {w1 / b1:.2f} -> {w10 / b10:.2f} s, "
            f"{pb_ratio:.1f}x); "
            f"{r1} -> {r10} rows{size} — "
            + (
                "view rows track DISTINCT KEYS (10x by construction); "
                "per-batch wall grows with the TOUCHED-BUCKET rewrite "
                "(view bytes 10x at a fixed bucket count), far below "
                "the ~10x an accumulated-corpus rescan would show — "
                "production scales the bucket count with the key set "
                "so per-bucket rewrite stays bounded."
                if name.startswith("st10")
                else "the audited top-K stays counter-bounded "
                "(<= K rows) at both scales (batch size is constant "
                "by construction); the overhead-isolation rung below "
                "pins WHERE the residual per-batch growth lives "
                "(the merge, not listing), while the merged view "
                "itself never exceeds shards x K rows."
            )
        )

    # ---- st13 listing-cost isolation (r13, VERDICT ask #6)
    print()
    print("## Micro-batch overhead isolation (st13's residual growth)")
    print()
    print("The SAME 40-file staged corpus through (a) a NO-OP")
    print("foreachBatch sink — pure micro-batch scheduling + source/")
    print("checkpoint listing, zero sink work — and (b) the real")
    print("hot_key_sink merge; per-batch triggerExecution durations")
    print("from the streaming progress log, first-quarter vs")
    print("last-quarter batch means. A rising no-op mean = listing/")
    print("checkpoint cost accumulating with batch count; a flat one")
    print("pins the residual growth on the merge (view re-list +")
    print("touched-bucket rewrite), which is bounded by the view's")
    print("<= shards x K rows.")
    print()
    probe = microbatch_overhead_probe(spark, big_dir, nfiles=40)
    print("| sink | wall s | batches | per-batch s (first 1/4) | per-batch s (last 1/4) |")
    print("|---|---|---|---|---|")
    for label, key in (("no-op (scheduling+listing)", "noop"),
                       ("hot_key_sink merge", "merge")):
        w, first, last, nb = probe[key]
        print(f"| {label} | {w:.1f} | {nb} | {first:.2f} | {last:.2f} |")
    nw, nf_, nl, _ = probe["noop"]
    mw, mf, ml, _ = probe["merge"]
    print()
    print(
        f"- Scheduling+listing floor: {nw:.1f} s of st13's per-batch "
        f"budget is sink-independent ({nf_:.2f} -> {nl:.2f} s/batch "
        f"first->last quarter, {nl / max(nf_, 1e-9):.2f}x drift); the "
        f"merge adds {mf - nf_:.2f} -> {ml - nl:.2f} s/batch on top "
        f"({(ml - nl) / max(mf - nf_, 1e-9):.2f}x drift)."
    )
    print(
        "- Production mitigations for the listing component at 10^4+"
        " batch counts: checkpoint compaction is automatic (the"
        " offsets/commits logs compact every"
        " spark.sql.streaming.minBatchesToRetain); the view re-list"
        " per batch is one bounded directory (buckets x ~1 file, the"
        " merge rewrites in place); source listing is the staged-dir"
        " file index, O(files) once per trigger — a file-notification"
        " source (or Kafka) replaces it at production cadence. State"
        " itself never lives in the checkpoint here (the view IS the"
        " store), so RocksDB state-store growth does not apply to"
        " this sink design."
    )

    # ---- time-series rung: gap-heavy grid + one bot user
    print()
    print("## Time-series under user skew")
    print()
    print(
        f"Events: {ev_stats['n_events']} rows (3x sf0.1), "
        f"{ev_stats['n_users']} users, ONE user holding "
        f"{ev_stats['hot_user_share']:.0%} of all events (the bot every"
    )
    print("stream has); the tail averages ~40 events over a ~720-hour")
    print("span, so w8/w9 fill mostly GAPS (the grid is ~25x the")
    print("observed rows) while the hot user stresses the per-key")
    print("window sort and j8/j9's per-key join state.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)

    def force_count(name: str) -> int:
        # count() alone would let Catalyst ELIDE the Window nodes
        # (windows never change row counts), timing a plan that skipped
        # the fill entirely; the noop write forces full execution. The
        # frame is persisted first so the row count reads the cache
        # instead of re-running the fill (a bare post-noop count()
        # doubled the timed work and inflated the committed rows ~2x).
        df = qs[name](spark, sf_dir).persist()
        try:
            df.write.format("noop").mode("overwrite").save()
            return df.count()
        finally:
            df.unpersist()

    for name in (
        "w8_gapfill_locf",
        "w9_linear_interp",
        "w10_ewma_smooth",
        "w5_sessionize",
        "j8_asof_join",
        "j9_range_join",
    ):
        timed_row(name, lambda n=name: force_count(n))

    # ---- ANN / embedding rung: skewed cells, planted near-identicals
    print()
    print("## Similarity / ANN under cell skew")
    print()
    print(
        f"Embeddings: {emb_stats['n_vecs']} vectors (3x sf0.1), dim "
        f"{EMB_DIM}, {EMB_CLUSTERS} Gaussian clusters with ONE hot "
        f"cluster holding {emb_stats['hot_cluster_share']:.0%} of the "
        f"vectors; {emb_stats['planted_dups']} planted near-identical "
        "pairs. The probe vector (vec_id 0) sits IN the hot cluster,"
    )
    print("so sim2/sim4 answer from the worst bucket; d6's blocked")
    print("GEMM sees its densest block pairs from the hot cell.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
    timed_row(
        "d6_embedding_neardup",
        lambda: qs["d6_embedding_neardup"](spark, sf_dir).count(),
    )
    timed_row(
        "sim2_lsh_ann", lambda: qs["sim2_lsh_ann"](spark, sf_dir).count()
    )
    from a3_fp_bigdata_spark.operators import similarity as S

    timed_row(
        "sim4 index build",
        lambda: (S.warm_sim4_index(spark, sf_dir), 0)[1],
    )
    timed_row(
        "sim4 probe (pruned)",
        lambda: qs["sim4_bucketed_ann"](spark, sf_dir).count(),
    )
    print()
    print("sim4's build row pays the one-off bucket-partitioned index")
    print("write; the probe row then reads ONE bucket directory")
    print("(PartitionFilters) — the build/probe asymmetry is the 100 TB")
    print("serving story.")

    # ---- probe cost vs corpus scale: same generator at 10x vectors.
    # Brute-force sim1 must grow ~linearly with the corpus; sim4's
    # partition-pruned probe must grow only with its one bucket's
    # occupancy. Both measured steady-state (index built + one warm
    # probe first, the bench.py methodology).
    print()
    print("### ANN probe cost vs corpus scale (1x vs 10x vectors)")
    print()
    print("Same generator at 10x vectors (hot cell and planted dups")
    print("scale with it). sim1 is the linear-scan baseline; sim4's")
    print("probe reads ONE bucket partition of the prebuilt index, so")
    print("its cost tracks bucket occupancy, not corpus size — the")
    print("serving-path property that makes the index worth its build.")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    emb10_dir = f"{CORPUS_DIR}_emb_x10"
    emb10 = build_embeddings(n_vecs=N_VECS * 10, out_dir=emb10_dir)
    probe_wall: dict[str, float] = {}
    for tag, d, nv in (
        ("x1", sf_dir, emb_stats["n_vecs"]),
        ("x10", emb10_dir, emb10["n_vecs"]),
    ):
        S.warm_sim4_index(spark, d)
        qs["sim4_bucketed_ann"](spark, d).count()  # warm probe
        # Warm the brute-force leg too: without this the x1 sim1 row
        # pays first-execution codegen/broadcast setup the x10 row
        # (same plan shape, already compiled) doesn't — inflating the
        # published growth ratio this rung exists to attest.
        qs["sim1_cosine_topk"](spark, d).count()
        timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
        timed_row(
            f"sim1 brute-force {tag} ({nv} vecs)",
            lambda dd=d: qs["sim1_cosine_topk"](spark, dd).count(),
        )
        probe_wall[f"sim1@{tag}"] = timed_row.last_dt
        timed_row(
            f"sim4 probe (pruned) {tag} ({nv} vecs)",
            lambda dd=d: qs["sim4_bucketed_ann"](spark, dd).count(),
        )
        probe_wall[f"sim4@{tag}"] = timed_row.last_dt
    print()
    print(
        f"10x corpus: brute-force {probe_wall['sim1@x1']:.2f} -> "
        f"{probe_wall['sim1@x10']:.2f} s "
        f"({probe_wall['sim1@x10'] / max(probe_wall['sim1@x1'], 1e-3):.1f}x), "
        f"pruned probe {probe_wall['sim4@x1']:.2f} -> "
        f"{probe_wall['sim4@x10']:.2f} s "
        f"({probe_wall['sim4@x10'] / max(probe_wall['sim4@x1'], 1e-3):.1f}x) "
        "— the probe pays bucket occupancy, not corpus size."
    )

    # ---- SemDeDup rung: d17's within-cell pair work is sum(|cell|^2);
    # at FIXED cell count a 10x corpus would pay ~100x pairs, so the
    # design point is cells ∝ corpus — this rung scales SEMDEDUP_CELLS
    # 16 -> 160 with the 10x vectors and the wall must track ~10x.
    print()
    print("### SemDeDup cost vs corpus scale (cells scaled with the corpus)")
    print()
    print("d17's exact pair join runs within coarse k-means cells; the")
    print("published algorithm holds |cell| bounded by scaling the cell")
    print("count with the corpus (Abbas et al. use 50k clusters for 38M")
    print("embeddings). Here: 16 cells at 1x, 160 at 10x — pair work per")
    print("cell stays constant, so wall should grow ~10x, not the ~100x")
    print("a fixed-cell (or no-cell, all-pairs) scheme pays. The timed")
    print("action filters on NOT is_kept: a bare count would let")
    print("Catalyst eliminate the doc-unique drop join (the d16 lesson).")
    print()
    print("| stage | rows out | wall s | shuffle write | shuffle read | peak JVM mem |")
    print("|---|---|---|---|---|---|")
    sem_wall: dict[str, float] = {}
    for tag, d, nv, cells in (
        ("x1", sf_dir, emb_stats["n_vecs"], S.SEMDEDUP_CELLS),
        ("x10", emb10_dir, emb10["n_vecs"], S.SEMDEDUP_CELLS * 10),
    ):
        old_cells = S.SEMDEDUP_CELLS
        S.SEMDEDUP_CELLS = cells
        try:
            timed_row.w0, timed_row.r0 = _shuffle_totals(spark)
            timed_row(
                f"d17 semantic dedup {tag} ({nv} vecs, {cells} cells)",
                lambda dd=d: qs["d17_semantic_dedup"](spark, dd)
                .filter(~F.col("is_kept"))
                .count(),
            )
            sem_wall[tag] = timed_row.last_dt
        finally:
            S.SEMDEDUP_CELLS = old_cells
    print()
    print(
        f"10x vectors with 10x cells: {sem_wall['x1']:.2f} -> "
        f"{sem_wall['x10']:.2f} s "
        f"({sem_wall['x10'] / max(sem_wall['x1'], 1e-3):.1f}x) — pair "
        "work held ~linear by scaling the cell count, the SemDeDup "
        "contract (fit cost included in both rows; it is the same "
        "seeded k-means the IVF index already pays for)."
    )

    # ---- bloom-prefilter rung: j11's geometry under a 60%-hot key
    print()
    print("## Bloom-prefilter join under key skew (j11's geometry)")
    print()
    from a3_fp_bigdata_spark.operators.joins import (
        bloom_might_contain,
        build_bloom,
    )

    BLOOM_FACT_ROWS = 3_000_000
    HOT_KEY = 1_000_000  # outside the dim's key range
    fact = (
        spark.range(BLOOM_FACT_ROWS)
        .select(
            F.when(F.pmod("id", F.lit(10)) < 6, F.lit(HOT_KEY))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(100_000)))
            .alias("k"),
            (F.col("id") % 997).cast("double").alias("v"),
        )
        .persist()
    )
    n_fact = fact.count()
    dim = spark.range(300).select(F.col("id").alias("k")).persist()
    dim.count()
    words = build_bloom(dim.select("k"))
    kept = fact.filter(bloom_might_contain(F.col("k"), words))
    n_kept = kept.count()
    print(
        f"Fact: {n_fact} rows, ONE key (absent from the dim) holding "
        "60%; cold keys uniform over 100k. Dim: 300 keys (the bloom's "
        "canonical build size, ~0.8% fp). The scan-side membership "
        "test drops the hot key AND the non-matching cold tail BEFORE "
        f"the exchange: {n_kept} rows survive "
        f"({n_kept / n_fact:.2%} of the fact — "
        f"{n_fact / max(n_kept, 1):.0f}x shuffle-input reduction)."
    )
    print()

    def join_agg(probe):
        return (
            probe.join(dim.hint("shuffle_hash"), "k")
            .agg(
                F.count("*").alias("n"),
                F.sum("v").alias("sv"),
            )
            .collect()[0]
        )

    print("| variant | join rows | wall s | shuffle write | shuffle read |")
    print("|---|---|---|---|---|")
    results = {}
    for label, probe in (("plain shuffle join", fact), ("bloom-prefiltered", kept)):
        w0, r0 = _shuffle_totals(spark)
        t0 = time.perf_counter()
        row = join_agg(probe)
        dt = time.perf_counter() - t0
        w1, r1 = _shuffle_totals(spark)
        results[label] = row
        mib = 1 << 20
        print(
            f"| {label} | {row['n']} | {dt:.1f} | "
            f"{(w1 - w0) / mib:.1f} MiB | {(r1 - r0) / mib:.1f} MiB |"
        )
    assert (
        results["plain shuffle join"] == results["bloom-prefiltered"]
    ), "bloom prefilter changed the join result (false negative!)"
    print()
    print("Both variants aggregate to identical results (asserted in-")
    print("run: blooms have no false negatives, so the prefilter is")
    print("invisible to correctness); the shuffle columns show what the")
    print("filter saves at the exchange. When the dim DOES contain the")
    print("hot key, the skew moves into the join itself — that is")
    print("the salted-join rung below, not the bloom's job.")
    fact.unpersist()
    dim.unpersist()

    # ---- skew IN the join: manual salting (j7/j10) vs AQE skew-join.
    # Same 60%-hot geometry as the bloom rung, but the hot key EXISTS
    # in the dim, so every hot row survives to the join — the skew
    # lands on one reducer. Three plans, identical results (asserted):
    #   plain   : static shuffle join, AQE off — the straggler baseline
    #   AQE     : adaptive skew-join splits the hot partition at runtime
    #   salted  : j7's salted_join spreads (key, salt) — no AQE needed
    # Stage totals are identical for all three; ONLY the per-task
    # distribution (taskSummary quantiles) shows the hot reducer, so
    # that is the reported metric.
    from a3_fp_bigdata_spark.metrics import (
        completed_stage_ids,
        join_stage_task_skew,
    )
    from a3_fp_bigdata_spark.operators.joins import (
        SALT_BUCKETS,
        salted_join,
    )

    print()
    print("## Salted join vs AQE skew-join (hot key IN the dim)")
    print()
    SKEW_FACT_ROWS = 3_000_000
    HOT_DIM_KEY = 7
    fact2 = (
        spark.range(SKEW_FACT_ROWS)
        .select(
            F.when(F.pmod("id", F.lit(10)) < 6, F.lit(HOT_DIM_KEY))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(300)))
            .alias("k"),
            (F.col("id") % 997).alias("v"),  # long: sums compare EXACT
        )
        .persist()
    )
    n_fact2 = fact2.count()
    dim2 = (
        spark.range(300)
        .select(
            F.col("id").alias("kd"),
            F.pmod("id", F.lit(7)).alias("g"),
        )
        .persist()
    )
    dim2.count()
    print(
        f"Fact: {n_fact2} rows, key {HOT_DIM_KEY} holds 60% and IS in "
        "the 300-key dim — every hot row joins. At 100 TB the hot "
        "reducer is the job: one task reads 60% of the exchange while "
        "its stage peers idle. AQE thresholds are scaled to the rung "
        "(skewedPartitionThresholdInBytes=4m, advisory=2m) the same "
        "way real sizes exceed the 256m default at full scale."
    )
    print()

    def skew_join_agg(joined):
        return sorted(
            joined.groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .collect()
        )

    AQE_KEYS = {
        "spark.sql.adaptive.enabled": None,  # filled from current conf
        "spark.sql.adaptive.skewJoin.enabled": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": None,
    }
    for key in AQE_KEYS:
        AQE_KEYS[key] = spark.conf.get(key, None)

    def set_confs(pairs):
        for key, val in pairs.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)

    variants = [
        (
            "plain shuffle join (AQE off)",
            {"spark.sql.adaptive.enabled": "false"},
            lambda: fact2.join(
                dim2.hint("merge"), F.col("k") == F.col("kd")
            ),
        ),
        (
            "AQE skew-join",
            {
                "spark.sql.adaptive.enabled": "true",
                "spark.sql.adaptive.skewJoin.enabled": "true",
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes": "4m",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            },
            lambda: fact2.join(
                dim2.hint("merge"), F.col("k") == F.col("kd")
            ),
        ),
        (
            f"salted x{SALT_BUCKETS} (AQE off)",
            {"spark.sql.adaptive.enabled": "false"},
            lambda: salted_join(fact2, dim2.hint("merge"), "k", "kd"),
        ),
    ]
    print(
        "| variant | wall s | join-stage tasks | max task read |"
        " median task read | max/med | max task ms |"
    )
    print("|---|---|---|---|---|---|---|")
    skew_results = {}
    mib = 1 << 20
    for label, confs, plan in variants:
        set_confs(confs)
        try:
            # warm once per variant: plan compilation off the clock
            skew_join_agg(plan())
            ids0 = completed_stage_ids(spark)
            t0 = time.perf_counter()
            skew_results[label] = skew_join_agg(plan())
            dt = time.perf_counter() - t0
            sk = join_stage_task_skew(spark, ids0) or {}
        finally:
            set_confs(AQE_KEYS)
        ratio = sk.get("read_max", 0) / max(sk.get("read_med", 0), 1)
        print(
            f"| {label} | {dt:.1f} | {sk.get('n_tasks', 0)} | "
            f"{sk.get('read_max', 0) / mib:.1f} MiB | "
            f"{sk.get('read_med', 0) / mib:.2f} MiB | "
            f"{ratio:.0f}x | {sk.get('run_max_ms', 0)} |"
        )
    assert (
        skew_results[variants[0][0]]
        == skew_results[variants[1][0]]
        == skew_results[variants[2][0]]
    ), "skew variants disagree on the join result"
    print()
    print("All three variants aggregate to IDENTICAL rows (asserted")
    print("in-run; v is integral so the sums compare exact). The")
    print("max/median task-read column is the skew story: the plain")
    print("join funnels the hot key through one task; AQE splits that")
    print("partition at runtime into advisory-sized chunks; salting")
    print(f"spreads (key, salt) over {SALT_BUCKETS} reducers at plan")
    print("time — the form that also protects the FIRST write of a")
    print("table, before AQE has runtime stats to act on.")
    fact2.unpersist()
    dim2.unpersist()

    # ---- connected components: rounds track DIAMETER, not size.
    # d12's min-label propagation costs rounds x edge-shuffle; the
    # docstring claim ("near-dup clusters are cliques-ish, so a few
    # rounds even at 100 TB") is only safe if rounds really follow
    # component shape. Three synthetic 100k-node graphs with known
    # diameter; the rung ASSERTS the predicted round count and zero
    # label errors, then reports wall.
    from a3_fp_bigdata_spark import registry as _registry
    from a3_fp_bigdata_spark.operators.dedup import connected_components

    print()
    print("## Connected components: rounds = diameter (d12's loop)")
    print()
    print(
        "100k nodes in fixed-size components of three shapes — the"
        " min label travels one hop per synchronous round, so rounds"
        " = (min-label node's eccentricity) + 1 to observe"
        " convergence. Production near-dup clusters are the clique"
        " row; the chain row is the adversarial bound the"
        " CC_MAX_ITERS=25 guard exists for."
    )
    print()
    nodes16 = spark.range(100_000).select(
        "id", (F.col("id") - F.pmod("id", F.lit(16))).alias("blk")
    )
    clique = (
        nodes16.join(
            nodes16.select(
                F.col("id").alias("id2"), F.col("blk").alias("blk2")
            ),
            (F.col("blk") == F.col("blk2"))
            & (F.col("id") < F.col("id2")),
        )
        .select(F.col("id").alias("doc_a"), F.col("id2").alias("doc_b"))
    )
    star = nodes16.filter(F.pmod("id", F.lit(16)) != 15).select(
        F.col("id").alias("doc_a"), (F.col("blk") + 15).alias("doc_b")
    )
    chain = (
        spark.range(99_984)
        .filter(F.pmod("id", F.lit(24)) != 23)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    cc_cases = [
        ("clique-16 (diam 1)", clique, 16, 2),
        ("star-16, min at a leaf (diam 2)", star, 16, 3),
        ("chain-24 (diam 23)", chain, 24, 24),
    ]
    print("| graph | edges | expected rounds | rounds | wall s | label errors |")
    print("|---|---|---|---|---|---|")
    for label, prs, block, want_rounds in cc_cases:
        prs = prs.persist()
        n_edges = prs.count()
        t0 = time.perf_counter()
        labels, rounds = connected_components(spark, prs)
        # every node's component min is its block start — exact check
        n_bad = labels.filter(
            F.col("lab")
            != F.col("doc_id") - F.pmod("doc_id", F.lit(block))
        ).count()
        dt = time.perf_counter() - t0
        print(
            f"| {label} | {n_edges} | {want_rounds} | {rounds} | "
            f"{dt:.1f} | {n_bad} |"
        )
        assert rounds == want_rounds, (label, rounds, want_rounds)
        assert n_bad == 0, (label, n_bad)
        labels.unpersist()
        prs.unpersist()
        _registry.release_pinned()  # frees the pinned edge frames
    print()
    print("Rounds match the prediction exactly and labels are exact")
    print("(asserted in-run). Wall is ~linear in rounds at fixed edge")
    print("count — each round is one edge join + one agg + a 1-row")
    print("convergence probe — so the 100 TB cost model is (diameter")
    print("+ 1) x edge-shuffle. Clique-ish dedup graphs finish in 2-3")
    print("rounds however large the corpus; a chain-shaped graph is")
    print("the case CC_MAX_ITERS exists to refuse loudly.")

    # ---- suffix-array re-rank rung (r14, VERDICT ask #2): the d21
    # prefix-doubling build's re-rank is range-partitioned two-pass by
    # DEFAULT now. Two pins: (a) at a size where the funnel is VISIBLE
    # (10M keys — audit slices are small enough that AQE legitimately
    # coalesces either plan to one partition), _two_pass_rank spreads
    # the rank stage across range shards while the global window
    # drags every row through ONE reducer task — the shape, not the
    # local wall, is the evidence: a 10M-row single-task sort is still
    # fast in one JVM, but it is the task whose input grows with the
    # corpus; (b) the full build agrees bit-exactly between the two
    # modes on a slice ~28x the audit slice (the pytest pin,
    # re-asserted at stress scale).
    print()
    print("## suffix-array re-rank rung (d21, r14)")
    print()
    from pyspark.sql import Window

    from a3_fp_bigdata_spark import stages
    from a3_fp_bigdata_spark.operators import suffixes as SX

    print("| re-rank of 10M (r1, r2) keys | wall s | rank-stage "
          "partitions | max partition rows | max share |")
    print("|---|---|---|---|---|")
    big = spark.range(10_000_000).select(
        F.col("id").alias("pos"),
        (F.col("id") % 100_000).alias("r1"),
        ((F.col("id") * 7) % 997).alias("r2"),
    )
    n_big = 10_000_000
    for label, ranked in (
        (
            "two-pass (default)",
            lambda: SX._two_pass_rank(big, ["r1", "r2"], dense=True),
        ),
        (
            "global window (legacy pin)",
            lambda: big.select(
                "pos",
                F.dense_rank()
                .over(Window.orderBy("r1", "r2"))
                .cast("long")
                .alias("rnk"),
            ),
        ),
    ):
        t0 = time.perf_counter()
        out = ranked()
        # partition stats of the RANK stage's output, measured in the
        # same action that forces it. The per-pid agg MUST consume the
        # rank column all the way to the collected rows: any layer
        # that drops `rnk` lets Catalyst prune it, elide the Window
        # node entirely, and report the INPUT's partitioning (observed
        # twice while writing this rung: count()-only and a
        # max(rnk)-then-discard both read 8 partitions / 0.5 s with
        # the sort never running). Bounded collect: <= one row per
        # partition.
        per_pid = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("c"), F.max("rnk").alias("mr"))
            .collect()
        )
        assert all(r["mr"] is not None for r in per_pid)
        dist = {
            "mx": max(r["c"] for r in per_pid),
            "np": len(per_pid),
        }
        dt = time.perf_counter() - t0
        print(
            f"| {label} | {dt:.1f} | {dist['np']} | {dist['mx']} | "
            f"{dist['mx'] / n_big:.1%} |"
        )
        if "two-pass" in label:
            assert dist["np"] > 1, "two-pass rank landed in one partition"
            two_pass_max_share = dist["mx"] / n_big
        else:
            assert dist["mx"] == n_big  # the funnel, demonstrated
    print()
    print(f"Two-pass max partition share at 10M keys: "
          f"{two_pass_max_share:.1%} — no stage sees the whole frame;")
    print("the window plan's rank stage holds 100% of the rows in one")
    print("task (asserted in-run). Local walls are comparable — a")
    print("10M-row single-task Tungsten sort is fast in one JVM — but")
    print("the window task's input grows with the corpus while the")
    print("two-pass shards stay ~frame/SA_RERANK_PARTS, which at")
    print("100 TB is the difference between a stage that finishes and")
    print("one that can't hold its input. That is why two-pass is the")
    print("default in build_suffix_array, not a flag you remember to")
    print("set.")
    print()
    # ~1/15 of the stress corpus => a ~1 MB slice, ~28x the sf0.1
    # audit slice. NOT smaller mods: the slice string materializes
    # through single-task stages by design (the oracle needs ONE
    # string), and a first attempt at SA_DOC_MOD=2 (~7.5 MB, 7.5M
    # suffixes) GC-wedged the broadcast stage for 30+ min — the rung
    # pins equality at beyond-audit scale, it does not pretend the
    # concatenated-slice harness IS the 100 TB path (per-segment
    # offsets are, see d25).
    old_mod = SX.SA_DOC_MOD
    SX.SA_DOC_MOD = 15
    # drop every stage: correctness is key-safe (SA_DOC_MOD is in
    # every suffix stage key) but mod-15 checkpoint blocks would stay
    # resident for the rest of a long stress session (ADVICE r14)
    stages.release_all()
    try:
        slice_len = len(SX.corpus_slice(spark, sf_dir).first()["s"])
        walls = {}
        for tp in (True, False):
            t0 = time.perf_counter()
            n_sa = SX.build_suffix_array(spark, sf_dir, two_pass=tp).count()
            walls[tp] = time.perf_counter() - t0
        fast = SX.build_suffix_array(spark, sf_dir, two_pass=True)
        legacy = SX.build_suffix_array(spark, sf_dir, two_pass=False)
        n_diff = (
            fast.join(legacy.withColumnRenamed("pos", "pos2"), "sa_rank")
            .filter(F.col("pos") != F.col("pos2"))
            .count()
        )
        print(
            f"Full-build equality at stress scale: {slice_len}-char "
            f"slice, {n_sa} suffixes; rows differing between modes: "
            f"{n_diff} (asserted 0). Walls: two-pass "
            f"{walls[True]:.1f} s vs window {walls[False]:.1f} s — at "
            "audit-slice sizes the two-pass pays fixed per-round stage "
            "overhead (2 extra exchanges + the pid-pinning checkpoint "
            "per doubling round) and the window is cheaper; the "
            "crossover argument is the 10M-key table above, where the "
            "funnel, not the overhead, dominates."
        )
        assert n_diff == 0
    finally:
        SX.SA_DOC_MOD = old_mod
        stages.release_all()

    # ---- suffix cut rung (r15, VERDICT ask #6): d24 composes spans ->
    # offset join -> gaps-and-islands -> positional-lambda char cut;
    # d25 (the segmented span default) adds two segment joins. Neither
    # had a 1x-vs-10x rung. Scale by DOC COUNT, never doc size (slices
    # stay ~0.1 / ~1 MB — the r14 GC-wedge finding), and probe the
    # islands window's partition distribution: it partitions by
    # doc_id, so its max share should fall as docs grow — the window
    # that would NOT scale is one ordered over the whole corpus.
    print()
    print("## suffix cut rung (d24/d25, r15)")
    print()
    print("| mod | slice chars | spans s | spans | cut s | docs out "
          "| cut rows | islands parts | max part share | max DOC share |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    share_by_mod = {}
    for mod in (150, 15):
        SX.SA_DOC_MOD = mod
        stages.release_all()
        try:
            n_chars = SX.suffix_char_rows(spark, sf_dir).count()
            t0 = time.perf_counter()
            n_spans = SX.d25_segmented_spans(spark, sf_dir).count()
            t_spans = time.perf_counter() - t0
            t0 = time.perf_counter()
            n_docs_out = SX.d24_sa_span_cut(spark, sf_dir).count()
            t_cut = time.perf_counter() - t0
            # the islands window's input distribution: hash-partition
            # the cut-position frame by doc_id (exactly the exchange
            # Window.partitionBy("doc_id") plans) and count per task
            offs = SX._doc_offsets(spark, sf_dir)
            cuts = SX._span_cut_positions(spark, sf_dir, offs)
            per_pid = (
                cuts.repartition("doc_id")
                .withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .count()
                .collect()
            )
            n_cut_rows = sum(r["count"] for r in per_pid)
            mx = max((r["count"] for r in per_pid), default=0)
            share = mx / n_cut_rows if n_cut_rows else 0.0
            # the bound that actually matters at 100 TB: the window's
            # key granularity — no task can be forced to hold more
            # than its docs' rows, so the hottest DOC's share is the
            # irreducible skew (AQE legitimately coalesces these
            # tiny output-proportional frames to few tasks locally)
            per_doc = (
                cuts.groupBy("doc_id").count()
                .agg(F.max("count").alias("mx"))
                .first()
            )
            doc_share = (
                (per_doc["mx"] or 0) / n_cut_rows if n_cut_rows else 0.0
            )
            share_by_mod[mod] = (n_cut_rows, len(per_pid), share, doc_share)
            print(
                f"| {mod} | {n_chars} | {t_spans:.1f} | {n_spans} | "
                f"{t_cut:.1f} | {n_docs_out} | {n_cut_rows} | "
                f"{len(per_pid)} | {share:.1%} | {doc_share:.1%} |"
            )
        finally:
            SX.SA_DOC_MOD = old_mod
            stages.release_all()
    print()
    n10, p10, s10, d10 = share_by_mod[15]
    d1x = share_by_mod[150][3]
    print(f"The islands window partitions by doc_id, so its tasks are")
    print(f"bounded by the hottest DOCUMENT's cut count, not the")
    print(f"corpus: the max doc share fell {d1x:.1%} -> {d10:.1%} as")
    print("docs grew 10x (the whole-corpus ordered window this rung")
    print("exists to rule out would hold 100% at every size; the")
    print("offset table itself already runs the two-pass prefix sum).")
    print("The cut-row frames are output-proportional (duplicated")
    print("spans only), so AQE legitimately coalesces them to few")
    print("local tasks — the doc-share column is the scale-invariant")
    print("evidence. Spans and cut walls grow with the slice; no")
    print("single-task stage appears in either plan.")
    assert d10 <= d1x or d10 < 0.5, share_by_mod
    spark.stop()


if __name__ == "__main__":
    main()
