"""The three workloads. Each drives the package only through its public
functions and keeps what its output checks need.

Warm policy. Every run is a fresh process with a fresh ``local[N]``
session. ``serve``'s ``setup`` runs ``build_app`` in the cold session,
as a server that has just started does, then warms with
``WARM_BLOCKS`` blocks of untimed requests from ``CLIENTS`` clients, so
the timed requests see warm JIT, codegen and Python workers, as a
long-running server's requests do. ``pipeline`` and ``corpus`` are batch jobs: their timed
operation is the first pass in the fresh session, with cold JIT and
cold in-session stage memos, as a job submitted for a new batch of
input or a new corpus snapshot pays them. Operations after the first
run with warm JIT; at the benchmark's run length there is one.

``measure`` runs the timed operations (``op``) for the run's seconds;
``verify`` returns how many operations
gave a wrong output or status. With a tracer on, ``layers`` returns the
per-layer metrics.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote, urlencode

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import EVENT_COUNTERS, dir_output

#: Table sizes as scale factors (see gen.ROWS_PER_SF). corpus runs 100
#: documents: its DuckDB oracle replays the whole chain and takes ~9 s
#: at that size, ~50 s at 500.
SIZES = {
    "bench": {"serve": 0.1, "pipeline": 0.01, "corpus": 0.002},
    "smoke": {"serve": 0.001, "pipeline": 0.001, "corpus": 0.001},
}


class Workload:
    tables: tuple[str, ...] = ()

    def __init__(self, scratch: str, seed: int, size: str):
        """The benchmark's own preparation, before the session starts:
        the seeded input tables (and, for ``serve``, the request
        parameters). It is not part of ``setup_s``."""
        self.scratch = os.path.join(scratch, self.name)
        self.seed = seed
        self.size = size
        self.sf = SIZES[size][self.name]
        self.data_dir = gen.make_tables(
            os.path.join(self.scratch, "tables"), seed, self.sf, self.tables
        )

    def info(self) -> dict:
        return {"sf": self.sf}

    def setup(self, spark, tracer) -> None:
        """The program's set-up, timed as ``setup_s``."""
        self.spark = spark
        self.tracer = tracer

    def measure(self, seconds: float) -> tuple[list[float], float]:
        """Timed operations, one after another, until ``seconds`` of
        operation time have passed; returns (operation walls, elapsed)."""
        walls: list[float] = []
        while not walls or sum(walls) < seconds:
            walls.append(self.op())
        return walls, sum(walls)

    def breakdown(self) -> tuple[int, int]:
        """Traced runs only: extra untimed work whose layers the traced
        run reports; returns (operations checked, operations wrong)."""
        return 0, 0


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

#: Request mix: requests per route in each block of 16. No recorded
#: traffic for the served app exists, so every route gets the same
#: share; this is an assumption, not a measurement. Blocks are shuffled
#: by the seed, so every run sends the same mix in its own order.
ROUTE_WEIGHTS = {
    "check_data": 2,
    "categories": 2,
    "search_app_suggestions": 2,
    "app_details_by_id": 2,
    "recommend_apps_by_category": 2,
    "top_apps": 2,
    "recommend_similar_app_by_name": 2,
    "apps_in_cluster": 2,
}
#: One request per block (1 in 16) is built to fail: a 1-char search, an
#: unknown order id, a bad sort_by or an unknown vector id. It counts as
#: correct when it comes back with its error status.
_ERROR_ROUTES = (
    "search_app_suggestions",
    "app_details_by_id",
    "top_apps",
    "recommend_similar_app_by_name",
)
#: Closed-loop clients, one per usable core, for the warm-up and the
#: timed window. Together they keep every core busy; one client left
#: the cores mostly idle, and its latency then followed how long a
#: shared host took to reschedule an idle vCPU (see README.md, Cost and
#: spread).
CLIENTS = len(os.sched_getaffinity(0))
#: Untimed request blocks sent after one request of each kind (172
#: requests in all): request latency keeps falling over a session's
#: first ~200 requests. The warm-up uses the timed app: one over sf0.01
#: tables left the first half of the timed requests up to 25% slower
#: than the second.
WARM_BLOCKS = 10
_TOP_SORT_COLS = ("o_totalprice", "o_orderdate", "o_orderkey", "o_custkey")


class Requests:
    """Seeded request generator whose parameters come from the tables'
    real key sets, so a request fails only when it was built to fail."""

    def __init__(self, sf_dir: str, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        read = lambda t, c: pq.read_table(f"{sf_dir}/{t}.parquet", columns=[c])[c]
        self.order_keys = read("orders", "o_orderkey").to_numpy()
        self.names = read("customer", "c_name").to_pylist()
        self.priorities = sorted(set(read("orders", "o_orderpriority").to_pylist()))
        self.vec_ids = read("embeddings", "vec_id").to_numpy()
        self.labels = sorted(set(read("embeddings", "label").to_pylist()))
        self.queue: list[tuple[str, bool]] = []

    def _pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    def make(self, route: str, fail: bool) -> tuple[str, dict, int]:
        """(url, params, expected status) for one request."""
        rng = self.rng
        if route == "check_data":
            return "/check_data", {}, 200
        if route == "categories":
            return "/categories", {}, 200
        if route == "search_app_suggestions":
            name = self._pick(self.names).lower()
            n = 1 if fail else int(rng.integers(2, 5))
            start = int(rng.integers(0, len(name) - n + 1))
            q = name[start:start + n]
            return f"/search_app_suggestions?{urlencode({'q': q})}", {"q": q}, \
                400 if fail else 200
        if route == "app_details_by_id":
            key = int(self.order_keys.max()) + 1 + int(rng.integers(0, 1000)) if fail \
                else int(self._pick(self.order_keys))
            return f"/app_details_by_id/{key}", {"key": key}, 404 if fail else 200
        if route == "recommend_apps_by_category":
            cat = self._pick(self.priorities)
            cat = cat.lower() if rng.random() < 0.5 else cat
            return f"/recommend_apps_by_category/{quote(cat)}", {"category": cat}, 200
        if route == "top_apps":
            sort_by = "no_such_column" if fail else self._pick(_TOP_SORT_COLS)
            limit = int(rng.integers(0, 61))
            p = {"sort_by": sort_by, "limit": limit}
            if rng.random() < 0.5:
                p["category"] = self._pick(self.priorities)
            return f"/top_apps?{urlencode(p)}", p, 400 if fail else 200
        if route == "recommend_similar_app_by_name":
            vid = int(self.vec_ids.max()) + 1 + int(rng.integers(0, 1000)) if fail \
                else int(self._pick(self.vec_ids))
            return f"/recommend_similar_app_by_name/{vid}", {"vec_id": vid}, \
                404 if fail else 200
        if route == "apps_in_cluster":
            k = int(self._pick(self.labels))
            return f"/apps_in_cluster/{k}", {"k": k}, 200
        raise ValueError(route)

    def next(self) -> tuple[str, str, dict, int]:
        if not self.queue:
            block = [r for r, n in ROUTE_WEIGHTS.items() for _ in range(n)]
            self.rng.shuffle(block)
            failing = self.rng.choice(
                [i for i, r in enumerate(block) if r in _ERROR_ROUTES])
            self.queue = [(r, i == failing) for i, r in enumerate(block)]
        route, fail = self.queue.pop()
        return (route, *self.make(route, fail))

    def one_of_each(self) -> list[tuple[str, str, dict, int]]:
        out = [(r, *self.make(r, False)) for r in ROUTE_WEIGHTS]
        return out + [(r, *self.make(r, True)) for r in _ERROR_ROUTES]


class Serve(Workload):
    name = "serve"
    tables = ("orders", "customer", "embeddings")

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.warm = Requests(self.data_dir, self.seed + 1)
        self.requests = Requests(self.data_dir, self.seed)
        self.lock = threading.Lock()
        self.log: list[tuple] = []

    def info(self) -> dict:
        return {**super().info(), "clients": CLIENTS, "route_weights": ROUTE_WEIGHTS}

    def _request(self, client, req) -> tuple[int, object]:
        route, url, _p, _s = req
        with self.tracer.span(f"serving_http.{route}"):
            resp = client.get(url)
            body = resp.get_json(silent=True)
        return resp.status_code, body

    def setup(self, spark, tracer) -> None:
        from a3_fp_bigdata_spark import serving_http

        super().setup(spark, tracer)
        with tracer.span("serving_http.build_app"):
            self.app = serving_http.build_app(spark, self.data_dir)
        # the warm-up requests open no span, so the route layers count
        # only the timed requests
        urls = [req[1] for req in self.warm.one_of_each()] + [
            self.warm.next()[1]
            for _ in range(WARM_BLOCKS * sum(ROUTE_WEIGHTS.values()))
        ]
        clients = threading.local()

        def send(url: str) -> None:
            if not hasattr(clients, "c"):
                clients.c = self.app.test_client()
            clients.c.get(url)

        with ThreadPoolExecutor(CLIENTS) as pool:
            list(pool.map(send, urls))

    def op(self, client) -> float:
        with self.lock:
            req = self.requests.next()
        t0 = time.perf_counter()
        status, body = self._request(client, req)
        wall = time.perf_counter() - t0
        self.log.append((*req, status, body))
        return wall

    def measure(self, seconds: float) -> tuple[list[float], float]:
        """``CLIENTS`` closed-loop clients, each sending its next request
        as soon as its last one returns, until ``seconds`` have passed."""
        walls: list[float] = []
        deadline = time.perf_counter() + seconds

        def client() -> None:
            c = self.app.test_client()
            walls.append(self.op(c))
            while time.perf_counter() < deadline:
                walls.append(self.op(c))

        t0 = time.perf_counter()
        with ThreadPoolExecutor(CLIENTS) as pool:
            for f in [pool.submit(client) for _ in range(CLIENTS)]:
                f.result()
        return walls, time.perf_counter() - t0

    def verify(self) -> int:
        con = oracle.connect(self.data_dir, self.tables)
        try:
            return sum(
                not oracle.check_response(con, route, p, status, body, expect)
                for route, _url, p, expect, status, body in self.log
            )
        finally:
            con.close()

    def breakdown(self) -> tuple[int, int]:
        """The reference dataflow that feeds a served table, run once
        after the timed requests so its calls' layers are measured on
        this workload too (JIT warm from serving, memos cold)."""
        self.pipeline = Pipeline(self.scratch, self.seed, self.size)
        self.pipeline.setup(self.spark, self.tracer)
        self.pipeline.op()
        return 1, self.pipeline.verify()

    def layers(self, folded: dict) -> dict:
        out = self.pipeline.layers(folded) if hasattr(self, "pipeline") else {}
        for route in ROUTE_WEIGHTS:
            call = f"serving_http.{route}"
            n = max(1, len(self.tracer.walls.get(call, [])))
            c = folded.get(call, {})
            out[f"{call}.wall_ms"] = self.tracer.median_wall(call) * 1000
            out[f"{call}.jobs"] = c.get("jobs", 0) / n
            out[f"{call}.tasks"] = c.get("tasks", 0) / n
        out["serving_http.build_app.wall_s"] = self.tracer.median_wall(
            "serving_http.build_app")
        return out


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

#: The reference dataflow's public calls, in order; writers also report
#: the files and bytes they wrote, ingest its micro-batch count.
PIPELINE_CALLS = (
    "sources.kafka_io.to_payload",
    "streaming.ingest.micro_batch_csv_sink",
    "sources.csv_io.read_csv_dir",
    "multimodal.images.extract_features",
    "ml.pipelines.fit_transform",
    "sources.parquet_io.write_parquet_overwrite",
)
PIPELINE_WRITERS = {
    "sources.kafka_io.to_payload": "topic",
    "streaming.ingest.micro_batch_csv_sink": "batches",
    "sources.csv_io.read_csv_dir": "staged",
    "multimodal.images.extract_features": "features",
    "sources.parquet_io.write_parquet_overwrite": "served",
}
#: Each topic is written as this many files; the consumer reads one
#: file per micro-batch.
TOPIC_FILES = 4
_TOPIC_KEYS = {"orders": "o_orderkey", "customer": "c_custkey"}


class Pipeline(Workload):
    name = "pipeline"
    tables = ("orders", "customer", "documents")

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.passes: list[str] = []
        self.batches: list[int] = []

    def _pass(self, out: str) -> int:
        """The reference dataflow from a JSON topic to the served table;
        returns the number of micro-batches ingested."""
        from a3_fp_bigdata_spark.data import table
        from a3_fp_bigdata_spark.ml import pipelines
        from a3_fp_bigdata_spark.multimodal import images
        from a3_fp_bigdata_spark.sources import csv_io, kafka_io, parquet_io
        from a3_fp_bigdata_spark.streaming import ingest

        spark, span, src = self.spark, self.tracer.span, self.data_dir
        src_tables = {t: table(spark, src, t) for t in _TOPIC_KEYS}
        with span("sources.kafka_io.to_payload"):
            for t, key in _TOPIC_KEYS.items():
                n = pq.read_metadata(f"{src}/{t}.parquet").num_rows
                kafka_io.to_payload(src_tables[t], key_col=key).coalesce(1).write \
                    .option("maxRecordsPerFile", -(-n // TOPIC_FILES)) \
                    .json(f"{out}/topic/{t}")
        batches = 0
        call = "streaming.ingest.micro_batch_csv_sink"
        with span(call):
            for t in _TOPIC_KEYS:
                stream = spark.readStream.schema("key string, value string") \
                    .option("maxFilesPerTrigger", 1).json(f"{out}/topic/{t}")
                q = ingest.micro_batch_csv_sink(
                    kafka_io.parse_payload(stream, src_tables[t].schema),
                    f"{out}/batches/{t}", f"{out}/checkpoints/{t}",
                )
                self.tracer.charge_stream(q.runId, call)
                q.awaitTermination()
                batches += sum(p.numInputRows > 0 for p in q.recentProgress)
        with span("sources.csv_io.read_csv_dir"):
            for t in _TOPIC_KEYS:
                schema = src_tables[t].schema
                # the batch=<id> directories surface as a partition
                # column; the staged table keeps the declared columns
                staged = csv_io.read_csv_dir(spark, f"{out}/batches/{t}", schema)
                parquet_io.write_parquet_overwrite(
                    staged.select(*schema.names), f"{out}/staged/{t}.parquet"
                )
        with span("multimodal.images.extract_features"):
            parquet_io.write_parquet_overwrite(
                images.extract_features(images.media_table(spark, src)),
                f"{out}/features",
            )
        with span("ml.pipelines.fit_transform"):
            final, _km, _rf, _rmse = pipelines.fit_transform(spark, f"{out}/staged")
        with span("sources.parquet_io.write_parquet_overwrite"):
            parquet_io.write_parquet_overwrite(final, f"{out}/served")
        return batches

    def op(self) -> float:
        out = os.path.join(self.scratch, f"pass{len(self.passes)}")
        t0 = time.perf_counter()
        self.batches.append(self._pass(out))
        wall = time.perf_counter() - t0
        self.passes.append(out)
        return wall

    def verify(self) -> int:
        return sum(
            not oracle.check_pipeline_pass(self.data_dir, p) for p in self.passes
        )

    def layers(self, folded: dict) -> dict:
        n = max(1, len(self.passes))
        out = {}
        for call in PIPELINE_CALLS:
            c = folded.get(call, {})
            out[f"{call}.wall_s"] = self.tracer.median_wall(call)
            for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
                out[f"{call}.{k}"] = c.get(k, 0) / n
            if call in PIPELINE_WRITERS:
                files, n_bytes = dir_output(
                    os.path.join(self.passes[0], PIPELINE_WRITERS[call]))
                out[f"{call}.bytes_written"] = n_bytes
                out[f"{call}.files_written"] = files
        out["streaming.ingest.micro_batch_csv_sink.batches"] = statistics.median(
            self.batches)
        return out


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

#: pl8's stages, in chain order, each timed from outside in the traced
#: run's breakdown pass; pl8 itself is the timed operation.
CORPUS_CALLS = (
    "operators.dedup.d16_span_cut",
    "operators.dedup.d12_dedup_clusters",
    "operators.text_analysis.tx9_decontaminate",
    "operators.dedup.d18_fuzzy_decontaminate",
    "operators.similarity.materialize_d17_verdict",
    "operators.packing.pl6_forget_ledger",
)
PL8 = "operators.packing.pl8_release_manifest"


class Corpus(Workload):
    name = "corpus"
    tables = ("documents", "embeddings")

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.results: list = []

    def _fresh_snapshot(self) -> str:
        """A new directory holding the corpus: the package keys its stage
        memos by directory, so each operation starts with cold memos, as
        every new corpus snapshot does."""
        self._release()
        dst = os.path.join(self.scratch, f"snapshot{time.monotonic_ns()}")
        shutil.copytree(self.data_dir, dst)
        return dst

    def _release(self) -> None:
        from a3_fp_bigdata_spark import data, registry
        from a3_fp_bigdata_spark.operators import dedup, similarity, suffixes

        registry.release_pinned()
        dedup.release_shingle_stage()
        dedup.release_bucket_stage()
        dedup.release_cluster_stage()
        similarity.release_sim4_index()
        suffixes.release_caches()
        data.release_fingerprints()
        self.spark.catalog.clearCache()

    def _pl8(self, sf_dir: str) -> list:
        from a3_fp_bigdata_spark.operators.packing import pl8_release_manifest

        with self.tracer.span(PL8):
            return pl8_release_manifest(self.spark, sf_dir).collect()

    def op(self) -> float:
        snapshot = self._fresh_snapshot()
        t0 = time.perf_counter()
        rows = self._pl8(snapshot)
        wall = time.perf_counter() - t0
        self.results.append(rows)
        self.snapshot = snapshot
        return wall

    def verify(self) -> int:
        from a3_fp_bigdata_spark import registry

        # the oracle reads d17's verdict scratch, which the last
        # operation wrote for this same corpus
        want = oracle.corpus_expected(
            self.snapshot, registry.get("pl8_release_manifest").oracle
        )
        return sum(oracle.corpus_rows(r) != want for r in self.results)

    def breakdown(self) -> tuple[int, int]:
        """Each stage of pl8's chain called on its own, cold, under its
        own span, and forced to completion (its output is checked only
        inside pl8's)."""
        snapshot = self._fresh_snapshot()
        for call in CORPUS_CALLS:
            module, fn = call.rsplit(".", 1)
            stage = getattr(importlib.import_module(f"a3_fp_bigdata_spark.{module}"), fn)
            with self.tracer.span(call):
                stage(self.spark, snapshot).write.format("noop").mode("overwrite").save()
        return 0, 0

    def layers(self, folded: dict) -> dict:
        out = {}
        for call in (*CORPUS_CALLS, PL8):
            c = folded.get(call, {})
            n = max(1, len(self.tracer.walls.get(call, [])))
            out[f"{call}.wall_s"] = self.tracer.median_wall(call)
            for k in EVENT_COUNTERS:
                v = c.get(k, 0)
                out[f"{call}.{k}"] = v if k == "max_task_ms" else v / n
        return out


WORKLOADS = {w.name: w for w in (Serve, Pipeline, Corpus)}
