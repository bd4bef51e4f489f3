"""Optional HTTP layer over the serving query shapes — the reference's
Flask API surface (reference app.py:144-308), kept deliberately thin:
every endpoint parses params, builds the same query shapes as
serving.py, collects, jsonifies. No query logic lives here, and nothing
is computed ahead of a request. Four intended differences from
serving.py, all so a request runs the fewest Spark jobs its answer
needs:
- a serving table whose scan is one partition is cached as
  ``coalesce(1)``: the cached relation then reports SinglePartition,
  which already satisfies the distinct/agg/orderBy distributions, so no
  Exchange (and no extra AQE stage job) is planned — one job per query;
- each app memoizes its answers: the tables are a snapshot pinned at
  startup, so an answer depends only on the route and its normalized
  arguments. The first request for a key runs its query (check_data:
  two), a repeat runs none. The memo is an LRU of ``ANSWER_CACHE_SIZE``
  answers that lives as long as the app and its cached tables, so it is
  exactly as stale as they are. 404s are memoized too; the 400s, all
  decided before any query (short q, bad limit, unknown sort_by), are
  not, and neither is a request whose text is over ``MEMO_KEY_CHARS``;
- /recommend_similar_app_by_name collects the anchor's label in its
  existence check (one job) and reads the peers off that label's
  memoized /apps_in_cluster listing, where srv_similar_in_cluster (one
  DataFrame, no collect) joins the anchor;
- /top_apps always queries the top ``TOP_LIMIT`` rows of its (sort_by,
  category) and slices them to the requested limit after the memo, so
  every limit reads one memoized listing. The order, sort_by descending
  then the unique o_orderkey, is total, so the top L rows are exactly
  the listing's first L.

Flask is an optional dependency (import-gated): the engine is complete
without HTTP; `build_app` raises a clear error if Flask is absent.

Parity notes vs the reference:
- serving tables cached at startup, each with an eager count (S3,
  app.py:114-115);
- /search_app_suggestions enforces min 2 chars (app.py:169) -> 400;
- /top_apps validates sort_by against the schema (P9, app.py:238-239) -> 400;
- distinct-before-orderBy fix documented in SURVEY §2.6 applies here too.
"""

from __future__ import annotations

import datetime
import functools
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.serving import top_records, valid_cols

try:
    from flask import Flask, jsonify, request

    HAVE_FLASK = True
except ImportError:  # pragma: no cover
    HAVE_FLASK = False

#: Answers one app memoizes, least recently used first out. The largest
#: answer, a 50-row /top_apps list, is ~14 KB of Python objects, and a
#: key at most MEMO_KEY_CHARS of text, so a full memo stays under ~16 MB.
ANSWER_CACHE_SIZE = 1024
#: Longest text an answer is memoized under (q, or category plus
#: sort_by). A request with longer text, which no served value comes
#: near, is answered without the memo, so what clients send cannot
#: grow it past its bound.
MEMO_KEY_CHARS = 256
#: Most rows a /top_apps answer holds: the reference UI's cap on the
#: limit a user picks (SURVEY §2.6). A larger limit is clamped to it,
#: and every limit is sliced from one listing of this many rows.
TOP_LIMIT = 50
#: Rows in an /apps_in_cluster listing and in a similar-app answer.
CLUSTER_LIMIT = 20
SIMILAR_LIMIT = 10
# similar-app answers are read off the anchor label's cluster listing:
# its first CLUSTER_LIMIT ids hold the first SIMILAR_LIMIT ids other
# than the anchor only if it has room for the anchor too
assert CLUSTER_LIMIT >= SIMILAR_LIMIT + 1, (CLUSTER_LIMIT, SIMILAR_LIMIT)


def _rows(df: DataFrame) -> list[dict[str, Any]]:
    out = []
    for r in df.collect():
        d = r.asDict()
        for k, v in d.items():
            if isinstance(v, (datetime.datetime, datetime.date)):
                d[k] = v.isoformat()
        out.append(d)
    return out


def _cached(df: DataFrame) -> DataFrame:
    """Cache a serving table and materialize it. A one-partition scan is
    cached as ``coalesce(1)``, which moves no data but makes the cached
    relation report SinglePartition; a wider scan keeps its
    parallelism."""
    if df.rdd.getNumPartitions() == 1:
        df = df.coalesce(1)
    df = df.cache()
    df.count()
    return df


def build_app(spark: SparkSession, sf_dir: str) -> "Flask":
    """App factory. Loads, caches and warms the serving tables once (S3
    shape). Each route's body is a plain function of its normalized
    arguments that returns ``(payload, status)``; the routes reach the
    bodies through one answer memo per app (``app.extensions
    ["serving_answers"]``, an ``lru_cache`` of ``ANSWER_CACHE_SIZE``),
    so each distinct request over this app's snapshot runs its query once
    (requests for a key that arrive before its first answer each run it)."""
    if not HAVE_FLASK:
        raise RuntimeError(
            "flask is not installed; the engine's serving layer is usable "
            "directly via a3_fp_bigdata_spark.serving (pure DataFrames)"
        )
    app = Flask("a3_fp_bigdata_spark")

    orders = _cached(table(spark, sf_dir, "orders"))  # app.py:114-115
    customer = _cached(table(spark, sf_dir, "customer"))
    emb = _cached(table(spark, sf_dir, "embeddings"))

    def check_data_answer():
        stats = orders.agg(
            F.count("*").alias("cnt"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        return {
            "status": "ok",
            "columns": orders.columns,
            "stats": _rows(stats)[0],
            "sample": _rows(orders.limit(3)),
        }, 200

    def categories_answer():
        cats = (
            customer.select(F.col("c_mktsegment").alias("category"))
            .filter(F.col("category").isNotNull())
            .distinct()
            .orderBy("category")
        )
        return [r["category"] for r in _rows(cats)], 200

    def suggestions_answer(q: str):
        hits = (
            customer.filter(F.lower(F.col("c_name")).contains(q))
            .select("c_custkey", "c_name", "c_mktsegment")
            .distinct()
            .orderBy("c_custkey")
            .limit(15)
        )
        return _rows(hits), 200

    def details_answer(key: int):
        rows = _rows(orders.filter(F.col("o_orderkey") == key).limit(1))
        if not rows:
            return {"error": f"id {key} not found"}, 404
        return rows[0], 200

    def by_category_answer(category: str):
        recs = (
            orders.filter(F.lower(F.col("o_orderpriority")) == category)
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select(
                *valid_cols(orders, ["o_orderkey", "o_totalprice", "o_orderdate"])
            )
            .limit(20)
        )
        return _rows(recs), 200

    def top_apps_answer(sort_by: str, category: str | None):
        df = top_records(
            orders,
            sort_by=sort_by,
            limit=TOP_LIMIT,
            tie_break="o_orderkey",
            select_cols=["o_orderkey", "o_custkey", "o_totalprice"],
            category=("o_orderpriority", category) if category else None,
        )
        return _rows(df), 200

    def similar_answer(vec_id: int):
        anchor = (
            emb.filter(F.col("vec_id") == vec_id).select("label").limit(1).collect()
        )
        if not anchor:
            return {"error": f"vector {vec_id} not found"}, 404
        label = anchor[0]["label"]
        if label is None:  # matches nothing, as an equi-join on it would
            return [], 200
        listing, _ = answer(in_cluster_answer, label)
        return [r for r in listing if r["vec_id"] != vec_id][:SIMILAR_LIMIT], 200

    def in_cluster_answer(k: int):
        rows = (
            emb.filter(F.col("label") == k)
            .select("vec_id", "label")
            .orderBy("vec_id")
            .limit(CLUSTER_LIMIT)
        )
        return _rows(rows), 200

    # every request for a key gets the same payload object, so nothing
    # may mutate one: jsonify only reads it, and similar_answer and
    # /top_apps build new lists over a listing's rows
    @functools.lru_cache(maxsize=ANSWER_CACHE_SIZE)
    def answer(body, *key):
        return body(*key)

    app.extensions["serving_answers"] = answer

    def lookup(body, *key):
        """``(payload, status)`` of ``body(*key)``, from the memo unless
        the key's text is over MEMO_KEY_CHARS."""
        if sum(len(k) for k in key if isinstance(k, str)) > MEMO_KEY_CHARS:
            return body(*key)
        return answer(body, *key)

    def reply(body, *key):
        payload, status = lookup(body, *key)
        return jsonify(payload), status

    @app.get("/check_data")
    def check_data():
        return reply(check_data_answer)

    @app.get("/categories")
    def categories():
        return reply(categories_answer)

    @app.get("/search_app_suggestions")
    def suggestions():
        q = request.args.get("q", "").strip().lower()
        if len(q) < 2:  # reference app.py:169
            return jsonify({"error": "query must be at least 2 characters"}), 400
        return reply(suggestions_answer, q)

    @app.get("/app_details_by_id/<int:key>")
    def details(key: int):
        return reply(details_answer, key)

    @app.get("/recommend_apps_by_category/<category>")
    def by_category(category: str):
        return reply(by_category_answer, category.lower())

    @app.get("/top_apps")
    def top_apps():
        sort_by = request.args.get("sort_by", "o_totalprice")
        try:
            limit = int(request.args.get("limit", 10))
        except ValueError:
            return jsonify({"error": "limit must be an integer"}), 400
        if limit < 0:
            return jsonify({"error": "limit must be >= 0"}), 400
        limit = min(limit, TOP_LIMIT)  # UI cap; limit=0 legitimately means none
        if sort_by not in orders.columns:  # P9 validation, app.py:238-239
            return jsonify({"error": f"invalid sort_by column: {sort_by}"}), 400
        category = request.args.get("category") or None
        payload, status = lookup(top_apps_answer, sort_by, category)
        return jsonify(payload[:limit]), status

    @app.get("/recommend_similar_app_by_name/<int:vec_id>")
    def similar(vec_id: int):
        return reply(similar_answer, vec_id)

    @app.get("/apps_in_cluster/<int:k>")
    def in_cluster(k: int):
        return reply(in_cluster_answer, k)

    return app
