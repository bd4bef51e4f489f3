"""Optional HTTP layer over the serving query shapes — the reference's
Flask API surface (reference app.py:144-308), kept deliberately thin:
every endpoint parses params, builds the same query shapes as
serving.py, collects, jsonifies. No query logic lives here, and nothing
is computed ahead of a request. Two intended differences from
serving.py, both so a request runs the fewest Spark jobs its answer
needs:
- a serving table whose scan is one partition is cached as
  ``coalesce(1)``: the cached relation then reports SinglePartition,
  which already satisfies the distinct/agg/orderBy distributions, so no
  Exchange (and no extra AQE stage job) is planned — one job per query;
- /recommend_similar_app_by_name collects the anchor's label in its
  existence check (one round trip) and filters on it, where
  srv_similar_in_cluster (one DataFrame, no collect) joins the anchor.

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
    shape), then each route is a pure plan over the cached frames."""
    if not HAVE_FLASK:
        raise RuntimeError(
            "flask is not installed; the engine's serving layer is usable "
            "directly via a3_fp_bigdata_spark.serving (pure DataFrames)"
        )
    app = Flask("a3_fp_bigdata_spark")

    orders = _cached(table(spark, sf_dir, "orders"))  # app.py:114-115
    customer = _cached(table(spark, sf_dir, "customer"))
    emb = _cached(table(spark, sf_dir, "embeddings"))

    @app.get("/check_data")
    def check_data():
        stats = orders.agg(
            F.count("*").alias("cnt"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        return jsonify(
            {
                "status": "ok",
                "columns": orders.columns,
                "stats": _rows(stats)[0],
                "sample": _rows(orders.limit(3)),
            }
        )

    @app.get("/categories")
    def categories():
        cats = (
            customer.select(F.col("c_mktsegment").alias("category"))
            .filter(F.col("category").isNotNull())
            .distinct()
            .orderBy("category")
        )
        return jsonify([r["category"] for r in _rows(cats)])

    @app.get("/search_app_suggestions")
    def suggestions():
        q = request.args.get("q", "").strip().lower()
        if len(q) < 2:  # reference app.py:169
            return jsonify({"error": "query must be at least 2 characters"}), 400
        hits = (
            customer.filter(F.lower(F.col("c_name")).contains(q))
            .select("c_custkey", "c_name", "c_mktsegment")
            .distinct()
            .orderBy("c_custkey")
            .limit(15)
        )
        return jsonify(_rows(hits))

    @app.get("/app_details_by_id/<int:key>")
    def details(key: int):
        rows = _rows(orders.filter(F.col("o_orderkey") == key).limit(1))
        if not rows:
            return jsonify({"error": f"id {key} not found"}), 404
        return jsonify(rows[0])

    @app.get("/recommend_apps_by_category/<category>")
    def by_category(category: str):
        recs = (
            orders.filter(F.lower(F.col("o_orderpriority")) == category.lower())
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select(
                *valid_cols(orders, ["o_orderkey", "o_totalprice", "o_orderdate"])
            )
            .limit(20)
        )
        return jsonify(_rows(recs))

    @app.get("/top_apps")
    def top_apps():
        sort_by = request.args.get("sort_by", "o_totalprice")
        try:
            limit = int(request.args.get("limit", 10))
        except ValueError:
            return jsonify({"error": "limit must be an integer"}), 400
        if limit < 0:
            return jsonify({"error": "limit must be >= 0"}), 400
        limit = min(limit, 50)  # UI cap; limit=0 legitimately means none
        category = request.args.get("category")
        try:
            df = top_records(
                orders,
                sort_by=sort_by,
                limit=limit,
                tie_break="o_orderkey",
                select_cols=["o_orderkey", "o_custkey", "o_totalprice"],
                category=("o_orderpriority", category) if category else None,
            )
        except ValueError as e:  # P9 validation, app.py:238-239
            return jsonify({"error": str(e)}), 400
        return jsonify(_rows(df))

    @app.get("/recommend_similar_app_by_name/<int:vec_id>")
    def similar(vec_id: int):
        anchor = (
            emb.filter(F.col("vec_id") == vec_id).select("label").limit(1).collect()
        )
        if not anchor:
            return jsonify({"error": f"vector {vec_id} not found"}), 404
        # a null anchor label matches nothing, as an equi-join on it would
        peers = (
            emb.filter(
                (F.col("label") == F.lit(anchor[0]["label"]))
                & (F.col("vec_id") != vec_id)
            )
            .select("vec_id", "label")
            .orderBy("vec_id")
            .limit(10)
        )
        return jsonify(_rows(peers))

    @app.get("/apps_in_cluster/<int:k>")
    def in_cluster(k: int):
        rows = (
            emb.filter(F.col("label") == k)
            .select("vec_id", "label")
            .orderBy("vec_id")
            .limit(20)
        )
        return jsonify(_rows(rows))

    return app
