"""Output checks against DuckDB over the same parquet the engine read.

They run outside the timed window. Each returns True when the engine's
output equals the independent DuckDB answer.
"""

from __future__ import annotations

import datetime
import math

import duckdb


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _jsonable(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def rows(con, sql: str, params: list | None = None) -> list[dict]:
    cur = con.execute(sql, params or [])
    names = [d[0] for d in cur.description]
    return [
        {n: _jsonable(v) for n, v in zip(names, r)} for r in cur.fetchall()
    ]


# ---------------------------------------------------------------------------
# serve: one oracle per route, the srv_* query shapes with the request's
# own parameters
# ---------------------------------------------------------------------------

_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (
            isinstance(a, (int, float))
            and isinstance(b, (int, float))
            and math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0)
        )
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def expected_body(con, route: str, p: dict):
    """The body a 200 response must carry for ``route`` with params
    ``p``; None when the oracle has no exact answer (check_data's
    sample, which is checked row by row instead)."""
    if route == "categories":
        return [
            r["category"]
            for r in rows(
                con,
                "SELECT DISTINCT c_mktsegment AS category FROM customer "
                "WHERE c_mktsegment IS NOT NULL ORDER BY category",
            )
        ]
    if route == "search_app_suggestions":
        return rows(
            con,
            "SELECT DISTINCT c_custkey, c_name, c_mktsegment FROM customer "
            "WHERE contains(lower(c_name), ?) ORDER BY c_custkey LIMIT 15",
            [p["q"].strip().lower()],
        )
    if route == "app_details_by_id":
        found = rows(
            con, f"SELECT {_ORDER_COLS} FROM orders WHERE o_orderkey = ?",
            [p["key"]],
        )
        return found[0]
    if route == "recommend_apps_by_category":
        return rows(
            con,
            "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
            "WHERE lower(o_orderpriority) = ? "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
            [p["category"].lower()],
        )
    if route == "top_apps":
        where = "WHERE o_orderpriority = ?" if p.get("category") else ""
        args = [p["category"]] if p.get("category") else []
        return rows(
            con,
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders {where} "
            f"ORDER BY {p['sort_by']} DESC, o_orderkey "
            f"LIMIT {min(p['limit'], 50)}",
            args,
        )
    if route == "recommend_similar_app_by_name":
        return rows(
            con,
            "SELECT vec_id, label FROM embeddings WHERE label = "
            "(SELECT label FROM embeddings WHERE vec_id = ?) AND vec_id <> ? "
            "ORDER BY vec_id LIMIT 10",
            [p["vec_id"], p["vec_id"]],
        )
    if route == "apps_in_cluster":
        return rows(
            con,
            "SELECT vec_id, label FROM embeddings WHERE label = ? "
            "ORDER BY vec_id LIMIT 20",
            [p["k"]],
        )
    raise ValueError(f"unknown route {route!r}")


def check_response(con, route: str, p: dict, status: int, body, expect_status: int) -> bool:
    if status != expect_status:
        return False
    if status != 200:
        return isinstance(body, dict) and "error" in body
    if route == "check_data":
        stats = rows(
            con,
            "SELECT count(*) AS cnt, min(o_orderkey) AS min_key, "
            "max(o_orderkey) AS max_key FROM orders",
        )[0]
        cols = [r["column_name"] for r in rows(con, "DESCRIBE orders")]
        sample = body.get("sample", [])
        return (
            body.get("status") == "ok"
            and body.get("columns") == cols
            and _same(body.get("stats"), stats)
            and len(sample) == 3
            and all(
                _same(r, expected_body(con, "app_details_by_id",
                                       {"key": r["o_orderkey"]}))
                for r in sample
            )
        )
    return _same(body, expected_body(con, route, p))


# ---------------------------------------------------------------------------
# pipeline: staged tables equal their sources, served table is complete
# ---------------------------------------------------------------------------


def check_pipeline_pass(src_dir: str, pass_dir: str) -> bool:
    con = connect(src_dir, ("customer", "orders", "documents"))
    try:
        for t in ("orders", "customer"):
            staged = f"read_parquet('{pass_dir}/staged/{t}.parquet/*.parquet')"
            # both directions of EXCEPT ALL: equal multisets of full rows,
            # which covers count and every key
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM {t} EXCEPT ALL "
                f"SELECT * FROM {staged})) + (SELECT count(*) FROM (SELECT * "
                f"FROM {staged} EXCEPT ALL SELECT * FROM {t}))"
            ).fetchone()[0]
            if diff != 0:
                return False
        served = f"read_parquet('{pass_dir}/served/*.parquet')"
        n_cust, n_rows, n_keys, n_clusters = con.execute(
            f"SELECT (SELECT count(*) FROM customer), count(*), "
            f"count(DISTINCT c_custkey), count(DISTINCT cluster) FROM {served}"
        ).fetchone()
        covered = con.execute(
            f"SELECT count(*) FROM customer c SEMI JOIN {served} s "
            f"ON s.c_custkey = c.c_custkey"
        ).fetchone()[0]
        feats = con.execute(
            f"SELECT (SELECT count(*) FROM documents), count(DISTINCT media_id) "
            f"FROM read_parquet('{pass_dir}/features/*.parquet')"
        ).fetchone()
        return (
            n_rows == n_cust == n_keys == covered
            and n_clusters == 5
            and feats[0] == feats[1]
        )
    finally:
        con.close()


# ---------------------------------------------------------------------------
# corpus: the release manifest equals the registry's DuckDB replay
# ---------------------------------------------------------------------------


def corpus_expected(sf_dir: str, oracle_sql: str) -> list[tuple]:
    con = connect(sf_dir, ("documents", "embeddings"))
    try:
        cur = con.execute(oracle_sql)
        names = [d[0] for d in cur.description]
        return sorted(
            tuple(dict(zip(names, r))[c] for c in sorted(names))
            for r in cur.fetchall()
        )
    finally:
        con.close()


def corpus_rows(spark_rows) -> list[tuple]:
    return sorted(
        tuple(r.asDict()[c] for c in sorted(r.asDict())) for r in spark_rows
    )
