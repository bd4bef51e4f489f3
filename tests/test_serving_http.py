"""HTTP layer parity tests (reference app.py:144-308) via Flask test
client — no server process, same routes/verbs/status codes. Bodies are
compared with DuckDB over the same parquet; job counts pin how many
Spark jobs each request runs."""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001, job_group, job_ids

flask = pytest.importorskip("flask")

from a3_fp_bigdata_spark import serving_http  # noqa: E402

SERVED = ("orders", "customer", "embeddings")
KEYS = {"orders": "o_orderkey", "customer": "c_custkey", "embeddings": "vec_id"}
#: the embeddings row whose label the twin_apps tables null out
NULL_LABEL_ID = 7
#: a label the twin_apps tables give to exactly eleven embeddings rows
ELEVEN_LABEL = 99
ELEVEN_IDS = list(range(0, 401, 40))


@pytest.fixture(scope="module")
def client(spark):
    app = serving_http.build_app(spark, SF0001)
    app.testing = True
    return app.test_client()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in SERVED:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF0001}/{t}.parquet')"
        )
    yield con
    con.close()


def _rows(con, sql: str, params: list | None = None) -> list[dict]:
    cur = con.execute(sql, params or [])
    names = [d[0] for d in cur.description]
    return [
        {n: v.isoformat() if hasattr(v, "isoformat") else v for n, v in zip(names, r)}
        for r in cur.fetchall()
    ]


def _get(client, url: str):
    r = client.get(url)
    assert r.status_code == 200, url
    return r.get_json()


def test_check_data(client, duck):
    body = _get(client, "/check_data")
    assert body["status"] == "ok"
    assert body["stats"] == _rows(
        duck,
        "SELECT count(*) AS cnt, min(o_orderkey) AS min_key, "
        "max(o_orderkey) AS max_key FROM orders",
    )[0]
    assert body["stats"]["cnt"] > 0
    assert len(body["sample"]) == 3


def test_categories_sorted_nonnull(client, duck):
    cats = _get(client, "/categories")
    assert cats == sorted(cats) and None not in cats
    assert cats == [
        r["category"]
        for r in _rows(
            duck,
            "SELECT DISTINCT c_mktsegment AS category FROM customer "
            "WHERE c_mktsegment IS NOT NULL ORDER BY category",
        )
    ]


def _search_oracle(con, q: str) -> list[dict]:
    return _rows(
        con,
        "SELECT DISTINCT c_custkey, c_name, c_mktsegment FROM customer "
        "WHERE contains(lower(c_name), ?) ORDER BY c_custkey LIMIT 15",
        [q.strip().lower()],
    )


def test_suggestions_min_chars_400(client, duck):
    assert client.get("/search_app_suggestions?q=a").status_code == 400
    for q in ("19", "customer", "00001", "zz"):
        rows = _get(client, f"/search_app_suggestions?q={q}")
        assert len(rows) <= 15
        assert rows == _search_oracle(duck, q), q


def test_details_found_and_404(client):
    hit = client.get("/app_details_by_id/1")
    assert hit.status_code == 200 and hit.get_json()["o_orderkey"] == 1
    assert client.get("/app_details_by_id/999999999").status_code == 404


def _by_category_oracle(con, category: str) -> list[dict]:
    return _rows(
        con,
        "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
        "WHERE lower(o_orderpriority) = ? "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        [category.lower()],
    )


def test_by_category_case_insensitive(client, duck):
    for category in ("2-HIGH", "2-high", "5-LOW", "nope"):
        rows = _get(client, f"/recommend_apps_by_category/{category}")
        assert rows == _by_category_oracle(duck, category), category
    assert len(_get(client, "/recommend_apps_by_category/2-HIGH")) == 20


def _top_oracle(con, sort_by: str, limit: int, category: str | None) -> list[dict]:
    where = "WHERE o_orderpriority = ?" if category else ""
    return _rows(
        con,
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders {where} "
        f"ORDER BY {sort_by} DESC, o_orderkey LIMIT {min(limit, 50)}",
        [category] if category else [],
    )


def test_top_apps_validates_sort(client, duck):
    assert client.get("/top_apps?sort_by=nope").status_code == 400
    rows = _get(client, "/top_apps?limit=5")
    assert len(rows) == 5
    assert rows == _top_oracle(duck, "o_totalprice", 5, None)
    for sort_by, limit, category in (
        ("o_totalprice", 10, "1-URGENT"),
        ("o_custkey", 7, None),
        ("o_orderdate", 50, "3-MEDIUM"),
    ):
        url = f"/top_apps?sort_by={sort_by}&limit={limit}&category={category or ''}"
        assert _get(client, url) == _top_oracle(duck, sort_by, limit, category), url


def _similar_oracle(con, vec_id: int) -> list[dict]:
    return _rows(
        con,
        "SELECT vec_id, label FROM embeddings WHERE label = "
        "(SELECT label FROM embeddings WHERE vec_id = ?) AND vec_id <> ? "
        "ORDER BY vec_id LIMIT 10",
        [vec_id, vec_id],
    )


def _cluster_oracle(con, k: int) -> list[dict]:
    return _rows(
        con,
        "SELECT vec_id, label FROM embeddings WHERE label = ? "
        "ORDER BY vec_id LIMIT 20",
        [k],
    )


def test_similar_and_cluster(client, duck):
    for vec_id in (0, 5, 499):
        peers = _get(client, f"/recommend_similar_app_by_name/{vec_id}")
        assert peers and peers == _similar_oracle(duck, vec_id), vec_id
        assert all(p["vec_id"] != vec_id for p in peers)
    labels = {p["label"] for p in _get(client, "/recommend_similar_app_by_name/5")}
    assert len(labels) == 1
    for k in (labels.pop(), 0, 9, 42):
        assert _get(client, f"/apps_in_cluster/{k}") == _cluster_oracle(duck, k), k
    assert client.get("/recommend_similar_app_by_name/999999").status_code == 404


def test_top_apps_limit_edge_cases(client):
    """limit=0 means zero rows (a count-free param probe), not one;
    negative and non-integer limits are 400; oversized limits clamp."""
    assert client.get("/top_apps?limit=0").get_json() == []
    assert client.get("/top_apps?limit=-3").status_code == 400
    assert client.get("/top_apps?limit=abc").status_code == 400
    assert len(client.get("/top_apps?limit=999").get_json()) <= 50


# ---------------------------------------------------------------------------
# Spark jobs per request
# ---------------------------------------------------------------------------

_groups = itertools.count()


def _jobs(spark, client, url: str) -> tuple[int, int]:
    """(status, number of Spark jobs the request ran)."""
    group = f"serving-http-test-{next(_groups)}"
    with job_group(spark, group):
        status = client.get(url).status_code
    return status, len(job_ids(spark, group))


def _fresh_app(spark):
    """A new app over the SF0001 tables: its answer memo is empty (the
    cached tables are shared with the module's app, which is cheap)."""
    app = serving_http.build_app(spark, SF0001)
    app.testing = True
    return app.test_client(), app.extensions["serving_answers"]


@pytest.mark.parametrize(
    "url,status,jobs",
    [
        ("/check_data", 200, 2),
        ("/categories", 200, 1),
        ("/search_app_suggestions?q=19", 200, 1),
        ("/app_details_by_id/1", 200, 1),
        ("/app_details_by_id/999999999", 404, 1),
        ("/recommend_apps_by_category/2-HIGH", 200, 1),
        ("/top_apps?limit=10", 200, 1),
        ("/top_apps?limit=10&category=1-URGENT", 200, 1),
        ("/top_apps?sort_by=nope", 400, 0),
        ("/apps_in_cluster/3", 200, 1),
        ("/recommend_similar_app_by_name/5", 200, 2),
        ("/recommend_similar_app_by_name/999999", 404, 1),
    ],
)
def test_spark_jobs_per_request(spark, url, status, jobs):
    """On a fresh app the first request for a key runs its query: one
    job, as one-file tables are cached as SinglePartition (distinct,
    global aggregates and orderBy plan no Exchange, so AQE splits no
    extra job); check_data runs its stats and its sample, a found
    similar app its anchor lookup and its label's cluster listing. A
    repeat is answered from the app's memo and runs none."""
    client, _ = _fresh_app(spark)
    assert _jobs(spark, client, url) == (status, jobs)
    assert _jobs(spark, client, url) == (status, 0)


def test_similar_jobs_per_request(spark, duck):
    """A similar-app miss runs one job, the anchor's label lookup, once
    that label's cluster listing is memoized."""
    label = _rows(duck, "SELECT label FROM embeddings WHERE vec_id = 5")[0]["label"]
    client, _ = _fresh_app(spark)
    assert _jobs(spark, client, f"/apps_in_cluster/{label}") == (200, 1)
    assert _jobs(spark, client, "/recommend_similar_app_by_name/5") == (200, 1)
    assert _jobs(spark, client, "/recommend_similar_app_by_name/5") == (200, 0)


def test_every_top_apps_limit_reads_one_listing(spark, duck):
    """Every limit 0-TOP_LIMIT, and 51 and 999 (clamped), returns DuckDB's
    top rows, for a category and for none. Each (sort_by, category) pair
    is one memoized answer: its first request runs the listing's one
    job, every later limit none."""
    client, answers = _fresh_app(spark)
    limits = [*range(serving_http.TOP_LIMIT + 1), 51, 999]
    pairs = (("o_orderdate", "3-MEDIUM"), ("o_custkey", None))
    for n, (sort_by, category) in enumerate(pairs, 1):
        for i, limit in enumerate(limits):
            url = f"/top_apps?sort_by={sort_by}&limit={limit}&category={category or ''}"
            assert _jobs(spark, client, url) == (200, 0 if i else 1), url
            assert _get(client, url) == _top_oracle(duck, sort_by, limit, category), url
            assert answers.cache_info().currsize == n, url


def test_pre_query_400s_are_not_memoized(spark):
    client, answers = _fresh_app(spark)
    for url in ("/search_app_suggestions?q=a", "/top_apps?limit=abc",
                "/top_apps?limit=-1", "/top_apps?sort_by=nope"):
        assert _jobs(spark, client, url) == (400, 0), url
    assert answers.cache_info().currsize == 0


def test_over_long_text_is_not_memoized(spark):
    """Text over MEMO_KEY_CHARS runs its query on every request and is
    never stored; text at the limit is memoized."""
    client, answers = _fresh_app(spark)
    n = serving_http.MEMO_KEY_CHARS
    for url in (f"/search_app_suggestions?q={'x' * (n + 1)}",
                f"/recommend_apps_by_category/{'y' * (n + 1)}",
                f"/top_apps?category={'z' * (n + 1 - len('o_totalprice'))}"):
        assert _jobs(spark, client, url) == (200, 1), url[:40]
        assert _jobs(spark, client, url) == (200, 1), url[:40]
    assert answers.cache_info().currsize == 0
    url = f"/search_app_suggestions?q={'x' * n}"
    assert _jobs(spark, client, url) == (200, 1)
    assert _jobs(spark, client, url) == (200, 0)
    assert answers.cache_info().currsize == 1


def test_serve_miss_path_tool_reports_every_route(client):
    """tools/serve_miss_path.py, one round in its own process (it starts
    and stops its own JVM): one JSON line per served route plus
    similar_listed, each with its codegen and JIT counters, and every
    body equal to the oracle's."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "serve_miss_path.py"),
         "--seed", "1", "--rounds", "1"],
        cwd=root, check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    lines = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
    routes = {r.rule.split("/")[1] for r in client.application.url_map.iter_rules()}
    names = [ln["route"] for ln in lines]
    assert sorted(names) == sorted(routes - {"static"} | {"similar_listed"}), out
    for ln in lines:
        assert ln["n"] == 1 and ln["failed"] == 0, ln
        assert ln["classes_per_req"] >= 0 and ln["jit_ms_per_req"] >= 0, ln


# ---------------------------------------------------------------------------
# The per-app answer memo
# ---------------------------------------------------------------------------


def _oracle_cases(con) -> list[tuple[str, object]]:
    """(url, the body DuckDB says it must return), one or more per route."""
    stats = _rows(
        con,
        "SELECT count(*) AS cnt, min(o_orderkey) AS min_key, "
        "max(o_orderkey) AS max_key FROM orders",
    )[0]
    cats = _rows(
        con,
        "SELECT DISTINCT c_mktsegment AS category FROM customer "
        "WHERE c_mktsegment IS NOT NULL ORDER BY category",
    )
    return [
        ("/check_data", stats),
        ("/categories", [r["category"] for r in cats]),
        ("/search_app_suggestions?q=19", _search_oracle(con, "19")),
        ("/search_app_suggestions?q=%20CUSTOMER", _search_oracle(con, "customer")),
        ("/app_details_by_id/1", _rows(
            con, "SELECT * FROM orders WHERE o_orderkey = 1")[0]),
        ("/recommend_apps_by_category/5-low", _by_category_oracle(con, "5-low")),
        ("/top_apps?sort_by=o_custkey&limit=7&category=3-MEDIUM",
         _top_oracle(con, "o_custkey", 7, "3-MEDIUM")),
        ("/apps_in_cluster/4", _cluster_oracle(con, 4)),
        ("/recommend_similar_app_by_name/5", _similar_oracle(con, 5)),
        ("/recommend_similar_app_by_name/499", _similar_oracle(con, 499)),
    ]


def test_hit_body_equals_miss_body_equals_duckdb(spark, duck):
    client, answers = _fresh_app(spark)
    for url, want in _oracle_cases(duck):
        miss = client.get(url)
        hits = answers.cache_info().hits
        hit = client.get(url)
        assert answers.cache_info().hits == hits + 1, url
        assert miss.status_code == hit.status_code == 200, url
        assert miss.data == hit.data, url
        body = miss.get_json()
        assert (body["stats"] if url == "/check_data" else body) == want, url


def test_memo_stays_within_its_bound(spark):
    """More distinct keys than the bound: the memo never holds more than
    ANSWER_CACHE_SIZE answers, and the oldest are the ones let go. The
    keys are distinct search texts, each answered by its own query (four
    clients at once between the first key and the last)."""
    client, answers = _fresh_app(spark)
    bound = serving_http.ANSWER_CACHE_SIZE
    url = "/search_app_suggestions?q=q{}".format

    def ask(i):
        assert client.application.test_client().get(url(i)).status_code == 200
        assert answers.cache_info().currsize <= bound

    ask(0)
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(ask, range(1, bound + 99)))
    ask(bound + 99)
    assert answers.cache_info().currsize == bound
    assert answers.cache_info().misses == bound + 100
    assert _jobs(spark, client, url(bound + 99)) == (200, 0)  # newest: kept
    assert _jobs(spark, client, url(0)) == (200, 1)  # oldest: evicted


def test_concurrent_clients_get_identical_bodies(spark, duck):
    """More clients than cores ask for the same keys at once, with the
    interpreter switching threads as often as it can: every client gets
    the same status and the same bytes for every key."""
    client, answers = _fresh_app(spark)
    app = client.application
    urls = [url for url, _ in _oracle_cases(duck)]
    n = 8
    start = threading.Barrier(n)

    def ask(_):
        c = app.test_client()
        start.wait(timeout=60)
        return [(r.status_code, r.data) for r in map(c.get, urls)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            seen = [f.result(timeout=300) for f in
                    [pool.submit(ask, i) for i in range(n)]]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == seen[0] for s in seen)
    assert {status for status, _ in seen[0]} == {200}
    assert len(urls) <= answers.cache_info().currsize <= serving_http.ANSWER_CACHE_SIZE


# ---------------------------------------------------------------------------
# Multi-file tables: the scan's parallelism is kept, bodies are unchanged
# ---------------------------------------------------------------------------


def _cached_rdds(spark) -> dict[int, tuple[int, int]]:
    """id -> (partitions, cached partitions) of every cached RDD."""
    return {
        i.id(): (i.numPartitions(), i.numCachedPartitions())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


@pytest.fixture(scope="module")
def twin_apps(spark, tmp_path_factory):
    """The SF0001 serving tables, one embeddings label nulled and one
    label given to exactly eleven rows, written twice: one file per
    table, and three files per table. Returns each app's test client and
    the RDD storage facts its build_app added."""
    root = tmp_path_factory.mktemp("serving_twins")
    single, multi = root / "single", root / "multi"
    for t in SERVED:
        df = spark.read.parquet(f"{SF0001}/{t}.parquet")
        if t == "embeddings":
            df = df.withColumn(
                "label",
                F.when(F.col("vec_id").isin(ELEVEN_IDS), ELEVEN_LABEL)
                .when(F.col("vec_id") != NULL_LABEL_ID, F.col("label")),
            )
        df.coalesce(1).write.parquet(str(single / f"{t}.parquet"))
        df.repartitionByRange(3, KEYS[t]).write.parquet(str(multi / f"{t}.parquet"))
    out = {}
    for name, d in (("single", single), ("multi", multi)):
        before = _cached_rdds(spark)
        app = serving_http.build_app(spark, str(d))
        after = _cached_rdds(spark)
        app.testing = True
        added = [v for k, v in after.items() if k not in before]
        out[name] = (app.test_client(), added)
    return out


def test_build_app_warms_all_three_caches(twin_apps):
    for name, parts in (("single", 1), ("multi", 3)):
        added = twin_apps[name][1]
        assert len(added) == 3, name
        assert all(n == cached == parts for n, cached in added), (name, added)


def test_multi_file_tables_serve_the_same_bodies(twin_apps):
    single, multi = twin_apps["single"][0], twin_apps["multi"][0]
    urls = [
        "/categories",
        "/search_app_suggestions?q=19",
        "/search_app_suggestions?q=customer",
        "/app_details_by_id/1",
        "/app_details_by_id/999999999",
        "/recommend_apps_by_category/2-high",
        "/top_apps?limit=12",
        "/top_apps?sort_by=o_orderdate&limit=30&category=5-LOW",
        "/recommend_similar_app_by_name/5",
        f"/recommend_similar_app_by_name/{NULL_LABEL_ID}",
        "/recommend_similar_app_by_name/999999",
        "/apps_in_cluster/4",
    ]
    for url in urls:
        a, b = single.get(url), multi.get(url)
        assert (a.status_code, a.get_json()) == (b.status_code, b.get_json()), url
    # check_data's sample is an arbitrary limit(3): compare its stats only
    stats = [c.get("/check_data").get_json()["stats"] for c in (single, multi)]
    assert stats[0] == stats[1]


def test_null_anchor_label_has_no_peers(twin_apps):
    for name in ("single", "multi"):
        r = twin_apps[name][0].get(f"/recommend_similar_app_by_name/{NULL_LABEL_ID}")
        assert (r.status_code, r.get_json()) == (200, []), name


def test_similar_on_an_eleven_member_label(twin_apps):
    """Peers are the label's cluster listing without the anchor, whether
    the anchor comes first or last in it."""
    members = [{"vec_id": i, "label": ELEVEN_LABEL} for i in ELEVEN_IDS]
    for name in ("single", "multi"):
        client = twin_apps[name][0]
        for anchor in (ELEVEN_IDS[0], ELEVEN_IDS[-1]):
            peers = _get(client, f"/recommend_similar_app_by_name/{anchor}")
            assert peers == [m for m in members if m["vec_id"] != anchor], name
            assert len(peers) == serving_http.SIMILAR_LIMIT
        assert _get(client, f"/apps_in_cluster/{ELEVEN_LABEL}") == members


def test_each_app_has_its_own_memo(twin_apps):
    single, multi = (twin_apps[n][0] for n in ("single", "multi"))
    answers = [c.application.extensions["serving_answers"] for c in (single, multi)]
    assert answers[0] is not answers[1]
    before = answers[1].cache_info()
    single.get("/app_details_by_id/2")
    single.get("/app_details_by_id/2")
    assert answers[1].cache_info() == before
