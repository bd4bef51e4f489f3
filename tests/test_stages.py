"""The stage registry (a3_fp_bigdata_spark/stages.py).

Shared stages are keyed by the snapshot of their input files, so a
table rewritten in place mid-session must rebuild every stage that
derives from it; and the registry is the one place that reads the
session token.
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from a3_fp_bigdata_spark import registry, stages
from a3_fp_bigdata_spark.data import FINGERPRINT_MOD, table_fingerprint
from a3_fp_bigdata_spark.operators import suffixes as SX
from a3_fp_bigdata_spark.operators.similarity import _semdedup_cells
from tests.conftest import SF0001, SF001

_DOCS = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
_VECS = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _write_generation(sf_dir, doc_ids, dup_pair, vec_ids, seed):
    """documents: every doc has its own vocabulary except ``dup_pair``,
    whose two docs share one text (a near-dup cluster); embeddings:
    seeded random vectors under ``vec_ids``."""
    texts = {
        i: " ".join(f"w{i}x{j}" for j in range(8 + i % 5)) for i in doc_ids
    }
    texts[dup_pair[1]] = texts[dup_pair[0]]
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"doc_id": i, "text": t, "lang": "en", "source": "web",
                 "n_chars": len(t)}
                for i, t in texts.items()
            ],
            schema=_DOCS,
        ),
        f"{sf_dir}/documents.parquet",
    )
    rng = np.random.RandomState(seed)
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"vec_id": v, "embedding": rng.randn(8).tolist(), "label": 0}
                for v in vec_ids
            ],
            schema=_VECS,
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    return texts


def _observe(spark, sf_dir):
    qs = registry.all_queries()
    clusters = {
        tuple(r) for r in qs["d12_dedup_clusters"](spark, sf_dir).collect()
    }
    n_suffixes = qs["d21_suffix_array"](spark, sf_dir).count()
    cell_ids = {r.vec_id for r in _semdedup_cells(spark, sf_dir).collect()}
    fp = table_fingerprint(spark, sf_dir, "documents", "doc_id")
    registry.release_pinned()
    return clusters, n_suffixes, cell_ids, fp


def _expected(texts, dup_pair, vec_ids):
    keeper, member = dup_pair
    n_suffixes = sum(
        len(t) for i, t in texts.items() if i % SX.SA_DOC_MOD == 0
    )
    fp = (len(texts), sum(i % FINGERPRINT_MOD for i in texts))
    return {(keeper, keeper), (member, keeper)}, n_suffixes, set(vec_ids), fp


def test_in_place_rewrite_rebuilds_every_stage(spark, tmp_path):
    sf_dir = str(tmp_path)
    stages.release_all()
    first = ([0, 1, 2, 47], (1, 2), range(40))
    texts = _write_generation(sf_dir, *first, seed=1)
    assert _observe(spark, sf_dir) == _expected(texts, first[1], first[2])

    # same paths, different rows: every stage must see the new bytes
    second = ([0, 5, 6, 47, 94], (5, 6), range(100, 130))
    texts = _write_generation(sf_dir, *second, seed=2)
    assert _observe(spark, sf_dir) == _expected(texts, second[1], second[2])
    stages.release_all()


def test_session_token_read_only_by_stages():
    """The registry is the one place that keys on the session."""
    root = pathlib.Path(__file__).resolve().parents[1]
    files = [
        *(root / "a3_fp_bigdata_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    callers = {
        str(f.relative_to(root))
        for f in files
        if re.search(r"\bsession_token\b", f.read_text())
    }
    assert callers == {
        "a3_fp_bigdata_spark/session.py",
        "a3_fp_bigdata_spark/stages.py",
    }


def test_one_key_builds_once_under_concurrent_callers(spark):
    """Eight threads asking for one cold key: one build, one value."""
    stages.release_all()
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.2)
        return object()

    with ThreadPoolExecutor(8) as pool:
        values = list(
            pool.map(
                lambda _: stages.get(spark, "concurrent_one", (), build, []),
                range(8),
            )
        )
    assert len(builds) == 1
    assert all(v is values[0] for v in values)
    stages.release_all()


def test_different_keys_build_in_parallel(spark):
    """Each build waits (with a timeout) for the other to start, so
    both see the other only if the registry runs them side by side."""
    stages.release_all()
    started = {"a": threading.Event(), "b": threading.Event()}

    def build(me, other):
        started[me].set()
        return started[other].wait(timeout=20)

    with ThreadPoolExecutor(2) as pool:
        a = pool.submit(
            stages.get, spark, "parallel_a", (), lambda: build("a", "b"), []
        )
        b = pool.submit(
            stages.get, spark, "parallel_b", (), lambda: build("b", "a"), []
        )
        assert a.result() and b.result()
    stages.release_all()


def test_dead_session_sweep_under_concurrent_inserts(spark, monkeypatch):
    """Threads under different session tokens insert entries while
    each get sweeps the others' entries as dead: no sweep ever sees
    the entry table change under it."""
    stages.release_all()
    local = threading.local()
    monkeypatch.setattr(stages, "session_token", lambda _s: local.token)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)

    def worker(t):
        local.token = f"token-{t % 2}"
        for i in range(300):
            stages.get(spark, "sweep", (t, i), lambda: i, [])

    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(worker, t) for t in range(8)]:
                f.result()
    finally:
        sys.setswitchinterval(switch)
        stages.release_all()


def test_release_all_frees_checkpoint_blocks(spark):
    """Dropping a stage frees the localCheckpoint blocks behind it,
    including a projected value (d12's cluster_id rename) and CC's
    superseded rounds: after release_all, no RDD the builds stored
    is left in storage."""
    from a3_fp_bigdata_spark.operators.dedup import d12_dedup_clusters

    sc = spark.sparkContext

    def stored() -> set[int]:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    stages.release_all()
    registry.release_pinned()
    before = stored()
    d12_dedup_clusters(spark, SF0001).count()
    _semdedup_cells(spark, SF0001).count()
    assert stored() - before, "the builds stored nothing"
    registry.release_pinned()
    stages.release_all()
    spark.catalog.clearCache()
    assert stored() - before == set()


# ---------------------------------------------------------------------------
# Directory-valued stages: sim4's and sim10's index dirs, src8's layout
# ---------------------------------------------------------------------------

_ANN_SQL = registry.all_oracles()["sim2_lsh_ann"]
_BOX_SQL = registry.all_oracles()["src8_zorder_box_query"]


def _duck(sf_dir, table, sql):
    """``sql`` in DuckDB over ``{sf_dir}/{table}.parquet`` alone."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _box(spark, sf_dir):
    return [
        tuple(r)
        for r in registry.all_queries()["src8_zorder_box_query"](
            spark, sf_dir
        ).collect()
    ]


def _ann(spark, name, sf_dir):
    return [
        tuple(r)
        for r in registry.all_queries()[name](spark, sf_dir)
        .select("vec_id", "cosine")
        .collect()
    ]


def _dirs(name):
    """The dirs the live ``name`` entries own."""
    return [v for k, (_s, v) in stages._ENTRIES.items() if k[1] == name]


def test_src8_layout_is_keyed_on_lineitem_not_the_dir_name(spark, tmp_path):
    """Two sf dirs that share a basename hold different lineitems; each
    src8 answer equals DuckDB's over its own dir."""
    stages.release_all()
    other = tmp_path / "sf0.001"
    other.mkdir()
    shutil.copyfile(f"{SF001}/lineitem.parquet", other / "lineitem.parquet")
    for sf_dir in (SF0001, str(other)):
        assert _box(spark, sf_dir) == _duck(sf_dir, "lineitem", _BOX_SQL)
    assert _box(spark, SF0001) != _box(spark, str(other))
    stages.release_all()


def test_in_place_rewrite_rebuilds_each_dir_and_removes_the_old(
    spark, tmp_path
):
    sf_dir = str(tmp_path)
    for t in ("lineitem", "embeddings"):
        shutil.copyfile(f"{SF0001}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    stages.release_all()

    def observe():
        answers = (
            _box(spark, sf_dir),
            _ann(spark, "sim4_bucketed_ann", sf_dir),
            _ann(spark, "sim10_incremental_index", sf_dir),
        )
        assert answers == (
            _duck(sf_dir, "lineitem", _BOX_SQL),
            _duck(sf_dir, "embeddings", _ANN_SQL),
            _duck(sf_dir, "embeddings", _ANN_SQL),
        )
        return [
            d for n in ("zorder_layout", "sim4_index", "sim10_index")
            for d in _dirs(n)
        ]

    old = observe()
    assert len(old) == 3 and all(os.path.isdir(d) for d in old)
    time.sleep(0.01)  # a new mtime_ns even on a coarse clock
    for t in ("lineitem", "embeddings"):
        shutil.copyfile(f"{SF001}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    new = observe()
    assert len(new) == 3 and all(os.path.isdir(d) for d in new)
    assert not set(old) & set(new)
    assert not any(os.path.exists(d) for d in old)
    stages.release_all()


def test_release_sim4_index_removes_the_index_dirs(spark):
    from a3_fp_bigdata_spark.operators import similarity as S
    from a3_fp_bigdata_spark.sources.queries import warm_zorder_layout

    stages.release_all()
    built = [
        S.warm_sim4_index(spark, SF0001),
        warm_zorder_layout(spark, SF0001),
    ]
    registry.all_queries()["sim10_incremental_index"](spark, SF0001)
    built += _dirs("sim10_index")
    assert len(built) == 3 and all(os.path.isdir(d) for d in built)
    S.release_sim4_index()
    assert not any(os.path.exists(d) for d in built)
    assert not stages._ENTRIES


def test_warm_up_and_two_probes_build_each_dir_once(spark, monkeypatch):
    from a3_fp_bigdata_spark.operators import similarity as S
    from a3_fp_bigdata_spark.sources import parquet_io
    from a3_fp_bigdata_spark.sources.queries import warm_zorder_layout

    builds = {"sim4": 0, "sim10": 0, "zorder": 0}

    def counting(fn, name):
        def wrapper(*a, **k):
            builds[name] += 1
            return fn(*a, **k)

        return wrapper

    monkeypatch.setattr(
        S, "build_bucketed_ann_index",
        counting(S.build_bucketed_ann_index, "sim4"),
    )
    # one sim10 build appends twice: the base, then the arrivals
    monkeypatch.setattr(
        S, "append_to_bucketed_index",
        counting(S.append_to_bucketed_index, "sim10"),
    )
    monkeypatch.setattr(
        parquet_io, "write_zordered",
        counting(parquet_io.write_zordered, "zorder"),
    )
    stages.release_all()
    qs = registry.all_queries()
    S.warm_sim4_index(spark, SF0001)
    warm_zorder_layout(spark, SF0001)
    for _ in range(3):  # sim10's warm-up is its first probe
        qs["sim10_incremental_index"](spark, SF0001).collect()
    for _ in range(2):
        qs["sim4_bucketed_ann"](spark, SF0001).collect()
        qs["src8_zorder_box_query"](spark, SF0001).collect()
    assert builds == {"sim4": 1, "sim10": 2, "zorder": 1}
    stages.release_all()


def test_a_fill_that_raises_leaves_no_dir(spark):
    from a3_fp_bigdata_spark.data import dir_stage

    made = []

    def fill(path):
        made.append(path)
        raise RuntimeError("fill failed")

    with pytest.raises(RuntimeError, match="fill failed"):
        dir_stage(spark, "failing_fill", fill, [])
    assert made and not os.path.exists(made[0])
    assert not _dirs("failing_fill")


def test_scratch_dirs_are_made_only_in_data():
    """``data`` is the one place that makes temp dirs; the process-level
    dir memos are gone."""
    root = pathlib.Path(__file__).resolve().parents[1]
    files = list((root / "a3_fp_bigdata_spark").rglob("*.py"))
    makers = {
        str(f.relative_to(root))
        for f in files
        if re.search(r"\b(mkdtemp|gettempdir)\b", f.read_text())
    }
    assert makers == {"a3_fp_bigdata_spark/data.py"}
    for f in files:
        assert not re.search(
            r"\b(_SIM4_INDEX|_ZORDER_LAYOUT|_shared_scratch)\b", f.read_text()
        ), f
