"""Replicates the driver's correctness gate: run every registered query
on Spark AND its DuckDB oracle on the same parquet, then compare
row counts, column names, and order-insensitive values.

This is the test that must stay green — it is exactly what
CORRECTNESS_r{N}.json measures.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from a3_fp_bigdata_spark import registry
from tests.conftest import SF0001

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def as_sorted_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


ALL = registry.all_queries()
ORACLES = registry.all_oracles()


@pytest.mark.parametrize("name", [n for n in ALL if n in ORACLES])
def test_query_matches_oracle(spark, name):
    sf_dir = SF0001
    sdf = ALL[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_sorted = as_sorted_rows(spark_cols, spark_rows)
    d_sorted = as_sorted_rows(duck_cols, duck_rows)
    mismatches = [
        (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
    ][:5]
    assert s_sorted == d_sorted, f"{name}: value mismatch, first diffs: {mismatches}"


@pytest.mark.parametrize("name", [n for n in ALL if n not in ORACLES])
def test_rows_only_queries_run(spark, name):
    sdf = ALL[name](spark, SF0001)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_oracle_keys_subset():
    assert set(ORACLES) <= set(ALL)


def test_read_stamped_scratch_guards_torn_reads(spark, tmp_path):
    """read_stamped_scratch is the Spark-side twin of the oracles'
    `WHERE n_src = count(*)` staleness guard (r10 ADVICE: the guard
    was oracle-only, leaving the Spark read-back asymmetric). A clean
    single-generation scratch passes through intact; a torn read
    mixing rows from two generations yields ZERO rows — a loud
    row-count disagreement, never silent mixed-generation bytes."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import read_stamped_scratch

    path = str(tmp_path / "scratch.parquet")
    gen_a = spark.range(3).select(
        F.col("id").alias("media_id"), F.lit(3).cast("long").alias("n_src")
    )
    gen_a.coalesce(1).write.mode("overwrite").parquet(path)
    clean = read_stamped_scratch(spark, path)
    assert clean.count() == 3
    assert "n_src" not in clean.columns

    # torn read: a second generation's rows (different stamp) landed
    # beside generation A's — totals match neither stamp
    gen_b = spark.range(5).select(
        (F.col("id") + 100).alias("media_id"),
        F.lit(5).cast("long").alias("n_src"),
    )
    gen_b.coalesce(1).write.mode("append").parquet(path)
    assert read_stamped_scratch(spark, path).count() == 0

    # ADVICE r11 — the coincidence case the count-equality alone would
    # pass: 4 rows stamped 5 plus 1 row stamped 4 totals 5, matching
    # generation B's stamp. countDistinct(n_src) == 1 must kill it.
    path2 = str(tmp_path / "coincidence.parquet")
    four_of_b = spark.range(4).select(
        F.col("id").alias("media_id"), F.lit(5).cast("long").alias("n_src")
    )
    one_of_a = spark.range(1).select(
        (F.col("id") + 50).alias("media_id"),
        F.lit(4).cast("long").alias("n_src"),
    )
    four_of_b.unionByName(one_of_a).coalesce(1).write.parquet(path2)
    assert read_stamped_scratch(spark, path2).count() == 0


def test_audit_scratch_stale_sf_red_flags(spark):
    """The audit queries (a19/d4/sim11) share a fixed uid-scoped scratch
    path; the guard against STALE scratch (written at a different scale
    factor) is the n_src fingerprint each scratch row carries, which the
    oracle filters against its live view. Pin the failure mode: scratch
    written at sf0.001 must make the sf0.01 oracle come back EMPTY on
    the scratch side (a red row-count mismatch), not silently validate."""
    from tests.conftest import SF001

    # Spark half writes fresh scratch fingerprinted with sf0.001's count
    ALL["a19_approx_distinct_audit"](spark, SF0001).collect()

    # oracle half runs against DIFFERENT-sf views: the n_src filter must
    # reject every scratch row, so the exact-join yields zero rows
    con = duck_con(SF001)
    stale_rows = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert stale_rows == [], "stale scratch validated instead of red-flagging"

    # and the matched-sf oracle still returns the real per-key rows
    con = duck_con(SF0001)
    fresh_rows = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert len(fresh_rows) > 0

    # round-8 strengthening: a corpus regenerated at the SAME
    # cardinality slips past a count-only guard; the src_ck content
    # checksum must catch it. Simulate by doctoring the scratch rows:
    # keep n_src (count matches the live view) but perturb src_ck —
    # the oracle must come back empty again.
    import glob

    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    from a3_fp_bigdata_spark.operators.aggregates import _A19_SCRATCH

    files = glob.glob(f"{_A19_SCRATCH}/*.parquet")
    assert files, "a19 scratch missing after the fresh run"
    for fpath in files:
        t = pq.read_table(fpath)
        ck = pc.add(t["src_ck"], 1)
        t = t.set_column(t.schema.get_field_index("src_ck"), "src_ck", ck)
        pq.write_table(t, fpath)
    con = duck_con(SF0001)
    doctored = con.execute(ORACLES["a19_approx_distinct_audit"]).fetchall()
    con.close()
    assert doctored == [], (
        "same-cardinality scratch with a foreign content checksum "
        "validated instead of red-flagging"
    )


def test_src_fingerprint_cross_engine_identical(spark):
    """The scratch-guard fingerprint must compute IDENTICALLY in Spark
    and DuckDB for every audited (table, key) — the property the whole
    stale-scratch protocol rests on."""
    from a3_fp_bigdata_spark.data import (
        FINGERPRINT_MOD,
        src_fingerprint,
        table,
    )

    for t, key in (
        ("documents", "doc_id"),
        ("events", "event_id"),
        ("embeddings", "vec_id"),
    ):
        row = src_fingerprint(table(spark, SF0001, t), key).collect()[0]
        con = duck_con(SF0001)
        n, ck = con.execute(
            f"SELECT count(*), CAST(sum({key} % {FINGERPRINT_MOD}) AS "
            f"BIGINT) FROM {t}"
        ).fetchone()
        con.close()
        assert (row.n_src, row.src_ck) == (n, ck), t


def test_stamp_is_the_crossjoin_rows_as_a_projection(spark):
    """``stamp`` appends the fingerprint as literal columns: the same
    rows, column order and types as the crossJoin with a 1-row
    fingerprint frame it replaced (a null checksum of an empty table
    included), planned with no broadcast join and no RDD scan. The
    self-count stamp (``fp=None``) likewise equals the crossJoin with
    the frame's own 1-row count, on a full and on an empty frame."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import stamp
    from a3_fp_bigdata_spark.plans.inspect import _walk_counts

    df = spark.range(6).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2 == 0).alias("kept")
    )
    for fp in ((6, 15), (0, None)):
        old = df.crossJoin(
            F.broadcast(spark.createDataFrame([fp], "n_src long, src_ck long"))
        )
        new = stamp(df, fp)
        assert new.columns == old.columns == ["doc_id", "kept", "n_src", "src_ck"]
        assert new.dtypes == old.dtypes
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )
        nodes = frozenset(
            {"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec", "RDDScanExec"}
        )
        assert _walk_counts(new, nodes) == (0, 0)
    for frame in (df, df.filter(F.lit(False))):
        old = frame.crossJoin(
            F.broadcast(frame.agg(F.count("*").cast("long").alias("n_src")))
        )
        new = stamp(frame, None)
        assert new.columns == old.columns == ["doc_id", "kept", "n_src"]
        assert new.dtypes == old.dtypes
        assert new.dtypes[-1] == ("n_src", "bigint")
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )
        assert _walk_counts(new, nodes) == (0, 0)


def test_write_scratch_round_trips_through_both_readers(spark, tmp_path):
    """``write_scratch`` overwrites its path with one stamped parquet
    file; ``read_scratch`` and ``read_stamped_scratch`` both return the
    frame's rows and columns, with no stamp column (``src_ck`` of a
    table stamp included)."""
    import glob

    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import (
        read_scratch,
        read_stamped_scratch,
        write_scratch,
    )

    df = spark.range(6).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("cost")
    )
    path = str(tmp_path / "scratch")
    for fp, stamp_cols in ((None, ["n_src"]), ((6, 15), ["n_src", "src_ck"])):
        write_scratch(df.repartition(3), path, fp)
        assert len(glob.glob(f"{path}/*.parquet")) == 1
        assert spark.read.parquet(path).columns == df.columns + stamp_cols
        for read in (read_scratch, read_stamped_scratch):
            back = read(spark, path)
            assert back.columns == df.columns
            assert sorted(map(tuple, back.collect())) == sorted(
                map(tuple, df.collect())
            )


def test_audit_scratch_is_written_and_read_only_in_data():
    """The audit-scratch format lives in data.py alone. Elsewhere in the
    package no ``.parquet(...)`` call names a module-level
    ``run_scratch`` constant or a ``scratch`` variable, no call takes a
    stamp column name as an argument (so no hand-built stamp, crossJoin
    or literal, and no hand-dropped one), and the per-module writers
    ``_write_stamped``/``_write_fingerprinted`` are gone."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "a3_fp_bigdata_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "data.py":
            continue
        rel = path.relative_to(pkg.parent)
        src = path.read_text()
        tree = ast.parse(src)
        consts = {
            t.id
            for node in tree.body
            if isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and getattr(node.value.func, "id", None) == "run_scratch"
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            args = [*node.args, *(k.value for k in node.keywords)]
            if getattr(node.func, "attr", None) == "parquet":
                names = {
                    n.id
                    for a in args
                    for n in ast.walk(a)
                    if isinstance(n, ast.Name)
                }
                if names & (consts | {"scratch"}):
                    found.append(f"{rel}:{node.lineno}: parquet({names})")
            if any(
                isinstance(a, ast.Constant) and a.value in ("n_src", "src_ck")
                for a in args
            ):
                found.append(f"{rel}:{node.lineno}: stamp column argument")
        for name in re.findall(r"\b_write_(?:stamped|fingerprinted)\b", src):
            found.append(f"{rel}: {name}")
    assert found == []
