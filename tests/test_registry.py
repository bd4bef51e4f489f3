"""Registry exposure tiers — the bounded driver sweep must always land
on full SURVEY §2 family coverage (see registry.CANONICAL)."""

from __future__ import annotations

import ast
import pathlib
import re
import subprocess
import sys

import pytest

from a3_fp_bigdata_spark import registry

#: Query-name prefix per SURVEY §2 operator family.
FAMILIES = [
    "a", "d", "dq", "f", "g", "j", "ml", "mm", "p", "pk", "pl", "sim",
    "so", "sql", "src", "srv", "st", "t", "tk", "tx", "u", "w", "x",
]

DRIVER_WINDOW = 50  # round-1 driver checked exactly the first 50 names


def _family(name: str) -> str:
    m = re.match(r"([a-z]+)", name)
    prefixes = sorted(FAMILIES, key=len, reverse=True)
    for p in prefixes:
        if m.group(1) == p or name.startswith(p) and name[len(p)].isdigit():
            return p
    return m.group(1)


def test_canonical_fits_driver_window():
    exposed = sorted(registry.exposed_queries())
    window = exposed[:DRIVER_WINDOW]
    # every canonical name is inside the window, un-renamed
    assert sorted(registry.CANONICAL) == window


def test_driver_window_in_insertion_order():
    """The driver consumes the first 50 entries in dict-INSERTION order
    (it never re-sorts), so insertion order itself must put the canonical
    tier first. Round 2 regression: sorting by original name before
    renaming left the window at the first 50 *original* names."""
    names = list(registry.exposed_queries())
    assert names[:DRIVER_WINDOW] == sorted(registry.CANONICAL)
    assert names == sorted(names), "exposure dict must be sorted by exposure name"
    # same contract for the oracle map
    onames = list(registry.exposed_oracles())
    assert onames == sorted(onames)


#: Families whose canonical slot was rotated out after earning a green
#: driver row in a prior round's CORRECTNESS artifact (the rotation
#: protocol: a family may cede its slot to newer, un-attested work once
#: its representative is driver-attested and its plan shape is carried
#: by a surviving canonical query + z_ parity twins).
ROTATED_OUT_FAMILIES = {
    # p6_substring_predicate: green in CORRECTNESS_r05; pushed-scan
    # surface carried by t1, ladder parity-checked as z_p1..z_p8
    "p",
    # x1_json_extract: green in CORRECTNESS_r07; ceded the 50th slot
    # to d15_duplicated_spans (r8) — the x1/x2/x3 semistructured
    # ladder stays oracle-backed as z_ twins, and x1's from_json
    # surface also runs inside src2/src3's JSON round-trips
    "x",
}


def test_every_family_has_oracle_backed_canonical_entry():
    oracles = registry.all_oracles()
    for fam in FAMILIES:
        if fam in ROTATED_OUT_FAMILIES:
            continue
        members = [n for n in registry.CANONICAL if _family(n) == fam]
        assert members, f"family {fam!r} missing from CANONICAL"
        # r13 removed the historical "ml" exception: ml1/ml5 are now
        # scratch-oracle-backed (assignments/scores taken as given,
        # aggregation replayed by DuckDB), so EVERY family must carry
        # an oracle-backed canonical entry.
        assert any(n in oracles for n in members), (
            f"family {fam!r} has no oracle-backed canonical entry"
        )


def test_deferred_names_round_trip():
    qs = registry.all_queries()
    exposed = registry.exposed_queries()
    assert len(exposed) == len(qs)
    for name in qs:
        assert registry.exposure_name(name) in exposed
    # oracle keys match query keys (the driver joins on them)
    assert set(registry.exposed_oracles()) <= set(exposed)


def test_headline_queries_resolve():
    """BENCH per-query keys must stay stable round-over-round: every
    HEADLINE name must be a live EXPOSURE name (canonical, or a z_
    depth name for queries rotated out of the driver window — their
    timing keeps flowing into the headline sum under the new key)."""
    import bench

    exposed = set(registry.exposed_queries())
    missing = set(bench.HEADLINE) - exposed
    assert not missing, f"HEADLINE names not exposed: {missing}"


def test_bench_emits_calib_normalized_headline():
    """BENCH_r{N}.json must self-describe across host-speed drift
    (VERDICT r8 'what's wrong' #1): bench.py pins CALIB_REF and its
    summary carries value_norm = value * CALIB_REF / mean(calib). The
    constant must never be retuned — its worth is being identical in
    every round's artifact."""
    import os

    import bench

    assert bench.CALIB_REF == 0.52
    src = open(
        os.path.join(os.path.dirname(os.path.abspath(bench.__file__)))
        + "/bench.py"
    ).read()
    # both the committed full file and the printed driver line carry it
    assert src.count('"value_norm": value_norm') == 2
    # the oversize-line fallback keeps it too
    assert '"value_norm"' in src.split("if len(line) >= 2000")[1][:400]


def test_reprobe_baseline_is_the_latest_committed_sweep(monkeypatch):
    """With no override, bench.py's reprobe compares against the one
    committed full sweep, bench_full_r16.json, keyed tier-free."""
    import json
    import os

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_PREV", raising=False)
    here = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(here, "bench_full_r16.json")) as fh:
        queries = json.load(fh)["queries"]
    assert bench.prev_sweep_timings() == {
        bench._canon(k): float(v) for k, v in queries.items()
    }


def test_doc_counts_rendered_from_registry():
    """The query/oracle tallies in __spark_entry__'s docstring and the
    README/SURVEY prose must equal the live registry — two consecutive
    rounds shipped off-by-N hand-written counts (VERDICT r6 #3, r7 #3),
    so the docstring is now token-rendered at import and this test pins
    every remaining prose tally to the registry."""
    import os

    import __spark_entry__ as e

    n_q = len(registry.exposed_queries())
    n_o = len(registry.exposed_oracles())
    doc = e.__doc__ or ""
    assert "{N_QUERIES}" not in doc and "{N_ORACLES}" not in doc
    assert f"({n_q} queries, {n_o}" in doc.replace("\n", " ")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for fname in ("README.md", "SURVEY.md"):
        text = open(os.path.join(root, fname)).read()
        # strip blockquote markers BEFORE joining: a tally that wraps
        # across '> '-prefixed lines otherwise reads '155 > oracle-…'
        # and escapes the regex pin (exactly how a stale count shipped
        # green mid-round-8)
        text = re.sub(r"^> ?", "", text, flags=re.M)
        joined = " ".join(text.split())
        for m in re.finditer(r"(\d+) registered queries", joined):
            assert int(m.group(1)) == n_q, (fname, m.group(0))
        for m in re.finditer(r"(\d+) oracle-backed as of round", joined):
            assert int(m.group(1)) == n_o, (fname, m.group(0))


_ROOT = pathlib.Path(__file__).resolve().parents[1]
#: Every package module that registers a query (a top-level ``@query``).
_REGISTERING_MODULES = sorted(
    ".".join(p.relative_to(_ROOT).with_suffix("").parts)
    for p in (_ROOT / "a3_fp_bigdata_spark").rglob("*.py")
    if re.search(r"^@query\(", p.read_text(), re.M)
)


@pytest.mark.parametrize("module", _REGISTERING_MODULES)
def test_registering_module_imports_alone(module):
    """Each oracle is complete text when its query registers, so a module
    imports in a fresh interpreter with nothing else loaded first; an
    oracle that reached for another module's registry entry would fail
    here, naming the module."""
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_rows_only_queries_are_exactly_the_known_five():
    """``oracle=None`` means rows-only, and only these five queries have
    no SQL twin: a dropped oracle shows up here by name."""
    assert set(registry.all_queries()) - set(registry.all_oracles()) == {
        "a12_approx_distinct",
        "d7_ml_minhash_lsh",
        "d11_incremental_lsh",
        "mm2_image_features",
        "tk1_bpe_merges",
    }


def test_package_module_imports_are_all_used():
    """Every name a package module imports at module level is used in
    that module; a deliberate re-export says so with ``# noqa: F401``
    on its import statement."""
    unused = []
    for path in sorted((_ROOT / "a3_fp_bigdata_spark").rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            span = lines[node.lineno - 1 : node.end_lineno]
            if any("noqa: F401" in line for line in span):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    unused.append(
                        f"{path.relative_to(_ROOT)}:{node.lineno}: {name}"
                    )
    assert unused == []
