"""The stage registry (a3_fp_bigdata_spark/stages.py).

Shared stages are keyed by the snapshot of their input files, so a
table rewritten in place mid-session must rebuild every stage that
derives from it; and the registry is the one place that reads the
session token.
"""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from a3_fp_bigdata_spark import registry, stages
from a3_fp_bigdata_spark.data import FINGERPRINT_MOD, table_fingerprint
from a3_fp_bigdata_spark.operators import suffixes as SX
from a3_fp_bigdata_spark.operators.similarity import _semdedup_cells

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
    fp = tuple(
        table_fingerprint(spark, sf_dir, "documents", "doc_id").first()
    )
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
