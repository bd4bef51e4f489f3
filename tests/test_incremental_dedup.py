"""Cross-snapshot incremental dedup (d10 exact, d11 LSH) — the nightly
new-batch-vs-corpus shape. d10 is oracle-checked by the driver; these
tests pin the semantics brute-force and tie d11 to d4's full-corpus
result."""

from __future__ import annotations

from a3_fp_bigdata_spark import registry
from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.operators.dedup import INCR_BATCH_PCT
from a3_fp_bigdata_spark.operators.text_analysis import (
    SAMPLE_MULT,
    SAMPLE_PREMOD,
)
from tests.conftest import SF0001, SF001, job_group, job_ids


def _is_new(doc_id: int) -> bool:
    return ((doc_id % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < INCR_BATCH_PCT


def test_d10_matches_bruteforce(spark):
    """Every new doc classified exactly as a driver-independent python
    brute force classifies it (status and keeper both)."""
    docs = [
        (r.doc_id, r.text)
        for r in table(spark, SF0001, "documents").select("doc_id", "text").collect()
    ]
    corpus_keeper: dict[str, int] = {}
    batch_keeper: dict[str, int] = {}
    for doc_id, text in sorted(docs):
        if _is_new(doc_id):
            batch_keeper.setdefault(text, doc_id)
        else:
            corpus_keeper.setdefault(text, doc_id)
    want = {}
    for doc_id, text in docs:
        if not _is_new(doc_id):
            continue
        if text in corpus_keeper:
            want[doc_id] = ("dup_corpus", corpus_keeper[text])
        elif batch_keeper[text] != doc_id:
            want[doc_id] = ("dup_batch", batch_keeper[text])
        else:
            want[doc_id] = ("kept", doc_id)

    qs = registry.all_queries()
    got = {
        r.doc_id: (r.status, r.keeper_id)
        for r in qs["d10_incremental_dedup"](spark, SF0001).collect()
    }
    assert got == want
    assert len(got) == sum(1 for d, _ in docs if _is_new(d))


def test_d12_clusters_match_union_find(spark):
    """d12's distributed label propagation equals a plain python
    union-find over the same d3 pairs: identical membership AND the
    canonical (minimum) id per component."""
    qs = registry.all_queries()
    pairs = [
        (r.doc_a, r.doc_b)
        for r in qs["d3_ngram_jaccard"](spark, SF001).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    got = {
        r.doc_id: r.cluster_id
        for r in qs["d12_dedup_clusters"](spark, SF001).collect()
    }
    assert got == want
    assert pairs and got  # non-vacuous
    # canonical id is a member of its own cluster
    for doc, cid in got.items():
        assert got[cid] == cid


def test_d11_equals_d4_restricted_to_new(spark):
    """The incremental LSH rung finds EXACTLY the full-corpus d4 pairs
    that involve >= 1 new doc: same bucket table (same caps), same
    verification — only corpus-vs-corpus work is skipped."""
    qs = registry.all_queries()
    d4 = {
        (r.doc_a, r.doc_b)
        for r in qs["d4_minhash_lsh"](spark, SF001).collect()
    }
    d11 = {
        (r.doc_a, r.doc_b)
        for r in qs["d11_incremental_lsh"](spark, SF001).collect()
    }
    want = {p for p in d4 if _is_new(p[0]) or _is_new(p[1])}
    assert d11 == want
    assert d11  # non-vacuous at sf0.01
    # and of course every pair is real (subset of d4, which pytest ties
    # to d3's exact ground truth elsewhere)
    assert d11 <= d4


def test_connected_components_rounds_track_diameter(spark):
    """The extracted connected_components(pairs) helper (d12's loop):
    rounds used = min-label eccentricity + 1 (one hop per synchronous
    round, plus the round that observes convergence), labels exact.
    SCALE.md's CC rung asserts the same at 100k nodes; this pins the
    semantics at unit size, plus the max_iters guard raising loudly
    on a graph deeper than the cap (the adversarial chain shape).
    Job counts are pinned too: round 1 reads the edge list alone and
    each round's convergence check is one filter over its checkpoint."""
    import pytest

    from a3_fp_bigdata_spark import registry as reg
    from a3_fp_bigdata_spark.operators.dedup import connected_components

    def pairs_df(pairs):
        return spark.createDataFrame(pairs, "doc_a long, doc_b long")

    def run(group, pairs):
        with job_group(spark, group):
            labels, rounds = connected_components(spark, pairs_df(pairs))
        jobs = len(job_ids(spark, group))
        got = {r.doc_id: r.lab for r in labels.collect()}
        labels.unpersist()
        reg.release_pinned()
        return got, rounds, jobs

    # chain 0-1-2-3-4: min label 0 travels 4 hops -> 5 rounds
    got, rounds, jobs = run("cc-chain", [(i, i + 1) for i in range(4)])
    assert got == {i: 0 for i in range(5)}
    assert rounds == 5
    assert jobs <= 31, jobs

    # two triangles (cliques, diam 1): converge in 1 round + 1 observe
    got, rounds, jobs = run(
        "cc-triangles",
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)],
    )
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}
    assert rounds == 2
    assert jobs <= 11, jobs

    # a chain deeper than the cap must refuse loudly, never return
    # half-propagated labels
    with pytest.raises(RuntimeError, match="not converged in 3"):
        connected_components(
            spark, pairs_df([(i, i + 1) for i in range(6)]), max_iters=3
        )
    reg.release_pinned()
