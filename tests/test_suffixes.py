"""Suffix-array rung (d21/d22): ground-truth equality against python's
own suffix sort, planted cross-document duplicates, and the
separator-stitching guard (SURVEY §5 style: exact pins, no tolerance).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from a3_fp_bigdata_spark import registry, stages
from a3_fp_bigdata_spark.operators import suffixes as SX
from tests.conftest import SF0001


def _python_suffix_array(s: str) -> list[tuple[int, int]]:
    """(sa_rank, pos) by brute force — the third independent
    implementation (after Spark prefix doubling and DuckDB's sort)."""
    poss = [p for p in range(len(s)) if s[p] != SX.SA_SEP]
    order = sorted(poss, key=lambda p: s[p:])
    return [(i + 1, p) for i, p in enumerate(order)]


def test_d21_matches_python_ground_truth(spark):
    s = SX.corpus_slice(spark, SF0001).first()["s"]
    want = _python_suffix_array(s)
    got = [
        (r["sa_rank"], r["pos"])
        for r in registry.all_queries()["d21_suffix_array"](
            spark, SF0001
        ).orderBy("sa_rank").collect()
    ]
    assert got == want


def _planted_corpus(spark, tmp_path):
    """documents table whose mod-SA_DOC_MOD sample carries a planted
    30-char exact cross-document repeat plus a decoy pair whose only
    'repeat' straddles the document boundary."""
    span = "the quick brown fox jumps over"  # 30 chars
    assert len(span) == 30
    mod = SX.SA_DOC_MOD
    rows = [
        (0 * mod, f"alpha {span} omega one"),
        (1 * mod, f"beta {span} gamma two"),
        # decoy: doc ends with a prefix the NEXT doc starts with — any
        # stitched window would cross the separator and must be excluded
        (2 * mod, "zebra stripes conclude with shared boundary tail"),
        (3 * mod, "shared boundary tail starts this other document"),
        # non-sampled doc with the same span must NOT appear (not in
        # the mod sample)
        (1, f"hidden {span} hidden"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "test", 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, ts long",
    )
    out = str(tmp_path / "planted")
    df.select("doc_id", "text", "lang", "source").write.mode(
        "overwrite"
    ).parquet(out + "/documents.parquet")
    return out


def test_d22_finds_planted_cross_doc_span(spark, tmp_path):
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()  # keyed by input path, but keep the test hermetic
    rows = registry.all_queries()["d22_exact_substring_spans"](
        spark, sf_dir
    ).collect()
    stages.release_all()
    spans = {r["span"] for r in rows}
    # every reported span really is SPAN_L chars of the planted repeat
    s = SX.corpus_slice(spark, sf_dir).first()["s"]
    for r in rows:
        assert (
            s[r["pos_a"] : r["pos_a"] + SX.SPAN_L]
            == s[r["pos_b"] : r["pos_b"] + SX.SPAN_L]
            == r["span"]
        )
        assert SX.SA_SEP not in r["span"]
    # the planted repeat surfaces (some window of it)
    assert any(sp in f" {('the quick brown fox jumps over')} " or
               sp in "the quick brown fox jumps over"
               for sp in spans), spans
    # no span crosses a document boundary
    assert all(SX.SA_SEP not in sp for sp in spans)


def test_d22_zero_false_negatives_on_planted(spark, tmp_path):
    """Exhaustive cross-check on the planted corpus: EVERY repeated
    SPAN_L-window (python brute force over the slice) must be
    recoverable from d22's adjacent-pair output via span equality —
    the Lee et al. completeness property at test scale."""
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()
    s = SX.corpus_slice(spark, sf_dir).first()["s"]
    windows: dict[str, list[int]] = {}
    for p in range(len(s) - SX.SPAN_L + 1):
        w = s[p : p + SX.SPAN_L]
        if SX.SA_SEP in w:
            continue
        windows.setdefault(w, []).append(p)
    dup_spans = {w for w, ps in windows.items() if len(ps) > 1}
    rows = registry.all_queries()["d22_exact_substring_spans"](
        spark, sf_dir
    ).collect()
    stages.release_all()
    got_spans = {r["span"] for r in rows}
    assert dup_spans == got_spans, (
        dup_spans - got_spans,
        got_spans - dup_spans,
    )


def _sa_stages() -> int:
    return sum(1 for k in stages._ENTRIES if k[1] == "suffix_array")


def test_sa_cache_shared_between_queries(spark):
    stages.release_all()
    registry.all_queries()["d21_suffix_array"](spark, SF0001).count()
    assert _sa_stages() == 1
    registry.all_queries()["d22_exact_substring_spans"](
        spark, SF0001
    ).count()
    assert _sa_stages() == 1  # reused, not rebuilt


def test_d23_lcp_matches_python_ground_truth(spark):
    """Capped LCP of every SA-adjacent pair equals a direct python
    common-prefix count over the same slice."""
    s = SX.corpus_slice(spark, SF0001).first()["s"]
    rows = registry.all_queries()["d23_lcp_array"](
        spark, SF0001
    ).orderBy("sa_rank").collect()
    sa = _python_suffix_array(s)
    assert len(rows) == len(sa) - 1
    for r in rows:
        a, b = r["pos_a"], r["pos_b"]
        k = 0
        while (
            k < SX.LCP_CAP
            and a + k < len(s)
            and b + k < len(s)
            and s[a + k] == s[b + k]
            # the separator clamp (ADVICE r13): the LCP stops at the
            # first document boundary, never stitches across it
            and s[a + k] != SX.SA_SEP
        ):
            k += 1
        assert r["lcp"] == k, (a, b, k, r["lcp"])
        # adjacency really is the SA's
        assert (r["sa_rank"], a) in sa


def test_d25_segmented_equals_broadcast_lane(spark, tmp_path):
    """The segmented span projection (d22's AND d25's DEFAULT since
    r15) returns exactly the legacy broadcast lane's row set — on
    sf0.001 AND on the planted corpus with a segment width shrunk so
    spans straddle segment boundaries (the overlap-padding case the
    100-TB story leans on). _spans_broadcast exists ONLY for this
    pin."""
    qs = registry.all_queries()

    def rows(df):
        return sorted(
            (r["pos_a"], r["pos_b"], r["span"]) for r in df.collect()
        )

    assert rows(qs["d25_segmented_spans"](spark, SF0001)) == rows(
        SX._spans_broadcast(spark, SF0001)
    )
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()
    old_seg = SX.SA_SEG_BYTES
    SX.SA_SEG_BYTES = 16  # < SPAN_L: every window crosses a boundary
    try:
        got = rows(qs["d22_exact_substring_spans"](spark, sf_dir))
        want = rows(SX._spans_broadcast(spark, sf_dir))
    finally:
        SX.SA_SEG_BYTES = old_seg
        stages.release_all()
    assert got == want and len(got) > 0


def test_d23_segmented_equals_broadcast_lane(spark, tmp_path):
    """The segmented LCP staircase (d23's DEFAULT since r15, overlap
    = LCP_CAP - 1) returns exactly the legacy broadcast lane's rows —
    on sf0.001 AND with SA_SEG_BYTES shrunk BELOW the 64-byte cap so
    every window straddles several segment boundaries and reads
    entirely from its overlap padding."""
    qs = registry.all_queries()

    def rows(df):
        return sorted(
            (r["sa_rank"], r["pos_a"], r["pos_b"], r["lcp"])
            for r in df.collect()
        )

    assert rows(qs["d23_lcp_array"](spark, SF0001)) == rows(
        SX._lcp_broadcast(spark, SF0001)
    )
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()
    old_seg = SX.SA_SEG_BYTES
    SX.SA_SEG_BYTES = 24  # < LCP_CAP: every 64-byte window straddles
    try:
        got = rows(qs["d23_lcp_array"](spark, sf_dir))
        want = rows(SX._lcp_broadcast(spark, sf_dir))
    finally:
        SX.SA_SEG_BYTES = old_seg
        stages.release_all()
    assert got == want and len(got) > 0


def test_d24_cut_matches_python_reference(spark, tmp_path):
    """d24's span cut equals a from-scratch python replay on the
    planted corpus: python builds its own SA, derives the SA-adjacent
    duplicate pairs, cuts the position-max of each, and re-assembles
    every sampled doc. Also pins the policy's keep-one guarantee: the
    earliest occurrence of the planted repeat survives, the later one
    is cut."""
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()
    s = SX.corpus_slice(spark, sf_dir).first()["s"]
    L = SX.SPAN_L
    sa = _python_suffix_array(s)
    cut: set[int] = set()
    for (_, p1), (_, p2) in zip(sa, sa[1:]):
        w1, w2 = s[p1 : p1 + L], s[p2 : p2 + L]
        if (
            len(w1) == L
            and w1 == w2
            and SX.SA_SEP not in w1
            and SX.SA_SEP not in w2
        ):
            cut.add(max(p1, p2))
    covered = {i for p in cut for i in range(p, p + L)}
    # doc offsets in slice order
    docs = sorted(
        (r["doc_id"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % SX.SA_DOC_MOD == 0)
        .selectExpr(
            "doc_id", "regexp_replace(text, '[^ -~]', '') AS t"
        )
        .collect()
    )
    expected = {}
    off = 0
    for doc_id, t in docs:
        kept = "".join(
            ch for i, ch in enumerate(t) if (off + i) not in covered
        )
        expected[doc_id] = (kept, len(kept), len(t) - len(kept))
        off += len(t) + 1  # separator
    rows = registry.all_queries()["d24_sa_span_cut"](
        spark, sf_dir
    ).collect()
    stages.release_all()
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_cut"])
        for r in rows
    }
    assert got == expected
    # keep-one: the planted repeat survives in doc 0, is cut in doc 47
    span = "the quick brown fox jumps over"
    assert span in got[0][0]
    assert span not in got[SX.SA_DOC_MOD][0]
    assert got[SX.SA_DOC_MOD][2] >= len(span)


def test_char_rows_reconstruct_slice_string(spark):
    """suffix_char_rows (the distributed build input) reconstructs
    corpus_slice's concatenated string byte-for-byte — every char, at
    every global position, separators included."""
    s = SX.corpus_slice(spark, SF0001).first()["s"]
    rows = SX.suffix_char_rows(spark, SF0001).collect()
    got = [None] * len(s)
    for r in rows:
        assert got[r["pos"]] is None  # no position written twice
        got[r["pos"]] = r["ch"]
    assert "".join(got) == s


def test_segments_reconstruct_slice_bytes(spark):
    """The stitched overlap segments are exactly the byte windows the
    monolithic slicing would produce — width + overlap, boundaries,
    final short segment."""
    s = SX.corpus_slice(spark, SF0001).first()["s"].encode()
    old_seg = SX.SA_SEG_BYTES
    SX.SA_SEG_BYTES = 257  # force several segments + a short tail
    try:
        # the unified default (r15 optimization round): ONE table at
        # SA_SEG_OVERLAP = max(SPAN_L, LCP_CAP, SA_BASE_CHARS) - 1
        # serves the build, the span windows and the LCP staircase
        segs = {
            r["seg_id"]: bytes(r["seg"])
            for r in SX._slice_segments(spark, SF0001).collect()
        }
        # the overlap stays parameterized for narrower explicit widths
        segs_span = {
            r["seg_id"]: bytes(r["seg"])
            for r in SX._slice_segments(
                spark, SF0001, overlap=SX.SPAN_L - 1
            ).collect()
        }
    finally:
        SX.SA_SEG_BYTES = old_seg
        stages.release_all()
    w = 257
    import math

    assert set(segs) == set(range(math.ceil(len(s) / w)))
    for i, seg in segs.items():
        assert seg == s[i * w : (i + 1) * w + SX.SA_SEG_OVERLAP], i
    assert set(segs_span) == set(segs)
    for i, seg in segs_span.items():
        assert seg == s[i * w : (i + 1) * w + SX.SPAN_L - 1], i


def test_two_pass_rerank_equals_global_window(spark):
    """The range-partitioned two-pass re-rank (the default, the 100-TB
    path) is BIT-EQUAL to the legacy single-partition global-window
    build on the same slice — every (sa_rank, pos) row identical
    (VERDICT r13 ask #2's equality pin)."""
    stages.release_all()
    fast = sorted(
        (r["sa_rank"], r["pos"])
        for r in SX.build_suffix_array(spark, SF0001, two_pass=True)
        .collect()
    )
    legacy = sorted(
        (r["sa_rank"], r["pos"])
        for r in SX.build_suffix_array(spark, SF0001, two_pass=False)
        .collect()
    )
    stages.release_all()
    assert fast == legacy
    assert len(fast) == len({p for _, p in fast})  # ranks are a bijection


def test_two_pass_rank_helper_both_modes(spark):
    """_two_pass_rank == the global window on an adversarial frame:
    duplicate keys (dense ranks must collapse), keys that land in
    different range partitions, and more partitions than rows."""
    from pyspark.sql import Window

    rows = [(i, (i * 7) % 5, (i * 3) % 4) for i in range(100)]
    df = spark.createDataFrame(rows, "pos int, r1 int, r2 int")
    got_dense = {
        (r["pos"], r["rnk"])
        for r in SX._two_pass_rank(df, ["r1", "r2"], dense=True).collect()
    }
    want_dense = {
        (r["pos"], r["rnk"])
        for r in df.select(
            "pos",
            F.dense_rank().over(Window.orderBy("r1", "r2"))
            .cast("long").alias("rnk"),
        ).collect()
    }
    assert got_dense == want_dense
    # row_number mode needs a total order for determinism: unique keys
    uniq = df.select("pos", (F.col("pos") * 10).alias("r1"))
    got_rn = {
        (r["pos"], r["rnk"])
        for r in SX._two_pass_rank(uniq, ["r1"], dense=False).collect()
    }
    want_rn = {
        (r["pos"], r["rnk"])
        for r in uniq.select(
            "pos",
            F.row_number().over(Window.orderBy("r1"))
            .cast("long").alias("rnk"),
        ).collect()
    }
    assert got_rn == want_rn
    # the arithmetic-bucket variant (numeric keys, known domain) must
    # agree with both on the same frames: r1 in [1..5] stresses the
    # many-keys-per-bucket case, the unique frame the uniform case
    n_dom = 5
    shifted = df.select("pos", (F.col("r1") + 1).alias("r1"), "r2")
    got_b = {
        (r["pos"], r["rnk"])
        for r in SX._bucket_rank(
            shifted, ["r1", "r2"], n_dom, dense=True
        ).collect()
    }
    want_b = {
        (r["pos"], r["rnk"])
        for r in shifted.select(
            "pos",
            F.dense_rank().over(Window.orderBy("r1", "r2"))
            .cast("long").alias("rnk"),
        ).collect()
    }
    assert got_b == want_b
    uniq2 = uniq.select("pos", (F.col("pos") + 1).alias("r1"))
    got_bu = {
        (r["pos"], r["rnk"])
        for r in SX._bucket_rank(
            uniq2, ["r1"], 100, dense=False
        ).collect()
    }
    want_bu = {
        (r["pos"], r["rnk"])
        for r in uniq2.select(
            "pos",
            F.row_number().over(Window.orderBy("r1"))
            .cast("long").alias("rnk"),
        ).collect()
    }
    assert got_bu == want_bu


def test_d26_stats_agree_with_d23_rows(spark):
    """d26's five integers equal a python aggregate of d23's collected
    rows — and the planted corpus cross-checks n_ge_span > 0."""
    qs = registry.all_queries()
    rows = qs["d23_lcp_array"](spark, SF0001).collect()
    got = qs["d26_repeat_stats"](spark, SF0001).first()
    lcps = [r["lcp"] for r in rows]
    assert got["n_pairs"] == len(lcps)
    assert got["max_lcp"] == max(lcps)
    assert got["sum_lcp"] == sum(lcps)
    assert got["n_ge_span"] == sum(1 for x in lcps if x >= SX.SPAN_L)
    assert got["n_at_cap"] == sum(1 for x in lcps if x >= SX.LCP_CAP)


def test_d27_effectiveness_matches_python_replay(spark, tmp_path):
    """d27's four integers equal a full python replay on the planted
    corpus: python derives its own SA, the qualifying adjacent pairs,
    the cut set, the cleaned docs, and then RE-derives the SA of the
    cleaned slice to count residual spans — the same end-to-end chain,
    third-implementation style. Also pins the planted scenario: spans
    exist before, and cutting the single planted pair leaves zero."""
    sf_dir = _planted_corpus(spark, tmp_path)
    stages.release_all()
    s = SX.corpus_slice(spark, sf_dir).first()["s"]
    L = SX.SPAN_L

    def qualifying(slice_s):
        sa = _python_suffix_array(slice_s)
        n = 0
        cut: set[int] = set()
        for (_, p1), (_, p2) in zip(sa, sa[1:]):
            w1 = slice_s[p1 : p1 + L]
            w2 = slice_s[p2 : p2 + L]
            if (
                len(w1) == L
                and w1 == w2
                and SX.SA_SEP not in w1
                and SX.SA_SEP not in w2
            ):
                n += 1
                cut.add(max(p1, p2))
        return n, cut

    n_before, cut = qualifying(s)
    covered = {i for p in cut for i in range(p, p + L)}
    docs = sorted(
        (r["doc_id"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % SX.SA_DOC_MOD == 0)
        .selectExpr(
            "doc_id", "regexp_replace(text, '[^ -~]', '') AS t"
        )
        .collect()
    )
    cleaned_texts = []
    total_cut = 0
    off = 0
    for _, t in docs:
        kept = "".join(
            ch for i, ch in enumerate(t) if (off + i) not in covered
        )
        cleaned_texts.append(kept)
        total_cut += len(t) - len(kept)
        off += len(t) + 1
    n_after, _ = qualifying(SX.SA_SEP.join(cleaned_texts))
    row = registry.all_queries()["d27_cut_effectiveness_audit"](
        spark, sf_dir
    ).first()
    stages.release_all()
    got = (
        row["n_spans_before"],
        row["n_spans_after"],
        row["n_docs"],
        row["n_chars_cut"],
    )
    assert got == (n_before, n_after, len(docs), total_cut)
    assert n_before > 0  # the planted repeat really produced spans
    assert n_after == 0  # one planted pair -> the cut removes it all
