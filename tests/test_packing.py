"""Sequence-packing operator invariants (operators/packing.py).

The DuckDB oracles (run by test_oracle_parity + the driver) pin exact
values; these tests pin the ALGEBRAIC invariants a training pipeline
actually relies on, independent of any oracle."""

from __future__ import annotations

import math
import os
import re
import subprocess
import sys
import threading
import time

from a3_fp_bigdata_spark import registry, stages
from a3_fp_bigdata_spark.operators.packing import (
    NSHARDS,
    PACK_BUDGET,
    SAMPLE_MULT,
    SAMPLE_PREMOD,
    STRATA_DEFAULT_PCT,
    STRATA_PCT,
)
from tests.conftest import SF0001, job_group, job_ids


def test_concat_chunks_is_a_gapless_token_stream(spark):
    """pk1 models one contiguous token stream: walking docs in the
    declared global order (shard, doc_id), each doc starts exactly where
    the previous ended, offsets stay inside the budget, and the chunk
    count is ceil(total/budget)."""
    rows = registry.all_queries()["pk1_concat_chunks"](
        spark, SF0001
    ).collect()
    by_doc = {r.doc_id: r for r in rows}
    order = sorted(by_doc, key=lambda d: (d % NSHARDS, d))
    cum = 0
    for d in order:
        r = by_doc[d]
        assert 0 <= r.chunk_offset < PACK_BUDGET
        assert r.chunk_id == cum // PACK_BUDGET
        assert r.chunk_offset == cum % PACK_BUDGET
        span = (cum + max(r.n_tokens, 1) - 1) // PACK_BUDGET - r.chunk_id + 1
        assert r.n_chunks_spanned == span
        cum += r.n_tokens
    total_chunks = max(r.chunk_id + r.n_chunks_spanned for r in rows)
    assert total_chunks == math.ceil(cum / PACK_BUDGET)


def test_greedy_pack_respects_budget_and_never_splits(spark):
    """pk2: every sequence fits the budget (unless it is a single
    oversize doc), docs are whole (one row each), sequence ids are
    dense per shard, and the assignment equals the greedy walk."""
    rows = registry.all_queries()["pk2_greedy_pack"](spark, SF0001).collect()
    assert len({r.doc_id for r in rows}) == len(rows)  # never split
    seqs: dict[tuple, list] = {}
    for r in rows:
        seqs.setdefault((r.shard, r.seq_id), []).append(r.n_tokens)
    for (shard, seq_id), toks in seqs.items():
        assert sum(toks) <= PACK_BUDGET or len(toks) == 1  # oversize solo
    # dense ids + greedy replay per shard
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        seq, fill = 0, rs[0].n_tokens
        for r, prev in zip(rs[1:], rs):
            if fill + r.n_tokens > PACK_BUDGET:
                seq, fill = seq + 1, r.n_tokens
            else:
                fill += r.n_tokens
            assert r.seq_id == seq, (shard, r.doc_id)
        assert {r.seq_id for r in rs} == set(range(seq + 1))  # dense


def test_stratified_sample_matches_predicate_and_strata(spark):
    """pk3 equals the deterministic per-stratum predicate recomputed in
    plain Python, and the per-language rates genuinely differ."""
    from a3_fp_bigdata_spark.data import table

    docs = {
        r.doc_id: r.lang
        for r in table(spark, SF0001, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    got = {
        r.doc_id
        for r in registry.all_queries()["pk3_stratified_sample"](
            spark, SF0001
        ).collect()
    }
    want = {
        d
        for d, lang in docs.items()
        if ((d % SAMPLE_PREMOD) * SAMPLE_MULT) % 100
        < STRATA_PCT.get(lang, STRATA_DEFAULT_PCT)
    }
    assert got == want
    # rates differ by stratum: en kept at ~50%, tail at ~10%
    n_en = sum(1 for d in docs if docs[d] == "en")
    if n_en >= 40:  # enough mass for a crude rate check
        en_rate = sum(1 for d in got if docs[d] == "en") / n_en
        assert 0.3 < en_rate < 0.7


def test_domain_mixture_rates_hit_target_shares(spark):
    """pk5's data-derived rates: the scarcest domain (relative to its
    target) is kept near-whole, every rate is a valid percent, and the
    realized mixture lands near MIX_PCT for domains with enough mass.
    Membership equals the deterministic predicate recomputed in plain
    Python from the integer rate math."""
    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.operators.packing import (
        MIX_DEFAULT_PCT,
        MIX_PCT,
    )

    docs = {
        r.doc_id: r.lang
        for r in table(spark, SF0001, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    rows = registry.all_queries()["pk5_domain_mixture"](
        spark, SF0001
    ).collect()
    got = {r.doc_id for r in rows}
    rate_by_lang = {r.lang: r.keep_pct for r in rows}

    # replay the integer mixture math
    n_by_lang: dict[str, int] = {}
    for lang in docs.values():
        n_by_lang[lang] = n_by_lang.get(lang, 0) + 1
    target = {
        lang: MIX_PCT.get(lang, MIX_DEFAULT_PCT) for lang in n_by_lang
    }
    mix_size = min(n * 100 // target[lang] for lang, n in n_by_lang.items())
    want_rate = {
        lang: min(target[lang] * mix_size // n, 100)
        for lang, n in n_by_lang.items()
    }
    # rate_by_lang only covers langs with >= 1 surviving doc, so
    # compare per-lang rather than whole-dict (a tiny stratum whose
    # docs all miss the hash cut is correct behavior, not a mismatch)
    for lang, r in rate_by_lang.items():
        assert r == want_rate[lang], lang
    want = {
        d
        for d, lang in docs.items()
        if ((d % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < want_rate[lang]
    }
    assert got == want
    assert set(rate_by_lang) == {docs[d] for d in want}
    # the limiting domain is kept (nearly) whole; nothing exceeds 100
    assert max(want_rate.values()) <= 100
    assert any(r >= 95 for r in want_rate.values())
    # realized shares track targets where the law of large numbers has
    # any chance (>= 30 docs in the stratum): within 15 share-points
    total = len(got)
    for lang, n in n_by_lang.items():
        if n < 30 or total == 0:
            continue
        share = 100 * sum(1 for d in got if docs[d] == lang) / total
        assert abs(share - target[lang]) < 15, (lang, share)


def test_epoch_plan_counts_and_nesting(spark):
    """pk6: each doc appears in epochs 1..k contiguously, full epochs
    come from the schedule's integer part, the fractional epoch's
    membership is the deterministic hash predicate, and per-lang row
    amplification approximates epochs_cpct/100."""
    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.operators.packing import (
        EPOCHS_CPCT,
        EPOCHS_DEFAULT_CPCT,
    )

    docs = {
        r.doc_id: r.lang
        for r in table(spark, SF0001, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    rows = registry.all_queries()["pk6_epoch_plan"](spark, SF0001).collect()
    epochs: dict[int, set] = {}
    for r in rows:
        epochs.setdefault(r.doc_id, set()).add(r.epoch)
    for d, eps in epochs.items():
        # contiguous from 1 — a doc never skips an epoch
        assert eps == set(range(1, len(eps) + 1)), (d, eps)
        cpct = EPOCHS_CPCT.get(docs[d], EPOCHS_DEFAULT_CPCT)
        extra = ((d % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < cpct % 100
        assert len(eps) == cpct // 100 + (1 if extra else 0)
    # docs absent entirely are exactly the fractional-only misses
    for d, lang in docs.items():
        cpct = EPOCHS_CPCT.get(lang, EPOCHS_DEFAULT_CPCT)
        if d not in epochs:
            assert cpct < 100
            assert not (
                ((d % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < cpct % 100
            )
    # per-lang amplification ~ cpct/100 for strata with mass
    by_lang: dict[str, int] = {}
    n_by_lang: dict[str, int] = {}
    for d, lang in docs.items():
        n_by_lang[lang] = n_by_lang.get(lang, 0) + 1
        by_lang[lang] = by_lang.get(lang, 0) + len(epochs.get(d, ()))
    for lang, n in n_by_lang.items():
        if n < 30:
            continue
        cpct = EPOCHS_CPCT.get(lang, EPOCHS_DEFAULT_CPCT)
        assert abs(by_lang[lang] / n - cpct / 100) < 0.2, lang


def test_split_leakage_pairs_straddle_the_split(spark):
    """pk7 invariants: every emitted pair has val_doc on the val side
    of pk4's predicate and train_doc on the train side (orientation),
    and the pair set is exactly d3's pairs filtered to straddlers."""
    from a3_fp_bigdata_spark.operators.packing import VAL_PCT

    def is_val(doc_id: int) -> bool:
        return ((doc_id % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < VAL_PCT

    rows = registry.all_queries()["pk7_split_leakage"](
        spark, SF0001
    ).collect()
    assert rows, "sf0.001 corpus is known to contain straddling pairs"
    for r in rows:
        assert is_val(r.val_doc) and not is_val(r.train_doc)
        assert 0 < r.jaccard <= 1.0
    d3 = registry.all_queries()["d3_ngram_jaccard"](spark, SF0001).collect()
    straddlers = {
        frozenset((p.doc_a, p.doc_b))
        for p in d3
        if is_val(p.doc_a) != is_val(p.doc_b)
    }
    assert {frozenset((r.train_doc, r.val_doc)) for r in rows} == straddlers


def test_sliding_chunks_cover_each_document(spark):
    """pk8 invariants: chunk indices are dense from 0; every chunk
    holds 1..CHUNK_SIZE tokens; consecutive starts advance by
    CHUNK_STRIDE; the final chunk reaches exactly the document's last
    token (full coverage, no phantom tail chunk)."""
    from a3_fp_bigdata_spark.operators.packing import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )
    from a3_fp_bigdata_spark.operators.text_analysis import tx3_token_count

    n_by_doc = {
        r.doc_id: r.n_ws_tokens
        for r in tx3_token_count(spark, SF0001).collect()
    }
    rows = registry.all_queries()["pk8_sliding_chunks"](
        spark, SF0001
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d, n in n_by_doc.items() if n > 0}
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = n_by_doc[doc]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert 1 <= c.n_tokens <= CHUNK_SIZE
        last = chunks[-1]
        assert last.chunk_idx * CHUNK_STRIDE + last.n_tokens == n
        expected = 1 + max(0, -(-(max(n - CHUNK_SIZE, 0)) // CHUNK_STRIDE))
        assert len(chunks) == expected


def test_weighted_sample_is_unbiased_and_quality_tilted(spark):
    """pk9: membership equals the hash predicate at each doc's own
    keep_rate (replayed in plain Python from tx2's quality), the
    Horvitz-Thompson weights are exactly 100/keep_rate, and the
    weighted sample size estimates the corpus size (unbiasedness)."""
    from a3_fp_bigdata_spark.operators.text_analysis import tx2_quality_score

    quality = {
        r.doc_id: r.quality
        for r in tx2_quality_score(spark, SF0001).collect()
    }
    rows = registry.all_queries()["pk9_weighted_sample"](
        spark, SF0001
    ).collect()
    got = {r.doc_id: r for r in rows}
    def hup(x, p=10000):  # functions.rounding.half_up replayed in python
        return math.floor(x * p + 0.5) / p

    for d, q in quality.items():
        # nearest-percent via the shared half-tipping-safe +0.5-floor,
        # floored at 1 so every doc has nonzero inclusion probability
        rate = max(1, math.floor(hup(q) * 100 + 0.5))
        keep = ((d % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < rate
        assert (d in got) == keep, d
        if keep:
            assert got[d].keep_rate == rate
            assert abs(got[d].inv_weight - hup(100.0 / rate)) < 1e-9
    # Horvitz-Thompson: sum of weights estimates the corpus size
    est = sum(r.inv_weight for r in rows)
    assert abs(est - len(quality)) / len(quality) < 0.15
    # the tilt is real: kept docs average higher quality than the corpus
    kept_q = sum(quality[d] for d in got) / len(got)
    all_q = sum(quality.values()) / len(quality)
    assert kept_q > all_q


def test_interleave_schedule_round_robins_domains(spark):
    """pk10: consecutive global positions cycle through sources — the
    first |sources| positions hit |sources| DISTINCT domains, ranks
    are per-source contiguous, and global_pos is a 1..N total order."""
    rows = sorted(
        registry.all_queries()["pk10_interleave_schedule"](
            spark, SF0001
        ).collect(),
        key=lambda r: r.global_pos,
    )
    n_sources = len({r.source for r in rows})
    head = [r.source for r in rows[:n_sources]]
    assert len(set(head)) == n_sources
    assert [r.global_pos for r in rows] == list(range(1, len(rows) + 1))
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r.rank_in_source)
    for src, ranks in per_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_corpus_checksum_invariance_and_sensitivity(spark):
    """pl3: the checksum is partition/order-invariant (repartitioned
    input folds to identical numbers), flips on a single-character
    change to one row and on a single duplicated row, and pair-wise
    duplicate injection — xor-invisible by construction — is caught
    by n_rows."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import (
        _CK_COLS,
        _row_digest,
    )

    def fold(df):
        return tuple(
            df.select(
                _row_digest(_CK_COLS, "s1").alias("_d1"),
                _row_digest(_CK_COLS, "s2").alias("_d2"),
            )
            .agg(
                F.count("*").cast("long"),
                F.coalesce(F.expr("bit_xor(_d1)"), F.lit(0)).cast("long"),
                F.coalesce(F.expr("bit_xor(_d2)"), F.lit(0)).cast("long"),
            )
            .first()
        )

    from a3_fp_bigdata_spark.data import table

    docs = table(spark, SF0001, "documents")
    base = fold(docs)
    assert fold(docs.repartition(13)) == base
    assert fold(docs.orderBy(F.desc("doc_id"))) == base

    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    m = fold(mutated)
    assert m[0] == base[0] and m[1] != base[1] and m[2] != base[2]

    one_dup = docs.unionByName(docs.filter(F.col("doc_id") == 7))
    d1 = fold(one_dup)
    # ONE extra copy flips both xors (odd occurrence count)...
    assert d1[0] == base[0] + 1 and d1[1] != base[1] and d1[2] != base[2]
    # ...but a PAIR of extra copies is xor-invisible (even count
    # cancels) — the documented limitation, caught only by n_rows
    extra = docs.filter(F.col("doc_id") == 7)
    two_dups = docs.unionByName(extra).unionByName(extra)
    d2 = fold(two_dups)
    assert d2[1] == base[1] and d2[2] == base[2]
    assert d2[0] == base[0] + 2


def test_corpus_checksum_rendering_injective(spark):
    """Document text is raw, so the renderer may not assume ANY byte is
    absent from the data: adversarial rows that would collide under a
    naive separator-join — field content containing the \\x1f separator
    shifted across a field boundary, and a literal ␀ vs a real NULL —
    must produce distinct digests (netstring-style length-prefixed
    rendering)."""
    from a3_fp_bigdata_spark.operators.packing import _row_digest

    def digests(rows):
        df = spark.createDataFrame(rows, "a string, b string")
        return [
            r[0]
            for r in df.select(_row_digest(["a", "b"], "s1")).collect()
        ]

    # separator smuggled across the field boundary: naive join renders
    # both as  a \x1f b \x1f c
    d_left = digests([("a\x1fb", "c")])
    d_right = digests([("a", "b\x1fc")])
    assert d_left != d_right

    # a cell whose VALUE is the old null sentinel vs an actual NULL
    assert digests([("␀", "x")]) != digests([(None, "x")])

    # length-prefix digits can't bleed into content either
    assert digests([("1", "x")]) != digests([("", "1x")])


def test_span_clean_manifest_composes_the_declared_stages(spark):
    """pl4 must equal its own recipe replayed from the component
    operators' OUTPUTS: survivors = tx2 quality floor AND d14 keeper
    AND d16 n_kept > 0, costs = BPE-ish count of d16's clean_text,
    then pk2's greedy walk — so the composition can never drift from
    the stages it claims to chain (the oracle pins values; this pins
    the FACTORING)."""
    import re

    from a3_fp_bigdata_spark.operators.packing import MANIFEST_MIN_QUALITY

    qs = registry.all_queries()
    man = qs["pl4_span_clean_manifest"](spark, SF0001).collect()
    cut = {r.doc_id: r for r in qs["d16_span_cut"](spark, SF0001).collect()}
    keepers = {
        r.doc_id for r in qs["d14_quality_keeper"](spark, SF0001).collect()
    }
    quality = {
        r.doc_id: r.quality
        for r in qs["tx2_quality_score"](spark, SF0001).collect()
    }
    bpe = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    survivors = {
        d: len(bpe.findall(cut[d].clean_text.lower()))
        for d in cut
        if quality[d] >= MANIFEST_MIN_QUALITY
        and d in keepers
        and cut[d].n_kept > 0
    }
    assert survivors, "fixture corpus must leave survivors"
    # span cut must actually bite at least once on this corpus, else
    # the test degenerates to pl1's shape
    assert any(cut[d].n_cut > 0 for d in survivors)
    expected: dict[tuple, tuple] = {}
    for shard in range(NSHARDS):
        docs = sorted(d for d in survivors if d % NSHARDS == shard)
        seq, fill, first = 0, 0, True
        agg: dict[int, tuple] = {}
        for d in docs:
            c = survivors[d]
            if first:
                fill, first = c, False
            elif fill + c > PACK_BUDGET:
                seq, fill = seq + 1, c
            else:
                fill += c
            n, t = agg.get(seq, (0, 0))
            agg[seq] = (n + 1, t + c)
        for s, (n, t) in agg.items():
            expected[(shard, s)] = (n, t)
    got = {(r.shard, r.seq_id): (r.n_docs, r.seq_tokens) for r in man}
    assert got == expected


def test_forget_ledger_and_attestation_algebra(spark):
    """pl6/pl7 semantics pinned by construction AND by the xor-
    cancellation invariant:

    - requested rows are EXACTLY the forget band of doc_ids;
    - expansion rows are non-requested members of clusters holding a
      requested doc (verified against d12's cluster table directly);
    - pl7 == pl3 with the ledger's digests folded OUT: because bit_xor
      is its own inverse, xor_before ^ xor(purged rows' digests) must
      equal xor_after for BOTH salts, and the row counts must close.
      This checks the purge arithmetic end-to-end without re-running
      either query's own join path.
    """
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.operators.dedup import d12_dedup_clusters
    from a3_fp_bigdata_spark.operators.packing import (
        _CK_COLS,
        _forget_predicate,
        _row_digest,
    )

    qs = registry.all_queries()
    ledger = qs["pl6_forget_ledger"](spark, SF0001).collect()
    reasons = {r.doc_id: r.reason for r in ledger}
    assert len(reasons) == len(ledger)  # no doc purged twice

    docs = table(spark, SF0001, "documents")
    band = {
        r.doc_id
        for r in docs.filter(_forget_predicate(F.col("doc_id")))
        .select("doc_id")
        .collect()
    }
    assert {d for d, why in reasons.items() if why == "requested"} == band

    clusters = {
        r.doc_id: r.cluster_id
        for r in d12_dedup_clusters(spark, SF0001).collect()
    }
    req_clusters = {clusters[d] for d in band if d in clusters}
    want_expansion = {
        d
        for d, c in clusters.items()
        if c in req_clusters and d not in band
    }
    assert {
        d for d, why in reasons.items() if why == "cluster_expansion"
    } == want_expansion

    before = qs["pl3_corpus_checksum"](spark, SF0001).collect()[0]
    after = qs["pl7_forget_attestation"](spark, SF0001).collect()[0]
    assert after.n_rows == before.n_rows - len(ledger)

    purged_ids = list(reasons)
    folded = (
        docs.filter(F.col("doc_id").isin(purged_ids))
        .select(
            _row_digest(_CK_COLS, "s1").alias("_d1"),
            _row_digest(_CK_COLS, "s2").alias("_d2"),
        )
        .agg(
            F.coalesce(F.expr("bit_xor(_d1)"), F.lit(0)).alias("x1"),
            F.coalesce(F.expr("bit_xor(_d2)"), F.lit(0)).alias("x2"),
        )
        .collect()[0]
    )
    assert after.xor1 == before.xor1 ^ folded.x1
    assert after.xor2 == before.xor2 ^ folded.x2


def test_pk12_quality_mixture_bands_and_rates(spark):
    """pk12: band assignment is score-group-atomic and best-first;
    realized rates are pk5's int64 algebra over the band counts."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import QMIX_PCT
    from a3_fp_bigdata_spark.operators.text_analysis import (
        SAMPLE_MULT,
        SAMPLE_PREMOD,
        tx13_unigram_logprob,
    )

    qs = registry.all_queries()
    out = qs["pk12_quality_mixture"](spark, SF0001).collect()
    assert out, "mixture selected nothing"
    assert {r.band for r in out} <= {0, 1, 2}

    scored = {
        r.doc_id: int(math.floor(r.avg_logprob * 10000 + 0.5))
        for r in tx13_unigram_logprob(spark, SF0001).collect()
    }
    # independent band re-derivation: cumulative count over the
    # descending score grid, band = cum_before * 3 // n
    n = len(scored)
    grid = sorted(set(scored.values()), reverse=True)
    sizes = {s: sum(1 for v in scored.values() if v == s) for s in grid}
    band_of, cum = {}, 0
    for s in grid:
        band_of[s] = cum * 3 // n
        cum += sizes[s]
    for r in out:
        assert r.band == band_of[scored[r.doc_id]], r

    # rates: pk5's floor algebra over the full band counts
    bcnt = {}
    for s, c in sizes.items():
        bcnt[band_of[s]] = bcnt.get(band_of[s], 0) + c
    mix_size = min(
        bcnt[b] * 100 // QMIX_PCT.get(b, 10) for b in bcnt
    )
    for r in out:
        want = min(QMIX_PCT.get(r.band, 10) * mix_size // bcnt[r.band], 100)
        assert r.keep_pct == want, r
        assert ((r.doc_id % SAMPLE_PREMOD) * SAMPLE_MULT) % 100 < want

    # head band keeps the largest realized share per target monotonicity
    kept_by_band = {}
    for r in out:
        kept_by_band[r.band] = kept_by_band.get(r.band, 0) + 1
    if {0, 2} <= set(kept_by_band):
        assert kept_by_band[0] > kept_by_band[2]


def test_pl8_release_manifest_composes_and_attests(spark):
    """pl8: the release rows are internally consistent, deterministic
    across a rerun (scratch rewrite included), and strictly a SUBSET
    of pl5's corpus (the added purge/semantic/mixture stages only
    remove docs)."""
    qs = registry.all_queries()
    rows = qs["pl8_release_manifest"](spark, SF0001).collect()
    assert rows, "empty release"
    for r in rows:
        assert r.n_seqs >= 1 and r.n_docs >= r.n_seqs
        assert 0 < r.n_tokens <= r.n_seqs * PACK_BUDGET
        assert r.xor1 != r.xor2  # independent salts over >= 1 doc
    total = sum(r.n_docs for r in rows)
    pl5_total = sum(
        r.n_docs for r in qs["pl5_decontaminated_manifest"](
            spark, SF0001
        ).collect()
    )
    assert 0 < total < pl5_total

    again = qs["pl8_release_manifest"](spark, SF0001).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def _pl8_rows(spark) -> list[tuple]:
    rows = registry.all_queries()["pl8_release_manifest"](spark, SF0001)
    return sorted(map(tuple, rows.collect()))


def test_pl8_jobs_stay_in_the_callers_job_group(spark):
    """pl8 builds d17's verdict on a worker thread: every job of the
    pass, that branch's included, runs under the caller's job group
    (perfbench charges a traced pass by it), and when pl8 returns no
    thread or Spark job of the pass is still running."""
    registry.release_pinned()
    stages.release_all()
    threads = threading.active_count()
    outside = job_ids(spark, None)
    with job_group(spark, "pl8-pass"):
        df = registry.all_queries()["pl8_release_manifest"](spark, SF0001)
        assert threading.active_count() == threads
        assert not spark.sparkContext.statusTracker().getActiveJobsIds()
        df.collect()
    # the tracker keeps the newest jobs only, so compare new ids
    assert job_ids(spark, None) - outside == set()
    assert len(job_ids(spark, "pl8-pass")) > 40


def test_pl8_raises_the_verdict_branchs_error(spark, monkeypatch):
    """A failing d17 branch fails pl8 with that same error, and a
    failure on the calling side waits for the branch before raising."""
    import pytest

    from a3_fp_bigdata_spark.operators import similarity, text_analysis

    boom = RuntimeError("verdict failed")

    def failing(spark, sf_dir):
        spark.range(3).count()
        raise boom

    monkeypatch.setattr(similarity, "materialize_d17_verdict", failing)
    with pytest.raises(RuntimeError) as err:
        _pl8_rows(spark)
    assert err.value is boom
    monkeypatch.undo()

    finished = threading.Event()
    real = similarity.materialize_d17_verdict

    def slow(spark, sf_dir):
        time.sleep(1)
        out = real(spark, sf_dir)
        finished.set()
        return out

    def decon_fails(spark, sf_dir):
        raise ValueError("decon failed")

    monkeypatch.setattr(similarity, "materialize_d17_verdict", slow)
    monkeypatch.setattr(text_analysis, "tx9_decontaminate", decon_fails)
    with pytest.raises(ValueError, match="decon failed"):
        _pl8_rows(spark)
    assert finished.is_set()


def test_pl8_rows_without_aqe_equal_rows_with_it(spark):
    """pl8 plans and runs with adaptive execution off, stages built
    cold there too. A union of two doc_id-hash-partitioned children
    under the purge sort-merge join fails this: exchange reuse drops
    the union's partitioning claim after the join was planned on it,
    and the union runs as 4 + 4 partitions zipped against 4."""
    with_aqe = _pl8_rows(spark)
    registry.release_pinned()
    stages.release_all()
    conf = "spark.sql.adaptive.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        without = _pl8_rows(spark)
    finally:
        spark.conf.set(conf, old)
        registry.release_pinned()
        stages.release_all()
    assert without == with_aqe


def test_pl8_final_plan_reads_caches_and_runs_no_python(spark):
    """After its stages are built, pl8's final executed plan reads only
    cached relations: no file scan (of documents or any other table)
    outside them, so the survivor chain is not re-run by a second
    reader of the mixture. And no node of it, cached subtrees
    included, runs Python. Checked with adaptive execution on and
    off."""
    from a3_fp_bigdata_spark.plans.inspect import _walk_counts

    python_nodes = frozenset({
        "FlatMapGroupsInPandasExec",
        "ArrowEvalPythonExec",
        "BatchEvalPythonExec",
        "MapInPandasExec",
    })
    conf = "spark.sql.adaptive.enabled"
    old = spark.conf.get(conf)
    try:
        for aqe in ("true", "false"):
            spark.conf.set(conf, aqe)
            df = registry.all_queries()["pl8_release_manifest"](spark, SF0001)
            df.collect()
            scans, _ = _walk_counts(df, frozenset({"FileSourceScanExec"}))
            assert scans == 0, aqe
            assert _walk_counts(df, python_nodes) == (0, 0), aqe
    finally:
        spark.conf.set(conf, old)


def test_pl8_timeline_tool_reports_no_python_stage():
    """tools/pl8_timeline.py, one cold pass at the benchmark's corpus
    size in its own process (it starts and stops its own JVM): it
    tells the d17 branch's jobs from the caller's and finds no stage
    that started a Python worker."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "pl8_timeline.py"),
         "--seed", "4"],
        cwd=root, check=True, stdout=subprocess.PIPE, text=True,
        timeout=600,
    ).stdout
    m = re.search(r"^pass wall: [\d.]+ s, (\d+) jobs$", out, re.M)
    assert m and int(m.group(1)) > 0, out
    branches = {ln.split()[0] for ln in out.splitlines() if "(all)" in ln}
    assert branches == {"d17", "main"}, out
    assert re.search(r"^stages with Python workers: 0$", out, re.M), out


def test_greedy_pack_count_equals_the_pandas_packer(spark):
    """pl8's JVM fold counts the sequences pk2's pandas packer cuts:
    per shard, n_seqs / n_docs / n_tokens equal ``_greedy_pack``'s
    output rolled up, on the edge costs (0, exactly the budget, over
    it, a fill that lands exactly on it) and on seeded random shards,
    with rows handed over out of doc_id order across partitions."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import (
        _greedy_pack,
        _greedy_pack_count,
    )

    B = PACK_BUDGET
    edge = {
        # 100 + (B-100) lands on B and 0 still fits: one sequence;
        # a doc of exactly B opens the second, the 1 after it the third
        0: [(1, 100), (2, B - 100), (3, 0), (4, B), (5, 1)],
        1: [(10, B + 44)],  # one-doc shard, oversize singleton
        # oversize docs stand alone; even a 0 after one opens a sequence
        2: [(20, B + 44), (21, B + 44), (22, 0)],
        3: [(30, 0)],
        4: [(40, 0), (41, B)],
    }
    want_seqs = {0: 3, 1: 1, 2: 3, 3: 1, 4: 1}
    rng = random.Random(7)
    shards = dict(edge)
    for shard in range(5, 13):
        ids = rng.sample(range(1000 * shard, 1000 * shard + 500), rng.randint(1, 40))
        shards[shard] = [(d, rng.choice([0, B, B + 1, rng.randint(0, B)])) for d in ids]
    rows = [(d, shard, c) for shard, docs in shards.items() for d, c in docs]
    rng.shuffle(rows)

    got = {
        r.shard: (r.n_seqs, r.n_docs, r.n_tokens)
        for r in spark.createDataFrame(rows, "doc_id long, shard long, cost long")
        .repartition(3)
        .groupBy("shard")
        .agg(
            _greedy_pack_count(F.col("doc_id"), F.col("cost")).alias("n_seqs"),
            F.count("*").alias("n_docs"),
            F.sum("cost").alias("n_tokens"),
        )
        .collect()
    }
    pdf = pd.DataFrame(rows, columns=["doc_id", "shard", "cost"])
    for shard, group in pdf.groupby("shard"):
        packed = _greedy_pack(group.copy())
        assert got[shard] == (
            packed["seq_id"].nunique(), len(packed), packed["cost"].sum()
        ), shard
    assert {s: got[s][0] for s in want_seqs} == want_seqs


def test_pk13_curriculum_is_a_global_total_order(spark):
    """pk13's two-pass prefix positions form an exact permutation
    0..n-1, non-decreasing in band along the schedule, and within-band
    ordered by (shard, bucket, batch_id) — the property the naive
    global ROW_NUMBER oracle checks, re-derived here independently.
    Batch bands must equal the max member band from pk12's map."""
    qs = registry.all_queries()
    rows = qs["pk13_curriculum_schedule"](spark, SF0001).collect()
    assert rows
    pos = sorted(r.curriculum_pos for r in rows)
    assert pos == list(range(len(rows)))  # exact permutation
    sched = sorted(rows, key=lambda r: r.curriculum_pos)
    keys = [(r.band, r.shard, r.bucket, r.batch_id) for r in sched]
    assert keys == sorted(keys)  # band-major lexicographic order

    # batch band = max member band (worst member governs)
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.operators.packing import (
        _length_batched_docs,
        _quality_bands,
    )

    scored, banded = _quality_bands(spark, SF0001)
    docband = {
        r.doc_id: r.band
        for r in scored.join(F.broadcast(banded), "score4").collect()
    }
    members = {}
    for r in _length_batched_docs(spark, SF0001).collect():
        if r.doc_id in docband:
            key = (r.shard, r.bucket, r.batch_id)
            members.setdefault(key, []).append(docband[r.doc_id])
    registry.release_pinned()
    for r in rows:
        key = (r.shard, r.bucket, r.batch_id)
        assert r.band == max(members[key])
        assert r.n_docs == len(members[key])


def test_pk14_efficiency_totals_and_greedy_invariant(spark):
    """pk14's per-shard table must reconcile exactly with pk2's packing
    and with the corpus, and every multi-doc sequence must respect the
    budget (the greedy invariant: only a SINGLETON can overflow)."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.operators import packing as PK

    eff = PK.pk14_pack_efficiency(spark, SF0001).collect()
    packed = PK.pk2_greedy_pack(spark, SF0001)
    n_docs = table(spark, SF0001, "documents").count()
    assert sum(r["n_docs"] for r in eff) == n_docs
    assert (
        sum(r["total_tokens"] for r in eff)
        == packed.agg(F.sum("n_tokens")).collect()[0][0]
    )
    # greedy invariant, recomputed from pk2's raw output
    seq_rows = (
        packed.groupBy("shard", "seq_id")
        .agg(F.count("*").alias("k"), F.sum("n_tokens").alias("fill"))
        .collect()
    )
    for r in seq_rows:
        if r["k"] > 1:
            assert r["fill"] <= PK.PACK_BUDGET
    n_oversize = sum(
        1 for r in seq_rows if r["fill"] > PK.PACK_BUDGET
    )
    assert sum(r["n_oversize"] for r in eff) == n_oversize
    for r in eff:
        assert 0 < r["min_fill"] <= r["max_fill"]
        expected_util = (
            int(
                r["total_tokens"]
                / (r["n_seqs"] * PK.PACK_BUDGET)
                * 1e4
                + 0.5
            )
            / 1e4
        )
        assert abs(r["utilization"] - expected_util) < 1e-9


def test_pk15_temperature_smoothing_upweights_scarce_langs(spark):
    """alpha=0.5 smoothing contract: keep rates scale like 1/sqrt(n)
    (monotone non-increasing in corpus count — scarcer languages keep
    a larger fraction), the binding language keeps ~everything, and
    realized membership is exactly the broadcast predicate."""
    from pyspark.sql import functions as F

    from a3_fp_bigdata_spark.data import table
    from a3_fp_bigdata_spark.operators import packing as PK

    out = PK.pk15_temperature_mixture(spark, SF0001)
    docs = table(spark, SF0001, "documents")
    n_by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    keep_by_lang = {
        r["lang"]: r["keep_bp"]
        for r in out.select("lang", "keep_bp").distinct().collect()
    }
    assert set(keep_by_lang) <= set(n_by_lang)
    # exact replay of the integer algebra in plain Python (isqrt
    # weights -> bp targets -> binding mix size -> keep rates); note
    # exact 1/sqrt MONOTONICITY is deliberately not asserted — isqrt
    # granularity at toy counts (w jumps at perfect squares) can
    # invert near-tied languages, which the replay reproduces too
    import math

    BP = PK.TEMP_RESOLUTION_BP
    w = {l: math.isqrt(n) for l, n in n_by_lang.items()}
    wsum = sum(w.values())
    t = {l: w[l] * BP // wsum for l in w}
    S = min(n_by_lang[l] * BP // t[l] for l in t if t[l] > 0)
    expected = {
        l: min(t[l] * S // n_by_lang[l], BP) for l in t
    }
    for l, kb in keep_by_lang.items():
        assert kb == expected[l], (l, kb, expected[l])
    # the binding lang keeps (almost) everything; floor rounding can
    # shave a few basis points
    assert max(keep_by_lang.values()) >= PK.TEMP_RESOLUTION_BP - 20
    # smoothing really happened: the keep-rate RANGE is narrower than
    # the raw count range (proportional sampling would equalize
    # realized counts, i.e. keep ratio == inverse count ratio)
    langs = list(keep_by_lang)
    lo, hi = (
        min(langs, key=lambda l: n_by_lang[l]),
        max(langs, key=lambda l: n_by_lang[l]),
    )
    if n_by_lang[lo] < n_by_lang[hi]:
        count_ratio = n_by_lang[hi] / n_by_lang[lo]
        keep_ratio = keep_by_lang[lo] / max(keep_by_lang[hi], 1)
        assert keep_ratio < count_ratio  # damped, not proportional


# --- pk16: best-fit-decreasing packing ---------------------------------------


def test_pk16_bfd_matches_python_replica_and_certificate(spark):
    """The per-shard assignment must equal an independent python BFD
    replica over the same (doc_id, cost) pairs, and the audit's
    certificate columns must all hold: budget respected, oversize docs
    isolated, at most one half-empty bin per shard."""
    from tests.conftest import SF0001
    from a3_fp_bigdata_spark.operators import packing as PK

    costs = {
        r["doc_id"]: (r["shard"], r["cost"])
        for r in PK._sharded_costs(spark, SF0001).collect()
    }
    # independent replica (dict-of-lists, not the operator's code path)
    bins_by_shard: dict[int, list[int]] = {}
    assign = {}
    for doc_id in sorted(
        costs, key=lambda d: (-costs[d][1], d)
    ):
        shard, cost = costs[doc_id]
        fills = bins_by_shard.setdefault(shard, [])
        best = -1
        for i, f in enumerate(fills):
            if f + cost <= PK.PACK_BUDGET and (best < 0 or f > fills[best]):
                best = i
        if cost > PK.PACK_BUDGET or best < 0:
            fills.append(cost)
            best = len(fills) - 1
        else:
            fills[best] += cost
        assign[doc_id] = (shard, best)

    audit = {
        r["shard"]: r
        for r in PK.pk16_bestfit_pack_audit(spark, SF0001).collect()
    }
    got = {
        r["doc_id"]: (r["shard"], r["bin_id"])
        for r in spark.read.parquet(PK._PK16_SCRATCH)
        .select("doc_id", "shard", "bin_id")
        .collect()
    }
    assert got == assign
    for shard, fills in bins_by_shard.items():
        r = audit[shard]
        assert r["n_bins"] == len(fills)
        assert r["budget_ok"] == 1
        assert r["cert_ok"] == 1
        assert r["oversize_singletons_ok"] == 1
        assert r["n_light_bins"] <= 1

    # utilization: BFD must never use more bins than pk2's
    # arrival-order greedy on the same costs (decreasing order + best
    # fit dominates on every shard of this corpus)
    pk2_bins = {
        (r["shard"], r["seq_id"])
        for r in PK.pk2_greedy_pack(spark, SF0001).collect()
    }
    n_pk2 = len(pk2_bins)
    n_bfd = sum(len(f) for f in bins_by_shard.values())
    assert n_bfd <= n_pk2, (n_bfd, n_pk2)
