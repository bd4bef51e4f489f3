"""Suffix-array construction + exact-substring duplicate spans — the
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") exact-substring method, re-expressed as distributed prefix
doubling in pure DataFrame ops.

The gram/winnowing rungs (d15/d16, d8) FIND likely duplicated spans
probabilistically; the suffix-array rung finds EVERY exact repeat of
length >= SPAN_L with zero false negatives — the method the
exact-substring dedup literature actually uses. Construction is
Manber-Myers prefix doubling: rank suffixes by their first 2^k
characters, then re-rank by the pair (rank[pos], rank[pos + 2^k])
until all ranks are distinct — O(log n) rounds, each round one
self-join + one re-rank, all DataFrame ops.

ORACLE (first-principles, the strongest class in this repo — no
scratch, no materialization): DuckDB re-derives the ENTIRE suffix
array independently by brute-force sorting the suffixes themselves
(`row_number() OVER (ORDER BY substring(s, pos+1))`) from its own
string_agg of the same documents. The two derivations share NOTHING
but the corpus and the definition of lexicographic order — a
doubling-step bug, a rank-tie slip, or an off-by-one in the pair
offset is a red hash mismatch on every row after the first divergence.
Both engines pre-normalize to printable ASCII with the same regex so
Java's UTF-16 comparison and DuckDB's UTF-8 byte order provably
coincide.

AUDIT-SCALE rung, like the quadratic d6/d9 audits: the slice is a
deterministic doc sample (doc_id % SA_DOC_MOD == 0 — ~1/47 of the
corpus, ~30 kB at sf0.1) because the ORACLE side is a brute-force
suffix sort. The Spark construction itself scales far beyond the
slice: every re-rank (the per-round dense_rank AND the final
row_number) runs the range-partitioned two-pass by DEFAULT —
repartitionByRange on the rank pair + per-partition local rank +
a broadcast join of the <= SA_RERANK_PARTS-row partition-offset
table (pk1's proven prefix-sum pattern; `_two_pass_rank` below) —
so no stage ever funnels the corpus through one reducer. The
legacy single-partition global window survives only as the
equality pin (`two_pass=False`, compared row-for-row in
tests/test_suffixes.py). The per-round localCheckpoint stays (it
cuts the exponential lineage exactly like d12's connected
components), and every character-reading projection is segmented BY
DEFAULT since r15 (the r14 VERDICT's top ask): the corpus cuts into
SA_SEG_BYTES segments with a parameterized overlap (SPAN_L-1 for
d22/d25's span windows, LCP_CAP-1 for d23/d26's staircase),
positions join to segments by an int key, and windows slice out of
the segment at local offsets — NO corpus-sized broadcast variable
anywhere in the family's default plans. The legacy broadcast
projections survive only as equality pins (_spans_broadcast,
_lcp_broadcast — row-set-equal by pytest pin, so no cross-segment
window is missed). Rounds are O(log n) whatever the corpus.

Since late r14 the BUILD INPUT is distributed too: the default path
consumes ``suffix_char_rows`` (per-doc explode + two-pass offset
prefix sum + synthetic separator rows — no task ever materializes a
corpus-sized array; the r14 SCALE harness measured the monolithic
explode GC-wedging at a 7.5 MB slice) and reads its initial
SA_BASE_CHARS-byte rank keys from the stitched overlap segments.
The single concatenated string remains ONLY as the oracle's
definition of the slice and in the broadcast equality-pin lanes.

Reference surface: none (the reference has no dedup at all); this is
part of the engine's LLM-training-data extension alongside d1-d20.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from a3_fp_bigdata_spark import stages
from a3_fp_bigdata_spark.data import run_scratch, table, table_path
from a3_fp_bigdata_spark.registry import pin, query

#: deterministic doc sample for the audit slice (~1/47 of the corpus —
#: sized so even sf0.01's slice carries real >= SPAN_L repeats and the
#: d22 parity row verifies actual spans, not an empty set)
SA_DOC_MOD = 47
#: document separator — sorts below every printable char, can never
#: appear inside a normalized document, and span windows containing it
#: are excluded so no span stitches across documents
SA_SEP = "\x01"
#: exact-repeat threshold for d22 (Lee et al. use 50 BPE tokens; 20
#: chars is the same order on this corpus's short synthetic docs)
SPAN_L = 20

#: LCP cap for d23/d26's staircase (defined up here, next to SPAN_L,
#: because the unified segment overlap below derives from both)
LCP_CAP = 64

#: the slice normalization BOTH engines apply before concatenation:
#: printable ASCII only, so Spark's UTF-16 and DuckDB's UTF-8 orders
#: provably agree (the corpus is ASCII already — this is the guard)
_NORM_RE = "[^ -~]"


def _slice_sql() -> str:
    """DuckDB CTEs producing the SAME slice string + suffix positions
    the Spark builder produces (shared by both oracles below)."""
    return f"""
    WITH sl AS (
      SELECT string_agg(regexp_replace(text, '{_NORM_RE}', '', 'g'),
                        chr(1) ORDER BY doc_id) AS s
      FROM documents WHERE doc_id % {SA_DOC_MOD} = 0
    ), pos AS (
      SELECT CAST(unnest(range(length(s))) AS INT) AS p, s FROM sl
    ), keep AS (
      SELECT p, s FROM pos WHERE substring(s, p + 1, 1) != chr(1)
    )
    """


def corpus_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row frame (s string): the normalized, separator-joined doc
    sample, ordered by doc_id — byte-identical to _slice_sql's `sl`."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SA_DOC_MOD == 0
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("doc_id").alias("doc_id"),
                    F.regexp_replace("text", _NORM_RE, "").alias("t"),
                )
            )
        ),
        lambda st: st.t,
    )
    return docs.agg(F.array_join(ordered, SA_SEP).alias("s"))


#: Kept only because perfbench imports this name: it drops every stage.
release_caches = stages.release_all


def suffix_char_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, ch) — the slice as DISTRIBUTED character rows, content-
    identical to ``corpus_slice``'s single string (equality-pinned in
    tests): per-doc normalize + split (each task explodes only its own
    docs' short strings — never one corpus-sized array in one task,
    the single-task shape that GC-wedged a 7.5 MB slice in the r14
    SCALE harness), global positions from the two-pass offset prefix
    sum, and one synthetic separator row between consecutive docs.
    This is the production input of the SA build; the 1-row
    concatenated string survives only as the ORACLE's definition of
    the slice (DuckDB needs one string to sort suffixes of) and in
    the _spans_broadcast/_lcp_broadcast equality-pin lanes.

    A checkpointed stage per SA_DOC_MOD (stages.py): the build reads
    it for the prefix keys AND the keep filter, and _slice_segments
    stitches from it — one offset prefix sum serves all three."""
    return stages.get(
        spark, "sa_char_rows", (SA_DOC_MOD,),
        lambda: _build_char_rows(spark, sf_dir), [table_path(sf_dir, "documents")],
    )


def _build_char_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SA_DOC_MOD == 0
    )
    base = docs.select(
        "doc_id", F.regexp_replace("text", _NORM_RE, "").alias("t")
    ).select(
        "doc_id",
        "t",
        F.length("t").alias("len"),
        (F.length("t") + 1).cast("long").alias("_w"),
    )
    offs = _two_pass_prefix_sum(base, ["doc_id"], "_w").select(
        "doc_id", "t", "len", F.col("psum").alias("off")
    )
    chars = (
        offs.select(
            "off",
            F.posexplode(F.split(F.col("t"), "(?!^)")).alias("i", "ch"),
        )
        .filter(F.length("ch") == 1)
        .select(
            (F.col("off") + F.col("i")).cast("int").alias("pos"), "ch"
        )
    )
    last = offs.agg(F.max("doc_id").alias("last_id"))
    seps = (
        offs.crossJoin(F.broadcast(last))
        .filter(F.col("doc_id") != F.col("last_id"))
        .select(
            (F.col("off") + F.col("len")).cast("int").alias("pos"),
            F.lit(SA_SEP).alias("ch"),
        )
    )
    return chars.unionByName(seps).localCheckpoint(eager=True)

#: Shard count for the two-pass re-rank — the parallelism of every
#: doubling round (pk1's NSHARDS rationale: size for executor memory;
#: 32 matches the local harness, ~2000 at 100 TB keeps shards bounded).
SA_RERANK_PARTS = 32

#: Manber-Myers base: the initial rank covers this many characters in
#: ONE binary-prefix dense rank, replacing log2(SA_BASE_CHARS/1) early
#: doubling rounds (each round is a full-frame shuffle + partitioned
#: window + checkpoint + a driver probe — fixed stage overhead at
#: audit scale, a full extra pass at 100 TB). Must be a power of two
#: so the doubling sequence stays aligned (32 -> 64 -> 128 ...).
#: r15 optimization: 8 -> 32 (packed into ceil(32/8) = 4 int64 rank
#: keys) — at the audit slices a 32-byte prefix is already a total
#: order, so the build usually converges with ZERO doubling rounds
#: (measured: 35,697 suffixes at sf0.1 -> 7,446 distinct 8-byte
#: prefixes but 35,697 distinct 32-byte ones); corpora with >= 32-char
#: repeats (planted-dup SCALE rungs, boilerplate crawls) still double
#: from 32 as before. The wider initial key costs 24 extra bytes per
#: row in ONE shuffle and saves two full-frame rounds.
SA_BASE_CHARS = 32


def _two_pass_rank(
    df: DataFrame, keys: list[str], dense: bool
) -> DataFrame:
    """Global dense_rank (dense=True) or row_number (dense=False) over
    ``keys`` WITHOUT a single-partition global window — the pk1/pk13
    two-pass prefix-sum pattern applied to ranking:

    1. repartitionByRange on the keys (identical keys land in ONE
       partition — RangePartitioner assigns by key — and partition ids
       are range-ORDERED, so per-partition ranks compose by offset)
       + sortWithinPartitions; the partition id is materialized by an
       eager localCheckpoint so both passes read the same assignment;
    2. local rank inside each partition (a PARTITIONED window — never
       the global one) plus a <= SA_RERANK_PARTS-row aggregate of
       per-partition key counts, whose exclusive prefix sum is each
       partition's rank offset (the tiny frame takes the global
       window, a6's rank-over-aggregate shape); offsets broadcast-join
       back. global rank = partition offset + local rank, exactly.

    ``dense=False`` (row_number) requires ``keys`` to be a total order
    — unique rows-wise — or the tie order within a partition is
    arbitrary, exactly as it would be under a global window
    (_two_pass_prefix_sum states the same precondition); current
    callers only pass unique keys.

    Returns ``df``'s columns plus ``rnk``. Wall-clock shape at scale:
    one range shuffle + one hash shuffle on the partition id + one
    broadcast join — no stage sees more than one partition's rows."""
    parts = (
        df.repartitionByRange(SA_RERANK_PARTS, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_loc = Window.partitionBy("_pid").orderBy(*keys)
    lrnk = (F.dense_rank() if dense else F.row_number()).over(w_loc)
    local = parts.withColumn("_lrnk", lrnk)
    # distinct-key count per partition (dense) / row count (row_number)
    # == max local rank, because the local rank is gapless by
    # construction. <= SA_RERANK_PARTS rows.
    w_prefix = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.max("_lrnk").alias("_nkeys"))
        .select(
            "_pid",
            F.coalesce(F.sum("_nkeys").over(w_prefix), F.lit(0)).alias(
                "_off"
            ),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            *df.columns,
            (F.col("_off") + F.col("_lrnk")).cast("long").alias("rnk"),
        )
    )


def _bucket_rank(
    df: DataFrame,
    keys: list[str],
    n: int,
    dense: bool,
    bucket=None,
) -> DataFrame:
    """_two_pass_rank for NUMERIC first keys with a known domain
    [1..n] (every doubling round's r1 and the final converged rank):
    the shard is computed ARITHMETICALLY — ((k1 - 1) * PARTS) div n,
    monotone in k1, equal keys share a shard — instead of by
    repartitionByRange, which costs a whole extra pass (the
    RangePartitioner SAMPLES the frame before shuffling it) plus a
    pid-pinning checkpoint per round. At 100 TB that sampling pass is
    a second full read of the round's frame; here the bucket is a
    pure row function, so the only full-frame work is the one
    partitioned window. Offsets come from a per-bucket count aggregate
    (countDistinct over the keys for dense, count(*) for row_number)
    — map-side combinable, <= SA_RERANK_PARTS result rows — never
    from a second evaluation of the window.

    ``bucket`` overrides the shard expression for keys whose domain is
    NOT [1..n]: any Column that is monotone non-decreasing in the key
    order and constant on equal keys preserves exactness (the
    per-bucket offsets compose local ranks in key order either way) —
    the initial packed-prefix rank passes the top-bits mapping below."""
    b = (
        bucket
        if bucket is not None
        else F.expr(
            f"CAST((({keys[0]} - 1) * {SA_RERANK_PARTS}) div {n} AS INT)"
        )
    )
    bdf = df.withColumn("_bkt", b)
    w_loc = Window.partitionBy("_bkt").orderBy(*keys)
    lrnk = (F.dense_rank() if dense else F.row_number()).over(w_loc)
    local = bdf.withColumn("_lrnk", lrnk)
    cnt = F.countDistinct(*keys) if dense else F.count("*")
    w_prefix = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bdf.groupBy("_bkt")
        .agg(cnt.alias("_n"))
        .select(
            "_bkt",
            F.coalesce(F.sum("_n").over(w_prefix), F.lit(0)).alias(
                "_off"
            ),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .select(
            *df.columns,
            (F.col("_off") + F.col("_lrnk")).cast("long").alias("rnk"),
        )
    )


def _two_pass_prefix_sum(
    df: DataFrame, keys: list[str], val: str
) -> DataFrame:
    """df's columns plus ``psum`` = EXCLUSIVE prefix sum of ``val`` in
    the total order of ``keys`` (which must be unique rows-wise, or
    the within-partition prefix is ambiguous) — _two_pass_rank's shape
    with sum in place of rank: range shards + per-partition running
    sum + a broadcast join of the <= SA_RERANK_PARTS-row partition
    totals' exclusive prefix. No single-partition stage (ADVICE r14:
    d24's offset table previously took the global-window shortcut the
    rank path had just been cured of)."""
    parts = (
        df.repartitionByRange(SA_RERANK_PARTS, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn(
        "_lsum", F.coalesce(F.sum(val).over(w_loc), F.lit(0))
    )
    w_prefix = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        parts.groupBy("_pid")
        .agg(F.sum(val).alias("_t"))
        .select(
            "_pid",
            F.coalesce(F.sum("_t").over(w_prefix), F.lit(0)).alias(
                "_off"
            ),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            *df.columns,
            (F.col("_off") + F.col("_lsum")).cast("long").alias("psum"),
        )
    )


def build_suffix_array(
    spark: SparkSession, sf_dir: str, two_pass: bool = True
) -> DataFrame:
    """(sa_rank, pos) — the suffix array of the slice by prefix
    doubling. Driver loop holds only a 1-row max-rank probe per round
    (a bounded collect, like d12's convergence check); each round
    localCheckpoints to cut the exponential lineage. The corpus string
    itself never rides per-row through a shuffle: every frame here
    carries only (pos, rank) ints; consumers needing characters attach
    the 1-row slice via broadcast at projection time (d22).

    ``two_pass=True`` (the default, and what d21/d22/d23 serve) is the
    fully-distributed build: the input is ``suffix_char_rows`` (per-doc
    explode — NO single-task corpus-sized array anywhere), the initial
    rank reads its SA_BASE_CHARS-byte binary prefix from the stitched
    overlap segments (d25's machinery — no corpus broadcast either)
    PACKED into one int64 (order-isomorphic big-endian packing, r15)
    so it shards arithmetically like the doubling rounds — no
    RangePartitioner sampling pass anywhere in the build — and every
    re-rank runs the sampling-free bucketed two-pass.
    ``two_pass=False`` keeps the legacy monolithic build (one exploded
    string + broadcast slice + single-partition global windows) purely
    as the equality pin for tests.

    Initial rank semantics (both paths): dense rank of the
    SA_BASE_CHARS-byte prefix. memcmp order on ASCII bytes == char
    order, and a shorter tail prefix sorts before a longer one sharing
    it — exactly the rank-by-first-k semantics, so one rank replaces
    log2(SA_BASE_CHARS) doubling rounds (each round costs fixed stage
    overhead at audit scale: measured 13.8 s -> ~9 s at sf0.1)."""
    # SA_DOC_MOD is in the key: the SCALE rung and tests retune the
    # sample modulus, and a stage keyed only by its input would hand
    # back the previous modulus's slice (ADVICE r14). Mode is in the
    # key so the equality-pin test can hold both builds.
    return stages.get(
        spark, "suffix_array", (two_pass, SA_DOC_MOD),
        lambda: _build_suffix_array(spark, sf_dir, two_pass),
        [table_path(sf_dir, "documents")],
    )


def _build_suffix_array(
    spark: SparkSession, sf_dir: str, two_pass: bool
) -> DataFrame:
    if two_pass:
        rows = suffix_char_rows(spark, sf_dir)
        # the unified SA_SEG_OVERLAP table (its derivation maxes over
        # SA_BASE_CHARS, so a wider-base retune can never silently
        # truncate rank keys — ADVICE r15); ONE stage entry now serves
        # the build, d22/d25's spans and d23/d26's staircase
        segs = _slice_segments(spark, sf_dir)
        w_seg = SA_SEG_BYTES
        # Pack the SA_BASE_CHARS-byte prefix into ceil(/8) int64 rank
        # keys (r14 VERDICT watch #2, widened in r15): hex each 8-byte
        # slice of the binary window, right-pad the hex string with
        # '0' (== right-padding the bytes with 0x00, which sorts below
        # every slice byte — min real byte is SA_SEP 0x01 — so a
        # shorter tail prefix still sorts first), and conv base-16.
        # Big-endian byte order makes per-key integer order == memcmp
        # order, so the key TUPLE's lexicographic order == memcmp of
        # the zero-padded SA_BASE_CHARS bytes; the top byte is <= 0x7E
        # (printable ASCII), so every packed value is a POSITIVE
        # signed int64. With numeric keys the initial rank takes
        # _bucket_rank's sampling-free arithmetic shard — same as
        # every doubling round — instead of paying _two_pass_rank's
        # RangePartitioner pass + pid-pinning checkpoint on the
        # coldest, largest frame of the build. The shard maps k1's top
        # 15 bits (first byte + 7 more) through the same monotone
        # formula; ASCII text concentrates first bytes in [0x20, 0x7E]
        # so shards skew toward letter buckets — at 100 TB widen
        # SA_RERANK_PARTS or shard on a sampled histogram (one
        # reservoir pass), the same remedy as any range shard.
        n_keys = (SA_BASE_CHARS + 7) // 8
        key_cols = [
            F.expr(
                f"CAST(conv(rpad(hex(substring(kb, {8 * j + 1}, 8)),"
                " 16, '0'), 16, 10) AS BIGINT)"
            ).alias(f"k{j + 1}")
            for j in range(n_keys)
        ]
        pref = (
            rows.select(
                "pos",
                F.expr(f"CAST(pos div {w_seg} AS INT)").alias("seg_id"),
            )
            .join(segs, "seg_id")
            .select(
                "pos",
                F.substring(
                    F.col("seg"),
                    F.col("pos") - F.col("seg_id") * w_seg + 1,
                    SA_BASE_CHARS,
                ).alias("kb"),
            )
            .select("pos", *key_cols)
        )
        top_bucket = F.expr(
            f"CAST(((k1 div {1 << 48}) * {SA_RERANK_PARTS})"
            f" div {1 << 15} AS INT)"
        )
        first = _bucket_rank(
            pref,
            [f"k{j + 1}" for j in range(n_keys)],
            n=0,
            dense=True,
            bucket=top_bucket,
        )
        keep_src = rows
    else:
        sl = corpus_slice(spark, sf_dir)
        # the (?!^) lookahead also matches at end-of-string, and
        # Spark's split keeps trailing empties (Java limit -1) — drop
        # the final zero-length token or a phantom empty suffix takes
        # rank 1
        base = sl.select(
            F.posexplode(F.split(F.col("s"), "(?!^)")).alias(
                "pos", "ch"
            )
        ).filter(F.length("ch") == 1)
        sl_bin = sl.select(F.encode("s", "UTF-8").alias("s_bin"))
        pref = base.crossJoin(F.broadcast(sl_bin)).select(
            "pos",
            F.substring(
                F.col("s_bin"), F.col("pos") + 1, SA_BASE_CHARS
            ).alias("k"),
        )
        first = pref.select(
            "pos",
            F.dense_rank()
            .over(Window.orderBy("k"))
            .cast("long")
            .alias("rnk"),
        )
        keep_src = base
    ranks = first.select("pos", "rnk").localCheckpoint(eager=True)
    n = ranks.count()
    step = SA_BASE_CHARS
    w = Window.orderBy("r1", "r2")
    while (
        step < n
        and ranks.agg(F.max("rnk")).first()[0] < n
    ):
        nxt = ranks.select(
            (F.col("pos") - step).alias("pos"),
            F.col("rnk").alias("r2"),
        )
        paired = (
            ranks.withColumnRenamed("rnk", "r1")
            .join(nxt, "pos", "left")
            .na.fill({"r2": -1})
        )
        if two_pass:
            # r1 is last round's dense rank — numeric, domain [1..n]:
            # the arithmetic-bucket variant needs no sampling pass
            reranked = _bucket_rank(paired, ["r1", "r2"], n, dense=True)
        else:
            reranked = paired.select(
                "pos", "r1", "r2",
                F.dense_rank().over(w).cast("long").alias("rnk"),
            )
        ranks = reranked.select("pos", "rnk").localCheckpoint(eager=True)
        # convergence is probed at the loop head (all ranks distinct
        # -> done; 1-row agg, bounded collect) — also catches a base
        # rank that is already a total order before any doubling
        step *= 2
    keep = keep_src.filter(F.col("ch") != SA_SEP).select("pos")
    joined = ranks.join(keep, "pos").select(
        "pos", F.col("rnk").alias("srt")
    )
    if two_pass:
        # srt is the converged rank — distinct values in [1..n], the
        # perfectly uniform case for the arithmetic bucket
        numbered = _bucket_rank(joined, ["srt"], n, dense=False)
    else:
        numbered = joined.withColumn(
            "rnk", F.row_number().over(Window.orderBy("srt")).cast("long")
        )
    return numbered.select(
        F.col("rnk").cast("int").alias("sa_rank"),
        F.col("pos").cast("int").alias("pos"),
    ).localCheckpoint(eager=True)


@query(
    "d21_suffix_array",
    oracle=_slice_sql()
    + """
    SELECT CAST(row_number() OVER (ORDER BY substring(s, p + 1))
                AS INT) AS sa_rank,
           p AS pos
    FROM keep
    """,
)
def d21_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The suffix array itself (sa_rank, pos) over the audit slice —
    Spark builds it by distributed prefix doubling, DuckDB by an
    independent brute-force suffix sort (see module docstring)."""
    return build_suffix_array(spark, sf_dir)


@query(
    "d22_exact_substring_spans",
    oracle=_slice_sql()
    + f"""
    , sa AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep
    ), adj AS (
      SELECT a.p AS pos_a, b.p AS pos_b,
             substring(a.s, a.p + 1, {SPAN_L}) AS span, a.s AS s
      FROM sa a JOIN sa b ON b.r = a.r + 1
    )
    SELECT pos_a, pos_b, span
    FROM adj
    WHERE length(span) = {SPAN_L}
      AND span = substring(s, pos_b + 1, {SPAN_L})
      AND position(chr(1) IN span) = 0
      AND position(chr(1) IN substring(s, pos_b + 1, {SPAN_L})) = 0
    """,
)
def d22_exact_substring_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every exact repeated substring of length >= {SPAN_L} in the
    slice, with ZERO false negatives: any repeat makes its occurrences
    lexicographic NEIGHBORS in the suffix array, so comparing each
    adjacent pair's {SPAN_L}-char prefixes finds them all (Lee et al.
    2022 §3; the gram rungs d15/d18 are the probabilistic
    complement). Windows containing the document separator are
    excluded so spans never stitch across documents. Output is the
    adjacent pair list (pos_a, pos_b, span); production joins
    positions back to (doc_id, offset) via the slice offset table and
    cuts the spans exactly like d16.

    DEFAULT LANE = the segmented no-broadcast projection (r15 — the
    d21-re-rank playbook: the scale path graduated from twin to
    default): positions join SA_SEG_BYTES overlap segments by int key
    and windows slice at local offsets, so NO corpus-sized broadcast
    variable exists anywhere in the plan (at 100 TB the slice outgrows
    a broadcast). The legacy broadcast projection survives as
    ``_spans_broadcast``, equality-pinned in tests/test_suffixes.py."""
    return _spans_segmented(spark, sf_dir)


def _adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sa_rank, pos_a, pos_b): every SA-adjacent suffix pair — the
    shared input of the span projection (d22/d25), the LCP staircase
    (d23) and everything composed on top (d24/d26). Rank-only ints;
    no strings ride this join."""
    sa = build_suffix_array(spark, sf_dir)
    nxt = sa.select(
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("pos").alias("pos_b"),
    )
    return sa.join(nxt, "sa_rank").select(
        "sa_rank", F.col("pos").alias("pos_a"), "pos_b"
    )


def _segment_windows(
    spark: SparkSession, sf_dir: str, adj: DataFrame, win_len: int
) -> DataFrame:
    """Attach ``win_a``/``win_b`` (the <= ``win_len``-byte windows
    starting at pos_a/pos_b) to an adjacent-pair frame WITHOUT
    broadcasting the corpus: each side joins its overlap segment by
    int seg_id (plain shuffle joins — co-partitioned at scale,
    AQE-sized here) and the window slices out of the segment at a
    local offset (O(1) binary substring). Segments carry
    ``win_len - 1`` overlap bytes, so any window STARTING inside a
    segment reads entirely from it — no cross-segment window is ever
    truncated (and a window truncated by the END of the slice is
    truncated identically to a global substring). Integer ``div`` for
    the segment ids — exact for every int64 position (pk1's
    rationale)."""
    if win_len - 1 > SA_SEG_OVERLAP:
        # loud, not silent truncation: a retune that widens a consumer
        # window past the shared table's overlap would otherwise cut
        # rank keys / spans at segment boundaries (ADVICE r15)
        raise ValueError(
            f"window {win_len} needs overlap {win_len - 1} > "
            f"SA_SEG_OVERLAP {SA_SEG_OVERLAP}"
        )
    segs = _slice_segments(spark, sf_dir)
    w = SA_SEG_BYTES
    return (
        adj.withColumn("seg_a", F.expr(f"CAST(pos_a div {w} AS INT)"))
        .withColumn("seg_b", F.expr(f"CAST(pos_b div {w} AS INT)"))
        .join(
            segs.select(
                F.col("seg_id").alias("seg_a"),
                F.col("seg").alias("bytes_a"),
            ),
            "seg_a",
        )
        .join(
            segs.select(
                F.col("seg_id").alias("seg_b"),
                F.col("seg").alias("bytes_b"),
            ),
            "seg_b",
        )
        .withColumn(
            "win_a",
            F.substring(
                F.col("bytes_a"),
                F.col("pos_a") - F.col("seg_a") * w + 1,
                win_len,
            ),
        )
        .withColumn(
            "win_b",
            F.substring(
                F.col("bytes_b"),
                F.col("pos_b") - F.col("seg_b") * w + 1,
                win_len,
            ),
        )
        .drop("bytes_a", "bytes_b", "seg_a", "seg_b")
    )


def _spans_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span projection over segment windows — d22's AND d25's
    shared implementation (one code path; two registered names keep
    both the family flagship and the explicitly-segmented rung in the
    registry)."""
    adj = _segment_windows(
        spark, sf_dir, _adjacent_pairs(spark, sf_dir), SPAN_L
    )
    span_a, span_b = F.col("win_a"), F.col("win_b")
    return adj.filter(
        (F.length(span_a) == SPAN_L)
        & (span_a == span_b)
        & (F.instr(F.decode(span_a, "UTF-8"), SA_SEP) == 0)
        & (F.instr(F.decode(span_b, "UTF-8"), SA_SEP) == 0)
    ).select(
        "pos_a", "pos_b", F.decode(span_a, "UTF-8").alias("span")
    )


def _spans_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEGACY broadcast span projection — attach the 1-row slice
    as BINARY (Spark's string substring walks UTF-8 from byte 0 per
    call — O(position); binary substring is an O(1) slice; the slice
    is printable-ASCII, so bytes == chars) and cut windows at global
    offsets. Kept ONLY as the equality pin for the segmented default
    (tests/test_suffixes.py pins row-set equality, including
    boundary-straddling windows at a shrunken SA_SEG_BYTES) — a
    broadcast variable cannot hold a 100 TB slice."""
    adj = _adjacent_pairs(spark, sf_dir)
    sl_bin = corpus_slice(spark, sf_dir).select(
        F.encode("s", "UTF-8").alias("s_bin")
    )
    adj = adj.crossJoin(F.broadcast(sl_bin))
    span_a = F.substring(F.col("s_bin"), F.col("pos_a") + 1, SPAN_L)
    span_b = F.substring(F.col("s_bin"), F.col("pos_b") + 1, SPAN_L)
    return adj.filter(
        (F.length(span_a) == SPAN_L)
        & (span_a == span_b)
        & (F.instr(F.decode(span_a, "UTF-8"), SA_SEP) == 0)
        & (F.instr(F.decode(span_b, "UTF-8"), SA_SEP) == 0)
    ).select(
        "pos_a", "pos_b", F.decode(span_a, "UTF-8").alias("span")
    )

#: Segment width for d25's no-broadcast span extraction. Audit-sized
#: here (the sf0.01 slice cuts into ~9 segments so the path is
#: genuinely exercised); at 100 TB pick segments sized for executor
#: memory (e.g. 64 MiB) — the shape is unchanged: every segment
#: carries SPAN_L-1 overlap bytes so a window starting inside a
#: segment always reads entirely from it.
SA_SEG_BYTES = 8192

#: Unified default segment overlap (r15): the WIDEST window any
#: default-lane consumer slices out of a segment — span windows need
#: SPAN_L-1, the LCP staircase LCP_CAP-1, the build's packed prefix
#: SA_BASE_CHARS-1. One table at the max width serves all three (a
#: wider overlap is a superset guarantee: any window of length
#: <= overlap+1 starting inside a segment still reads entirely from
#: it), so a session builds ONE stitched segment table instead of one
#: per width — before this, d22/build shared a SPAN_L-1 table and
#: d23/d26 built a second LCP_CAP-1 table, paying the char-row
#: fan-out + stitch + checkpoint twice per session (guide §2.4: the
#: second build was a removable full pass). +44 tail bytes per 8 KiB
#: segment is the entire memory cost.
SA_SEG_OVERLAP = max(SPAN_L, LCP_CAP, SA_BASE_CHARS) - 1


def _slice_segments(
    spark: SparkSession, sf_dir: str, overlap: int = SA_SEG_OVERLAP
) -> DataFrame:
    """(seg_id, seg binary): the slice cut into SA_SEG_BYTES segments,
    each padded with the next ``overlap`` bytes, so projection stages
    join positions to segments instead of broadcasting the whole
    corpus — the 100-TB lane where the slice outgrows a broadcast
    variable. Every default-lane consumer reads the ONE table built at
    ``SA_SEG_OVERLAP`` (= max(SPAN_L, LCP_CAP, SA_BASE_CHARS) - 1, the
    widest window any of them slices: span windows SPAN_L-1, the LCP
    staircase LCP_CAP-1, the build's packed prefix SA_BASE_CHARS-1) —
    a wider overlap is a superset guarantee, so one stitched table
    serves all three per session. The ``overlap`` parameter remains
    for tests/callers that need a custom width; ``_segment_windows``
    raises loudly if a consumer's window outgrows the table it was
    handed.

    Built from the DISTRIBUTED char rows (r14): each char assigns to
    its home segment (pos div W) plus, when it falls in the first
    ``overlap`` positions of a segment, to the preceding segments'
    overlap; one groupBy(seg_id) stitches each segment's own chars
    back into bytes (a bounded collect_list of W + overlap structs
    per group). No stage ever holds the whole slice — byte-identical
    to slicing the concatenated string (pytest pin).

    A stage per (SA_DOC_MOD, SA_SEG_BYTES, overlap) with an eager
    localCheckpoint (stages.py) — the staged-table shape: the SA
    build, d22/d25 and d23/d26 all read their segment table once per
    corpus snapshot."""
    return stages.get(
        spark, "sa_segments", (SA_DOC_MOD, SA_SEG_BYTES, overlap),
        lambda: _build_segments(spark, sf_dir, overlap),
        [table_path(sf_dir, "documents")],
    )


def _build_segments(
    spark: SparkSession, sf_dir: str, overlap: int
) -> DataFrame:
    rows = suffix_char_rows(spark, sf_dir)
    w = SA_SEG_BYTES
    # segment j holds byte pos iff j*w <= pos <= j*w + w + overlap - 1;
    # solving for j: j in [max(0, ceil((pos - w - overlap + 1)/w)),
    # pos div w] — the ceil collapses to (pos - overlap) div w with
    # the greatest(0, .) clamp absorbing the negative-truncation cases.
    # One sequence-explode covers ANY w (a char fans out to
    # ceil(overlap/w) + 1 segments: 2 at the production width, more
    # only when a test shrinks w below the overlap).
    assigned = rows.select(
        "pos",
        "ch",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0),
                    F.expr(f"CAST((pos - {overlap}) div {w} AS INT)"),
                ),
                F.expr(f"CAST(pos div {w} AS INT)"),
            )
        ).alias("seg_id"),
    )
    stitched = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "ch"))),
            lambda s: s.ch,
        ),
        "",
    )
    return (
        assigned.groupBy("seg_id")
        .agg(F.encode(stitched, "UTF-8").alias("seg"))
        .localCheckpoint(eager=True)
    )


@query(
    "d25_segmented_spans",
    # same output as d22 by construction (the pairs come from the SAME
    # global SA; only WHERE the characters are read from changes), so
    # the same first-principles oracle applies verbatim
    oracle=_slice_sql()
    + f"""
    , sa AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep
    ), adj AS (
      SELECT a.p AS pos_a, b.p AS pos_b,
             substring(a.s, a.p + 1, {SPAN_L}) AS span, a.s AS s
      FROM sa a JOIN sa b ON b.r = a.r + 1
    )
    SELECT pos_a, pos_b, span
    FROM adj
    WHERE length(span) = {SPAN_L}
      AND span = substring(s, pos_b + 1, {SPAN_L})
      AND position(chr(1) IN span) = 0
      AND position(chr(1) IN substring(s, pos_b + 1, {SPAN_L})) = 0
    """,
)
def d25_segmented_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d22's span extraction WITHOUT the corpus broadcast — the 100-TB
    lane the module docstring promised ("the corpus shards by segment
    with >= SPAN_L character overlap at the boundaries"): the slice
    cuts into SA_SEG_BYTES segments each padded with the next
    SPAN_L-1 bytes (_slice_segments), every SA-adjacent pair joins to
    its two segments by seg_id (plain shuffle joins on an int key —
    co-partitioned at scale, AQE-sized here), and the {SPAN_L}-byte
    windows slice OUT OF THE SEGMENT at local offsets (same O(1)
    binary arithmetic as the legacy broadcast lane). The overlap
    padding guarantees any window STARTING inside a segment reads
    entirely from it, so no cross-segment span is missed; the SA
    itself is rank-only (no strings) and needs no segmentation.

    Since r15 this IS d22's default implementation (the twin
    graduated, exactly as d21's two-pass re-rank did in r14) — both
    names serve ``_spans_segmented``; ``_spans_broadcast`` survives as
    the pytest equality pin. Output and oracle are d22's verbatim."""
    return _spans_segmented(spark, sf_dir)


#: d24's oracle composes d22's adjacent-pair CTE with the offset table
#: and d16's gaps-and-islands merge — rendered from the SAME constants
#: so the two rungs can never drift apart. Split into the CTE body +
#: final select so d27's effectiveness audit can extend the chain.
def _d24_ctes() -> str:
    L = SPAN_L
    return (
        _slice_sql()
        + f"""
    , sa AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep
    ), adj AS (
      SELECT a.p AS pos_a, b.p AS pos_b,
             substring(a.s, a.p + 1, {L}) AS span, a.s AS s
      FROM sa a JOIN sa b ON b.r = a.r + 1
    ), spans0 AS (
      SELECT DISTINCT greatest(pos_a, pos_b) AS cpos
      FROM adj
      WHERE length(span) = {L}
        AND span = substring(s, pos_b + 1, {L})
        AND position(chr(1) IN span) = 0
        AND position(chr(1) IN substring(s, pos_b + 1, {L})) = 0
    ), docs_n AS (
      SELECT doc_id, regexp_replace(text, '{_NORM_RE}', '', 'g') AS t
      FROM documents WHERE doc_id % {SA_DOC_MOD} = 0
    ), offs AS (
      SELECT doc_id, t, length(t) AS len,
             coalesce(sum(length(t) + 1) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS off
      FROM docs_n
    ), cuts AS (
      SELECT o.doc_id, c.cpos - o.off AS s0
      FROM spans0 c JOIN offs o
        ON c.cpos >= o.off AND c.cpos < o.off + o.len
    ), brk AS (
      SELECT doc_id, s0,
        CASE WHEN s0 > coalesce(max(s0 + {L}) OVER (
            PARTITION BY doc_id ORDER BY s0
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        THEN 1 ELSE 0 END AS b
      FROM cuts
    ), isl AS (
      SELECT doc_id, s0,
             sum(b) OVER (PARTITION BY doc_id ORDER BY s0) AS island
      FROM brk
    ), merged AS (
      SELECT doc_id, min(s0) AS st, max(s0) + {L} AS en
      FROM isl GROUP BY doc_id, island
    ), chrows AS (
      SELECT doc_id, substring(t, i + 1, 1) AS ch, i
      FROM (SELECT doc_id, t,
                   unnest(range(0, length(t))) AS i
            FROM offs)
    ), keptc AS (
      SELECT c.doc_id, c.i, c.ch FROM chrows c
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.doc_id = c.doc_id
                          AND c.i >= m.st AND c.i < m.en)
    ), kagg AS (
      SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text,
             count(*) AS n_kept
      FROM keptc GROUP BY doc_id
    )"""
    )


def _d24_oracle() -> str:
    return (
        _d24_ctes()
        + """
    SELECT o.doc_id, coalesce(k.clean_text, '') AS clean_text,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(o.len - coalesce(k.n_kept, 0) AS BIGINT) AS n_cut
    FROM offs o LEFT JOIN kagg k USING (doc_id)
    """
    )


def _doc_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t, len, off): each sampled doc's normalized text and
    its exclusive slice offset — the prefix of (len + 1 separator) in
    doc_id order via the two-pass prefix sum, NOT a global window
    (ADVICE r14). Shared by d24's cut and the SCALE harness."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SA_DOC_MOD == 0
    )
    base = docs.select(
        "doc_id", F.regexp_replace("text", _NORM_RE, "").alias("t")
    ).select(
        "doc_id",
        "t",
        F.length("t").alias("len"),
        (F.length("t") + 1).cast("long").alias("_w"),
    )
    return _two_pass_prefix_sum(base, ["doc_id"], "_w").select(
        "doc_id", "t", "len", F.col("psum").alias("off")
    )


def _span_cut_positions(
    spark: SparkSession, sf_dir: str, offs: DataFrame
) -> DataFrame:
    """(doc_id, s0): doc-local start offsets of the cut windows — the
    position-MAX member of each SA-adjacent duplicate pair, mapped
    back through the offset table. d24's input to the islands merge,
    exposed separately so the SCALE harness can probe the islands
    window's partition distribution on the same frame."""
    spans = (
        d22_exact_substring_spans(spark, sf_dir)
        .select(
            F.greatest(F.col("pos_a"), F.col("pos_b")).alias("cpos")
        )
        .distinct()
    )
    return offs.join(
        F.broadcast(spans),
        (F.col("cpos") >= F.col("off"))
        & (F.col("cpos") < F.col("off") + F.col("len")),
    ).select("doc_id", (F.col("cpos") - F.col("off")).alias("s0"))


@query("d24_sa_span_cut", oracle=_d24_oracle())
def d24_sa_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the span-cleaned slice corpus from d22's
    exact-substring pairs — the cut step the module docstring promised
    ("production joins positions back to (doc_id, offset) ... and
    cuts the spans exactly like d16"), completing the suffix family's
    detect -> cut pipeline (the d12 -> d13 / d15 -> d16 pattern, now
    at the exact-substring rung). Policy: cut every occurrence that
    is the position-MAX of an SA-adjacent duplicate pair — for a
    doubled span that keeps exactly the earlier occurrence (d1/d13's
    deterministic min-keeper applied to positions); for a k-fold run
    the survivors are the position-local-minima along the SA run, so
    at least the globally earliest occurrence always survives (the
    Lee et al. tooling's keep-one convention, reached pair-locally so
    the cut set needs no per-group global pass); overlapping cut
    windows merge via d16's gaps-and-islands before cutting, and the
    output
    is one row per sampled doc: (doc_id, clean_text, n_kept, n_cut)
    in characters of the NORMALIZED text. Docs that are entirely
    repeats come out with clean_text = '' rather than vanishing.

    Shapes: the span list is output-proportional (repeats only) and
    broadcasts to the offset join; the per-doc islands merge reuses
    d15's window (shuffles on doc_id, hit rows only); the char-level
    cut is scan-side array ops (F.filter positional lambda, d16's
    recipe) — the corpus never explodes into char ROWS on the Spark
    side (the oracle does explode; DuckDB has no positional lambda).
    The offset table runs the two-pass prefix sum
    (_two_pass_prefix_sum, pk1's pattern on range shards) — no
    single-partition window anywhere in the plan.

    Oracle: composes d22's adjacent-pair CTE (same first-principles
    brute-force suffix sort) with the same offset table and the same
    islands SQL d16 uses — nothing shared but the corpus, the
    constants, and the definition of the cut."""
    offs = _doc_offsets(spark, sf_dir)
    cuts = _span_cut_positions(spark, sf_dir, offs)
    w_doc = Window.partitionBy("doc_id").orderBy("s0")
    prev_end = F.max(F.col("s0") + SPAN_L).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        cuts.withColumn(
            "b",
            F.when(
                prev_end.isNull() | (F.col("s0") > prev_end), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("b").over(w_doc))
        .groupBy("doc_id", "island")
        .agg(
            F.min("s0").alias("st"),
            (F.max("s0") + SPAN_L).alias("en"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("st", "en")).alias("spans"))
    )
    span_arr = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<st:bigint,en:bigint>>"),
    )
    chars = F.filter(
        F.split(F.col("t"), "(?!^)"), lambda ch: F.length(ch) == 1
    )
    kept = F.filter(
        chars,
        lambda ch, i: ~F.exists(
            span_arr, lambda sp: (i >= sp.st) & (i < sp.en)
        ),
    )
    return (
        offs.join(merged, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws("", kept).alias("clean_text"),
            F.size(kept).cast("long").alias("n_kept"),
            (F.col("len") - F.size(kept)).cast("long").alias("n_cut"),
        )
    )


#: LCP cap: repeats are interesting from SPAN_L up; 64 bounds the
#: per-pair work (64 O(1) binary slices) whatever the true overlap.
def _lcp_terms_sql() -> str:
    """Sum of monotone prefix-equality indicators == the capped LCP
    (equality at L implies equality at every l < L, so the indicator
    staircase sums to max L). Each indicator also requires the prefix
    to be separator-free (checked on the a-side only: equality at L
    makes both sides identical), which CLAMPS the LCP at the first
    document boundary — without it, identical text surrounding two
    different boundaries could stitch an LCP across documents
    (ADVICE r13). Separator-freedom is monotone too (sep-free at L
    implies sep-free at every l < L), so the staircase still sums to
    max L. Rendered from ONE generator for both engines."""
    return " + ".join(
        f"(CASE WHEN substring(a.s, a.p + 1, {L}) ="
        f" substring(a.s, b.p + 1, {L})"
        f" AND position(chr(1) IN substring(a.s, a.p + 1, {L})) = 0"
        f" THEN 1 ELSE 0 END)"
        for L in range(1, LCP_CAP + 1)
    )


@query(
    "d23_lcp_array",
    oracle=_slice_sql()
    + f"""
    , sa AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep
    )
    SELECT CAST(a.r AS INT) AS sa_rank,
           a.p AS pos_a, b.p AS pos_b,
           CAST({_lcp_terms_sql()} AS INT) AS lcp
    FROM sa a JOIN sa b ON b.r = a.r + 1
    """,
)
def d23_lcp_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (capped) LCP array over the audit slice — with d21 this is
    the standard exact-dedup toolkit: lcp[i] = length of the common
    prefix of SA-adjacent suffixes, the structure every repeated-
    substring statistic (longest repeat, repeat histograms, d22's
    span threshold) reads off directly. Computed WITHOUT per-char
    loops on either engine: by the prefix property, equality at
    length L implies equality at every shorter length, so the sum of
    {LCP_CAP} monotone equality indicators IS max(L) — each indicator
    one O(1) binary slice compare (see d22's binary-lane note). The
    oracle re-derives the same pairs and the same staircase from its
    own independent suffix sort. Each indicator additionally requires
    the prefix to be separator-free, clamping the LCP at the first
    document boundary: without the clamp, identical text surrounding
    two DIFFERENT boundaries (same doc-suffix after both) would
    stitch an LCP across documents and a consumer reading
    lcp >= SPAN_L as a within-document repeat would over-count
    (ADVICE r13; d22 excludes separator windows the same way).

    DEFAULT LANE = segmented (r15): each side's LCP_CAP-byte window
    comes from the overlap segments (overlap = LCP_CAP - 1, so one
    segment join per side suffices — the parameterized width the r14
    VERDICT asked for), and the staircase compares PREFIXES OF THE
    TWO WINDOWS — for L <= LCP_CAP, substring(win, 1, L) equals the
    global substring(s, pos + 1, L) exactly, including truncation at
    the slice end, so the indicator sum is unchanged. No corpus
    broadcast; ``_lcp_broadcast`` is the equality-pinned legacy."""
    return _lcp_from_windows(
        _segment_windows(
            spark, sf_dir, _adjacent_pairs(spark, sf_dir), LCP_CAP
        )
    )


def _lcp_from_windows(adj: DataFrame) -> DataFrame:
    """Capped LCP over win_a/win_b columns (windows of LCP_CAP bytes
    starting at pos_a/pos_b, however they were fetched — segment join
    or broadcast slice).

    r15 optimization (guide §1.2 per-task work): one O(LCP_CAP)
    aggregate over per-CHAR equality replaces the 64-term indicator
    staircase, whose term at L re-sliced and compared L-byte prefixes
    (O(LCP_CAP^2) byte work per row, ~2k byte-compares + 64 UTF-8
    decodes) and whose 64-way expression tree was a giant codegen
    unit. Equivalence (exceptAll-proven both directions at sf0.1,
    35,590 pairs, 0 differing rows): prefix equality at L ⟺ chars
    1..L all equal, so the count of leading positions with
    (char_a == char_b AND char_a != SEP) IS the monotone indicator
    sum — including the degenerate both-windows-exhausted tail, where
    '' == '' keeps counting exactly as the staircase's
    equal-full-prefix terms did. The a-side-only separator clamp is
    preserved verbatim (equality makes both sides identical — the
    ADVICE r13 rationale). The DuckDB oracle keeps the staircase
    rendering, so the two engines reach the same integer by different
    routes — a stronger cross-check, same values."""
    sep = F.lit(SA_SEP.encode())

    def _merge(acc, pos):
        ca = F.substring(F.col("win_a"), pos, F.lit(1))
        cb = F.substring(F.col("win_b"), pos, F.lit(1))
        cont = (acc["go"] == 1) & (ca == cb) & (ca != sep)
        return F.struct(
            F.when(cont, F.lit(1)).otherwise(F.lit(0)).alias("go"),
            F.when(cont, acc["n"] + 1).otherwise(acc["n"]).alias("n"),
        )

    lcp = F.aggregate(
        F.sequence(F.lit(1), F.lit(LCP_CAP)),
        F.struct(F.lit(1).alias("go"), F.lit(0).alias("n")),
        _merge,
        lambda acc: acc["n"],
    )
    return adj.select(
        "sa_rank", "pos_a", "pos_b", lcp.cast("int").alias("lcp")
    )


def _lcp_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY broadcast LCP projection — the global-slice windows
    feeding the same staircase. Kept only as the equality pin for the
    segmented default (tests/test_suffixes.py)."""
    sl_bin = corpus_slice(spark, sf_dir).select(
        F.encode("s", "UTF-8").alias("s_bin")
    )
    adj = (
        _adjacent_pairs(spark, sf_dir)
        .crossJoin(F.broadcast(sl_bin))
        .withColumn(
            "win_a",
            F.substring(F.col("s_bin"), F.col("pos_a") + 1, LCP_CAP),
        )
        .withColumn(
            "win_b",
            F.substring(F.col("s_bin"), F.col("pos_b") + 1, LCP_CAP),
        )
    )
    return _lcp_from_windows(adj)


@query(
    "d26_repeat_stats",
    oracle=_slice_sql()
    + f"""
    , sa AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep
    ), lcp AS (
      SELECT CAST({_lcp_terms_sql()} AS BIGINT) AS lcp
      FROM sa a JOIN sa b ON b.r = a.r + 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(lcp) AS BIGINT) AS max_lcp,
           CAST(sum(lcp) AS BIGINT) AS sum_lcp,
           CAST(sum(CASE WHEN lcp >= {SPAN_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge_span,
           CAST(sum(CASE WHEN lcp >= {LCP_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at_cap
    FROM lcp
    """,
)
def d26_repeat_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus repetition summary read off the LCP array — the numbers
    an exact-substring dedup pass reports before cutting anything:
    adjacent-pair count, the longest (capped) within-document repeat,
    total overlap mass (sum of LCPs — the Lee et al. duplicated-token
    estimate at character grain), pairs at or above the d22 span
    threshold, and pairs saturating LCP_CAP (where the true repeat may
    be longer than the cap measures — the honesty column). One
    map-side-combinable aggregate over d23's pairs; both engines
    re-derive the staircase from their own independent suffix sorts,
    so this row value-attests the whole d21+d23 chain end to end in
    five integers."""
    lcp = d23_lcp_array(spark, sf_dir)
    return lcp.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.max("lcp").cast("long").alias("max_lcp"),
        F.sum("lcp").cast("long").alias("sum_lcp"),
        F.sum((F.col("lcp") >= SPAN_L).cast("long")).alias("n_ge_span"),
        F.sum((F.col("lcp") >= LCP_CAP).cast("long")).alias("n_at_cap"),
    )


#: d27's cleaned-corpus scratch: d24's output docs land here AS a
#: documents table, and the detector re-runs ON the cleaned corpus by
#: pointing the ordinary d22 path at this directory. Per-process
#: (run_scratch) + per-source-sf (subdir), so the suffix stages keyed
#: by the scratch path can never serve one source's cleaned corpus to
#: another's audit. NO fingerprint stamping is needed: the oracle
#: never reads this scratch — it replays the cut AND re-sorts the
#: cleaned suffixes entirely from its own `documents` view.
_D27_SCRATCH = run_scratch("d27_cleaned_docs")


def _d27_cleaned_dir(sf_dir: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir)
    return f"{_D27_SCRATCH}/{safe}"


def _d27_oracle() -> str:
    L = SPAN_L
    pair_filter = f"""length(span) = {L}
        AND span = substring(s, pos_b + 1, {L})
        AND position(chr(1) IN span) = 0
        AND position(chr(1) IN substring(s, pos_b + 1, {L})) = 0"""
    return (
        _d24_ctes()
        + f"""
    , cleaned AS (
      SELECT o.doc_id, coalesce(k.clean_text, '') AS t
      FROM offs o LEFT JOIN kagg k USING (doc_id)
    ), sl2 AS (
      SELECT string_agg(t, chr(1) ORDER BY doc_id) AS s FROM cleaned
    ), pos2 AS (
      SELECT CAST(unnest(range(length(s))) AS INT) AS p, s FROM sl2
    ), keep2 AS (
      SELECT p, s FROM pos2 WHERE substring(s, p + 1, 1) != chr(1)
    ), sa2 AS (
      SELECT p, s,
             row_number() OVER (ORDER BY substring(s, p + 1)) AS r
      FROM keep2
    ), adj2 AS (
      SELECT a.p AS pos_a, b.p AS pos_b,
             substring(a.s, a.p + 1, {L}) AS span, a.s AS s
      FROM sa2 a JOIN sa2 b ON b.r = a.r + 1
    )
    SELECT
      CAST((SELECT count(*) FROM adj WHERE {pair_filter}) AS BIGINT)
        AS n_spans_before,
      CAST((SELECT count(*) FROM adj2 WHERE {pair_filter}) AS BIGINT)
        AS n_spans_after,
      CAST((SELECT count(*) FROM offs) AS BIGINT) AS n_docs,
      CAST((SELECT coalesce(sum(o.len - coalesce(k.n_kept, 0)), 0)
            FROM offs o LEFT JOIN kagg k USING (doc_id)) AS BIGINT)
        AS n_chars_cut
    """
    )


@query("d27_cut_effectiveness_audit", oracle=_d27_oracle())
def d27_cut_effectiveness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Did the cut WORK? Re-run the exact-substring detector ON the
    corpus d24 produced and report the residual — the end-to-end
    value-attest of the whole suffix pipeline (build -> spans -> cut
    -> re-build -> re-detect) in one row: (n_spans_before,
    n_spans_after, n_docs, n_chars_cut). The Lee et al. tooling's own
    acceptance check is exactly this second pass.

    n_spans_after is NOT asserted to be zero, by design: d24's
    pair-local policy keeps every position-local minimum of a k-fold
    SA run (so >= the earliest occurrence survives without a global
    per-group pass), which can leave survivor pairs still duplicating
    each other, and splicing text around a removed span can create
    NEW {SPAN_L}-char windows. This audit MEASURES that residual
    instead of hand-waving it — the honesty column, like d26's
    n_at_cap.

    Mechanics: the cleaned docs land in a per-process, per-source
    scratch directory shaped like a testdata sf dir, and the ordinary
    d22 path runs against it — the audit exercises the REAL segmented
    production lane on the cleaned corpus, not a special-cased twin
    (doc_ids are SA_DOC_MOD multiples, so the sample filter keeps
    every cleaned doc). The oracle shares nothing but the documents
    view and the constants: DuckDB replays the cut chain (d24's CTEs)
    and then brute-force-sorts the CLEANED corpus's suffixes itself —
    a second first-principles derivation on a corpus Spark
    constructed, which a cut-policy bug, an offset slip, or a splice
    error each turn into a red value mismatch.

    Scale: one extra SA build on the already-deduplicated (smaller)
    corpus — same O(log n) rounds, same segmented projections; the
    audit tier runs on samples at 100 TB exactly like d4's
    containment audit."""
    before = d22_exact_substring_spans(spark, sf_dir)
    # pin: the cleaned frame feeds BOTH the scratch write and the
    # (n_docs, n_chars_cut) aggregate below, and d24's splice chain
    # re-executes per action without it (r16: full d27 6.0 -> ~4.4 s
    # at sf0.1 with the write leg no longer re-deriving the cuts)
    cleaned = pin(d24_sa_span_cut(spark, sf_dir))

    def write_cleaned() -> str:
        out_dir = _d27_cleaned_dir(sf_dir)
        cleaned.select(
            "doc_id",
            F.col("clean_text").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("sa_cut").alias("source"),
        ).repartition(1).write.mode("overwrite").parquet(
            out_dir + "/documents.parquet"
        )
        return out_dir

    # written once per source snapshot: rewriting it on every call
    # would change its snapshot and rebuild the cleaned corpus's SA
    out_dir = stages.get(
        spark, "d27_cleaned_corpus", (SA_DOC_MOD,), write_cleaned,
        [table_path(sf_dir, "documents")],
    )
    after = d22_exact_substring_spans(spark, out_dir)
    return (
        before.agg(
            F.count("*").cast("long").alias("n_spans_before")
        )
        .crossJoin(
            after.agg(
                F.count("*").cast("long").alias("n_spans_after")
            )
        )
        .crossJoin(
            cleaned.agg(
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("n_cut"), F.lit(0))
                .cast("long")
                .alias("n_chars_cut"),
            )
        )
    )
