"""BPE tokenizer induction (tk1) — distributed byte-pair-encoding
merge training, the one training-data op between corpus curation and
batch packing the engine did not yet cover.

Public algorithm (Sennrich et al. 2016; the HuggingFace/SentencePiece
fit loop): start from characters plus an end-of-word marker, repeat
"count adjacent symbol pairs weighted by word frequency, merge the
most frequent pair everywhere" N times; the ordered merge list IS the
tokenizer model. The reference app has nothing like it; the engine
grows it because a data pipeline that chunks by token (pk8) and
budgets by token cost (pk1/pk2, tx3) eventually has to TRAIN the
tokenizer those counts assume.

Spark shape — the scalable fit:
- The loop runs on the WORD HISTOGRAM (distinct word -> count), not
  the corpus: one corpus-sized shuffle up front, then every iteration
  touches vocabulary-sized data (Heaps' law: ~millions of types for
  TB-scale corpora — executor-sized, never driver-sized).
- Like every trainer, the fit reads a deterministic SAMPLE
  (tx6's predicate — merge ranks converge long before full-corpus
  counts); the histogram is what production BPE trainers build too,
  they just build it single-node.
- Per iteration: pair counts are one map-side-combinable aggregation
  over exploded adjacent pairs; the argmax is a 1-row TakeOrdered
  (count desc, pair asc — the deterministic tie-break); the merge
  applies scan-side as a native F.aggregate fold (greedy
  left-to-right, non-overlapping — no UDF, no Python). The histogram
  is re-persisted each iteration, the previous iteration dropped, and
  every CHECKPOINT_EVERY iterations the lineage is truncated with an
  eager localCheckpoint — persist alone caches data but leaves the
  plan chain growing one fold per merge, which OOMs plan
  analysis/rendering long before production merge counts.
- Driver traffic is ONE ROW per iteration (the chosen pair) — the
  model being built — plus nothing else.

No SQL oracle: the merge loop is iterative with a data-dependent
argmax each round (DuckDB's recursive CTEs cannot aggregate in the
recursive part), the same rows-only class as d4's seeded minhash;
tests/test_tokenizer.py replays the whole fit in plain Python on the
same sample and pins the merge table EXACTLY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.functions import text as TX
from a3_fp_bigdata_spark.operators.text_analysis import (
    _SQL_TOKS,
    sample_predicate,
)
from a3_fp_bigdata_spark.registry import query

#: Merge steps to learn. Real vocabularies run 30k-100k merges; the
#: loop shape is identical, this just bounds test wall time. Each
#: step's cost is one vocab-sized aggregation, so production N scales
#: linearly and stays cluster-sized.
N_MERGES = 12

#: Fit-sample percentage (tx6 predicate) — same rationale as tx7/tx13.
BPE_SAMPLE_PCT = 25

#: Truncate the fit's lineage every K merge iterations. persist()
#: caches DATA but the logical plan still chains one fold projection
#: per iteration, and plan analysis/rendering over that chain grows
#: fast enough to OOM a default-heap driver near ~16 iterations
#: (measured: the scale-stress n_merges=16 rung died in AQE's
#: explainString at 1g driver heap). localCheckpoint (eager) cuts the
#: plan back to a leaf — the same treatment d12's iterative label
#: propagation uses per round, and the thing any production-N
#: (30k-100k merge) fit needs structurally, not as tuning.
CHECKPOINT_EVERY = 6

#: End-of-word marker symbol ("low" vs "lower" must not share their
#: trailing 'w' across a word boundary). '<' cannot appear in
#: normalized tokens ([a-z0-9]+), so the marker can never collide.
END_MARK = "</w>"


def word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt) over the fit sample — the only corpus-sized pass."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(sample_predicate(F.col("doc_id"), BPE_SAMPLE_PCT))
        .select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right, non-overlapping replacement of the
    adjacent (left, right) symbol pair by its concatenation — a native
    F.aggregate fold (accumulator = (emitted symbols, pending symbol))
    so the sequential-dependency logic stays inside whole-stage
    codegen instead of a Python UDF. Overlaps resolve exactly like the
    reference implementations: 'aaa' under ('a','a') -> ['aa','a']."""
    merged = F.lit(left + right)

    def step(acc: Column, s: Column) -> Column:
        prev, out = acc["prev"], acc["out"]
        hit = prev.eqNullSafe(F.lit(left)) & (s == F.lit(right))
        new_out = F.when(hit, F.concat(out, F.array(merged))).otherwise(
            F.when(prev.isNull(), out).otherwise(
                F.concat(out, F.array(prev))
            )
        )
        new_prev = F.when(hit, F.lit(None).cast("string")).otherwise(s)
        return F.struct(new_out.alias("out"), new_prev.alias("prev"))

    # NOTE: no contains-pair short-circuit guard here — a CASE WHEN
    # wrapper must reference `syms` two extra times, and apply_bpe
    # chains N of these inside ONE projection, so the expression tree
    # would grow 3^N and OOM the driver at plan-conversion time
    # (measured at N=12); the fold alone keeps the chain linear.
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
        step,
        lambda acc: F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        ),
    )


def fit_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """The fit loop; returns [(step, left, right, merged, pair_count)]
    in learned order (the tokenizer model)."""
    hist = word_histogram(spark, sf_dir).select(
        "cnt",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_MARK))
        ).alias("syms"),
    ).persist()
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for step in range(n_merges):
            pairs = hist.select(
                "cnt",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    )
                ).alias("p"),
            ).select(
                F.col("p").getField("0").alias("a"),
                F.col("p").getField("1").alias("b"),
                "cnt",
            )
            # this aggregation MATERIALIZES the current histogram's
            # cache; only then is the previous iteration's parent safe
            # to drop (unpersisting it earlier would force the whole
            # merge chain to recompute from the source — O(N^2) total
            # work) — piggybacking on the agg saves one explicit
            # count() job per iteration (~25% of fit wall time)
            top = (
                pairs.groupBy("a", "b")
                .agg(F.sum("cnt").alias("pc"))
                .orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
            if not top:  # degenerate corpus: nothing left to merge
                break
            a, b, pc = top[0].a, top[0].b, int(top[0].pc)
            merges.append((step, a, b, a + b, pc))
            new_hist = hist.select(
                "cnt", _merge_pair(F.col("syms"), a, b).alias("syms")
            )
            if (step + 1) % CHECKPOINT_EVERY == 0:
                # eager: materializes now AND truncates the logical
                # plan to a leaf, so the chained-fold lineage can never
                # outgrow the driver however large n_merges is.
                # Two caveats at production merge counts (30k-100k):
                # (a) unpersist() below is a no-op on a checkpointed
                # frame (its blocks bypass the cache manager), so each
                # superseded histogram copy lingers until the
                # ContextCleaner GCs the dereferenced RDD — prefer
                # keeping the prior checkpointed frame's .rdd handle
                # and calling rdd.unpersist() explicitly, and (b)
                # localCheckpoint blocks are NOT recoverable on
                # executor loss — a long fit on a real cluster should
                # use reliable checkpoint() to HDFS/object storage
                # instead.
                new_hist = new_hist.localCheckpoint()
            else:
                new_hist = new_hist.persist()
            prev, hist = hist, new_hist
    finally:
        hist.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def apply_bpe(
    word: Column, merges: list[tuple[int, str, str, str, int]]
) -> Column:
    """Segment one (normalized) word column with a learned merge list —
    the inference half of the tokenizer: chars + end-mark, then each
    merge applied IN LEARNED ORDER as the same scan-side fold the fit
    used. N merges become N chained native expressions inside one
    projection: no shuffle, no Python, and at inference scale the
    merge list is a plain broadcast-free literal program (real
    tokenizers compile it the same way)."""
    syms = F.concat(F.split(word, ""), F.array(F.lit(END_MARK)))
    for _step, left, right, _merged, _pc in merges:
        syms = _merge_pair(syms, left, right)
    return syms


@query("tk1_bpe_merges", oracle=None)  # iterative argmax: no SQL twin
def tk1_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table as a DataFrame: (step, left, right,
    merged, pair_count) for {N_MERGES} BPE steps over the fit
    sample's word histogram. Deterministic end to end (sample
    predicate, weighted counts, count-desc/pair-asc tie-break), so
    repeated fits are bit-identical; pytest replays the fit in plain
    Python and pins every row."""
    merges = fit_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, "
        "pair_count bigint",
    )


#: Frozen merge list for tk2 — the DEPLOYMENT artifact a tk1 fit
#: produces, hard-coded the way production systems ship a tokenizer
#: model: training happens once (on some corpus snapshot), inference
#: runs the fixed program everywhere. This particular list is the
#: sf0.001 fit's output; any fixed list exercises the same machinery.
FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", END_MARK), ("i", "n"), ("o", "r"),
    ("o", "w"), ("ow", END_MARK), ("er", END_MARK), ("t", END_MARK),
    ("y", END_MARK), ("a", "t"), ("n", END_MARK), ("h", END_MARK),
]


def _frozen_as_model(
    pairs: list[tuple[str, str]],
) -> list[tuple[int, str, str, str, int]]:
    return [(i, a, b, a + b, 0) for i, (a, b) in enumerate(pairs)]


def _tk2_seg_sql() -> str:
    """DuckDB rendering of the frozen-merge segmentation — an
    INDEPENDENT derivation, not a port of the fold: each symbol is
    wrapped as '{sym}' and a merge (a, b) is a plain substring
    replace('{a}{b}' -> '{ab}'). replace() consumes matches greedily
    left-to-right without overlap and resumes after the inserted
    text, which is exactly BPE's merge semantics ('{a}{a}{a}' under
    (a,a) -> '{aa}{a}'); the braces make mid-symbol matches
    impossible (no normalized token contains a brace). Token count =
    parts of a '}{' split."""
    expr = "'{' || array_to_string(string_split(word, ''), '}{') || '}{" \
        + END_MARK + "}'"
    for a, b in FROZEN_MERGES:
        expr = (
            "replace(" + expr + ", '{" + a + "}{" + b + "}', "
            "'{" + a + b + "}')"
        )
    return "len(string_split(" + expr + ", '}{'))"


@query(
    "tk2_bpe_token_stats",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
    ), vocab AS (
      SELECT DISTINCT word FROM words
    ), seg AS (
      SELECT word, {_tk2_seg_sql()} AS n_sub FROM vocab
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_sub) AS BIGINT) AS n_bpe_tokens
    FROM words w JOIN seg s USING (word)
    GROUP BY w.doc_id
    """,
)
def tk2_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting under the FROZEN tokenizer: per doc,
    word count and BPE-token count — the numbers a packing/budgeting
    stage (pk1/pk2) consumes once a real tokenizer replaces the
    whitespace proxy (tx3). The inference shape that scales: segment
    the DISTINCT VOCABULARY once (apply_bpe's chained folds run over
    word types, not corpus tokens), then join the per-word subword
    count back onto the exploded words and aggregate per doc. The
    vocab join is left to AQE — vocabulary is Heaps'-law-sized
    (broadcastable for most corpora, shuffled hash join beyond), the
    same guard rationale as the dedup drop set.

    The oracle re-derives segmentation INDEPENDENTLY (wrapped-symbol
    string replaces, see _tk2_seg_sql) — so Spark's fold and DuckDB's
    replace chain cross-check each other's BPE semantics on every
    word of the corpus."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    )
    vocab = words.select("word").distinct()
    seg = vocab.select(
        "word",
        F.size(
            apply_bpe(F.col("word"), _frozen_as_model(FROZEN_MERGES))
        ).alias("n_sub"),
    )
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )
