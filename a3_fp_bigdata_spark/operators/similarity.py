"""Similarity search over the embedding column (array<float>).

Two paths, as a 100 TB vector corpus demands:

- sim1: brute-force cosine top-k — exact, one scan, no shuffle (the
  query vector rides along as a broadcast 1-row side). Linear in corpus
  size; the baseline and the verifier.
- sim2: LSH-bucketed ANN (random-hyperplane signs) — candidates come
  from one signature bucket, so the scan's cosine work drops by the
  bucket fan-out (~2^n_planes). Hyperplanes here are data rows
  (vec_id 1..8) so the oracle can reproduce the exact same buckets in
  SQL; a production deployment uses fixed seeded planes (same algebra).
- d6 twin: all-pairs cosine near-dup (the dedup ladder's last rung).

All dot products run JVM-side via zip_with + aggregate over doubles —
no Python, no UDF. Cosine is computed as dot/(sqrt(na)*sqrt(nb)) with
the same association on both engines so rounded values match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    dir_stage,
    fingerprint_where,
    read_scratch,
    run_scratch,
    table_fingerprint,
    table,
    table_path,
    write_scratch,
)
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark import stages
from a3_fp_bigdata_spark.registry import pin, query

NEARDUP_COSINE = 0.4
N_PLANES = 8
#: top-k shared by the ANN family (sim2/sim3/sim4 results, sim4's probe
#: default, and sim8's recall denominator) — ONE constant so the eval's
#: k can never drift from the rankings it compares.
ANN_TOPK = 5


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (float->double widening is exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB rendering: widen to double BEFORE list_dot_product so both
# engines accumulate in f64 elementwise in index order.
_SQL_D = "list_transform({col}, x -> CAST(x AS DOUBLE))"
_SQL_DOT = "list_dot_product({a}, {b})"


#: shared oracle preamble (f-string fragment): hyperplanes, f64
#: vectors, and the LSH bucket id per vector — the SQL twin of
#: _planes() + _buckets(); used by the sim2/sim4/sim7 oracles.
_SQL_BUCKETED_CTE = f"""WITH planes AS (
      SELECT vec_id AS pid, {_SQL_D.format(col='embedding')} AS pe
      FROM embeddings WHERE vec_id BETWEEN 1 AND {N_PLANES}
    ), vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e FROM embeddings
    ), bucketed AS (
      SELECT v.vec_id,
             CAST(sum(CASE WHEN list_dot_product(v.e, p.pe) > 0
                           THEN CAST(power(2, p.pid - 1) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM vecs v CROSS JOIN planes p
      GROUP BY v.vec_id
    )"""


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


@query(
    "sim1_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT {_SQL_D.format(col='embedding')} AS qe
      FROM embeddings WHERE vec_id = 0
    ), s AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id, {half_up_sql(_sql_cos('e', 'qe'))} AS cosine
    FROM s, q
    ORDER BY {half_up_sql(_sql_cos('e', 'qe'))} DESC, vec_id
    LIMIT 10
    """,
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector.
    TakeOrderedAndProject keeps it a distributed partial top-k; ordering
    on the ROUNDED score + vec_id makes the cut deterministic across
    engines."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    s = emb.filter(F.col("vec_id") != 0)
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    return (
        s.crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _planes(emb: DataFrame) -> DataFrame:
    """The N_PLANES hyperplane rows (vec_id 1..N_PLANES) — shared by
    sim2/sim4/sim7 so the bucketing scheme has exactly one definition
    per engine (its SQL twin is _SQL_BUCKETED_CTE)."""
    return emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= N_PLANES)
    ).select(F.col("vec_id").alias("pid"), F.col("embedding").alias("p_emb"))


def _attach_bucket(vecs: DataFrame, planes: DataFrame) -> DataFrame:
    """``vecs`` plus its random-hyperplane LSH ``bucket`` column:
    bit i = sign of the dot with plane i.

    r15 optimization (guide §2.4 — remove shuffles outright): the
    bucket id is ONE per-row expression over a broadcast 1-row array
    of the N_PLANES hyperplanes (collect_list of (pid, p_emb) structs,
    pid-sorted). The old shape crossJoin-exploded every vector into
    N_PLANES rows, paid a full groupBy(vec_id) exchange to sum the
    bits, and then a second vec_id join to re-attach the bucket to the
    vector row — two shuffles of the whole corpus for a value that
    never needed to leave its row. sim2's plan ran that subtree TWICE
    (query side + candidate side, unshared DAG): 14 Exchanges -> the
    candidate path now has none. Values are bit-identical: the same
    dot expression per plane (f64 widening, index order), the same
    when/pow bit, and a long sum (exact, order-free)."""
    pa = planes.select(
        F.sort_array(F.collect_list(F.struct("pid", "p_emb"))).alias(
            "_planes"
        )
    )

    def _bit(p):
        return F.when(
            dot(F.col("embedding"), p["p_emb"]) > 0,
            F.pow(F.lit(2.0), p["pid"] - 1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    return (
        vecs.crossJoin(F.broadcast(pa))
        .withColumn(
            "bucket",
            F.aggregate(
                "_planes",
                F.lit(0).cast("long"),
                lambda acc, p: acc + _bit(p),
            ),
        )
        .drop("_planes")
    )


def _buckets(emb: DataFrame, planes: DataFrame) -> DataFrame:
    """(vec_id, bucket) rows — `_attach_bucket` projected to the id.
    Kept for callers/tests that want the bucket frame alone."""
    return _attach_bucket(emb.select("vec_id", "embedding"), planes).select(
        "vec_id", "bucket"
    )


#: sim2's oracle, shared verbatim by sim10: the incremental index must
#: answer exactly like the one-shot full-corpus derivation.
_SIM2_ORACLE = f"""
    {_SQL_BUCKETED_CTE}, q AS (
      SELECT b.bucket AS qbucket, v.e AS qe
      FROM bucketed b JOIN vecs v USING (vec_id) WHERE b.vec_id = 0
    )
    SELECT b.vec_id, {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
    FROM bucketed b
    JOIN vecs v USING (vec_id)
    CROSS JOIN q
    WHERE b.bucket = q.qbucket AND b.vec_id <> 0
    ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, b.vec_id
    LIMIT {ANN_TOPK}
    """


@query("sim2_lsh_ann", oracle=_SIM2_ORACLE)
def sim2_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket every vector by the sign
    pattern of {N_PLANES} hyperplane dots, then rank only the query's
    bucket. At scale the bucket id is a partition key — the candidate
    scan touches ~corpus/2^planes vectors instead of all of them."""
    emb = table(spark, sf_dir, "embeddings")
    with_bucket = _attach_bucket(emb, _planes(emb))
    qside = with_bucket.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("q_emb")
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    # eqNullSafe, not ==: the bucket is never null by construction
    # (every per-plane bit lands in an otherwise(0)), but a plain
    # equi-join makes Catalyst infer IsNotNull(bucket) and push it into
    # the candidate side's join condition — re-evaluating the whole
    # 8-plane interpreted aggregate a SECOND time for every corpus row
    # (r16, guide §4.4's duplication pattern on a native expression:
    # measured 1.3-1.8 s -> 0.8-1.1 s at sf0.1/32 cores, and a 2x
    # map-side saving at scale). Null-safe equality on provably
    # non-null keys is the same join.
    return (
        with_bucket.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(qside),
            F.col("bucket").eqNullSafe(F.col("qbucket")),
            "inner",
        )
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(ANN_TOPK)
    )


def build_bucketed_ann_index(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Materialize the LSH-bucketed vector table with the bucket id as
    the PARTITION key — the scale form sim2 computes on the fly. One
    up-front bucketing pass; every later probe is a partition-pruned
    scan of ~corpus/2^{N_PLANES} vectors (PartitionFilters, asserted in
    tests/test_plans.py), not a full-table pass."""
    emb = table(spark, sf_dir, "embeddings")
    with_bucket = _attach_bucket(emb, _planes(emb))
    # cluster rows by bucket BEFORE the partitioned write: without it
    # every shuffle partition writes a sliver into every bucket dir
    # (up to 2^planes x shuffle.partitions files); with it each bucket
    # is one file — the layout a probe wants to open
    (
        with_bucket.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def _index_frame(spark: SparkSession, index_dir: str) -> DataFrame:
    """The index as a DataFrame, one per index write: creating
    spark.read.parquet on a 2^{N_PLANES}-directory layout re-lists every
    partition dir, and a probe should pay that once, not per query. A
    rebuild or append rewrites the root _SUCCESS, so the stage's
    snapshot changes and the stale listing is dropped; the listing of
    a stage-owned index dir (sim4, sim10) is dropped with that dir."""
    return stages.get(
        spark, "ann_index_frame", (),
        lambda: spark.read.parquet(index_dir), [index_dir],
    )


def probe_bucketed_ann(
    spark: SparkSession,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = ANN_TOPK,
    *,
    sf_dir: str | None = None,
) -> DataFrame:
    """Top-k cosine inside the query vector's bucket partition. The
    candidate scan filters on the partition column with a literal, so
    Catalyst prunes every other bucket directory before any bytes are
    read.

    With ``sf_dir`` given (the production shape), the query vector's
    bucket is computed from the LSH planes over the single-file
    embeddings table (pushed ``vec_id`` filter) — the index is never
    scanned to locate the query. Without it, the lookup falls back to
    scanning the index itself (self-contained, but reads all buckets
    for the one row)."""
    idx = _index_frame(spark, index_dir)
    if sf_dir is not None:
        emb = table(spark, sf_dir, "embeddings")
        qdf = emb.filter(F.col("vec_id") == query_vec_id)
        # same _buckets expression the index was built with -> the
        # computed bucket is bit-identical to the stored partition key
        qrow = (
            _attach_bucket(qdf, _planes(emb))
            .select("bucket", "embedding")
            .first()
        )
    else:
        qrow = (
            idx.filter(F.col("vec_id") == query_vec_id)
            .select("bucket", "embedding")
            .first()
        )
    if qrow is None:
        raise ValueError(
            f"query vector {query_vec_id} not present in index {index_dir}"
        )
    q = spark.createDataFrame(
        [(list(qrow["embedding"]),)], "q_emb array<float>"
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    return (
        idx.filter(
            (F.col("bucket") == int(qrow["bucket"]))  # partition-pruned
            & (F.col("vec_id") != query_vec_id)
        )
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


#: Kept only because perfbench imports this name: it drops every stage,
#: the index dirs included.
release_sim4_index = stages.release_all


def warm_sim4_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the materialized bucket index for sf_dir and
    return its path: a directory-valued stage keyed on the embeddings
    table (build once, probe many). bench.py calls this in warmup so
    the timed sim4 number measures the partition-pruned PROBE — the
    per-query cost at scale — not the one-time index build."""
    return dir_stage(
        spark, "sim4_index",
        lambda out: build_bucketed_ann_index(spark, sf_dir, out),
        [table_path(sf_dir, "embeddings")],
    )


@query(
    "sim4_bucketed_ann",
    oracle=f"""
    {_SQL_BUCKETED_CTE}, q AS (
      SELECT b.bucket AS qbucket, v.e AS qe
      FROM bucketed b JOIN vecs v USING (vec_id) WHERE b.vec_id = 0
    )
    SELECT b.vec_id, {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
    FROM bucketed b
    JOIN vecs v USING (vec_id)
    CROSS JOIN q
    WHERE b.bucket = q.qbucket AND b.vec_id <> 0
    ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, b.vec_id
    LIMIT {ANN_TOPK}
    """,
)
def sim4_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim2's scale story made real: materialize the bucket-partitioned
    index once (build_bucketed_ann_index), then answer from a
    partition-pruned probe. Same buckets and ranking as sim2, so the
    SQL oracle is identical — what changes is the PLAN: the probe scan
    carries PartitionFilters on the bucket literal and reads one bucket
    directory."""
    return probe_bucketed_ann(
        spark, warm_sim4_index(spark, sf_dir), sf_dir=sf_dir
    )


IVF_CELLS = 16
IVF_NPROBE = 4
IVF_SEED = 7

#: sim3's cell-assignment scratch (r14 flip to oracle-backed — the
#: d5/ml2 recipe): the seeded KMeans cells and the probe flags are the
#: ONLY engine-specific steps; they materialize to fingerprinted
#: scratch and BOTH engines independently re-derive the final answer
#: (filter probed candidates, exact cosine against the vec_id=0 query,
#: total-ordered top-k) — a probe-selection bug, a wrong cosine, or a
#: tie-break slip is a red hash mismatch on the row itself. Only the
#: KMeans fit stays seed-internal; its recall is separately attested
#: by sim11_ivf_recall_audit against DuckDB's own ground truth.
_SIM3_SCRATCH = run_scratch("sim3_ivf_cells")


def _sim3_assignments(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[int]]:
    """((vec_id, cell) checkpoint, nprobe nearest cells to the query) —
    the seed-internal half of sim3. The seeded KMeans fit is sim3's
    dominant cost and sim11's audit runs sim3 a second time in the same
    sweep, so it is a stage (stages.py): one fit serves both."""
    return stages.get(
        spark, "sim3_cells", (), lambda: _fit_sim3_cells(spark, sf_dir),
        [table_path(sf_dir, "embeddings")],
    )


def _fit_sim3_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[int]]:
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    import numpy as np

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = MLKMeans(
        k=IVF_CELLS, seed=IVF_SEED, featuresCol="vec", predictionCol="cell"
    ).fit(emb)
    assigned = (
        km.transform(emb)
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .localCheckpoint()
    )
    centers = np.vstack(km.clusterCenters())
    qvec = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    # nprobe nearest cells by euclidean distance to the query
    # (driver-side over k centroids only)
    d2 = ((centers - qvec) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in np.argsort(d2)[:IVF_NPROBE]]
    return (assigned, probe_cells)


def _sim3_oracle() -> str:
    return f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), q AS (
      SELECT e AS qe FROM vecs WHERE vec_id = 0
    ), cand AS (
      SELECT vec_id FROM read_parquet('{_SIM3_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
        AND probed AND vec_id <> 0
    )
    SELECT v.vec_id, {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
    FROM cand c JOIN vecs v USING (vec_id) CROSS JOIN q
    ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, v.vec_id
    LIMIT {ANN_TOPK}
    """


@query("sim3_ivf_ann", oracle=_sim3_oracle())
def sim3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the cell-probing scale path FAISS-style:

    1. coarse quantizer: spark.ml KMeans (k={IVF_CELLS}, seed pinned)
       over the embeddings;
    2. assignment: one narrow transform maps every vector to its cell —
       at 100 TB this becomes the partition key of the vector table, so
       a probe reads only nprobe/k of the corpus (partition pruning);
    3. probe: rank exact cosine inside the {IVF_NPROBE} cells nearest to
       the query vector (centroids are a k-row driver-local list — the
       only driver-side data, O(k*dim)).

    ORACLE-BACKED since r14 (was rows-only "cells are seed-specific"):
    the assignment + probe flags materialize to stamped scratch and
    the oracle replays the exact selection and ranking from them (see
    _SIM3_SCRATCH note); pytest additionally pins recall against
    sim1's exact top-k. Audit-scale note: the scratch is one row per
    vector — the production path keeps the assignment as the vector
    table's partition key with no extra materialization."""
    assigned, probe_cells = _sim3_assignments(spark, sf_dir)
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    scr = assigned.select(
        "vec_id",
        "cell",
        F.col("cell").isin(probe_cells).alias("probed"),
    )
    write_scratch(scr, _SIM3_SCRATCH, fp)
    back = read_scratch(spark, _SIM3_SCRATCH)

    q = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == 0
    ).select(F.col("embedding").alias("q_emb"))
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    cand = back.filter(
        F.col("probed") & (F.col("vec_id") != 0)
    ).select("vec_id")
    return (
        table(spark, sf_dir, "embeddings")
        .join(cand, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(ANN_TOPK)
    )


#: blocked-GEMM parameters: vectors are grouped into NEARDUP_BLOCKS
#: hash blocks; every block PAIR is one task doing a numpy/BLAS matrix
#: multiply. At 100 TB pick NEARDUP_BLOCKS so a block's matrix fits an
#: executor (rows/blocks × dim × 8 bytes); the pair fan-out B(B+1)/2
#: is the parallelism. The GEMM threshold carries a slack so float
#: summation-order differences can never drop a true pair — survivors
#: are re-scored exactly by the same JVM expression the oracle mirrors.
NEARDUP_BLOCKS = 8
NEARDUP_SLACK = 1e-6


def _d6_gemm_candidates(emb: DataFrame) -> DataFrame:
    """d6's approximate stage alone: blocked-GEMM candidate pairs at
    the slacked threshold. Factored out so the d6_gemm_audit query can
    materialize and attest EXACTLY the candidate set d6 consumes."""
    import numpy as np
    import pandas as pd

    blocks = emb.groupBy(
        F.pmod(F.col("vec_id"), F.lit(NEARDUP_BLOCKS)).alias("blk")
    ).agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("vecs")
    )
    bpairs = (
        blocks.select(
            F.col("blk").alias("blk_a"), F.col("vecs").alias("va")
        )
        .join(
            blocks.select(
                F.col("blk").alias("blk_b"), F.col("vecs").alias("vb")
            ),
            F.col("blk_a") <= F.col("blk_b"),
        )
        # spread the B(B+1)/2 block pairs across tasks
        .repartition(NEARDUP_BLOCKS * (NEARDUP_BLOCKS + 1) // 2)
    )

    cut = NEARDUP_COSINE - NEARDUP_SLACK

    def gemm(it):
        for pdf in it:
            out_a: list[int] = []
            out_b: list[int] = []
            for va, vb, same in zip(
                pdf["va"], pdf["vb"], pdf["blk_a"] == pdf["blk_b"]
            ):
                ia = np.array([r["vec_id"] for r in va], dtype=np.int64)
                ib = np.array([r["vec_id"] for r in vb], dtype=np.int64)
                A = np.array(
                    [r["embedding"] for r in va], dtype=np.float64
                )
                Bm = np.array(
                    [r["embedding"] for r in vb], dtype=np.float64
                )
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
                C = A @ Bm.T
                keepm = C >= cut
                if same:
                    # same-block: keep one orientation per unordered
                    # pair by VALUE (ia < ib), not matrix position — the
                    # two collect_list sides may order the same docs
                    # differently after a shuffle, so a positional
                    # triu(k=1) could drop a pair from both triangle
                    # slots or emit it twice (the d9 audit had the same
                    # latent bug; fixed together)
                    keepm &= ia[:, None] < ib[None, :]
                ii, jj = np.nonzero(keepm)
                pa, pb = ia[ii], ib[jj]
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                keep = lo < hi  # drop self-pairs; order (a < b)
                out_a.extend(lo[keep].tolist())
                out_b.extend(hi[keep].tolist())
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b})

    # each unordered pair appears in exactly one block pair (blk_a <=
    # blk_b; value-keyed half-triangle within a block), so no
    # distinct() shuffle
    return bpairs.mapInPandas(gemm, schema="vec_a long, vec_b long")


@query(
    "d6_embedding_neardup",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {half_up_sql(_sql_cos('a.e', 'b.e'))} AS cosine
    FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    WHERE {_sql_cos('a.e', 'b.e')} >= {NEARDUP_COSINE}
    """,
)
def d6_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding cosine near-dup (threshold {NEARDUP_COSINE}),
    as blocked GEMM: candidate pairs come from per-block-pair matrix
    multiplies (Arrow mapInPandas + numpy BLAS — measured 6x over the
    per-pair zip_with join at sf0.1), then the exact JVM cosine
    re-scores candidates so emitted values are bit-identical to the
    declarative form the SQL oracle mirrors. Same shape as d4: cheap
    approximate candidates, exact verification of survivors only.
    (d6_gemm_audit attests the pruning stage with an independent
    quadratic derivation on both engines.)"""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = _d6_gemm_candidates(emb)

    # exact re-score of the (tiny) candidate set with the SAME JVM
    # expression the oracle mirrors — GEMM only prunes, never decides
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    # no broadcast hint on the candidate side: with the default
    # threshold it is tiny and AQE picks a broadcast join at runtime
    # anyway, but on a near-duplicate-heavy corpus (or a lowered
    # NEARDUP_COSINE) the candidate set can be large, and a forced
    # broadcast would OOM the driver at scale where AQE would shuffle
    return (
        cand
        .join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", half_up(F.col("_cos")).alias("cosine"))
    )


#: d6 audit scratch — the d4/a19/sim11/d9/d11 protocol (per-process run_scratch
#: path, (``n_src``, ``src_ck``) stale-scratch fingerprint guard).
_D6_AUDIT_SCRATCH = run_scratch("d6_gemm_cands")


@query(
    "d6_gemm_audit",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e FROM embeddings
    ), exact AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
      WHERE {_sql_cos('a.e', 'b.e')} >= {NEARDUP_COSINE}
    ), cand AS (
      SELECT vec_a, vec_b
      FROM read_parquet('{_D6_AUDIT_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    )
    SELECT
      CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
      CAST((SELECT count(*) FROM cand
            WHERE vec_a >= vec_b) AS BIGINT) AS n_bad_orient,
      CAST((SELECT count(*) FROM cand) -
           (SELECT count(*) FROM (SELECT DISTINCT vec_a, vec_b
                                  FROM cand))
           AS BIGINT) AS n_dup,
      CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
      CAST((SELECT count(*) FROM exact
            ANTI JOIN cand USING (vec_a, vec_b))
           AS BIGINT) AS n_missed
    """,
)
def d6_gemm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED attestation for d6's approximate stage (the
    blocked-GEMM candidate pruner — the one piece of d6 the row-level
    oracle exercises only indirectly): Spark materializes the exact
    candidate set d6 consumes to fingerprinted scratch; the DuckDB
    oracle re-derives the TRUE near-dup pair set with an independent
    quadratic self-join (its own list_dot_product cosine — no GEMM, no
    blocking topology) and checks, from the same materialized bytes:
    n_missed = 0 (the {NEARDUP_SLACK} slack really does make pruning
    lossless), n_dup = 0 and n_bad_orient = 0 (each unordered pair
    emitted exactly once as vec_a < vec_b — the value-keyed
    half-triangle contract that replaced the order-sensitive
    positional mask). The Spark half reports the same five numbers
    with ITS exact set derived by a GENUINELY independent path: the
    full per-pair JVM zip_with join over all vec_a < vec_b — no GEMM,
    no blocking, no reuse of the materialized candidates (the fold
    accumulates in index order, the same association DuckDB's
    list_dot_product uses, so threshold decisions agree bit-for-bit)
    — so a pruning miss drives n_missed > 0 on BOTH engines, not only
    a cross-engine hash mismatch (round-8 review: the previous
    rescore-the-candidates form had Spark's n_missed = 0 by
    construction and detection rested on the oracle alone).

    Scale: the quadratic re-derivation is the AUDIT rung, run on
    corpus samples like d4/d9's; d6 itself stays blocked (B(B+1)/2
    tasks, each one BLAS matmul)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    write_scratch(_d6_gemm_candidates(emb), _D6_AUDIT_SCRATCH, fp)
    # pin: cand feeds five aggregates and exact feeds two (the d9/d11
    # audits' measured multi-reference rule — without it each count
    # re-scans the scratch parquet / re-runs the quadratic join)
    cand = pin(read_scratch(spark, _D6_AUDIT_SCRATCH))

    # independent exact set: ALL pairs via the JVM fold expression — a
    # broadcast-nested-loop join on vec_a < vec_b (quadratic: the
    # audit's sample-scoped cost), sharing neither topology nor math
    # path with the blocked-GEMM candidates under audit
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    ).repartition(32)  # BNLJ parallelism = stream-side partitions; the
    # single-file scan would otherwise run the whole quadratic one-task
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    pair_cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    exact = pin(
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(pair_cos >= NEARDUP_COSINE)
        .select("vec_a", "vec_b")
    )
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_bad = cand.filter(F.col("vec_a") >= F.col("vec_b")).agg(
        F.count("*").cast("long").alias("n_bad_orient")
    )
    n_dup = cand.agg(
        (F.count("*") - F.count_distinct("vec_a", "vec_b"))
        .cast("long")
        .alias("n_dup")
    )
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    n_missed = exact.join(cand, ["vec_a", "vec_b"], "left_anti").agg(
        F.count("*").cast("long").alias("n_missed")
    )
    out = n_cand
    for frame in (n_bad, n_dup, n_exact, n_missed):
        out = out.crossJoin(F.broadcast(frame))
    return out


@query(
    "sim5_label_centroids",
    oracle=f"""
    WITH e AS (
      SELECT label,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings
    )
    SELECT label, i - 1 AS dim_i,
           {half_up_sql('avg(x)')} + 0.0
             AS centroid_val,  -- +0.0: never -0.0; shared half-up round
           count(*) AS n
    FROM e GROUP BY label, i
    """,
)
def sim5_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the vector-algebra aggregate
    behind IVF training, class prototypes, and centroid-based dedup.
    posexplode flattens (vector, dim) so the centroid is ONE shuffled
    partial-agg groupBy (avg per (label, dim)); no UDF, no driver
    math. Output is flattened (label, dim_i, value) — scalar doubles
    hash robustly across engines where float-list reprs would not."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim_i", "x"))
        .groupBy("label", "dim_i")
        .agg(
            # +0.0 collapses IEEE -0.0 (a mean that rounds to zero can
            # carry either sign depending on summation order) so both
            # engines emit the same normalized zero
            (half_up(F.avg(F.col("x").cast("double"))) + F.lit(0.0))
            .alias("centroid_val"),
            F.count("*").alias("n"),
        )
    )


@query(
    "sim6_int8_quantize",
    oracle=f"""
    WITH stats AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS mx
      FROM embeddings
    )
    SELECT vec_id,
           {half_up_sql('mx', 6)} AS scale,
           unnest(range(1, 9)) AS pos,
           unnest(list_transform(embedding[1:8],
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)
                         AS BIGINT))) AS q
    FROM stats
    """,
)
def sim6_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    vector-storage op that cuts an ANN corpus 4x (float32 -> int8 +
    one scale per vector). Pure column algebra (no UDF): per-vector
    max-abs scale, transform to half_up(x*127/scale, 0). Output pins
    the scale and the first 8 quantized values so the oracle compare
    stays scalar-friendly; both engines run the identical shared
    half-up floor arithmetic (functions.rounding) on identical
    doubles, so values match exactly — native round() was replaced in
    r6 because its half-tipping rules differ across engines."""
    emb = table(spark, sf_dir, "embeddings")
    mx = F.greatest(
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
        ),
        F.lit(1e-12),
    )
    q = F.transform(
        F.slice(F.col("embedding"), 1, 8),
        lambda x: half_up(
            x.cast("double") * 127.0 / F.col("_mx"), 0
        ).cast("long"),
    )
    return (
        emb.withColumn("_mx", mx)
        .select(
            "vec_id",
            half_up(F.col("_mx"), 6).alias("scale"),
            F.posexplode(q).alias("pos0", "q"),
        )
        .select(
            "vec_id", "scale", (F.col("pos0") + 1).alias("pos"), "q"
        )
    )


BATCH_QUERY_IDS = (0, 9, 10)


@query(
    "sim7_batch_ann",
    oracle=f"""
    {_SQL_BUCKETED_CTE}, q AS (
      SELECT b.vec_id AS query_id, b.bucket AS qbucket, v.e AS qe
      FROM bucketed b JOIN vecs v USING (vec_id)
      WHERE b.vec_id IN {BATCH_QUERY_IDS}
    ), scored AS (
      SELECT q.query_id, b.vec_id,
             {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
      FROM bucketed b
      JOIN vecs v USING (vec_id)
      JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def sim7_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: {len(BATCH_QUERY_IDS)} query vectors answered in ONE
    pass — the corpus is bucketed once, the (tiny) query side broadcast
    onto its buckets, and a per-query window takes top-3. Amortization
    is the point: the bucket computation (the expensive part) is shared
    across the whole query batch instead of recomputed per lookup,
    which is how nearest-neighbor assignment joins run at corpus scale.
    Ranking on the ROUNDED cosine + vec_id keeps the cut deterministic
    across engines."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    with_bucket = _attach_bucket(emb, _planes(emb))
    qside = with_bucket.filter(
        F.col("vec_id").isin(list(BATCH_QUERY_IDS))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("embedding").alias("q_emb"),
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    # eqNullSafe on the bucket key: see sim2 — blocks the inferred
    # IsNotNull(bucket) pushdown that re-evaluates the per-row plane
    # aggregate a second time on every corpus row. Buckets are never
    # null by construction, so the join is unchanged.
    scored = (
        with_bucket.join(
            F.broadcast(qside),
            F.col("bucket").eqNullSafe(F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "cosine")
    )


#: recall@k compares the LSH path against the exact ranking at sim2's
#: own k (ANN_TOPK — shared, so the eval can never measure a different
#: quantity than the ranking it grades); both rankings use the
#: rounded-cosine + vec_id total order, deterministic across engines.
RECALL_K = ANN_TOPK


@query(
    "sim8_ann_recall",
    oracle=f"""
    {_SQL_BUCKETED_CTE}, q AS (
      SELECT b.bucket AS qbucket, v.e AS qe
      FROM bucketed b JOIN vecs v USING (vec_id) WHERE b.vec_id = 0
    ), exact AS (
      SELECT v.vec_id
      FROM vecs v CROSS JOIN q
      WHERE v.vec_id <> 0
      ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, v.vec_id
      LIMIT {RECALL_K}
    ), lsh AS (
      SELECT b.vec_id
      FROM bucketed b
      JOIN vecs v USING (vec_id)
      CROSS JOIN q
      WHERE b.bucket = q.qbucket AND b.vec_id <> 0
      ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, b.vec_id
      LIMIT {RECALL_K}
    )
    SELECT {RECALL_K} AS k, count(*) AS n_hit,
           CAST(count(*) AS DOUBLE) / {RECALL_K} AS recall
    FROM exact JOIN lsh USING (vec_id)
    """,
)
def sim8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a QUERY: recall@{RECALL_K} of the LSH-bucketed
    path (sim2) against the exact brute-force ranking (sim1), computed
    by joining the two id sets — the standing eval a production ANN
    deployment runs whenever planes/buckets/nprobe change. Both
    rankings use the same rounded-cosine + vec_id total order, so the
    value is deterministic and the SQL oracle reproduces it exactly.
    At scale the exact side runs on a deterministic sample of queries
    (here: the one probe vector the whole sim family shares)."""
    exact = (
        sim1_cosine_topk(spark, sf_dir)
        .limit(RECALL_K)
        .select("vec_id")
    )
    lsh = sim2_lsh_ann(spark, sf_dir).select("vec_id")
    hits = exact.join(lsh, "vec_id")
    return hits.agg(F.count("*").alias("n_hit")).select(
        F.lit(RECALL_K).alias("k"),
        "n_hit",
        (F.col("n_hit").cast("double") / RECALL_K).alias("recall"),
    )


#: Candidates the int8 coarse stage hands to the exact rerank stage.
#: >> ANN_TOPK so quantization error can't push a true neighbor out of
#: the final k unless it fell below rank RERANK_CAND in int8 order.
RERANK_CAND = 50

#: DuckDB rendering of the per-vector symmetric-int8 max-abs scale —
#: identical algebra to sim6's quantizer (list_max of |x| in f64,
#: floored at 1e-12).
_SQL_MX = (
    "greatest(list_max(list_transform({col},"
    " x -> abs(CAST(x AS DOUBLE)))), 1e-12)"
)


#: sim9's int8 approximate dot, rendered through the shared rounding
#: definition (the per-element floor(x+0.5) IS half_up at scale 0 —
#: spelled inline because it sits inside a DuckDB list lambda).
_SQL_APPROX_DOT = (
    "list_dot_product("
    "list_transform(s.e, x -> floor(x * 127.0 / s.mx + 0.5)),"
    " list_transform(q.qe, x -> floor(x * 127.0 / q.qmx + 0.5)))"
    " * s.mx * q.qmx / 16129.0"
)


@query(
    "sim9_quantized_rerank",
    oracle=f"""
    WITH q AS (
      SELECT {_SQL_D.format(col='embedding')} AS qe,
             {_SQL_MX.format(col='embedding')} AS qmx
      FROM embeddings WHERE vec_id = 0
    ), s AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e,
             {_SQL_MX.format(col='embedding')} AS mx
      FROM embeddings WHERE vec_id <> 0
    ), coarse AS (
      SELECT s.vec_id, s.e, q.qe,
             {half_up_sql(_SQL_APPROX_DOT)} AS approx
      FROM s CROSS JOIN q
      ORDER BY approx DESC, s.vec_id
      LIMIT {RERANK_CAND}
    )
    SELECT vec_id, approx, {half_up_sql(_sql_cos('e', 'qe'))} AS cosine
    FROM coarse
    ORDER BY {half_up_sql(_sql_cos('e', 'qe'))} DESC, vec_id
    LIMIT {ANN_TOPK}
    """,
)
def sim9_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: an int8-quantized coarse scan (sim6's
    symmetric max-abs quantizer, 4x less memory bandwidth than f32)
    ranks the corpus by approximate dot product and keeps the top
    {RERANK_CAND}; the exact f64 cosine then reranks only those and
    emits the final top-{ANN_TOPK}. The production ANN shape when
    recall matters more than sim2's bucket pruning allows: the cheap
    pass touches everything at int8 speed, the exact pass touches
    {RERANK_CAND} rows.

    Determinism: the quantized dot is a sum of 64 integer products
    (each |q| <= 127, so the f64 accumulation is exact in both
    engines); the approx score orders on half_up(.., 4) + vec_id, so the
    candidate CUT is identical across engines, and the final order is
    sim1's rounded-cosine + vec_id. Scale: stage 1 is a TakeOrdered
    partial top-{RERANK_CAND} (no global sort, no shuffle beyond the
    k-row merge); stage 2 is driver-free column algebra over
    {RERANK_CAND} rows."""
    emb = table(spark, sf_dir, "embeddings")

    def mx_of(col: Column) -> Column:
        return F.greatest(
            F.array_max(F.transform(col, lambda x: F.abs(x.cast("double")))),
            F.lit(1e-12),
        )

    def quant(col: Column, scale: Column) -> Column:
        return F.transform(
            col, lambda x: half_up(x.cast("double") * 127.0 / scale, 0)
        )

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        mx_of(F.col("embedding")).alias("qmx"),
    )
    s = emb.filter(F.col("vec_id") != 0).withColumn(
        "mx", mx_of(F.col("embedding"))
    )
    int_dot = dot(
        quant(F.col("embedding"), F.col("mx")),
        quant(F.col("q_emb"), F.col("qmx")),
    )
    approx = half_up(
        int_dot * F.col("mx") * F.col("qmx") / F.lit(16129.0)
    )
    coarse = (
        s.crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", "q_emb", approx.alias("approx"))
        .orderBy(F.desc("approx"), F.asc("vec_id"))
        .limit(RERANK_CAND)
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    return (
        coarse.select("vec_id", "approx", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(ANN_TOPK)
    )


#: sim10's deterministic arrival split: vectors in this residue class
#: "arrive tonight" and are appended to the already-materialized index.
INCR_IDX_MOD = 5
INCR_IDX_RESIDUE = 1


def append_to_bucketed_index(
    spark: SparkSession, new_vectors: DataFrame, sf_dir: str, index_dir: str
) -> None:
    """Append new vectors into an existing bucket-partitioned index:
    bucket them with the SAME plane set the index was built with (one
    definition, _buckets), cluster by bucket, and parquet-append —
    only the partition dirs the new vectors hash into gain files;
    nothing existing is rewritten or even listed. Vectors are
    immutable rows, so append IS the correct merge (no upsert needed,
    unlike the keyed materialized views)."""
    emb = table(spark, sf_dir, "embeddings")
    with_bucket = _attach_bucket(new_vectors, _planes(emb))
    (
        with_bucket.repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(index_dir)
    )


@query("sim10_incremental_index", oracle=_SIM2_ORACLE)
def sim10_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the nightly-arrivals shape:
    the index is built WITHOUT tonight's batch (every
    {INCR_IDX_MOD}th vector held back), the batch is then APPENDED
    into the bucketed layout, and the probe must rank exactly as
    sim2's one-shot derivation over the full corpus — which is this
    query's oracle, shared verbatim. At 100 TB the build is paid once
    per corpus and each arrival batch costs one bucketing pass over
    ITS OWN rows plus appends into the few partitions it touches; the
    probe plan (partition-pruned scan) never changes."""
    emb = table(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % INCR_IDX_MOD == INCR_IDX_RESIDUE

    def fill(out: str) -> None:
        append_to_bucketed_index(spark, emb.filter(~is_delta), sf_dir, out)
        append_to_bucketed_index(spark, emb.filter(is_delta), sf_dir, out)

    # a stage like warm_sim4_index's: repeated invocations (bench
    # warmup + timed runs, sweep passes) probe the one materialized
    # base+appended index instead of rebuilding a full copy per call
    index_dir = dir_stage(
        spark, "sim10_index", fill, [table_path(sf_dir, "embeddings")]
    )
    return probe_bucketed_ann(spark, index_dir, sf_dir=sf_dir)


#: sim11's scratch — same static-oracle protocol as the d4/a19 audits
#: (per-process run_scratch path the SQL string can name), including the
#: stale-scratch guard: rows carry the (``n_src``, ``src_ck``)
#: fingerprint of embeddings at write time and the oracle filters on
#: both against its live view, so scratch from a different sf — or a
#: regenerated same-cardinality corpus — red-flags, never validates.
_SIM11_SCRATCH = run_scratch("sim11_ivf_hits")


@query(
    "sim11_ivf_recall_audit",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), q AS (
      SELECT e AS qe FROM vecs WHERE vec_id = 0
    ), exact AS (
      SELECT v.vec_id
      FROM vecs v CROSS JOIN q
      WHERE v.vec_id <> 0
      ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, v.vec_id
      LIMIT {ANN_TOPK}
    ), ivf AS (
      SELECT vec_id FROM read_parquet('{_SIM11_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    )
    SELECT CAST({ANN_TOPK} AS BIGINT) AS k,
           CAST((SELECT count(*) FROM exact SEMI JOIN ivf USING (vec_id))
                AS BIGINT) AS n_hit
    """,
)
def sim11_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED recall attestation for sim3's IVF path (whose
    seeded KMeans cells have no SQL twin): Spark materializes sim3's
    result ids to scratch parquet and counts how many of ITS exact
    top-{ANN_TOPK} they cover; the DuckDB oracle re-derives the exact
    top-{ANN_TOPK} INDEPENDENTLY and semi-joins the same materialized
    ids — so the recall number is verified against ground truth the
    IVF probe never touched (the sim8 pattern for sim2, extended to
    the seed-specific path via the d4-audit scratch protocol).
    tests/test_similarity.py separately pins recall >= 0.8."""
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    hits = sim3_ivf_ann(spark, sf_dir).select("vec_id")
    write_scratch(hits, _SIM11_SCRATCH, fp)
    back = read_scratch(spark, _SIM11_SCRATCH)
    exact = sim1_cosine_topk(spark, sf_dir).limit(ANN_TOPK).select("vec_id")
    n_hit = exact.join(back, "vec_id", "left_semi").agg(
        F.count("*").cast("long").alias("n_hit")
    )
    return n_hit.select(
        F.lit(ANN_TOPK).cast("long").alias("k"), "n_hit"
    )


#: Product-quantization parameters — the memory-compression rung of
#: the ANN ladder (brute sim1 -> LSH sim2 -> IVF sim3 -> PQ sim12).
#: 64-dim float32 vectors (256 B) encode to PQ_M nibble codes + one
#: f32 norm (8 + 4 B): a ~21x smaller index, the difference between a
#: 100 TB vector corpus fitting executor memory or not. PQ_K = 16
#: keeps codes in a nibble; PQ_M = 16 gives 4-dim subspaces (the
#: measured sweep: M=8 shortlists missed 40-60% of the exact top-k on
#: this corpus, M=16 @ 25 Lloyd iters recovers 100% at every sf tier).
PQ_M = 16
PQ_K = 16
PQ_SEED = 11
PQ_ITERS = 25
#: ADC shortlist size before the exact rerank (the FAISS "refine"
#: pattern): the approximate scan keeps 10k candidates, then exact
#: cosine re-scores just those — recall comes from the shortlist,
#: exactness of the final ranking from the rerank.
PQ_SHORTLIST = 10 * ANN_TOPK


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> "object":
    """Train the PQ_M per-subspace codebooks (seeded Lloyd, PQ_ITERS
    fixed iterations) and return them as a numpy (M, K, dim/M) array.

    DISTRIBUTED training: the corpus explodes into (m, vec_id, subvec)
    rows and ONE applyInPandas group per subspace runs its numpy fit —
    M parallel tasks, one shuffle on m. Determinism: each group sorts
    by vec_id before seeding, init picks K distinct rows via a seeded
    permutation, and empty clusters keep their previous center, so the
    fit is a pure function of (corpus, seed) regardless of partition
    order. The driver collect is M*K centroid rows (128 here) — the
    same bounded O(k*dim) driver-side footprint as sim3's cluster
    centers. At 100 TB you fit on a deterministic SAMPLE (codebooks
    need ~1e5-1e6 vectors, not the corpus) and ENCODE distributed —
    the encode pass, not training, is the corpus-sized work.

    A stage (stages.py): the codebooks are tiny driver-side numpy
    arrays (M*K*dsub doubles), so no checkpoint is needed, and the
    audit runs sim12 a second time without re-paying the distributed
    fit (the "train once, encode forever" contract)."""
    return stages.get(
        spark, "pq_codebooks", (), lambda: _fit_pq_codebooks(spark, sf_dir),
        [table_path(sf_dir, "embeddings")],
    )


def _fit_pq_codebooks(spark: SparkSession, sf_dir: str) -> "object":
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    dsub = dim // PQ_M
    assert dsub * PQ_M == dim, (dim, PQ_M)

    subrows = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("embedding", m * dsub + 1, dsub)
                        .cast("array<double>")
                        .alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = int(pdf["m"].iloc[0])
        X = np.array(pdf["sub"].tolist(), dtype=np.float64)
        rng = np.random.RandomState(PQ_SEED + m)
        C = X[rng.permutation(len(X))[:PQ_K]].copy()
        for _ in range(PQ_ITERS):
            d2 = (
                (X * X).sum(1)[:, None]
                - 2.0 * (X @ C.T)
                + (C * C).sum(1)[None, :]
            )
            a = d2.argmin(1)
            for k in range(PQ_K):
                sel = a == k
                if sel.any():  # empty cluster keeps its center
                    C[k] = X[sel].mean(0)
        return pd.DataFrame(
            {"m": m, "k": range(PQ_K), "centroid": [c.tolist() for c in C]}
        )

    rows = (
        subrows.groupBy("m")
        .applyInPandas(fit, schema="m int, k int, centroid array<double>")
        .collect()  # bounded: M*K rows (the codebook), like sim3's centers
    )
    cb = np.zeros((PQ_M, PQ_K, dsub))
    for r in rows:
        cb[r.m, r.k] = r.centroid
    return cb


def _pq_encoded(spark: SparkSession, sf_dir: str, cb) -> DataFrame:
    """(vec_id, codes array<int>, vnorm) — the PQ index rows. ONE
    Arrow mapInPandas pass; per batch the assignment is M small GEMMs
    (n x dsub @ dsub x K), the d6 pattern. At 100 TB this frame is
    what you MATERIALIZE (~8 B/vec); every later query scans codes,
    never raw vectors."""
    import numpy as np
    import pandas as pd

    M, K, dsub = cb.shape
    cnorm2 = (cb * cb).sum(2)  # (M, K)

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                Xm = X[:, m * dsub : (m + 1) * dsub]
                d2 = -2.0 * (Xm @ cb[m].T) + cnorm2[m][None, :]
                codes[:, m] = d2.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [c.tolist() for c in codes],
                    "vnorm": np.sqrt((X * X).sum(1)),
                }
            )

    return table(spark, sf_dir, "embeddings").mapInPandas(
        encode, schema="vec_id long, codes array<int>, vnorm double"
    )


#: sim12's shortlist scratch (r14 flip to oracle-backed — the sim3
#: recipe one stage later): the codebooks, codes, and ADC scores are
#: the engine/seed-specific half; the SHORTLIST they select
#: materializes to fingerprinted scratch and both engines replay the
#: exact-rerank stage independently (exact cosine over the shortlist,
#: total-ordered top-k). Quantization internals stay attested by
#: sim12_pq_recall_audit's independent ground truth.
_SIM12_SL_SCRATCH = run_scratch("sim12_shortlist")


def _sim12_oracle() -> str:
    return f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), q AS (
      SELECT e AS qe FROM vecs WHERE vec_id = 0
    ), cand AS (
      SELECT vec_id FROM read_parquet('{_SIM12_SL_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    )
    SELECT v.vec_id, {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
    FROM cand c JOIN vecs v USING (vec_id) CROSS JOIN q
    ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, v.vec_id
    LIMIT {ANN_TOPK}
    """


@query("sim12_pq_ann", oracle=_sim12_oracle())
def sim12_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rerank (IVF-PQ's scoring
    half, FAISS-style): train PQ_M seeded sub-codebooks, encode every
    vector to PQ_M nibble codes + its exact norm, then answer the
    vec_id=0 query by

    1. ADC (asymmetric distance computation): the query's per-subspace
       dot products against every centroid form an (M x K) lookup
       table — literal arrays in the plan, so the approximate score
       sum_m lut[m][code_m] / (|q|*|x|) is PURE Column algebra
       (element_at over the codes column): one scan of the ~8 B/vec
       codes frame, zero Python, zero shuffle, TakeOrdered shortlist
       of {PQ_SHORTLIST};
    2. exact rerank: the shortlist ids (a broadcast handful) join back
       to the raw vectors and exact JVM cosine picks the final
       top-{ANN_TOPK}.

    ORACLE-BACKED since r14 (was rows-only "codebooks are seed/impl-
    specific"): the shortlist materializes to stamped scratch and the
    oracle replays the exact rerank from it (see _SIM12_SL_SCRATCH
    note); sim12_pq_recall_audit separately attests recall against an
    independent DuckDB ground truth, and pytest pins recall vs sim1.
    Scale: training on a sample, encoding one narrow distributed pass,
    the ADC scan reads a ~30x smaller index, and the rerank touches k'
    rows — nothing here grows faster than one pass over the codes."""
    import numpy as np

    cb = _pq_codebooks(spark, sf_dir)
    M, K, dsub = cb.shape

    emb = table(spark, sf_dir, "embeddings")
    q = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    qnorm = float(np.sqrt((q * q).sum()))
    lut = [
        F.array(
            *[
                F.lit(float(q[m * dsub : (m + 1) * dsub] @ cb[m, k]))
                for k in range(K)
            ]
        )
        for m in range(M)
    ]
    adc_dot = None
    for m in range(M):
        term = F.element_at(lut[m], F.col("codes")[m] + 1)
        adc_dot = term if adc_dot is None else adc_dot + term
    shortlist = (
        _pq_encoded(spark, sf_dir, cb)
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            (adc_dot / (F.lit(qnorm) * F.col("vnorm"))).alias("adc_cosine"),
        )
        .orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    # materialize the shortlist to fingerprinted scratch; the rerank
    # below (and the oracle) read it back, so the attested selection
    # is exactly the bytes the quantizer produced
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    write_scratch(shortlist, _SIM12_SL_SCRATCH, fp)
    back = read_scratch(spark, _SIM12_SL_SCRATCH)
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    return (
        emb.join(F.broadcast(back), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(ANN_TOPK)
    )


#: sim12's scratch — the d4/a19/sim11/d6 static-oracle protocol
#: (per-process run_scratch path, (n_src, src_ck) stale-scratch fingerprint guard).
_SIM12_SCRATCH = run_scratch("sim12_pq_hits")


@query(
    "sim12_pq_recall_audit",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), q AS (
      SELECT e AS qe FROM vecs WHERE vec_id = 0
    ), exact AS (
      SELECT v.vec_id
      FROM vecs v CROSS JOIN q
      WHERE v.vec_id <> 0
      ORDER BY {half_up_sql(_sql_cos('v.e', 'q.qe'))} DESC, v.vec_id
      LIMIT {ANN_TOPK}
    ), pq AS (
      SELECT vec_id FROM read_parquet('{_SIM12_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    )
    SELECT CAST({ANN_TOPK} AS BIGINT) AS k,
           CAST((SELECT count(*) FROM exact SEMI JOIN pq USING (vec_id))
                AS BIGINT) AS n_hit
    """,
)
def sim12_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED recall attestation for sim12's PQ path (the sim11
    protocol applied to the quantized index): Spark materializes
    sim12's result ids to fingerprinted scratch; the DuckDB oracle
    re-derives the exact top-{ANN_TOPK} INDEPENDENTLY (its own
    list_dot_product cosine — no codebooks, no ADC) and semi-joins the
    same materialized ids, so the recall number is checked against
    ground truth the quantizer never touched. With the exact-rerank
    stage, a shortlist that captures the true top-k yields n_hit = k
    exactly; any quantization loss shows up identically on both
    engines. tests/test_similarity.py separately pins recall >= 0.8."""
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    hits = sim12_pq_ann(spark, sf_dir).select("vec_id")
    write_scratch(hits, _SIM12_SCRATCH, fp)
    back = read_scratch(spark, _SIM12_SCRATCH)
    exact = sim1_cosine_topk(spark, sf_dir).limit(ANN_TOPK).select("vec_id")
    n_hit = exact.join(back, "vec_id", "left_semi").agg(
        F.count("*").cast("long").alias("n_hit")
    )
    return n_hit.select(F.lit(ANN_TOPK).cast("long").alias("k"), "n_hit")


#: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) parameters: cluster
#: count for the coarse partitioning and the within-cell cosine above
#: which two vectors are semantic duplicates. EPS reuses the d6
#: near-dup threshold so both embedding-dedup rungs agree on "same".
SEMDEDUP_CELLS = 16
SEMDEDUP_EPS = NEARDUP_COSINE
#: Hot-cell guard: a cell larger than this is deterministically
#: sub-sharded (vec_id-hash salt) before the quadratic pair join. The
#: degenerate input for a DEDUP operator is exactly a giant cell of
#: near-identical vectors — k-means sends a billion boilerplate
#: embeddings to ONE centroid and |cell|^2 melts an executor however
#: large k is. Sharding bounds per-task pair work at ~CAP^2 and trades
#: away cross-shard pairs inside the hot cell (the same
#: recall-for-boundedness trade as d4's super-bucket cap); the audit
#: verifies the rule against the MATERIALIZED sharded cells, so the
#: trade is attested, never silent. Test corpora never trigger the
#: default; tests force a tiny cap to pin the sharded path.
SEMDEDUP_CELL_CAP = 50_000


def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, embedding) — the seeded coarse k-means
    assignment (sim3's quantizer recipe, its own k so the dedup grain
    is tunable independently of the ANN probe).

    A stage per (k, cap) (stages.py): the k-means fit is the dominant
    cost of d17 and its audit runs the query a second time, so one
    localCheckpoint-backed assignment serves both (the "materialize
    once per snapshot" story d17's docstring promises; at 100 TB this
    is a parquet table the IVF index shares). k is in the key because
    the SCALE harness scales the cell count with the corpus."""
    return stages.get(
        spark, "semdedup_cells", (SEMDEDUP_CELLS, SEMDEDUP_CELL_CAP),
        lambda: _fit_semdedup_cells(spark, sf_dir), [table_path(sf_dir, "embeddings")],
    )


def _fit_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = MLKMeans(
        k=SEMDEDUP_CELLS, seed=IVF_SEED, featuresCol="vec",
        predictionCol="cell",
    ).fit(emb)
    raw = km.transform(emb).select("vec_id", "cell", "embedding")
    # hot-cell sub-sharding (SEMDEDUP_CELL_CAP): remap every cell to
    # cell * 2^20 + shard, shard = hash(vec_id) % ceil(n/CAP) — 0 for
    # cells under the cap, so the remap is uniform and the published
    # ids stay opaque longs. The k-row count side broadcasts.
    cnt = raw.groupBy("cell").agg(F.count("*").alias("_n"))
    shards = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("_n") / F.lit(SEMDEDUP_CELL_CAP)).cast("long"),
    )
    sharded = (
        raw.join(F.broadcast(cnt), "cell")
        .select(
            "vec_id",
            (
                F.col("cell").cast("long") * F.lit(1 << 20).cast("long")
                + F.pmod(F.xxhash64("vec_id"), shards)
            ).alias("cell"),
            "embedding",
        )
    )
    return sharded.localCheckpoint()


#: d17's cell-assignment scratch (r14 flip to oracle-backed): the
#: seeded k-means cells (the only engine-specific step) materialize to
#: fingerprinted scratch, and BOTH engines independently re-derive the
#: keep rule from them — Spark joins raw embeddings back by vec_id and
#: runs the within-cell pair filter; DuckDB replays the identical
#: quadratic min-id-keeper CTE its audit already proved (the d5
#: pattern: internals attested by materialization, the DECISION
#: replayed end-to-end).
_D17_CELLS_SCRATCH = run_scratch("d17_cells")


def _d17_oracle() -> str:
    return f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), mat AS (
      SELECT vec_id, cell
      FROM read_parquet('{_D17_CELLS_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    ), prior AS (
      SELECT DISTINCT b.vec_id
      FROM mat a JOIN mat b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN vecs ea ON ea.vec_id = a.vec_id
      JOIN vecs eb ON eb.vec_id = b.vec_id
      WHERE {_sql_cos('ea.e', 'eb.e')} >= {SEMDEDUP_EPS}
    )
    SELECT m.vec_id, m.cell,
           m.vec_id NOT IN (SELECT vec_id FROM prior) AS is_kept
    FROM mat m
    """


@query("d17_semantic_dedup", oracle=_d17_oracle())
def d17_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — SEMANTIC dedup over embeddings, the rung the text
    ladder can't reach (paraphrases and re-renderings share no
    k-grams but land on near-identical embeddings): coarse-cluster
    the vectors (seeded k-means), then within each cell drop every
    vector that has a SMALLER-id cell-mate with cosine >=
    SEMDEDUP_EPS (min-id keeper, d1/d13's deterministic policy).
    Output one row per vector: (vec_id, cell, is_kept).

    The within-cell restriction is the SemDeDup design point: the
    exact pair work is sum(|cell|^2), never corpus^2 — at 100 TB you
    scale the cell count with the corpus so cells stay bounded (the
    paper dedups 38M CLIP embeddings with 50k clusters), the pair
    join shuffles on the cell key only, and the cell assignment is
    the SAME artifact the IVF index already materializes. Cross-cell
    near-dups are missed by construction — that recall/cost trade is
    the published algorithm, and d17_semdedup_audit attests the rule
    holds exactly INSIDE the materialized cells. Cells above
    SEMDEDUP_CELL_CAP are deterministically sub-sharded first (see the
    constant's note): per-task pair work is bounded by ~CAP^2 even
    when the embedding distribution dumps the whole corpus on one
    centroid — the dedup-shaped hot spot, since near-identical vectors
    cluster together by definition.

    ORACLE-BACKED since r14 (was rows-only "cells are seed-specific"):
    the assignments materialize to stamped scratch and the oracle
    replays the min-id keep rule from them in full (see
    _D17_CELLS_SCRATCH note); d17_semdedup_audit remains the separate
    attestation over the published verdict. Audit-scale note: the
    scratch is one row per vector — the production path keeps the
    assignment as the IVF index's own materialized artifact."""
    assigned = _semdedup_cells(spark, sf_dir)
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    write_scratch(assigned.select("vec_id", "cell"), _D17_CELLS_SCRATCH, fp)
    back = pin(
        read_scratch(spark, _D17_CELLS_SCRATCH)
        .join(
            table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            ),
            "vec_id",
        )
    )
    return _semdedup_verdict(back)


def _semdedup_verdict(cells: DataFrame) -> DataFrame:
    """(vec_id, cell, embedding) -> (vec_id, cell, is_kept): the
    within-cell min-id keep rule. ``cells`` is read three times (both
    pair sides and the verdict join), so callers pass a materialized
    frame (a pinned read-back or the localCheckpoint-backed cells
    stage)."""
    a = cells.select(
        "cell",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("va") < F.col("vb"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= SEMDEDUP_EPS)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_d").isNull().alias("is_kept")
    )


#: d17's scratch — the d4/a19/sim11/d6/sim12 static-oracle protocol.
_D17_SCRATCH = run_scratch("d17_semdedup")


def materialize_d17_verdict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write d17's full (vec_id, cell, is_kept) verdict to the
    fingerprinted scratch and return the read-back frame (pinned).
    Shared by the d17 audit and pl8's release chain — both of whose
    oracles take the CELLS as given from this scratch's bytes and
    re-derive the keep rule independently. The verdict comes straight
    from the localCheckpoint-backed cells stage: neither oracle reads
    d17's own cells scratch, so this path neither writes it nor joins
    the embeddings back."""
    fp = table_fingerprint(spark, sf_dir, "embeddings", "vec_id", table_fn=table)
    verdict = _semdedup_verdict(_semdedup_cells(spark, sf_dir))
    write_scratch(verdict, _D17_SCRATCH, fp)
    return pin(read_scratch(spark, _D17_SCRATCH))


@query(
    "d17_semdedup_audit",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings
    ), mat AS (
      SELECT vec_id, cell, is_kept
      FROM read_parquet('{_D17_SCRATCH}/*.parquet')
      WHERE {fingerprint_where('embeddings', 'vec_id')}
    ), prior AS (
      SELECT DISTINCT b.vec_id
      FROM mat a JOIN mat b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN vecs ea ON ea.vec_id = a.vec_id
      JOIN vecs eb ON eb.vec_id = b.vec_id
      WHERE {_sql_cos('ea.e', 'eb.e')} >= {SEMDEDUP_EPS}
    )
    SELECT CAST((SELECT count(*) FROM mat) AS BIGINT) AS n_vecs,
           CAST((SELECT count(*) FROM mat WHERE NOT is_kept)
                AS BIGINT) AS n_dropped,
           CAST((SELECT count(*) FROM mat
                 WHERE is_kept <> (vec_id NOT IN (SELECT vec_id FROM prior)))
                AS BIGINT) AS n_mismatch
    """,
)
def d17_semdedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED attestation for d17 (whose seeded cells have no
    SQL twin): Spark materializes d17's full (vec_id, cell, is_kept)
    verdict to fingerprinted scratch; the DuckDB oracle takes the
    CELLS as given from the scratch bytes and re-derives the keep rule
    independently (its own quadratic within-cell list_dot_product
    join), counting every row whose is_kept contradicts it. The Spark
    half derives its own check through a GENUINELY different path (the
    d6 audit lesson): per-cell numpy GEMM with the {NEARDUP_SLACK}
    slack proposes candidate prior-pairs, the exact JVM fold rescores
    just those, and the mismatch count comes from comparing the
    materialized verdicts against THAT — so a rule bug in d17's pair
    join drives n_mismatch > 0 on both engines, not only a
    cross-engine hash difference. n_mismatch = 0 is the contract."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mat = materialize_d17_verdict(spark, sf_dir)

    cut = SEMDEDUP_EPS - NEARDUP_SLACK

    def cellpairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        C = Xn @ Xn.T
        keep = (C >= cut) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(keep)
        return pd.DataFrame({"va": ids[ii], "vb": ids[jj]})

    cand = (
        mat.join(emb, "vec_id")
        .groupBy("cell")
        .applyInPandas(cellpairs, schema="va long, vb long")
    )
    ea = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    prior = (
        cand.join(ea, "va")
        .join(eb, "vb")
        .filter(cosine(F.col("ea"), F.col("eb")) >= SEMDEDUP_EPS)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("_p", F.lit(1))
    )
    checked = mat.join(prior, "vec_id", "left")
    n_vecs = checked.agg(F.count("*").cast("long").alias("n_vecs"))
    n_dropped = checked.filter(~F.col("is_kept")).agg(
        F.count("*").cast("long").alias("n_dropped")
    )
    n_mismatch = checked.filter(
        F.col("is_kept") != F.col("_p").isNull()
    ).agg(F.count("*").cast("long").alias("n_mismatch"))
    out = n_vecs
    for frame in (n_dropped, n_mismatch):
        out = out.crossJoin(F.broadcast(frame))
    return out


# ---------------------------------------------------------------------------
# sim13: MMR-diversified top-k retrieval
# ---------------------------------------------------------------------------

#: Candidate pool (brute-force top-N by relevance) and final selection
#: size for MMR. Integer weights 7/3 encode lambda = 0.7: the greedy
#: maximizes 7*rel4 - 3*max_sim4 over 1e-4-unit INTEGER scores, so the
#: selection arithmetic is exact on both engines — no float drift can
#: flip an argmax.
MMR_POOL = 32
MMR_K = 8


def _i4(c: Column) -> Column:
    """half-up round to 1e-4 units as an exact BIGINT score."""
    return F.floor(c * 10000 + F.lit(0.5)).cast("long")


@query(
    "sim13_mmr_diversified",
    oracle=f"""
    WITH RECURSIVE qv AS (
      SELECT {_SQL_D.format(col='embedding')} AS qe
      FROM embeddings WHERE vec_id = 0
    ), vecs AS (
      SELECT vec_id, {_SQL_D.format(col='embedding')} AS e
      FROM embeddings WHERE vec_id <> 0
    ), cand AS (
      SELECT vec_id, e,
             CAST(floor({_sql_cos('e', 'qe')} * 10000 + 0.5) AS BIGINT)
               AS rel4
      FROM vecs, qv
      ORDER BY rel4 DESC, vec_id LIMIT {MMR_POOL}
    ), sims AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(floor({_sql_cos('a.e', 'b.e')} * 10000 + 0.5) AS BIGINT)
               AS s4
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), sel(step, chosen) AS (
      SELECT 1, list_value((SELECT vec_id FROM cand
                            ORDER BY rel4 DESC, vec_id LIMIT 1))
      UNION ALL
      SELECT s.step + 1, list_append(s.chosen, (
          SELECT c.vec_id FROM cand c
          WHERE NOT list_contains(s.chosen, c.vec_id)
          ORDER BY 7 * c.rel4
                   - 3 * (SELECT max(m.s4) FROM sims m
                          WHERE m.va = c.vec_id
                            AND list_contains(s.chosen, m.vb)) DESC,
                   c.vec_id
          LIMIT 1))
      FROM sel s WHERE s.step < {MMR_K}
    ), final AS (
      SELECT chosen FROM sel WHERE step = {MMR_K}
    ), ranked AS (
      SELECT CAST(t.i AS INT) AS rank, chosen[CAST(t.i AS INT)] AS vec_id
      FROM final, range(1, {MMR_K} + 1) t(i)
    )
    SELECT r.rank, r.vec_id,
           CAST(c.rel4 AS DOUBLE) / 10000 + 0.0 AS relevance
    FROM ranked r JOIN cand c USING (vec_id)
    """,
)
def sim13_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the retrieval shape diversity-aware training-data
    selection needs: pure relevance top-k returns near-duplicates of
    one theme; MMR greedily picks argmax of
    lambda*rel(c) - (1-lambda)*max_{j in S} sim(c, j), trading
    relevance against redundancy with what is already selected.
    Output (rank, vec_id, relevance) for the {MMR_K} picks from a
    {MMR_POOL}-candidate pool.

    Engine-portable by INTEGER scoring: relevance and pairwise cosines
    round half-up to 1e-4-unit BIGINTs first, and the greedy maximizes
    7*rel4 - 3*sim4 (lambda = 0.7) with vec_id tie-breaks — exact
    integer arithmetic on both engines, so the argmax chain cannot
    diverge on float ulps. The oracle replays the greedy as a
    recursive CTE carrying the chosen list; step 1 is pure max-
    relevance (the standard MMR anchor, empty-set penalty = 0).

    Scale: the pool derivation is the distributed part — brute-force
    relevance is one scan + TakeOrderedAndProject (sim1's plan), or
    sim4's partition-pruned index at corpus scale. The greedy itself
    touches only the POOL x POOL rounded-similarity table (a broadcast
    self-join of {MMR_POOL} pinned rows) and crosses to Python ONCE as
    a single tiny Arrow group — per QUERY, so a batch of queries runs
    one group each in parallel (the pk2 sharding argument); nothing
    about the corpus ever reaches the driver."""
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = pin(
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            _i4(cosine(F.col("embedding"), F.col("q_emb"))).alias("rel4"),
        )
        .orderBy(F.desc("rel4"), F.asc("vec_id"))
        .limit(MMR_POOL)
    )
    a = cand.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        "rel4",
    )
    b = cand.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    # LEFT join so a 1-candidate pool still reaches the greedy as a
    # (va, rel4, NULL, NULL) row — matching the oracle, which emits
    # the lone candidate at rank 1 (its penalty subquery is empty).
    pairs = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"), "left")
        .select(
            "va",
            "rel4",
            "vb",
            _i4(cosine(F.col("ea"), F.col("eb"))).alias("s4"),
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = dict(zip(pdf["va"], pdf["rel4"]))
        sim = {
            (va, vb): s4
            for va, vb, s4 in zip(pdf["va"], pdf["vb"], pdf["s4"])
            if pd.notna(vb)
        }
        chosen: list[int] = []
        k = min(MMR_K, len(rel))
        while len(chosen) < k:
            best = None
            for c, r4 in rel.items():
                if c in chosen:
                    continue
                pen = max(sim[(c, j)] for j in chosen) if chosen else 0
                score = 7 * int(r4) - (3 * int(pen) if chosen else 0)
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c)
            chosen.append(best[1])
        return pd.DataFrame(
            {
                "rank": pd.array(range(1, k + 1), dtype="int32"),
                "vec_id": pd.array(chosen, dtype="int64"),
                "relevance": [int(rel[c]) / 10000.0 for c in chosen],
            }
        )

    return (
        pairs.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(greedy, schema="rank int, vec_id long, relevance double")
    )


#: sim14 — radius (threshold) search: the OTHER ANN API. Top-k asks
#: "closest k whatever the distance"; radius asks "everything within
#: tau" — retrieval filters, dedup candidate generation and
#: RAG-with-floor all use the threshold form. TAU on the ROUNDED
#: cosine keeps the cut deterministic across engines. The VALUE is
#: corpus-relative: the driver's synthetic embeddings are
#: near-orthogonal Gaussian vectors (same-bucket cosines concentrate
#: near 0, max ~0.13 at sf0.01), so 0.05 is the meaningful floor here;
#: real text embeddings would set 0.7+ — the knob, not the shape.
RADIUS_TAU = 0.05


@query(
    "sim14_radius_search",
    oracle=f"""
    {_SQL_BUCKETED_CTE}, q AS (
      SELECT b.vec_id AS query_id, b.bucket AS qbucket, v.e AS qe
      FROM bucketed b JOIN vecs v USING (vec_id)
      WHERE b.vec_id IN {BATCH_QUERY_IDS}
    ), scored AS (
      SELECT q.query_id, b.vec_id,
             {half_up_sql(_sql_cos('v.e', 'q.qe'))} AS cosine
      FROM bucketed b
      JOIN vecs v USING (vec_id)
      JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine
    FROM scored WHERE cosine >= {RADIUS_TAU}
    """,
)
def sim14_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search over the LSH-bucketed index: for each query
    vector, EVERY same-bucket vector whose (rounded) cosine clears
    RADIUS_TAU — sim7's batched machinery with the top-k window
    replaced by a plain threshold filter, which is the structural
    point: radius semantics need NO ordering, no window, no
    TakeOrdered — the plan is scan -> bucket equi-join -> filter,
    embarrassingly parallel at any corpus size (a top-k per query must
    rank; a radius query just keeps what passes). The oracle replays
    the hyperplane bucketing and the threshold on identical f64
    arithmetic.

    Scale: same contract as sim2/sim7 — candidates come from the
    bucket equi-join (work ∝ bucket occupancy, never |corpus| x |Q|),
    the query side broadcasts, and output size is demand-driven by
    tau rather than fixed k."""
    from pyspark.sql import functions as F  # local alias for clarity

    emb = table(spark, sf_dir, "embeddings")
    with_bucket = _attach_bucket(emb, _planes(emb))
    qside = with_bucket.filter(
        F.col("vec_id").isin(list(BATCH_QUERY_IDS))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("embedding").alias("q_emb"),
    )
    cos = half_up(cosine(F.col("embedding"), F.col("q_emb")))
    # eqNullSafe on the bucket key: see sim2 — blocks the inferred
    # IsNotNull(bucket) pushdown that re-evaluates the per-row plane
    # aggregate a second time on every corpus row.
    return (
        with_bucket.join(
            F.broadcast(qside),
            F.col("bucket").eqNullSafe(F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= RADIUS_TAU)
    )
