"""Merge/upsert — the lakehouse data-maintenance operator (engine
extension; the reference only ever overwrites whole tables,
spark_script.py:153).

Without a transactional table format, upsert is the classic anti-join
form: keep every base row whose key is NOT updated, then union the
updates (which both replace and insert). One shuffle on the key; with
the base bucketed on the key (sources.parquet_io.write_bucketed_table)
the anti-join is co-located and the rewrite touches only matching
buckets. On Delta/Iceberg the same logical op is MERGE INTO — this is
the engine-portable fallback with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.functions.rounding import half_up, half_up_sql
from a3_fp_bigdata_spark.registry import query


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """UPSERT: updates win on key collision, new keys are inserted.
    Columns are aligned by name (updates must carry base's schema)."""
    untouched = base.join(updates, on=key, how="left_anti")
    return untouched.unionByName(updates.select(*base.columns))


@query(
    "u1_merge_upsert",
    oracle=f"""
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             {half_up_sql('c_acctbal + 1000', 2)} AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 9000000 + c_custkey, 'new#' || CAST(c_custkey AS VARCHAR),
             c_nationkey, 0.0, c_mktsegment
      FROM customer WHERE c_custkey % 100 = 0
    )
    SELECT c_custkey, c_name, {half_up_sql('c_acctbal', 2)} AS c_acctbal,
           c_mktsegment
    FROM (
      SELECT * FROM customer WHERE c_custkey NOT IN
        (SELECT c_custkey FROM updates)
      UNION ALL
      SELECT * FROM updates
    )
    """,
)
def u1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert round: 10% of customers get a balance bump (update), 1%
    are cloned as fresh keys (insert). Deterministic derivation so the
    oracle reproduces the exact update set."""
    cust = table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        half_up(F.col("c_acctbal") + 1000, 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 9000000).alias("c_custkey"),
        F.concat(F.lit("new#"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    merged = merge_upsert(cust, updates.unionByName(inserts), "c_custkey")
    return merged.select(
        "c_custkey",
        "c_name",
        half_up(F.col("c_acctbal"), 2).alias("c_acctbal"),
        "c_mktsegment",
    )


#: "row is current" sentinel for SCD2 valid_to. An int sentinel instead
#: of NULL keeps the history table's version columns non-nullable —
#: NULLs in integer columns widen to float64 in pandas-based clients
#: (see the repo's oracle-parity notes) and break BETWEEN predicates.
SCD_OPEN = 999_999


def scd2_merge(
    base: DataFrame, updates: DataFrame, key: str, batch_id: int
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: instead of overwriting
    changed rows (merge_upsert), close the current version
    (valid_to = batch_id) and append the new one — the full change
    history stays queryable ("balance as of batch N" is a BETWEEN
    filter). ``base`` carries (key, tracked..., valid_from, valid_to);
    ``updates`` carries (key, tracked...).

    One shuffle on the key (the left join); closed history passes
    through untouched, so at scale the work tracks the CURRENT
    partition plus the update batch, not accumulated history. On
    Delta/Iceberg the same logic is a MERGE with WHEN MATCHED/NOT
    MATCHED branches."""
    from functools import reduce
    from operator import or_

    tracked = [
        c for c in updates.columns if c != key
    ]
    open_rows = base.filter(F.col("valid_to") == SCD_OPEN)
    closed_rows = base.filter(F.col("valid_to") != SCD_OPEN)
    u = updates.select(
        key,
        F.lit(True).alias("_u_present"),
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
    )
    j = open_rows.join(u, key, "left")
    present = F.coalesce(F.col("_u_present"), F.lit(False))
    changed = present & reduce(
        or_,
        [~F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in tracked],
    )
    base_cols = [key, *tracked, "valid_from", "valid_to"]
    untouched = j.filter(~changed).select(*base_cols)
    expired = j.filter(changed).select(
        key, *tracked, "valid_from", F.lit(batch_id).alias("valid_to")
    )
    new_versions = j.filter(changed).select(
        F.col(key),
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        F.lit(batch_id).alias("valid_from"),
        F.lit(SCD_OPEN).alias("valid_to"),
    )
    inserts = (
        updates.join(open_rows, key, "left_anti")
        .select(
            F.col(key),
            *tracked,
            F.lit(batch_id).alias("valid_from"),
            F.lit(SCD_OPEN).alias("valid_to"),
        )
    )
    return (
        closed_rows.select(*base_cols)
        .unionByName(untouched)
        .unionByName(expired)
        .unionByName(new_versions)
        .unionByName(inserts)
    )


@query(
    "u2_scd2_history",
    oracle=f"""
    SELECT c_custkey,
           {half_up_sql('c_acctbal', 2)} AS acctbal,
           c_mktsegment,
           0 AS valid_from,
           CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE {SCD_OPEN} END
             AS valid_to
    FROM customer
    UNION ALL
    SELECT c_custkey, {half_up_sql('c_acctbal + 1000', 2)}, c_mktsegment,
           1, {SCD_OPEN}
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def u2_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 demo round: initial load is every customer at version 0;
    batch 1 bumps every 10th customer's balance. Changed keys must show
    BOTH versions (old closed at batch 1, new open), unchanged keys
    exactly one open row — the oracle enumerates that history directly.
    Deterministic derivation, like u1."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        half_up(F.col("c_acctbal"), 2).alias("acctbal"),
        "c_mktsegment",
    )
    base = cust.withColumn("valid_from", F.lit(0)).withColumn(
        "valid_to", F.lit(SCD_OPEN)
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "acctbal", half_up(F.col("acctbal") + 1000, 2)
    )
    return scd2_merge(base, updates, "c_custkey", batch_id=1)


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  fp: str = "fp") -> DataFrame:
    """Corpus CDC between two snapshots: full outer join on the key,
    classify each key as added (no old row), removed (no new row) or
    changed (both present, fingerprints differ); unchanged keys drop
    out. The join keys on the id and compares 16-byte fingerprints —
    never the payload — so the shuffle moves (key, fp) pairs only; with
    both snapshots bucketed on the key (the nightly layout
    sources.parquet_io.write_bucketed_table produces) the join is
    co-located and the diff is exchange-free.

    Presence is tracked by explicit per-side markers — NOT by
    fingerprint nullness — and the change test is null-SAFE
    (eqNullSafe / IS DISTINCT FROM in the oracle), so a legitimately
    NULL fingerprint (e.g. md5 of a NULL payload) is neither
    misread as a missing row nor silently dropped from 'changed'."""
    o = old.select(
        F.col(key),
        F.col(fp).alias("_old_fp"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key),
        F.col(fp).alias("_new_fp"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, on=key, how="full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("_old_fp").eqNullSafe(F.col("_new_fp")),
            F.lit("changed"),
        )
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(key, "status")
    )


@query(
    "u3_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 23 = 5 THEN upper(text) ELSE text
                 END) AS fp
      FROM documents WHERE doc_id % 17 <> 3
    ), new AS (
      SELECT doc_id, md5(text) AS fp
      FROM documents WHERE doc_id % 19 <> 2
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
           END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL
       OR o.fp IS DISTINCT FROM n.fp
    """,
)
def u3_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly crawl question: what changed between yesterday's
    corpus snapshot and today's? Two snapshots are derived
    deterministically from `documents` so the oracle reproduces them
    exactly — yesterday misses every 17th doc (today's ADDITIONS) and
    carries a different text for every 23rd (CHANGED, simulated by
    fingerprinting the uppercased text); today misses every 19th
    (REMOVALS). The diff itself is snapshot_diff: one full outer join
    on (doc_id, md5 fingerprint) — the engine-portable CDC derivation
    that feeds d10's incremental dedup with exactly the added+changed
    docs instead of re-scanning the corpus."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 23 == 5, F.upper(F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    new = docs.filter(F.col("doc_id") % 19 != 2).select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    return snapshot_diff(old, new, "doc_id")


def merge_upsert_evolving(
    base: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """merge_upsert for a batch whose schema has EVOLVED: columns the
    other side lacks are null-backfilled by name (unionByName
    allowMissingColumns), so yesterday's rows gain the new column as
    NULL and a batch missing a legacy column inserts NULL there — the
    additive-only evolution contract warehouse MERGEs implement.
    Key collisions still resolve updates-win via the same anti-join."""
    untouched = base.join(updates, on=key, how="left_anti")
    return untouched.unionByName(updates, allowMissingColumns=True)


@query(
    "u4_schema_evolution_merge",
    oracle=f"""
    WITH updates AS (
      SELECT c_custkey, c_name,
             {half_up_sql('c_acctbal + 500', 2)} AS c_acctbal,
             'gold' AS tier
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c_custkey, c_name, {half_up_sql('c_acctbal', 2)} AS c_acctbal,
           tier
    FROM (
      SELECT c_custkey, c_name, c_acctbal, NULL AS tier
      FROM customer WHERE c_custkey % 7 <> 0
      UNION ALL
      SELECT * FROM updates
    )
    """,
)
def u4_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under MERGE: today's batch carries a NEW
    column (`tier`) the base table never had. Every untouched base
    row backfills `tier` as NULL; every updated row lands with its
    value — no rewrite of history, no migration job, exactly the
    additive-evolution behavior Delta/Iceberg MERGE WITH SCHEMA
    EVOLUTION provides, expressed engine-portably. The oracle builds
    the same union by hand, so a column-alignment bug (the classic
    positional-union corruption) is a value-hash mismatch.

    Scale: identical plan to u1 — one anti-join plus a union; the
    evolved column adds bytes only for rows that carry it."""
    base = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            "c_name",
            half_up(F.col("c_acctbal") + 500, 2).alias("c_acctbal"),
            F.lit("gold").alias("tier"),
        )
    )
    merged = merge_upsert_evolving(base, updates, "c_custkey")
    return merged.select(
        "c_custkey",
        "c_name",
        half_up(F.col("c_acctbal"), 2).alias("c_acctbal"),
        "tier",
    )


# ---------------------------------------------------------------------------
# u5: full CDC changelog apply (insert / update / DELETE, last-write-wins)
# ---------------------------------------------------------------------------


def apply_changelog(
    base: DataFrame, changelog: DataFrame, key: str
) -> DataFrame:
    """Debezium-style changelog apply: ``changelog`` carries
    (op in {{'I','U','D'}}, seq, key, payload) rows, possibly several
    per key — compact to the latest op per key (max seq; op is the
    unique tie-break so replays of the same seq are deterministic),
    then: untouched base rows survive, latest 'I'/'U' rows replace or
    insert, latest 'D' rows remove the key. One window over the
    CHANGELOG (batch-sized, never corpus-sized) + u1's anti-join
    form; with the base bucketed on the key the rewrite stays
    co-located."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc("seq"), F.desc("op"))
    latest = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )
    untouched = base.join(latest, on=key, how="left_anti")
    survivors = latest.filter(F.col("op") != "D").select(*base.columns)
    return untouched.unionByName(survivors)


#: u5's changelog over ``customer`` as DuckDB rows (op, seq, c_custkey,
#: c_name, c_acctbal, c_mktsegment); src9 applies it as its version 1.
U5_CHANGELOG_SQL = f"""SELECT 'U' AS op, 1 AS seq, c_custkey, c_name,
             {half_up_sql('c_acctbal + 500', 2)} AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 'D', 2, c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT 'I', 1, 8000000 + c_custkey,
             'cdc#' || CAST(c_custkey AS VARCHAR), 0.0, c_mktsegment
      FROM customer WHERE c_custkey % 100 = 0"""


def u5_changelog(src: DataFrame) -> DataFrame:
    """u5's changelog over the customer frame ``src``, the Spark side
    of ``U5_CHANGELOG_SQL``: a +500 balance update for every 10th key
    (seq 1), a delete for every 7th (seq 2), and a fresh key for every
    100th (seq 1)."""
    updates = src.filter(F.col("c_custkey") % 10 == 0).select(
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        "c_custkey",
        "c_name",
        half_up(F.col("c_acctbal") + 500, 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    deletes = src.filter(F.col("c_custkey") % 7 == 0).select(
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )
    inserts = src.filter(F.col("c_custkey") % 100 == 0).select(
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        (F.col("c_custkey") + 8000000).alias("c_custkey"),
        F.concat(F.lit("cdc#"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    return updates.unionByName(deletes).unionByName(inserts)


def changelog_apply_sql(
    base: str, log_sql: str, suffix: str = ""
) -> tuple[str, str]:
    """DuckDB twin of ``apply_changelog`` over customer-shaped rows:
    ``(ctes, applied)``. ``ctes`` defines ``changelog{suffix}`` (the
    ``log_sql`` rows) and ``latest{suffix}`` (the latest op per key,
    by seq then op); ``applied`` selects ``base``'s untouched rows
    plus the latest non-delete rows."""
    ctes = f"""changelog{suffix} AS (
      {log_sql}
    ), latest{suffix} AS (
      SELECT * FROM (
        SELECT op, c_custkey, c_name, c_acctbal, c_mktsegment,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY seq DESC, op DESC) AS rn
        FROM changelog{suffix}
      ) WHERE rn = 1
    )"""
    applied = f"""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM {base}
      WHERE c_custkey NOT IN (SELECT c_custkey FROM latest{suffix})
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM latest{suffix}
      WHERE op <> 'D'"""
    return ctes, applied


def _u5_oracle() -> str:
    ctes, applied = changelog_apply_sql("customer", U5_CHANGELOG_SQL)
    return f"""
    WITH {ctes}
    SELECT c_custkey, c_name, {half_up_sql('c_acctbal', 2)} AS c_acctbal,
           c_mktsegment
    FROM (
      {applied}
    )
    """


@query("u5_cdc_apply_changelog", oracle=_u5_oracle())
def u5_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply — the op u1's upsert cannot express: a changelog
    with INSERTS, UPDATES and DELETES, where one key may carry several
    entries and the LATEST (by seq) wins. Derivation is deterministic:
    10% of customers get a balance update (seq 1), every 7th key a
    delete (seq 2 — so keys divisible by 70 exercise update-then-
    delete compaction: the delete wins), 1% insert as fresh keys. The
    oracle re-derives the same changelog and replays the compaction
    with a plain ROW_NUMBER.

    Scale: the window runs over the changelog (a CDC batch, not the
    corpus); the base pays one key-equality anti-join, co-located
    under bucketing — MERGE INTO's engine-portable twin with delete
    semantics."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    merged = apply_changelog(
        cust, u5_changelog(table(spark, sf_dir, "customer")), "c_custkey"
    )
    return merged.select(
        "c_custkey",
        "c_name",
        half_up(F.col("c_acctbal"), 2).alias("c_acctbal"),
        "c_mktsegment",
    )
