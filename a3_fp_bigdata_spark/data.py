"""Loaders for the driver test tables.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Loaded lazily; Catalyst prunes columns/pushes filters into the scan, so a
query touching 2 of 11 lineitem columns reads only those column chunks.
"""

from __future__ import annotations

import atexit
import glob as _glob
import os
import shutil as _shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from a3_fp_bigdata_spark import stages

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Timestamp columns whose PHYSICAL parquet type has drifted across
#: driver testdata generations. Handling is SCHEMA-DRIVEN — we branch on
#: the type Spark actually loaded, never on an assumed physical type
#: (round 3 shipped broken because code assumed TIMESTAMP(NANOS)-as-long
#: while the data was timestamp[us]):
#:   - ``timestamp[us]`` (current driver data) -> Spark 4.x loads it as
#:     TIMESTAMP_NTZ (isAdjustedToUTC=false + inferTimestampNTZ): used
#:     as-is; DuckDB reads the same naive micros, values compare equal.
#:   - ``TIMESTAMP(NANOS)`` (legacy generations) -> readable only as
#:     long nanos via spark.sql.legacy.parquet.nanosAsLong; the LongType
#:     branch below widens nanos -> microsecond timestamps.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def widen_legacy_long_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Widen legacy nanos-as-long timestamp columns to TimestampType;
    leave native timestamp columns (NTZ or LTZ) untouched. Shared by the
    batch loader below and the streaming source (streaming/ingest.py) so
    both paths make the same schema-driven decision."""
    for col in cols:
        field = df.schema[col] if col in df.columns else None
        if field is not None and isinstance(field.dataType, T.LongType):
            # integer `div` keeps exactness (nanos exceed double's 2^53)
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
    return df

#: one warning per process when table() overrides a non-UTC timezone
_TZ_WARNED = False


def table_path(sf_dir: str, name: str) -> str:
    """Where ``table`` reads ``name`` from (also what stages snapshot)."""
    return f"{sf_dir}/{name}.parquet"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Plain parquet scan — the vectorized reader's
    native types flow through (the driver's DuckDB oracle reads the same
    footers); legacy nanos-as-long timestamp columns, if present, are
    widened to TimestampType (see _TS_COLS / widen_legacy_long_ts)."""
    # CONTRACT: reading through the engine pins the session to the
    # engine's timestamp semantics (UTC comparisons; legacy nanos
    # widened) — the driver's oracle compare depends on it. An
    # application that needs a different session timezone for its own
    # queries should not share a session with engine reads.
    # Two session-level self-heals, tried INDEPENDENTLY so one being
    # locked on an externally-built session can't silently skip the
    # other. Both are part of the engine's session contract (see
    # session.local_session, which sets them at build time).
    try:
        # Legacy-data compat only: lets a TIMESTAMP(NANOS) file load (as
        # long, widened below). A no-op against the current driver data,
        # whose timestamp[us] columns load natively as TIMESTAMP_NTZ.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf may be fixed on an externally-built session
    try:
        # registry determinism rules compare timestamps under UTC; a plain
        # session on a non-UTC host would otherwise collect TimestampType
        # shifted to local time while DuckDB returns stored naive micros.
        # Repinning a non-UTC timezone is a visible event, not a silent
        # one: warn once per process — AFTER the conf set, so a
        # warnings-as-errors filter can never skip the pin itself.
        # (conf.get returns the RESOLVED zone — JVM default included —
        # so the warning cannot tell 'explicitly set' from 'host
        # default'; the message is phrased accordingly.)
        current = spark.conf.get("spark.sql.session.timeZone", None)
        if current != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        if current not in (None, "UTC", "Etc/UTC", "GMT"):
            global _TZ_WARNED
            if not _TZ_WARNED:
                _TZ_WARNED = True
                import warnings

                warnings.warn(
                    "a3_fp_bigdata_spark.data.table(): pinning session "
                    f"timeZone to 'UTC' (was {current!r} — an explicit "
                    "setting or the host default; engine timestamp "
                    "contract, see module docstring). Use a separate "
                    "SparkSession for non-UTC application queries.",
                    stacklevel=2,
                )
    except Exception:
        pass
    df = spark.read.parquet(table_path(sf_dir, name))
    return widen_legacy_long_ts(df, _TS_COLS.get(name, ()))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries match the
    oracle's pre-registered DuckDB view names."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


#: Audit-scratch paths are PER-PROCESS (uid + pid in the path), not
#: fixed per uid. The oracle SQL strings embed the path at module
#: import, and the driver/parity/pytest harnesses each run Spark AND
#: DuckDB in one process — so a process-unique path keeps the pair
#: consistent while making concurrent runs (pytest next to a parity
#: sweep — observed corrupting a fixed shared scratch mid-run in
#: round 9) physically unable to clobber each other. Cleanup: atexit
#: removes this process's dirs; a dead-pid prune at first use per
#: name collects dirs left by crashed processes (atexit never ran).
_SCRATCH_RUN = f"uid{os.getuid()}_pid{os.getpid()}"
_RUN_SCRATCH_DIRS: list[str] = []
_PRUNED_NAMES: set[str] = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it
    return True


def run_scratch(name: str) -> str:
    """Per-process scratch dir for the audit-scratch protocol:
    ``$TMPDIR/a3_fp_{name}_uid{uid}_pid{pid}``. Same path for the
    Spark writer and the DuckDB oracle inside one process; distinct
    across processes. Registered for atexit removal; stale siblings
    whose owning pid is dead are pruned on first use."""
    base = tempfile.gettempdir()
    if name not in _PRUNED_NAMES:
        _PRUNED_NAMES.add(name)
        pat = os.path.join(
            base, f"a3_fp_{name}_uid{os.getuid()}_pid*"
        )
        for old in _glob.glob(pat):
            try:
                pid = int(old.rsplit("_pid", 1)[1])
            except (IndexError, ValueError):
                continue
            if pid != os.getpid() and not _pid_alive(pid):
                _shutil.rmtree(old, ignore_errors=True)
    path = os.path.join(base, f"a3_fp_{name}_{_SCRATCH_RUN}")
    if path not in _RUN_SCRATCH_DIRS:
        _RUN_SCRATCH_DIRS.append(path)
    return path


def read_stamped_scratch(spark: SparkSession, path: str) -> DataFrame:
    """Spark-side twin of the audit oracles' staleness guard
    (``WHERE n_src = (SELECT count(*) ...)``) over a stamped scratch:
    keep rows only when every row's ``n_src`` stamp equals the actual
    row count, then drop the stamp. A torn read mixing rows from two
    fixture generations fails the equality on at least one side and
    disagrees loudly (row-count mismatch) instead of silently passing
    mixed-generation bytes. The guard is one broadcast of a 1-row
    count frame — no extra shuffle.

    The count-equality alone is not strictly loud: a surviving subset
    whose row total coincidentally equals one generation's stamp (4
    rows stamped 5 plus 1 row stamped 4 totals 5) would pass the
    filter. The broadcast frame therefore also carries
    countDistinct(n_src); ANY mixed-generation read (>1 distinct
    stamp) yields zero rows unconditionally, no coincidence possible
    (ADVICE r11)."""
    raw = spark.read.parquet(path)
    total = raw.agg(
        F.count("*").cast("long").alias("n_total_rows"),
        F.countDistinct("n_src").cast("long").alias("n_generations"),
    )
    return (
        raw.crossJoin(F.broadcast(total))
        .filter(
            (F.col("n_src") == F.col("n_total_rows"))
            & (F.col("n_generations") == F.lit(1))
        )
        .drop("n_src", "n_total_rows", "n_generations")
    )


def fresh_scratch(prefix: str) -> str:
    """A new empty dir per call (``mkdtemp``), removed at interpreter
    exit with the run_scratch dirs — for runs that need their own
    staging, output or checkpoint dir each time (streaming sinks and
    checkpoints, directory-valued stages)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _RUN_SCRATCH_DIRS.append(path)
    return path


def dir_stage(
    spark: SparkSession,
    name: str,
    fill: Callable[[str], None],
    inputs: list[str],
) -> str:
    """A directory-valued stage (stages.py): ``fill(path)`` writes the
    artifact into a new ``fresh_scratch`` dir once per snapshot of
    ``inputs``, and the path is returned until they change. Dropping
    the entry, or a ``fill`` that raises, removes the dir."""

    def build() -> stages.OwnedDir:
        path = fresh_scratch(f"a3_{name}_")
        try:
            fill(path)
        except BaseException:
            _shutil.rmtree(path, ignore_errors=True)
            raise
        return stages.OwnedDir(path)

    return stages.get(spark, name, (), build, inputs)


def _cleanup_run_scratch() -> None:
    while _RUN_SCRATCH_DIRS:
        _shutil.rmtree(_RUN_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_run_scratch)


#: Modulus for the content half of the audit-scratch fingerprint: keeps
#: sum(key % M) far from BIGINT overflow (~9e12 rows before wrap) while
#: computing identically in Spark and DuckDB (both use C-style % on
#: non-negative BIGINT keys).
FINGERPRINT_MOD = 1_000_003


def src_fingerprint(df: DataFrame, key_col: str) -> DataFrame:
    """1-row source fingerprint the audit-scratch protocol stamps on
    every scratch row: ``n_src`` = count(*) plus ``src_ck`` =
    sum(key % FINGERPRINT_MOD) over a bigint key column. The count
    alone separates the shipped sf tiers (10x apart), but a
    regenerated corpus at the SAME cardinality would slip past it —
    the content checksum closes that hole cheaply, and both halves
    compute identically in Spark and DuckDB (see
    ``fingerprint_where``). Not cryptographic: a fingerprint, scoped
    to catching stale/foreign scratch, not adversarial collisions."""
    return df.agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum(F.col(key_col) % FINGERPRINT_MOD)
        .cast("long")
        .alias("src_ck"),
    )


def table_fingerprint(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    key_col: str,
    table_fn=None,
) -> tuple[int, int]:
    """Memoized ``src_fingerprint`` over a named driver table: the
    ``(n_src, src_ck)`` stamp is collected ONCE per (session, table
    file snapshot, key, source-plan) as a stage (stages.py) and
    returned as a plain tuple, which ``stamp`` attaches to a scratch
    frame as two literal columns.

    r15 optimization (guide §2.4 — don't recompute what can't have
    changed): every audit-scratch write used to re-run the stamp's
    source scan + aggregate as the broadcast build of its crossJoin —
    18 call sites, one redundant full-table pass per write. The
    corpus snapshot is immutable within a session (and production
    stamps a snapshot once when it lands), so the fingerprint is
    session-constant by construction. This memoizes a 2-int STAMP,
    never query results. Two test-reality guards: ``table_fn`` lets
    call sites route through their MODULE-LOCAL ``table`` name, so
    monkeypatched corpora keep working (the edge-case suite patches
    D.table with synthetic docs over both fake and REAL sf dirs); and
    the memo key includes the source frame's ``semanticHash()``, so a
    patched frame can never poison — or be poisoned by — the real
    table's cached stamp. The bounded 1-row collect is the same class
    as the engine's other probes. Rewriting the table's file in place
    changes its snapshot, so the stamp is re-collected."""
    src = (table_fn or table)(spark, sf_dir, table_name)

    def collect() -> tuple[int, int]:
        row = src_fingerprint(src, key_col).first()
        return (row["n_src"], row["src_ck"])

    return stages.get(
        spark, "table_fingerprint", (key_col, src.semanticHash()), collect,
        [table_path(sf_dir, table_name)],
    )


def stamp(df: DataFrame, fp: tuple[int, int]) -> DataFrame:
    """``df`` with the ``table_fingerprint`` stamp appended as literal
    bigint columns ``n_src`` and ``src_ck`` — the rows and column order
    of a crossJoin with the 1-row fingerprint frame, planned as a
    projection: no local relation, no broadcast job, no Python worker
    to serialize the relation. A null ``src_ck`` (empty table) stays a
    typed null."""
    n, ck = fp
    return df.select(
        "*",
        F.lit(n).cast("long").alias("n_src"),
        F.lit(ck).cast("long").alias("src_ck"),
    )


#: Kept only because perfbench imports this name: it drops every stage.
release_fingerprints = stages.release_all


def fingerprint_where(table_name: str, key_col: str) -> str:
    """The DuckDB WHERE fragment matching ``src_fingerprint``: filters
    scratch rows to those whose stamped (n_src, src_ck) equal the
    fingerprint of the oracle's LIVE view of ``table_name`` — stale
    scratch (different sf, regenerated same-cardinality corpus) yields
    an empty oracle side and a red mismatch, never a false PASS."""
    return (
        f"n_src = (SELECT count(*) FROM {table_name}) "
        f"AND src_ck = (SELECT CAST(sum({key_col} % {FINGERPRINT_MOD})"
        f" AS BIGINT) FROM {table_name})"
    )
