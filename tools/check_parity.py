"""Driver-simulation parity checker.

Runs registered queries in a PLAIN SparkSession (no engine configs — the
real driver won't set ours; data.table() must self-heal) against their
DuckDB oracles over the same parquet, comparing sorted column names, row
counts and normalized values.

Usage:
    python tools/check_parity.py                 # every query
    python tools/check_parity.py q1 q2 ...       # named subset
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/check_parity.py
"""
import datetime
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
names = sys.argv[1:]

# set BEFORE the JVM/session starts so Python WORKER processes (forked
# with the executor's env) inherit it — the driver-side simplefilter
# below cannot reach them, and their FutureWarnings corrupted two
# result lines in the committed r7 parity log
os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    # cosmetic only (not an engine config the driver would need): the
    # console progress bar writes \r-framed stage spam that corrupted
    # result lines in a committed parity log — a reviewer's
    # `grep -c "^  ok"` undercounted. Keep the LOG grep-parseable.
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# same log-hygiene rationale: pandas/pyarrow FutureWarnings interleaved
# into two r7 result lines; route them away from the captured stream
# (the worker-side half of this fix — PYTHONWARNINGS — is set above,
# before the JVM launches, so forked workers inherit it)
import warnings

warnings.simplefilter("ignore", FutureWarning)

import duckdb

import __spark_entry__ as E

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

queries, oracles = E.queries(), E.oracle_sql()
if not names:
    names = sorted(queries)


def norm(v):
    try:
        import pandas as pd

        if v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
            return (0, "")
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        r = round(v, 6)
        # pandas widens nullable int columns to float64; render integral
        # floats as ints so 1534.0 == 1534 across fetch paths
        return (1, str(int(r)) if r == int(r) else str(r))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return (1, v.isoformat())
    if isinstance(v, list):
        return (1, str([norm(x) for x in v]))
    return (1, str(v))


from a3_fp_bigdata_spark import registry

# Environment facts this sweep's results depend on — in the log header
# so a later environment drift is detectable instead of silent (round 3
# shipped a stale "green" log after the testdata's physical timestamp
# type changed underneath it).
import pyarrow.parquet as _pq
import pyspark as _ps

_ts_phys = _pq.read_schema(f"{SF}/events.parquet").field("ts").type
print(
    f"env: pyspark={_ps.__version__} sf_dir={SF} "
    f"events.ts_physical={_ts_phys} "
    f"loaded_as={queries and spark.read.parquet(f'{SF}/events.parquet').schema['ts'].dataType}"
)

#: Spark SQL type names that land as Python int vs float on collect().
_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT = {"float", "double"}


def dtype_mismatches(sdf, ores):
    """Columns where Spark collects ints but the oracle fetchdf gives
    floats (or vice versa). norm() renders 0 and 0.0 identically, but
    the DRIVER's value-hash does not — round 5's dq1 red row was
    exactly this (DuckDB HUGEINT -> float64 vs Spark long). A column
    the oracle returns as float64 *because it contains nulls* (pandas
    widening) is reported too: the driver would red it the same way,
    so the oracle SQL should CAST or COALESCE it."""
    stypes = dict(sdf.dtypes)
    bad = []
    for c in ores.columns:
        st, ok = stypes.get(c), ores[c].dtype.kind
        if st in _SPARK_INT and ok == "f":
            bad.append(f"{c}: spark {st} vs oracle float64")
        elif (st in _SPARK_FLOAT or (st or "").startswith("decimal")) and ok in "iu":
            bad.append(f"{c}: spark {st} vs oracle int64")
    return bad


fail = False
for name in names:
    sdf = queries[name](spark, SF)
    cols = sorted(sdf.columns)
    srows = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
    registry.release_pinned()  # drop per-query persisted frames
    if name not in oracles:
        print(f"  rows-only {name}: {len(srows)} rows")
        continue
    ores = con.execute(oracles[name]).fetchdf()
    ocols = sorted(ores.columns)
    for m in dtype_mismatches(sdf, ores):
        print(f"FAIL {name}: dtype-class {m}"); fail = True
    # itertuples, NOT iterrows: iterrows builds a per-row Series whose
    # common dtype upcasts int64 to float64 whenever the row also has
    # a float column — an xxhash64 media_id next to a double mean
    # loses its low bits and red-flags a correct result (r12, the mm
    # pixel-scratch oracles). itertuples preserves each column's dtype.
    _pos = [list(ores.columns).index(c) for c in ocols]
    orows = sorted(
        tuple(norm(t[i]) for i in _pos)
        for t in ores.itertuples(index=False, name=None)
    )
    if cols != ocols:
        print(f"FAIL {name}: cols {cols} vs {ocols}"); fail = True
    elif srows != orows:
        diffs = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b]
        msg = f"rows {len(srows)} vs {len(orows)}"
        if diffs:
            i = diffs[0]
            msg += f"; first diff @{i}: {srows[i]} vs {orows[i]}"
        print(f"FAIL {name}: {msg}"); fail = True
    else:
        print(f"  ok {name}: {len(srows)} rows")
sys.exit(1 if fail else 0)
