"""The one in-session stage registry.

Expensive stages — shingles, MinHash buckets, dedup clusters, the
suffix array, SemDeDup cells, PQ codebooks, the ML fits, table
fingerprints — are built once and read by several queries (d3/d4/d5/
d11 share shingles and buckets; d13/d14/pl1 share clusters; d21-d26
share one suffix array). Every one of them lives here, under one key
and one eviction rule, instead of in a hand-rolled memo per module.

An entry is keyed by (session token, stage name, the caller's extra
key parts, the input paths) and remembers a snapshot of those paths
taken before the build: one non-recursive ``os.scandir``/``os.stat``
per path (entry names, sizes, ``mtime_ns``), on the driver, with no
Spark job. Spark rewrites ``_SUCCESS`` at a table directory's root on
every commit, so one level is enough to see a rewrite; a single-file
table is one ``stat``. A path the driver cannot stat (a remote URI, a
synthetic test dir) snapshots as ``None`` and so never invalidates.

Eviction is one rule: a ``get`` whose snapshot differs from the
stored one drops and unpersists the old entry and rebuilds, and every
``get`` first drops entries of stopped sessions. PySpark runs one
SparkContext per process, so any token other than the caller's
belongs to a stopped context.

``build()`` must return a value that is already materialized; each
call site keeps its own ``persist(MEMORY_AND_DISK)`` or
``localCheckpoint()`` choice, because the two measurably differ in
cost per stage. Per-query ``registry.release_pinned()`` does not touch
these entries — dropping a shared stage between queries makes the
next consumer rebuild it. Stages are built from one driver thread;
the registry takes no lock.
"""

from __future__ import annotations

import os
import stat
from typing import Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from a3_fp_bigdata_spark.session import session_token

T = TypeVar("T")

#: (token, name, key, inputs) -> (snapshot, value)
_ENTRIES: dict[tuple, tuple[tuple, object]] = {}


def snapshot(path: str) -> tuple | None:
    """(name, size, mtime_ns) of each entry of a directory, or
    (size, mtime_ns) of a file; None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, es.st_size, es.st_mtime_ns)
                    for e in it
                    for es in (e.stat(),)
                )
            )
    except OSError:
        return None


def _unpersist(value: object) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:
                pass  # its session is already gone


def get(
    spark: SparkSession,
    name: str,
    key: tuple,
    build: Callable[[], T],
    inputs: Iterable[str],
) -> T:
    """The stage ``name`` for this session, extra ``key`` parts and
    ``inputs`` paths: the stored value while the inputs' snapshot is
    unchanged, else ``build()``'s."""
    token = session_token(spark)
    for k in [k for k in _ENTRIES if k[0] != token]:
        _unpersist(_ENTRIES.pop(k)[1])
    inputs = tuple(inputs)
    entry_key = (token, name, key, inputs)
    snap = tuple(snapshot(p) for p in inputs)
    hit = _ENTRIES.get(entry_key)
    if hit is not None:
        if hit[0] == snap:
            return hit[1]
        _unpersist(_ENTRIES.pop(entry_key)[1])
    value = build()
    _ENTRIES[entry_key] = (snap, value)
    return value


def release_all() -> None:
    """Drop and unpersist every stage (tests and harnesses that need
    the memory back or a cold start)."""
    while _ENTRIES:
        _unpersist(_ENTRIES.popitem()[1])
