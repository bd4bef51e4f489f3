"""The one in-session stage registry.

Expensive stages — shingles, MinHash buckets, dedup clusters, the
suffix array, SemDeDup cells, PQ codebooks, the ML fits, table
fingerprints, and the built directories below — are built once and
read by several queries (d3/d4/d5/d11 share shingles and buckets;
d13/d14/pl1 share clusters; d21-d26 share one suffix array). Every one
of them lives here, under one key and one eviction rule, instead of in
a hand-rolled memo per module.

Three stages are directories rather than frames: sim4's bucketed ANN
index, sim10's base-plus-appended index (both keyed on the embeddings
table) and src8's z-ordered lineitem layout (keyed on lineitem). Each
is written into a new ``data.fresh_scratch`` dir and stored as an
``OwnedDir``; dropping the entry (a changed input snapshot, a stopped
session, ``release_all``) removes the dir, so disk holds one copy per
live entry. Each process owns its dirs: nothing is shared across
processes, and nothing another process writes is ever read.

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
next consumer rebuild it. Dropping an entry also frees the blocks of
a ``localCheckpoint`` behind its value (``free_checkpoint``), which
``unpersist()`` does not touch.

Stages may be asked for from several driver threads at once (pl8
builds d17's verdict on a second thread). One lock guards the entry
table and the dead-session sweep, and is never held across a build;
each key has its own build lock, so one key builds once while
different keys build in parallel. A build only asks for stages
upstream of it, so build locks are taken in the order of the acyclic
stage graph and cannot deadlock.
"""

from __future__ import annotations

import os
import shutil
import stat
import threading
from typing import Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from a3_fp_bigdata_spark.session import session_token

T = TypeVar("T")

#: (token, name, key, inputs) -> (snapshot, value)
_ENTRIES: dict[tuple, tuple[tuple, object]] = {}
#: the same keys -> the lock held while that stage builds
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}
#: guards _ENTRIES and _BUILD_LOCKS; never held across a build
_LOCK = threading.Lock()


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


class OwnedDir(str):
    """The value of a directory-valued stage: the path of a scratch dir
    that the entry owns, removed when the entry is dropped."""


def free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks a ``localCheckpoint()`` behind ``df`` stored.
    ``unpersist()`` leaves them until the JVM's garbage collector
    collects the checkpointed RDD. The walk goes down single-child
    nodes (projections, renames, filters) to the plan's leaf, so a
    frame derived from a checkpoint frees it too; a leaf that is not
    a LogicalRDD holds no checkpoint and is left alone. A frame still
    reading the freed checkpoint fails loudly on its next action."""
    plan = df._jdf.queryExecution().logical()
    while plan.children().size() == 1:
        plan = plan.children().head()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(True)


def _unpersist(value: object) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, OwnedDir):
            shutil.rmtree(v, ignore_errors=True)
        elif isinstance(v, DataFrame):
            try:
                v.unpersist()
                free_checkpoint(v)
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
    inputs = tuple(inputs)
    entry_key = (token, name, key, inputs)
    with _LOCK:
        dead = [_ENTRIES.pop(k)[1] for k in list(_ENTRIES) if k[0] != token]
        for k in [k for k in _BUILD_LOCKS if k[0] != token]:
            del _BUILD_LOCKS[k]
        build_lock = _BUILD_LOCKS.setdefault(entry_key, threading.Lock())
    for value in dead:
        _unpersist(value)
    with build_lock:
        snap = tuple(snapshot(p) for p in inputs)
        with _LOCK:
            hit = _ENTRIES.get(entry_key)
            if hit is not None and hit[0] == snap:
                return hit[1]
            _ENTRIES.pop(entry_key, None)
        if hit is not None:
            _unpersist(hit[1])
        value = build()
        with _LOCK:
            _ENTRIES[entry_key] = (snap, value)
        return value


def release_all() -> None:
    """Drop and unpersist every stage and remove every stage-owned dir
    (tests and harnesses that need the memory or disk back, or a cold
    start)."""
    with _LOCK:
        values = [v for _snap, v in _ENTRIES.values()]
        _ENTRIES.clear()
    for value in values:
        _unpersist(value)
