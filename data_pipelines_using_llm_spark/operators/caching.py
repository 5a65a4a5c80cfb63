"""Lifecycle tracking for persisted intermediates and session artifacts.

Several operators materialize an expensive intermediate behind
``persist()`` so Catalyst's projection collapse cannot re-evaluate it per
consumer (the 50x trap documented in operators/dedup.py).  The persisted
block outlives the returned DataFrame, so long-lived sessions that run
many queries (the bench loop, the correctness driver) would accumulate
cached blocks and lean on LRU eviction.

``barrier(df)`` persists and registers the intermediate; ``cut(df)``
materializes it as an eager ``localCheckpoint``, whose plan is a scan of
the stored blocks (a lineage cut for iterative loops).
``release_barriers()`` frees everything registered so far.  Entry
points that loop over queries (bench.py, scripts/drive_contract.py,
tests) call ``release_barriers()`` after materializing each result; the
blocks are non-blocking-unpersisted, so an already-running plan that
still references one simply recomputes, while one that reads a freed
cut fails (its blocks are the only copy).

Artifacts written to disk live under one per-process session root,
removed at interpreter exit:

- ``session_artifact`` builds an artifact that a session of queries
  reuses (a trained index, a partitioned layout, a row count) once per
  (session, name), and rebuilds it when its input files change;
- ``scratch_dir`` gives one query a directory to write into (an index it
  edits, a stream's output), which the next ``release_barriers()``
  removes.  The query's result may be a lazy scan over it, which is why
  the loops release only after materializing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_TRACKED: list[DataFrame] = []
_CUTS: list[DataFrame] = []
_SCRATCH: list[str] = []
# (applicationId, name) -> (input fingerprint, directory, built value)
_ARTIFACTS: dict[tuple[str, str], tuple[tuple, str, Any]] = {}
_ROOT: str | None = None


def barrier(df: DataFrame) -> DataFrame:
    """Persist ``df`` and track it for later :func:`release_barriers`."""
    _TRACKED.append(df)
    return df.persist()


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` as an eager ``localCheckpoint`` and track it for
    :func:`free_cut` or :func:`release_barriers`.  The result's plan is a
    scan of the checkpointed blocks, whatever lineage ``df`` had."""
    out = df.localCheckpoint(eager=True)
    _CUTS.append(out)
    return out


def free_cut(df: DataFrame) -> None:
    """Free the blocks of ``df``, a :func:`cut` that nothing will read
    again.  ``DataFrame.unpersist`` does not reach them: they belong to
    the checkpointed RDD under the plan's ``LogicalRDD`` leaf."""
    _CUTS.remove(df)
    _drop_blocks(df)


def _drop_blocks(df: DataFrame) -> None:
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def release_barriers() -> int:
    """Unpersist every tracked intermediate, free every :func:`cut` and
    remove every :func:`scratch_dir`; returns how many intermediates
    were freed."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    while _CUTS:
        try:
            _drop_blocks(_CUTS.pop())
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)
    return n


def _session_root() -> str:
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="sparkpipe_session_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def _fingerprint(inputs: tuple[str, ...]) -> tuple:
    """``(path, size, mtime_ns)`` of every leaf file under each input
    path; a missing input raises ``FileNotFoundError``."""
    leaves = []
    for path in inputs:
        if os.path.isdir(path):
            for d, _dirs, files in os.walk(path):
                leaves.extend(os.path.join(d, f) for f in files)
        else:
            leaves.append(path)
    out = []
    for leaf in sorted(leaves):
        st = os.stat(leaf)
        out.append((leaf, st.st_size, st.st_mtime_ns))
    return tuple(out)


def session_artifact(
    spark: SparkSession,
    name: str,
    inputs: tuple[str, ...],
    build: Callable[[str], Any],
) -> Any:
    """The value of ``build(dir)`` for this session's artifact ``name``,
    built once per (``applicationId``, ``name``) into a fresh ``dir``
    under the session root and reused while the files under ``inputs``
    keep their paths, sizes and mtimes.  When they change, the entry is
    rebuilt and its old directory deleted, so a reused artifact can never
    be stale.  ``build`` may return lazy scans over ``dir``: the
    directory lives until the input changes or the process exits.  A
    failing build leaves no entry and no directory behind."""
    key = (spark.sparkContext.applicationId, name)
    fp = _fingerprint(inputs)
    entry = _ARTIFACTS.get(key)
    if entry is not None:
        if entry[0] == fp:
            return entry[2]
        del _ARTIFACTS[key]
        shutil.rmtree(entry[1], ignore_errors=True)
        # Spark matches file relations by root path, so a barrier still
        # persisted over the old files would serve the rebuild stale rows
        for path in inputs:
            spark.catalog.refreshByPath(path)
    tdir = tempfile.mkdtemp(prefix="artifact_", dir=_session_root())
    try:
        value = build(tdir)
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        raise
    _ARTIFACTS[key] = (fp, tdir, value)
    return value


def scratch_dir(prefix: str) -> str:
    """A fresh per-query directory under the session root, removed by
    the next :func:`release_barriers`."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_session_root())
    _SCRATCH.append(path)
    return path
