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
``observed_cut(df, *probe)`` is a cut that also reads the named
aggregate ``probe`` columns through ``DataFrame.observe``, in the job
that materializes it, so a count or a sum over the cut costs no second
job.  ``fixpoint(init, step, max_rounds, error)`` is the one round loop
of the engine (PageRank to convergence, the k-core peel, connected
components, the chunked EWMA carry): each round is one observed cut of
``step(state)``, the round it supersedes is freed at once, and the loop
stops at the first cut whose observation holds a true ``done``.
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

from pyspark.sql import DataFrame, Observation, SparkSession

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


def observed_cut(df: DataFrame, *probe) -> tuple[DataFrame, dict]:
    """:func:`cut` of ``df`` and the values of the named aggregate
    ``probe`` columns over its rows, read in the same job through
    ``DataFrame.observe`` (``{}`` without a probe).  An empty cut
    observes a count of 0 and a NULL (``None``) sum, so a probe
    ``coalesce``s its sums."""
    if not probe:
        return cut(df), {}
    obs = Observation()
    return cut(df.observe(obs, *probe)), obs.get


def fixpoint(
    init: tuple[DataFrame, dict], step: Callable, max_rounds: int, error: str
) -> tuple[DataFrame, int]:
    """Iterate ``step`` from ``init`` until an observed ``done``.

    ``init`` is a cut and its observation, as :func:`observed_cut`
    returns them.  Round ``rnd`` (1, 2, ...) builds ``(plan, probe) =
    step(state, seen, rnd)`` from the last round's cut and observation
    and replaces ``state`` by ``observed_cut(plan, *probe)``, freeing
    the superseded cut: one materialization per round, whose plan is a
    scan of the previous one, so plan depth stays constant however many
    rounds run.  The loop stops at the first cut, ``init`` included,
    whose observation holds a true ``done`` column, and returns that
    cut with the number of rounds run.  A round without a probe
    observes nothing and never stops the loop.

    If round ``max_rounds`` is not done, the last cut is freed and a
    ``RuntimeError`` raised with the caller's ``error`` and the last
    round's observation: a loop that has not converged fails loudly
    instead of returning a truncated result.  Rounds stop early, so a
    generous ``max_rounds`` only costs work when it is needed."""
    state, seen = init
    rnd = 0
    while not seen.get("done"):
        if rnd == max_rounds:
            free_cut(state)
            raise RuntimeError(f"{error}; the last round observed {seen}")
        rnd += 1
        plan, probe = step(state, seen, rnd)
        nxt, seen = observed_cut(plan, *probe)
        free_cut(state)
        state = nxt
    return state, rnd


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
