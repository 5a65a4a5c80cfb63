"""Snapshot versioning for parquet tables — time travel without Delta.

The reference's storage layer is Delta, whose history/time-travel the
sandbox cannot execute (no delta-spark — SCALE.md "Delta Lake status").
This module supplies the same CAPABILITY on plain parquet: every write
lands as an immutable snapshot directory (``<table>/v=N``), a one-line
pointer file (``<table>/_LATEST``) names the current version, and reads
resolve the pointer — so concurrent readers of an in-flight write keep
their snapshot, history is queryable (``DESCRIBE HISTORY`` analogue),
and rollback is a pointer move, never a data rewrite.

Atomicity model: the snapshot directory is fully written BEFORE the
pointer flips, and the pointer flip is ``os.replace`` (atomic on POSIX)
— readers see the old version or the new version, never a partial one.
This is exactly the commit protocol of the log-based table formats,
reduced to one integer.  Retention: ``keep`` bounds stored snapshots;
pruning never touches the live version.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from data_pipelines_using_llm_spark.sources.tables import scan_parquet

POINTER = "_LATEST"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, POINTER)


def current_version(table_dir: str) -> int | None:
    """The live version number, or None for a nonexistent table."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def list_versions(table_dir: str) -> list[int]:
    """All retained snapshot versions, ascending — the history listing."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def versioned_write(df: DataFrame, table_dir: str, keep: int = 3) -> int:
    """Write ``df`` as the next snapshot and flip the pointer; returns
    the new version number.  Older snapshots beyond ``keep`` are pruned
    (never the live one).  A crash before the pointer flip leaves an
    orphan snapshot directory that the next write simply supersedes —
    the pointer is the single source of truth."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1: {keep}")
    os.makedirs(table_dir, exist_ok=True)
    live = current_version(table_dir)
    version = (live or 0) + 1
    # skip over any orphan directory from a crashed writer
    existing = set(list_versions(table_dir))
    while version in existing:
        version += 1
    snap = os.path.join(table_dir, f"v={version}")
    df.write.mode("overwrite").parquet(snap)
    tmp = _pointer_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _pointer_path(table_dir))  # atomic commit
    for old in list_versions(table_dir):
        if old != version and old <= version - keep:
            shutil.rmtree(os.path.join(table_dir, f"v={old}"))
    return version


def rollback_to(table_dir: str, version: int) -> int:
    """Roll the live pointer back to a RETAINED snapshot — the
    ``RESTORE TABLE ... VERSION AS OF`` analogue: one atomic pointer
    move (``os.replace``), never a data rewrite, so it is instantaneous
    at any table size and safe under concurrent readers (they see the
    old or the new pointer, never a partial state — including a
    mid-stream per-batch ``ann_index_load``, which picks the restored
    version up on its next micro-batch;
    tests/test_streaming.py::test_stream_knn_picks_up_midstream_remove_and_rollback).
    The next :func:`versioned_write` continues ABOVE the highest
    retained version (the rolled-back-from snapshot stays queryable
    history until retention prunes it).  Raises if ``version`` is not
    retained."""
    if not os.path.isdir(os.path.join(table_dir, f"v={version}")):
        raise ValueError(
            f"version {version} not retained at {table_dir} "
            f"(have {list_versions(table_dir)})"
        )
    tmp = _pointer_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _pointer_path(table_dir))
    return version


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the live snapshot (default) or a retained historical one —
    the ``VERSION AS OF`` analogue.  :func:`versioned_write` never
    partitions, so a snapshot is a flat directory of part files and its
    footer schema is the table's: the read starts no schema-inference
    job (``sources/tables.py::scan_parquet``)."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise ValueError(f"no versioned table at {table_dir}")
    snap = os.path.join(table_dir, f"v={v}")
    if not os.path.isdir(snap):
        retained = list_versions(table_dir)
        raise ValueError(
            f"version {v} not retained at {table_dir} (have {retained})"
        )
    return scan_parquet(spark.read, snap)


def diff_versions(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    old_version: int,
    new_version: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two retained snapshots — Delta's
    CDF (``table_changes``) analogue: composes :func:`read_version` with
    operators/cdc.py::snapshot_diff, so "what changed between v3 and
    now" is one full-outer join of two immutable directories."""
    from data_pipelines_using_llm_spark.operators.cdc import snapshot_diff

    return snapshot_diff(
        read_version(spark, table_dir, old_version),
        read_version(spark, table_dir, new_version),
        keys,
        compare_cols,
    )


def versioned_merge(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    keep: int = 3,
) -> int:
    """``MERGE INTO`` on the snapshot layer — the Delta upsert the
    reference writes (`First experiment/Claude Opus 4.py:128-132`)
    re-expressed as copy-on-write over immutable versions: matched
    target rows are replaced by their source row (``when_matched=
    "update"``) or dropped (``"delete"``), unmatched source rows are
    inserted, and the result commits as the next snapshot with the same
    atomic pointer flip as :func:`versioned_write` — readers see the
    pre-merge or post-merge table, never a half-merged one, and the
    pre-merge version stays time-travelable.

    Delta's conflict contract is enforced: a source with MULTIPLE rows
    per key raises (one cheap aggregate) exactly like Delta's
    "multiple source rows matched" error, because last-writer-wins
    among duplicate sources is nondeterministic.

    Scale note: this is whole-snapshot copy-on-write — one anti-join +
    union, the right shape when merges touch a meaningful fraction of
    the table.  For narrow merges into a partitioned table use
    ``sinks/writers.py::idempotent_upsert`` (dynamic partition
    overwrite of only the touched partitions); the two compose — run
    the partition-scoped upsert inside a staged directory, then commit
    it as a snapshot.
    """
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched!r}")
    target = read_version(spark, table_dir)
    if sorted(target.columns) != sorted(updates.columns):
        raise ValueError(
            f"merge source columns {sorted(updates.columns)} != target "
            f"{sorted(target.columns)} — align schemas first "
            "(append_with_evolution handles additive drift)"
        )
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if dup:
        raise ValueError(
            f"merge source has {dup} key(s) with multiple rows — "
            "nondeterministic merge (Delta raises here too); "
            "deduplicate the source first (operators/cleaning.py)"
        )
    untouched = target.join(updates.select(*keys), keys, "left_anti")
    merged = (
        untouched.unionByName(updates.select(*target.columns))
        if when_matched == "update"
        else untouched
    )
    return versioned_write(merged, table_dir, keep=keep)
