"""Incremental gold-table maintenance: fold a new batch's PARTIAL
aggregates into a persisted rollup without recomputing history.

The reference recomputes its gold monthly averages from the full silver
table every run (``Second Experiment/Claude Opus 4.py:309-312`` overwrites
``air_quality_monthly_avg`` from scratch).  At 100 TB that is a full-table
scan per refresh; the scalable shape is algebraic-aggregate maintenance:

- the stored rollup keeps MERGEABLE state per group — row counts and
  decimal sums (exact, order-independent: functions/exact.py) — never
  finalized ratios;
- a new batch contributes one tiny partial-aggregate DataFrame (its own
  groups only), merged by addition: ``(old ⊎ delta).groupBy(keys).sum``;
- derived metrics (averages) are computed AT READ TIME from sums/counts,
  so they are always consistent with the merged state.

Replay safety: ``incremental_rollup`` takes an optional ``batch_id`` and
keeps an applied-batch ledger INSIDE the table directory (an
underscore-prefixed subdir, invisible to parquet readers — the same
convention as ``_SUCCESS``).  The ledger is staged into the tmp snapshot
BEFORE the swap, so state and ledger move atomically with the same
rename: a crash leaves either (old state, old ledger) or (new state,
ledger already containing the batch id) — replay detection can never
diverge from the data, and at-least-once schedulers (the reference's
"re-run the notebook" model) cannot double-count a batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.functions.exact import MONEY, dec
from data_pipelines_using_llm_spark.sinks.writers import (
    _has_data_files,
    _swap_in,
    write_table,
)
from data_pipelines_using_llm_spark.sources.tables import scan_parquet

_LEDGER_DIR = "_applied_batches"


def rollup_batch(
    df: DataFrame, keys: list[str], sum_cols: list[str], typ: str = MONEY
) -> DataFrame:
    """The batch's partial aggregate: per-group row count + exact decimal
    sums — the mergeable state, computed with map-side partials so only
    distinct groups shuffle."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(dec(c, typ)).alias(f"sum_{c}") for c in sum_cols],
    )


def merge_rollups(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Fold two rollup states: union then re-add per group.  Decimal sums
    add exactly, so merge order never changes a bit."""
    metric_cols = [c for c in a.columns if c not in keys]
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in metric_cols])
    )


def finalize_rollup(state: DataFrame, sum_cols: list[str]) -> DataFrame:
    """Read-time view: exact sums as doubles plus derived averages —
    always consistent with the merged state."""
    out = state
    for c in sum_cols:
        out = out.withColumn(f"sum_{c}_d", F.col(f"sum_{c}").cast("double"))
        out = out.withColumn(
            f"avg_{c}", F.col(f"sum_{c}").cast("double") / F.col("n_rows")
        )
    return out.select(
        *[c for c in state.columns if not c.startswith("sum_")],
        *[F.col(f"sum_{c}_d").alias(f"sum_{c}") for c in sum_cols],
        *[f"avg_{c}" for c in sum_cols],
    )


def _ledger_dir(table_dir: str) -> str:
    # Inside the table directory: underscore-prefixed paths are hidden
    # from Spark/parquet directory listings (like _SUCCESS), so the
    # ledger rides along with every snapshot swap.
    return os.path.join(table_dir.rstrip("/"), _LEDGER_DIR)


def _applied(path: str, batch_id: str) -> bool:
    if os.path.exists(os.path.join(_ledger_dir(path), batch_id)):
        return True
    # pre-atomic-ledger layout (ledger beside the table) — still honored
    # so existing tables don't replay history after an upgrade
    return os.path.exists(
        os.path.join(path.rstrip("/") + "_meta", _LEDGER_DIR, batch_id)
    )


def _stage_ledger(path: str, tmp: str, batch_id: str | None) -> None:
    """Copy the live ledger into the staged snapshot and add ``batch_id``
    — BEFORE the swap, so the rename moves state+ledger together."""
    import shutil

    staged = _ledger_dir(tmp)
    os.makedirs(staged, exist_ok=True)
    live = _ledger_dir(path)
    if os.path.isdir(live):
        for name in os.listdir(live):
            shutil.copy2(os.path.join(live, name), os.path.join(staged, name))
    if batch_id is not None:
        with open(os.path.join(staged, batch_id), "w") as fh:
            fh.write("applied")


def incremental_rollup(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    sum_cols: list[str],
    batch_id: str | None = None,
    typ: str = MONEY,
) -> None:
    """Apply one batch to the persisted rollup at ``path``.

    Cost is |batch| + |rollup| (the rollup is group-cardinality-sized —
    tiny relative to the fact table), not |history|.  With ``batch_id``
    set, an already-applied id is skipped; the marker is staged into the
    snapshot before the swap (see module docstring), so replays are
    no-ops in EVERY crash window, not just post-marker ones."""
    if batch_id is not None and _applied(path, batch_id):
        return

    delta = rollup_batch(batch, keys, sum_cols, typ)
    tmp = path.rstrip("/") + "__tmp_rollup"
    if _has_data_files(path):
        state = merge_rollups(scan_parquet(spark.read, path), delta, keys)
        write_table(state, tmp, mode="overwrite")
        _stage_ledger(path, tmp, batch_id)
        _swap_in(path, tmp)
    else:
        # First batch: stage + single rename, so even the initial write
        # can't land data without its marker.
        import shutil

        write_table(delta, tmp, mode="overwrite")
        _stage_ledger(path, tmp, batch_id)
        if os.path.exists(path):  # dir exists but holds no data files
            shutil.rmtree(path)
        os.rename(tmp, path)


def read_rollup(
    spark: SparkSession, path: str, sum_cols: list[str]
) -> DataFrame:
    """The finalized (sums-as-double + averages) view of the rollup."""
    return finalize_rollup(scan_parquet(spark.read, path), sum_cols)


def incremental_join_view(
    left_old: DataFrame,
    right_old: DataFrame,
    left_delta: DataFrame,
    right_delta: DataFrame,
    on: list[str],
    view_dir: str,
    batch_id: str,
) -> None:
    """Incremental maintenance of an INNER-JOIN view for append-only
    sources — the delta-join identity:

        (A ∪ ΔA) ⋈ (B ∪ ΔB)
          = A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB

    so the refresh joins each (small) delta against the other side's
    PRE-batch snapshot plus the delta-delta term — never full ⋈ full
    after initialization.  At 100 TB the deltas broadcast (or shuffle
    one side only), which is the whole point: the reference recomputes
    joins from scratch every run.

    Idempotency/atomicity: each batch's contribution lands as the
    partition directory ``view_dir/batch=<id>`` via mode=overwrite — a
    retried batch overwrites its own directory instead of appending a
    duplicate, and a crashed partial write is superseded the same way.
    The batch directory IS the ledger.  Append-only sources only:
    deletions need counting-multiset IVM (each view row carries a
    multiplicity that deltas increment/decrement) — out of scope here
    and asserted nowhere, so do not feed retractions in.

    Initialization: call once with empty "old" sides and the full
    initial tables as the deltas (the identity degenerates to ΔA⋈ΔB).
    """
    dv = (
        left_delta.join(right_old, on)
        .unionByName(left_old.join(right_delta, on))
        .unionByName(left_delta.join(right_delta, on))
    )
    dv.write.mode("overwrite").parquet(
        os.path.join(view_dir, f"batch={batch_id}")
    )


def read_join_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained join view: union of all batch contributions (the
    ``batch`` partition column is maintenance metadata, dropped)."""
    return spark.read.option("basePath", view_dir).parquet(view_dir).drop(
        "batch"
    )
