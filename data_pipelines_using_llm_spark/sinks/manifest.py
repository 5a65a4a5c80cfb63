"""File-level min/max manifests: data skipping above the format layer.

The lakehouse table formats' core read optimization (Iceberg manifests,
Delta file stats) reduced to its data shape: one row per data file with
per-column min/max, consulted BEFORE the scan so non-overlapping files
are never opened.  Parquet row-group stats already skip WITHIN a file;
the manifest skips WHOLE files — which is where the 100 TB win lives
(listing + footer reads of a million files dwarf row-group pruning), and
what makes the z-order layout (`sinks/writers.py::compact_table`) pay
off: clustered files have narrow min/max envelopes, so a point or range
predicate prunes almost everything.

The manifest is itself a tiny parquet table (|files| rows) written next
to the data (``<table>__manifest``); rebuilding it is one grouped
aggregate over ``input_file_name()``.  Pruning reads the manifest
(file-count-bounded control plane), keeps files whose [min, max]
envelope intersects the predicate range, and hands Spark the surviving
file list — every downstream pushdown/pruning optimization still applies
on top.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.sources.tables import scan_parquet

MANIFEST_SUFFIX = "__manifest"


def _manifest_path(table_dir: str) -> str:
    return table_dir.rstrip("/") + MANIFEST_SUFFIX


def write_manifest(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> DataFrame:
    """Build + persist the per-file min/max manifest for ``cols``.

    One aggregate keyed by ``input_file_name()`` — at production scale
    this is maintained incrementally per written file (writers know
    their own stats); the rebuild form here is the recovery path.
    Returns the manifest DataFrame (also written to parquet).
    """
    if not cols:
        raise ValueError("write_manifest requires at least one column")
    d = spark.read.parquet(table_dir)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    man = (
        d.select(F.input_file_name().alias("file"), *cols)
        .groupBy("file")
        .agg(*aggs)
    )
    man.write.mode("overwrite").parquet(_manifest_path(table_dir))
    return man


def pruned_scan(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only the files whose ``[min_col, max_col]`` envelope
    intersects ``[lo, hi]``, then apply the exact predicate — semantics
    identical to a full scan + filter, cost proportional to the files
    that can actually contain matches.

    The manifest read + file-list collect is control-plane (|files|
    rows); an empty survivor set returns an empty DataFrame with the
    table's schema.  Files written after the manifest are NOT seen —
    like any secondary index, the manifest must be maintained with the
    table (``write_audit_publish`` / ``compact_table`` callers rebuild
    it after a swap).
    """
    mpath = _manifest_path(table_dir)
    if not os.path.exists(mpath):
        raise ValueError(
            f"no manifest at {mpath}; run write_manifest(..., ['{col}'])"
        )
    man = scan_parquet(spark.read, mpath)
    needed = {f"min_{col}", f"max_{col}"}
    if not needed <= set(man.columns):
        raise ValueError(
            f"manifest lacks stats for {col!r}; rebuild with it included"
        )
    files = [
        r["file"]
        for r in man.filter(
            (F.col(f"max_{col}") >= F.lit(lo))
            & (F.col(f"min_{col}") <= F.lit(hi))
        ).collect()
    ]
    schema = spark.read.parquet(table_dir).schema
    if not files:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*files)
        .filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    )
