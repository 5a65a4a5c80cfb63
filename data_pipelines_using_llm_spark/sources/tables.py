"""Parquet catalog-table scans (SURVEY.md §2.1 S5/S6).

The reference reads managed Delta tables by name
(``spark.table(...)`` at ``First experiment/Claude Opus 4.py:349-355``);
here the "catalog" is a scale-factor directory of parquet files.  Reads go
through ``spark.read.parquet`` so Catalyst gets vectorized scans with
predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os
import re
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
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


@lru_cache(maxsize=None)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects (PARQUET_TYPE_ILLEGAL).  Footer-only read, cached."""
    try:
        schema = pq.read_schema(path)
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if str(f.type) == "timestamp[ns]"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table of the scale-factor directory (S5).

    Nanosecond parquet timestamps are read as long (legacy nanosAsLong
    conf) and truncated to microseconds — the same truncation DuckDB
    applies when casting TIMESTAMP_NS to its microsecond TIMESTAMP, so
    oracle comparisons agree.
    """
    path = f"{sf_dir}/{name}.parquet"
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Spark 4 infers parquet micros timestamps without timezone metadata as
    # TIMESTAMP_NTZ, which strict functions (unix_micros, unix_millis)
    # reject.  Normalize every NTZ column to TIMESTAMP_LTZ here so no
    # downstream query can trip on the inference; the session timezone is
    # pinned UTC (session.py), so the cast is value-preserving.
    ntz_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _size_suffix_bytes(v: str) -> int:
    """Parse a Spark size conf value ("134217728", "128m", "128MB") to
    bytes with the grammar of ``JavaUtils.byteStringAsBytes``: an integer
    and an optional case-insensitive suffix from ``_BYTE_SUFFIXES``.
    Anything else raises ``ValueError``."""
    m = re.fullmatch(r"([0-9]+)([a-z]*)", v.strip().lower())
    if m is None or m.group(2) not in _BYTE_SUFFIXES:
        raise ValueError(f"invalid byte size {v!r}")
    return int(m.group(1)) * _BYTE_SUFFIXES[m.group(2)]


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-dense work over a
    SMALL scan: a sub-128MB parquet file arrives as ONE task, so a row
    blowup (explode) or a per-row expression kernel downstream runs
    single-threaded.  Round-robin repartition up to defaultParallelism
    ONLY in that regime; at scale the scan already exceeds the core
    count and this is a no-op (no exchange added).  Use only where
    results are partitioning-independent (order-free exact sums, pure
    per-row maps).

    The small-scan regime is decided from the LEAF FILE BYTES of the
    plan (``df.inputFiles()`` — plan inspection, no job), never from
    ``df.rdd.getNumPartitions()``: under AQE, touching ``.rdd``
    finalizes the adaptive plan by eagerly executing every upstream
    shuffle/broadcast stage at plan-construction time, and those stage
    results are not reused by the later action — for a joined input the
    upstream work would silently run twice (r14 ADVICE).  The estimate
    mirrors Spark's own split packing: a stage over ``total_bytes`` of
    input files opens at most ``ceil(total / maxPartitionBytes)`` scan
    tasks, so fewer estimated tasks than cores means idle capacity.
    Unknown inputs (no file leaves — e.g. a localCheckpoint, or
    non-local storage where sizes cannot be statted) are left untouched:
    at scale that is the correct no-op, and every current caller feeds
    file-backed plans."""
    session = df.sparkSession
    want = session.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    total = 0
    for uri in files:
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return df  # non-local / unstattable: assume scale, no-op
    max_pb = _size_suffix_bytes(
        session.conf.get("spark.sql.files.maxPartitionBytes")
    )
    est_tasks = max(1, -(-total // max_pb))
    if est_tasks < want:
        return df.repartition(want)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register each table as a temp view for the SQL entry point (K6).

    Mirrors the reference's SQL-first pipelines, which address tables by
    catalog name inside ``spark.sql`` strings
    (``First experiment/Claude Sonnet 4.py:179,229-233``).
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
