"""Parquet catalog-table scans (SURVEY.md §2.1 S5/S6).

The reference reads managed Delta tables by name
(``spark.table(...)`` at ``First experiment/Claude Opus 4.py:349-355``);
here the "catalog" is a scale-factor directory of parquet files.  A
catalog table carries its schema, so its read starts no Spark job; a
parquet file carries its schema too, in the footer.  :func:`scan_parquet`
is the one way a catalog or event-stream input is read: it hands the
footer schema to ``spark.read`` or ``spark.readStream``, so building a
scan starts no job, and Catalyst still gets vectorized scans with
predicate pushdown and column pruning.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import LongType, StructField, StructType

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


def footer_schema(path: str) -> tuple[StructType, tuple[str, ...]]:
    """The Spark schema of the parquet input at ``path`` (one file, or a
    flat directory of part files), read from every file's footer, and the
    names of its TIMESTAMP(NANOS) columns.

    A file Spark wrote carries Spark's own schema in its footer, and that
    schema is used as written (so TIMESTAMP_NTZ stays NTZ).  In any other
    file (the catalog files pyarrow and DuckDB write) timestamps come out
    as TIMESTAMP (LTZ): watermarks and the strict ``unix_*`` functions
    reject TIMESTAMP_NTZ, and with the session timezone pinned to UTC
    (session.py) the LTZ values equal the file's naive micros.  INT96 columns (Spark's default ``outputTimestampType``)
    are reported in microseconds, as Spark reads them.  A NANOS column,
    which Spark's reader rejects as a timestamp, is declared ``LongType``
    and read as its raw nanoseconds.  One scan reads every file under one
    schema, so files that disagree (say, ``ts`` in NANOS in one and
    MICROS in another, which would silently scale one set by 1000x) raise
    ``ValueError``."""
    if os.path.isdir(path):
        # Spark skips the same hidden names (_SUCCESS, .crc files).
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
        ]
    else:
        files = [path]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    schemas = {f: _file_schema(f) for f in files}
    schema, nanos = schemas[files[0]]
    for f, (other, _) in schemas.items():
        if other.simpleString() != schema.simpleString():
            raise ValueError(
                f"parquet files under {path} disagree on schema (one scan "
                f"reads them all under one): {schema.simpleString()} in "
                f"{files[0]} vs {other.simpleString()} in {f}"
            )
    return schema, nanos


# The key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _file_schema(path: str) -> tuple[StructType, tuple[str, ...]]:
    arrow = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").schema_arrow
    spark_schema = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is not None:
        # A file Spark wrote: its own schema is the one spark.read.parquet
        # takes (TIMESTAMP_NTZ survives only there).  Spark writes no NANOS.
        return StructType.fromJson(json.loads(spark_schema)), ()
    nanos = tuple(
        a.name for a in arrow if pa.types.is_timestamp(a.type) and a.type.unit == "ns"
    )
    schema = StructType(
        [
            StructField(f.name, LongType(), f.nullable) if f.name in nanos else f
            for f in from_arrow_schema(arrow)
        ]
    )
    return schema, nanos


def scan_parquet(reader: DataFrameReader | DataStreamReader, path: str) -> DataFrame:
    """Scan the parquet input at ``path`` through ``reader`` (``spark.read``
    or a configured ``spark.readStream``) under its :func:`footer_schema`.
    A file source streams a directory, so a stream over one file reads
    that file's directory filtered to its name.  NANOS columns are
    truncated to microsecond timestamps — the same truncation DuckDB
    applies when casting TIMESTAMP_NS to its microsecond TIMESTAMP, so
    oracle comparisons agree."""
    schema, nanos = footer_schema(path)
    if isinstance(reader, DataStreamReader) and not os.path.isdir(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table of the scale-factor directory (S5): the file or flat
    part-file directory ``<sf_dir>/<name>.parquet``."""
    return scan_parquet(spark.read, f"{sf_dir}/{name}.parquet")


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
