"""Catalog scans through ``sources/tables.py::scan_parquet``: the read
schema comes from the parquet footers, so a read starts no Spark job,
sets no session conf, and reads INT96 and TIMESTAMP(NANOS) timestamps
the way the oracle does."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipelines_using_llm_spark.sources.tables import TABLE_NAMES, load_table
from data_pipelines_using_llm_spark.streaming.ingest import run_to_table, stream_events
from data_pipelines_using_llm_spark.telemetry import measure
from tests.conftest import SF0001

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_int96_part_file_reads_as_written(spark, tmp_path):
    """Spark writes LTZ timestamps as INT96 by default, and arrow reports
    INT96 in nanoseconds unless told otherwise: the column must be read as
    the microsecond timestamp it is, not down the NANOS path."""
    base = dt.datetime(2024, 1, 1, 10, 0, 0, 123456)
    rows = [(i, base + dt.timedelta(minutes=7 * i)) for i in range(5)]
    src = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = str(tmp_path / "written")
    src.coalesce(1).write.parquet(out)
    part = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(part) == 1
    shutil.copy(os.path.join(out, part[0]), str(tmp_path / "events.parquet"))

    got = load_table(spark, str(tmp_path), "events")
    assert {r["event_id"]: r["ts"] for r in got.collect()} == dict(rows)


def _nanos_events(n: int) -> pa.Table:
    base = 1_704_103_200_000_000_000  # 2024-01-01 10:00 UTC, in ns
    ns = [base + i * 60_000_000_000 + 123_456_789 for i in range(n)]
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
    })


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_nanos_events_read_batch_and_stream_without_conf(spark, tmp_path, layout):
    """TIMESTAMP(NANOS) ``ts`` is truncated to microseconds by both the
    batch and the stream read, for a single file and for a directory of
    part files, and neither read changes the session's nanosAsLong conf."""
    table = _nanos_events(6)
    path = tmp_path / "events.parquet"
    if layout == "file":
        pq.write_table(table, str(path))
    else:
        path.mkdir()
        pq.write_table(table.slice(0, 3), str(path / "part-0.parquet"))
        pq.write_table(table.slice(3), str(path / "part-1.parquet"))
    # collect() renders an LTZ timestamp in the local timezone, like this
    micros = [ns // 1000 for ns in table["ts"].cast(pa.int64()).to_pylist()]
    want = {
        i: dt.datetime.fromtimestamp(us // 10**6).replace(microsecond=us % 10**6)
        for i, us in zip(table["event_id"].to_pylist(), micros)
    }

    spark.conf.unset(NANOS_CONF)  # whatever an earlier read left behind
    before = spark.conf.get(NANOS_CONF)
    batch = load_table(spark, str(tmp_path), "events")
    stream = run_to_table(
        stream_events(spark, str(tmp_path)), spark, f"t_nanos_{layout}", "append"
    )
    for df in (batch, stream):
        assert {r["event_id"]: r["ts"] for r in df.collect()} == want
    assert spark.conf.get(NANOS_CONF) == before


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_starts_no_job(spark, name):
    _, counts = measure(spark, lambda: load_table(spark, SF0001, name))
    assert counts["jobs"] == 0
