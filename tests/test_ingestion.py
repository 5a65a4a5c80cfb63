"""Ingestion-module tests over the F3 hazard payloads (FIXTURES.md):
short metric array (pad), long metric array (truncate), missing metric key
(null backfill), empty payload."""

from __future__ import annotations

import json

import pytest

from data_pipelines_using_llm_spark.sources.columnar_json import (
    discover_metrics,
    flatten_hourly,
    with_ingestion_metadata,
)
from data_pipelines_using_llm_spark.sources.http_api import fetch_url_table


def make_payload(n=4, pm10=None, pm2_5=None, drop=()):
    hourly = {
        "time": [f"2025-01-01T{h:02d}:00" for h in range(n)],
        "pm10": pm10 if pm10 is not None else [float(i) for i in range(n)],
        "pm2_5": pm2_5 if pm2_5 is not None else [10.0 + i for i in range(n)],
    }
    for k in drop:
        hourly.pop(k, None)
    return json.dumps(
        {"latitude": 40.35, "longitude": 18.17, "timezone": "UTC", "hourly": hourly}
    )


def payloads_df(spark, payloads):
    return spark.createDataFrame(
        [(f"b{i}", p) for i, p in enumerate(payloads)], "batch_id string, payload string"
    )


def test_flatten_clean_payload(spark):
    df = payloads_df(spark, [make_payload(n=4)])
    out = flatten_hourly(df, ["pm10", "pm2_5"], keep_cols=["batch_id"])
    rows = out.orderBy("event_time").collect()
    assert len(rows) == 4
    assert rows[0].event_time.hour == 0 and rows[3].event_time.hour == 3
    assert rows[2].pm10 == 2.0 and rows[2].pm2_5 == 12.0
    assert rows[0].latitude == 40.35 and rows[0].timezone == "UTC"


def test_short_metric_array_pads_null(spark):
    # pm2_5 has 2 of 4 values -> pad_null keeps 4 rows, trailing NULLs
    df = payloads_df(spark, [make_payload(n=4, pm2_5=[1.0, 2.0])])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="pad_null")
    rows = out.orderBy("event_time").collect()
    assert len(rows) == 4
    assert [r.pm2_5 for r in rows] == [1.0, 2.0, None, None]


def test_truncate_min_policy(spark):
    df = payloads_df(spark, [make_payload(n=4, pm2_5=[1.0, 2.0])])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="truncate_min")
    rows = out.orderBy("event_time").collect()
    assert len(rows) == 2
    assert [r.pm2_5 for r in rows] == [1.0, 2.0]


def test_long_metric_array_truncated_to_time(spark):
    # metric longer than time: pad_null aligns to len(time)
    df = payloads_df(spark, [make_payload(n=3, pm10=[1.0, 2.0, 3.0, 4.0, 5.0])])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="pad_null")
    assert out.count() == 3


def test_missing_metric_key_backfills_null(spark):
    df = payloads_df(spark, [make_payload(n=3, drop=("pm2_5",))])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="pad_null")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.pm2_5 is None for r in rows)
    assert all(r.pm10 is not None for r in rows)


def test_missing_metric_key_with_truncate_min_ignores_missing(spark):
    df = payloads_df(spark, [make_payload(n=3, drop=("pm2_5",))])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="truncate_min")
    assert out.count() == 3


def test_fail_policy_raises_on_mismatch(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = payloads_df(spark, [make_payload(n=4, pm2_5=[1.0])])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="fail")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        out.collect()


def test_fail_policy_passes_on_clean(spark):
    df = payloads_df(spark, [make_payload(n=4)])
    out = flatten_hourly(df, ["pm10", "pm2_5"], length_policy="fail")
    assert out.count() == 4


def test_empty_payload(spark):
    empty = json.dumps(
        {"latitude": 1.0, "longitude": 2.0, "timezone": "UTC",
         "hourly": {"time": [], "pm10": [], "pm2_5": []}}
    )
    df = payloads_df(spark, [empty])
    out = flatten_hourly(df, ["pm10", "pm2_5"])
    assert out.count() == 0


def test_multi_batch_distributed_flatten(spark):
    df = payloads_df(spark, [make_payload(n=4), make_payload(n=2)])
    out = flatten_hourly(df, ["pm10", "pm2_5"], keep_cols=["batch_id"])
    assert out.count() == 6
    assert out.filter("batch_id = 'b1'").count() == 2


def test_payload_driven_discovery(spark):
    df = payloads_df(spark, [make_payload(n=3)])
    assert discover_metrics(df) == ["pm10", "pm2_5"]
    out = flatten_hourly(df, metrics=None)
    assert {"pm10", "pm2_5", "event_time"} <= set(out.columns)
    assert out.count() == 3


def test_ingestion_metadata(spark):
    df = payloads_df(spark, [make_payload(n=2)])
    out = with_ingestion_metadata(
        flatten_hourly(df, ["pm10", "pm2_5"]), source="open-meteo"
    )
    row = out.first()
    assert row.ingestion_date is not None
    assert row.ingestion_ts is not None
    assert row.data_source == "open-meteo"


def test_fetch_url_table_with_fake_transport(spark):
    urls = spark.createDataFrame(
        [("u1", "http://x/a"), ("u2", "http://x/b"), ("u3", "http://x/bad")],
        "id string, url string",
    )

    # The fetcher ships to executors — capture the payload by value, not a
    # test-module global (workers can't import tests/).
    body = make_payload(n=2)

    def fake(url: str, _body=body) -> str:
        if url.endswith("bad"):
            raise OSError("HTTP 500")
        return _body

    out = fetch_url_table(urls, fetcher=fake).cache()
    assert out.count() == 3
    assert out.filter("payload IS NULL").count() == 1
    flat = flatten_hourly(out.filter("payload IS NOT NULL"), ["pm10", "pm2_5"],
                          keep_cols=["id"])
    assert flat.count() == 4


def test_fetch_url_table_raise_mode(spark):
    urls = spark.createDataFrame([("u1", "http://x/bad")], "id string, url string")

    def fake(url: str) -> str:
        raise OSError("HTTP 500")

    with pytest.raises(Exception):
        fetch_url_table(urls, fetcher=fake, on_error="raise").collect()


class TestFileFormatAdapters:
    def test_csv_round_trip_with_declared_schema(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources import files as FS
        from data_pipelines_using_llm_spark.sources.tables import load_table

        orders = load_table(spark, "/root/testdata/sf0.001", "orders")
        path = str(tmp_path / "orders_csv")
        FS.write_csv(orders, path)
        back = FS.read_csv(spark, path, schema=orders.schema)
        assert back.count() == orders.count()
        assert back.schema == orders.schema
        a = {r["o_orderkey"]: r["o_totalprice"] for r in orders.collect()}
        b = {r["o_orderkey"]: r["o_totalprice"] for r in back.collect()}
        assert a == b

    def test_jsonl_round_trip(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources import files as FS
        from data_pipelines_using_llm_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        path = str(tmp_path / "docs_jsonl")
        FS.write_jsonl(docs, path)
        back = FS.read_jsonl(
            spark, path, schema=docs.schema, keep_corrupt=False
        )
        assert back.count() == docs.count()
        a = {r["doc_id"]: r["text"] for r in docs.collect()}
        b = {r["doc_id"]: r["text"] for r in back.collect()}
        assert a == b

    def test_jsonl_corrupt_rows_quarantined(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources import files as FS

        p = tmp_path / "mixed.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "ok"}\n'
            "THIS IS NOT JSON\n"
            '{"doc_id": 2, "text": "also ok"}\n'
        )
        df = FS.read_jsonl(
            spark, str(p), schema="doc_id long, text string"
        ).cache()
        from pyspark.sql import functions as F

        assert df.count() == 3
        assert df.filter(F.col(FS.CORRUPT_COL).isNotNull()).count() == 1
        assert df.filter(F.col("doc_id").isNotNull()).count() == 2

    def test_orc_round_trip_with_pushdown(self, spark, tmp_path):
        import contextlib
        import io

        from pyspark.sql import functions as F

        from data_pipelines_using_llm_spark.sources import files as FS
        from data_pipelines_using_llm_spark.sources.tables import load_table

        orders = load_table(spark, "/root/testdata/sf0.001", "orders")
        path = str(tmp_path / "orders_orc")
        FS.write_orc(orders, path)
        back = FS.read_orc(spark, path)
        assert back.count() == orders.count()
        assert back.schema == orders.schema
        # predicate pushdown + column pruning survive the format switch
        q = back.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        plan = buf.getvalue()
        assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan
        read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "o_orderdate" not in read_schema

    def test_text_line_and_wholefile(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources import files as FS

        p = tmp_path / "docs"
        p.mkdir()
        (p / "a.txt").write_text("line one\nline two\n")
        (p / "b.txt").write_text("single doc body\n")
        lines = FS.read_text(spark, str(p))
        assert lines.count() == 3
        whole = FS.read_text(spark, str(p), whole_file=True)
        assert whole.count() == 2
        bodies = {r["value"] for r in whole.collect()}
        assert "line one\nline two\n" in bodies


class TestHttpDataSource:
    """Python DataSource API surface: spark.read.format('http_api')."""

    def test_reads_file_urls_one_partition_each(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources.http_datasource import (
            register_http_source,
        )

        a = tmp_path / "a.json"
        b = tmp_path / "b.json"
        a.write_text('{"k": 1}')
        b.write_text('{"k": 2}')
        register_http_source(spark)
        df = (
            spark.read.format("http_api")
            .option("urls", f"file://{a} file://{b}")
            .load()
        )
        rows = {r["url"]: r["payload"] for r in df.collect()}
        assert rows == {f"file://{a}": '{"k": 1}', f"file://{b}": '{"k": 2}'}
        assert df.filter("error IS NOT NULL").count() == 0

    def test_error_quarantined_as_null_payload(self, spark, tmp_path):
        from data_pipelines_using_llm_spark.sources.http_datasource import (
            register_http_source,
        )

        ok = tmp_path / "ok.json"
        ok.write_text("fine")
        register_http_source(spark)
        df = (
            spark.read.format("http_api")
            .option("urls", f"file://{ok},file://{tmp_path}/missing.json")
            .load()
        )
        got = {r["url"]: (r["payload"], r["error"] is not None) for r in df.collect()}
        assert got[f"file://{ok}"] == ("fine", False)
        assert got[f"file://{tmp_path}/missing.json"][0] is None
        assert got[f"file://{tmp_path}/missing.json"][1] is True

    def test_live_http_end_to_end_local_fixture_server(self, spark):
        """End-to-end over a REAL http:// transport (in-process stdlib
        server on 127.0.0.1, no external network): success payloads,
        HTTP-500 quarantine into the error column, and per-request
        timeout enforcement — the full S1 surface the file:// tests
        can't exercise."""
        import http.server
        import json
        import threading
        import time

        from data_pipelines_using_llm_spark.sources.http_datasource import (
            register_http_source,
        )

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                if self.path == "/data.json":
                    body = json.dumps({"station": "S1", "pm25": 12.5}).encode()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                elif self.path == "/boom":
                    self.send_error(500, "server exploded")
                elif self.path == "/slow":
                    time.sleep(3)
                    self.send_response(200)
                    self.end_headers()

            def log_message(self, *args):  # keep pytest output clean
                pass

        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        port = server.server_address[1]
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        try:
            base = f"http://127.0.0.1:{port}"
            register_http_source(spark)
            df = (
                spark.read.format("http_api")
                .option("urls", f"{base}/data.json {base}/boom {base}/slow")
                .option("timeout", "1")
                .load()
            )
            got = {r["url"]: (r["payload"], r["error"]) for r in df.collect()}
            payload, err = got[f"{base}/data.json"]
            assert json.loads(payload) == {"station": "S1", "pm25": 12.5}
            assert err is None
            payload, err = got[f"{base}/boom"]
            assert payload is None and "500" in err
            payload, err = got[f"{base}/slow"]
            # the per-request timeout must be the ACTUAL failure (a broken
            # timeout option would surface some other error or hang)
            assert payload is None and err is not None
            assert "timeout" in err.lower() or "timed out" in err.lower(), err
        finally:
            server.shutdown()
            server.server_close()


def test_read_binary_dir_media_landing(spark, tmp_path):
    """binaryFile landing scan: one row per file with content bytes;
    glob prunes at listing time, max_bytes prunes from file metadata."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators.multimodal import (
        decode_stats,
        media_table,
    )
    from data_pipelines_using_llm_spark.sources.files import read_binary_dir

    (tmp_path / "a.img").write_bytes(b"fake-image-bytes-aaaa")
    (tmp_path / "b.img").write_bytes(b"bb")
    (tmp_path / "c.wav").write_bytes(b"not-an-image")
    df = read_binary_dir(spark, str(tmp_path), glob="*.img")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert bytes(rows["a.img"]["content"]) == b"fake-image-bytes-aaaa"
    assert rows["b.img"]["length"] == 2
    small = read_binary_dir(spark, str(tmp_path), glob="*.img", max_bytes=5)
    assert [r["length"] for r in small.collect()] == [2]
    # payloads flow into the multimodal pipeline unchanged
    media = media_table(
        df.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.decode("content", "UTF-8").alias("text"),
            F.col("length").alias("n_chars"),
        )
    )
    stats = {r["media_id"]: r["n_bytes"] for r in decode_stats(media).collect()}
    assert sorted(stats.values()) == [2, 21]


@pytest.mark.parametrize(
    "value,expected",
    [
        ("134217728b", 134217728),
        ("128m", 128 << 20),
        ("128mb", 128 << 20),
        ("64kb", 64 << 10),
        ("1gb", 1 << 30),
        ("12 parsecs", None),
    ],
)
def test_size_suffix_bytes_accepts_spark_byte_strings(value, expected):
    """Spark's byte-string grammar (``JavaUtils.byteStringAsBytes``),
    two-letter suffixes included; anything else raises instead of being
    replaced by a silent default."""
    from data_pipelines_using_llm_spark.sources.tables import _size_suffix_bytes

    if expected is None:
        with pytest.raises(ValueError):
            _size_suffix_bytes(value)
    else:
        assert _size_suffix_bytes(value) == expected
