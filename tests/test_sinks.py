"""Sink-module tests: partitioned writes, schema alignment, idempotent
upsert (re-run stability — the H3 hazard at the sink level), compaction."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_using_llm_spark.sinks import (
    align_to_schema,
    append_with_evolution,
    compact_table,
    delta_available,
    ensure_table,
    idempotent_upsert,
    insert_into_existing,
    merge_schemas,
    read_evolved,
    write_table,
)

ANN_MAINTAIN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "ann_maintain.py"
)


@pytest.fixture()
def feed(spark):
    return spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1, h), float(h), dt.date(2025, 1, 1))
            for h in range(6)
        ],
        "event_time timestamp, pm10 double, ingestion_date date",
    )


def test_partitioned_append_write(spark, feed, tmp_path):
    path = str(tmp_path / "bronze")
    write_table(feed, path, partition_by=["ingestion_date"])
    write_table(
        feed.withColumn("ingestion_date", F.lit(dt.date(2025, 1, 2))),
        path,
        partition_by=["ingestion_date"],
    )
    assert os.path.isdir(path + "/ingestion_date=2025-01-01")
    assert os.path.isdir(path + "/ingestion_date=2025-01-02")
    back = spark.read.parquet(path)
    assert back.count() == 12
    # partition pruning surface: filter on the partition key reads one dir
    assert back.filter("ingestion_date = DATE'2025-01-02'").count() == 6


def test_overwrite_mode(spark, feed, tmp_path):
    path = str(tmp_path / "t")
    write_table(feed, path, mode="overwrite")
    write_table(feed.limit(2), path, mode="overwrite")
    assert spark.read.parquet(path).count() == 2


def test_ensure_table_ddl(spark, feed, tmp_path):
    path = str(tmp_path / "ddl_table")
    write_table(feed, path)
    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("pm10", T.DoubleType()),
            T.StructField("ingestion_date", T.DateType()),
        ]
    )
    ensure_table(spark, "t_ddl_test", schema, path)
    assert spark.catalog.tableExists("t_ddl_test")
    ensure_table(spark, "t_ddl_test", schema, path)  # idempotent no-op
    assert spark.table("t_ddl_test").count() == 6
    spark.sql("DROP TABLE t_ddl_test")


def test_align_to_schema(spark):
    df = spark.createDataFrame(
        [(1, 2.5, "x")], "id int, avg_pm double, extra string"
    )
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("pm_avg", T.DoubleType()),
            T.StructField("added_later", T.StringType()),
        ]
    )
    out = align_to_schema(df, target, rename_map={"avg_pm": "pm_avg"})
    assert out.columns == ["id", "pm_avg", "added_later"]
    row = out.first()
    assert row.pm_avg == 2.5 and row.added_later is None
    assert out.schema["id"].dataType == T.LongType()  # cast applied

    with pytest.raises(ValueError):
        align_to_schema(df, target, rename_map={"avg_pm": "pm_avg"},
                        strict_extra=True)


def test_idempotent_upsert_rerun_stable(spark, feed, tmp_path):
    path = str(tmp_path / "silver")
    idempotent_upsert(spark, feed, path, key=["event_time"])
    assert spark.read.parquet(path).count() == 6

    # re-run the SAME batch: count must not change (no double-append)
    idempotent_upsert(spark, feed, path, key=["event_time"])
    assert spark.read.parquet(path).count() == 6

    # overlapping new batch: hours 3..8, updated values win for overlap
    batch2 = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1, h), float(100 + h), dt.date(2025, 1, 2))
            for h in range(3, 9)
        ],
        "event_time timestamp, pm10 double, ingestion_date date",
    )
    idempotent_upsert(spark, batch2, path, key=["event_time"])
    back = spark.read.parquet(path)
    assert back.count() == 9
    assert back.filter("event_time = TIMESTAMP'2025-01-01 04:00:00'").first().pm10 == 104.0


def test_partition_scoped_upsert_leaves_other_partitions_untouched(
    spark, feed, tmp_path
):
    """Partition-scoped rewrite: an upsert whose batch touches one
    ingestion_date must leave every other partition's FILES byte-identical
    (not just row-equal) — proof the rewrite never read-modified-rewrote
    them."""

    def snapshot(partition_dir):
        out = {}
        for root, _, files in os.walk(partition_dir):
            for f in files:
                if f.startswith("part-"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = fh.read()
        return out

    path = str(tmp_path / "part_silver")
    day2 = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 2, h), float(10 + h), dt.date(2025, 1, 2))
            for h in range(4)
        ],
        "event_time timestamp, pm10 double, ingestion_date date",
    )
    idempotent_upsert(
        spark, feed.unionByName(day2), path, key=["event_time"],
        partition_by=["ingestion_date"],
    )
    before = snapshot(path + "/ingestion_date=2025-01-01")
    assert before  # partition exists

    # batch touching ONLY 2025-01-02: update hour 1, add hours 4-5
    batch = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 2, h), float(200 + h), dt.date(2025, 1, 2))
            for h in (1, 4, 5)
        ],
        "event_time timestamp, pm10 double, ingestion_date date",
    )
    idempotent_upsert(
        spark, batch, path, key=["event_time"], partition_by=["ingestion_date"]
    )

    after = snapshot(path + "/ingestion_date=2025-01-01")
    assert after == before  # byte-identical: untouched partition not rewritten

    back = spark.read.parquet(path)
    assert back.count() == 6 + 6  # day1: 6, day2: 4 existing + 2 new
    assert (
        back.filter("event_time = TIMESTAMP'2025-01-02 01:00:00'").first().pm10
        == 201.0
    )
    # rerun stability still holds for the partitioned path
    idempotent_upsert(
        spark, batch, path, key=["event_time"], partition_by=["ingestion_date"]
    )
    assert spark.read.parquet(path).count() == 12


def test_partitioned_upsert_leaves_session_conf_alone(
    spark, feed, tmp_path, monkeypatch
):
    """The partition-scoped upsert asks for dynamic overwrite on its own
    write: the other partition survives, and the session's
    ``partitionOverwriteMode`` is never set, so a concurrent write on
    the same session cannot see it flip."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "dyn")
    write_table(feed, path, partition_by=["ingestion_date"])
    day2 = feed.withColumn("ingestion_date", F.lit(dt.date(2025, 1, 2)))
    write_table(day2, path, mode="append", partition_by=["ingestion_date"])
    before = spark.conf.get(key)

    sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda self, k, v: (sets.append(k), real_set(self, k, v))[1],
    )
    batch = feed.filter("hour(event_time) < 2").withColumn("pm10", F.lit(-1.0))
    idempotent_upsert(
        spark, batch, path, key=["event_time"], partition_by=["ingestion_date"]
    )

    assert key not in sets
    assert spark.conf.get(key) == before
    back = spark.read.parquet(path)
    assert back.filter("ingestion_date = DATE'2025-01-02'").count() == 6
    day1 = back.filter("ingestion_date = DATE'2025-01-01'")
    assert day1.count() == 6
    assert day1.filter("pm10 = -1.0").count() == 2


def test_compact_table(spark, feed, tmp_path):
    path = str(tmp_path / "many_files")
    write_table(feed.repartition(6), path)
    n_before = len([f for f in os.listdir(path) if f.startswith("part-")])
    compact_table(spark, path, zorder_by=["event_time"], target_partitions=1)
    n_after = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_after < n_before
    assert spark.read.parquet(path).count() == 6


def test_append_with_evolution(spark, feed, tmp_path):
    """Schema drift on append: a later batch with a NEW column appends
    without rewriting old files; a batch MISSING a column null-pads; a
    same-name different-type column raises."""
    path = str(tmp_path / "evolving")
    write_table(feed, path)
    files_before = sorted(
        f for f in os.listdir(path) if f.startswith("part-")
    )

    evolved = spark.createDataFrame(
        [(dt.datetime(2025, 1, 2, 0), 7.0, dt.date(2025, 1, 2), "sensor-9")],
        "event_time timestamp, pm10 double, ingestion_date date, source string",
    )
    append_with_evolution(spark, evolved, path)
    # old files untouched (parquet evolution never rewrites history)
    assert all(f in os.listdir(path) for f in files_before)

    back = read_evolved(spark, path)
    assert set(back.columns) == {"event_time", "pm10", "ingestion_date", "source"}
    assert back.count() == 7
    assert back.filter("source IS NULL").count() == 6  # pre-evolution rows

    # batch missing pm10: null-padded to the merged schema
    shrunk = spark.createDataFrame(
        [(dt.datetime(2025, 1, 3, 0), dt.date(2025, 1, 3), "sensor-9")],
        "event_time timestamp, ingestion_date date, source string",
    )
    append_with_evolution(spark, shrunk, path)
    assert read_evolved(spark, path).filter("pm10 IS NULL").count() == 1

    # type conflict must raise, not coerce
    conflict = spark.createDataFrame(
        [("oops", dt.date(2025, 1, 4))], "pm10 string, ingestion_date date"
    )
    with pytest.raises(ValueError, match="schema conflict"):
        append_with_evolution(spark, conflict, path)

    # merge_schemas is order-stable: target fields keep their positions
    merged = merge_schemas(feed.schema, evolved.schema)
    assert [f.name for f in merged.fields][:3] == [
        "event_time", "pm10", "ingestion_date",
    ]


def test_insert_into_existing_binds_by_name(spark, feed, tmp_path):
    """K3 with the positional-mis-bind hazard closed: a source whose
    column ORDER drifted from the target must still land values in the
    right columns (the reference's raw insertInto would swap them)."""
    path = str(tmp_path / "k3_table")
    write_table(feed, path, mode="overwrite")
    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("pm10", T.DoubleType()),
            T.StructField("ingestion_date", T.DateType()),
        ]
    )
    ensure_table(spark, "t_k3_test", schema, path)
    try:
        shuffled = spark.createDataFrame(
            [(99.0, dt.date(2025, 2, 1), dt.datetime(2025, 2, 1, 0))],
            "pm10 double, ingestion_date date, event_time timestamp",
        )
        insert_into_existing(spark, shuffled, "t_k3_test")
        spark.catalog.refreshTable("t_k3_test")
        row = spark.table("t_k3_test").filter("pm10 = 99.0").first()
        assert row.event_time == dt.datetime(2025, 2, 1, 0)
        assert row.ingestion_date == dt.date(2025, 2, 1)

        with pytest.raises(ValueError, match="not in target"):
            insert_into_existing(
                spark, shuffled.withColumn("surprise", F.lit(1)), "t_k3_test"
            )
        with pytest.raises(ValueError, match="missing target"):
            insert_into_existing(spark, shuffled.drop("pm10"), "t_k3_test")
        insert_into_existing(
            spark, shuffled.drop("pm10"), "t_k3_test", allow_missing=True
        )
        spark.catalog.refreshTable("t_k3_test")
        assert spark.table("t_k3_test").filter("pm10 IS NULL").count() == 1
        with pytest.raises(ValueError, match="does not exist"):
            insert_into_existing(spark, shuffled, "t_no_such_table")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_k3_test")


@pytest.mark.skipif(not delta_available(), reason="delta-spark not installed")
def test_delta_merge_upsert(spark, feed, tmp_path):
    """Real Delta MERGE path (activates only where delta-spark exists)."""
    path = str(tmp_path / "delta_silver")
    feed.write.format("delta").save(path)
    batch = feed.limit(2).withColumn("pm10", F.lit(500.0))
    idempotent_upsert(spark, batch, path, key=["event_time"])
    back = spark.read.format("delta").load(path)
    assert back.count() == 6
    assert back.filter("pm10 = 500.0").count() == 2


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located bucketed join: both sides bucketed on the key with the
    same bucket count => sort-merge join with NO exchange in the plan."""
    import contextlib
    import io

    from data_pipelines_using_llm_spark.sinks import write_bucketed
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(orders, "t_orders_b", ["o_custkey"], n_buckets=4)
        write_bucketed(
            customer.withColumnRenamed("c_custkey", "o_custkey"),
            "t_customer_b",
            ["o_custkey"],
            n_buckets=4,
        )
        # force a shuffle join so bucketing (not broadcast) is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(spark.table("t_customer_b"), "o_custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_write_bucketed_heals_stale_warehouse_dir(spark):
    """A killed run can leave the managed warehouse directory on disk with
    no catalog entry; overwrite-mode write_bucketed must clear it instead
    of failing with LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    from data_pipelines_using_llm_spark.sinks import write_bucketed

    table = "t_stale_heal"
    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    stale = os.path.join(warehouse, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        write_bucketed(df, table, ["k"], n_buckets=2)
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_heal_does_not_touch_sibling_table(spark):
    """Self-heal for a QUALIFIED table must resolve ``<db>.db/<name>``,
    never ``warehouse/<name>`` — the latter is the live managed directory
    of the unrelated default-database table of the same name (r3 advice:
    silent data loss)."""
    import os

    from data_pipelines_using_llm_spark.sinks import write_bucketed
    from data_pipelines_using_llm_spark.sinks.writers import _managed_location

    spark.sql("CREATE DATABASE IF NOT EXISTS heal_db")
    spark.sql("DROP TABLE IF EXISTS default.t_heal_shared")
    spark.sql("DROP TABLE IF EXISTS heal_db.t_heal_shared")
    victim = spark.createDataFrame([(1, "keep")], "k long, v string")
    victim.write.saveAsTable("default.t_heal_shared")
    victim_dir = _managed_location(spark, "t_heal_shared")
    assert victim_dir is not None and os.path.isdir(victim_dir)
    stale = _managed_location(spark, "heal_db.t_heal_shared")
    assert stale is not None and os.path.realpath(stale) != os.path.realpath(
        victim_dir
    )
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk"), "w") as fh:
        fh.write("x")
    try:
        df = spark.createDataFrame([(2, "b")], "k long, v string")
        write_bucketed(df, "heal_db.t_heal_shared", ["k"], n_buckets=2)
        assert spark.table("heal_db.t_heal_shared").count() == 1
        # The default-db table of the same name survived untouched.
        assert spark.table("default.t_heal_shared").collect()[0].v == "keep"
        assert os.path.isdir(victim_dir)
    finally:
        spark.sql("DROP TABLE IF EXISTS heal_db.t_heal_shared")
        spark.sql("DROP TABLE IF EXISTS default.t_heal_shared")
        spark.sql("DROP DATABASE IF EXISTS heal_db")


def test_partition_pruning_in_plan(spark, feed, tmp_path):
    """The partition-key filter must land in PartitionFilters (directory
    pruning before any IO), not PushedFilters (row-group stats) — at
    100 TB this is scan-a-day vs scan-a-decade."""
    import contextlib
    import io

    path = str(tmp_path / "bronze")
    write_table(feed, path, partition_by=["ingestion_date"])
    write_table(
        feed.withColumn("ingestion_date", F.lit(dt.date(2025, 1, 2))),
        path,
        partition_by=["ingestion_date"],
    )
    q = spark.read.parquet(path).filter("ingestion_date = DATE'2025-01-02'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "ingestion_date" in pf_line and "2025-01-02" in pf_line


def test_compact_table_morton_clusters_both_dimensions(spark, tmp_path):
    """Z-order compaction must give every output file a narrow min/max
    range in BOTH clustering columns — the data-skipping property that
    lets a predicate on EITHER column prune files.  A lexicographic
    (x, y) sort achieves this for x only: y's per-file range stays ~the
    full domain, so the y-range ratio separates the two layouts."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16)) for _ in range(20000)]
    df = spark.createDataFrame(rows, "x int, y int")

    def avg_range_frac(path: str, col: str) -> float:
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("r"))
            .agg(F.avg("r"))
            .first()[0]
        )
        return per_file / float(1 << 16)

    zpath = str(tmp_path / "morton")
    df.repartition(4).write.parquet(zpath)
    compact_table(spark, zpath, zorder_by=["x", "y"], target_partitions=16)
    lexpath = str(tmp_path / "lex")
    # single-key sort = the lexicographic (x, y) layout's effect on this
    # data (x is near-unique, so the y tiebreak never clusters anything)
    df.repartition(4).write.parquet(lexpath)
    compact_table(spark, lexpath, zorder_by=["x"], target_partitions=16)

    # both dimensions narrow under Morton (16 files over a 256x256 grid
    # of buckets -> each file spans ~1/4 of each axis; allow slack)
    assert avg_range_frac(zpath, "x") < 0.5
    assert avg_range_frac(zpath, "y") < 0.5
    # lexicographic clusters x tightly but leaves y at ~full range
    assert avg_range_frac(lexpath, "x") < 0.2
    assert avg_range_frac(lexpath, "y") > 0.8


def test_write_audit_publish_gates_the_swap(spark, tmp_path):
    """WAP contract: a passing audit publishes the snapshot; a failing
    audit raises, cleans the stage, and leaves the live table
    byte-identical to before the call."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import expectations as EX
    from data_pipelines_using_llm_spark.sinks.writers import (
        write_audit_publish,
    )

    path = str(tmp_path / "wap_table")
    good = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, v double"
    )
    rules = [EX.not_null("v"), EX.in_range("v", 0, 100), EX.unique("id")]
    report = write_audit_publish(good, path, rules)
    assert all(r["passed"] for r in report.collect())
    assert spark.read.parquet(path).count() == 2

    bad = spark.createDataFrame(
        [(3, 10.0), (3, None), (4, 500.0)], "id bigint, v double"
    )
    with pytest.raises(ValueError, match="audit failed"):
        write_audit_publish(bad, path, rules)
    assert not os.path.exists(path + "__stage")  # stage cleaned
    live = spark.read.parquet(path)  # previous snapshot intact
    assert sorted(r["id"] for r in live.collect()) == [1, 2]
    # and a second good batch still publishes over it
    good2 = good.withColumn("v", F.col("v") + 1)
    write_audit_publish(good2, path, rules)
    assert sorted(r["v"] for r in spark.read.parquet(path).collect()) == [
        11.0,
        21.0,
    ]


def test_manifest_prunes_files_and_preserves_semantics(spark, tmp_path):
    """File-level min/max manifest: a narrow range over the z-ordered
    value column must open strictly fewer files than the table holds,
    return exactly the full-scan-filter rows, and an out-of-range probe
    returns empty with the table schema."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.sinks.manifest import (
        pruned_scan,
        write_manifest,
    )
    from data_pipelines_using_llm_spark.sinks.writers import compact_table

    path = str(tmp_path / "events_lay")
    src = spark.range(0, 20000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    src.write.mode("overwrite").parquet(path)
    compact_table(spark, path, zorder_by=["value"], target_partitions=16)
    man = write_manifest(spark, path, ["value"])
    n_files = man.count()
    assert n_files >= 8

    got = pruned_scan(spark, path, "value", 100.0, 120.0)
    expect_rows = sorted(
        r["event_id"]
        for r in spark.read.parquet(path)
        .filter((F.col("value") >= 100.0) & (F.col("value") <= 120.0))
        .collect()
    )
    assert sorted(r["event_id"] for r in got.collect()) == expect_rows
    opened = {r["file"] for r in got.select(F.input_file_name().alias("file")).distinct().collect()}
    assert len(opened) < n_files  # skipping actually happened

    empty = pruned_scan(spark, path, "value", 5000.0, 6000.0)
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(path).schema


def test_versioned_write_time_travel_and_retention(spark, tmp_path):
    """Snapshot versioning: reads resolve the pointer, history stays
    queryable, rollback is a read of an old version, retention prunes
    beyond `keep` without touching the live snapshot."""
    import pytest

    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
        list_versions,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "vt")
    for i in range(1, 5):
        df = spark.range(i * 10).selectExpr("id", f"{i} AS batch")
        v = versioned_write(df, path, keep=2)
        assert v == i
    assert current_version(path) == 4
    assert list_versions(path) == [3, 4]  # keep=2 pruned v1, v2
    assert read_version(spark, path).count() == 40  # live
    assert read_version(spark, path, 3).count() == 30  # time travel
    with pytest.raises(ValueError, match="not retained"):
        read_version(spark, path, 1)
    # pointer flip is all-or-nothing: a stale tmp pointer never surfaces
    assert current_version(path) == 4


def test_read_version_starts_no_job_and_keeps_inferred_schema(spark, tmp_path):
    """A snapshot is a flat directory, so ``read_version`` takes its schema
    from the parquet footers: building the read starts no Spark job, and
    the schema (arrays, decimals, timestamps, nullability) is the one
    ``spark.read.parquet`` infers."""
    from data_pipelines_using_llm_spark.sinks.versioned import (
        read_version,
        versioned_write,
    )
    from data_pipelines_using_llm_spark.telemetry import measure

    path = str(tmp_path / "vt")
    df = spark.range(5).selectExpr(
        "id",
        "array(CAST(id AS DOUBLE), 0.5D) AS cv",
        "CAST(id / 3 AS DECIMAL(28,10)) AS amount",
        "CAST(id AS INT) AS m",
        "TIMESTAMP'2025-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "IF(id = 2, NULL, 'x') AS tag",
    )
    v = versioned_write(df, path)
    back, c = measure(spark, lambda: read_version(spark, path))
    assert c["jobs"] == 0
    assert back.schema == spark.read.parquet(f"{path}/v={v}").schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_read_version_keeps_timestamp_ntz(spark, tmp_path):
    """A Spark-written TIMESTAMP_NTZ column round-trips through
    ``versioned_write`` -> ``read_version`` as TIMESTAMP_NTZ: the footer
    carries Spark's own schema, and the read takes it (the schema is the
    one ``spark.read.parquet`` infers), not the LTZ mapping used for
    files other writers made."""
    from pyspark.sql.types import TimestampNTZType

    from data_pipelines_using_llm_spark.sinks.versioned import (
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "ntz")
    df = spark.range(3).selectExpr(
        "id",
        "TIMESTAMP_NTZ'2025-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
    )
    v = versioned_write(df, path)
    back = read_version(spark, path)
    assert back.schema == spark.read.parquet(f"{path}/v={v}").schema
    assert isinstance(back.schema["ts"].dataType, TimestampNTZType)
    assert sorted(back.collect()) == sorted(df.collect())


def test_diff_versions_change_feed(spark, tmp_path):
    """Change feed between snapshots: added/removed/changed keys between
    two retained versions come from one diff of immutable directories."""
    from data_pipelines_using_llm_spark.sinks.versioned import (
        diff_versions,
        versioned_write,
    )

    path = str(tmp_path / "cdf")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, val string"
    )
    v2 = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d")], "id bigint, val string"
    )
    versioned_write(v1, path)
    versioned_write(v2, path)
    changes = {
        r["id"]: r["change"]
        for r in diff_versions(spark, path, ["id"], 1).collect()
    }
    assert changes == {1: "removed", 3: "changed", 4: "added"}


def test_versioned_merge_upsert_and_time_travel(spark, tmp_path):
    """MERGE analogue on the snapshot layer: matched rows update,
    unmatched insert, the pre-merge version stays readable, and a
    duplicate-key source raises like Delta's multiple-match error."""
    import pytest

    from data_pipelines_using_llm_spark.sinks.versioned import (
        read_version,
        versioned_merge,
        versioned_write,
    )

    path = str(tmp_path / "vm")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, val string"
    )
    versioned_write(base, path)
    upd = spark.createDataFrame(
        [(2, "B"), (4, "d")], "id bigint, val string"
    )
    v = versioned_merge(spark, path, upd, ["id"])
    assert v == 2
    now = {r["id"]: r["val"] for r in read_version(spark, path).collect()}
    assert now == {1: "a", 2: "B", 3: "c", 4: "d"}
    # time travel: the pre-merge snapshot is untouched
    old = {r["id"]: r["val"] for r in read_version(spark, path, 1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    # delete-mode merge drops matched keys and inserts nothing
    versioned_merge(
        spark, path,
        spark.createDataFrame([(1, "x")], "id bigint, val string"),
        ["id"], when_matched="delete",
    )
    assert {r["id"] for r in read_version(spark, path).collect()} == {2, 3, 4}
    # Delta's contract: multiple source rows per key is an error
    dup = spark.createDataFrame(
        [(2, "y"), (2, "z")], "id bigint, val string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        versioned_merge(spark, path, dup, ["id"])
    # schema drift is refused, not silently mis-bound
    with pytest.raises(ValueError, match="columns"):
        versioned_merge(
            spark, path,
            spark.createDataFrame([(9,)], "id bigint"), ["id"],
        )


def test_multi_format_round_trip(spark, feed, tmp_path):
    """write_table round-trips through every locally-available sink
    format (parquet / orc / json / csv) with identical row content —
    the format knob is pass-through to the DataFrame writer, so each
    format's type quirks (JSON/CSV stringly timestamps) are reconciled
    by reading back with the writer's own schema."""
    want = sorted(
        (r.event_time, r.pm10, r.ingestion_date) for r in feed.collect()
    )
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / f"rt_{fmt}")
        write_table(feed, path, fmt=fmt)
        reader = spark.read.format(fmt).schema(feed.schema)
        if fmt == "csv":
            reader = reader.option("header", "false")
        back = reader.load(path)
        got = sorted(
            (r.event_time, r.pm10, r.ingestion_date) for r in back.collect()
        )
        assert got == want, f"round-trip mismatch for {fmt}"


class _FakeDeltaTable:
    """Minimal stand-in for delta.tables.DeltaTable: records the call
    chain the gated branches construct so the test can assert it."""

    calls: list = []

    @classmethod
    def reset(cls):
        cls.calls = []

    @classmethod
    def isDeltaTable(cls, spark, path):
        cls.calls.append(("isDeltaTable", path))
        return True

    @classmethod
    def forPath(cls, spark, path):
        cls.calls.append(("forPath", path))
        return cls()

    def alias(self, a):
        self.calls.append(("alias", a))
        return self

    def merge(self, source, cond):
        self.calls.append(("merge", cond))
        self._source = source
        return self

    def whenMatchedUpdateAll(self):
        self.calls.append(("whenMatchedUpdateAll",))
        return self

    def whenNotMatchedInsertAll(self):
        self.calls.append(("whenNotMatchedInsertAll",))
        return self

    def execute(self):
        self.calls.append(("execute",))


def _install_fake_delta(monkeypatch):
    import sys
    import types

    delta = types.ModuleType("delta")
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = _FakeDeltaTable
    delta.tables = tables
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)
    _FakeDeltaTable.reset()


def test_delta_gated_merge_branch_constructs_merge_into(spark, monkeypatch):
    """r7 verdict task 4: the sandbox has no delta-spark, so the Delta
    branches have never executed.  A fake `delta` module proves the
    import-gated MERGE INTO path runs and builds the exact
    matched-update / not-matched-insert chain on the keyed condition."""
    from data_pipelines_using_llm_spark.sinks import writers as W

    _install_fake_delta(monkeypatch)
    assert W.delta_available()

    df = spark.createDataFrame([(1, "a")], "event_id long, v string")
    W.idempotent_upsert(spark, df, "/fake/delta/tbl", key=["event_id", "v"])
    names = [c[0] for c in _FakeDeltaTable.calls]
    assert names == [
        "isDeltaTable",
        "forPath",
        "alias",
        "merge",
        "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll",
        "execute",
    ]
    cond = next(c[1] for c in _FakeDeltaTable.calls if c[0] == "merge")
    assert cond == "t.`event_id` <=> s.`event_id` AND t.`v` <=> s.`v`"


def test_delta_gated_merge_schema_branch_sets_writer_options(
    spark, monkeypatch
):
    """The mergeSchema append branch must route through a
    format('delta') writer with mergeSchema=true and the partition
    columns — asserted via a recording writer patched over
    DataFrame.write (the sandbox JVM has no delta source to execute)."""
    from data_pipelines_using_llm_spark.sinks import writers as W

    _install_fake_delta(monkeypatch)
    recorded = {}

    class _FakeWriter:
        def format(self, f):
            recorded["format"] = f
            return self

        def mode(self, m):
            recorded["mode"] = m
            return self

        def option(self, k, v):
            recorded.setdefault("options", {})[k] = v
            return self

        def partitionBy(self, *cols):
            recorded["partitionBy"] = list(cols)
            return self

        def save(self, path):
            recorded["save"] = path

    df = spark.createDataFrame([(1, "2024-01-01")], "id long, day string")
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame
    # in Spark 4 — the abstract pyspark.sql.DataFrame's property is
    # overridden there and never consulted)
    monkeypatch.setattr(
        type(df), "write", property(lambda self: _FakeWriter())
    )
    W.append_with_evolution(spark, df, "/fake/delta/tbl2", partition_by=["day"])
    assert recorded == {
        "format": "delta",
        "mode": "append",
        "options": {"mergeSchema": "true"},
        "partitionBy": ["day"],
        "save": "/fake/delta/tbl2",
    }


def test_delta_gated_optimize_branch_emits_zorder_sql(spark, monkeypatch):
    """The maintenance branch must issue OPTIMIZE ... ZORDER BY over the
    Delta path (captured via a patched spark.sql — the sandbox parser
    has no OPTIMIZE)."""
    from data_pipelines_using_llm_spark.sinks import writers as W

    _install_fake_delta(monkeypatch)
    seen = []
    monkeypatch.setattr(spark, "sql", lambda q: seen.append(q))
    W.compact_table(spark, "/fake/delta/tbl3", zorder_by=["user_id", "ts"])
    assert seen == ["OPTIMIZE delta.`/fake/delta/tbl3` ZORDER BY (user_id, ts)"]


def test_versioned_rollback_is_a_pointer_move(spark, tmp_path):
    """rollback_to must restore a retained snapshot atomically (reads
    see the old data again), reject unretained versions, leave the
    rolled-back-from snapshot queryable as history, and the next write
    must continue ABOVE the highest retained version."""
    import pytest

    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
        read_version,
        rollback_to,
        versioned_write,
    )

    tdir = str(tmp_path / "t")
    v1 = versioned_write(spark.range(0, 3).toDF("id"), tdir)
    v2 = versioned_write(spark.range(0, 5).toDF("id"), tdir)
    assert (v1, v2) == (1, 2) and current_version(tdir) == 2
    assert rollback_to(tdir, v1) == v1
    assert current_version(tdir) == v1
    assert read_version(spark, tdir).count() == 3  # live = restored
    assert read_version(spark, tdir, v2).count() == 5  # history intact
    with pytest.raises(ValueError, match="not retained"):
        rollback_to(tdir, 99)
    v3 = versioned_write(spark.range(0, 7).toDF("id"), tdir)
    assert v3 == 3 and current_version(tdir) == 3  # above the highest


def test_ann_maintain_cli_usage_contract():
    """The maintenance CLI must print its usage and exit 1 on missing
    args WITHOUT building a SparkSession (cron wrappers probe it)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, ANN_MAINTAIN],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 1
    assert "append" in r.stdout and "retrain" in r.stdout


def test_audit_and_manifest_read_backs_start_no_job(spark, tmp_path, monkeypatch):
    """The write-audit-publish stages and the manifest are flat
    directories Spark wrote, so each read-back takes its schema from the
    parquet footers: building it starts no Spark job, and the schema is
    the one ``spark.read.parquet`` infers."""
    from data_pipelines_using_llm_spark.operators import expectations as EX
    from data_pipelines_using_llm_spark.sinks import manifest, writers
    from data_pipelines_using_llm_spark.sources.tables import scan_parquet
    from data_pipelines_using_llm_spark.telemetry import measure

    reads = []

    def measured_scan(reader, path):
        df, c = measure(spark, lambda: scan_parquet(reader, path))
        reads.append((os.path.basename(path), c["jobs"]))
        assert df.schema == spark.read.parquet(path).schema
        return df

    monkeypatch.setattr(writers, "scan_parquet", measured_scan)
    monkeypatch.setattr(manifest, "scan_parquet", measured_scan)
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 500.0, "b")], "id bigint, v double, t string"
    )
    rules = [EX.in_range("v", 0, 1000)]
    wap = str(tmp_path / "wap")
    writers.write_audit_publish(df, wap, rules)
    writers.write_audit_publish_split(
        df, str(tmp_path / "live"), str(tmp_path / "dead"), rules
    )
    manifest.write_manifest(spark, wap, ["v"])
    assert manifest.pruned_scan(spark, wap, "v", 0, 20).count() == 1
    assert reads == [("wap__stage", 0), ("live__stage", 0), ("wap__manifest", 0)]
