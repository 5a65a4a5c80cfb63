"""``telemetry.measure`` / ``run_row``: the record every bench row and
stage carries, and the job and stage counts that stand in for wall time
as the regression signal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.telemetry import measure, run_row


def test_run_row_record_keys(spark):
    rec = run_row(spark, lambda s, sf_dir: s.range(100).groupBy(F.col("id") % 3).count(), "")
    assert tuple(rec) == (
        "build_s", "execute_s", "wall_s", "build_jobs", "jobs", "stages", "tasks"
    )
    assert rec["wall_s"] == round(rec["build_s"] + rec["execute_s"], 4)
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= rec["stages"]


def test_counts_repeat_exactly_for_a_fixed_plan(spark):
    def plan():
        return spark.range(0, 1000, numPartitions=4).groupBy(F.col("id") % 7).count().collect()

    (rows1, c1), (rows2, c2) = measure(spark, plan), measure(spark, plan)
    assert len(rows1) == len(rows2) == 7
    # AQE: the shuffle map stage runs as one job, the result stage as a
    # second job that reads its output (its copy of the map stage is
    # skipped, so it is not counted again).
    assert (c1["jobs"], c1["stages"]) == (c2["jobs"], c2["stages"]) == (2, 2)
    assert c1["tasks"] == c2["tasks"]


def test_lazy_build_starts_no_job(spark):
    rec = run_row(spark, lambda s, sf_dir: s.range(10).select((F.col("id") * 2).alias("x")), "")
    assert rec["build_jobs"] == 0
    assert rec["jobs"] == 1


def test_measure_counts_jobs_of_an_eager_build(spark):
    def eager(s, sf_dir):
        df = s.range(50)
        df.count()  # a driver-side action during the build
        return df

    rec = run_row(spark, eager, "")
    assert rec["build_jobs"] >= 1
    assert rec["jobs"] > rec["build_jobs"]


def test_measure_counts_streaming_batches(spark, tmp_path):
    """Micro-batch jobs carry the stream's job group, so
    ``getJobIdsForGroup(None)`` misses them; ``measure`` must not."""
    src = str(tmp_path / "src")
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)

    def run_stream():
        q = (
            spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
            .writeStream.format("memory").queryName("telemetry_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return q.lastProgress["batchId"]

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    last_batch, c = measure(spark, run_stream)
    assert last_batch == 1  # one file per trigger: two batches
    assert c["jobs"] >= 2
    assert c["jobs"] > len(set(tracker.getJobIdsForGroup(None)) - before)


@pytest.mark.parametrize(
    "name", ["doc_lang_classifier_distilled", "user_value_ewma_chunked"]
)
def test_row_holds_no_blocks_after_run_row(spark, name):
    """Both rows cut their intermediates through ``caching.cut``, so the
    release at the end of ``run_row`` frees every block they stored:
    the classifier's features and every weekly EWMA carry."""
    from data_pipelines_using_llm_spark.operators.caching import (
        release_barriers,
    )
    from data_pipelines_using_llm_spark.registry import all_queries

    jsc = spark.sparkContext._jsc.sc()
    release_barriers()
    before = {r.id() for r in jsc.getRDDStorageInfo()}
    run_row(spark, all_queries()[name].fn, "/root/testdata/sf0.001")
    assert {r.id() for r in jsc.getRDDStorageInfo()} - before == set()
