"""End-to-end medallion pipeline runner — the reference's three-notebook
lifecycle (bronze → quality gate → silver → gold, SURVEY.md §3) as one
engine function with per-stage timing instrumentation.

Timing mirrors the reference's fetch/transform/aggregate/write hooks
(``Second Experiment/Claude Opus 4.py:43-52``) whose values were never
recorded; ours are returned to the caller.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.functions.exact import exact_avg
from data_pipelines_using_llm_spark.operators.cleaning import clean
from data_pipelines_using_llm_spark.operators.quality import quality_report
from data_pipelines_using_llm_spark.sinks.writers import write_table
from data_pipelines_using_llm_spark.sources.tables import scan_parquet


@dataclass
class PipelineResult:
    bronze_rows: int
    silver_rows: int
    gold_rows: int
    quality: dict
    timings: dict[str, float] = field(default_factory=dict)


def run_medallion(
    spark: SparkSession,
    bronze: DataFrame,
    out_dir: str,
    key: list[str],
    metric_cols: list[str],
    ts_col: str,
    tiebreaker=None,
    partition_col: str | None = None,
) -> PipelineResult:
    """bronze DF → partitioned bronze parquet → quality report → cleaned
    silver → monthly gold, with one job per materialization point.

    The bronze write partitions by the (derived) event date so every
    downstream time-ranged read prunes partitions.  The quality report and
    the silver write share one cached bronze scan.
    """
    timings: dict[str, float] = {}
    t0 = time.perf_counter()

    # Partition key is a DATE (clean `event_date=2025-01-01` directories);
    # oracle-facing outputs use date_trunc timestamps instead, but partition
    # values never cross engines.
    part_col = partition_col or "event_date"
    bronze_tagged = bronze.withColumn(part_col, F.to_date(F.col(ts_col)))
    write_table(
        bronze_tagged, f"{out_dir}/bronze", mode="overwrite",
        partition_by=[part_col],
    )
    timings["bronze_write"] = time.perf_counter() - t0

    t1 = time.perf_counter()
    bronze_back = spark.read.parquet(f"{out_dir}/bronze").cache()
    q = quality_report(bronze_back, key=key, metric_cols=metric_cols).first().asDict()
    timings["quality_gate"] = time.perf_counter() - t1

    t2 = time.perf_counter()
    silver = clean(
        bronze_back,
        key=key,
        metric_cols=metric_cols,
        null_policy="drop_any_null",
        dedup_policy="deterministic",
        tiebreaker=tiebreaker or [F.col(ts_col).desc()],
    )
    write_table(silver, f"{out_dir}/silver", mode="overwrite",
                partition_by=[part_col])
    timings["silver_write"] = time.perf_counter() - t2

    t3 = time.perf_counter()
    silver_back = spark.read.parquet(f"{out_dir}/silver")
    gold = (
        silver_back.groupBy(
            F.year(ts_col).alias("year"),
            F.month(ts_col).alias("month"),
        )
        .agg(
            *[exact_avg(c).alias(f"{c}_avg") for c in metric_cols
              if dict(silver_back.dtypes)[c] == "double"],
            F.count(F.lit(1)).alias("total_records"),
        )
    )
    write_table(gold, f"{out_dir}/gold", mode="overwrite")
    timings["gold_write"] = time.perf_counter() - t3

    result = PipelineResult(
        bronze_rows=bronze_back.count(),
        silver_rows=silver_back.count(),
        gold_rows=scan_parquet(spark.read, f"{out_dir}/gold").count(),
        quality=q,
        timings={k: round(v, 4) for k, v in timings.items()},
    )
    bronze_back.unpersist()
    return result
