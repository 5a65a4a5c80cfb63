"""Structured-Streaming ingestion of the ``events`` table.

The reference has NO streaming surface (SURVEY.md §2.11 — its closest
analogue is incremental batch append, `First experiment/Claude Opus 4.py:129`);
this module is the §7.2 extension: the same event pipeline expressed as a
real `readStream` job.  Every query here runs the stream with
``Trigger.AvailableNow`` into a memory sink and returns the result as a
batch DataFrame, so the streaming operators stay inside the DuckDB oracle
gate: the streaming semantics (watermarks, windows, state) are real, and
on bounded input the results must equal the batch SQL.

Every stream reads its parquet input through
``sources/tables.py::scan_parquet``: a streaming file source needs a
declared schema, and it takes the one the batch scan takes, from the
files' footers (a NANOS ``ts`` is read as long and truncated to
microseconds).  The input files must exist when the stream starts.

Scale shape: file-source streams partition per file/split exactly like
batch scans; windowed aggs shuffle once on (group key, window); state is
per-key in the state store.  Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from data_pipelines_using_llm_spark.sources.tables import scan_parquet


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file == one batch
    under AvailableNow; in production this is a directory of arriving
    files or a Kafka topic with the same downstream plan)."""
    return scan_parquet(spark.readStream, f"{sf_dir}/events.parquet")


def run_available_now(writer: DataStreamWriter, name: str, timeout_sec: int) -> None:
    """Start ``writer`` under ``Trigger.AvailableNow``, wait until the
    stream has drained its input, and stop it.  A stream still running
    after ``timeout_sec`` raises ``TimeoutError`` naming ``name``; the
    query is stopped on every exit."""
    query = writer.trigger(availableNow=True).start()
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {name} exceeded {timeout_sec}s")
    finally:
        query.stop()


def run_to_table(
    sdf: DataFrame,
    spark: SparkSession,
    name: str,
    output_mode: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink and return the materialized result as a batch DataFrame."""
    run_available_now(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        name,
        timeout_sec,
    )
    return spark.table(name)


def stream_silver_upsert(
    spark: SparkSession,
    sf_dir: str,
    silver_path: str,
    checkpoint: str,
    timeout_sec: int = 300,
) -> None:
    """Streaming medallion bronze→silver: each micro-batch lands via the
    idempotent upsert sink (``sinks/writers.py::idempotent_upsert``), so a
    replayed batch — Structured Streaming's at-least-once file-sink
    failure mode, and the reference's double-append hazard
    (``First experiment/Claude Opus 4.py:129``) — rewrites the same keys
    instead of duplicating them.

    ``foreachBatch`` is the standard escape hatch for sinks that need
    merge semantics: the batch DataFrame is a normal DataFrame, so the
    whole batch-side sink module applies unchanged.  ``checkpoint`` is a
    caller-owned path: reusing it gives exactly-once (replays skipped at
    the source); pointing a fresh checkpoint at the same silver exercises
    the upsert's idempotence (the at-least-once failure mode) — the test
    does both.
    """
    from data_pipelines_using_llm_spark.sinks.writers import idempotent_upsert

    sdf = stream_events(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_upsert(spark, batch_df, silver_path, key=["event_id"])

    run_available_now(
        sdf.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint),
        "stream_silver_upsert",
        timeout_sec,
    )


def stream_quarantine_route(
    spark: SparkSession,
    sf_dir: str,
    pass_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules: list | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming dead-letter ROUTING SINK — the table-side complement of
    the gated `stream_quarantine_events` view: every micro-batch is
    flagged ONCE against the expectation rules
    (operators/expectations.py::flag_violations, persisted so the two
    routes share one materialization), clean rows land in the live
    table and violators — carrying ``violated_rules`` — in the
    quarantine table, both through the keyed idempotent upsert so
    Structured Streaming's at-least-once ``foreachBatch`` replays
    rewrite the same keys instead of duplicating rows (the same
    exactly-once recipe as :func:`stream_silver_upsert`, proven under
    fresh-checkpoint full replay in tests/test_streaming.py).  By
    construction pass ∪ quarantine ≡ delivered events."""
    from data_pipelines_using_llm_spark.operators import expectations as EX
    from data_pipelines_using_llm_spark.sinks.writers import idempotent_upsert

    if rules is None:
        rules = [
            EX.not_null("user_id"),
            EX.in_range("value", 0, 100),
            EX.in_set("event_type", ("click", "view", "purchase", "signup")),
        ]
    sdf = stream_events(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        flagged = EX.flag_violations(batch_df, rules).persist()
        try:
            passed = flagged.filter(F.col("violated_rules") == "").drop(
                "violated_rules"
            )
            quarantined = flagged.filter(F.col("violated_rules") != "")
            if passed.limit(1).count():
                idempotent_upsert(spark, passed, pass_path, key=["event_id"])
            if quarantined.limit(1).count():
                idempotent_upsert(
                    spark, quarantined, quarantine_path, key=["event_id"]
                )
        finally:
            flagged.unpersist(blocking=False)

    run_available_now(
        sdf.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint),
        "stream_quarantine_route",
        timeout_sec,
    )


def stream_gold_rollup(
    spark: SparkSession,
    input_dir: str,
    gold_path: str,
    checkpoint: str,
    timeout_sec: int = 300,
    fail_after_batch: int | None = None,
) -> None:
    """Streaming gold-table maintenance: every micro-batch folds into the
    persisted rollup at ``gold_path`` through
    ``sinks/rollup.py::incremental_rollup`` with the STREAMING batch id
    as the ledger id.  Structured Streaming's ``foreachBatch`` contract
    makes that id stable across failure replays (same id, same data), so
    the rollup's applied-batch ledger turns the sink's at-least-once
    delivery into exactly-once gold state — the replay ledger's whole
    purpose, here exercised on the real streaming surface instead of the
    batch shim.

    ``maxFilesPerTrigger=1`` makes each input file its own micro-batch
    (the multi-batch shape a directory of arriving files produces in
    production).

    ``fail_after_batch`` is the CHAOS HOOK for the crash test: raise
    once AFTER ``incremental_rollup`` returns for that batch id —
    simulating a crash in the exact window where the gold swap (and its
    staged ledger marker) landed but the streaming checkpoint commit did
    not.  On restart the engine redelivers the batch; the ledger must
    make the replay a byte-level no-op.
    """
    from data_pipelines_using_llm_spark.sinks.rollup import incremental_rollup

    sdf = scan_parquet(
        spark.readStream.option("maxFilesPerTrigger", 1), input_dir
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            "value",
        ).filter(F.col("value").isNotNull())
        incremental_rollup(
            spark,
            b,
            gold_path,
            keys=["year", "month"],
            sum_cols=["value"],
            batch_id=f"b{batch_id}",
        )
        if fail_after_batch is not None and batch_id == fail_after_batch:
            raise RuntimeError(
                "chaos: simulated crash after gold commit, before "
                "checkpoint commit"
            )

    run_available_now(
        sdf.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint),
        "stream_gold_rollup",
        timeout_sec,
    )
