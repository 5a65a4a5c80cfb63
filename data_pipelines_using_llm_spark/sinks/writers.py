"""Medallion sinks (SURVEY.md §2.2 K1–K7).

Parquet-first: the driver environment has no Delta jars, so Delta-only
behaviors (MERGE, OPTIMIZE, ZORDER, mergeSchema-on-write) degrade to
documented parquet equivalents behind the same API:

- K1/K2 partitioned & plain append  → ``write_table``
- K4 overwrite(+schema)             → ``write_table(mode="overwrite")``
- K5 DDL-from-StructType            → ``ensure_table``
- SE/`GPT 5 nano.py:106-175` align-to-target (rename/reorder/null-pad)
                                    → ``align_to_schema``
- §4.3.6 idempotent upsert (Delta MERGE on the event key)
                                    → ``idempotent_upsert`` (anti-join+union)
- K7 OPTIMIZE/ZORDER maintenance    → ``compact_table`` (repartition +
                                      sortWithinPartitions = clustering for
                                      data-skipping, the parquet analogue)

All writers take an explicit ``path`` (location-based tables); catalog
``saveAsTable`` works identically when a metastore is present.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_using_llm_spark.sources.tables import scan_parquet


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """K1/K2/K4: (partitioned) append/overwrite write.

    Reference shape: ``write.format("delta").mode("append")
    .partitionBy("ingestion_date").saveAsTable(...)``
    (``First experiment/Claude Opus 4.py:128-132``).  Partitioning by the
    ingestion/event date gives partition pruning on every downstream
    time-ranged read — at 100 TB this is the difference between scanning a
    day and scanning a decade.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def ensure_table(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """K5: explicit DDL generated from a StructType
    (``Third Experiment/GPT 5.py:113-137`` builds ``CREATE TABLE … USING
    DELTA PARTITIONED BY`` from its declared schema).  Parquet flavor via
    ``CREATE TABLE … USING PARQUET LOCATION``; no-op when present (S6
    catalog probe)."""
    if spark.catalog.tableExists(name):
        return
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    part = (
        f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING PARQUET{part} "
        f"LOCATION '{path}'"
    )


def align_to_schema(
    df: DataFrame,
    target: T.StructType,
    rename_map: dict[str, str] | None = None,
    strict_extra: bool = False,
) -> DataFrame:
    """Align a DataFrame to a target table schema: rename → reorder →
    null-pad missing → cast — the semantics of
    ``Second Experiment/GPT 5 nano.py:106-175`` as one reusable operator.

    ``rename_map`` handles source→target name drift (``avg_x`` vs
    ``x_avg``); missing target columns become typed NULLs; extra source
    columns are dropped (or raise when ``strict_extra``).
    """
    renamed = df
    for src, dst in (rename_map or {}).items():
        if src in renamed.columns:
            renamed = renamed.withColumnRenamed(src, dst)

    target_names = [f.name for f in target.fields]
    extra = [c for c in renamed.columns if c not in target_names]
    if extra and strict_extra:
        raise ValueError(f"source has columns not in target schema: {extra}")

    out = []
    for f in target.fields:
        if f.name in renamed.columns:
            out.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return renamed.select(*out)


def delta_available() -> bool:
    """True when the delta-spark package (and its JVM jars) are importable.
    The test environment is parquet-only, so every Delta-specific branch
    below activates only behind this gate and otherwise degrades to the
    documented parquet emulation."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except Exception:
        return False
    return True


def insert_into_existing(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    allow_missing: bool = False,
) -> None:
    """K3: append into a PRE-EXISTING catalog table.

    The reference falls back to ``insertInto`` when ``saveAsTable`` fails
    (``First experiment/Claude Opus 4.py:136-146,328-338``) — but
    ``insertInto`` binds POSITIONALLY, so a source whose column order
    drifted from the target silently writes values into the wrong
    columns.  This variant closes that hazard: the source is aligned BY
    NAME to the target schema first (so the positional bind underneath is
    provably correct), extra source columns always raise, and missing
    columns raise unless ``allow_missing`` null-pads them.
    """
    if not spark.catalog.tableExists(table):
        raise ValueError(f"table {table!r} does not exist; use write_table/ensure_table")
    target = spark.table(table).schema
    target_names = [f.name for f in target.fields]
    extra = [c for c in df.columns if c not in target_names]
    if extra:
        raise ValueError(f"source has columns not in target table {table!r}: {extra}")
    missing = [n for n in target_names if n not in df.columns]
    if missing and not allow_missing:
        raise ValueError(
            f"source is missing target columns {missing}; pass allow_missing=True "
            "to null-pad them"
        )
    align = align_to_schema(df, target)
    align.write.insertInto(table, overwrite=False)


def _recover_interrupted_swap(path: str) -> None:
    """Heal a table directory left by a crash inside :func:`_swap_in`.

    The swap renames the live dir aside (``<path>__old``) before renaming
    the staged dir in, so a crash in that window leaves NO live dir and
    the previous snapshot only at ``__old``.  Without recovery the next
    ``_has_data_files(path)`` would report "empty table" and a caller
    would silently rebuild from the new batch alone — history loss.  This
    probe restores the aside snapshot (the staged tmp dir, if any, is
    overwritten by the next run); a crash AFTER the swap completed merely
    leaves a stale ``__old``, which is deleted."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    if not os.path.exists(old):
        return
    if os.path.exists(path):
        shutil.rmtree(old)  # swap completed; aside copy is stale
    else:
        os.rename(old, path)  # swap interrupted; restore previous snapshot


def _has_data_files(path: str) -> bool:
    import os

    _recover_interrupted_swap(path)
    return os.path.exists(path) and any(
        n.endswith(".parquet") or n.startswith("part-")
        for _, _, files in os.walk(path)
        for n in files
    )


def _swap_in(path: str, tmp: str) -> None:
    """Replace the table directory with ``tmp`` via rename-aside.

    Not atomic: between the two renames the table path is briefly ABSENT
    (POSIX rename can't exchange two dirs).  Every crash window is
    recoverable — the previous snapshot survives at ``<path>__old`` until
    the swap completes, and :func:`_recover_interrupted_swap` (run by
    ``_has_data_files`` before any read-modify-write) restores it, so no
    caller ever mistakes an interrupted swap for an empty table."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def idempotent_upsert(
    spark: SparkSession,
    new_data: DataFrame,
    path: str,
    key: list[str],
    partition_by: list[str] | None = None,
    max_broadcast_keys: int = 4_000_000,
) -> None:
    """§4.3.6: idempotent ingestion — re-running a batch must not
    double-append (the reference's append mode does:
    ``First experiment/Claude Opus 4.py:129`` vs the dedup cleanup it then
    needs at ``:217-236``).

    Without Delta MERGE, emulated as anti-join + union: existing rows
    whose key collides with the incoming batch are replaced.  The incoming
    key set is broadcast only while it is verifiably small (a cheap
    ``limit`` probe, not a full count); larger batches fall back to a
    shuffle join rather than OOM-ing the executors.

    Scale shape — the rewrite is PARTITION-SCOPED when ``partition_by``
    is set: only partitions actually containing incoming rows are read
    (partition-pruned scan) and rewritten (dynamic partition overwrite);
    untouched partitions' files are not even opened.  At 100 TB a
    micro-batch touching one ingestion date rewrites one partition, not
    the table.  Unpartitioned tables keep the full-rewrite fallback,
    staged to a temp dir and swapped via rename-aside (the table path is
    never absent; a crash leaves old or new data, not neither).  With
    Delta available this whole function swaps for ``MERGE INTO``
    (ACID, partition-pruned matching, no manual swap).
    """
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in key)
            (
                DeltaTable.forPath(spark, path)
                .alias("t")
                .merge(new_data.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return

    if not _has_data_files(path):
        write_table(new_data, path, mode="overwrite", partition_by=partition_by)
        return

    current = spark.read.parquet(path)
    keys = new_data.select(*key).distinct()
    small = keys.limit(max_broadcast_keys + 1).count() <= max_broadcast_keys
    keys = F.broadcast(keys) if small else keys

    if partition_by:
        # Touched partition values: small by construction (a batch spans
        # few ingestion dates), so collecting them is a scalar probe.
        touched = [
            tuple(r[c] for c in partition_by)
            for r in new_data.select(*partition_by).distinct().collect()
        ]
        pred = None
        for values in touched:
            clause = None
            for c, v in zip(partition_by, values):
                term = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                clause = term if clause is None else (clause & term)
            pred = clause if pred is None else (pred | clause)
        if pred is None:  # empty batch: nothing to upsert
            return
        scoped = current.filter(pred)  # partition-pruned scan
        kept = scoped.join(keys, on=key, how="left_anti")
        merged = kept.unionByName(new_data.select(*scoped.columns))
        # dynamic overwrite replaces only the partitions ``merged`` holds;
        # the per-write option leaves the session's conf untouched
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        return

    kept = current.join(keys, on=key, how="left_anti")
    merged = kept.unionByName(new_data.select(*current.columns))
    tmp = path.rstrip("/") + "__tmp_upsert"
    write_table(merged, tmp, mode="overwrite", partition_by=partition_by)
    _swap_in(path, tmp)


def merge_schemas(target: T.StructType, incoming: T.StructType) -> T.StructType:
    """Union of two schemas by field name — the ``mergeSchema`` semantics
    (``First experiment/Claude Sonnet 4.py:173``) as an explicit operator.
    Target fields keep their position and type; genuinely new incoming
    fields append at the end; a same-name field with a DIFFERENT type
    raises (silent coercion is how a drifting feed corrupts a table)."""
    by_name = {f.name: f for f in target.fields}
    out = list(target.fields)
    for f in incoming.fields:
        existing = by_name.get(f.name)
        if existing is None:
            out.append(f)
        elif existing.dataType != f.dataType:
            raise ValueError(
                f"schema conflict on {f.name!r}: table has "
                f"{existing.dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()}"
            )
    return T.StructType(out)


def append_with_evolution(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Append a batch whose schema may have DRIFTED from the table —
    the merge-two-schemas-on-append path (Delta's ``mergeSchema``,
    ``Second Experiment/Claude Opus 4.py:311``) for parquet tables.

    The batch is aligned to ``merge_schemas(table, batch)``: columns the
    batch lacks are null-padded, genuinely new columns land in the new
    files (parquet files are self-describing — old files are NOT
    rewritten; at 100 TB that matters), and readers get the union view
    via :func:`read_evolved`.  Type conflicts raise instead of coercing.
    With delta-spark present, delegates to the real ``mergeSchema``
    write option."""
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            writer = df.write.format("delta").mode("append").option(
                "mergeSchema", "true"
            )
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.save(path)
            return

    if not _has_data_files(path):
        write_table(df, path, mode="append", partition_by=partition_by)
        return
    merged = merge_schemas(spark.read.parquet(path).schema, df.schema)
    write_table(
        align_to_schema(df, merged), path, mode="append", partition_by=partition_by
    )


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a table whose files carry evolved schemas: ``mergeSchema``
    reconciles parquet footers into the union schema, null-padding files
    that predate a column."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def register_view(
    spark: SparkSession, name: str, df: DataFrame, global_view: bool = False
) -> None:
    """K6 view creation (``CREATE OR REPLACE [TEMP] VIEW`` /
    ``createOrReplaceTempView``, ``First experiment/Claude Sonnet
    4.py:330-334,660-678``): persists the QUERY, re-planned per read — the
    monitoring-view pattern (plans/quality_queries.py holds the bodies)."""
    if global_view:
        df.createOrReplaceGlobalTempView(name)
    else:
        df.createOrReplaceTempView(name)


def _fs_path(uri: str) -> str:
    """Filesystem path from a (possibly ``file:``-scheme, possibly
    percent-encoded) location URI or plain path."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return unquote(parsed.path) if parsed.scheme == "file" else uri
    return unquote(parsed.path)


def _managed_location(spark: SparkSession, table: str) -> str | None:
    """Resolve where the metastore WOULD place managed table ``table``:
    ``<db location>/<name>`` for a qualified name, ``<warehouse>/<name>``
    for an unqualified one.  ``spark.conf.get("spark.sql.warehouse.dir")``
    returns the resolved absolute URI, so no cwd-relative fallback is
    needed.  Returns None when the database location can't be resolved."""
    db, _, name = table.rpartition(".")
    if db:
        try:
            base = _fs_path(spark.catalog.getDatabase(db).locationUri)
        except Exception:
            return None
    else:
        base = _fs_path(spark.conf.get("spark.sql.warehouse.dir"))
    return os.path.join(base, name.lower())


def _any_table_owns(spark: SparkSession, path: str) -> bool:
    """True if any OTHER catalog table's location resolves to ``path`` —
    the guard that keeps the self-heal rmtree from deleting live data of
    an unrelated table (e.g. external tables pointed at the directory).

    Scans EVERY database, not just ``table``'s own: an external table
    registered in a different database can point at the same directory,
    and missing it would let the self-heal delete its live data.  The
    scan is catalog metadata only (no data reads), and any listing or
    DESCRIBE failure conservatively reports ownership (-> no delete)."""
    target = os.path.realpath(path)
    try:
        databases = [d.name for d in spark.catalog.listDatabases()]
    except Exception:
        return True  # can't prove safety -> don't delete
    for db in databases:
        try:
            others = spark.catalog.listTables(db)
        except Exception:
            return True
        for t in others:
            # listTables also returns session temp views, which have no
            # storage location (and DESCRIBE on '<db>.<view>' fails)
            if t.isTemporary:
                continue
            try:
                rows = spark.sql(
                    f"DESCRIBE TABLE EXTENDED `{t.database or db}`.`{t.name}`"
                ).collect()
            except Exception:
                return True
            for row in rows:
                if row.col_name == "Location" and os.path.realpath(
                    _fs_path(row.data_type)
                ) == target:
                    return True
    return False


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table for co-located joins — the 100 TB strategy
    the reference never needed: two fact tables bucketed on the join key
    with the same bucket count sort-merge-join with NO shuffle exchange
    (tests/test_sinks.py asserts the exchange-free plan).

    Bucketing is the parquet/catalog analogue of Delta's clustering
    maintenance (K7): pay one shuffle at write time, skip it on every
    subsequent join/aggregation on the bucket key.
    """
    # Self-heal after a killed run: an interrupted write can leave the
    # managed warehouse directory on disk with no catalog entry, and
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS even in
    # overwrite mode (DROP TABLE can't remove a dir the catalog no
    # longer owns).
    if mode == "overwrite":
        spark = df.sparkSession
        if not spark.catalog.tableExists(table):
            stale = _managed_location(spark, table)
            if (
                stale is not None
                and os.path.isdir(stale)
                and not _any_table_owns(spark, stale)
            ):
                import shutil

                shutil.rmtree(stale)

    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def compact_table(
    spark: SparkSession,
    path: str,
    zorder_by: list[str] | None = None,
    target_partitions: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """K7 maintenance: small-file compaction + clustering.

    Delta's ``OPTIMIZE``/``ZORDER BY`` (``First experiment/Claude Sonnet
    4.py:799-806``, ``Second Experiment/Claude 4 Sonnet.py:536-543``)
    expressed for parquet: coalesce to fewer files and sort within
    partitions by the clustering key so parquet min/max row-group stats
    give the same data-skipping effect.  With delta-spark importable and
    a Delta target, runs the real ``OPTIMIZE`` (+``ZORDER BY``) instead.
    """
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            zorder = f" ZORDER BY ({', '.join(zorder_by)})" if zorder_by else ""
            spark.sql(f"OPTIMIZE delta.`{path}`{zorder}")
            return

    # Target size from the FILE count (the thing compaction reduces) —
    # touching the RDD API just to count partitions would drop the plan
    # out of the Arrow/codegen path.
    n_files = sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") or f.startswith("part-")
    )
    df = spark.read.parquet(path)
    n = target_partitions or max(1, n_files // 4)
    integral = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(df.dtypes)
    if (
        zorder_by
        and len(zorder_by) == 2
        and all(dtypes.get(c) in integral for c in zorder_by)
    ):
        # True multi-dimensional clustering: range-partition + sort by the
        # Morton key of both columns, so every output file carries narrow
        # min/max stats in BOTH dimensions (a lexicographic sort clusters
        # the leading column only).  Bounds read is one control-plane row.
        from data_pipelines_using_llm_spark.functions.zorder import (
            bucketize,
            interleave_bits,
        )

        a, b = zorder_by
        lo_a, hi_a, lo_b, hi_b = df.agg(
            F.min(a), F.max(a), F.min(b), F.max(b)
        ).first()
        z = interleave_bits(
            bucketize(F.col(a), F.lit(lo_a), F.lit(hi_a)),
            bucketize(F.col(b), F.lit(lo_b), F.lit(hi_b)),
        )
        compacted = (
            df.withColumn("__zorder", z)
            .repartitionByRange(n, "__zorder")
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )
    elif zorder_by:
        # Lexicographic clustering: RANGE-partition on the sort key so the
        # narrowing shows up in per-FILE min/max stats (a round-robin
        # repartition + local sort only orders row groups inside each
        # file; file-level pruning would see full-range stats).
        compacted = df.repartitionByRange(n, *zorder_by).sortWithinPartitions(
            *zorder_by
        )
    else:
        compacted = df.repartition(n)

    tmp = path.rstrip("/") + "__tmp_compact"
    write_table(compacted, tmp, mode="overwrite", partition_by=partition_by)
    _swap_in(path, tmp)


def write_audit_publish(
    df: DataFrame,
    path: str,
    rules: list,
    max_violation_rate: float = 0.0,
) -> DataFrame:
    """Write-Audit-Publish: stage the batch, audit the STAGED files with
    the expectation rules, and only then swap the snapshot live — the
    lakehouse WAP pattern (Iceberg's branch-audit-publish, done here at
    the directory-snapshot level with the same crash-recoverable
    rename-aside swap as :func:`idempotent_upsert`).

    Readers never observe an unaudited or partial batch: a failing audit
    raises ``ValueError`` with the per-rule report in the message, the
    stage directory is removed, and the live table is byte-identical to
    before the call.  Auditing the staged READ-BACK (not the input plan)
    means the checks cover what was actually serialized — a
    nondeterministic upstream (e.g. an unseeded sample) cannot pass audit
    as one dataset and publish as another.  The stage is a flat directory
    Spark wrote, so the read-back takes its schema from the parquet
    footers and starts no job (``sources/tables.py::scan_parquet``).

    Returns the expectation report (one row per rule), materialized
    before the swap so its plan holds no reference to the staged path.
    Partition-scoped incremental publishes compose differently — audit
    the batch, then :func:`idempotent_upsert`.
    """
    import os
    import shutil

    from data_pipelines_using_llm_spark.operators.expectations import expect

    spark = df.sparkSession
    stage = path.rstrip("/") + "__stage"
    if os.path.exists(stage):
        shutil.rmtree(stage)
    df.write.mode("overwrite").parquet(stage)
    staged = scan_parquet(spark.read, stage)
    report_rows = expect(staged, rules, max_violation_rate).collect()
    failed = [r for r in report_rows if not r["passed"]]
    if failed:
        shutil.rmtree(stage)
        detail = "; ".join(
            f"{r['rule']}: {r['n_violations']}/{r['n_rows']} violations"
            for r in failed
        )
        raise ValueError(f"write_audit_publish: audit failed — {detail}")
    if _has_data_files(path):
        _swap_in(path, stage)
    else:
        os.makedirs(os.path.dirname(path.rstrip("/")) or ".", exist_ok=True)
        os.rename(stage, path)
    return spark.createDataFrame(report_rows)


def write_audit_publish_split(
    df: DataFrame,
    path: str,
    quarantine_path: str,
    rules: list,
    unique_order: list | None = None,
) -> DataFrame:
    """Write-Audit-Publish with DEAD-LETTER ROUTING instead of
    all-or-nothing: stage the batch, flag every staged row against the
    expectation rules in one pass
    (operators/expectations.py::flag_violations), publish the clean
    rows live and the violating rows — carrying ``violated_rules``
    names — to ``quarantine_path``, so a handful of bad rows no longer
    blocks the whole batch the way :func:`write_audit_publish` (by
    design) does, and nothing is silently dropped: by construction
    published ∪ quarantined ≡ staged input.

    One materialization feeds both sinks: the flagged read-back is
    persisted, so the pass-side write and the quarantine-side write are
    two filters over ONE cached scan of the staged files (not two scans
    of the upstream plan), then the cache is released.  Both publishes
    use the same crash-recoverable rename-aside swap as
    :func:`write_audit_publish`.

    Atomicity across the PAIR of tables is a directory-rename boundary
    this sink cannot cross (no multi-table transaction on a plain
    filesystem), so the partial-publish window is made conservative
    (r10 ADVICE): the PRIMARY (pass) table swaps FIRST, quarantine
    second — a crash between the two swaps leaves the published table
    current with a stale quarantine (missing the newest dead letters),
    never quarantine rows that reference a stale published generation.
    Stage cleanup is publish-aware (r11 ADVICE): a failure BEFORE any
    swap removes all three stage dirs (live tables untouched, stages
    re-derivable from the caller's input), but a failure BETWEEN the
    two swaps leaves ``q_stage`` on disk — the freshly computed dead
    letters survive for recovery instead of being discarded the moment
    the primary went live.

    Returns the routing report: one row per rule
    ``(rule, n_quarantined)`` (rows violating that rule; a row
    violating k rules appears in k counts) plus the ``__total__`` row
    (distinct quarantined rows).
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators.expectations import (
        flag_violations,
    )

    spark = df.sparkSession
    stage = path.rstrip("/") + "__stage"
    q_stage = quarantine_path.rstrip("/") + "__stage"
    pass_stage = path.rstrip("/") + "__stage_pass"
    published = 0
    try:
        for d in (stage, q_stage, pass_stage):
            if os.path.exists(d):
                shutil.rmtree(d)
        df.write.mode("overwrite").parquet(stage)
        flagged = flag_violations(
            scan_parquet(spark.read, stage), rules, unique_order
        ).persist()
        try:
            qrows = flagged.filter(F.col("violated_rules") != "")
            qrows.write.mode("overwrite").parquet(q_stage)
            flagged.filter(F.col("violated_rules") == "").drop(
                "violated_rules"
            ).write.mode("overwrite").parquet(pass_stage)
            per_rule = (
                qrows.select(
                    F.explode(F.split("violated_rules", ",")).alias("rule")
                )
                .groupBy("rule")
                .agg(F.count(F.lit(1)).alias("n_quarantined"))
            )
            total = qrows.agg(
                F.lit("__total__").alias("rule"),
                F.count(F.lit(1)).alias("n_quarantined"),
            )
            report_rows = per_rule.unionByName(total).collect()
        finally:
            flagged.unpersist(blocking=False)
        # primary first (see docstring: conservative partial-publish
        # window), quarantine second
        for live, staged_dir in ((path, pass_stage), (quarantine_path, q_stage)):
            if _has_data_files(live):
                _swap_in(live, staged_dir)
            else:
                os.makedirs(
                    os.path.dirname(live.rstrip("/")) or ".", exist_ok=True
                )
                os.rename(staged_dir, live)
            published += 1
    finally:
        # raw input stage is always removable (its rows live on in the
        # pass/quarantine stages or the published tables)
        shutil.rmtree(stage, ignore_errors=True)
        if published != 1:
            # 0: pre-publish failure — live tables untouched, stages
            #    re-derivable; clean exit.  2: both swaps consumed their
            #    stage dirs — remove any leftovers.
            shutil.rmtree(q_stage, ignore_errors=True)
            shutil.rmtree(pass_stage, ignore_errors=True)
        # published == 1: primary is live, quarantine swap failed —
        # q_stage is intentionally RETAINED so the computed dead
        # letters survive for recovery (r11 ADVICE)
    return spark.createDataFrame(report_rows)
