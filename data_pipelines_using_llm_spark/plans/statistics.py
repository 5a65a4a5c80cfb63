"""Statistical analysis pack: correlation, trend regression, and higher
moments over the ``events`` stream table — the "is this metric drifting /
seasonal / skewed" questions a data-quality platform answers next after
the reference's mean/min/max summaries (A2/A6, ``Second Experiment/
GPT 5.py:141-142``).

Cross-engine exactness (SURVEY.md §7.3.2): every statistic is derived
from order-independent DECIMAL power sums (Σx, Σx², Σx³, Σxy over
fixed-point values and integer time coordinates), cast to double ONCE,
with the final double expression textually mirrored in the DuckDB oracle
— so both engines compute bit-identical results.  Never ``corr()`` /
``skewness()`` built-ins on doubles: those fold in scan order and differ
in the last ulp between engines (and between runs on different partition
counts).

Scale: each query is ONE grouped aggregation pass over events — map-side
partial decimal sums, |event_type| rows out.  No joins, no second pass;
the power-sum trick is exactly what makes single-pass moments mergeable
across 1000 executors.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators import learn as LN
from data_pipelines_using_llm_spark.operators.split import LEHMER_A, LEHMER_M
from data_pipelines_using_llm_spark.registry import QuerySpec
from data_pipelines_using_llm_spark.sources.tables import load_table

TREND_EPOCH = "1995-01-01"


def value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between hour-of-day and value per event_type —
    the "is this metric diurnal" probe.  x (hour) is an exact integer,
    y (value) is fixed-point: all five power sums are exact, and the
    correlation is one double expression over them.
    """
    d = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.hour("ts").cast("long")
    y = F.col("value").cast("decimal(18,2)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxy = F.sum(y * x).cast("double")
    sx2 = F.sum(x * x).cast("double")
    sy2 = F.sum(y * y).cast("double")
    return d.groupBy("event_type").agg(
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy))
        ).alias("hour_value_corr"),
        F.count(F.lit(1)).alias("n_events"),
    )


VALUE_HOUR_CORRELATION_ORACLE = """
WITH s AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sx,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sxy,
           CAST(sum(CAST(hour(ts) AS BIGINT) * CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sx2,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy2,
           count(*) AS n_events
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_type,
       (n * sxy - sx * sy)
       / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS hour_value_corr,
       n_events
FROM s
"""


def value_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of value against DAYS since a fixed epoch, per
    event_type — the single-pass drift detector (regr_slope semantics,
    stated as exact power sums).  Day index is an exact small integer, so
    Σx² stays far inside BIGINT even at 100 TB row counts; the slope is
    value-units per day.
    """
    d = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.datediff(F.col("ts"), F.lit(TREND_EPOCH).cast("timestamp")).cast("long")
    y = F.col("value").cast("decimal(18,2)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxy = F.sum(y * x).cast("double")
    sx2 = F.sum(x * x).cast("double")
    return d.groupBy("event_type").agg(
        ((n * sxy - sx * sy) / (n * sx2 - sx * sx)).alias("slope_per_day"),
        F.count(F.lit(1)).alias("n_events"),
    )


VALUE_TREND_SLOPE_ORACLE = f"""
WITH s AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00', ts) AS BIGINT)) AS DOUBLE) AS sx,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(value AS DECIMAL(18,2))
                    * CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00', ts) AS BIGINT)) AS DOUBLE) AS sxy,
           CAST(sum(CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00', ts) AS BIGINT)
                    * CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00', ts) AS BIGINT)) AS DOUBLE) AS sx2,
           count(*) AS n_events
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_type,
       (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope_per_day,
       n_events
FROM s
"""


def value_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness per event_type from exact power sums Σx, Σx²,
    Σx³ — third central moment over variance^1.5, the single-pass
    "is the tail one-sided" probe.

    Values are < 10^7 with 2 decimals, so DECIMAL(9,2) cubes peak at
    precision 29 — inside both engines' exact decimal range; the sums
    stay exact rationals and cast to identical doubles.
    """
    d = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value").cast("decimal(9,2)")
    n = F.count(F.lit(1)).cast("double")
    s1 = F.sum(v).cast("double")
    s2 = F.sum(v * v).cast("double")
    s3 = F.sum(v * v * v).cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    return d.groupBy("event_type").agg(
        (m3 / F.pow(m2, F.lit(1.5))).alias("skewness_pop"),
        F.count(F.lit(1)).alias("n_events"),
    )


VALUE_SKEWNESS_ORACLE = """
WITH s AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s1,
           CAST(sum(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s2,
           CAST(sum(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2))
                    * CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s3,
           count(*) AS n_events
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_type,
       (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
       / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) AS skewness_pop,
       n_events
FROM s
"""


EWMA_ALPHA = 0.2


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    the recursive-state sequential computation (``s_t = α·v_t +
    (1-α)·s_{t-1}``, seeded with the first value) that no associative
    aggregate can express.

    Implemented as a SORTED FOLD: collect the (ts, event_id, value)
    sequence per user, sort, seed with element 1, fold the tail.  The
    fold order matches the oracle's ``array_agg(... ORDER BY ts,
    event_id)`` + ``list_reduce`` (whose first element is the init), so
    the recursion produces bit-identical doubles cross-engine.  At
    100 TB the per-user array is bounded by one user's activity — the
    same per-key-sequence assumption every sessionizer makes; for
    unbounded keys use :func:`user_value_ewma_chunked`, which bounds the
    array per time chunk and carries the seed forward.

    Determinism note: the sort comparator consults ``(ts, event_id)``
    ONLY — exactly the oracle's ``ORDER BY ts, event_id`` — with
    ``value`` as pure payload, so the fold order is identical
    cross-engine by construction rather than by relying on
    ``event_id`` uniqueness.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )

    def _by_ts_then_id(a, b):
        return (
            F.when(a["ts"] < b["ts"], F.lit(-1))
            .when(a["ts"] > b["ts"], F.lit(1))
            .when(a["event_id"] < b["event_id"], F.lit(-1))
            .when(a["event_id"] > b["event_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    arr = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value")), _by_ts_then_id
        ).alias("seq")
    )
    ewma = F.aggregate(
        F.expr("slice(seq, 2, size(seq) - 1)"),
        F.element_at(F.col("seq"), 1)["value"],
        lambda acc, s: F.lit(EWMA_ALPHA) * s["value"]
        + F.lit(1 - EWMA_ALPHA) * acc,
    )
    return arr.select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


def user_value_ewma_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-and-carry EWMA — the bounded-memory batch variant of
    :func:`user_value_ewma` for keys whose full history cannot sit in
    one task (a power-user key with 10⁸ events OOMs the sorted fold).

    Shape: split the timeline into week chunks (the chunk list and its
    event counts are a tiny control-plane collect bounded by the data's
    time span), then fold the chunks in order — each round is one
    grouped sort-fold over ONE chunk's events joined full-outer with the
    carried state, so per-key task memory is bounded by the key's
    activity within a single chunk, never its lifetime.  The rounds run
    on :func:`caching.fixpoint`: the carry is one cut per round (r13
    verdict task 5 — the graph-fixpoint lineage discipline, NOT a
    persist barrier: persist caches blocks but leaves the logical plan
    nested, so a multi-year corpus would stack one unanalyzed
    full-outer segment per week and the final plan's analysis would
    grow with the calendar; the checkpoint keeps plan depth CONSTANT —
    one chunk join over a materialized carry, whatever the span, as
    asserted on a ~3-year fixture in
    tests/test_graph.py::test_ewma_chunked_plan_depth_bounded).  Each
    cut observes how many events the carry has folded, and the loop is
    done once that is every event: the last week, unless a fold lost or
    repeated events, which raises.

    Bit-equality with the unchunked fold (same oracle, and asserted
    exactly in tests/test_graph.py): a left fold over a concatenation is
    the fold of the second part seeded with the fold of the first —
    ``fold(a ++ b, seed) = fold(b, fold(a, seed))`` — and chunk
    boundaries (week of ts) respect the (ts, event_id) sort order, so
    the float operations happen in the identical sequence.
    """
    from data_pipelines_using_llm_spark.operators.caching import (
        fixpoint,
        observed_cut,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    week = F.date_trunc("week", "ts")
    chunks = sorted(tuple(r) for r in e.groupBy(week).count().collect())
    if not chunks:  # no qualifying events at all
        return spark.createDataFrame(
            [], "user_id bigint, n_events int, ewma_value double"
        )
    n_total = sum(n for _w, n in chunks)
    folded = F.coalesce(F.sum("n_ev"), F.lit(0))
    probe = [folded.alias("n_ev"), (folded == n_total).alias("done")]

    step = lambda acc, s: (  # noqa: E731 — shared by both fold branches
        F.lit(EWMA_ALPHA) * s["value"] + F.lit(1 - EWMA_ALPHA) * acc
    )

    def fold(carry: DataFrame | None, w) -> DataFrame:
        arr = (
            e.filter(week == F.lit(w))
            .groupBy("user_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "value"))
                ).alias("seq")
            )
        )
        first = F.aggregate(
            F.expr("slice(seq, 2, size(seq) - 1)"),
            F.element_at(F.col("seq"), 1)["value"],
            step,
        )
        if carry is None:
            return arr.select(
                "user_id",
                F.size("seq").cast("long").alias("n_ev"),
                first.alias("state"),
            )
        seeded = F.when(
            F.col("state").isNotNull(),
            F.aggregate(F.col("seq"), F.col("state"), step),
        ).otherwise(first)
        return arr.join(carry, "user_id", "full_outer").select(
            "user_id",
            (
                F.coalesce(F.col("n_ev"), F.lit(0))
                + F.when(F.col("seq").isNull(), F.lit(0)).otherwise(
                    F.size("seq").cast("long")
                )
            ).alias("n_ev"),
            F.when(F.col("seq").isNull(), F.col("state"))
            .otherwise(seeded)
            .alias("state"),
        )

    carry, _rounds = fixpoint(
        observed_cut(fold(None, chunks[0][0]), *probe),
        lambda carry, _seen, rnd: (fold(carry, chunks[rnd][0]), probe),
        len(chunks) - 1,
        f"user_value_ewma_chunked: the carry did not fold all {n_total} "
        f"events in {len(chunks)} week chunks",
    )
    return carry.select(
        "user_id",
        F.col("n_ev").cast("int").alias("n_events"),
        F.round("state", 6).alias("ewma_value"),
    )


USER_VALUE_EWMA_ORACLE = f"""
WITH seq AS (
    SELECT user_id,
           array_agg(value ORDER BY ts, event_id) AS vals
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INT) AS n_events,
       round(list_reduce(vals,
             (acc, x) -> {EWMA_ALPHA!r} * x + {1 - EWMA_ALPHA!r} * acc), 6)
           AS ewma_value
FROM seq
"""


HOLT_ALPHA = 0.5  # exactly representable: every smoothing product is one
HOLT_BETA = 0.5  # IEEE multiply by 0.5, bit-identical on any engine


def revenue_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level + trend) exponential smoothing over each
    order priority's daily-revenue series, with a one-step-ahead
    forecast — the two-component recursive state
    (``l_t = α·y_t + (1-α)(l_{t-1}+b_{t-1})``,
    ``b_t = β(l_t - l_{t-1}) + (1-β)b_{t-1}``) that generalizes the
    single-state EWMA and that no associative aggregate can express.

    Implemented as a SORTED FOLD whose accumulator is a 2-element
    ``[l, b]`` ARRAY: the daily series is exact decimal revenue
    (order-independent), the fold seeds with ``[y₂, y₂-y₁]`` and
    consumes y₃.., and both engines state the identical arithmetic in
    the identical sequence (elements are lifted into ``[y, 0.0]``
    because DuckDB's ``list_reduce`` requires accumulator and element
    types to match).  The state is an array, NOT a struct, by necessity:
    DuckDB 1.0.0's ``list_reduce`` miscomputes the SECOND field of a
    struct accumulator from the second iteration on (first field right,
    second stale — reproduced on a 3-step fold); the list-typed state
    folds correctly and Spark mirrors it verbatim.  Series with fewer
    than 3 days are excluded on both sides.

    Scale: per-key state is the (days × 16 bytes) series — the same
    bounded-sequence contract as `user_value_ewma`, with the same
    chunk-and-carry escape hatch (the fold of a concatenation is the
    fold of the tail seeded with the fold of the head — the struct
    state carries across chunks exactly like the scalar one).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("day", "o_orderdate").alias("d"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    arr = (
        daily.groupBy("priority")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "y"))),
                lambda s: s["y"],
            ).alias("ys")
        )
        .filter(F.size("ys") >= 3)
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    lifted = F.transform(
        F.expr("slice(ys, 3, size(ys) - 2)"),
        lambda y: F.array(y, F.lit(0.0)),
    )
    init = F.array(
        F.element_at("ys", 2),
        F.element_at("ys", 2) - F.element_at("ys", 1),
    )
    al = lambda c: F.element_at(c, 1)  # noqa: E731 — state accessors
    ab = lambda c: F.element_at(c, 2)  # noqa: E731
    state = F.aggregate(
        lifted,
        init,
        lambda acc, x: F.array(
            F.lit(a) * al(x) + F.lit(1 - a) * (al(acc) + ab(acc)),
            F.lit(b)
            * (
                (F.lit(a) * al(x) + F.lit(1 - a) * (al(acc) + ab(acc)))
                - al(acc)
            )
            + F.lit(1 - b) * ab(acc),
        ),
    )
    return arr.select(
        "priority",
        F.size("ys").alias("n_days"),
        F.round(al(state), 6).alias("level"),
        F.round(ab(state), 6).alias("trend"),
        F.round(al(state) + ab(state), 6).alias("forecast_next"),
    )


REVENUE_HOLT_FORECAST_ORACLE = f"""
WITH daily AS (
    SELECT o_orderpriority AS priority,
           date_trunc('day', o_orderdate) AS d,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM orders GROUP BY 1, 2
),
s AS (
    SELECT priority, array_agg(y ORDER BY d) AS ys
    FROM daily GROUP BY priority
),
f AS (
    SELECT priority, len(ys) AS n_days,
           list_reduce(
               list_prepend(
                   [ys[2], ys[2] - ys[1]],
                   list_transform(ys[3:], y -> [y, CAST(0.0 AS DOUBLE)])
               ),
               (acc, x) -> [
                   {HOLT_ALPHA!r} * x[1]
                       + {1 - HOLT_ALPHA!r} * (acc[1] + acc[2]),
                   {HOLT_BETA!r}
                       * (({HOLT_ALPHA!r} * x[1]
                           + {1 - HOLT_ALPHA!r} * (acc[1] + acc[2]))
                          - acc[1])
                       + {1 - HOLT_BETA!r} * acc[2]
               ]
           ) AS st
    FROM s WHERE len(ys) >= 3
)
SELECT priority,
       CAST(n_days AS INT) AS n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_next
FROM f
"""


# PSI drift screen: fixed-width value bins and the month-half split point.
PSI_BIN_WIDTH = 50
PSI_N_BINS = 10
PSI_SPLIT_DAY = 16  # ts day-of-month < 16 -> reference half, else current


def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    reference half-month vs current half-month — the standard ML-model
    monitoring metric for input drift (PSI = Σ (q−p)·ln(q/p); < 0.1
    stable, 0.1–0.25 moderate shift, > 0.25 action).

    Emitted per bin (bin id, both counts, both shares, the PSI
    contribution), so the report shows WHERE the distribution moved, not
    just that it did; the scalar PSI is the column sum.  Bins with a
    zero count on either side get a NULL contribution (flagged, not
    smoothed — at 100 TB a silently-Laplace-smoothed PSI hides exactly
    the novel-value drift you built the screen for).

    Plan: one grouped aggregation of the fact to ≤ PSI_N_BINS × 2 cells
    (conditional count pivot), then per-bin expressions against one-row
    broadcast totals.  ln() follows the PMI convention
    (plans/association.py): round(…, 6) on both engines.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # Clamp BOTH ends: without the greatest(), negative values would
    # mint bin ids < 0 outside the documented 0..PSI_N_BINS-1 grid.
    binned = e.select(
        F.greatest(
            F.least(
                F.floor(F.col("value") / PSI_BIN_WIDTH),
                F.lit(PSI_N_BINS - 1),
            ),
            F.lit(0),
        ).alias("bin"),
        (F.dayofmonth("ts") < PSI_SPLIT_DAY).alias("is_ref"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    totals = cells.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_ref").cast("double") / F.col("t_ref").cast("double")
    q = F.col("n_cur").cast("double") / F.col("t_cur").cast("double")
    return cells.join(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("share_ref"),
        F.round(q, 6).alias("share_cur"),
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round((q - p) * F.log(q / p), 6),
        ).alias("psi_contrib"),
    )


VALUE_PSI_DRIFT_ORACLE = f"""
WITH binned AS (
    SELECT greatest(least(CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT),
                          {PSI_N_BINS - 1}), 0) AS bin,
           day(ts) < {PSI_SPLIT_DAY} AS is_ref
    FROM events WHERE value IS NOT NULL
),
cells AS (
    SELECT bin,
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
    FROM binned GROUP BY 1
),
tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM cells)
SELECT bin, n_ref, n_cur,
       round(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE), 6) AS share_ref,
       round(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE), 6) AS share_cur,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
           round((CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)
                  - CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))
                 * ln((CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE))
                      / (CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))), 6)
       END AS psi_contrib
FROM cells CROSS JOIN tot
"""


# CUSUM tuning: slack k = CUSUM_K_SIGMA·σ absorbs normal wander, alarm at
# h = CUSUM_H_SIGMA·σ — the classic (0.5σ, 4σ) tabular-CUSUM settings.
# Halves/quarters are exactly representable so every product is one IEEE
# multiply, bit-identical on both engines.
CUSUM_K_SIGMA = 0.5
CUSUM_H_SIGMA = 4.0


def revenue_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM change-point detection over each order
    priority's daily-revenue series (Page 1954): the sequential
    recursion ``s⁺_t = max(0, s⁺_{t-1} + (y_t − μ − k))`` /
    ``s⁻_t = max(0, s⁻_{t-1} + (μ − k − y_t))`` with an alert whenever
    either statistic crosses ``h`` — the standard drift detector for
    pipeline-volume monitoring, and (like EWMA/Holt) a recursion no
    associative aggregate can express.

    Three-stage deterministic computation, every stage a fold over the
    SAME sorted daily array so both engines run identical arithmetic in
    identical order: (1) μ as a sorted-order sum / n; (2) σ as the
    population root-mean-square deviation (sorted fold of squared
    residuals); (3) the CUSUM recursion with a 3-element array state
    ``[s⁺, s⁻, n_alerts]``.  Daily revenue is exact decimal before the
    double cast, as in :func:`revenue_holt_forecast`.

    Scale: the per-key array is the bounded daily series (days × 16
    bytes); the chunk-and-carry escape hatch applies unchanged (the
    state is the fold of the head).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("day", "o_orderdate").alias("d"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    arr = (
        daily.groupBy("priority")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "y"))),
                lambda s: s["y"],
            ).alias("ys")
        )
        .filter(F.size("ys") >= 3)
    )
    fold_sum = lambda col: F.aggregate(  # noqa: E731 — sorted-order sum
        col, F.lit(0.0), lambda acc, y: acc + y
    )
    stats = arr.select(
        "priority",
        "ys",
        (fold_sum(F.col("ys")) / F.size("ys")).alias("mu"),
    ).select(
        "priority",
        "ys",
        "mu",
        F.sqrt(
            F.aggregate(
                F.col("ys"),
                F.lit(0.0),
                lambda acc, y: acc
                + (y - F.col("mu")) * (y - F.col("mu")),
            )
            / F.size("ys")
        ).alias("sigma"),
    )
    kk = F.lit(CUSUM_K_SIGMA) * F.col("sigma")
    h = F.lit(CUSUM_H_SIGMA) * F.col("sigma")
    sp = lambda acc, y: F.greatest(  # noqa: E731
        F.lit(0.0), F.element_at(acc, 1) + (y - F.col("mu") - kk)
    )
    sn = lambda acc, y: F.greatest(  # noqa: E731
        F.lit(0.0), F.element_at(acc, 2) + (F.col("mu") - kk - y)
    )
    state = F.aggregate(
        F.col("ys"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)),
        lambda acc, y: F.array(
            sp(acc, y),
            sn(acc, y),
            F.element_at(acc, 3)
            + F.when((sp(acc, y) > h) | (sn(acc, y) > h), F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        ),
    )
    # NO round() on the doubles: the fold is bit-identical cross-engine
    # (proven by construction and by bitwise comparison at sf0.001), and
    # rounding is what would DIVERGE — a value landing on a 1e-6 half-way
    # tie rounds differently under Spark's BigDecimal HALF_UP vs DuckDB's
    # multiply-by-1e6-then-round (observed: 238828.5504505 -> .550450 vs
    # .550451).  Identical bits need no stabilization.
    return stats.select(
        "priority",
        F.size("ys").alias("n_days"),
        F.col("mu"),
        F.col("sigma"),
        F.element_at(state, 1).alias("cusum_pos"),
        F.element_at(state, 2).alias("cusum_neg"),
        F.element_at(state, 3).cast("long").alias("n_alert_days"),
    )


REVENUE_CUSUM_ALERTS_ORACLE = f"""
WITH daily AS (
    SELECT o_orderpriority AS priority,
           date_trunc('day', o_orderdate) AS d,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM orders GROUP BY 1, 2
),
s AS (
    SELECT priority, array_agg(y ORDER BY d) AS ys
    FROM daily GROUP BY priority
),
m AS (
    SELECT priority, ys,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                       (acc, y) -> acc + y) / len(ys) AS mu
    FROM s WHERE len(ys) >= 3
),
v AS (
    SELECT priority, ys, mu,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                            (acc, y) -> acc + (y - mu) * (y - mu))
                / len(ys)) AS sigma
    FROM m
),
f AS (
    SELECT priority, ys, mu, sigma,
           list_reduce(
               list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0],
                            list_transform(ys, y -> [y, 0.0, 0.0])),
               (acc, x) -> [
                   greatest(0.0, acc[1]
                       + (x[1] - mu - {CUSUM_K_SIGMA!r} * sigma)),
                   greatest(0.0, acc[2]
                       + (mu - {CUSUM_K_SIGMA!r} * sigma - x[1])),
                   acc[3] + CASE WHEN
                       greatest(0.0, acc[1]
                           + (x[1] - mu - {CUSUM_K_SIGMA!r} * sigma))
                           > {CUSUM_H_SIGMA!r} * sigma
                       OR greatest(0.0, acc[2]
                           + (mu - {CUSUM_K_SIGMA!r} * sigma - x[1]))
                           > {CUSUM_H_SIGMA!r} * sigma
                       THEN 1.0 ELSE 0.0 END
               ]
           ) AS st
    FROM v
)
SELECT priority,
       CAST(len(ys) AS INT) AS n_days,
       mu,
       sigma,
       st[1] AS cusum_pos,
       st[2] AS cusum_neg,
       CAST(st[3] AS BIGINT) AS n_alert_days
FROM f
"""


def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling EXACT median of daily order revenue — the robust
    sibling of ``rolling_daily_revenue``'s moving average (a single
    outlier day drags a mean; it cannot drag a median).

    Exactness: daily revenue is carried as integer CENTS (exact decimal
    sum x 100), and the median of the <= 7-row frame is computed from
    the sorted frame array as ``(arr[(n+1)/2] + arr[n/2+1]) / 2.0`` —
    for odd n both indexes hit the middle element, for even n they
    bracket it; the half-sum of two exact integers is an exact double.
    DuckDB's ``median`` over BIGINT interpolates identically.

    Scale: same argument as ``rolling_daily_revenue``
    (plans/relational.py:366) — the global-ordered window runs on ONE
    row per day, bounded by the calendar, after a map-side-combinable
    corpus aggregation; the frame array holds <= 7 bigints.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("order_date")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("day_cents")
    )
    w = Window.orderBy("order_date").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("day_cents").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, F.floor(n / 2 + 1).cast("int"))
    return daily.select(
        "order_date",
        "day_cents",
        ((lo + hi) / 2.0).alias("median_7d_cents"),
    )


ROLLING_MEDIAN_REVENUE_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', o_orderdate) AS order_date,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS day_cents
    FROM orders GROUP BY 1
)
SELECT order_date, day_cents,
       median(day_cents) OVER (ORDER BY order_date
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS median_7d_cents
FROM daily
"""


# Poisson bootstrap: B replicates, each row's multiplicity drawn as
# Poisson(1) — the resampling scheme that actually works on distributed
# data (Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google TR 2012): classic bootstrap needs a global
# sample-with-replacement (driver-side state), Poisson(1) multiplicities
# are row-local and i.i.d., so each replicate is one map expression.
# The draw is the inverse Poisson CDF applied to a Lehmer content hash
# of (orderkey, replicate) — deterministic, engine-portable, no RNG.
BOOT_REPLICATES = 24
BOOT_SALT = 7919  # decorrelates replicates inside the Lehmer hash
_POIS_CDF = (
    0.36787944117144233,  # P(X<=0), X ~ Poisson(1)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)  # else multiplicity 6 (P ~ 6e-4); E[w]=1 exactly in the limit


def revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the mean order value: ``B``
    deterministic replicates of mean ``o_totalprice``, from which a
    caller reads the bootstrap SE / percentile CI — the "error bars on
    a 100 TB aggregate" primitive, since resampling 10¹² rows with
    replacement is impossible but row-local Poisson(1) multiplicities
    are free.

    Determinism (the repo-wide discipline): the multiplicity is the
    inverse Poisson CDF of a two-round Lehmer hash over
    ``orderkey + replicate·salt`` — a pure function of the data, so
    replicates are identical across engines/partitionings/reruns and
    the per-replicate means hash-gate exactly.  Sums are exact integer
    cents; the only doubles are the final divisions, textually mirrored
    in the oracle.

    Scale: the replicate axis is a map-side ``explode`` (B× row blowup
    that immediately partial-aggregates to B rows per task before the
    exchange — the shuffle carries B × n_partitions rows, never B × n).
    """
    from data_pipelines_using_llm_spark.sources.tables import spread_to_cores

    # the B× replicate explode runs inside the scan task — a sub-128MB
    # orders scan is ONE task, so the 30M generated rows (and the
    # Lehmer hash + CDF + decimal partials over them) were
    # single-threaded.  Spread the 150k base rows across the cores
    # first (no-op at scale, where the scan is already wide); the
    # replicate sums are order-free exact, so partitioning cannot
    # change a bit.
    o = spread_to_cores(load_table(spark, sf_dir, "orders"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    rows = o.select(
        F.col("o_orderkey"),
        cents.alias("cents"),
        F.explode(
            F.sequence(F.lit(1), F.lit(BOOT_REPLICATES))
        ).alias("replicate"),
    )
    h = (
        (F.col("o_orderkey") + F.col("replicate") * BOOT_SALT)
        % LEHMER_M
        * LEHMER_A
        % LEHMER_M
    ) * LEHMER_A % LEHMER_M
    u = (h + 1).cast("double") / F.lit(LEHMER_M).cast("double")
    w = (
        F.when(u <= _POIS_CDF[0], F.lit(0))
        .when(u <= _POIS_CDF[1], F.lit(1))
        .when(u <= _POIS_CDF[2], F.lit(2))
        .when(u <= _POIS_CDF[3], F.lit(3))
        .when(u <= _POIS_CDF[4], F.lit(4))
        .when(u <= _POIS_CDF[5], F.lit(5))
        .otherwise(F.lit(6))
        .cast("long")
    )
    return (
        rows.select("replicate", w.alias("w"), "cents")
        .groupBy("replicate")
        .agg(
            F.sum("w").alias("n_eff"),
            # DECIMAL: Σ w·cents ~2e19 at a 100 TB order table, past
            # int64 (the PMI overflow lesson, plans/association.py)
            F.sum(
                F.col("w").cast("decimal(2,0)")
                * F.col("cents").cast("decimal(18,0)")
            ).alias("wcents"),
        )
        .select(
            "replicate",
            "n_eff",
            F.round(
                F.col("wcents").cast("double")
                / 100.0
                / F.col("n_eff").cast("double"),
                6,
            ).alias("boot_mean"),
        )
    )


REVENUE_BOOTSTRAP_CI_ORACLE = f"""
WITH rows_r AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           g.g AS replicate
    FROM orders, generate_series(1, {BOOT_REPLICATES}) g(g)
),
drawn AS (
    SELECT replicate, cents,
           CAST(CASE
             WHEN u <= {_POIS_CDF[0]!r} THEN 0
             WHEN u <= {_POIS_CDF[1]!r} THEN 1
             WHEN u <= {_POIS_CDF[2]!r} THEN 2
             WHEN u <= {_POIS_CDF[3]!r} THEN 3
             WHEN u <= {_POIS_CDF[4]!r} THEN 4
             WHEN u <= {_POIS_CDF[5]!r} THEN 5
             ELSE 6 END AS BIGINT) AS w
    FROM (
        SELECT replicate, cents,
               CAST(((o_orderkey + replicate * {BOOT_SALT})
                     % {LEHMER_M} * {LEHMER_A} % {LEHMER_M})
                    * {LEHMER_A} % {LEHMER_M} + 1 AS DOUBLE)
               / CAST({LEHMER_M} AS DOUBLE) AS u
        FROM rows_r
    )
)
SELECT replicate,
       CAST(sum(w) AS BIGINT) AS n_eff,
       round(CAST(sum(CAST(w AS DECIMAL(2,0))
                      * CAST(cents AS DECIMAL(18,0))) AS DOUBLE) / 100.0
             / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE), 6) AS boot_mean
FROM drawn GROUP BY replicate
"""


def daily_revenue_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order revenue: the MEDIAN of all
    pairwise day-to-day slopes — a single outlier day (a backfill spike,
    a dropped partition) moves OLS arbitrarily but moves a median of
    O(days²) slopes not at all (29.3% breakdown point).

    Exactness: daily revenue is exact integer cents; every slope is one
    double division of exact integers; the median is EXPLICIT middle
    selection over a totally-ordered sort (slope, di_a, di_b) — no
    engine-specific interpolating ``median()`` on either side.

    Scale: the corpus collapses to one row per calendar day first
    (map-side combinable), so the pair set is calendar-bounded —
    ~2.5k days → ~3M pairs — CONSTANT in data size; pair generation is
    an equi-join against the broadcast day table (explode of the day
    index, no nested-loop); the single-partition median sort handles a
    fixed ~3M doubles regardless of SF.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier

    o = load_table(spark, sf_dir, "orders")
    daily = barrier(
        o.groupBy(
            F.datediff(
                F.col("o_orderdate"), F.lit(TREND_EPOCH).cast("timestamp")
            )
            .cast("long")
            .alias("di")
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    mn = daily.agg(F.min("di").alias("di_min"))
    d0 = daily.crossJoin(F.broadcast(mn)).select(
        (F.col("di") - F.col("di_min")).alias("di0"), "cents"
    )
    a = F.broadcast(
        d0.select(F.col("di0").alias("di_a"), F.col("cents").alias("cents_a"))
    )
    # di0 == 0 (the min day) has no earlier partner; filtering it also
    # keeps sequence() ascending (sequence(0, -1) would DESCEND).
    gen = d0.filter(F.col("di0") > 0).select(
        F.col("di0").alias("di_b"),
        F.col("cents").alias("cents_b"),
        F.explode(F.sequence(F.lit(0), F.col("di0") - 1)).alias("di_a"),
    )
    slopes = gen.join(a, "di_a").select(
        "di_a",
        "di_b",
        (
            (F.col("cents_b") - F.col("cents_a")).cast("double")
            / (F.col("di_b") - F.col("di_a")).cast("double")
            / 100.0
        ).alias("slope"),
    )
    # (n_pairs, n_days) from the persisted DAY table, not a second full
    # pair-generation pass (r14): the slope set is exactly all ordered
    # pairs of existing days — n_pairs = C(n, 2) and every day except
    # the max appears as a di_a partner, so countDistinct(di_a) + 1 = n.
    # Same values as aggregating `slopes`, at day-table cost.
    m = daily.agg(
        (
            F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2
        ).cast("long").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = Window.orderBy("slope", "di_a", "di_b")
    mid = (
        slopes.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(
            (F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n_pairs") / 2) + 1)
        )
    )
    return mid.groupBy("n_days", "n_pairs").agg(
        F.round(F.avg("slope"), 6).alias("theil_sen_slope")
    )


DAILY_REVENUE_THEIL_SEN_ORACLE = f"""
WITH daily AS (
    SELECT CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00',
                         o_orderdate) AS BIGINT) AS di,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
),
d0 AS (SELECT di - (SELECT min(di) FROM daily) AS di0, cents FROM daily),
slopes AS (
    SELECT a.di0 AS di_a, b.di0 AS di_b,
           CAST(b.cents - a.cents AS DOUBLE)
           / CAST(b.di0 - a.di0 AS DOUBLE) / 100.0 AS slope
    FROM d0 a JOIN d0 b ON a.di0 < b.di0
),
m AS (SELECT count(*) AS n_pairs,
             count(DISTINCT di_a) + 1 AS n_days FROM slopes),
r AS (
    SELECT slope, row_number() OVER (ORDER BY slope, di_a, di_b) AS rn
    FROM slopes
)
SELECT n_days, n_pairs, round(avg(slope), 6) AS theil_sen_slope
FROM r, m
WHERE rn = CAST(floor((n_pairs + 1) / 2) AS BIGINT)
   OR rn = CAST(floor(n_pairs / 2) AS BIGINT) + 1
GROUP BY n_days, n_pairs
"""


ACF_MAX_LAG = 10


def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order revenue at lags 1..10 —
    the seasonality probe behind "is revenue weekly-periodic" (a spike
    at lag 7) and the stationarity check an anomaly detector needs
    before thresholding residuals.

    Definition: Pearson correlation between the day-``d`` and
    day-``d+lag`` revenue series over all available pairs (the
    pairwise-complete sample ACF).  Cross-engine exactness: daily
    revenue is exact integer cents; all five power sums per lag run in
    DECIMAL(38,0) (cents×cents ≈ 1e18 would overflow a running int64
    sum, and non-ANSI Spark would wrap silently where DuckDB raises);
    the correlation is one double expression over exactly-computed
    sums, textually mirrored in the oracle.

    Scale: the corpus collapses to one row per calendar day first
    (map-side combinable), the lag expansion is a 10× explode of the
    CALENDAR-sized day table joined back to itself on an equi-key
    (day index), and the final aggregation emits 10 rows.  Nothing
    downstream of the first groupBy scales with data size.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier

    o = load_table(spark, sf_dir, "orders")
    daily = barrier(
        o.groupBy(
            F.datediff(
                F.col("o_orderdate"), F.lit(TREND_EPOCH).cast("timestamp")
            )
            .cast("long")
            .alias("di")
        ).agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    lagged = daily.select(
        "di",
        F.col("cents").alias("cents_b"),
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
    ).select((F.col("di") - F.col("lag")).alias("di"), "lag", "cents_b")
    pairs = daily.select("di", F.col("cents").alias("cents_a")).join(
        lagged, "di"
    )
    x = F.col("cents_a").cast("decimal(18,0)")
    y = F.col("cents_b").cast("decimal(18,0)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxy = F.sum(x * y).cast("double")
    sx2 = F.sum(x * x).cast("double")
    sy2 = F.sum(y * y).cast("double")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                (n * sxy - sx * sy)
                / (
                    F.sqrt(n * sx2 - sx * sx)
                    * F.sqrt(n * sy2 - sy * sy)
                ),
                6,
            ).alias("acf"),
        )
        .select("lag", "n_pairs", "acf")
    )


DAILY_REVENUE_ACF_ORACLE = f"""
WITH daily AS (
    SELECT CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00',
                         o_orderdate) AS BIGINT) AS di,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
),
pairs AS (
    SELECT g.g AS lag,
           CAST(a.cents AS DECIMAL(18,0)) AS x,
           CAST(b.cents AS DECIMAL(18,0)) AS y
    FROM daily a
    JOIN generate_series(1, {ACF_MAX_LAG}) g(g) ON true
    JOIN daily b ON b.di = a.di + g.g
),
s AS (
    SELECT lag, CAST(count(*) AS DOUBLE) AS n, count(*) AS n_pairs,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * y) AS DOUBLE) AS sxy,
           CAST(sum(x * x) AS DOUBLE) AS sx2,
           CAST(sum(y * y) AS DOUBLE) AS sy2
    FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       round((n * sxy - sx * sy)
             / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)),
             6) AS acf
FROM s
"""


def value_mad_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EXACT median and median-absolute-deviation of
    ``value`` — the robust location/scale pair (50% breakdown) that
    survives the contaminated heavy tails where mean/stddev thresholds
    (value_outliers) drown: MAD-based z-scores are the standard robust
    outlier gate.

    Exactness: both medians are EXPLICIT middle selection (the
    theil_sen discipline — never an engine's interpolating median()):
    the selected middle sum is divided by its row count (1 or 2), and
    division by 2 is exact in IEEE, so the medians are bit-identical
    cross-engine; deviations are single double subtractions of
    identical doubles.

    Scale: two ranking passes, each a per-type window sort (hash
    partition by event_type, sort within — distributed, skew handled
    by AQE; no global sort, no collect).  The per-type counts join
    back as a |types|-row broadcast.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select("event_type", F.col("value").cast("double").alias("v"))
    counts = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w1 = Window.partitionBy("event_type").orderBy("v")
    mid = (
        base.withColumn("rn", F.row_number().over(w1))
        .join(F.broadcast(counts), "event_type")
        .filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
        )
        .groupBy("event_type")
        .agg((F.sum("v") / F.count(F.lit(1))).alias("med"))
    )
    dev = base.join(F.broadcast(mid), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("d"), "med"
    )
    w2 = Window.partitionBy("event_type").orderBy("d")
    return (
        dev.withColumn("rn", F.row_number().over(w2))
        .join(F.broadcast(counts), "event_type")
        .filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
        )
        .groupBy("event_type", "n", "med")
        .agg((F.sum("d") / F.count(F.lit(1))).alias("mad"))
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad_value"),
        )
    )


VALUE_MAD_PROFILE_ORACLE = """
WITH base AS (
    SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
    WHERE value IS NOT NULL
),
counts AS (SELECT event_type, count(*) AS n FROM base GROUP BY 1),
r1 AS (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
    FROM base
),
med AS (
    SELECT r1.event_type, sum(v) / count(*) AS med
    FROM r1 JOIN counts c ON c.event_type = r1.event_type
    WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
       OR rn = CAST(floor(n / 2) AS BIGINT) + 1
    GROUP BY r1.event_type
),
dev AS (
    SELECT b.event_type, abs(b.v - m.med) AS d, m.med
    FROM base b JOIN med m ON m.event_type = b.event_type
),
r2 AS (
    SELECT event_type, d, med,
           row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
    FROM dev
)
SELECT r2.event_type, n AS n_events,
       round(med, 6) AS median_value,
       round(sum(d) / count(*), 6) AS mad_value
FROM r2 JOIN counts c ON c.event_type = r2.event_type
WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
   OR rn = CAST(floor(n / 2) AS BIGINT) + 1
GROUP BY r2.event_type, n, med
"""


MW_GROUP_A = "purchase"
MW_GROUP_B = "click"


def mann_whitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test for a value-distribution shift between
    ``purchase`` and ``click`` events — the nonparametric two-sample
    location test (no normality assumption) behind "did the metric
    distribution move between segments/releases", with the normal
    approximation z-score (tie-corrected).

    Exactness: rather than ranking n rows, the corpus collapses to the
    per-DISTINCT-VALUE histogram (bounded by the value grid, not the
    corpus) and U is recovered from integer cumulative counts:
    ``U1 = Σ_v n2(v)·cumA(<v) + ½·Σ_v n1(v)·n2(v)`` — each product an
    exact decimal(38,0) (19-digit operands; cum_a is cumulative so
    products pass int64 range at 100 TB); the tie correction Σ(t³−t)
    is likewise exact under a documented <1e12-per-distinct-value
    bound.  Only the final z expression is double, textually mirrored.

    Scale: one grouped aggregation to the histogram (map-side
    combinable), one ordered prefix-sum window over DISTINCT values
    (grid-bounded — 4096-partition safety does not apply; documented
    single-partition window like daily_revenue_theil_sen's median),
    one scalar aggregation.  At 100 TB the histogram is the only
    corpus-sized pass.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(MW_GROUP_A, MW_GROUP_B)
    )
    h = e.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == MW_GROUP_A, 1).otherwise(0)
        ).alias("n1v"),
        F.sum(
            F.when(F.col("event_type") == MW_GROUP_B, 1).otherwise(0)
        ).alias("n2v"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    h2 = h.withColumn("cum_a", F.coalesce(F.sum("n1v").over(w), F.lit(0)))
    # Wide decimals for the U sums: cum_a is a CUMULATIVE count, so at
    # 100 TB a single product n2v·cumA can pass 1e22 — decimal(19,0)
    # operands give an exact decimal(38,0) product on both engines
    # (int64 silently wraps under non-ANSI Spark while DuckDB raises —
    # the PMI overflow lesson, plans/association.py).  The two product
    # sums are kept separate (u1 = Σa + Σb/2 at the double stage)
    # because a leading ×2 would push the product past both engines'
    # 38-digit cap.  The tie term stays decimal(12,0) PER CELL: a
    # single tied value with t > 1e12 observations would put t³ past
    # 1e36 — beyond decimal(38) headroom regardless of operand width —
    # so the documented contract is < 1e12 observations per distinct
    # value (the value grid is continuous here; a genuinely 1e12-deep
    # tie means the column is categorical and rank tests don't apply).
    td = F.col("n1v").cast("decimal(12,0)") + F.col("n2v").cast(
        "decimal(12,0)"
    )
    agg = h2.agg(
        F.sum("n1v").alias("n1"),
        F.sum("n2v").alias("n2"),
        F.sum(
            F.col("n2v").cast("decimal(19,0)")
            * F.col("cum_a").cast("decimal(19,0)")
        ).alias("u_a"),
        F.sum(
            F.col("n1v").cast("decimal(19,0)")
            * F.col("n2v").cast("decimal(19,0)")
        ).alias("u_b"),
        F.sum(td * td * td - td).alias("tie_term"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    u1 = F.col("u_a").cast("double") + F.col("u_b").cast("double") / 2.0
    sigma2 = (
        n1
        * n2
        / 12.0
        * (
            (nn + 1.0)
            - F.col("tie_term").cast("double") / (nn * (nn - 1.0))
        )
    )
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(sigma2), 6).alias("z_score"),
    )


MANN_WHITNEY_VALUE_SHIFT_ORACLE = f"""
WITH h AS (
    SELECT value,
           sum(CASE WHEN event_type = '{MW_GROUP_A}' THEN 1 ELSE 0 END)
               AS n1v,
           sum(CASE WHEN event_type = '{MW_GROUP_B}' THEN 1 ELSE 0 END)
               AS n2v
    FROM events
    WHERE value IS NOT NULL
      AND event_type IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
    GROUP BY value
),
c AS (
    SELECT n1v, n2v,
           coalesce(sum(n1v) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_a
    FROM h
),
agg AS (
    SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
           sum(CAST(n2v AS DECIMAL(19,0))
                   * CAST(cum_a AS DECIMAL(19,0))) AS u_a,
           sum(CAST(n1v AS DECIMAL(19,0))
                   * CAST(n2v AS DECIMAL(19,0))) AS u_b,
           sum(CAST(n1v + n2v AS DECIMAL(12,0))
                   * CAST(n1v + n2v AS DECIMAL(12,0))
                   * CAST(n1v + n2v AS DECIMAL(12,0))
               - CAST(n1v + n2v AS DECIMAL(12,0))) AS tie_term
    FROM c
)
SELECT n1, n2,
       CAST(u_a AS DOUBLE) + CAST(u_b AS DOUBLE) / 2.0 AS u1,
       round((CAST(u_a AS DOUBLE) + CAST(u_b AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                    * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                       - CAST(tie_term AS DOUBLE)
                         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                               - 1.0)))),
             6) AS z_score
FROM agg
"""


KM_CENSOR_DAYS = 365  # last order within this window of corpus end => censored


def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer ordering lifetimes —
    S(t) = P(customer still ordering after t days), the standard
    right-censored churn estimator: a customer whose LAST order falls
    within ``KM_CENSOR_DAYS`` of the corpus end is censored (still
    alive), not churned — dropping censoring (naive churn-rate
    queries) biases survival DOWN.

    Lifetime = days between first and last order.  Per distinct
    lifetime t: d(t) churned, c(t) censored, n(t) at risk (everyone
    with lifetime ≥ t); the product-limit estimate multiplies
    (1 − d/n) over t' ≤ t, computed as exp(Σ ln·) with the
    all-dead → S=0 edge handled by an explicit zero-factor flag (Spark
    ln(0) yields NULL while DuckDB yields -inf, so the zero case never
    reaches ln on either engine).

    Scale: the corpus collapses to one row per customer (map-side
    combinable min/max), then to one row per DISTINCT lifetime
    (calendar-bounded ≤ ~2.4k); the cumulative windows run over that
    tiny ordered table.  The corpus-end scalar is a broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("max_d"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("last_d", "first_d").cast("long").alias("t"),
            F.when(
                F.col("last_d")
                < F.col("max_d") - F.expr(f"INTERVAL {KM_CENSOR_DAYS} DAYS"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("churned"),
        )
    )
    km = per_cust.groupBy("t").agg(
        F.sum("churned").alias("d"),
        F.sum(1 - F.col("churned")).alias("c"),
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km2 = km.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    factor = (F.col("n_risk") - F.col("d")).cast("double") / F.col(
        "n_risk"
    ).cast("double")
    km3 = km2.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.when(factor > 0, F.log(factor)).otherwise(F.lit(0.0)).alias("lf"),
        F.when(factor == 0, F.lit(1)).otherwise(F.lit(0)).alias("zf"),
    )
    return km3.select(
        "t",
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.when(F.sum("zf").over(w_cum) > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("lf").over(w_cum)), 6))
        .alias("survival"),
    )


CUSTOMER_SURVIVAL_KM_ORACLE = f"""
WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
per_cust AS (
    SELECT CAST(datediff('day', min(o_orderdate), max(o_orderdate))
               AS BIGINT) AS t,
           CASE WHEN max(o_orderdate)
                     < (SELECT max_d FROM mx) - INTERVAL {KM_CENSOR_DAYS} DAY
                THEN 1 ELSE 0 END AS churned
    FROM orders GROUP BY o_custkey
),
km AS (
    SELECT t, CAST(sum(churned) AS BIGINT) AS d,
           CAST(sum(1 - churned) AS BIGINT) AS c
    FROM per_cust GROUP BY t
),
km2 AS (
    SELECT t, d, c,
           CAST(sum(d + c) OVER () -
                coalesce(sum(d + c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
    FROM km
),
km3 AS (
    SELECT t, d, c, n_risk,
           CASE WHEN CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) > 0
                THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                ELSE 0.0 END AS lf,
           CASE WHEN CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) = 0
                THEN 1 ELSE 0 END AS zf
    FROM km2
)
SELECT t, n_risk AS n_at_risk, d AS n_churned, c AS n_censored,
       CASE WHEN sum(zf) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
            THEN 0.0
            ELSE round(exp(sum(lf) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       END AS survival
FROM km3
"""


STL_HALF_WIN = 3  # centered trend window: di in [d-3, d+3]
STL_Q = float(1 << 20)  # quantum for the order-free seasonal fold


def daily_revenue_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass STL-style decomposition of daily revenue into trend +
    day-of-week seasonal + residual — the pre-processing an anomaly
    detector needs before thresholding (raw daily revenue mixes weekly
    seasonality into every z-score; hourly_anomalies has the same
    problem on the hour axis).

    Trend is a CENTERED 7-day moving average via a RANGE window on the
    day index (gap-safe: missing calendar days shrink the window
    instead of smearing it); seasonal is the day-of-week mean of the
    detrended series; residual is what's left.  One pass, no iteration
    — the classic decompose() shape rather than full Loess STL, which
    is the right cost point for a drift monitor.

    Determinism: trend = exact-integer window sums (Σcents, count)
    divided once; detrended values are doubles, so the day-of-week
    seasonal MEAN quantizes each detrended value to ``floor(x·2^20)``
    int64 before summing (order-free, the PageRank-fold discipline) —
    never a raw double sum across rows.  Day-of-week is ``di % 7``
    (epoch-anchored, engine-identical; never locale dayofweek).

    Scale: corpus → one row per calendar day (map-side combinable);
    the RANGE window, the 7-row seasonal aggregate, and the final
    join all run on the calendar-bounded day table.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit(TREND_EPOCH).cast("timestamp"))
        .cast("long")
        .alias("di")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = (
        Window.orderBy("di")
        .rangeBetween(-STL_HALF_WIN, STL_HALF_WIN)
    )
    dt = daily.select(
        "di",
        (F.col("di") % 7).alias("dow"),
        "cents",
        (
            F.sum("cents").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("trend_cents"),
    ).select(
        "di",
        "dow",
        "cents",
        "trend_cents",
        (F.col("cents").cast("double") - F.col("trend_cents")).alias(
            "detr"
        ),
    )
    seas = dt.groupBy("dow").agg(
        (
            F.sum(
                F.floor(F.col("detr") * F.lit(STL_Q)).cast("long")
            ).cast("double")
            / F.lit(STL_Q)
            / F.count(F.lit(1)).cast("double")
        ).alias("seasonal_cents")
    )
    return dt.join(F.broadcast(seas), "dow").select(
        "di",
        "dow",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        F.round(F.col("trend_cents") / 100.0, 6).alias("trend"),
        F.round(F.col("seasonal_cents") / 100.0, 6).alias("seasonal"),
        F.round(
            (F.col("detr") - F.col("seasonal_cents")) / 100.0, 6
        ).alias("residual"),
    )


DAILY_REVENUE_STL_ORACLE = f"""
WITH daily AS (
    SELECT CAST(datediff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00',
                         o_orderdate) AS BIGINT) AS di,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
),
dt AS (
    SELECT di, di % 7 AS dow, cents,
           CAST(sum(cents) OVER w AS DOUBLE)
               / CAST(count(*) OVER w AS DOUBLE) AS trend_cents,
           CAST(cents AS DOUBLE)
               - CAST(sum(cents) OVER w AS DOUBLE)
                 / CAST(count(*) OVER w AS DOUBLE) AS detr
    FROM daily
    WINDOW w AS (ORDER BY di
                 RANGE BETWEEN {STL_HALF_WIN} PRECEDING
                           AND {STL_HALF_WIN} FOLLOWING)
),
seas AS (
    SELECT dow,
           CAST(sum(CAST(floor(detr * {STL_Q!r}) AS BIGINT)) AS DOUBLE)
               / {STL_Q!r} / CAST(count(*) AS DOUBLE) AS seasonal_cents
    FROM dt GROUP BY 1
)
SELECT di, dt.dow, round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       round(trend_cents / 100.0, 6) AS trend,
       round(seasonal_cents / 100.0, 6) AS seasonal,
       round((detr - seasonal_cents) / 100.0, 6) AS residual
FROM dt JOIN seas ON seas.dow = dt.dow
"""


AB_CONVERT_TYPE = "purchase"


def conversion_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between user cohorts A/B (``user_id % 2``)
    on purchase conversion — the experimentation primitive: "did the
    treatment cohort convert at a different rate", with the pooled-
    variance normal approximation.

    Everything up to the final expression is exact integers (distinct
    user counts); the z-score is one double expression textually
    mirrored in the oracle.  Scale: one distinct-aggregation pass over
    events (map-side partial on (cohort, user)), two tiny rows out —
    the denominator/numerator counts are the only corpus-sized work.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    per_user = e.groupBy(
        (F.col("user_id") % 2).alias("cohort"), "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == AB_CONVERT_TYPE, 1).otherwise(0)
        ).alias("converted")
    )
    c = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    a = c.filter(F.col("cohort") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("conv_a")
    )
    b = c.filter(F.col("cohort") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("conv_b")
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    # degenerate pooled rates (nobody / everybody converted) have a zero
    # pooled variance: the test carries no evidence, define z = 0 rather
    # than divide by zero (ANSI Spark raises, DuckDB returns inf)
    z = F.when((pp > 0.0) & (pp < 1.0),
               (pa - pb)
               / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
               ).otherwise(F.lit(0.0))
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            "n_a",
            "conv_a",
            "n_b",
            "conv_b",
            F.round(pa, 6).alias("rate_a"),
            F.round(pb, 6).alias("rate_b"),
            F.round(z, 6).alias("z_score"),
        )
    )


CONVERSION_AB_ZTEST_ORACLE = f"""
WITH per_user AS (
    SELECT user_id % 2 AS cohort, user_id,
           max(CASE WHEN event_type = '{AB_CONVERT_TYPE}' THEN 1 ELSE 0 END)
               AS converted
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1, 2
),
c AS (
    SELECT cohort, count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted
    FROM per_user GROUP BY 1
)
SELECT a.n_users AS n_a, a.n_converted AS conv_a,
       b.n_users AS n_b, b.n_converted AS conv_b,
       round(CAST(a.n_converted AS DOUBLE) / CAST(a.n_users AS DOUBLE), 6)
           AS rate_a,
       round(CAST(b.n_converted AS DOUBLE) / CAST(b.n_users AS DOUBLE), 6)
           AS rate_b,
       round(CASE WHEN CAST(a.n_converted + b.n_converted AS DOUBLE)
                       / CAST(a.n_users + b.n_users AS DOUBLE) > 0.0
                   AND CAST(a.n_converted + b.n_converted AS DOUBLE)
                       / CAST(a.n_users + b.n_users AS DOUBLE) < 1.0
             THEN (CAST(a.n_converted AS DOUBLE) / CAST(a.n_users AS DOUBLE)
                   - CAST(b.n_converted AS DOUBLE) / CAST(b.n_users AS DOUBLE))
                  / sqrt(CAST(a.n_converted + b.n_converted AS DOUBLE)
                         / CAST(a.n_users + b.n_users AS DOUBLE)
                         * (1.0 - CAST(a.n_converted + b.n_converted AS DOUBLE)
                                  / CAST(a.n_users + b.n_users AS DOUBLE))
                         * (1.0 / CAST(a.n_users AS DOUBLE)
                            + 1.0 / CAST(b.n_users AS DOUBLE)))
             ELSE 0.0 END,
             6) AS z_score
FROM (SELECT * FROM c WHERE cohort = 0) a,
     (SELECT * FROM c WHERE cohort = 1) b
"""


TRIM_PCT = 0.05  # two-sided trim / winsorize fraction


def value_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 5% trimmed mean and winsorized mean of ``value`` —
    the robust means between the raw mean (outlier-hostage) and the
    median (throws away 98% of the data): trimming DROPS each tail,
    winsorizing CLAMPS it to the cut values.

    Exactness: ranks via per-type row_number; k = floor(0.05·n); the
    trimmed mean is an exact DECIMAL sum over ranks (k, n−k] divided
    once; the winsorized mean replaces the bottom k values by the
    value AT rank k+1 and the top k by the value at rank n−k —
    k·bound is exact decimal multiplication, so both numerators are
    exact before the single double division.

    Scale: one per-type window sort (the value_mad_profile shape),
    one aggregation, a |types|-row broadcast of the cut values.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "event_type", F.col("value").cast("decimal(18,2)").alias("v")
    )
    counts = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("v")
    ranked = base.withColumn("rn", F.row_number().over(w)).join(
        F.broadcast(counts), "event_type"
    )
    k = F.floor(F.col("n") * TRIM_PCT)
    bounds = (
        ranked.filter(
            (F.col("rn") == k + 1) | (F.col("rn") == F.col("n") - k)
        )
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    rb = ranked.join(F.broadcast(bounds), "event_type")
    trim_sum = F.sum(
        F.when((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k), F.col("v"))
    )
    wins_sum = F.sum(
        F.when(F.col("rn") <= k, F.col("lo"))
        .when(F.col("rn") > F.col("n") - k, F.col("hi"))
        .otherwise(F.col("v"))
    )
    return rb.groupBy("event_type", "n").agg(
        trim_sum.alias("ts"),
        wins_sum.alias("ws"),
        F.max(k).alias("k"),
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("k").alias("n_trimmed_each_side"),
        F.round(
            F.col("ts").cast("double")
            / (F.col("n") - 2 * F.col("k")).cast("double"),
            6,
        ).alias("trimmed_mean"),
        F.round(
            F.col("ws").cast("double") / F.col("n").cast("double"), 6
        ).alias("winsorized_mean"),
    )


VALUE_TRIMMED_STATS_ORACLE = f"""
WITH base AS (
    SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events
    WHERE value IS NOT NULL
),
counts AS (SELECT event_type, count(*) AS n FROM base GROUP BY 1),
ranked AS (
    SELECT b.event_type, v, n,
           row_number() OVER (PARTITION BY b.event_type ORDER BY v) AS rn,
           CAST(floor(n * {TRIM_PCT!r}) AS BIGINT) AS k
    FROM base b JOIN counts c ON c.event_type = b.event_type
),
bounds AS (
    SELECT event_type, min(v) AS lo, max(v) AS hi
    FROM ranked WHERE rn = k + 1 OR rn = n - k
    GROUP BY 1
)
SELECT r.event_type, n AS n_events, k AS n_trimmed_each_side,
       round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v END)
                 AS DOUBLE) / CAST(n - 2 * k AS DOUBLE), 6)
           AS trimmed_mean,
       round(CAST(sum(CASE WHEN rn <= k THEN lo
                           WHEN rn > n - k THEN hi
                           ELSE v END) AS DOUBLE) / CAST(n AS DOUBLE), 6)
           AS winsorized_mean
FROM ranked r JOIN bounds bo ON bo.event_type = r.event_type
GROUP BY r.event_type, n, k
"""


# The design of each OLS row: one (term, alias, Spark SQL, DuckDB SQL)
# per feature, and its row filter (the same SQL in both engines).  The
# Spark side is an expression string, not a Column, because a Column
# needs a live session and these tables are built at import.
# dayofweek is offset +1 in DuckDB to Spark's 1 = Sunday; weekofyear is
# ISO in both engines.
_OLS_CALENDAR = [
    ("hour", "h", "hour(ts)", "hour(ts)"),
    ("dow", "dw", "dayofweek(ts)", "dayofweek(ts) + 1"),
    ("dom", "dom", "dayofmonth(ts)", "day(ts)"),
    ("minute", "mi", "minute(ts)", "minute(ts)"),
    ("second", "ss", "second(ts)", "CAST(date_part('second', ts) AS BIGINT)"),
]
# The 9-feature row adds the ISO week (a STEP function of day-of-month
# in the single-month corpus — linearly independent, unlike month /
# quarter / day-of-year, which are constant or exactly collinear there)
# and three entity-derived integers: user_id, user_id % 7 (independent
# of user_id because the 0..14 range wraps) and the event-type length.
_OLS_ENTITY = [
    ("week", "wk", "weekofyear(ts)", "weekofyear(ts)"),
    ("user_id", "uid", "user_id", "user_id"),
    ("user_mod7", "u7", "user_id % 7", "user_id % 7"),
    ("type_len", "tl", "length(event_type)", "length(event_type)"),
]
_OLS_WHERE = "value IS NOT NULL AND ts IS NOT NULL"
_OLS_ROWS = {
    "event_value_ols_trend": (
        _OLS_CALENDAR[:2],
        _OLS_WHERE,
        "multiple regression value ~ hour + dow: one-pass normal-equation "
        "moments + fixed-pivot Gauss-Jordan solve, fit hash-gated end to end",
    ),
    "event_value_ols_3feat": (
        _OLS_CALENDAR[:3],
        _OLS_WHERE,
        "multiple regression value ~ hour + dow + day-of-month: 14 "
        "one-pass moments, 4x4 fixed-pivot elimination",
    ),
    "event_value_ols_5feat": (
        _OLS_CALENDAR,
        _OLS_WHERE,
        "wide regression value ~ hour + dow + dom + minute + second: "
        "6x6 fixed-pivot Gauss-Jordan, one oracle CTE per pivot stating "
        "the identical update tree",
    ),
    "event_value_ols_9feat": (
        _OLS_CALENDAR + _OLS_ENTITY,
        _OLS_WHERE + " AND user_id IS NOT NULL AND event_type IS NOT NULL",
        "wide regression over 9 features (calendar + ISO week + "
        "entity-derived integers) at the GAUSS_MAX_D boundary: "
        "77 one-pass moments, 10x10 fixed-pivot elimination, "
        "bit-identical trajectories both engines",
    ),
}


def _ols_row(
    spark: SparkSession, sf_dir: str, design: list, where: str
) -> DataFrame:
    """Multiple linear regression ``value ~ b0 + Σ bj·xj`` over the
    ``events`` rows that pass ``where``, fit in ONE corpus scan
    (operators/learn.py::ols_fit_gauss): map-side-combinable
    normal-equation moments (X^T X exact int64 — the features are small
    integers; X^T y quantized order-free), then the fixed-pivot
    Gauss–Jordan elimination on the driver.  :func:`_ols_oracle` states
    the same moments and the same elimination schedule, so the whole
    fit, solve included, sits under the hash gate.  The one-pass-moments
    discipline is this pack's power-sum trick generalized from simple to
    MULTIPLE regression (value_trend_slope is the 1-feature case)."""
    feats = load_table(spark, sf_dir, "events").filter(where).select(
        *(F.expr(expr).alias(alias) for _, alias, expr, _ in design),
        "value",
    )
    b = LN.ols_fit_gauss(feats, [alias for _, alias, _, _ in design], "value")
    terms = ["intercept"] + [term for term, *_ in design]
    return spark.createDataFrame(
        list(zip(terms, b)), "term string, coef double"
    ).select("term", F.round("coef", 6).alias("coef"))


def _ols_oracle(design: list, where: str) -> str:
    """The oracle of an :func:`_ols_row`: the moment CTE mirrors the
    Spark aggregation, the elimination CTEs state
    learn.ols_fit_gauss's fixed schedule verbatim."""
    feats = ", ".join(f"{sql} AS {alias}" for _, alias, _, sql in design)
    return f"""
WITH feats AS (
    SELECT {feats}, value
    FROM events
    WHERE {where}
),
mom AS (
    SELECT {_wide_ols_moments_sql([alias for _, alias, _, _ in design])}
    FROM feats
),
{_gauss_solve_ctes(len(design))}
{_wide_ols_term_selects(["intercept"] + [term for term, *_ in design])}
"""


def _gauss_solve_ctes(d: int) -> str:
    """The fixed-pivot Gauss–Jordan schedule of
    operators/learn.py::ols_fit_gauss as SQL: ``g0`` lays the (d+1)²
    Gram entries + d+1 rhs out of the moment columns, then ONE CTE per
    pivot k states every update ``a_ij − (a_ik / a_kk) · a_kj`` (and
    the rhs analogue) reading only the previous CTE — exactly the
    pre-step-values semantics the Python loops implement (f = a_ik/a_kk
    is a division of identical doubles, so recomputing it per j yields
    the same bits as Python's hoisted factor)."""
    n1 = d + 1
    g0 = ",\n           ".join(
        [
            f"{LN._gram_name(i, j)} AS a{i}_{j}"
            for i in range(n1)
            for j in range(n1)
        ]
        + [f"{LN._ymom_name(i)} AS y{i}" for i in range(n1)]
    )
    ctes = [f"g0 AS (\n    SELECT {g0}\n    FROM mom\n)"]
    prev = "g0"
    for k in range(n1):
        cols = []
        for i in range(n1):
            if i == k:
                cols.extend(f"a{i}_{j}" for j in range(n1))
                cols.append(f"y{i}")
            else:
                cols.extend(
                    f"a{i}_{j} - (a{i}_{k} / a{k}_{k}) * a{k}_{j} AS a{i}_{j}"
                    for j in range(n1)
                )
                cols.append(f"y{i} - (a{i}_{k} / a{k}_{k}) * y{k} AS y{i}")
        body = ",\n           ".join(cols)
        ctes.append(f"g{k + 1} AS (\n    SELECT {body}\n    FROM {prev}\n)")
        prev = f"g{k + 1}"
    solved = ",\n        ".join(
        f"y{i} / a{i}_{i} AS b{i}" for i in range(n1)
    )
    ctes.append(f"solved AS (\n    SELECT {solved}\n    FROM {prev}\n)")
    return ",\n".join(ctes)


def _wide_ols_moments_sql(xs: list[str]) -> str:
    """The one-pass moment SELECT body of :func:`_ols_oracle`: exact
    int64 X^T X entries, quantized order-free X^T y — the SQL statement
    of operators/learn.py::_ols_moments over the feature aliases
    ``xs``."""
    q = repr(LN.OLS_Q)
    mom = [
        "CAST(count(*) AS DOUBLE) AS n",
        f"CAST(sum(CAST(floor(value * {q}) AS BIGINT)) AS DOUBLE)"
        f" / {q} AS sy",
    ]
    for j, xj in enumerate(xs, 1):
        mom.append(f"CAST(sum({xj}) AS DOUBLE) AS s{j}")
        mom.append(
            f"CAST(sum(CAST(floor(CAST({xj} AS DOUBLE) * value * {q}) "
            f"AS BIGINT)) AS DOUBLE) / {q} AS sy{j}"
        )
        for k, xk in enumerate(xs[j - 1:], j):
            mom.append(f"CAST(sum({xj} * {xk}) AS DOUBLE) AS s{j}{k}")
    return ",\n           ".join(mom)


def _wide_ols_term_selects(terms: list[str]) -> str:
    return "\nUNION ALL ".join(
        f"SELECT '{t}' AS term, round(b{i}, 6) AS coef FROM solved"
        if i == 0
        else f"SELECT '{t}', round(b{i}, 6) FROM solved"
        for i, t in enumerate(terms)
    )


QUERIES: dict[str, QuerySpec] = {
    **{
        name: QuerySpec(
            partial(_ols_row, design=design, where=where),
            _ols_oracle(design, where),
            doc,
        )
        for name, (design, where, doc) in _OLS_ROWS.items()
    },
    "value_hour_correlation": QuerySpec(
        value_hour_correlation,
        VALUE_HOUR_CORRELATION_ORACLE,
        "Pearson corr(hour, value) per type from exact power sums",
    ),
    "value_trend_slope": QuerySpec(
        value_trend_slope,
        VALUE_TREND_SLOPE_ORACLE,
        "regr_slope of value on day index, single pass, exact sums",
    ),
    "value_skewness": QuerySpec(
        value_skewness,
        VALUE_SKEWNESS_ORACLE,
        "population skewness from exact Σx/Σx²/Σx³",
    ),
    "user_value_ewma": QuerySpec(
        user_value_ewma,
        USER_VALUE_EWMA_ORACLE,
        "per-user EWMA via deterministic sorted fold (recursive state)",
    ),
    "user_value_ewma_chunked": QuerySpec(
        user_value_ewma_chunked,
        USER_VALUE_EWMA_ORACLE,
        "bounded-memory EWMA: week chunks, carried seed, same oracle",
    ),
    "revenue_holt_forecast": QuerySpec(
        revenue_holt_forecast,
        REVENUE_HOLT_FORECAST_ORACLE,
        "Holt level+trend smoothing: struct-state sorted fold + forecast",
    ),
    "revenue_cusum_alerts": QuerySpec(
        revenue_cusum_alerts,
        REVENUE_CUSUM_ALERTS_ORACLE,
        "two-sided CUSUM change detection over daily revenue series",
    ),
    "value_psi_drift": QuerySpec(
        value_psi_drift,
        VALUE_PSI_DRIFT_ORACLE,
        "per-bin Population Stability Index drift report",
    ),
    "rolling_median_revenue": QuerySpec(
        rolling_median_revenue,
        ROLLING_MEDIAN_REVENUE_ORACLE,
        "7-day rolling exact median over integer cents",
    ),
    "revenue_bootstrap_ci": QuerySpec(
        revenue_bootstrap_ci,
        REVENUE_BOOTSTRAP_CI_ORACLE,
        "deterministic Poisson-bootstrap replicates of mean order value",
    ),
    "daily_revenue_theil_sen": QuerySpec(
        daily_revenue_theil_sen,
        DAILY_REVENUE_THEIL_SEN_ORACLE,
        "Theil-Sen robust slope: exact median of calendar-pair slopes",
    ),
    "daily_revenue_acf": QuerySpec(
        daily_revenue_acf,
        DAILY_REVENUE_ACF_ORACLE,
        "sample autocorrelation of daily revenue, lags 1-10, exact sums",
    ),
    "value_mad_profile": QuerySpec(
        value_mad_profile,
        VALUE_MAD_PROFILE_ORACLE,
        "exact median + MAD per event type (robust location/scale)",
    ),
    "mann_whitney_value_shift": QuerySpec(
        mann_whitney_value_shift,
        MANN_WHITNEY_VALUE_SHIFT_ORACLE,
        "Mann-Whitney U via distinct-value histogram, tie-corrected z",
    ),
    "customer_survival_km": QuerySpec(
        customer_survival_km,
        CUSTOMER_SURVIVAL_KM_ORACLE,
        "Kaplan-Meier right-censored customer-lifetime survival curve",
    ),
    "daily_revenue_stl": QuerySpec(
        daily_revenue_stl,
        DAILY_REVENUE_STL_ORACLE,
        "trend + day-of-week seasonal + residual decomposition",
    ),
    "conversion_ab_ztest": QuerySpec(
        conversion_ab_ztest,
        CONVERSION_AB_ZTEST_ORACLE,
        "two-proportion pooled z-test between user cohorts",
    ),
    "value_trimmed_stats": QuerySpec(
        value_trimmed_stats,
        VALUE_TRIMMED_STATS_ORACLE,
        "5% trimmed + winsorized means per event type, exact sums",
    ),
}
