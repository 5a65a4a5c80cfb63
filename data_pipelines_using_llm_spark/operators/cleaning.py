"""Cleaning policies (SURVEY.md §2.13 Q3, §2.4 D3–D5, §2.3 F2/F3).

The reference ships five mutually inconsistent keep-"first" dedup semantics
(SURVEY.md §7.3.1).  This module fixes ONE spec — deterministic keep-first
with an explicit tiebreaker (the correct reference variant,
``First experiment/GPT 5 NANO.py:82-86``) — and exposes the others as
explicit policy options so callers opt into nondeterminism knowingly.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def all_present_predicate(cols: list[str]) -> Column:
    """F2 AND-chain: "all of these columns are non-null"."""
    return reduce(and_, [F.col(c).isNotNull() for c in cols])


def drop_any_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """F3 policy: drop rows where ANY metric is null
    (``First experiment/Claude Opus 4.py:246-256``)."""
    return df.filter(all_present_predicate(cols))


def keep_if_any_present(df: DataFrame, cols: list[str]) -> DataFrame:
    """Policy: keep rows with at least one non-null metric
    (``First experiment/Claude Sonnet 4.py:325-341``)."""
    return df.filter(reduce(or_, [F.col(c).isNotNull() for c in cols]))


def dedup_keep_any(df: DataFrame, key: list[str]) -> DataFrame:
    """D3: ``dropDuplicates(key)`` — keep an ARBITRARY row per key.

    Matches the reference's most common (nondeterministic) policy
    (``First experiment/Claude Opus 4.py:246`` et al.).  Fine when all
    copies are identical; use :func:`dedup_deterministic` otherwise.
    """
    return df.dropDuplicates(key)


def dedup_deterministic(
    df: DataFrame, key: list[str], order_by: list[Column]
) -> DataFrame:
    """D4: keep exactly one row per key, chosen by an explicit ordering.

    ``row_number() OVER (PARTITION BY key ORDER BY order_by)`` then keep
    rank 1 — the deterministic reference variant
    (``First experiment/GPT 5 NANO.py:82-86`` orders by ingestion_date;
    ``Third Experiment/Claude Opus 4.py:231-234`` by ingestion_timestamp).
    ``order_by`` must be a total order within each key group (end it with a
    unique column) or the result is as nondeterministic as D3.

    Scale: one hash shuffle on ``key``; AQE handles skewed keys.  No
    global sort — ordering is per-group only.
    """
    w = Window.partitionBy(*key).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_full_row(df: DataFrame) -> DataFrame:
    """D5: ``SELECT DISTINCT *`` (``First experiment/Claude Sonnet 4.py:329-341``)."""
    return df.distinct()


def clean(
    df: DataFrame,
    key: list[str],
    metric_cols: list[str],
    null_policy: str = "drop_any_null",
    dedup_policy: str = "deterministic",
    tiebreaker: list[Column] | None = None,
) -> DataFrame:
    """Q3 composite clean: null policy + dedup policy in one fused plan.

    Policies observed in the corpus (SURVEY.md §2.13 Q3):
    ``drop_any_null`` / ``keep_if_any_present`` / ``keep_nulls``
    × ``deterministic`` / ``keep_any`` / ``none``.
    """
    if null_policy == "drop_any_null":
        df = drop_any_null(df, metric_cols)
    elif null_policy == "keep_if_any_present":
        df = keep_if_any_present(df, metric_cols)
    elif null_policy != "keep_nulls":
        raise ValueError(f"unknown null_policy {null_policy!r}")

    if dedup_policy == "deterministic":
        if not tiebreaker:
            raise ValueError("deterministic dedup requires a tiebreaker ordering")
        df = dedup_deterministic(df, key, tiebreaker)
    elif dedup_policy == "keep_any":
        df = dedup_keep_any(df, key)
    elif dedup_policy != "none":
        raise ValueError(f"unknown dedup_policy {dedup_policy!r}")
    return df
