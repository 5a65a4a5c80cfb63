"""Query registry — the single source of truth wired into ``__spark_entry__``.

Each operator module contributes ``QUERIES: dict[str, QuerySpec]`` where the
Spark callable and its DuckDB oracle SQL live side-by-side (keeping the
column aliases in sync is the whole game — the driver's compare hashes
values after sorting columns by name).  ``oracle=None`` marks genuinely
non-SQL-expressible operators; the driver then records a rows-only check.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


def all_queries() -> dict[str, QuerySpec]:
    # Imported lazily so `import data_pipelines_using_llm_spark` stays cheap.
    from data_pipelines_using_llm_spark.plans import (
        analytics,
        association,
        behavior,
        cdc_queries,
        governance,
        decision_support,
        dedup_queries,
        expectation_queries,
        graph_queries,
        llm_queries,
        multimodal_queries,
        pipelines,
        quality_queries,
        relational,
        retrieval_queries,
        similarity_queries,
        skew_queries,
        spec,
        split_queries,
        statistics,
        text_queries,
        warehouse,
    )
    from data_pipelines_using_llm_spark.streaming import stream_queries

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        analytics,
        association,
        behavior,
        decision_support,
        governance,
        warehouse,
        cdc_queries,
        expectation_queries,
        graph_queries,
        quality_queries,
        dedup_queries,
        similarity_queries,
        retrieval_queries,
        text_queries,
        multimodal_queries,
        llm_queries,
        skew_queries,
        spec,
        split_queries,
        statistics,
        pipelines,
        stream_queries,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    return merged


def _verified_counts() -> dict[str, int]:
    """How many times each query has already earned a driver check in a
    past ``CORRECTNESS_r*.json``.

    A ``no_oracle`` row with a recorded row count counts as checked: a
    rows-only query has received the strongest verification the driver
    can ever give it, so rotating it forward again buys nothing.

    Used only by :func:`rotate_for_verification` — ``all_queries()``
    itself is deterministic (registration order) so library consumers see
    the same ordering on every checkout regardless of which untracked
    CORRECTNESS artifacts exist.
    """
    counts: dict[str, int] = {}
    repo_root = Path(__file__).resolve().parents[1]
    for path in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            ok = isinstance(row, dict) and (
                row.get("hash_match") is True
                or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
            )
            if ok:
                counts[name] = counts.get(name, 0) + 1
    return counts


# Queries whose plans or VERIFICATION MODE changed materially (e.g. a
# rewritten serve path, rows-only -> full hash gate): their past green rows
# verified other code or a weaker contract, so treat them as never-verified
# — first in the 50-row verification window — until they earn a green row
# again.  Prune an entry once a round's CORRECTNESS artifact shows it
# hash-green.
_REVERIFY: frozenset[str] = frozenset(
    {
        # rows whose DuckDB oracle is now generated by the one k-means /
        # IVF / IVFPQ oracle builder in plans/similarity_queries.py
        "kmeans_clusters", "knn_ivf", "knn_ivf_kmeans", "knn_ivf_int8",
        "dedup_semantic", "knn_pq", "knn_pq_refined", "knn_ivfpq",
        "knn_ivfpq_refined", "knn_ivfpq_stored", "knn_ivfpq_refined_stored",
        "knn_ivfpq_extended", "knn_ivfpq_removed", "knn_ivfpq_residual",
        "knn_ivfpq_residual_refined", "knn_ivfpq_residual_stored",
        "knn_ivfpq_residual_extended", "knn_ivfpq_residual_removed",
        "knn_ivfpq_tenant", "knn_ivfpq_tenant_refined",
        "knn_ivfpq_residual_tenant", "knn_ivfpq_tenant_skewed",
        "knn_ivfpq_residual_tenant_skewed",
        "knn_ivfpq_tenant_skewed_refined", "knn_ivfpq_tenant_partitioned",
        "ann_index_stats", "stream_knn_serve", "stream_knn_residual_serve",
        "stream_knn_tenant_serve", "stream_knn_residual_tenant_serve",
        # rows served by the one driver-side power-iteration kernel
        "embedding_top_eigvec", "embedding_top2_eigvecs",
        "embedding_pca_projection", "embedding_pca_projection_stored",
        "embedding_pca_whitened", "embedding_outliers",
        # rows whose oracle is generated by the one PageRank / k-core
        # generator in plans/graph_queries.py, and the rows that run
        # operators/dedup.py::connected_components through caching.cut
        "supplier_pagerank", "money_flow_pagerank", "ring_pagerank_converged",
        "trade_k_core", "trade_k_core_converged", "chain_k_core_converged",
        "dedup_components", "dedup_survivors",
        # rows fit by the one OLS solver, operators/learn.py::ols_fit_gauss,
        # with the oracle generated by plans/statistics.py::_ols_oracle
        "event_value_ols_trend", "event_value_ols_3feat",
        "event_value_ols_5feat", "event_value_ols_9feat",
        # the chunked EWMA carry, now folded on operators/caching.py::fixpoint
        "user_value_ewma_chunked",
    }
)


def rotate_for_verification(merged: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Least-driver-verified queries first (stable within a tier).

    The correctness driver checks only the first 50 entries of the dict it
    receives per round, so the DRIVER-FACING surface (``__spark_entry__``)
    applies this rotation to cycle every query through the driver's window
    across rounds.  Deliberately not part of ``all_queries()``: ordering
    there must not depend on untracked artifacts in the repo root.
    """
    counts = _verified_counts()
    names = sorted(
        merged, key=lambda n: 0 if n in _REVERIFY else counts.get(n, 0)
    )  # stable: keeps insertion order within a tier
    return {n: merged[n] for n in names}
