"""Invariant (property) tests for the r7 statistics / sampling /
graph queries — guarantees the value-hash oracle gate cannot express
(monotonicity, bounds, reconstruction identities, rerun determinism).
"""

from __future__ import annotations

from tests.conftest import SF0001


def test_k_core_degree_invariant(spark):
    """Every surviving vertex of the k-core peel has in-core degree >= k
    after convergence (the peel converges in round 1 on this graph, so
    the 2-round output is the fixpoint)."""
    from data_pipelines_using_llm_spark.plans.graph_queries import (
        KCORE_K,
        trade_k_core,
    )

    rows = trade_k_core(spark, SF0001).collect()
    assert rows, "core must be non-empty on the trade graph"
    assert all(r.core_degree >= KCORE_K for r in rows)


def test_km_survival_monotone(spark):
    """Kaplan-Meier survival is within [0, 1] and non-increasing in t."""
    from data_pipelines_using_llm_spark.plans.statistics import (
        customer_survival_km,
    )

    rows = sorted(customer_survival_km(spark, SF0001).collect(),
                  key=lambda r: r.t)
    assert rows
    prev = 1.0 + 1e-9
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev + 1e-9
        prev = r.survival
        assert r.n_at_risk >= r.n_churned + 0  # at-risk covers events


def test_gini_lorenz_bounds(spark):
    """Gini in [0, 1); Lorenz cumulative share increases to 1; decile
    shares are non-negative and the Lorenz curve is convex-ish (later
    deciles hold >= share of earlier ones under ascending rank order)."""
    from data_pipelines_using_llm_spark.plans.analytics import (
        revenue_gini_lorenz,
    )

    rows = sorted(revenue_gini_lorenz(spark, SF0001).collect(),
                  key=lambda r: r.decile)
    assert len(rows) == 10
    g = rows[0].gini
    assert 0.0 <= g < 1.0
    assert all(abs(r.gini - g) < 1e-12 for r in rows)
    cum = [r.cum_revenue_share for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(cum, cum[1:]))
    assert abs(cum[-1] - 1.0) < 1e-6
    shares = [r.revenue_share for r in rows]
    assert all(s >= -1e-12 for s in shares)
    assert all(b >= a - 1e-6 for a, b in zip(shares, shares[1:]))


def test_mann_whitney_bounds(spark):
    """U1 lies in [0, n1*n2]; counts are positive."""
    from data_pipelines_using_llm_spark.plans.statistics import (
        mann_whitney_value_shift,
    )

    (r,) = mann_whitney_value_shift(spark, SF0001).collect()
    assert r.n1 > 0 and r.n2 > 0
    assert 0.0 <= r.u1 <= r.n1 * r.n2


def test_stl_reconstruction(spark):
    """trend + seasonal + residual reconstructs revenue (rounding-level
    error only)."""
    from data_pipelines_using_llm_spark.plans.statistics import (
        daily_revenue_stl,
    )

    rows = daily_revenue_stl(spark, SF0001).collect()
    assert rows
    for r in rows:
        assert abs(r.revenue - (r.trend + r.seasonal + r.residual)) < 1e-3


def test_weighted_reservoir_exact_k_and_deterministic(spark):
    """The ES reservoir returns exactly K rows and is rerun-stable."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        ES_SAMPLE_K,
        doc_weighted_reservoir,
    )

    a = doc_weighted_reservoir(spark, SF0001).collect()
    b = doc_weighted_reservoir(spark, SF0001).collect()
    assert len(a) == min(ES_SAMPLE_K, 500)
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)


def test_dsir_target_docs_score_higher(spark):
    """DSIR sanity: the selected set is enriched in target-slice docs
    relative to the corpus base rate (the selector must pull the
    distribution TOWARD the target domain), and scores are rerun-stable."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        DSIR_TARGET_MOD,
        doc_dsir_select,
    )

    rows = doc_dsir_select(spark, SF0001).collect()
    assert rows
    frac_sel = sum(1 for r in rows if r.doc_id % DSIR_TARGET_MOD == 0) / len(
        rows
    )
    # corpus base rate of the simulated target slice is ~1/23
    assert frac_sel >= 1.0 / DSIR_TARGET_MOD


def test_trimmed_means_between_extremes(spark):
    """Trimmed and winsorized means lie within [min, max] of the raw
    values and the trim count matches floor(0.05 n)."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.plans.statistics import (
        value_trimmed_stats,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    stats = {r.event_type: r for r in value_trimmed_stats(spark, SF0001).collect()}
    ext = {
        r.event_type: r
        for r in load_table(spark, SF0001, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert stats
    for t, s in stats.items():
        assert ext[t].lo <= s.trimmed_mean <= ext[t].hi
        assert ext[t].lo <= s.winsorized_mean <= ext[t].hi
        assert s.n_trimmed_each_side == int(s.n_events * 0.05)


def test_top_eigvec_is_unit_near_eigenpair(spark):
    """Power-iteration output invariants: the loading vector is unit
    norm, the eigenvalue is positive, and (C v - lambda v) has a small
    residual relative to lambda (3 rounds from an all-ones seed)."""
    import math

    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        embedding_covariance,
        embedding_top_eigvec,
    )

    rows = embedding_top_eigvec(spark, SF0001).collect()
    v = {r.dim: r.loading for r in rows}
    lam = rows[0].eigenvalue
    assert lam > 0
    assert abs(sum(x * x for x in v.values()) - 1.0) < 1e-4
    cells = embedding_covariance(spark, SF0001).collect()
    c = {}
    for r in cells:
        c[(r.i, r.j)] = r.cov
        c[(r.j, r.i)] = r.cov
    dims = sorted(v)
    resid = 0.0
    for i in dims:
        cv = sum(c[(i, j)] * v[j] for j in dims)
        resid += (cv - lam * v[i]) ** 2
    # 3 rounds is an estimate, not convergence — the residual must just
    # be decisively smaller than the eigenvalue itself
    assert math.sqrt(resid) < 0.5 * lam


def test_power_iteration_fixpoint_is_tight_eigenpair(spark):
    """r7 verdict task 1: the library residual-norm fixpoint mode must
    land on a genuine eigenpair — residual ||C v - lambda v|| orders of
    magnitude below lambda (the unrolled 3-round query only promises
    0.5*lambda) — and agree in DIRECTION with the unrolled registry
    eigenpair numpy computes from the SAME covariance cells.  (The
    3-round unrolled registry estimate is deliberately NOT the
    comparison target: on these embeddings the top two eigenvalues are
    near-tied, so 3 rounds is a poor direction estimate — the whole
    reason the production fixpoint mode exists.)"""
    import math

    from data_pipelines_using_llm_spark.operators.similarity import (
        power_iteration,
    )
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        embedding_covariance,
    )

    cov = embedding_covariance(spark, SF0001).select("i", "j", "cov")
    rows = power_iteration(cov, tol=1e-6, max_iters=200).collect()
    v = {r.dim: r.loading for r in rows}
    lam = rows[0].eigenvalue
    assert lam > 0
    assert abs(sum(x * x for x in v.values()) - 1.0) < 1e-4

    cells = embedding_covariance(spark, SF0001).collect()
    c = {}
    for r in cells:
        c[(r.i, r.j)] = r.cov
        c[(r.j, r.i)] = r.cov
    dims = sorted(v)
    resid = 0.0
    for i in dims:
        cv = sum(c[(i, j)] * v[j] for j in dims)
        resid += (cv - lam * v[i]) ** 2
    assert math.sqrt(resid) < 1e-3 * lam  # converged, not an estimate

    # the fixpoint must be the DOMINANT eigenpair, not just any eigenpair
    import numpy as np
    import pytest

    pos = {d: idx for idx, d in enumerate(dims)}
    mat = np.zeros((len(dims), len(dims)))
    for (i, j), cv in c.items():
        mat[pos[i], pos[j]] = cv
    evals, evecs = np.linalg.eigh(mat)
    assert lam == pytest.approx(evals[-1], rel=1e-3)
    v_np = evecs[:, -1]
    cos = abs(sum(v[d] * v_np[pos[d]] for d in dims))
    assert cos > 0.999


def test_power_iteration_max_iters_guard_is_loud(spark):
    """A NEGATIVE dominant eigenvalue (diag(-3, 1)) flips the iterate's
    sign every round, so the successive-vector residual stays ~2 forever:
    the guard must raise, never return silently unconverged."""
    import pytest as _pt

    cov = spark.createDataFrame(
        [(0, 0, -3.0), (0, 1, 0.0), (1, 1, 1.0)], "i int, j int, cov double"
    )
    from data_pipelines_using_llm_spark.operators.similarity import (
        power_iteration,
    )

    with _pt.raises(RuntimeError, match="did not converge"):
        power_iteration(cov, tol=1e-12, max_iters=5)


def test_top_m_eigvecs_match_numpy_top2(spark):
    """Fixpoint deflation must recover numpy's top-2 eigenpairs of the
    same covariance cells: matching eigenvalues (rel 1e-3), matching
    directions (|cos| > 0.999), and mutually orthogonal loadings."""
    import math

    import numpy as np
    import pytest

    from data_pipelines_using_llm_spark.operators.similarity import (
        top_m_eigvecs,
    )
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        embedding_covariance,
    )

    cov = embedding_covariance(spark, SF0001).select("i", "j", "cov")
    rows = top_m_eigvecs(cov, m=2, tol=1e-6, max_iters=300).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, {})[r.dim] = (r.loading, r.eigenvalue)
    assert set(by_comp) == {1, 2}

    cells = embedding_covariance(spark, SF0001).collect()
    c = {}
    for r in cells:
        c[(r.i, r.j)] = r.cov
        c[(r.j, r.i)] = r.cov
    dims = sorted(by_comp[1])
    pos = {d: k for k, d in enumerate(dims)}
    mat = np.zeros((len(dims), len(dims)))
    for (i, j), cv in c.items():
        mat[pos[i], pos[j]] = cv
    evals, evecs = np.linalg.eigh(mat)

    for comp, np_idx in ((1, -1), (2, -2)):
        lam = next(iter(by_comp[comp].values()))[1]
        assert lam == pytest.approx(evals[np_idx], rel=1e-3)
        v = {d: by_comp[comp][d][0] for d in dims}
        v_np = evecs[:, np_idx]
        cos = abs(sum(v[d] * v_np[pos[d]] for d in dims)) / math.sqrt(
            sum(x * x for x in v.values())
        )
        assert cos > 0.999, (comp, cos)

    dot12 = sum(
        by_comp[1][d][0] * by_comp[2][d][0] for d in dims
    )
    assert abs(dot12) < 1e-3  # orthogonal components


def test_top_m_eigvecs_guards(spark):
    """m=0 raises loudly, and requesting more components than the
    matrix's rank names the real condition (rank exhausted) instead of
    burning max_iters into a misleading non-convergence error."""
    import pytest

    from data_pipelines_using_llm_spark.operators.similarity import (
        top_m_eigvecs,
    )

    rank1 = spark.createDataFrame(
        [(0, 0, 4.0), (0, 1, 0.0), (1, 1, 0.0)], "i int, j int, cov double"
    )
    with pytest.raises(ValueError, match="m must be >= 1"):
        top_m_eigvecs(rank1, m=0)
    with pytest.raises(ValueError, match="rank exhausted"):
        top_m_eigvecs(rank1, m=2, max_iters=50)


def test_power_iteration_degenerate_input_raises_value_error(spark):
    """An all-zero matrix and an empty cell set have no dominant
    eigenvector: ``power_iteration`` must name that with a ValueError
    (never burn ``max_iters`` into the "did not converge" RuntimeError,
    never divide by a zero norm)."""
    import pytest

    from data_pipelines_using_llm_spark.operators.similarity import (
        power_iteration,
    )

    zero = spark.createDataFrame(
        [(0, 0, 0.0), (0, 1, 0.0), (1, 1, 0.0)], "i int, j int, cov double"
    )
    empty = spark.createDataFrame([], "i int, j int, cov double")
    for cov in (zero, empty):
        with pytest.raises(ValueError, match="rank exhausted"):
            power_iteration(cov, tol=1e-6, max_iters=20)
