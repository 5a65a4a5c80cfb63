"""PageRank operator — hand-computed fixture + pack shape checks."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators.graph import pagerank
from data_pipelines_using_llm_spark.plans import graph_queries as GQ
from data_pipelines_using_llm_spark.plans.statistics import (
    EWMA_ALPHA,
    user_value_ewma,
)


def test_pagerank_two_node_cycle_is_uniform(spark):
    """A 2-cycle is symmetric: ranks stay exactly 1/N forever."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    out = {r["node"]: r["r"] for r in pagerank(edges, iters=3).collect()}
    assert out[1] == pytest.approx(0.5)
    assert out[2] == pytest.approx(0.5)


def test_pagerank_hub_ranks_highest(spark):
    """Star graph (spokes <-> hub): the hub accumulates rank."""
    spokes = [2, 3, 4, 5]
    rows = [(1, s) for s in spokes] + [(s, 1) for s in spokes]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    out = {r["node"]: r["r"] for r in pagerank(edges, iters=2).collect()}
    assert out[1] > max(out[s] for s in spokes)
    # hand-rolled two iterations (N=5, d=0.85)
    n, d = 5, 0.85
    r_hub = (1 - d) / n + d * sum((1 / n) / 1 for _ in spokes)
    out1 = {r["node"]: r["r"] for r in pagerank(edges, iters=1).collect()}
    assert out1[1] == pytest.approx(r_hub)  # iteration-1 hub invariant
    r_spoke = (1 - d) / n + d * ((1 / n) / 4)
    r_hub2 = (1 - d) / n + d * sum(r_spoke / 1 for _ in spokes)
    assert out[1] == pytest.approx(r_hub2)
    assert sum(out.values()) == pytest.approx(1.0)


def test_pagerank_dangling_vertex_raises_by_default(spark):
    """A sink vertex (out-degree 0) leaks rank mass; the default mode
    enforces the docstring contract instead of silently leaking."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src bigint, dst bigint"  # 3 is a pure sink
    )
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, iters=1)


def test_pagerank_empty_graph_ranks_nothing(spark):
    """An empty edge list has no vertex: both dangling modes return no
    ranks, and the converged mode stops after one round (its delta
    over no rows is 0), instead of failing on ``1 / |V|``."""
    from data_pipelines_using_llm_spark.operators.graph import (
        pagerank_converged,
    )

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    for mode in ("error", "redistribute"):
        assert pagerank(edges, dangling=mode).collect() == []
        rank, rounds = pagerank_converged(edges, dangling=mode)
        assert rank.collect() == [] and rounds == 1


def test_pagerank_dangling_redistribute_conserves_mass(spark):
    """dangling='redistribute' hands the sink's mass back uniformly:
    ranks must again sum to ~1 on a chain with a sink, every iteration
    count."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src bigint, dst bigint"
    )
    for iters in (1, 2, 3):
        out = {
            r["node"]: r["r"]
            for r in pagerank(
                edges, iters=iters, dangling="redistribute"
            ).collect()
        }
        assert sum(out.values()) == pytest.approx(1.0), iters
    # downstream of the chain accumulates: 3 ranks above 1 after mixing
    assert out[3] > out[1]


def test_supplier_pagerank_shape(spark):
    df = GQ.supplier_pagerank(spark, "/root/testdata/sf0.001").toPandas()
    assert set(df["node_type"]) == {"customer", "supplier"}
    # normalized: graph-wide mean is exactly 1 => total == row count
    assert df["pr_score"].sum() == pytest.approx(len(df), rel=1e-6)
    # suppliers serve many customers each -> structurally more central
    assert (
        df[df.node_type == "supplier"]["pr_score"].mean()
        > df[df.node_type == "customer"]["pr_score"].mean()
    )


def test_user_value_ewma_hand_computed(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, 10.0),
        (1, t0 + datetime.timedelta(minutes=1), 8, 20.0),
        (1, t0 + datetime.timedelta(minutes=2), 9, 30.0),
        (2, t0, 10, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, value double"
    )
    import data_pipelines_using_llm_spark.plans.statistics as ST

    arr = df.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias(
            "seq"
        )
    )
    ewma = F.aggregate(
        F.expr("slice(seq, 2, size(seq) - 1)"),
        F.element_at(F.col("seq"), 1)["value"],
        lambda acc, s: F.lit(ST.EWMA_ALPHA) * s["value"]
        + F.lit(1 - ST.EWMA_ALPHA) * acc,
    )
    out = {
        r["user_id"]: r["e"]
        for r in arr.select("user_id", ewma.alias("e")).collect()
    }
    s = 10.0
    for v in (20.0, 30.0):
        s = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * s
    assert out[1] == pytest.approx(s)
    assert out[2] == pytest.approx(5.0)  # single event: seed only


def test_user_value_ewma_pack_runs(spark):
    df = user_value_ewma(spark, "/root/testdata/sf0.001").toPandas()
    assert len(df) > 0
    assert (df["n_events"] >= 1).all()


def test_user_value_ewma_chunked_bit_equal(spark):
    """The bounded-memory chunk-and-carry variant must be BIT-equal to
    the unchunked sorted fold (fold(a ++ b, s) = fold(b, fold(a, s)) and
    month boundaries respect the sort order) — exact ==, no approx."""
    from data_pipelines_using_llm_spark.plans.statistics import (
        user_value_ewma_chunked,
    )

    sf = "/root/testdata/sf0.001"
    a = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in user_value_ewma(spark, sf).collect()
    }
    b = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in user_value_ewma_chunked(spark, sf).collect()
    }
    assert a == b
    # the per-task array in any round is bounded by ONE chunk's events:
    # at least two distinct week chunks must exist for the carry path to
    # actually be exercised (the testdata spans ~5 weeks)
    weeks = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select(F.date_trunc("week", "ts"))
        .distinct()
        .count()
    )
    assert weeks >= 2


def test_ewma_chunked_plan_depth_bounded(spark, tmp_path):
    """r13 verdict task 5 — the chunk-and-carry EWMA on a LONG calendar
    (~3 years = 156 week chunks) must not stack one unanalyzed plan
    segment per week: the per-round eager ``localCheckpoint`` cuts
    lineage, so the final plan is a constant-depth projection over a
    materialized carry — zero joins, no 156-deep full-outer chain —
    and the fold still matches the unchunked sorted fold EXACTLY."""
    import datetime as _dt

    from data_pipelines_using_llm_spark.plans.statistics import (
        user_value_ewma,
        user_value_ewma_chunked,
    )

    t0 = _dt.datetime(2022, 1, 3)  # a Monday: clean week boundaries
    rows = []
    eid = 0
    for w in range(156):
        for u in range(8):
            for j in range(2):
                eid += 1
                rows.append(
                    (
                        eid,
                        t0 + _dt.timedelta(weeks=w, hours=3 * u + j),
                        u,
                        "click",
                        float((eid * 13 + u) % 97) / 4.0,
                        "{}",
                    )
                )
    fixture = str(tmp_path / "sfcal")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{fixture}/events.parquet")

    out = user_value_ewma_chunked(spark, fixture)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the carry behind the final projection is a materialized RDD scan:
    # a persist-only barrier would leave 156 nested full-outer segments
    assert "Join" not in plan, plan
    assert len(plan.splitlines()) <= 10, plan
    # correctness on the long calendar: bit-equal to the unchunked fold
    a = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in user_value_ewma(spark, fixture).collect()
    }
    b = {r["user_id"]: (r["n_events"], r["ewma_value"]) for r in out.collect()}
    assert a == b and len(a) == 8


def test_triangle_counts_hand_computed(spark):
    """K4 minus one edge: nodes {1,2,3,4}, edges all pairs except (3,4).
    Triangles: (1,2,3) and (1,2,4) — so 1 and 2 sit in 2 each, 3 and 4
    in 1 each.  A pendant vertex (5) must not appear at all."""
    from data_pipelines_using_llm_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5)],
        "u bigint, v bigint",
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_star_has_none(spark):
    """A star graph has wedges everywhere but zero triangles — the case
    the degree orientation exists for (the hub never fans out)."""
    from data_pipelines_using_llm_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, h) for h in range(2, 12)], "u bigint, v bigint"
    )
    assert triangle_counts(edges).count() == 0


def test_basket_triangles_pack_runs(spark):
    df = GQ.basket_triangles(spark, "/root/testdata/sf0.001").toPandas()
    # every participating part is counted at least once, and the
    # membership total is a multiple of 3 (each triangle names 3 parts)
    assert (df["n_triangles"] >= 1).all()
    assert int(df["n_triangles"].sum()) % 3 == 0


def test_revenue_holt_forecast_hand_computed(spark):
    """Holt recursion on a hand-checkable series: seeds (l=y2, b=y2-y1),
    then one smoothing step per remaining day, forecast = l + b."""
    import data_pipelines_using_llm_spark.plans.statistics as ST

    out = {
        r["priority"]: r
        for r in ST.revenue_holt_forecast(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert out, "no priority produced >= 3 days"
    # recompute one priority's numbers in plain Python
    import duckdb

    con = duckdb.connect()
    pr = next(iter(out))
    ys = con.execute(
        "SELECT array_agg(y ORDER BY d) FROM ("
        "SELECT date_trunc('day', o_orderdate) d, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) y "
        "FROM read_parquet('/root/testdata/sf0.001/orders.parquet') "
        f"WHERE o_orderpriority = '{pr}' GROUP BY 1)"
    ).fetchone()[0]
    l, b = ys[1], ys[1] - ys[0]
    for y in ys[2:]:
        ln = ST.HOLT_ALPHA * y + (1 - ST.HOLT_ALPHA) * (l + b)
        b = ST.HOLT_BETA * (ln - l) + (1 - ST.HOLT_BETA) * b
        l = ln
    row = out[pr]
    assert row["n_days"] == len(ys)
    assert row["level"] == pytest.approx(l, abs=1e-4)
    assert row["trend"] == pytest.approx(b, abs=1e-4)
    assert row["forecast_next"] == pytest.approx(l + b, abs=1e-4)


def test_k_core_fixpoint_equals_unrolled_query(spark):
    """r7 verdict task 1: the library peel-until-stable mode must land on
    the SAME core as the fixed-round registry query on the sf0.001 trade
    graph (the peel converges in round 1 there, so the unrolled form IS
    the fixpoint).  Also asserts the convergence exit actually fires —
    max_rounds far above the unrolled count would hang/balloon if the
    probe were broken."""
    from data_pipelines_using_llm_spark.operators.graph import k_core

    sf = "/root/testdata/sf0.001"
    core = k_core(GQ._trade_graph_edges(spark, sf), GQ.KCORE_K, max_rounds=30)
    got = {
        (r["node_type"], r["node_key"]): r["core_degree"]
        for r in GQ._core_report(core).collect()
    }
    want = {
        (r["node_type"], r["node_key"]): r["core_degree"]
        for r in GQ.trade_k_core(spark, sf).collect()
    }
    assert got == want and got


def test_k_core_converges_on_multi_round_peel_and_guards(spark):
    """A chain-of-stars fixture needs SEVERAL peel rounds (removing leaf
    spokes drops each hub below k in cascade), so this exercises the
    loop body more than once; a too-small max_rounds must raise loudly
    instead of returning a half-peeled graph."""
    from data_pipelines_using_llm_spark.operators.graph import k_core

    # path 1-2-3-4-5 doubled: k=2 peels one endpoint layer per round
    # (degree-1 ends drop, exposing new ends) until nothing remains.
    path = [(i, i + 1) for i in range(1, 6)]
    rows = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    assert k_core(edges, 2, max_rounds=10).count() == 0

    # triangle + pendant: one round drops the pendant, core = triangle
    tri = [(1, 2), (2, 3), (1, 3), (3, 9)]
    rows = tri + [(b, a) for a, b in tri]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    core = k_core(edges, 2, max_rounds=10)
    assert {
        (r["src"], r["dst"]) for r in core.collect()
    } == {(1, 2), (2, 3), (1, 3), (2, 1), (3, 2), (3, 1)}

    import pytest as _pt

    with _pt.raises(RuntimeError, match="did not converge"):
        # the 5-path needs 3 shrinking rounds; max_rounds=1 must be loud
        k_core(
            spark.createDataFrame(
                [(i, i + 1) for i in range(1, 6)]
                + [(i + 1, i) for i in range(1, 6)],
                "src bigint, dst bigint",
            ),
            2,
            max_rounds=1,
        )


def test_pagerank_converged_exits_before_cap_and_matches_fixed_iters(spark):
    """Convergence-exit PageRank on the trade graph (sf0.001): the L1
    delta must hit tol strictly BEFORE the max_rounds cap, and —
    because the quantized fold makes every round bit-deterministic —
    the converged ranks must be IDENTICAL to the fixed-iters mode run
    for exactly that many rounds (the convergence exit changes when to
    stop, never what a round computes)."""
    import data_pipelines_using_llm_spark.plans.graph_queries as GQ
    from data_pipelines_using_llm_spark.operators.graph import (
        pagerank,
        pagerank_converged,
    )

    edges = GQ._trade_graph_edges(spark, "/root/testdata/sf0.001")
    # the damped delta decays ~0.85^t from ~1.5, so tol=0.05 converges
    # around round 22 — comfortably before the cap, long after round 1
    pr, rounds = pagerank_converged(edges, tol=5e-2, max_rounds=40)
    assert 1 < rounds < 40, rounds
    got = {r["node"]: r["r"] for r in pr.collect()}
    fixed = {
        r["node"]: r["r"]
        for r in pagerank(edges, iters=rounds).collect()
    }
    assert got == fixed


def test_pagerank_converged_raises_loudly_at_cap(spark):
    """A too-small max_rounds must raise the named error, not return a
    half-converged rank vector."""
    import pytest as _pt

    import data_pipelines_using_llm_spark.plans.graph_queries as GQ
    from data_pipelines_using_llm_spark.operators.graph import (
        pagerank_converged,
    )

    edges = GQ._ring_graph_edges(spark, "/root/testdata/sf0.001")
    with _pt.raises(RuntimeError, match="raise max_rounds or loosen tol"):
        pagerank_converged(edges, tol=1e-9, max_rounds=2)


def test_ring_pagerank_converged_asserts_pinned_depth(spark, monkeypatch):
    """The registry row must fail with a NAMED error — not a bare hash
    mismatch — if the measured convergence depth ever drifts from the
    oracle's pinned unroll (the trade_k_core_converged discipline)."""
    import pytest as _pt

    import data_pipelines_using_llm_spark.plans.graph_queries as GQ

    monkeypatch.setattr(GQ, "RING_PR_ROUNDS", 3)
    with _pt.raises(RuntimeError, match="regenerate _ring_pagerank_oracle"):
        GQ.ring_pagerank_converged(spark, "/root/testdata/sf0.001")


def test_k_core_with_rounds_reports_minimal_oracle_depth(spark):
    """shrinking_rounds must equal the number of rounds that removed
    edges — the minimal unrolled-oracle depth (r9 ADVICE): 0 for an
    already-stable core, and exactly CHAIN_TAIL for the clique-plus-
    tail fixture whose tail peels one vertex per round."""
    import data_pipelines_using_llm_spark.plans.graph_queries as GQ
    from data_pipelines_using_llm_spark.operators.graph import (
        k_core_with_rounds,
    )

    tri = [(1, 2), (2, 3), (1, 3)]
    rows = tri + [(b, a) for a, b in tri]
    stable = spark.createDataFrame(rows, "src bigint, dst bigint")
    _core, rounds = k_core_with_rounds(stable, 2)
    assert rounds == 0

    sf = "/root/testdata/sf0.001"
    core, rounds = k_core_with_rounds(GQ._chain_graph_edges(spark, sf), 2)
    assert rounds == GQ.CHAIN_TAIL
    got = {(r["src"], r["dst"]) for r in core.collect()}
    want = {
        (a, b)
        for a in range(GQ.CHAIN_CLIQUE_N)
        for b in range(GQ.CHAIN_CLIQUE_N)
        if a != b
    }
    assert got == want


def test_trade_k_core_converged_raises_named_error_past_oracle_depth(
    spark, monkeypatch
):
    """If the peel ever needs more shrinking rounds than the unrolled
    oracle expresses, the registry query must raise a NAMED error
    telling the maintainer to regenerate the oracle at the required
    depth — not surface a bare hash mismatch (r9 ADVICE).  Simulated by
    shrinking the declared oracle depth below the trade graph's actual
    1-round peel."""
    import pytest as _pt

    import data_pipelines_using_llm_spark.plans.graph_queries as GQ

    monkeypatch.setattr(GQ, "KCORE_ROUNDS", 0)
    with _pt.raises(RuntimeError, match="regenerate _k_core_oracle"):
        GQ.trade_k_core_converged(spark, "/root/testdata/sf0.001")


def test_k_core_strands_no_persisted_storage_on_either_exit(spark):
    """k_core must not strand persisted edge lists in executor storage
    (r9 ADVICE): the loop cuts lineage with per-round eager
    localCheckpoints (ContextCleaner-managed blocks), never persist —
    so the caching registry gains NOTHING from a call, on the converged
    exit or the max_rounds raise.  (The checkpoint-over-persist choice
    is also a measured 6x: persist leaves the logical plan growing
    3^rounds and analysis dominated the 5-round fixture peel at ~6
    s/round.)"""
    from data_pipelines_using_llm_spark.operators import caching
    from data_pipelines_using_llm_spark.operators.graph import k_core

    def _no_tracked_persists(fn):
        before = len(caching._TRACKED)
        try:
            fn()
        except RuntimeError:
            pass
        return len(caching._TRACKED) == before

    tri = [(1, 2), (2, 3), (1, 3), (3, 9)]
    rows = tri + [(b, a) for a, b in tri]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    # converged exit: consume the result, then check nothing was persisted
    assert _no_tracked_persists(lambda: k_core(edges, 2).collect())

    path = [(i, i + 1) for i in range(1, 6)]
    rows = path + [(b, a) for a, b in path]
    shrinking = spark.createDataFrame(rows, "src bigint, dst bigint")
    # raise exit: max_rounds=1 on a 3-round peel must not persist either
    assert _no_tracked_persists(lambda: k_core(shrinking, 2, max_rounds=1))


def test_pagerank_salted_join_bounds_hub_tasks(spark):
    """r7 verdict task 6, hub-skew fixture: pagerank's per-iteration
    ``edges ⋈ rank`` join fans out by out-degree, and AQE's skew split
    does NOT cover it — measured on Spark 4.1.2, OptimizeSkewedJoin only
    engages when the join feeds the result stage directly, and here the
    rank fold (a keyed aggregation) always follows.  The bound therefore
    comes from the explicit ``salt`` knob: the join key becomes
    (src, salt), spreading a 30k-edge hub over S tasks.  Asserted: the
    salted plan joins on both keys, per-(src,salt) fan-out really is
    ~out_degree/S, and — because the quantized fold is order-free — the
    ranks are BIT-IDENTICAL to the unsalted run."""
    n_hub = 30_000
    hub_edges = [(0, i) for i in range(1, n_hub + 1)] + [
        (i, 0) for i in range(1, n_hub + 1)
    ]
    ring = [(i, i % 3000 + 1) for i in range(1, 3001)]
    edges = spark.createDataFrame(hub_edges + ring, "src bigint, dst bigint")

    plain = {r["node"]: r["r"] for r in pagerank(edges, iters=2).collect()}
    salted_df = pagerank(edges, iters=2, salt=8)
    salted = {r["node"]: r["r"] for r in salted_df.collect()}
    assert salted == plain  # bit-identical under the quantized fold
    assert abs(sum(plain.values()) - 1.0) < 1e-6

    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(src" in plan and "salt" in plan

    # the fan-out bound itself: no (src, salt) group exceeds ~hub/S
    from pyspark.sql import functions as F2

    groups = (
        edges.withColumn(
            "salt", F2.pmod(F2.xxhash64("dst"), F2.lit(8)).cast("int")
        )
        .groupBy("src", "salt")
        .count()
    )
    biggest = groups.agg(F2.max("count")).collect()[0][0]
    assert biggest < n_hub / 4  # 8 salts: worst group well under half


def test_triangle_counts_hub_adjacency_stays_bounded(spark):
    """Same power-law fixture, triangle side: degree-ordered
    compact-forward orientation must point every hub edge FROM the
    low-degree spoke TO the hub, so the hub's forward adjacency is
    EMPTY (bounded by sqrt-degree in general) and the wedge explosion a
    naive orientation would create (C(30k,2) pairs) never happens.
    Counts are checked against the planted triangles."""
    from data_pipelines_using_llm_spark.operators.graph import (
        triangle_counts,
    )

    n_hub = 30_000
    hub = [(0, i) for i in range(1, n_hub + 1)]
    closures = [(1, 2), (3, 4)]  # two triangles through the hub
    edges = spark.createDataFrame(
        hub + closures, "u bigint, v bigint"
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out[0] == 2 and out[1] == 1 and out[2] == 1
    assert out[3] == 1 and out[4] == 1


def test_k_core_invariants_on_random_graphs(spark):
    """Self-consistency on seeded random graphs: (1) every surviving
    vertex has degree >= k inside the core (the defining property);
    (2) the peel is idempotent — k_core(core) == core; (3) the core is
    a subset of the input edges."""
    import random

    from data_pipelines_using_llm_spark.operators.graph import k_core

    k = 3
    for seed in (11, 29, 47):
        rng = random.Random(seed)
        und = {
            tuple(sorted((rng.randrange(40), rng.randrange(40))))
            for _ in range(120)
        }
        und = [(a, b) for a, b in und if a != b]
        rows = und + [(b, a) for a, b in und]
        edges = spark.createDataFrame(rows, "src bigint, dst bigint")
        core = k_core(edges, k, max_rounds=50)
        got = {(r["src"], r["dst"]) for r in core.collect()}
        assert got <= set(rows)
        deg = {}
        for s2, _ in got:
            deg[s2] = deg.get(s2, 0) + 1
        assert all(v >= k for v in deg.values()), (seed, deg)
        again = k_core(core, k, max_rounds=50)
        assert {(r["src"], r["dst"]) for r in again.collect()} == got


def _held_rdds(spark) -> set[int]:
    """Ids of the RDDs that hold cached or checkpointed blocks."""
    jsc = spark.sparkContext._jsc.sc()
    return {r.id() for r in jsc.getRDDStorageInfo()}


def test_supplier_pagerank_holds_no_blocks_after_release(spark):
    """``release_barriers`` frees everything a PageRank row stored: the
    persisted edge list AND the ``deg`` / ``nodes`` lineage cuts, whose
    checkpointed blocks ``DataFrame.unpersist`` does not reach."""
    from data_pipelines_using_llm_spark.operators.caching import (
        release_barriers,
    )

    release_barriers()
    before = _held_rdds(spark)
    assert GQ.supplier_pagerank(spark, "/root/testdata/sf0.001").collect()
    release_barriers()
    assert _held_rdds(spark) - before == set()


def test_fixpoint_loops_free_superseded_rounds(spark):
    """The convergence loops free each round's cut once the next round
    exists: after ``pagerank_converged`` (6 rounds on the ring fixture),
    ``k_core_with_rounds`` (4 shrinking rounds on the chain fixture) and
    ``connected_components``, only the returned result still holds
    blocks, and ``release_barriers`` frees that too."""
    from data_pipelines_using_llm_spark.operators import caching
    from data_pipelines_using_llm_spark.operators.dedup import (
        connected_components,
    )
    from data_pipelines_using_llm_spark.operators.graph import (
        k_core_with_rounds,
        pagerank_converged,
    )

    sf = "/root/testdata/sf0.001"
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_id_a bigint, doc_id_b bigint"
    )
    calls = [
        lambda: pagerank_converged(
            GQ._ring_graph_edges(spark, sf),
            tol=GQ.RING_PR_TOL,
            probe_every=GQ.RING_PR_PROBE_EVERY,
        )[0],
        lambda: k_core_with_rounds(GQ._chain_graph_edges(spark, sf), 2)[0],
        lambda: connected_components(chain),
    ]
    for call in calls:
        caching.release_barriers()
        before = _held_rdds(spark)
        out = call()
        assert out.collect()
        assert len(_held_rdds(spark) - before) == 1
        assert len(caching._CUTS) == 1
        caching.release_barriers()
        assert _held_rdds(spark) - before == set()


@pytest.mark.parametrize(
    "loop, rounds, max_jobs",
    [
        # parent counts: 19, 34 and 70 jobs; each round's exit test and
        # the setup's validation were jobs of their own
        ("k_core_trade", 1, 13),
        ("k_core_chain", 4, 22),
        ("pagerank_ring", 6, 45),
    ],
)
def test_fixpoint_loops_read_exit_tests_off_their_cuts(
    spark, loop, rounds, max_jobs
):
    """Each convergence loop reads its exit test (and its setup checks)
    from an ``observe`` on a cut it makes anyway: at sf0.001 the whole
    call starts no more than ``max_jobs`` Spark jobs, and it still stops
    after the same number of rounds."""
    from data_pipelines_using_llm_spark import telemetry
    from data_pipelines_using_llm_spark.operators import caching
    from data_pipelines_using_llm_spark.operators.graph import (
        k_core_with_rounds,
        pagerank_converged,
    )

    sf = "/root/testdata/sf0.001"
    calls = {
        "k_core_trade": lambda: k_core_with_rounds(
            GQ._trade_graph_edges(spark, sf), GQ.KCORE_K, max_rounds=30
        ),
        "k_core_chain": lambda: k_core_with_rounds(
            GQ._chain_graph_edges(spark, sf), GQ.CHAIN_K, max_rounds=10
        ),
        "pagerank_ring": lambda: pagerank_converged(
            GQ._ring_graph_edges(spark, sf),
            tol=GQ.RING_PR_TOL,
            max_rounds=40,
            probe_every=GQ.RING_PR_PROBE_EVERY,
        ),
    }
    try:
        (_out, got), m = telemetry.measure(spark, calls[loop])
    finally:
        caching.release_barriers()
    assert got == rounds
    assert m["jobs"] <= max_jobs, m


@pytest.mark.parametrize(
    "mode", ["pagerank_error", "pagerank_redistribute", "k_core"]
)
def test_null_endpoint_raises_named_error(spark, mode):
    """A NULL endpoint is not a vertex.  Unchecked, PageRank ranked a
    NULL node (redistribute-mode ranks summed to 0.45), error mode
    blamed "1 dangling vertex", and the k-core peel dropped the edge
    silently; each now raises a ``ValueError`` that names the NULL."""
    from data_pipelines_using_llm_spark.operators.graph import (
        k_core_with_rounds,
    )

    rows = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (3, None)]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    with pytest.raises(ValueError, match="NULL"):
        if mode == "k_core":
            k_core_with_rounds(edges, 2)
        else:
            dangling = mode.split("_")[1]
            pagerank(edges, iters=2, dangling=dangling).collect()


# (rows, vhash) of each graph oracle at sf0.001, as the per-row copied
# SQL gave them before the one PageRank / k-core generator existed.
_PINNED_GRAPH_ORACLES = {
    "supplier_pagerank": (160, "30135dfb67"),
    "money_flow_pagerank": (160, "f72013f57f"),
    "ring_pagerank_converged": (25, "743acbe37f"),
    "trade_k_core": (154, "303d026f0d"),
    "trade_k_core_converged": (154, "303d026f0d"),
    "chain_k_core_converged": (5, "9bcffdf277"),
}
_GRAPH_ORACLE_COLS = {
    "supplier_pagerank": ["node_type", "node_key", "pr_score"],
    "money_flow_pagerank": ["node_type", "node_key", "pr_score"],
    "ring_pagerank_converged": ["node_key", "pr_score"],
    "trade_k_core": ["node_type", "node_key", "core_degree"],
    "trade_k_core_converged": ["node_type", "node_key", "core_degree"],
    "chain_k_core_converged": ["node_key", "core_degree"],
}


def test_graph_oracles_match_parent_values():
    """The oracles alone, no Spark: test_oracle.py compares Spark with
    each oracle, so an edit to the shared round CTEs that moved both
    sides together would pass there.  Here every generated oracle must
    still give the rows, columns and value hash the copied SQL gave."""
    import hashlib

    from tests.oracle_check import duckdb_connection

    con = duckdb_connection("/root/testdata/sf0.001")
    for name, (rows, vhash) in _PINNED_GRAPH_ORACLES.items():
        pdf = con.sql(GQ.QUERIES[name].oracle).df()
        recs = sorted(
            tuple(str(v) for v in r)
            for r in pdf[sorted(pdf.columns)].itertuples(index=False)
        )
        digest = hashlib.md5(str(recs).encode()).hexdigest()[:10]
        assert (len(pdf), list(pdf.columns), digest) == (
            rows, _GRAPH_ORACLE_COLS[name], vhash
        ), name
