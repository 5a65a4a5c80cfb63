"""Similarity operators: shape and non-vacuousness (oracle equivalence is
covered by test_oracle.py; these assert the queries return real work)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators import similarity as SIM
from data_pipelines_using_llm_spark.plans import similarity_queries as SQ

SF_DIR = "/root/testdata/sf0.001"

ANN_MAINTAIN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "ann_maintain.py"
)


def test_brute_force_k_per_query(spark):
    df = SQ.knn_brute_force(spark, SF_DIR)
    per_q = df.groupBy("query_id").count().collect()
    assert len(per_q) == 5  # vec_ids 0,100,...,400 at sf0.001
    assert all(r["count"] == SQ.K for r in per_q)
    assert df.filter(F.col("cosine_sim") > 1.0).count() == 0


def test_lsh_subset_of_brute_force_candidates(spark):
    """LSH neighbors are a subset of the corpus and ranks are contiguous."""
    df = SQ.knn_lsh(spark, SF_DIR).cache()
    assert df.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    ranks = (
        df.groupBy("query_id")
        .agg(F.max("rank").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r["mx"] == r["n"] for r in ranks)  # 1..n dense


def test_ivf_returns_neighbors(spark):
    df = SQ.knn_ivf(spark, SF_DIR)
    assert df.groupBy("query_id").count().count() == 5


def test_cosine_pairs_nonempty_and_canonical(spark):
    df = SQ.embedding_cosine_pairs(spark, SF_DIR).cache()
    assert df.count() > 0
    assert df.filter(F.col("vec_id_a") >= F.col("vec_id_b")).count() == 0


def test_knn_arrow_query_guard(spark):
    """The driver-side collect of the query block is bounded: an
    oversized query set raises instead of OOM-ing the driver."""
    import pytest

    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="max_queries"):
        SIM.knn_arrow(e, "vec_id", "embedding", query_mod=1, max_queries=3)


def test_lsh_recall_vs_exact(spark):
    """Multi-probe LSH (8 tables x 6 planes, radius 1) must recover at
    least 90% of the exact top-10 at sf0.01 — the driver embeddings are
    near-orthogonal, so this is the hard recall case (VERDICT r1 measured
    38% for the old single-probe 2x8 config)."""
    sf = "/root/testdata/sf0.01"
    truth: dict[int, set[int]] = {}
    got: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in SQ.knn_lsh(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.9, recall


def test_knn_pq_structure_and_recall_floor(spark):
    """PQ/ADC sanity at sf0.01: per-query ranks are exactly 1..K, codes
    stay within the sub-codebook range, and recall@10 vs exact clears a
    floor.  The floor is deliberately low (0.15): the driver embeddings
    are i.i.d. near-orthogonal — PQ's worst case, since there is no
    low-dimensional structure for the sub-codebooks to exploit
    (measured: 0.22 at m=4, 0.40 at m=16; see SCALE.md).  The
    cross-engine hash gate, not this test, is the exactness check."""
    import data_pipelines_using_llm_spark.operators.similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    rows = SQ.knn_pq(spark, sf).collect()
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert per_q, "no queries produced"
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    *_, codes, cents = SIM.ivfpq_train(
        load_table(spark, sf, "embeddings"), "vec_id", "embedding", iters=0
    )
    cd = codes.toPandas()
    assert set(cd["m"]) == set(range(SIM.PQ_M))
    assert cd["code"].between(0, SIM.PQ_K - 1).all()
    # every vector gets exactly one code per subspace
    assert (cd.groupby(["vec_id", "m"]).size() == 1).all()
    truth: dict[int, set[int]] = {}
    got: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.15, recall


def test_pca_stored_basis_projection_is_bit_identical(spark, tmp_path):
    """Train → persist (versioned artifact) → load → project must equal
    the in-plan projection ROW FOR ROW (parquet doubles round-trip
    bit-exactly), and the artifact must be the documented 3·d + 2
    scalars with a live version pointer."""
    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
        read_version,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    tdir = str(tmp_path / "basis")
    ver = SQ.pca_basis_train(spark, sf, tdir)
    assert current_version(tdir) == ver
    d = SIM_DIM = __import__(
        "data_pipelines_using_llm_spark.operators.similarity",
        fromlist=["DIM"],
    ).DIM
    assert read_version(spark, tdir).count() == 3 * d + 2
    means, v, _lam = SQ.pca_basis_load(spark, tdir)
    stored = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in SQ._pca_project(
            load_table(spark, sf, "embeddings"), means, v
        ).collect()
    }
    inplane = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in SQ.embedding_pca_projection(spark, sf).collect()
    }
    assert stored == inplane


def test_ann_stored_index_serve_is_row_identical(spark, tmp_path):
    """Train → persist (ONE versioned IVFPQ index artifact) → load →
    serve must equal the in-plan ``knn_ivfpq`` ROW FOR ROW (parquet
    round-trips doubles and ints bit-exactly), the artifact must carry
    all four index parts, and retraining must bump the version while
    the previous index stays loadable — no production user retrains the
    index per query."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    tdir = str(tmp_path / "ann_index")
    ver = SQ.ann_index_train(spark, sf, tdir)
    assert current_version(tdir) == ver
    cells, icents, codes, pqcents = SQ.ann_index_load(spark, tdir)
    n_corpus = load_table(spark, sf, "embeddings").count()
    assert cells.count() == n_corpus
    assert codes.count() == n_corpus * SIM.PQ_M
    assert icents.count() <= 10 and icents.count() > 0
    assert pqcents.count() <= SIM.PQ_M * SIM.PQ_K
    e = load_table(spark, sf, "embeddings")
    queries = SIM.query_block(SIM.normed(e, "vec_id", "embedding"), SQ.QUERY_MOD)
    stored = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivfpq_serve(
            queries, cells, icents, codes, pqcents, SQ.K,
            SQ.IVF_KMEANS_NPROBE,
        ).collect()
    }
    inplane = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in SQ.knn_ivfpq(spark, sf).collect()
    }
    assert stored == inplane
    # retrain: version bumps, old version stays readable (time travel)
    ver2 = SQ.ann_index_train(spark, sf, tdir)
    assert ver2 == ver + 1 and current_version(tdir) == ver2
    old_cells, *_rest = SQ.ann_index_load(spark, tdir, version=ver)
    assert old_cells.count() == n_corpus


def test_ann_index_extend_appends_without_retraining(spark, tmp_path):
    """The FAISS add() path over the versioned artifact: extension must
    leave centroids/codebooks BIT-identical (no re-centering), append
    exactly the new vectors' cells/codes, bump the version, and reject
    duplicate ids loudly."""
    import pytest

    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    train = e.filter(F.col("vec_id") % 2 == 0)
    extra = e.filter(F.col("vec_id") % 2 == 1)
    tdir = str(tmp_path / "ann_index")
    v1 = SQ.ann_index_train(spark, sf, tdir, source=train)
    _, icents1, _, pqcents1 = SQ.ann_index_load(spark, tdir)
    ic_before = {r["cell"]: (tuple(r["cv"]), r["cnrm"]) for r in icents1.collect()}
    pc_before = {
        (r["m"], r["code"]): (tuple(r["cv"]), r["cn2"])
        for r in pqcents1.collect()
    }
    dup_batch = extra.unionByName(extra.limit(1))
    with pytest.raises(ValueError, match="within itself"):
        SQ.ann_index_extend(spark, tdir, dup_batch)  # r11 ADVICE gate
    assert current_version(tdir) == v1  # rejected batch committed nothing
    v2 = SQ.ann_index_extend(spark, tdir, extra)
    assert v2 == v1 + 1 and current_version(tdir) == v2
    cells, icents2, codes, pqcents2 = SQ.ann_index_load(spark, tdir)
    n_all = e.count()
    assert cells.count() == n_all
    assert codes.count() == n_all * SIM.PQ_M
    ic_after = {r["cell"]: (tuple(r["cv"]), r["cnrm"]) for r in icents2.collect()}
    pc_after = {
        (r["m"], r["code"]): (tuple(r["cv"]), r["cn2"])
        for r in pqcents2.collect()
    }
    assert ic_after == ic_before  # no re-centering on add
    assert pc_after == pc_before
    with pytest.raises(ValueError, match="already present"):
        SQ.ann_index_extend(spark, tdir, extra)


def test_ann_index_remove_then_readd_round_trips(spark, tmp_path):
    """The FAISS remove_ids analogue (r11 verdict task 2): removal drops
    exactly the requested per-vector rows, leaves centroids/codebooks
    bit-identical, rejects unknown ids and in-batch duplicates loudly —
    and a removed id can be RE-ADDED via ann_index_extend.  Re-added
    vectors land in the ADD-PATH assignment regime (argmin against the
    STORED re-derived centroids/codebooks — exactly ivf_assign/
    pq_assign), which for boundary vectors can differ from their
    train-time final-Lloyd cell; rows never removed are untouched."""
    import pytest

    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    tdir = str(tmp_path / "ann_index")
    v1 = SQ.ann_index_train(spark, sf, tdir)
    cells0, icents0, codes0, pqcents0 = SQ.ann_index_load(spark, tdir)
    cell_map0 = {r["vec_id"]: r["cell"] for r in cells0.collect()}
    code_map0 = {(r["vec_id"], r["m"]): r["code"] for r in codes0.collect()}
    ic0 = {r["cell"]: tuple(r["cv"]) for r in icents0.collect()}
    pc0 = {(r["m"], r["code"]): tuple(r["cv"]) for r in pqcents0.collect()}
    rm = e.filter(
        F.col("vec_id") % SQ.REMOVE_MOD == SQ.REMOVE_RES
    ).select("vec_id")
    rm_ids = {r["vec_id"] for r in rm.collect()}
    assert rm_ids, "fixture must remove something"
    # unknown ids rejected loudly, nothing committed
    ghost = spark.range(10**9, 10**9 + 3).select(
        F.col("id").alias("vec_id")
    )
    with pytest.raises(ValueError, match="not present"):
        SQ.ann_index_remove(spark, tdir, ghost)
    # in-batch duplicates rejected loudly
    with pytest.raises(ValueError, match="within itself"):
        SQ.ann_index_remove(spark, tdir, rm.unionByName(rm.limit(1)))
    assert current_version(tdir) == v1
    v2 = SQ.ann_index_remove(spark, tdir, rm)
    assert v2 == v1 + 1 and current_version(tdir) == v2
    cells1, icents1, codes1, pqcents1 = SQ.ann_index_load(spark, tdir)
    assert {r["vec_id"] for r in cells1.collect()} == (
        set(cell_map0) - rm_ids
    )
    assert {r["cell"]: tuple(r["cv"]) for r in icents1.collect()} == ic0
    assert {
        (r["m"], r["code"]): tuple(r["cv"]) for r in pqcents1.collect()
    } == pc0
    # double-remove now fails: the ids are gone
    with pytest.raises(ValueError, match="not present"):
        SQ.ann_index_remove(spark, tdir, rm)
    # re-add the removed vectors: extend accepts them again and the
    # quantizers never moved, so per-vector state round-trips exactly
    e_rm = e.filter(F.col("vec_id").isin(list(rm_ids)))
    v3 = SQ.ann_index_extend(spark, tdir, e_rm)
    assert v3 == v2 + 1
    cells2, _, codes2, _ = SQ.ann_index_load(spark, tdir)
    cell_map2 = {r["vec_id"]: r["cell"] for r in cells2.collect()}
    code_map2 = {(r["vec_id"], r["m"]): r["code"] for r in codes2.collect()}
    assert set(cell_map2) == set(cell_map0)
    # never-removed rows are untouched
    for vid, cell in cell_map0.items():
        if vid not in rm_ids:
            assert cell_map2[vid] == cell
    for key, code in code_map0.items():
        if key[0] not in rm_ids:
            assert code_map2[key] == code
    # re-added rows follow the add-path regime exactly
    from data_pipelines_using_llm_spark.operators import similarity as S

    expect_cells = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign(e_rm, "vec_id", "embedding", icents1).collect()
    }
    expect_codes = {
        (r["vec_id"], r["m"]): r["code"]
        for r in S.pq_assign(e_rm, "vec_id", "embedding", pqcents1).collect()
    }
    assert {v: cell_map2[v] for v in rm_ids} == expect_cells
    assert {k: code_map2[k] for k in expect_codes} == expect_codes


def test_pca_fold_enforces_fixed_width_non_null_contract(spark):
    """The PCA projection fold must raise loudly on ragged or
    null-element embeddings (r9 ADVICE): a null element would fold the
    pc to NULL and a short array would silently truncate the sum while
    the DuckDB oracle's unnest omits the term — a silent hash mismatch
    if the embeddings table ever stops being fixed-width non-null."""
    import pytest as _pt
    from pyspark.sql import functions as F

    m = F.array(F.lit(0.0), F.lit(0.0))
    v = F.array(F.lit(1.0), F.lit(1.0))
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    assert ok.select(
        F.round(SQ._pca_fold(m, v, dim=2), 6).alias("pc")
    ).collect()[0]["pc"] == 3.0
    for bad in ([(2, [1.0])], [(3, [1.0, None])]):
        df = spark.createDataFrame(
            bad, "vec_id bigint, embedding array<double>"
        )
        with _pt.raises(Exception, match="PCA contract violation"):
            df.select(SQ._pca_fold(m, v, dim=2).alias("pc")).collect()


def test_knn_pq_refined_recall_floor_and_exact_consistency(spark):
    """The refine stage's contract, at the oracle scale (sf0.01):

    1. recall@10 vs exact clears 0.8 — the measured ADC candidate
       recall@C at C=8k (SCALE.md; sf0.001 measures 0.64, which is why
       the floor is pinned at THIS scale, not the smaller fixture's);
    2. it strictly beats raw knn_pq's recall (the whole point of the
       extra corpus pass);
    3. exact-cosine consistency: every (query, neighbor) pair the
       refined output shares with knn_brute_force carries the SAME
       rounded score — the re-rank is exact, not a second approximation.
    """
    sf = "/root/testdata/sf0.01"
    truth: dict[int, set[int]] = {}
    exact_score: dict[tuple[int, int], float] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact_score[(r["query_id"], r["neighbor_id"])] = r["cosine_sim"]
    refined = SQ.knn_pq_refined(spark, sf).collect()
    got: dict[int, set[int]] = {}
    for r in refined:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_score:
            assert r["cosine_sim"] == exact_score[key], key
    total = sum(len(v) for v in truth.values())
    recall = sum(len(truth[q] & got.get(q, set())) for q in truth) / total
    assert recall >= 0.8, recall
    raw: dict[int, set[int]] = {}
    for r in SQ.knn_pq(spark, sf).collect():
        raw.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    raw_recall = sum(len(truth[q] & raw.get(q, set())) for q in truth) / total
    assert recall > raw_recall, (recall, raw_recall)


def test_knn_ivfpq_refined_improves_and_scores_exactly(spark):
    """IndexRefineFlat(IndexIVFPQ) contract at sf0.01: recall@10 vs
    exact must be at least raw knn_ivfpq's (exact re-ranking of a
    superset candidate pool can only help), and every pair shared with
    knn_brute_force carries the identical rounded score — the refine
    stage is exact, not another approximation."""
    sf = "/root/testdata/sf0.01"
    truth: dict[int, set[int]] = {}
    exact_score: dict[tuple[int, int], float] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact_score[(r["query_id"], r["neighbor_id"])] = r["cosine_sim"]
    total = sum(len(v) for v in truth.values())

    def recall(rows) -> float:
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / total

    refined_rows = SQ.knn_ivfpq_refined(spark, sf).collect()
    for r in refined_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_score:
            assert r["cosine_sim"] == exact_score[key], key
    assert recall(refined_rows) >= recall(SQ.knn_ivfpq(spark, sf).collect())


def test_knn_ivfpq_subset_of_probed_cells(spark):
    """IVFPQ candidates must come only from the probed cells: every
    returned neighbor's cell is one of its query's top-nprobe cells by
    centroid cosine, and ranks are contiguous per query.  (Exactness of
    the ADC scores is the oracle gate's job.)"""
    import data_pipelines_using_llm_spark.operators.similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    out = SQ.knn_ivfpq(spark, sf).collect()
    per_q: dict[int, list[int]] = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert per_q
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.kmeans_assign(
            load_table(spark, sf, "embeddings"), "vec_id", "embedding",
            k=10, iters=2,
        ).collect()
    }
    neighbor_cells = {
        (r["query_id"], cells[r["neighbor_id"]]) for r in out
    }
    # no query may draw neighbors from more than nprobe distinct cells
    from collections import Counter

    per_query_cells = Counter(q for q, _ in neighbor_cells)
    assert max(per_query_cells.values()) <= SQ.IVF_KMEANS_NPROBE


def test_knn_arrow_agrees_with_exact(spark):
    """The Arrow GEMM path must produce the same per-query score multiset
    as the JVM sequential-fold exact query (neighbor identity can differ
    only on exact score ties; scores themselves match to 1e-9).  Calls
    the OPERATOR (which still returns scores) — the registered query
    strips them and is rank-hash-gated against its own oracle instead."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        K,
        QUERY_MOD,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    exact = SQ.knn_brute_force(spark, SF_DIR).collect()
    arrow = SIM.knn_arrow(e, "vec_id", "embedding", QUERY_MOD, K).collect()

    def by_query(rows):
        out: dict[int, list[float]] = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cosine_sim"])
        return {q: sorted(v) for q, v in out.items()}

    be, ba = by_query(exact), by_query(arrow)
    assert be.keys() == ba.keys()
    for q in be:
        assert len(be[q]) == len(ba[q])
        for x, y in zip(be[q], ba[q]):
            assert abs(x - y) <= 1e-9, (q, x, y)


def test_ann_recall_scan_tradeoff(spark):
    """The measured ANN trade-off recorded in SCALE.md, asserted so it
    can't silently rot: k-means-quantized IVF (nprobe=4) must reach
    recall@10 >= 0.7 while scanning <= 45% of the corpus — a strictly
    better cost/recall point than label-cell IVF (measured 0.58 recall at
    ~40% scan) on the same embeddings."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        IVF_KMEANS_NPROBE,
        QUERY_MOD,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    got: dict[int, set[int]] = {}
    for r in SQ.knn_ivf_kmeans(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.7, recall

    e = load_table(spark, sf, "embeddings")
    cells = SIM.kmeans_assign(e, "vec_id", "embedding", k=10, iters=2).select(
        "vec_id", F.col("cluster_id").alias("kcell")
    )
    stats = SIM.ivf_scan_stats(
        e.join(cells, "vec_id"), "vec_id", "embedding", "kcell",
        QUERY_MOD, IVF_KMEANS_NPROBE,
    ).collect()
    assert stats
    scan_frac = sum(r["scanned_rows"] for r in stats) / sum(
        r["corpus_rows"] for r in stats
    )
    assert scan_frac <= 0.45, scan_frac


def test_knn_int8_agrees_with_exact(spark):
    """Int8 scalar quantization (round-to-127-levels) perturbs each
    coordinate by <= 0.4%, so the quantized top-10 must be nearly the
    float top-10 — recall >= 0.9 at sf0.01 — and every quantized cosine
    must sit within 2% absolute of SOME real similarity range member.
    (Exactness of the int8 kernel itself is covered by the driver hash
    gate — this test pins the fidelity of the compression.)"""
    sf = "/root/testdata/sf0.01"
    truth: dict[int, set[int]] = {}
    got: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in SQ.knn_int8(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert truth.keys() == got.keys()
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.9, recall


def test_knn_ivf_int8_matches_float_ivf(spark):
    """Same coarse quantizer, compressed candidate scoring: the int8 IVF
    top-10 must agree >= 0.9 with the float IVF top-10 (identical probed
    cells; only the in-cell ranking is quantized)."""
    sf = "/root/testdata/sf0.01"
    a: dict[int, set[int]] = {}
    b: dict[int, set[int]] = {}
    for r in SQ.knn_ivf_kmeans(spark, sf).collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in SQ.knn_ivf_int8(spark, sf).collect():
        b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert a.keys() == b.keys()
    hits = sum(len(a[q] & b.get(q, set())) for q in a)
    agreement = hits / sum(len(v) for v in a.values())
    assert agreement >= 0.9, agreement


def test_semantic_dedup_keep_rule(spark):
    """Recompute the SemDeDup decision rule in numpy at sf0.001: a vector
    is dropped iff some lower-id vector in its k-means cell has cosine >=
    threshold, and dup_of is the smallest such partner."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    out = {r["vec_id"]: r for r in SQ.dedup_semantic(spark, sf).collect()}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    cells: dict[int, list[int]] = {}
    for vid, r in out.items():
        cells.setdefault(r["cluster_id"], []).append(vid)
    dropped = 0
    for vid, r in out.items():
        v = emb[vid]
        partners = [
            o
            for o in cells[r["cluster_id"]]
            if o < vid
            and float(emb[o] @ v)
            / (np.linalg.norm(emb[o]) * np.linalg.norm(v))
            >= SQ.SEMDEDUP_THRESHOLD - 1e-9
        ]
        if r["kept"]:
            assert not partners, (vid, partners)
            assert r["dup_of"] == -1
        else:
            dropped += 1
            assert r["dup_of"] == min(partners), (vid, r["dup_of"], partners)
    assert dropped >= 1  # threshold chosen so the rule actually fires


def test_semantic_dedup_cell_population_bounded_sf01(spark):
    """The target-cell-size parameterization must hold at bench scale:
    at sf0.1 (2000 vectors) k derives to 40 and no cell may exceed the
    guard bound (8 x N/k = 8 x target_cell_size).  The measured max is
    recorded in SCALE.md; this pins the bound so it can't rot."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM

    sf = "/root/testdata/sf0.1"
    # the operator itself raises if the bound is violated; also measure
    out = SQ.dedup_semantic(spark, sf)
    pops = (
        out.groupBy("cluster_id")
        .count()
        .agg(F.max("count").alias("mx"), F.count("*").alias("cells"))
        .first()
    )
    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    k = -(-n // SIM.DEFAULT_CELL_SIZE)
    assert pops["cells"] <= k
    assert pops["mx"] <= 8.0 * n / k, (pops["mx"], n, k)


def test_semantic_dedup_oversized_cell_guard_raises(spark):
    """A degenerate clustering (identical vectors -> one cell) must fail
    loudly instead of silently running the O(N^2) within-cell scan."""
    import pytest

    from data_pipelines_using_llm_spark.operators import similarity as SIM

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="cell population"):
        SIM.semantic_dedup(
            df, "vec_id", "embedding", target_cell_size=10, max_cell_factor=2.0
        ).collect()


def test_hard_negatives_below_threshold_and_ranked(spark):
    """Hard negatives sit strictly below the near-dup bar, exclude self
    pairs, and rank densely per anchor."""
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        HARD_NEG_K,
        HARD_NEG_MAX_COS,
    )

    df = SQ.embedding_hard_negatives(spark, SF_DIR).cache()
    assert df.count() > 0
    assert df.filter(F.col("anchor_id") == F.col("negative_id")).count() == 0
    assert df.filter(F.col("cosine_sim") >= HARD_NEG_MAX_COS).count() == 0
    ranks = (
        df.groupBy("anchor_id")
        .agg(F.max("rank").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r["mx"] == r["n"] <= HARD_NEG_K for r in ranks)


def test_farthest_point_sample_properties(spark):
    """FPS invariants: seed = lowest id with sentinel -1, ranks dense
    1..k, picks are distinct, and each successive pick's max-cos-to-prior
    is non-decreasing (greedy farthest-first ordering)."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(
        SIM.farthest_point_sample(e, "vec_id", "embedding", 6).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert [r["sel_rank"] for r in rows] == list(range(1, 7))
    assert rows[0]["vec_id"] == 0 and rows[0]["max_cos_prior"] == -1.0
    assert len({r["vec_id"] for r in rows}) == 6
    seq = [r["max_cos_prior"] for r in rows[1:]]
    assert seq == sorted(seq)  # each pick is less isolated than the last
    # k exceeding the corpus stops early instead of failing
    tiny = e.limit(3)
    assert SIM.farthest_point_sample(tiny, "vec_id", "embedding", 10).count() == 3


def test_ivf_nprobe8_matches_lsh_recall_sf01(spark):
    """The SCALE.md frontier claim, pinned load-independently: at sf0.1,
    k-means IVF with nprobe=8 must reach recall@10 >= 0.9 — the
    recall-parity point where its serve path beat LSH (1.59s vs 1.83s,
    scripts/ann_frontier.py).  Timing is not asserted (shared host);
    recall is what the claim needs to keep holding."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        QUERY_MOD,
        knn_ivf_kmeans_train,
    )

    sf = "/root/testdata/sf0.1"
    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    emb, cells = knn_ivf_kmeans_train(spark, sf)
    got: dict[int, set[int]] = {}
    for r in SIM.knn_ivf(
        emb.join(cells, "vec_id"), "vec_id", "embedding", "kcell",
        QUERY_MOD, 10, nprobe=8,
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.9, recall


def test_pca_whitened_consistent_with_projection(spark):
    """w_k must equal pc_k / sqrt(eigenvalue_k) using the SURFACED
    top-2 eigenvalues — the three queries share one basis, so the
    whitened output is derivable from the other two up to the 6dp
    output rounding."""
    import math

    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        embedding_pca_projection,
        embedding_pca_whitened,
        embedding_top2_eigvecs,
    )

    sf = "/root/testdata/sf0.001"
    lam = {
        r["component"]: r["eigenvalue"]
        for r in embedding_top2_eigvecs(spark, sf).collect()
        if r["dim"] == 1
    }
    pc = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in embedding_pca_projection(spark, sf).collect()
    }
    w = {
        r["vec_id"]: (r["w1"], r["w2"])
        for r in embedding_pca_whitened(spark, sf).collect()
    }
    assert set(pc) == set(w) and pc
    # pc is rounded to 6dp BEFORE this division, so its half-ulp error
    # is amplified by 1/sqrt(lambda); w adds its own half-ulp.
    for comp in (1, 2):
        tol = 0.5e-6 / math.sqrt(lam[comp]) + 0.6e-6
        for vid in pc:
            assert (
                abs(w[vid][comp - 1] - pc[vid][comp - 1] / math.sqrt(lam[comp]))
                < tol
            ), (vid, comp)


def test_ann_retrain_decision_crosses_on_drifted_appends(spark, tmp_path):
    """r11 verdict task 3: the retrain policy must say 'append' on a
    healthy index (worst per-cell code concentration near 1/PQ_K) and
    'retrain' after the add-path ingests a SHIFTED distribution (new
    vectors collapse onto few codewords, concentration crosses the
    threshold) — turning ann_index_stats' documented drift signal into
    a decision, with the measured append/retrain cost split attached."""
    import pytest

    from data_pipelines_using_llm_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = load_table(spark, sf, "embeddings")
    tdir = str(tmp_path / "ann_index")
    SQ.ann_index_train(spark, sf, tdir)
    cells, _, codes, _ = SQ.ann_index_load(spark, tdir)
    healthy = S.ann_retrain_decision(
        SQ.ann_index_stats_from_parts(cells, codes)
    )
    assert healthy["decision"] == "append"
    # sf0.001's 500 vectors over 10 cells leave small cells, so the max
    # ratio is noisy upward (measured 0.34; 0.32 at sf0.01) — the gap
    # to the 0.5 threshold still holds
    assert healthy["worst_code_concentration"] < 0.5, healthy
    # drift fixture: the same corpus shifted by +8 per dimension under
    # fresh ids — the add path assigns every one against the stored
    # artifacts, where they collapse onto the extreme codewords
    shifted = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(8.0)
        ).alias("embedding"),
    )
    SQ.ann_index_extend(spark, tdir, shifted)
    cells2, _, codes2, _ = SQ.ann_index_load(spark, tdir)
    drifted = S.ann_retrain_decision(
        SQ.ann_index_stats_from_parts(cells2, codes2),
        append_cost_s=1.28,
        retrain_cost_s=2.73,
    )
    assert drifted["decision"] == "retrain", drifted
    assert drifted["worst_code_concentration"] > 0.5
    assert drifted["retrain_costs_n_appends"] == pytest.approx(2.73 / 1.28)
    assert drifted["n_vectors"] == 2 * e.count()


def test_tenant_filtered_serving_is_prefiltered_not_postfiltered(spark):
    """Metadata-filtered ANN (r13): every returned neighbor must share
    its query's tenant label, the result must differ from the
    unfiltered top-k (non-vacuity: 10 balanced tenants mean ~90% of
    every probed cell is foreign), and the filter must act BEFORE
    ranking — queries get MORE same-tenant neighbors than the
    unfiltered top-k contains, which a post-filter could never
    produce."""
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    lab = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    filtered = SQ.knn_ivfpq_tenant(spark, sf).collect()
    assert filtered, "tenant serve returned nothing"
    for r in filtered:
        assert lab[r["neighbor_id"]] == lab[r["query_id"]], r
    unfiltered = {
        (r["query_id"], r["neighbor_id"])
        for r in SQ.knn_ivfpq(spark, sf).collect()
    }
    fpairs = {(r["query_id"], r["neighbor_id"]) for r in filtered}
    assert fpairs != unfiltered
    # pre-filter beats post-filter: per query, the filtered result has
    # at least as many same-tenant rows as survive post-filtering the
    # unfiltered top-k, and strictly more for at least one query
    from collections import Counter

    post = Counter(
        q for q, n in unfiltered if lab[n] == lab[q]
    )
    pre = Counter(q for q, _ in fpairs)
    assert all(pre[q] >= post[q] for q in pre)
    assert any(pre[q] > post.get(q, 0) for q in pre)


def test_tenant_refined_recall_floor(spark):
    """The filtered production stack's recall vs the EXACT filtered
    baseline (knn_brute_force_tenant) — measured 0.52 at sf0.001 and
    0.54 at sf0.01; bounded by nprobe coarse-cell coverage, since the
    pre-filter keeps every probed same-tenant vector in the candidate
    set (C = 80 ≫ tenant∩cells) and the exact re-rank surfaces every
    candidate truth.  Floor 0.40 guards the filter against silently
    starving candidate generation."""
    sf = "/root/testdata/sf0.001"
    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force_tenant(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in SQ.knn_ivfpq_tenant_refined(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n = sum(len(v) for v in truth.values())
    hit = sum(len(truth[q] & got.get(q, set())) for q in truth)
    assert n > 0 and hit / n >= 0.40, (hit, n)


def test_tenant_skewed_per_class_recall(spark):
    """r13 verdict task 2 — filtered search over the SKEWED tenant
    fixture (hot tenant ~92.9%, three cold ~2.4% tenants), per-class
    guarantees measured against the exact filtered baseline:

    (a) policy: the data-derived nprobe map keeps the hot tenant
        cell-pruned (default depth 4 of 10 cells) and sends cold
        tenants to a full probe;
    (b) cold tenants FILL k: every cold query returns exactly K rows
        (the full probe sees the tenant's whole membership), where the
        scalar-nprobe serve under-fills (measured 4 of 10 at sf0.001)
        — the policy is load-bearing, not decorative;
    (c) recall floors vs knn_brute_force_tenant_skewed: cold ≥ 0.7
        (measured 0.90 — full membership as candidates, ADC ordering
        only), hot ≥ 0.05 (measured 0.10 at sf0.001, 0.275 at sf0.01 —
        the raw-PQ regime's honest recall on this near-orthogonal
        corpus, same as the unfiltered raw family; the refined/residual
        stacks are the recall path, see SCALE.md)."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"

    # (a) the policy map derives hot/cold from population share
    e = load_table(spark, sf, "embeddings")
    nmap = {
        r["qlabel"]: r["qnprobe"]
        for r in SQ._skew_nprobe_map(e).collect()
    }
    assert nmap[0] == SQ.IVF_KMEANS_NPROBE  # hot: stays cell-pruned
    assert all(
        nmap[t] == SIM.IVF_CELLS for t in nmap if t != 0
    )  # cold: full probe

    def _skew(x: int) -> int:
        return x % 3 + 1 if (x % 7 == 6 and x % 2 == 0) else 0

    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force_tenant_skewed(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in SQ.knn_ivfpq_tenant_skewed(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hot_q = [q for q in truth if _skew(q) == 0]
    cold_q = [q for q in truth if _skew(q) != 0]
    assert hot_q and cold_q  # the fixture puts queries in BOTH classes

    # (b) cold queries fill k under the policy...
    for q in cold_q:
        assert len(got[q]) == SQ.K, (q, len(got[q]))
    # ...and under-fill without it (same serve, no qnprobe column)
    cells, icents, codes, pqcents = SQ.shared_index_parts(spark, sf)
    labels = e.select(
        "vec_id", SQ._skew_tenant(F.col("vec_id")).alias("label")
    )
    queries = (
        SIM.normed(e, "vec_id", "embedding")
        .filter(F.col("vec_id") % SQ.QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            SQ._skew_tenant(F.col("vec_id")).alias("qlabel"),
        )
    )
    flat = SIM.ivfpq_serve(
        queries, cells, icents, codes, pqcents, SQ.K,
        SQ.IVF_KMEANS_NPROBE, labels=labels,
    )
    flat_counts = {
        r["query_id"]: r["c"]
        for r in flat.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert any(flat_counts.get(q, 0) < SQ.K for q in cold_q), flat_counts

    # (c) per-class recall floors
    def _recall(qs: list[int]) -> float:
        n = sum(len(truth[q]) for q in qs)
        hit = sum(len(truth[q] & got.get(q, set())) for q in qs)
        assert n > 0
        return hit / n

    assert _recall(cold_q) >= 0.7, _recall(cold_q)
    assert _recall(hot_q) >= 0.05, _recall(hot_q)

    # (d) the policy composes with the RESIDUAL regime: cold queries
    # fill k there too (the encodings x skew matrix cell)
    res: dict[int, set[int]] = {}
    for r in SQ.knn_ivfpq_residual_tenant_skewed(spark, sf).collect():
        res.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in cold_q:
        assert len(res[q]) == SQ.K, (q, len(res.get(q, set())))


def test_tenant_skewed_refined_cold_is_exact(spark):
    """The skewed production stack's recall story: a COLD tenant's
    candidate set under the full-probe policy is its entire membership
    (which FITS the C = 80 refine budget at every fixture sf — the
    guarantee is conditional on that, see the plan docstring and
    SCALE.md), so the exact re-rank returns the EXACT filtered top-k —
    recall 1.0 vs the brute-force skewed baseline, not a floor.  The
    hot class keeps a refined-recall floor (candidates bounded by cell
    coverage)."""
    sf = "/root/testdata/sf0.001"

    def _skew(x: int) -> int:
        return x % 3 + 1 if (x % 7 == 6 and x % 2 == 0) else 0

    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force_tenant_skewed(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in SQ.knn_ivfpq_tenant_skewed_refined(spark, sf).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    cold_q = [q for q in truth if _skew(q) != 0]
    hot_q = [q for q in truth if _skew(q) == 0]
    assert cold_q and hot_q
    for q in cold_q:  # exact, not approximate
        assert got[q] == truth[q], (q, got[q], truth[q])
    n = sum(len(truth[q]) for q in hot_q)
    hit = sum(len(truth[q] & got.get(q, set())) for q in hot_q)
    assert n > 0 and hit / n >= 0.30, (hit, n)


def test_skew_full_probe_covers_all_cells(spark):
    """The skewed policy's 'cold tenants probe EVERY cell' claim is only
    as good as SIM.IVF_CELLS matching the trained index's actual cell
    count — if the trained index ever held another number of cells,
    the Spark policy and the oracle's probe bound would still agree
    with each other (gate stays green) while full-probe silently became
    partial.  Pin the tie against the live session artifact."""
    icents = SQ.shared_index_parts(spark, "/root/testdata/sf0.001")[1]
    assert icents.count() == SIM.IVF_CELLS


def test_tenant_partitioned_layout_prunes(spark):
    """r13 verdict optional task 7 — the partitionBy(label) index
    layout's scale claim: a single-tenant serve with a literal label
    predicate must reach the membership scan as a PARTITION filter
    (reading ~1/n_tenants of the bytes), not a post-scan filter; and
    the layout's serve must agree row-for-row with the label-join
    layout (knn_ivfpq_tenant) — layout changes, results don't."""
    sf = "/root/testdata/sf0.001"
    mem = SQ._tenant_partitioned_membership(spark, sf)
    plan = (
        mem.filter(F.col("label") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    # the literal predicate lands in PartitionFilters, not PushedFilters
    part_section = plan.split("PartitionFilters")[1].split("]")[0]
    assert "label" in part_section, plan

    a = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in SQ.knn_ivfpq_tenant(spark, sf).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in SQ.knn_ivfpq_tenant_partitioned(spark, sf).collect()
    }
    assert a == b and len(a) > 0


def test_residual_serve_filters_label_partitioned_membership(spark, tmp_path):
    """Both encoding regimes share one tenant filter: a RESIDUAL serve
    over a label-carrying membership (the partitionBy("label") layout
    of _tenant_partitioned_membership, residual parts) must return only
    same-tenant neighbours, and the same rows as the label-table join
    (knn_ivfpq_residual_tenant)."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    cells, icents, codes, pqcents = SQ.shared_index_parts(
        spark, SF_DIR, residual=True
    )
    e = load_table(spark, SF_DIR, "embeddings")
    labels = e.select("vec_id", F.col("label").cast("long").alias("label"))
    mdir = str(tmp_path / "membership")
    cells.join(labels, "vec_id").write.partitionBy("label").parquet(mdir)
    mem = spark.read.parquet(mdir).select(
        "vec_id", "cell", F.col("label").cast("long").alias("label")
    )
    served = SIM.ivfpq_serve(
        SQ._query_block(e, "label"), mem, icents, codes, pqcents, SQ.K,
        SQ.IVF_KMEANS_NPROBE, residual=True,
    ).collect()
    label_of = {r["vec_id"]: r["label"] for r in labels.collect()}
    foreign = [
        r for r in served
        if label_of[r["neighbor_id"]] != label_of[r["query_id"]]
    ]
    assert served and not foreign, foreign[:5]

    def keyed(rows) -> dict:
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in rows
        }

    joined = SQ.knn_ivfpq_residual_tenant(spark, SF_DIR).collect()
    assert keyed(served) == keyed(joined)


def _load_ann_maintain():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ann_maintain", ANN_MAINTAIN
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ann_maintain_costs_are_flag_or_measured(spark, tmp_path):
    """r12 verdict task 5: the maintenance decision's cost split must be
    measurable, not hardcoded — decide() records WHERE the costs came
    from (``cost_provenance``: None / 'flags' / 'measured'), --measure
    times a real extend (against a COPY — the live pointer must not
    move) and a real retrain in the artifact's own encoding regime,
    and the flag pairing is enforced at parse time."""
    import pytest

    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )

    am = _load_ann_maintain()
    sf = "/root/testdata/sf0.001"
    tdir = str(tmp_path / "ann_index")
    SQ.ann_index_train(spark, sf, tdir, residual=True)
    v_live = current_version(tdir)

    bare = am.decide(spark, tdir)
    assert bare["cost_provenance"] is None
    assert "append_cost_s" not in bare

    flagged = am.decide(
        spark, tdir, append_cost_s=1.0, retrain_cost_s=3.0
    )
    assert flagged["cost_provenance"] == "flags"
    assert flagged["retrain_costs_n_appends"] == pytest.approx(3.0)

    measured = am.decide(
        spark,
        tdir,
        measure=True,
        corpus=f"{sf}/embeddings.parquet",
        measure_batch=50,
    )
    assert measured["cost_provenance"] == "measured"
    assert measured["measure_batch"] == 50
    assert measured["append_cost_s"] > 0
    assert measured["retrain_cost_s"] > 0
    assert measured["residual"] is True
    assert current_version(tdir) == v_live  # live pointer untouched

    # parse-time contracts: costs pair up; measure needs a corpus and
    # excludes explicit costs; bare invocation is the usage probe.
    # r13 ADVICE item 1: every usage error exits 64 (EX_USAGE), never
    # 2 — exit 2 is reserved for a genuine "retrain" decision, so a
    # cron wrapper keying retrain off it can't be tricked by a typo.
    for bad in (
        ["t", "--append-cost", "1.0"],
        ["t", "--measure"],
        ["t", "--measure", "--corpus", "c",
         "--append-cost", "1", "--retrain-cost", "2"],
        ["t", "--no-such-flag"],
        ["t", "--threshold", "not-a-float"],
    ):
        with pytest.raises(SystemExit) as exc:
            am._parse(bad)
        assert exc.value.code == am.EXIT_USAGE == 64, bad
    assert am._parse([]) is None

    # r13 ADVICE item 3: decide() is the importable API — the
    # measure/corpus pairing must raise a clear ValueError when called
    # programmatically, not an opaque spark.read.parquet(None) failure
    with pytest.raises(ValueError, match="requires corpus"):
        am.decide(spark, tdir, measure=True)
    # ...and an EMPTY corpus fails loudly before any timing work
    empty = str(tmp_path / "empty_corpus")
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    ).write.parquet(empty)
    with pytest.raises(ValueError, match="empty"):
        am.measure_costs(spark, tdir, empty)


def test_ann_maintain_measures_extended_artifact(spark, tmp_path):
    """r13 ADVICE item 2: --measure on a live artifact that has ALREADY
    been extended (ids above the corpus max — the drift scenario the
    tool exists for) must not trip ann_index_extend's append-only gate:
    the timed batch's id shift is computed from max(corpus max,
    artifact max), not the corpus alone."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.sources.tables import load_table

    am = _load_ann_maintain()
    sf = "/root/testdata/sf0.001"
    tdir = str(tmp_path / "ann_index")
    SQ.ann_index_train(spark, sf, tdir)
    # drift append: re-id'd corpus rows far above the corpus max
    e = load_table(spark, sf, "embeddings")
    drift = e.limit(40).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    SQ.ann_index_extend(spark, tdir, drift)
    report = am.decide(
        spark,
        tdir,
        measure=True,
        corpus=f"{sf}/embeddings.parquet",
        measure_batch=30,
    )
    assert report["cost_provenance"] == "measured"
    assert report["append_cost_s"] > 0 and report["retrain_cost_s"] > 0


def test_ann_maintenance_rejects_null_ids_and_empty_stats(spark, tmp_path):
    """r12 ADVICE hardening: (a) a maintenance batch carrying a NULL id
    — or an id the long cast nulls out — must be rejected with a
    dedicated null-id error, not misreported as 'duplicate ids'
    (count/countDistinct skips NULLs); (b) ann_retrain_decision on an
    EMPTY stats frame (an index whose vectors were all removed) must
    raise a ValueError naming the problem, not TypeError(float(None))."""
    import pytest

    from data_pipelines_using_llm_spark.operators import similarity as S
    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    tdir = str(tmp_path / "ann_index")
    v1 = SQ.ann_index_train(spark, sf, tdir)
    dim = len(e.first()["embedding"])
    # literal NULL id
    null_batch = spark.createDataFrame(
        [(None, [0.0] * dim), (10**9, [1.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL vector id"):
        SQ.ann_index_extend(spark, tdir, null_batch)
    # (a string id that fails the long cast raises Spark's own ANSI
    # CAST_INVALID_INPUT before reaching the gate — loud either way;
    # the "nulls out" wording in the error covers non-ANSI sessions)
    with pytest.raises(ValueError, match="NULL vector id"):
        SQ.ann_index_remove(
            spark, tdir, null_batch.select("vec_id")
        )
    assert current_version(tdir) == v1  # nothing committed by rejects
    # empty stats frame: loud ValueError, not float(None)
    cells, _, codes, _ = SQ.ann_index_load(spark, tdir)
    empty_stats = SQ.ann_index_stats_from_parts(
        cells.limit(0), codes.limit(0)
    )
    with pytest.raises(ValueError, match="empty index stats"):
        S.ann_retrain_decision(empty_stats)


def test_residual_index_artifact_round_trips(spark, tmp_path):
    """The residual encoding must travel IN the artifact (meta row) and
    the maintenance paths must honor it: extend on a residual index
    encodes x - c_cell (not the raw vector) against the stored
    codebooks, remove preserves the flag, and a pre-r12-style raw
    artifact defaults to raw encoding."""
    from data_pipelines_using_llm_spark.operators import similarity as S
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    train = e.filter(F.col("vec_id") % 2 == 0)
    extra = e.filter(F.col("vec_id") % 2 == 1)
    tdir = str(tmp_path / "res_index")
    SQ.ann_index_train(spark, sf, tdir, source=train, residual=True)
    assert SQ.ann_index_meta(spark, tdir) == {"residual": True}
    _, icents, _, pqcents = SQ.ann_index_load(spark, tdir)
    SQ.ann_index_extend(spark, tdir, extra)
    assert SQ.ann_index_meta(spark, tdir) == {"residual": True}
    cells2, _, codes2, _ = SQ.ann_index_load(spark, tdir)
    extra_ids = {r["vec_id"] for r in extra.select("vec_id").collect()}
    # the appended codes must equal residual encoding, and must NOT
    # equal raw encoding (the silent-corruption failure the meta row
    # exists to prevent)
    new_cells = S.ivf_assign(extra, "vec_id", "embedding", icents)
    resid = S.pq_residuals(extra, "vec_id", "embedding", new_cells, icents)
    want = {
        (r["vec_id"], r["m"]): r["code"]
        for r in S.pq_assign(resid, "vec_id", "v", pqcents).collect()
    }
    raw = {
        (r["vec_id"], r["m"]): r["code"]
        for r in S.pq_assign(extra, "vec_id", "embedding", pqcents).collect()
    }
    got = {
        (r["vec_id"], r["m"]): r["code"]
        for r in codes2.collect()
        if r["vec_id"] in extra_ids
    }
    assert got == want
    assert got != raw  # residual vs raw genuinely differ on this data
    # remove preserves the flag
    SQ.ann_index_remove(
        spark, tdir, extra.limit(5).select("vec_id")
    )
    assert SQ.ann_index_meta(spark, tdir) == {"residual": True}
    # a raw artifact stays raw through extend, and a metaless (pre-r12)
    # snapshot reads as raw
    tdir2 = str(tmp_path / "raw_index")
    SQ.ann_index_train(spark, sf, tdir2, source=train)
    assert SQ.ann_index_meta(spark, tdir2) == {"residual": False}
    SQ.ann_index_extend(spark, tdir2, extra)
    cells3, _, codes3, _ = SQ.ann_index_load(spark, tdir2)
    got_raw = {
        (r["vec_id"], r["m"]): r["code"]
        for r in codes3.collect()
        if r["vec_id"] in extra_ids
    }
    raw2 = {
        (r["vec_id"], r["m"]): r["code"]
        for r in S.pq_assign(
            extra, "vec_id", "embedding", SQ.ann_index_load(spark, tdir2)[3]
        ).collect()
    }
    assert got_raw == raw2


def test_residual_encoding_recall_floor_and_gain(spark):
    """Residual encoding must clear a recall floor and not lose to raw
    IVFPQ at equal code budget on the 500-vector corpora (measured:
    0.22 vs 0.12 at sf0.001, 0.26 vs 0.24 at sf0.01 — on the bigger
    i.i.d. sf0.1 corpus the two are at parity, recorded in SCALE.md).
    Guards the residual math against a regression that silently
    degrades it below the raw baseline."""
    sf = "/root/testdata/sf0.001"
    truth: dict[int, set[int]] = {}
    for r in SQ.knn_brute_force(spark, sf).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n_truth = sum(len(v) for v in truth.values())

    def recall(rows) -> float:
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return (
            sum(len(truth[q] & got.get(q, set())) for q in truth) / n_truth
        )

    res = recall(SQ.knn_ivfpq_residual(spark, sf).collect())
    raw = recall(SQ.knn_ivfpq(spark, sf).collect())
    assert res >= 0.15, res
    assert res >= raw, (res, raw)


@pytest.mark.parametrize("corpus", ["empty", "no_seed_ids"])
def test_ivfpq_training_rejects_unseedable_corpus(spark, tmp_path, corpus):
    """A corpus with nothing to seed from — an empty frame, or no
    ``vec_id`` below the seed bound ``max(k, PQ_K)`` — must raise a
    named ``ValueError`` from every training entry point, never publish
    an empty index."""
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    bad = (
        e.filter(F.lit(False))
        if corpus == "empty"
        else e.filter(F.col("vec_id") >= max(10, SIM.PQ_K))
    )
    for residual in (False, True):
        tdir = str(tmp_path / f"idx_{residual}")
        with pytest.raises(ValueError, match="no seed vectors"):
            SQ.ann_index_train(
                spark, SF_DIR, tdir, source=bad, residual=residual
            )
    with pytest.raises(ValueError, match="no seed vectors"):
        SIM.ivfpq_train(bad, "vec_id", "embedding")


def _ref_d2(v, cv):
    """Spark's ``aggregate(zip_with(v, cv, (x-y)²))``: a sequential double
    fold, NULL when a length differs (zip_with pads) or an element is
    NULL."""
    if v is None or len(v) != len(cv) or None in v:
        return None
    acc = 0.0
    for x, y in zip(v, cv):
        acc += (x - y) * (x - y)
    return acc


def _ref_argmin(v, cents):
    """(d2, lowest cid) with a NULL distance first — ``array_min``'s order."""
    return min(
        cents, key=lambda c: ((0, 0.0) if (d := _ref_d2(v, c[1])) is None else (1, d), c[0])
    )[0]


def _ref_means(members, off, width):
    """Decimal reference of the exact-mean kernel: each element rounded
    half-up to 10 places, summed exactly, then ``float(s) / n`` with ``n``
    counting every member (a short vector or NULL element adds no term)."""
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for p in range(off, off + width):
        xs = [v[p] for v in members if p < len(v) and v[p] is not None]
        if not xs:
            out.append(None)
            continue
        # Spark casts a double to DECIMAL from its shortest decimal string
        s = sum(Decimal(repr(x)).quantize(Decimal("1e-10"), ROUND_HALF_UP) for x in xs)
        out.append(float(s) / len(members))
    return out


def _kernel_corpus():
    """64-d vectors with many significant digits around three centres,
    plus one short vector, one vector with a NULL element and one NULL
    vector."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        c = (i % 3) * 5.0 - 5.0
        rows.append((i, [c + rng.uniform(-1, 1) / 3.0 for _ in range(SIM.DIM)]))
    rows.append((40, [rng.uniform(-1, 1) / 7.0 for _ in range(40)]))  # short
    holed = [rng.uniform(-1, 1) / 7.0 for _ in range(SIM.DIM)]
    holed[20] = None
    rows.append((41, holed))
    rows.append((42, None))
    return rows


def test_exact_mean_and_argmin_kernels_match_decimal_reference(spark):
    """The literal argmin and the one exact-mean kernel, against a Python
    ``decimal`` reference: one Lloyd round of the coarse family and the PQ
    families (``_lloyd_rounds``), the lazy ``ivf_centroids``, and an exact
    distance tie in ``kmeans_assign`` going to the lowest cid."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("v", ArrayType(DoubleType())),
    ])
    rows = _kernel_corpus()
    base = spark.createDataFrame(rows, schema)
    live = [(i, v) for i, v in rows if v is not None]
    sub = SIM.PQ_SUBDIM
    coarse = [(i, v) for i, v in rows if i < 3]
    pqc = {mi: [(i, v[mi * sub:(mi + 1) * sub]) for i, v in rows if i < 4] for mi in range(SIM.PQ_M)}

    got_coarse, got_pq = SIM._lloyd_rounds(base, coarse, 1, pqc, 1, sub)

    def ref(fam_cents, off, width, part):
        groups: dict = {}
        for _, v in live:
            groups.setdefault(_ref_argmin(part(v), fam_cents), []).append(v)
        return sorted((cid, _ref_means(m, off, width)) for cid, m in groups.items())

    assert got_coarse == ref(coarse, 0, SIM.DIM, lambda v: v)
    for mi in range(SIM.PQ_M):
        off = mi * sub
        assert got_pq[mi] == ref(pqc[mi], off, sub, lambda v, o=off: v[o:o + sub]), mi
    # the short and the NULL-holding vector both met a NULL distance
    assert _ref_argmin(rows[40][1], coarse) == _ref_argmin(rows[41][1], coarse) == 0

    labelled = base.select("v", (F.col("vec_id") % 4).alias("cell"))
    cents = {r["cell"]: r["cv"] for r in SIM.ivf_centroids(labelled, "cell").collect()}
    want = {}
    for i, v in live:
        want.setdefault(i % 4, []).append(v)
    assert cents == {c: _ref_means(m, 0, SIM.DIM) for c, m in want.items()}

    tie = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 3.0])],
        "vec_id long, v array<double>",
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.kmeans_assign(tie, "vec_id", "v", k=2, iters=0).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0, 3: 0}


def test_ann_train_is_fixed_jobs_and_python_free(spark, tmp_path):
    """Training an index runs a fixed number of Spark jobs, and its
    codebooks are SQL-literal rows: their plans are a ``LocalTableScan``
    (no RDD scan, no Python worker), so the artifact write is map-only."""
    from data_pipelines_using_llm_spark.operators.caching import release_barriers
    from data_pipelines_using_llm_spark.sources.tables import load_table
    from data_pipelines_using_llm_spark.telemetry import measure

    release_barriers()  # a base an earlier test left cached would skip its persist
    counts = []
    for i in range(2):
        tdir = str(tmp_path / f"idx{i}")
        _, c = measure(spark, lambda: SQ.ann_index_train(spark, SF_DIR, tdir))
        release_barriers()
        counts.append(c["jobs"])
    # the seed collect over the spread, persisted base (3 jobs under AQE),
    # three fused Lloyd rounds (2 each: the shuffle map stage, then the
    # collect) and the map-only artifact write (1)
    assert counts == [10, 10], counts

    e = load_table(spark, SF_DIR, "embeddings")
    for residual in (False, True):
        _, icents, _, pqcents = SIM.ivfpq_train(e, "vec_id", "embedding", residual)
        for part in (icents, pqcents):
            plan = part._jdf.queryExecution().executedPlan().toString()
            ops = {
                re.sub(r"^[\s:+-]*(\*\(\d+\)\s*)?", "", line).split()[0]
                for line in plan.splitlines()
                if line.strip()
            }
            assert ops <= {"LocalTableScan", "Generate", "Project"}, plan
        release_barriers()


@pytest.mark.parametrize("residual", [False, True])
def test_shared_index_rejects_wrong_encoding_regime(
    spark, monkeypatch, residual
):
    """An artifact whose meta row reports the other encoding regime must
    raise ``ValueError`` (a bare ``assert`` vanishes under ``python -O``)."""
    from data_pipelines_using_llm_spark.operators import caching

    monkeypatch.setattr(caching, "_ARTIFACTS", {})
    monkeypatch.setattr(
        SQ, "ann_index_meta", lambda *a, **k: {"residual": not residual}
    )
    with pytest.raises(ValueError, match="encoding regime"):
        SQ.shared_index_parts(spark, SF_DIR, residual=residual)


def test_shared_index_rebuilds_when_embeddings_change(spark, tmp_path):
    """The session store fingerprints its inputs: after the embeddings
    file is rewritten, the shared index must be retrained on the new
    corpus, not handed back from the old one."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = str(tmp_path / "embeddings.parquet")
    shutil.copyfile(f"{SF_DIR}/embeddings.parquet", path)
    assert SQ.shared_index_parts(spark, str(tmp_path))[0].count() > 0

    table = pq.read_table(path)
    ids = sorted(table.column("vec_id").to_pylist())
    cut = ids[len(ids) - len(ids) // 10]  # drop the highest-id tenth
    subset = table.filter(pc.less(table.column("vec_id"), cut))
    pq.write_table(subset, path)

    cells = SQ.shared_index_parts(spark, str(tmp_path))[0]
    assert cells.count() == subset.num_rows < table.num_rows


def test_ann_maintenance_leaves_no_residue(spark, tmp_path):
    """Once the session artifacts exist, the removal anchor and an
    extend/remove round on an index hold nothing past
    ``release_barriers()``: no persisted RDD and no scratch directory."""
    import os

    from data_pipelines_using_llm_spark.operators import caching
    from data_pipelines_using_llm_spark.sources.tables import load_table

    SQ.knn_ivfpq_removed(spark, SF_DIR).collect()
    caching.release_barriers()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())

    assert SQ.knn_ivfpq_removed(spark, SF_DIR).collect()
    tdir = str(tmp_path / "idx")
    SQ.seed_index_dir(spark, SF_DIR, tdir)
    e = load_table(spark, SF_DIR, "embeddings")
    new = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    SQ.ann_index_extend(spark, tdir, new)
    SQ.ann_index_remove(spark, tdir, new.select("vec_id"))
    assert SQ.ann_index_load(spark, tdir)[0].count() == e.count()
    caching.release_barriers()

    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    root = caching._session_root()
    assert [n for n in os.listdir(root) if not n.startswith("artifact_")] == []


# (rows, vhash) of each k-means / IVF / IVFPQ oracle at sf0.001 as the
# copied per-row SQL gave them, before those oracles became builder calls.
# vhash = scripts/drive_contract.py's order-insensitive value hash.
_PINNED_ORACLES = {
    "ann_index_stats": (10, "3133993e02"),
    "dedup_semantic": (500, "4b3e336568"),
    "kmeans_clusters": (500, "2f10ea6372"),
    "knn_ivf": (50, "40e5fc39d6"),
    "knn_ivf_int8": (50, "6033923fe6"),
    "knn_ivf_kmeans": (50, "d0e5f816b8"),
    "knn_ivfpq": (50, "38e10e972c"),
    "knn_ivfpq_extended": (50, "af8ca3813b"),
    "knn_ivfpq_refined": (50, "0427fbb38e"),
    "knn_ivfpq_refined_stored": (50, "0427fbb38e"),
    "knn_ivfpq_removed": (50, "21dd455c5d"),
    "knn_ivfpq_residual": (50, "9c3568bd99"),
    "knn_ivfpq_residual_extended": (50, "f2d91b5791"),
    "knn_ivfpq_residual_refined": (50, "6dafb0297e"),
    "knn_ivfpq_residual_removed": (50, "7f7dfb5f73"),
    "knn_ivfpq_residual_stored": (50, "9c3568bd99"),
    "knn_ivfpq_residual_tenant": (50, "d1cbe9672d"),
    "knn_ivfpq_residual_tenant_skewed": (50, "0725e0dd56"),
    "knn_ivfpq_stored": (50, "38e10e972c"),
    "knn_ivfpq_tenant": (50, "b6ed6b5930"),
    "knn_ivfpq_tenant_partitioned": (50, "b6ed6b5930"),
    "knn_ivfpq_tenant_refined": (50, "912dd1d25f"),
    "knn_ivfpq_tenant_skewed": (50, "3578d9ec9a"),
    "knn_ivfpq_tenant_skewed_refined": (50, "73ba403e6c"),
    "knn_pq": (50, "a7949d466e"),
    "knn_pq_refined": (50, "28b0307da3"),
    "stream_knn_residual_serve": (50, "9c3568bd99"),
    "stream_knn_residual_tenant_serve": (50, "d1cbe9672d"),
    "stream_knn_serve": (50, "38e10e972c"),
    "stream_knn_tenant_serve": (50, "b6ed6b5930"),
}
_KNN_COLS = ["query_id", "neighbor_id", "cosine_sim", "rank"]
_PINNED_COLS = {
    "ann_index_stats": ["cell", "n_vectors", "corpus_share", "max_code_count"],
    "dedup_semantic": ["vec_id", "cluster_id", "kept", "dup_of"],
    "kmeans_clusters": ["vec_id", "cluster_id", "dist"],
}


def test_ann_oracles_match_parent_values():
    """The oracles alone, no Spark: test_oracle.py compares Spark with
    each oracle, so an edit to the shared mean, Lloyd or serve CTEs that
    moved both sides together would pass there.  Here every builder
    oracle must still give the rows, columns and value hash the copied
    SQL gave before the builder existed."""
    import hashlib

    from data_pipelines_using_llm_spark.registry import all_queries
    from tests.oracle_check import duckdb_connection

    con = duckdb_connection(SF_DIR)
    specs = all_queries()
    results: dict[str, tuple] = {}  # rows sharing one SQL run it once
    for name, (rows, vhash) in _PINNED_ORACLES.items():
        sql = specs[name].oracle
        if sql not in results:
            pdf = con.sql(sql).df()
            recs = sorted(
                tuple(str(v) for v in r)
                for r in pdf[sorted(pdf.columns)].itertuples(index=False)
            )
            digest = hashlib.md5(str(recs).encode()).hexdigest()[:10]
            results[sql] = (len(pdf), list(pdf.columns), digest)
        assert results[sql] == (
            rows, _PINNED_COLS.get(name, _KNN_COLS), vhash
        ), name
