#!/usr/bin/env python3
"""Measure the ANN recall-vs-latency frontier on identical query sets.

Produces the recall-matched serve comparison SCALE.md records (VERDICT r4/r5
ask): for each ANN configuration — multi-probe LSH, k-means IVF at several
nprobe, and int8-compressed IVF — measure

- recall@10 against the exact JVM brute-force top-k,
- serve wall time (train/signature cost excluded where the API splits it:
  IVF trains its quantizer once via ``knn_ivf_kmeans_train``; LSH has no
  trained state, its signature step is part of serving),
- corpus scan fraction (IVF only, via ``ivf_scan_stats``).

Run:  python scripts/ann_frontier.py [sf_dir]   (default /root/testdata/sf0.1)

Each timing is the median of ``--reps`` runs (default 3) of a full
materialize (noop write), on a warmed session.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = 3

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.operators.caching import barrier
    from data_pipelines_using_llm_spark.plans import similarity_queries as SQ
    from data_pipelines_using_llm_spark.sources.tables import load_table

    e = barrier(load_table(spark, sf_dir, "embeddings"))
    n_corpus = e.count()

    truth: dict[int, set[int]] = {}
    for r in SIM.knn_brute_force(
        e, "vec_id", "embedding", SQ.QUERY_MOD, SQ.K
    ).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n_truth = sum(len(v) for v in truth.values())
    print(f"# sf_dir={sf_dir} corpus={n_corpus} queries={len(truth)}")

    def recall(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / n_truth

    def timed(mk) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    # trained IVF state, built once and excluded from serve timings
    emb, cells = SQ.knn_ivf_kmeans_train(spark, sf_dir)
    labeled = barrier(emb.join(cells, "vec_id"))
    labeled.count()

    rows = []

    def scan_frac(nprobe: int) -> float:
        stats = SIM.ivf_scan_stats(
            labeled, "vec_id", "embedding", "kcell", SQ.QUERY_MOD, nprobe
        ).collect()
        return sum(r["scanned_rows"] for r in stats) / sum(
            r["corpus_rows"] for r in stats
        )

    # brute force: the 100% scan baseline
    rows.append(
        (
            "brute_force (exact)",
            timed(
                lambda: SIM.knn_brute_force(
                    e, "vec_id", "embedding", SQ.QUERY_MOD, SQ.K
                )
            ),
            1.0,
            1.0,
        )
    )
    rows.append(
        (
            "arrow GEMM (exact)",
            timed(
                lambda: SIM.knn_arrow(
                    e, "vec_id", "embedding", SQ.QUERY_MOD, SQ.K
                )
            ),
            1.0,
            1.0,
        )
    )

    lsh = lambda: SIM.knn_lsh(  # noqa: E731
        e,
        "vec_id",
        "embedding",
        SQ.QUERY_MOD,
        SQ.K,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    rows.append(("lsh 8x6 probe-r1", timed(lsh), recall(lsh()), float("nan")))

    for nprobe in (1, 2, 4, 8):
        mk = lambda: SIM.knn_ivf(  # noqa: E731
            labeled, "vec_id", "embedding", "kcell", SQ.QUERY_MOD, SQ.K, nprobe
        )
        rows.append(
            (f"ivf_kmeans nprobe={nprobe}", timed(mk), recall(mk()), scan_frac(nprobe))
        )

    for nprobe in (4, 8):
        mk = lambda: SIM.knn_ivf_int8(  # noqa: E731
            labeled, "vec_id", "embedding", "kcell", SQ.QUERY_MOD, SQ.K, nprobe
        )
        rows.append(
            (
                f"ivf_int8 nprobe={nprobe}",
                timed(mk),
                recall(mk()),
                scan_frac(nprobe),
            )
        )

    # PQ family: the IVFPQ trainer's parts, materialized once and
    # excluded from serve timings like IVF.  Its coarse quantizer is the
    # same k-means (k=10, 2 rounds) that produced ``kcell``.
    def train(residual: bool) -> list:
        return [
            part.localCheckpoint(eager=True)
            for part in SIM.ivfpq_train(e, "vec_id", "embedding", residual)
        ]

    raw = train(False)
    pq = tuple(raw[2:])
    mk_pq = lambda: SIM.knn_pq(  # noqa: E731
        e, "vec_id", "embedding", SQ.QUERY_MOD, SQ.K, pq=pq
    )
    rows.append(("pq m=4 (ADC, full scan)", timed(mk_pq), recall(mk_pq()), 1.0))

    # IVFPQ serves (raw and residual, optionally refined) all go through
    # the one serve, ``SIM.ivfpq_serve``; the refined variants re-rank
    # C = factor*k candidates exactly, so recall@k becomes the candidate
    # recall@C — the recall dial raw PQ lacks on this corpus.
    base_n = SIM.normed(e, "vec_id", "embedding")
    queries = SIM.query_block(base_n, SQ.QUERY_MOD)

    def ivfpq(parts, residual: bool, nprobe: int, factor: int | None = None):
        ncand = SQ.K if factor is None else factor * SQ.K
        out = SIM.ivfpq_serve(
            queries, *parts, ncand, nprobe, residual=residual
        )
        if factor is None:
            return out
        return SIM._refine_exact(
            base_n,
            out.select("query_id", "neighbor_id"),
            SQ.QUERY_MOD,
            SQ.K,
            ncand,
            n_queries=len(truth),
        )

    for nprobe in (4, 8):
        mk = lambda: ivfpq(raw, False, nprobe)  # noqa: E731
        rows.append(
            (
                f"ivfpq m=4 nprobe={nprobe}",
                timed(mk),
                recall(mk()),
                scan_frac(nprobe),
            )
        )
    for factor in (2, 8, 32):
        mk = lambda: SIM.knn_pq_refined(  # noqa: E731
            e, "vec_id", "embedding", SQ.QUERY_MOD, SQ.K,
            refine_factor=factor, pq=pq,
        )
        rows.append(
            (f"pq_refined m=4 C={factor}k", timed(mk), recall(mk()), 1.0)
        )
    for factor in (2, 8, 32):
        mk = lambda: ivfpq(raw, False, 8, factor)  # noqa: E731
        rows.append(
            (
                f"ivfpq_refined m=4 nprobe=8 C={factor}k",
                timed(mk),
                recall(mk()),
                scan_frac(8),
            )
        )

    # Residual-encoded IVFPQ (r11 verdict task 1): PQ over x - c_cell —
    # the standard FAISS IndexIVFPQ semantics.  Same coarse quantizer;
    # codebooks trained on residuals (train cost excluded from serve
    # timings like the rest of the PQ family).
    res = train(True)
    for nprobe in (4, 8):
        mk = lambda: ivfpq(res, True, nprobe)  # noqa: E731
        rows.append(
            (
                f"ivfpq_residual m=4 nprobe={nprobe}",
                timed(mk),
                recall(mk()),
                scan_frac(nprobe),
            )
        )
    for factor in (2, 8, 32):
        mk = lambda: ivfpq(res, True, 8, factor)  # noqa: E731
        rows.append(
            (
                f"ivfpq_residual_refined m=4 nprobe=8 C={factor}k",
                timed(mk),
                recall(mk()),
                scan_frac(8),
            )
        )

    print()
    print("| config | serve sec (median of 3) | recall@10 | scan frac |")
    print("|---|---|---|---|")
    for name, sec, rec, frac in rows:
        fr = "—" if frac != frac else f"{frac:.2f}"
        print(f"| {name} | {sec:.2f} | {rec:.2f} | {fr} |")

    spark.stop()


if __name__ == "__main__":
    main()
