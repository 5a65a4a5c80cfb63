#!/usr/bin/env python3
"""Measured scaling curves: run representative plan shapes against 1x /
4x / 16x in-memory inflations of the sf0.1 fact tables and print one JSON
line of timings.

Inflation is a self-union with offset keys (no files written, inputs
derive from the driver's testdata): each copy offsets its join keys by
``copy * 10**9`` so per-copy join cardinality is preserved — scan volume,
shuffle volume, and join work all scale linearly with the factor, which is
exactly what the curve is supposed to reveal.  Dimension tables stay
fixed, as they would at 100 TB.

Shapes covered:
- q1-style single-fact aggregation (scan + map-side partials);
- Q7-style fact-fact join + broadcast dims (the one unavoidable shuffle);
- brute-force kNN (queries x corpus — deliberately quadratic, the curve
  shows WHY the LSH/IVF paths exist).

Timings are min-of-2 (see bench.py: shared-host noise).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SF_DIR = "/root/testdata/sf0.1"
OFFSET = 10**9


def inflate(df: DataFrame, key_cols: list[str], factor: int) -> DataFrame:
    out = df
    for copy in range(1, factor):
        shifted = df
        for k in key_cols:
            shifted = shifted.withColumn(k, F.col(k) + copy * OFFSET)
        out = out.unionByName(shifted)
    return out


def timed(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    from data_pipelines_using_llm_spark.functions.exact import dec, exact_sum
    from data_pipelines_using_llm_spark.operators import similarity as SIM
    from data_pipelines_using_llm_spark.operators.caching import release_barriers
    from data_pipelines_using_llm_spark.session import get_spark
    from data_pipelines_using_llm_spark.sources.tables import load_table

    spark = get_spark("scale-curve")
    li0 = load_table(spark, SF_DIR, "lineitem")
    o0 = load_table(spark, SF_DIR, "orders")
    supp = load_table(spark, SF_DIR, "supplier")
    cust = load_table(spark, SF_DIR, "customer")
    nat = load_table(spark, SF_DIR, "nation")
    emb0 = load_table(spark, SF_DIR, "embeddings")
    doc0 = load_table(spark, SF_DIR, "documents")
    li0.count()  # warm

    results: dict[str, dict[str, float]] = {}
    for factor in (1, 4, 16):
        li = inflate(li0, ["l_orderkey"], factor).repartition(32)
        orders = inflate(o0, ["o_orderkey"], factor).repartition(32)

        def q1_agg():
            (
                li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    exact_sum("l_quantity").alias("sum_qty"),
                    F.sum(
                        dec("l_extendedprice", "decimal(12,2)")
                        * (F.lit(1).cast("decimal(3,2)") - dec("l_discount", "decimal(3,2)"))
                    ).cast("double").alias("sum_disc"),
                    F.count(F.lit(1)).alias("n"),
                )
                .write.format("noop").mode("overwrite").save()
            )

        def fact_fact_join():
            sn = nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
            (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
                .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
                .groupBy("supp_nation", F.year("l_shipdate").alias("y"))
                .agg(F.count(F.lit(1)).alias("n"))
                .write.format("noop").mode("overwrite").save()
            )

        emb = inflate(emb0, ["vec_id"], factor).repartition(32)

        def knn_brute():
            SIM.knn_brute_force(emb, "vec_id", "embedding", query_mod=1000).write.format(
                "noop"
            ).mode("overwrite").save()

        def knn_int8():
            SIM.knn_int8(emb, "vec_id", "embedding", query_mod=1000).write.format(
                "noop"
            ).mode("overwrite").save()

        docs = inflate(doc0, ["doc_id"], factor).repartition(32)

        def gram_census():
            # boilerplate/decontamination shape: token-fold shingles,
            # explode, hash-keyed frequency census
            from data_pipelines_using_llm_spark.operators.dedup import gram_hash_df

            (
                gram_hash_df(docs, "doc_id", "text", 3)
                .select(F.explode("grams").alias("h"))
                .groupBy("h")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.format("noop").mode("overwrite").save()
            )
            release_barriers()

        def chunk_map():
            # doc_chunk_overlap shape: shuffle-free overlapping windows
            from data_pipelines_using_llm_spark.operators.text import let, tokens

            chunks = let(
                tokens(F.col("text")),
                lambda t: F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(t) - 1, F.lit(0)), F.lit(48)),
                    lambda s: F.array_join(F.slice(t, s + 1, 64), " "),
                ),
            )
            (
                docs.select("doc_id", F.explode(chunks).alias("chunk_text"))
                .write.format("noop").mode("overwrite").save()
            )

        def cms_census():
            # term_cms_heavy_hitters shape: the shuffle carries the
            # fixed depth x width sketch, never the token dictionary
            from data_pipelines_using_llm_spark.operators.sketch import cms_build
            from data_pipelines_using_llm_spark.operators.text import tokens

            toks = docs.select(F.explode(tokens("text")).alias("term"))
            cms_build(toks, "term").write.format("noop").mode(
                "overwrite"
            ).save()

        def unigram_scoring():
            # doc_unigram_logprob shape: vocab census + token-key join +
            # per-doc sorted fold
            from data_pipelines_using_llm_spark.operators.text import tokens

            tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
            freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
            tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
            (
                tf.join(freq, "token")
                .groupBy("doc_id")
                .agg(F.sum(F.col("tf") * F.log("cnt")).alias("s"))
                .write.format("noop").mode("overwrite").save()
            )

        def phash_pair_join():
            # media_phash_dedup shape: signature extraction (Arrow) +
            # bit-band equi-join; bucket count is FIXED (16 values x 5
            # segments x 3 kinds), so pair work grows ~quadratically with
            # the corpus — the measured argument for widening signatures
            # (64-bit, 16-bit bands) before the corpus grows 100x
            from data_pipelines_using_llm_spark.operators.multimodal import (
                media_table,
                phash_pairs,
            )

            phash_pairs(media_table(docs)).write.format("noop").mode(
                "overwrite"
            ).save()

        li_graph = inflate(li0, ["l_orderkey", "l_partkey"], factor)

        def triangle_census():
            # basket_triangles shape: both keys offset per copy, so each
            # copy is a DISJOINT co-purchase graph — nodes, edges, and
            # triangles all scale linearly while density stays fixed
            # (offsetting only orders would collapse duplicate part
            # pairs in the distinct and fake sublinearity)
            from data_pipelines_using_llm_spark.operators.graph import (
                triangle_counts,
            )

            op = li_graph.select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            ).distinct()
            a, b = op.alias("a"), op.alias("b")
            edges = (
                a.join(
                    b,
                    (F.col("a.o") == F.col("b.o"))
                    & (F.col("a.p") < F.col("b.p")),
                )
                .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
                .distinct()
            )
            triangle_counts(edges).write.format("noop").mode(
                "overwrite"
            ).save()
            release_barriers()

        # PQ/ADC serve: codes trained once per factor OUTSIDE the timer
        # (production amortizes training; the curve measures the scan)
        *_, pq_codes, pq_cents = SIM.ivfpq_train(
            emb, "vec_id", "embedding", iters=0
        )
        pq_state = (
            pq_codes.localCheckpoint(eager=True),
            pq_cents.localCheckpoint(eager=True),
        )

        def pq_adc_serve():
            SIM.knn_pq(
                emb, "vec_id", "embedding", query_mod=1000, pq=pq_state
            ).write.format("noop").mode("overwrite").save()

        ev = inflate(
            load_table(spark, SF_DIR, "events"), ["event_id", "user_id"], factor
        ).repartition(32)

        def range_bin_join():
            # peak_window_traffic shape: windows from per-(type, day)
            # peaks, exploded to hour buckets, equi-join + residual —
            # the window table grows with distinct (type, day) (fixed
            # here), the probe side linearly
            from pyspark.sql import Window as W

            w = W.partitionBy("event_type", F.date_trunc("day", "ts")).orderBy(
                F.col("value").desc(), F.col("event_id")
            )
            peaks = (
                ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
                .select(
                    "event_type", "ts", "value", "event_id",
                    F.row_number().over(w).alias("rn"),
                )
                .filter(F.col("rn") == 1)
                .select(
                    "event_type",
                    (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("ws"),
                    (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("we"),
                )
            )
            buckets = peaks.select(
                "event_type", "ws", "we",
                F.explode(
                    F.sequence(
                        F.date_trunc("hour", "ws"),
                        F.date_trunc("hour", "we"),
                        F.expr("INTERVAL 1 HOUR"),
                    )
                ).alias("hb"),
            )
            (
                ev.withColumn("hb", F.date_trunc("hour", "ts"))
                .join(F.broadcast(buckets), ["event_type", "hb"])
                .filter((F.col("ts") >= F.col("ws")) & (F.col("ts") < F.col("we")))
                .groupBy("event_type", "ws")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.format("noop").mode("overwrite").save()
            )

        results[f"{factor}x"] = {
            "rows_lineitem": li.count(),
            "q1_agg": timed(q1_agg),
            "fact_fact_join": timed(fact_fact_join),
            "knn_brute_force": timed(knn_brute),
            "knn_int8": timed(knn_int8),
            "gram_census": timed(gram_census),
            "chunk_map": timed(chunk_map),
            "cms_census": timed(cms_census),
            "unigram_scoring": timed(unigram_scoring),
            "phash_pair_join": timed(phash_pair_join),
            "triangle_census": timed(triangle_census),
            "pq_adc_serve": timed(pq_adc_serve),
            "range_bin_join": timed(range_bin_join),
        }
        release_barriers()

    print(json.dumps({"metric": "scale_curve", "sf_base": 0.1, "results": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
