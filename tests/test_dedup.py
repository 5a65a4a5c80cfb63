"""Dedup operator hazards: simhash blocking guarantees and
connected-components convergence (oracle equivalence lives in
test_oracle.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators import dedup as DD

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega river stone cloud "
    "ember forest harbor signal copper meadow"
).split()


def _random_docs(spark, n_docs: int, n_chars: int):
    """Docs with varied content but IDENTICAL n_chars — the worst case for
    length-band blocking (every doc lands in one length bucket)."""
    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choice(WORDS) for _ in range(12)), n_chars)
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_simhash_finds_band_boundary_pairs(spark):
    """Near-identical docs whose lengths straddle a length-band boundary
    (59 vs 61 with band 60) must pair up — the round-1 length-band
    blocking silently dropped these (ADVICE r1)."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text, 59), (2, text, 61)], "doc_id long, text string, n_chars long"
    )
    pairs = DD.simhash_pairs(df, "doc_id", "text", "n_chars").collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_id_a"], pairs[0]["doc_id_b"]) == (1, 2)
    assert pairs[0]["hamming"] == 0


def test_simhash_blocking_bounded_under_length_skew(spark):
    """With every document the same length, length-banding degenerates to
    ONE bucket holding all n docs (quadratic); bit-band segments follow
    the content-hash distribution, so the largest (seg_id, seg_val)
    bucket stays a small fraction of the corpus."""
    n_docs = 300
    df = _random_docs(spark, n_docs, n_chars=100)
    sh = DD.simhash_df(df, "doc_id", "text")
    n_seg = 5
    banded = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg_id"),
                        DD.simhash_segment(F.col("sh"), s).alias("seg_val"),
                    )
                    for s in range(n_seg)
                ]
            )
        ).alias("sg"),
    ).select("sg.seg_id", "sg.seg_val")
    biggest = (
        banded.groupBy("seg_id", "seg_val").count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest < n_docs / 2, biggest


def test_simhash_pairs_unique_no_distinct(spark):
    """Segment-ownership must emit each qualifying pair exactly once even
    when the pair agrees on several segments (identical docs agree on all
    five)."""
    text = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(i, text, 50) for i in range(4)], "doc_id long, text string, n_chars long"
    )
    pairs = DD.simhash_pairs(df, "doc_id", "text", "n_chars")
    assert pairs.count() == 6  # C(4,2), once each
    assert pairs.groupBy("doc_id_a", "doc_id_b").count().filter("count > 1").count() == 0


def test_components_convergence_guard(spark):
    """A chain longer than the round budget must fail loudly instead of
    returning split components (ADVICE r1: latent wrong answer)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_id_a long, doc_id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(chain, iters=1)
    ok = DD.connected_components(chain, iters=8)
    labels = {r["component_id"] for r in ok.collect()}
    assert labels == {1}


def test_components_read_exit_test_off_each_cut(spark):
    """Connected components over the sf0.001 MinHash pair graph reads
    its initial and per-round ``sum(label)`` from an ``observe`` on the
    label cuts: 13 jobs, where the parent's standalone sum per round
    took 19, and the same 45 labelled documents."""
    from data_pipelines_using_llm_spark import telemetry
    from data_pipelines_using_llm_spark.operators import caching
    from data_pipelines_using_llm_spark.plans import dedup_queries as DQ

    pairs = caching.cut(
        DD.minhash_lsh_pairs(
            DQ._docs(spark, "/root/testdata/sf0.001"),
            "doc_id",
            "text",
            n=DQ.NGRAM_N,
            threshold=DQ.JACCARD_THRESHOLD,
        )
    )
    try:
        comp, m = telemetry.measure(spark, lambda: DD.connected_components(pairs))
        assert comp.count() == 45
    finally:
        caching.release_barriers()
    assert m["jobs"] <= 14, m


def test_fuzzy_decontamination_catches_edited_eval_copy(spark):
    """A lightly edited copy of an eval document (doc_id % 20 == 0) must
    be flagged by the MinHash path even though exact shingle membership
    (doc_decontamination's bar) would see few hits; an unrelated doc
    must not be flagged."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        doc_decontamination_fuzzy,
    )

    eval_text = " ".join(WORDS[:24])
    edited = " ".join(WORDS[:20] + ["zzz1", "zzz2"] + WORDS[22:24])
    unrelated = " ".join(reversed(WORDS[8:28]))
    df = spark.createDataFrame(
        [(20, eval_text), (3, edited), (7, unrelated)],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in doc_decontamination_fuzzy(spark, tmp).collect()
        }
    assert 3 in out and out[3]["worst_eval_doc_id"] == 20
    assert out[3]["max_jaccard"] >= 0.35
    assert 7 not in out
    assert 20 not in out  # eval docs are never reported as training docs


def test_fuzzy_decontamination_nonvacuous_at_test_sf(spark):
    """The driver-gate corpus must exercise the >=threshold branch (the
    important_parts lesson: an empty result set verifies nothing)."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        FUZZY_DECON_THRESHOLD,
        doc_decontamination_fuzzy,
    )

    rows = doc_decontamination_fuzzy(spark, "/root/testdata/sf0.001").collect()
    assert rows, "fuzzy decontamination found no pairs at sf0.001"
    assert all(r["max_jaccard"] >= FUZZY_DECON_THRESHOLD for r in rows)


def test_dedup_normalized_merges_seeded_variants(spark):
    """Every seeded case/punctuation variant must land in a group with
    its source doc (the merge branch the raw corpus cannot exercise —
    it has no exact duplicates)."""
    from data_pipelines_using_llm_spark.plans.dedup_queries import (
        NORM_SEED_MOD,
        NORM_SEED_OFFSET,
        dedup_normalized,
    )

    out = dedup_normalized(spark, "/root/testdata/sf0.001").collect()
    merged = [r for r in out if r["n_copies"] >= 2]
    assert merged, "no merged groups — the seeding is broken"
    # keeper of a merged seeded group is the ORIGINAL id (min wins)
    assert all(r["keep_doc_id"] < NORM_SEED_OFFSET for r in merged)
    n_seeded = sum(r["n_copies"] - 1 for r in merged)
    import duckdb

    expect = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('/root/testdata/sf0.001/documents.parquet') "
        f"WHERE doc_id % {NORM_SEED_MOD} = 0"
    ).fetchone()[0]
    assert n_seeded == expect


def test_lsh_capped_bucket_bounds_pairs_on_degenerate_corpus(spark):
    """Adversarial boilerplate corpus: N identical docs put ALL of them in
    one band bucket per band — uncapped LSH emits C(N,2) pairs into one
    join key (the 'curse of the last reducer'), while ``max_bucket``
    switches oversized buckets to a signature-sorted chain (N-1 pairs,
    linear) and preserves the connectivity downstream components
    clustering needs."""
    n = 60
    boiler = "all work and no play makes jack a dull boy " * 4
    rows = [(i, boiler) for i in range(n)] + [
        (1000, "a genuinely unique document about rivers and copper"),
        (1001, "another distinct text concerning harbors and meadows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = DD.minhash_lsh_pairs(df, "doc_id", "text").collect()
    assert len(uncapped) == n * (n - 1) // 2  # quadratic blowup, exact

    capped = DD.minhash_lsh_pairs(df, "doc_id", "text", max_bucket=10)
    capped_rows = capped.collect()
    # linear: a chain over the signature-sorted bucket, not C(N,2)
    assert len(capped_rows) == n - 1
    assert all(r["jaccard"] == 1.0 for r in capped_rows)
    # connectivity preserved: one component spanning all n docs
    comp = DD.connected_components(
        capped.select("doc_id_a", "doc_id_b")
    ).collect()
    labels = {r[0]: r[1] for r in comp}
    assert len({labels[i] for i in range(n)}) == 1


def test_lsh_capped_bucket_survives_dissimilar_min_id_interloper(spark):
    """r7 ADVICE item 1: an oversized bucket that mixes a genuine
    near-dup run with a DISSIMILAR band-collision interloper holding the
    bucket's MIN doc_id.  The old star-around-min-id mode paired every
    run member with the interloper only; all star edges failed the
    true-Jaccard verify and the run's connectivity silently vanished.
    Signature-sorted chaining pairs run members with each other (equal
    signatures sort contiguously), so only the interloper's own edge
    drops — the run stays one component."""
    words = [f"w{i}" for i in range(60)]
    run_text = " ".join(words)
    # one-word edit: high enough shingle overlap to collide on a band
    # (deterministic — MINHASH_COEFFS are constants), but below the 0.95
    # verify threshold.
    interloper_text = " ".join(["zzz" if i == 30 else w for i, w in enumerate(words)])
    n_run = 15
    rows = [(0, interloper_text)] + [(i, run_text) for i in range(1, n_run + 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # Precondition: the interloper really does share a band bucket with
    # the run (otherwise this test exercises nothing) and really is
    # below the verify threshold.
    loose = DD.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.0)
    touching_0 = [r for r in loose.collect() if r["doc_id_a"] == 0]
    assert touching_0, "fixture broken: interloper no longer band-collides"
    assert all(r["jaccard"] < 0.95 for r in touching_0)

    capped = DD.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.95, max_bucket=5
    )
    pairs = capped.collect()
    assert pairs and all(
        r["doc_id_a"] != 0 and r["doc_id_b"] != 0 for r in pairs
    )
    comp = DD.connected_components(
        capped.select("doc_id_a", "doc_id_b")
    ).collect()
    labels = {r[0]: r[1] for r in comp}
    assert len({labels[i] for i in range(1, n_run + 1)}) == 1


def test_lsh_capped_mode_keeps_small_bucket_pairs_exact(spark):
    """A corpus with NO oversized buckets must produce identical pairs in
    capped and uncapped mode — the cap only changes degenerate buckets."""
    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the stone",
        "completely different content about copper harbors and signals",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in DD.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    capped = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in DD.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.3, max_bucket=10
        ).collect()
    }
    assert base == capped


def test_decontamination_separate_eval_table_paths(spark):
    """r7 verdict task 5: the production shape — a genuinely SEPARATE
    eval table — must be an executed code path for both decontamination
    queries and DSIR, not just a docstring claim.  Two properties:
    (a) passing the slice-simulated eval set AS the separate table
    reproduces the default output on the shared training rows, and
    (b) a separate benchmark table with planted overlap flags exactly
    the overlapping training docs."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        DECON_EVAL_MOD,
        doc_decontamination,
        doc_decontamination_fuzzy,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    slice_docs = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select(
        "doc_id", "text"
    )

    # (a) equivalence on the shared training rows, exact path
    default = {
        r["doc_id"]: (r["n_shared_shingles"], r["is_contaminated"])
        for r in doc_decontamination(spark, sf).collect()
    }
    separate = {
        r["doc_id"]: (r["n_shared_shingles"], r["is_contaminated"])
        for r in doc_decontamination(spark, sf, eval_docs=slice_docs).collect()
        if r["doc_id"] % DECON_EVAL_MOD != 0
    }
    assert default == separate and default

    # (a) equivalence, fuzzy path
    f_default = {
        r["doc_id"]: (
            r["n_eval_matches"], r["max_jaccard"], r["worst_eval_doc_id"]
        )
        for r in doc_decontamination_fuzzy(spark, sf).collect()
    }
    f_separate = {
        r["doc_id"]: (
            r["n_eval_matches"], r["max_jaccard"], r["worst_eval_doc_id"]
        )
        for r in doc_decontamination_fuzzy(
            spark, sf, eval_docs=slice_docs
        ).collect()
        if r["doc_id"] % DECON_EVAL_MOD != 0
    }
    assert f_default == f_separate and f_default

    # (b) planted benchmark overlap: an eval table built from one real
    # training document's text must flag that document (and its exact
    # shingle siblings), never every doc
    planted = docs.filter(F.col("doc_id") == 1).select(
        F.lit(900001).alias("doc_id"), "text"
    )
    flagged = {
        r["doc_id"]: r["is_contaminated"]
        for r in doc_decontamination(spark, sf, eval_docs=planted).collect()
    }
    assert flagged[1] == 1
    assert 0 < sum(flagged.values()) < len(flagged)


def test_dsir_separate_target_table_reproduces_slice_default(spark):
    """Passing the simulated target slice as a genuinely separate table
    must reproduce the registry query's output exactly (same model, same
    scores, same top-K)."""
    from data_pipelines_using_llm_spark.plans.text_queries import (
        DSIR_TARGET_MOD,
        doc_dsir_select,
    )
    from data_pipelines_using_llm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    slice_docs = docs.filter(F.col("doc_id") % DSIR_TARGET_MOD == 0).select(
        "doc_id", "text"
    )
    default = [
        (r["doc_id"], r["n_tokens"], r["dsir_logweight"])
        for r in doc_dsir_select(spark, sf).collect()
    ]
    separate = [
        (r["doc_id"], r["n_tokens"], r["dsir_logweight"])
        for r in doc_dsir_select(spark, sf, target_docs=slice_docs).collect()
    ]
    assert default == separate and default
