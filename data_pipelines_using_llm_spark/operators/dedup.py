"""Document deduplication operators for training-data pipelines:
exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.

No reference counterpart (the reference's dedup surface is keyed-row dedup,
SURVEY.md §2.4; these are the *corpus-level* near-dup operators a 100 TB
pretraining pipeline needs — BASELINE.json north star).  All expressions
are built-in Spark SQL functions (JVM-side, codegen'd): shingling with
``transform``/``slice``, signatures with ``aggregate``/``array_min``, LSH
banding with ``posexplode`` + equi-join.  The only shuffles are the LSH
band join and the final pair dedup — no O(n²) pass at scale.

Cross-engine determinism: shingle hashing uses the polynomial char hash of
``operators/text.py`` and a fixed linear hash family, so every operator has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators.caching import (
    barrier,
    fixpoint,
    observed_cut,
)
from data_pipelines_using_llm_spark.operators.text import HASH_MOD, char_hash, tokens

# Fixed MinHash family h_i(x) = (a_i * x + b_i) mod HASH_MOD — constants from
# a documented LCG (seed 42, a/b drawn as odd offsets) shared verbatim with
# the DuckDB oracle so signatures are bit-identical across engines.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (472882049, 126658243), (786995857, 255357313), (196612583, 912855103),
    (336465781, 541976489), (640041433, 82794721), (867973967, 694474549),
    (91297967, 333864397), (547556849, 718362241), (419418001, 469974809),
    (260500747, 590148817), (741996537, 147434239), (101483029, 850012393),
    (963502903, 27981751), (522734317, 648012343), (315767579, 770293199),
    (688117523, 430104727),
]
DEFAULT_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def _gram_fold(th: Column, n: int = 3, distinct: bool = True) -> Column:
    """Shingle hashes from a token-hash array: each gram combines ``n``
    consecutive token hashes with the same 31-polynomial used for chars
    (g = ((th1*31 + th2) % M)*31 + th3 ... % M).  Hashing per TOKEN once
    and folding longs per gram is ~10x cheaper than re-hashing every
    character of every gram string.

    ``distinct=True`` (default) yields the shingle SET for similarity
    joins; ``distinct=False`` keeps every instance for frequency censuses
    (e.g. plans/text_queries.py::doc_boilerplate_ngrams, where a gram's
    per-document multiplicity is part of the coverage signal)."""
    def one_gram(i: Column) -> Column:
        g = F.element_at(th, i)
        for j in range(1, n):
            g = (g * 31 + F.element_at(th, i + j)) % HASH_MOD
        return g

    grams = F.transform(F.sequence(F.lit(1), F.size(th) - (n - 1)), one_gram)
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(th) >= n, grams).otherwise(
        F.array().cast("array<long>")
    )


def gram_fold(th: Column, n: int = 3, distinct: bool = True) -> Column:
    """Public alias of :func:`_gram_fold` for consumers outside this
    module (expects a MATERIALIZED token-hash array column — see
    :func:`gram_hash_df` for why)."""
    return _gram_fold(th, n, distinct)


def gram_hash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, extras], grams) with token hashes MATERIALIZED before the
    gram fold.  The persist barrier makes ``th`` a stored column, so the
    per-gram ``element_at`` lookups are array reads — without it Catalyst
    inlines the token-hash expression into every reference."""
    th_df = barrier(
        df.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in extra_cols],
            F.transform(tokens(text_col), char_hash).alias("th"),
        )
    )
    return th_df.select(
        "doc_id", *extra_cols, _gram_fold(F.col("th"), n).alias("grams")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two array columns (arrays must be distinct-ified)."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def minhash_signature(hashes: Column, k: int | None = None) -> Column:
    """MinHash signature: per hash function, the min over the shingle set.

    ``array_min(transform(...))`` per coefficient — k narrow expressions,
    no shuffle.  Empty shingle sets get HASH_MOD sentinels (match nothing).
    """
    coeffs = MINHASH_COEFFS[: k or len(MINHASH_COEFFS)]

    # NB: factory closure, not default-arg lambdas — PySpark derives the
    # higher-order function's arity from the Python signature.
    def hash_fn(a: int, b: int):
        return lambda h: (h * a + b) % HASH_MOD

    return F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(hashes, hash_fn(a, b))),
                F.lit(HASH_MOD),
            )
            for (a, b) in coeffs
        ]
    )


def lsh_bands(sig: Column, n_bands: int = DEFAULT_BANDS) -> Column:
    """Split a signature into band keys: array of (band_id, band_key)
    structs.  Docs sharing ANY band key become candidate pairs."""
    k = len(MINHASH_COEFFS)
    r = k // n_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "-",
                    F.transform(F.slice(sig, b * r + 1, r), lambda x: x.cast("string")),
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → sign → band → bucket-join →
    verify with true Jaccard.

    Scale shape: the band explode is k/r rows per doc; the self-join on
    (band_id, band_key) only matches docs in the same bucket, so work is
    proportional to bucket collisions (linear-ish for real corpora), never
    all-pairs.  The verify join re-fetches the two shingle sets by id —
    two hash-shuffles on the id, each row tiny.

    ``max_bucket`` is the HOT-KEY GUARD for boilerplate-heavy corpora: a
    band bucket holding B near-identical docs (template pages, license
    headers) would emit B²/2 pairs into ONE join task — the degenerate
    case AQE's skew split only chunks, never shrinks.  With the cap set,
    buckets larger than ``max_bucket`` switch to RUN-STAR + BOUNDARY
    CHAIN: members are ordered by their full minhash signature; each
    signature-equal RUN contributes a star around its own min-id member,
    and consecutive runs are linked by one chain edge (B-1 pairs total,
    linear).  Identical/near-identical docs — the boilerplate case that
    creates oversized buckets — have EQUAL signatures, so each genuine
    dup run is a diameter-2 star whose hub is itself a run member (hence
    similar, hence verify-surviving), and downstream connected-components
    clustering (dedup_components/survivors) keeps the run in one
    component without walking a long chain.  (An earlier
    star-around-BUCKET-min form lost connectivity whenever a band-hash
    collision made the arbitrary bucket representative dissimilar to a
    genuine near-dup run — all star edges failed verification and the
    run's pairs vanished; r7 ADVICE item 1.)  Residual trade-off, stated
    honestly: near-dups whose signatures are near-but-not-equal fall in
    ADJACENT runs connected only by the single boundary edge, so a
    dissimilar interloper whose signature sorts BETWEEN two such runs
    can still sever them (two failed boundary edges) — capped mode
    trades that sliver of recall for the bounded task size.  The
    exhaustive pair list is never promised in capped mode; hence the
    default is None (exact semantics, what the oracle-gated query uses)
    and production corpus runs opt in.  Small
    buckets pay a bounded ``distinct()`` over their candidates in capped
    mode (≤ n_bands · max_bucket²/2 rows per bucket) instead of the
    first-matching-band ownership trick, whose precomputed owner would
    mis-assign pairs whose first collision happens in an oversized band.
    """
    # Materialize the shingle sets ONCE.  Without the persist barriers,
    # Catalyst's projection collapse inlines the shingle expression into
    # every one of the 16 minhash aggregates (and both join sides),
    # re-tokenizing and re-hashing each document ~20x — measured 50x
    # slower at sf0.1.  At 100 TB this materialization is the standard
    # "write the signature table" stage of an LSH pipeline.
    base = barrier(
        gram_hash_df(df, id_col, text_col, n).filter(F.size("grams") > 0)
    )
    sigs = barrier(base.withColumn("sig", minhash_signature(F.col("grams"))))
    # Per-doc band keys as ONE array column: both join sides carry all
    # n_bands keys, so a pair colliding in several bands dedups via the
    # first-matching-band ownership filter — no distinct() shuffle over
    # the candidate pairs (at 100 TB that shuffle is collision-sized).
    bands_arr = F.transform(lsh_bands(F.col("sig"), n_bands), lambda b: b["band_key"])
    if max_bucket is not None:
        # capped mode carries the full signature into the banded rows so
        # oversized buckets can chain in signature-sorted order; the
        # `bands` array (only used by the uncapped owner trick) is
        # dropped to keep the exploded rows narrow.
        banded = sigs.select(
            "doc_id",
            "sig",
            F.posexplode(bands_arr).alias("band_id", "band_key"),
        )
    else:
        banded = sigs.select(
            "doc_id",
            bands_arr.alias("bands"),
            F.posexplode(bands_arr).alias("band_id", "band_key"),
        )

    if max_bucket is not None:
        stats = banded.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("bucket_n")
        )
        big = stats.filter(F.col("bucket_n") > max_bucket)
        small_banded = banded.join(
            big.select("band_id", "band_key"), ["band_id", "band_key"], "left_anti"
        ).drop("sig")
        left = small_banded.alias("l")
        right = small_banded.alias("r")
        small_pairs = (
            left.join(
                right,
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_key") == F.col("r.band_key"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("doc_id_a"),
                F.col("r.doc_id").alias("doc_id_b"),
            )
            .distinct()  # bounded: every surviving bucket is <= max_bucket
        )
        # Oversized buckets: star per signature-equal RUN plus chain
        # edges across run boundaries.  Both windows are partitioned per
        # bucket (never global) and the output is exactly B-1 rows per
        # bucket — linear, the whole point of the cap.  Star-per-run
        # (not per-bucket) keeps each run's hub genuinely similar to its
        # members AND keeps the component diameter O(1), so downstream
        # connected_components converges in its usual few rounds instead
        # of walking a B-long chain.
        run_w = Window.partitionBy("band_id", "band_key", "sig")
        order_w = Window.partitionBy("band_id", "band_key").orderBy(
            "sig", "doc_id"
        )
        big_banded = (
            banded.join(
                big.select("band_id", "band_key"), ["band_id", "band_key"]
            )
            .select(
                "doc_id",
                "sig",
                F.min("doc_id").over(run_w).alias("run_min"),
                F.lag("doc_id").over(order_w).alias("prev_id"),
                F.lag("sig").over(order_w).alias("prev_sig"),
            )
        )
        star_pairs = big_banded.filter(
            F.col("doc_id") != F.col("run_min")
        ).select(
            F.col("run_min").alias("doc_id_a"),
            F.col("doc_id").alias("doc_id_b"),
        )
        boundary_pairs = big_banded.filter(
            F.col("prev_id").isNotNull() & (F.col("prev_sig") != F.col("sig"))
        ).select(
            F.least("prev_id", "doc_id").alias("doc_id_a"),
            F.greatest("prev_id", "doc_id").alias("doc_id_b"),
        )
        capped_pairs = (
            star_pairs.unionByName(boundary_pairs)
            .distinct()  # linear in bucket size, n_bands-fold at most
        )
        cand = small_pairs.unionByName(capped_pairs).distinct()
    else:
        left = banded.alias("l")
        right = banded.alias("r")
        owner = F.least(
            *[
                F.when(
                    F.element_at(F.col("l.bands"), b + 1)
                    == F.element_at(F.col("r.bands"), b + 1),
                    F.lit(b),
                ).otherwise(F.lit(n_bands))
                for b in range(n_bands)
            ]
        )
        cand = (
            left.join(
                right,
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_key") == F.col("r.band_key"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .filter(F.col("l.band_id") == owner)
            .select(
                F.col("l.doc_id").alias("doc_id_a"),
                F.col("r.doc_id").alias("doc_id_b"),
            )
        )

    ga = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("grams").alias("grams_a"))
    gb = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("grams").alias("grams_b"))
    return (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering — the
    correctness baseline the LSH path approximates, with zero blocking
    loss: if J(A,B) >= t, the sorted ``(1-t)|A|+1``-element prefixes of A
    and B must share an element (the set-similarity-join prefix-filter
    theorem), so joining on exploded prefix tokens finds every qualifying
    pair while candidate volume stays proportional to prefix-token
    collisions, never all-pairs.  Jaccard is computed over HASHED shingles
    (8-byte longs shuffle and intersect ~4x faster than gram strings).
    """
    # persist barriers: stop projection collapse from inlining the shingle
    # expression into both join sides and the jaccard evaluation
    base = barrier(
        gram_hash_df(df, id_col, text_col, n)
        .filter(F.size("grams") > 0)
        .select("doc_id", F.array_sort("grams").alias("grams"))
    )

    prefix = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"slice(grams, 1, CAST(floor((1 - {threshold}) * size(grams)) AS INT) + 1)"
            )
        ).alias("g"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )

    ga = base.select(F.col("doc_id").alias("doc_id_a"), F.col("grams").alias("grams_a"))
    gb = base.select(F.col("doc_id").alias("doc_id_b"), F.col("grams").alias("grams_b"))
    pairs = (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        # J >= t implies min/max set-size ratio >= t: O(1) guard that skips
        # the O(|A|+|B|) intersection for most candidate pairs
        .filter(
            (F.size("grams_a") >= threshold * F.size("grams_b"))
            & (F.size("grams_b") >= threshold * F.size("grams_a"))
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("grams_a", "grams_b")).alias("inter"),
            F.size("grams_a").alias("sa"),
            F.size("grams_b").alias("sb"),
        )
    )
    # barrier: without it, predicate pushdown rewrites the threshold
    # filter in terms of array_intersect and the jaccard projection
    # references it twice more — 4 intersect evaluations per pair
    pairs = barrier(pairs)
    union = F.col("sa") + F.col("sb") - F.col("inter")
    return (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("inter").cast("double") / union, 6).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Subset-duplicate pairs by SET CONTAINMENT — ``|A∩B| /
    min(|A|, |B|)`` over hashed n-gram shingles: the asymmetric measure
    that catches a small document quoted whole inside a much larger one,
    which Jaccard structurally cannot (J ≤ |A|/|B| no matter how perfect
    the inclusion).

    Candidate generation is the overlap-constraint prefix filter
    (SSJoin/PPJoin family): containment ≥ t with A the smaller side
    forces |A∩B| ≥ ceil(t·|A|), so the first ``floor((1-t)·|A|)+1``
    elements of sorted-A must hit B — joining every doc's PREFIX tokens
    against every doc's FULL posting list (an inverted-index probe)
    therefore finds all qualifying pairs.  The full-side explode is what
    containment costs over Jaccard's prefix-vs-prefix join: candidate
    volume is prefix-token × posting-list collisions — still
    collision-proportional, never all-pairs.

    Output doubles are UNROUNDED: ``inter``/``min`` are identical
    integers on both engines, so one IEEE division is bit-identical
    cross-engine, while ``round(x, 6)`` is exactly where engines can
    disagree on half-way ties (see plans/statistics.py CUSUM note).
    """
    base = barrier(
        gram_hash_df(df, id_col, text_col, n)
        .filter(F.size("grams") > 0)
        .select("doc_id", F.array_sort("grams").alias("grams"))
    )
    prefix = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"slice(grams, 1, CAST(floor((1 - {threshold}) * size(grams)) AS INT) + 1)"
            )
        ).alias("g"),
    )
    posting = base.select("doc_id", F.explode("grams").alias("g"))
    p, q = prefix.alias("p"), posting.alias("q")
    cand = (
        p.join(
            q,
            (F.col("p.g") == F.col("q.g"))
            & (F.col("p.doc_id") != F.col("q.doc_id")),
        )
        .select(
            F.least("p.doc_id", "q.doc_id").alias("doc_id_a"),
            F.greatest("p.doc_id", "q.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ga = base.select(F.col("doc_id").alias("doc_id_a"), F.col("grams").alias("grams_a"))
    gb = base.select(F.col("doc_id").alias("doc_id_b"), F.col("grams").alias("grams_b"))
    return (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
                / F.least(F.size("grams_a"), F.size("grams_b"))
            ).alias("containment"),
            F.size("grams_a").alias("n_grams_a"),
            F.size("grams_b").alias("n_grams_b"),
        )
        .filter(F.col("containment") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    iters: int = 8,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the dedup
    endgame: every document of a duplicate cluster maps to the cluster's
    minimum doc_id, so "keep one per component" is a single filter.

    Min-label propagation: each round every vertex takes the minimum label
    among itself and its neighbors; labels converge once every component's
    minimum has propagated (diameter rounds).  Each round is one shuffle
    (groupBy vertex); the classic large-scale formulation.

    ``iters`` is an UPPER BOUND, not a fixed cost: labels are per-vertex
    non-increasing, so ``sum(label)`` strictly decreases while anything
    still changes, and a round that keeps the sum changed nothing (near-dup
    clusters are tiny cliques/chains, so 2-3 real rounds).  The loop is
    :func:`caching.fixpoint`: each round's labels are one
    :func:`caching.cut` that observes the sum, so the exit test starts
    no job of its own.  The cut matters beyond the probe — the new plan
    references the old labels TWICE (via neighbor_min and via the left
    join), so without truncation the logical plan doubles per round and
    Catalyst analysis is O(2^iters).  The superseded round's cut is
    freed once the next one exists; the returned labels are the one cut
    left, freed by ``release_barriers``.

    A last round that still changed labels may leave a component of
    diameter > ``iters`` split, which would flow into dedup_survivors
    as silently-kept duplicates, so it raises instead of returning a
    latent wrong answer.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .persist()
    )
    total = F.coalesce(F.sum("label"), F.lit(0))

    def spread(labels, seen, _rnd):
        neighbor_min = (
            und.join(labels, und.b == labels.v)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = labels.join(neighbor_min, labels.v == neighbor_min.a, "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        return nxt, [total.alias("s"), (total == seen["s"]).alias("done")]

    try:
        labels, _rounds = fixpoint(
            observed_cut(
                und.select(F.col("a").alias("v"))
                .distinct()
                .select("v", F.col("v").alias("label")),
                total.alias("s"),
            ),
            spread,
            iters,
            f"connected_components did not converge within iters={iters} "
            "rounds (labels still changing); raise `iters`",
        )
    finally:
        und.unpersist()
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component_id"))


def simhash_from_grams(grams: Column, bits: int = 20) -> Column:
    """SimHash over a (materialized) shingle-hash column: bit j is set when
    more than half the shingles have bit j set.  ``grams`` MUST be a
    stored column (see ``simhash_df``) — the ``bits`` independent
    aggregates each reference it.  (Measured: ``bits`` tight long-folds
    over a stored array beat a one-pass array-accumulator ``zip_with``,
    which allocates a bits-wide array per shingle.)"""
    n_grams = F.size(grams)

    def ones_fn(j: int):
        return lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1))

    total = F.lit(0).cast("long")
    for j in range(bits):
        ones = F.aggregate(grams, F.lit(0).cast("long"), ones_fn(j))
        bit_j = (ones * 2 > n_grams).cast("long")
        total = total + F.shiftleft(bit_j, j)
    return total


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bits: int = 20,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, extras], sh) with the shingle sets materialized once —
    the persist barrier keeps the ``bits`` aggregates reading a stored
    array instead of re-tokenizing the document per bit."""
    base = barrier(gram_hash_df(df, id_col, text_col, n, extra_cols=extra_cols))
    return base.select(
        "doc_id",
        *extra_cols,
        F.when(F.size("grams") == 0, F.lit(0).cast("long"))
        .otherwise(simhash_from_grams(F.col("grams"), bits))
        .alias("sh"),
    )


def simhash_segment(sh: Column, s: int, bits: int = 20, n_seg: int = 5) -> Column:
    """Segment ``s`` of a ``bits``-wide SimHash split into ``n_seg``
    disjoint bit bands (the last segment absorbs the remainder bits)."""
    seg_w = bits // n_seg
    width = seg_w + (bits - seg_w * n_seg if s == n_seg - 1 else 0)
    return F.shiftright(sh, s * seg_w).bitwiseAND(F.lit((1 << width) - 1))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_col: str,
    n: int = 3,
    bits: int = 20,
    max_hamming: int = 4,
    len_band: int = 60,
) -> DataFrame:
    """SimHash near-dup pairs: ``hamming(sh_a, sh_b) <= max_hamming`` and
    ``|len_a - len_b| <= len_band`` — the COMPLETE set of qualifying
    pairs; both predicates are output semantics, blocking is invisible.

    Blocking is pigeonhole bit-banding (the Manku/Google simhash-dedup
    shape): the signature splits into ``max_hamming + 1`` disjoint
    segments, and a pair within the hamming radius must agree EXACTLY on
    at least one segment, so the (segment_id, segment_value) equi-join is
    lossless.  Bucket sizes follow the content-hash distribution — a
    skewed document-length histogram cannot create a quadratic bucket
    (the round-1 length-band blocking both had that failure mode and
    silently dropped about half of band-boundary-crossing pairs).

    Pairs colliding on several segments are deduplicated WITHOUT a
    shuffle: both join sides carry the full signature, so the first
    matching segment "owns" the pair via a closed-form filter.  The
    DuckDB oracle is deliberately blocking-free (plain all-pairs at
    sf0.01), so the cross-engine gate verifies the pigeonhole theorem
    instead of enshrining the blocking.

    At larger scale, widen segments rather than accept n²/2^w buckets:
    64-bit signatures with 4×16-bit segments is the production shape; the
    20-bit default here matches the cross-engine hash-arithmetic range.
    """
    n_seg = max_hamming + 1

    def seg(sh: Column, s: int) -> Column:
        return simhash_segment(sh, s, bits, n_seg)

    base = simhash_df(
        df, id_col, text_col, n, bits, extra_cols=(len_col,)
    ).withColumnRenamed(len_col, "doc_len")
    banded = base.select(
        "doc_id",
        "doc_len",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg_id"), seg(F.col("sh"), s).alias("seg_val")
                    )
                    for s in range(n_seg)
                ]
            )
        ).alias("sg"),
    ).select("doc_id", "doc_len", "sh", "sg.seg_id", "sg.seg_val")
    a = banded.alias("a")
    b = banded.alias("b")
    first_match = F.least(
        *[
            F.when(
                seg(F.col("a.sh"), s) == seg(F.col("b.sh"), s), F.lit(s)
            ).otherwise(F.lit(n_seg))
            for s in range(n_seg)
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # segment-ownership: the first agreeing segment emits the pair
        .filter(F.col("a.seg_id") == first_match)
        .filter(F.abs(F.col("a.doc_len") - F.col("b.doc_len")) <= len_band)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_len: int = 16,
    max_dist_pct: int = 20,
    min_len: int = 32,
) -> DataFrame:
    """Blocking-key entity resolution: edit-distance near-match restricted
    to candidates sharing an exact ``block_len``-char prefix — the
    standard-blocking design of record-linkage systems (one blocking key,
    full-fidelity comparator inside each block).

    A pair survives when ``levenshtein(a, b) * 100 <=
    max_dist_pct * greatest(len_a, len_b)`` — a RELATIVE threshold kept in
    integer arithmetic so both engines compare identically.  An O(1)
    length guard (edit distance >= length difference) prunes candidates
    before the O(n*m) comparator runs.

    Scale: the join is a plain equi-join on the blocking key — shuffle
    partitions by prefix, work proportional to collisions within a block,
    never all-pairs.  Recall is the documented blocking trade-off: a pair
    whose edits touch the first ``block_len`` chars lands in different
    blocks and is missed (multi-pass blocking on a second key is the
    standard recall lever).  The persist barrier stores the joined
    candidates so the levenshtein comparator runs ONCE per pair, not
    re-evaluated per consumer by projection collapse.
    """
    keyed = (
        df.filter(F.length(text_col) >= min_len)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.substring(text_col, 1, block_len).alias("bk"),
            F.length(text_col).alias("tlen"),
        )
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    maxlen = F.greatest(F.col("a.tlen"), F.col("b.tlen"))
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # levenshtein >= |len_a - len_b|: prune before the O(n*m) pass
        .filter(F.abs(F.col("a.tlen") - F.col("b.tlen")) * 100 <= max_dist_pct * maxlen)
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            F.levenshtein(F.col(f"a.{text_col}"), F.col(f"b.{text_col}")).alias(
                "edit_dist"
            ),
            maxlen.alias("maxlen"),
        )
    )
    cand = barrier(cand)
    return (
        cand.filter(F.col("edit_dist") * 100 <= max_dist_pct * F.col("maxlen"))
        .select(
            "doc_id_a",
            "doc_id_b",
            "edit_dist",
            F.round(
                F.lit(1.0) - F.col("edit_dist").cast("double") / F.col("maxlen").cast("double"),
                6,
            ).alias("similarity"),
        )
    )
