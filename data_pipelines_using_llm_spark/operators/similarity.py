"""Similarity search over embedding columns: brute-force cosine top-k,
random-hyperplane LSH ANN, IVF cells with exact centroids, and
embedding-cosine near-dup pairs.

No reference counterpart (the reference corpus has no vector data at all —
SURVEY.md §2.12); these are the beyond-reference similarity operators a
training-data pipeline needs (BASELINE.json north star).  Everything is
built-in Spark SQL higher-order functions — ``zip_with`` + ``aggregate``
for dot products, JVM-side, no Python in the hot path — so every operator
has an exact DuckDB oracle.

Cross-engine exactness rules (the whole design):
- dot products are SEQUENTIAL left folds over ``array<double>`` — Spark
  ``aggregate(zip_with(a, b, *))`` and DuckDB
  ``list_reduce(list_prepend(0.0, list_transform(...)))`` perform the same
  IEEE-754 operations in the same order, so the resulting doubles are
  bit-identical and downstream ranking ties out identically.
- centroids (IVF cells, k-means clusters, PQ codewords) are means computed
  by ONE kernel, :func:`_exact_means`: one row per (centroid, position),
  an exact DECIMAL(28,10) sum cast to double, divided by the count (see
  functions/exact.py for why: double summation is order-dependent).
- trained centroids are control-plane state: the Lloyd loop collects them
  each round and puts them back into the plan as SQL literals — the
  argmin is one ``array_min(transform(<literal codebook>, ...))`` per
  family (:func:`_argmin_sql`), and the returned codebooks are
  ``VALUES`` rows, so no Python worker ever runs.
- hyperplanes are small-integer vectors from a fixed LCG, shared verbatim
  with the SQL builders in plans/similarity_queries.py.

Scale shape: the embedding tables here are small (≤2000 rows), but every
plan is written for the 100 TB case — the query set / hyperplanes /
centroids are the broadcast side, the corpus is never collected, and the
only shuffles are the LSH-bucket equi-join and the per-query top-k window.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipelines_using_llm_spark.operators.caching import barrier

DIM = 64
N_TABLES = 2
N_PLANES = 8  # per table -> 256 buckets per table
DEFAULT_K = 10

# knn_lsh family: shorter codes + more tables + radius-1 multiprobe.  The
# driver embeddings are near-orthogonal (top-10 neighbors sit barely above
# the cosine noise floor), so a recall>=0.9 candidate set necessarily
# covers a large corpus fraction; these constants hit recall 0.92 at
# sf0.01 with ~60% of the corpus scanned (measured, see
# tests/test_similarity.py::test_lsh_recall_vs_exact).
KNN_TABLES = 8
KNN_PLANES = 6  # per table -> 64 buckets per table
#: probe masks: home bucket + every Hamming-1 neighbor (flip one plane bit)
KNN_PROBE_MASKS: list[int] = [0] + [1 << j for j in range(KNN_PLANES)]


def _lcg_ints(seed: int, n: int, lo: int = -16, hi: int = 16) -> list[int]:
    """Deterministic small ints for hyperplane components (shared with the
    DuckDB oracle builders, so both engines use identical hyperplanes)."""
    x = seed
    out: list[int] = []
    for _ in range(n):
        x = (1103515245 * x + 12345) % (2**31 - 1)
        out.append(lo + x % (hi - lo + 1))
    return out


#: HYPERPLANES[t][j] is the j-th hyperplane of LSH table t (64 ints each).
HYPERPLANES: list[list[list[int]]] = [
    [_lcg_ints(seed=1_000 + t * 100 + j, n=DIM) for j in range(N_PLANES)]
    for t in range(N_TABLES)
]

#: Hyperplanes for the knn_lsh family (same LCG scheme, 8 tables x 6 planes).
KNN_HYPERPLANES: list[list[list[int]]] = [
    [_lcg_ints(seed=1_000 + t * 100 + j, n=DIM) for j in range(KNN_PLANES)]
    for t in range(KNN_TABLES)
]


def to_double(c: str | Column) -> Column:
    """float32 array -> array<double> (all arithmetic happens in double)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def plane_literal(plane: list[int]) -> Column:
    return F.array(*[F.lit(float(v)) for v in plane])


def bucket_from_planes(v: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane bucket id: bit j set iff dot(v, planes[j]) >= 0.
    Integer hyperplanes keep the sign exact."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bit = (dot(v, plane_literal(plane)) >= 0).cast("long")
        bucket = bucket + F.shiftleft(bit, j)
    return bucket


def lsh_bucket(v: Column, table: int) -> Column:
    """Bucket id of pair-blocking LSH ``table`` (2 tables x 8 planes)."""
    return bucket_from_planes(v, HYPERPLANES[table])


def normed(df: DataFrame, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """Project to (vec_id, v: array<double>, nrm, *extra) — the shared base
    of every operator below (norm computed once, not per pair).  ``extra``
    rides along in the SAME projection (a row's IVF cell or tenant label),
    so no operator re-attaches an input column through a corpus self-join
    on the unique id."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        to_double(vec_col).alias("v"),
        norm(to_double(vec_col)).alias("nrm"),
        *extra,
    )


def query_block(base: DataFrame, query_mod: int, *extra: Column) -> DataFrame:
    """The query side of a ``(vec_id, v, nrm)`` base: every row whose id is
    divisible by ``query_mod``, as ``(query_id, qv, qnrm, *extra)``."""
    return base.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The per-query top-k tail every kNN operator shares: rank
    ``(query_id, neighbor_id, cos)`` rows by cosine desc (neighbor id asc
    tiebreak), keep ranks <= ``k``, and round the score to 6 places."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine_sim"),
            "rank",
        )
    )


def _cos(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of the vector columns ``a``, ``b`` given their norm columns
    ``na``, ``nb``: the sequential-fold dot over the norm product."""
    return dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb))


def _probe(
    queries: DataFrame, cents: DataFrame, nprobe: int | Column, *carry: str
) -> DataFrame:
    """The coarse IVF probe: each query's ``nprobe`` highest-cosine cells
    (lowest cell id on ties) as ``(query_id, *carry, cell)`` rows, both
    sides broadcast.  ``nprobe`` may be a per-query column."""
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    return (
        F.broadcast(queries)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", *carry, "cell", _cos("qv", "cv", "qnrm", "cnrm").alias("ccos")
        )
        .withColumn("crank", F.row_number().over(wprobe))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", *carry, "cell")
    )


def knn_brute_force(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    label: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k: every vec_id divisible by ``query_mod`` is a
    query; neighbors ranked by cosine desc (id asc tiebreak), self excluded.

    The query side is explicitly broadcast — at 100 TB the corpus streams
    through the executors once, and the only shuffle is the per-query
    top-k window (small: |queries| × |corpus-partition| rows pre-filtered
    to k per partition by the window's rank).

    ``label`` (a column expression over ``df``, e.g. a tenant id) makes
    this the EXACT metadata-filtered top-k: each query ranks only the
    vectors whose label equals its own — one extra equi-predicate on the
    same pair join, the recall baseline of the filtered ANN family.
    """
    if label is None:
        base = normed(df, id_col, vec_col)
        queries = query_block(base, query_mod)
        on = F.col("vec_id") != F.col("query_id")
    else:
        base = normed(df, id_col, vec_col, label.alias("label"))
        queries = query_block(base, query_mod, F.col("label").alias("qlabel"))
        on = (F.col("vec_id") != F.col("query_id")) & (
            F.col("label") == F.col("qlabel")
        )
    scored = F.broadcast(queries).join(base, on).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("qv", "v", "qnrm", "nrm").alias("cos"),
    )
    return _top_k(scored, k)


def _bucketed(base: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) -> one row per LSH table with the bucket id."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"), lsh_bucket(F.col("v"), t).alias("bucket")
            )
            for t in range(N_TABLES)
        ]
    )
    return base.select(
        "vec_id", "v", "nrm", F.explode(tables).alias("tb")
    ).select("vec_id", "v", "nrm", "tb.tbl", "tb.bucket")


def knn_planes_df(df: DataFrame) -> DataFrame:
    """The 8x6x64 hyperplane matrix as a ONE-ROW DataFrame.

    Shipping the constant as broadcast DATA instead of a literal
    expression keeps ~3000 literal nodes out of the plan — analysis and
    codegen of the signature stage drop from seconds to milliseconds,
    and the optimizer still sees a single tiny broadcast."""
    planes = [
        [[float(v) for v in p] for p in KNN_HYPERPLANES[t]]
        for t in range(KNN_TABLES)
    ]
    return df.sparkSession.createDataFrame(
        [(planes,)], "planes array<array<array<double>>>"
    )


def knn_signatures(v: Column, planes: Column) -> Column:
    """All ``KNN_TABLES`` bucket ids of ``v`` as one ``array<long>``.

    A single nested higher-order function over the planes column rather
    than 48 separate aggregate expressions: the arithmetic
    (sequential-fold dots, exact sign on integer planes) is identical,
    but the expression tree is ~50x smaller.  ``pow(2, j)`` is exact in
    doubles for j < 53, so the bit packing matches the oracle's
    ``1 << j``."""
    return F.transform(
        planes,
        lambda planes_t: F.aggregate(
            F.transform(
                planes_t,
                lambda p, j: (dot(v, p) >= 0).cast("long")
                * F.pow(F.lit(2.0), j).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )


def knn_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-probe random-hyperplane LSH
    (8 tables x 6 planes, probe radius 1): candidates = corpus vectors
    whose bucket in some table matches the query's bucket with at most one
    plane bit flipped; exact cosine ranks the candidates.

    Scale shape:

    - the per-vector bucket signature (48 hyperplane dots) is computed
      ONCE behind a persist barrier — Catalyst's projection collapse
      would otherwise re-evaluate it for the query side, the corpus side,
      and the ownership filter (the 50x trap, operators/dedup.py).
    - candidate generation is an equi-join on (table, bucket) with the
      probe side broadcast — work proportional to bucket collisions,
      never |queries| x |corpus|.
    - duplicate candidates (pairs colliding in several tables) are
      eliminated WITHOUT a shuffle: a joined row at table t implies
      ``bit_count(qb[t] XOR xb[t]) <= 1`` (the probe flipped at most one
      bit), so the FIRST such table owns the pair — an 8-branch
      closed-form filter, no per-probe bookkeeping (same
      bucket-ownership trick as simhash blocking).
    - ``min_parallelism`` redistributes a SMALL input before the
      CPU-heavy signature step (a single local parquet file arrives as
      one partition).  Leave ``None`` at scale — a real corpus already
      has many partitions and the repartition would be a full shuffle.
    """
    if min_parallelism is not None:
        df = df.repartition(min_parallelism)
    src = df.crossJoin(F.broadcast(knn_planes_df(df)))
    vd = to_double(vec_col)
    sig = barrier(
        src.select(
            F.col(id_col).alias("vec_id"),
            vd.alias("v"),
            norm(vd).alias("nrm"),
            knn_signatures(vd, F.col("planes")).alias("bkts"),
        )
    )
    corpus = sig.select(
        "vec_id",
        "v",
        "nrm",
        "bkts",
        F.explode(F.array(*[F.lit(t) for t in range(KNN_TABLES)])).alias("tbl"),
    ).withColumn("bucket", F.element_at("bkts", F.col("tbl") + 1))
    probe_list = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), F.lit(m).alias("mask"))
            for t in range(KNN_TABLES)
            for m in KNN_PROBE_MASKS
        ]
    )
    probes = (
        query_block(
            sig,
            query_mod,
            F.col("bkts").alias("qbkts"),
            F.explode(probe_list).alias("c"),
        )
        .select(
            "query_id",
            "qv",
            "qnrm",
            "qbkts",
            F.col("c.tbl").alias("tbl"),
            F.element_at("qbkts", F.col("c.tbl") + 1)
            .bitwiseXOR(F.col("c.mask"))
            .alias("bucket"),
        )
    )
    # First table where the pair is within probe radius (hamming <= 1)
    # owns it — identical on every joined duplicate of the pair, so
    # `tbl == owner` keeps exactly one row per pair, shuffle-free.
    def _ham(t: int) -> Column:
        return F.bit_count(
            F.element_at(F.col("qbkts"), t + 1).bitwiseXOR(
                F.element_at(F.col("bkts"), t + 1)
            )
        )

    owner = F.least(
        *[
            F.when(_ham(t) <= 1, F.lit(t)).otherwise(F.lit(KNN_TABLES))
            for t in range(KNN_TABLES)
        ]
    )
    cand = (
        F.broadcast(probes)
        .join(corpus, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(F.col("tbl") == owner)
        .select("query_id", "qv", "qnrm", "vec_id", "v", "nrm")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("qv", "v", "qnrm", "nrm").alias("cos"),
    )
    return _top_k(scored, k)


def ivf_centroids(base: DataFrame, cell_col: str) -> DataFrame:
    """Per-cell mean vector with ORDER-INDEPENDENT exact arithmetic: the
    one exact-mean kernel (:func:`_exact_means`: one row per (cell,
    position), ``CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) /
    count(1)``), then one ``sort_array(collect_list(struct(pos, m)))``
    per cell puts the means back in position order.  The arithmetic is
    the DuckDB oracle's, so the cells are bit-identical on any
    partitioning.  Positions run 1..``DIM`` (the embeddings corpus
    contract); a NULL vector adds nothing and is not counted, a short
    vector or a NULL element adds NULL to its position's sum but is
    counted."""
    means = _exact_means(
        _spread(base).select(F.col(cell_col).alias("cell"), "v"), ["cell"]
    )
    return (
        means.groupBy("cell")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.col("pm.m").alias("cv"))
        .select("cell", "cv", norm(F.col("cv")).alias("cnrm"))
    )


def knn_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search with a provided coarse partition (``cell_col``): queries
    probe the ``nprobe`` nearest cell centroids, exact cosine within probed
    cells only.  At scale the corpus is hash-partitioned by cell and only
    probed cells are scanned; centroids + queries broadcast."""
    base = normed(df, id_col, vec_col, F.col(cell_col).alias("cell"))
    cents = ivf_centroids(base, "cell")
    queries = query_block(base, query_mod)
    probes = _probe(queries, cents, nprobe, "qv", "qnrm")
    scored = (
        F.broadcast(probes)
        .join(base, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("qv", "v", "qnrm", "nrm").alias("cos"),
        )
    )
    return _top_k(scored, k)


def ivf_scan_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    query_mod: int = 100,
    nprobe: int = 2,
) -> DataFrame:
    """Capacity-planning companion to :func:`knn_ivf`: per query, how many
    corpus rows the probed cells contain (``scanned_rows``) out of
    ``corpus_rows`` — the scan fraction that decides whether an IVF config
    actually beats brute force at scale.  Same probe selection as
    :func:`knn_ivf`, so the numbers are the real ones."""
    base = normed(df, id_col, vec_col, F.col(cell_col).alias("cell"))
    cents = ivf_centroids(base, "cell")
    sizes = base.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_rows"))
    queries = query_block(base, query_mod)
    probes = _probe(queries, cents, nprobe)
    total = base.count()
    return (
        probes.join(sizes, "cell")
        .groupBy("query_id")
        .agg(F.sum("cell_rows").alias("scanned_rows"))
        .withColumn("corpus_rows", F.lit(total))
    )


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential fold (bit-identical to the
    oracle's list_reduce, like :func:`dot`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for the literal-centroid argmin
    kernels (k·d fold steps per row) — see
    :func:`data_pipelines_using_llm_spark.sources.tables.spread_to_cores`
    (shared implementation).  Results are partitioning-independent
    everywhere this is used (exact order-free sums, pure per-row maps)."""
    from data_pipelines_using_llm_spark.sources.tables import spread_to_cores

    return spread_to_cores(df)


def _sql_double_lit(x: float) -> str:
    """Exact SQL double literal: ``repr`` emits the shortest decimal that
    round-trips to the same binary64, and Spark's parser reads it with
    Double.parseDouble (correctly rounded), so the value re-enters the
    plan bit-identical.  ``None`` (a position no member reaches) is a
    typed NULL."""
    return "CAST(NULL AS DOUBLE)" if x is None else f"{float(x)!r}D"


def _sql_vec_lit(xs: list[float]) -> str:
    return "array(" + ",".join(_sql_double_lit(x) for x in xs) + ")"


def _argmin_sql(vexpr: str, cents: list[tuple[int, list[float]]]) -> str:
    """Argmin of ``vexpr`` over LITERAL centroids, as ONE SQL string:
    ``array_min`` over a ``transform`` of the codebook, itself a single
    literal ``array(named_struct('cid', .., 'cv', array(..)), ..)`` that
    constant-folds into one value per plan.  Each element maps to
    ``(d2, cid)``, where ``d2`` is the same sequential ``(x-y)²`` left
    fold as :func:`dist2`, so the distances are bit-identical to a
    joined formulation, and ``array_min`` orders the structs exactly as
    ``min(struct(d2, cid))`` does: the lowest distance, then the lowest
    cid (a NULL distance, from a short or NULL-holding vector, sorts
    first).  Evaluated MAP-SIDE with zero joins and zero exchanges: the
    centroids ride in the expression (k·d literals, codebook-sized at
    any corpus scale)."""
    book = ",".join(
        f"named_struct('cid', CAST({int(cid)} AS BIGINT), 'cv', {_sql_vec_lit(cv)})"
        for cid, cv in cents
    )
    return (
        f"array_min(transform(array({book}), c -> named_struct('d2', "
        f"aggregate(zip_with({vexpr}, c.cv, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x), 'cid', c.cid)))"
    )


def _exact_means(
    df: DataFrame, keys: list[str], off: str = "0", width: str = str(DIM)
) -> DataFrame:
    """THE exact-mean kernel: ``(keys, pos, m)`` with ``m`` the mean of
    element ``off + pos`` of ``v`` over the rows of each key, for ``pos``
    in ``1..width`` (``off`` and ``width`` are SQL over ``df``'s columns,
    so one pass can mean families of different widths).  Each row
    explodes into one ``(pos, x)`` row per position (``try_element_at``:
    NULL past a short vector's end), and each ``(keys, pos)`` group takes
    ``CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(1)`` — an
    exact, order-free sum, so the mean is the same double on any
    partitioning and in the DuckDB oracle.  A NULL element adds NULL to
    its sum (skipped) but counts in ``n``; a NULL vector is dropped."""
    pos = (
        f"inline(transform(sequence(1, {width}), p -> named_struct("
        f"'pos', p, 'x', try_element_at(v, {off} + p))))"
    )
    return (
        df.filter(F.col("v").isNotNull())
        .select(*keys, F.expr(pos))
        .groupBy(*keys, "pos")
        .agg(
            F.expr(
                "CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(1)"
            ).alias("m")
        )
    )


def _codebook_df(
    spark: SparkSession, keys: list[tuple[str, str]], rows: list[tuple]
) -> DataFrame:
    """Trained centroids as SQL-literal rows: ``VALUES`` of each row's
    ``keys`` (``(name, SQL type)``) and its ``cv`` vector, which Spark
    plans as one ``LocalTableScan`` — no job to build it, no Python
    worker, and doubles re-enter bit-identical (:func:`_sql_double_lit`).
    ``rows`` is ``[(*key_values, cv)]`` and must not be empty."""
    vals = ",".join(
        "("
        + ",".join(f"CAST({k} AS {t})" for k, (_, t) in zip(r[:-1], keys))
        + f",{_sql_vec_lit(r[-1])})"
        for r in rows
    )
    names = ",".join([n for n, _ in keys] + ["cv"])
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means with deterministic seeding (centroids = vectors
    with the ``k`` lowest ids) and ORDER-INDEPENDENT centroid updates
    (decimal-exact per-dimension means, see :func:`ivf_centroids`).

    Centroids are CONTROL-PLANE state (k·d doubles — the quantizer, never
    the corpus), so each Lloyd round (:func:`_lloyd_rounds`, the loop the
    IVFPQ trainer runs too) collects the k updated mean vectors to the
    driver and embeds them as literals in the next round's argmin
    expression.  A round is ONE job: corpus scan → map-side argmin →
    map-side partial decimal sums per (cluster, position) → one
    k·d-row exchange → collect; the corpus moves zero times per round.

    Arithmetic is bit-identical to the joined SQL formulation the oracle
    states: sequential-fold squared distances, (d2, lowest-cid) argmin
    tie-break, per-dimension decimal(28,10) sums with the double division
    applied after the cast — collected doubles re-enter the plan exactly
    (IEEE round-trip).  Assumes fixed-dimension (``DIM``) non-null
    vectors, which every caller guarantees (the embeddings corpus
    contract).  A corpus with no seedable id yields an empty assignment.
    """
    base = _train_base(df, id_col, vec_col)
    seed = base.filter(F.col("vec_id") < k).select("vec_id", "v").collect()
    if not seed:
        return base.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(None).cast("double").alias("dist"),
        ).filter(F.lit(False))
    cents = sorted((int(r["vec_id"]), list(r["v"])) for r in seed)
    cents, _ = _lloyd_rounds(base, cents, iters, None, 0)
    # final assignment against the last updated centroids — a pure map
    dc = F.expr(_argmin_sql("v", cents))
    return base.select(
        "vec_id",
        dc["cid"].alias("cluster_id"),
        F.round(F.sqrt(dc["d2"]), 6).alias("dist"),
    )


def _train_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The persisted (vec_id, v) base every Lloyd round of a trainer
    scans — spread to the cores, so the argmin kernels are not
    single-task on a small file."""
    return barrier(
        _spread(
            df.select(
                F.col(id_col).alias("vec_id"), to_double(vec_col).alias("v")
            )
        )
    )


def _sub_sql(mi: int, subdim: int) -> str:
    """Subspace ``mi`` of ``v`` — the slice a PQ family quantizes."""
    return f"slice(v, {mi * subdim + 1}, {subdim})"


def _lloyd_rounds(
    src: DataFrame,
    coarse: list | None,
    iters: int,
    pqc: dict | None,
    pq_iters: int,
    subdim: int = 0,
) -> tuple[list | None, dict | None]:
    """The literal-centroid Lloyd loop over a (vec_id, v) frame: the
    full-space coarse family ``coarse`` ``[(cid, cv)]`` runs ``iters``
    rounds and the PQ families ``pqc`` ``{mi: [(cid, sub_cv)]}`` (one
    per ``subdim``-wide subspace) run ``pq_iters`` rounds.  A round is
    ONE corpus-scan job and one collect whatever the family count: each
    row takes every present family's argmin against its literal
    codebook (:func:`_argmin_sql`) and becomes one ``(fam, cid, off,
    w)`` row per family (family -1 is coarse over positions 1..d, family
    mi the subspace at offset mi·subdim), and the one exact-mean kernel
    (:func:`_exact_means`) groups them by ``(fam, cid, pos)``.  Each
    centroid's means are put back in position order from the collect.

    The groups are disjoint, so each family aggregates exactly the value
    multiset a loop of its own would: cast-decimal(28,10)-then-sum, s/n
    double division, (d2, lowest-cid) tie-break, IEEE round-trip of the
    collected doubles.  A centroid no vector picks drops out.  Returns
    the final ``(coarse, pqc)``."""
    dim = len(coarse[0][1]) if coarse else 0  # fixture dims vary
    for it in range(max(iters, pq_iters)):
        fams = []
        if it < iters:
            fams.append((-1, "v", coarse, 0, dim))
        if it < pq_iters:
            fams += [
                (mi, _sub_sql(mi, subdim), cc, mi * subdim, subdim)
                for mi, cc in pqc.items()
            ]
        entries = ",".join(
            f"named_struct('fam', {fam}, 'cid', {_argmin_sql(vexpr, cc)}.cid, "
            f"'off', {off}, 'w', {w})"
            for fam, vexpr, cc, off, w in fams
        )
        rows = _exact_means(
            src.select("v", F.expr(f"inline(array({entries}))")),
            ["fam", "cid"],
            "off",
            "w",
        ).collect()
        means: dict = {fam: {} for fam, *_ in fams}
        for r in rows:
            means[r["fam"]].setdefault(r["cid"], {})[r["pos"]] = r["m"]
        nxt = {
            fam: sorted((cid, [pm[p] for p in sorted(pm)]) for cid, pm in cm.items())
            for fam, cm in means.items()
        }
        if it < iters:
            coarse = nxt.pop(-1)
        if it < pq_iters:
            pqc = nxt
    return coarse, pqc


def farthest_point_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
) -> DataFrame:
    """Greedy farthest-point (k-center) selection over embeddings — the
    coreset / diverse-prototype picker dual to SemDeDup (that removes
    redundancy; this EXTRACTS the k most mutually-dissimilar exemplars,
    e.g. seed documents for labeling or eval-set anchors).

    Round structure: seed = lowest id; the per-vector "max cosine to the
    selected set" is maintained INCREMENTALLY — each round joins the
    corpus against only the ONE newly selected vector (a one-row
    broadcast) and folds it in with ``greatest``, so a round costs
    O(N·d), not O(N·|selected|·d): the textbook FPS recurrence.  The
    next pick minimizes that running max (ties → lowest id) via one
    ``orderBy().limit(1)`` control-plane read per round
    (TakeOrderedAndProject — no global sort), like PageRank's
    convergence probe; per-round state is persisted so round i+1 starts
    from materialized maxima, not i rounds of lineage.  ``max`` /
    ``greatest`` are exact comparisons and cosines sequential folds, so
    the incremental recurrence is BIT-equal to the oracle's
    recompute-over-the-whole-set form (unrolled-round SQL, the k-means
    oracle trick).

    Returns (vec_id, sel_rank, max_cos_prior) for the k selected rows;
    the seed reports ``max_cos_prior = -1.0``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    spark = df.sparkSession
    state = barrier(
        normed(df, id_col, vec_col).withColumn(
            "mx", F.lit(None).cast("double")
        )
    )
    seed = state.orderBy("vec_id").limit(1).first()
    sel: list[tuple[int, list[float], float, float]] = [
        (seed["vec_id"], list(seed["v"]), seed["nrm"], -1.0)
    ]
    for _ in range(k - 1):
        new_id, new_v, new_nrm, _ = sel[-1]
        # the newly selected vector is control-plane state — inline it
        # as a literal array (exact IEEE round-trip) instead of a
        # crossJoin(broadcast(1-row df)): same sequential-fold dot,
        # zero exchanges per round (r14; was one broadcast exchange +
        # a createDataFrame round trip per selection)
        cos_new = dot(
            F.col("v"), F.expr(_sql_vec_lit(new_v))
        ) / (F.col("nrm") * F.lit(float(new_nrm)))
        state = barrier(
            state.filter(F.col("vec_id") != new_id)
            .select(
                "vec_id",
                "v",
                "nrm",
                F.when(F.col("mx").isNull(), cos_new)
                .otherwise(F.greatest("mx", cos_new))
                .alias("mx"),
            )
        )
        chosen = (
            state.orderBy(F.col("mx").asc(), F.col("vec_id").asc())
            .limit(1)
            .first()
        )
        if chosen is None:  # corpus exhausted before k
            break
        sel.append(
            (chosen["vec_id"], list(chosen["v"]), chosen["nrm"], chosen["mx"])
        )
    out = spark.createDataFrame(
        [(vid, rank + 1, mx) for rank, (vid, _, _, mx) in enumerate(sel)],
        "vec_id bigint, sel_rank int, mx double",
    )
    # round via Spark (half-up, matching the SQL oracle), not Python's
    # banker's rounding
    return out.select(
        "vec_id", "sel_rank", F.round("mx", 6).alias("max_cos_prior")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked: candidate pairs share
    at least one (table, bucket); exact cosine filters.  Linear-ish in
    corpus size for clustered data — the all-pairs product never happens."""
    buck = _bucketed(normed(df, id_col, vec_col))
    a = buck.alias("a")
    b = buck.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
        .filter(F.col("cos") >= threshold)
        .select(
            "vec_id_a", "vec_id_b", F.round("cos", 6).alias("cosine_sim")
        )
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_cos: float = 0.4,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor vector, the ``k`` highest-cosine candidates that are still
    BELOW the near-duplicate threshold (``max_cos``) — close enough to
    be confusable, far enough to be true negatives.  Candidates come
    from the same LSH band join as :func:`cosine_pairs` (near-misses
    collide in some bucket; uniform-random vectors mostly don't), so
    the mining cost tracks true near-neighbor density, never the
    all-pairs product.

    Determinism: cosines are sequential-fold dots (bit-identical
    cross-engine), ranking breaks ties by negative id, so the result
    hash-gates with no float caveat.
    """
    buck = _bucketed(normed(df, id_col, vec_col))
    a, b = buck.alias("a"), buck.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("negative_id"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .dropDuplicates(["anchor_id", "negative_id"])
        .filter(F.col("cos") < max_cos)
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("negative_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "negative_id",
            F.round("cos", 6).alias("cosine_sim"),
            "rank",
        )
    )


def knn_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    queries: DataFrame | None = None,
    max_queries: int = 65_536,
) -> DataFrame:
    """Arrow/numpy brute-force cosine top-k — the 100 TB hot path.

    Same semantics as :func:`knn_brute_force`, different engine path: the
    query block is collected once and shipped in the task closure; each
    corpus partition computes one numpy GEMM against it inside
    ``mapInPandas`` (Arrow batches, no per-element lambda evaluation) and
    emits only its LOCAL top-k rows per query, so the merge window
    shuffles |queries| × k × |partitions| rows — never the corpus.

    The query set is either an explicit ``queries`` DataFrame (the scale
    API — pass the small query table) or, for convenience, the corpus
    rows with ``id % query_mod == 0``.  Either way the collect is guarded
    by ``max_queries`` BEFORE pulling rows to the driver: at 100 TB
    "corpus / query_mod" is a corpus-sized fraction that must never land
    on the driver, so an oversized query set fails fast instead of
    OOM-ing.  The guard is folded into the collect itself — ONE
    ``limit(max_queries + 1)`` job (early-out scan) whose result either
    raises or IS the query block, instead of a count job followed by a
    second full collect of the same rows (the r5 1.78x bench
    regression).

    numpy's pairwise-summed dot differs from the JVM sequential fold in
    the last ulp, so the SCORES have no cross-engine hash oracle; the
    RANKS do — the registered query (plans/similarity_queries.py) strips
    scores and hash-gates (query_id, neighbor_id, rank, near_tie).  The
    agreement test (tests/test_similarity.py) additionally checks the
    per-query score sets against :func:`knn_brute_force` at 1e-9.
    """
    import numpy as np
    import pandas as pd

    if queries is None:
        queries = df.filter(F.col(id_col) % query_mod == 0)
    qsel = queries.select(
        F.col(id_col).alias("query_id"), to_double(vec_col).alias("qv")
    )
    qrows = qsel.limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"knn_arrow query set exceeds max_queries={max_queries}; "
            "pass an explicit small `queries` DataFrame or raise the cap"
        )
    q_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["qv"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)

    base = df.select(
        F.col(id_col).alias("vec_id"), to_double(vec_col).alias("v")
    )

    def part_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["v"].to_numpy())
            cos = (V @ Q.T) / np.outer(np.linalg.norm(V, axis=1), qn)
            out: dict[str, list] = {"query_id": [], "neighbor_id": [], "cos": []}
            for qi in range(len(q_ids)):
                col = cos[:, qi].copy()
                col[ids == q_ids[qi]] = -np.inf  # self-exclusion
                top = min(k, len(ids))
                sel = np.argpartition(-col, top - 1)[:top]
                out["query_id"].extend([q_ids[qi]] * len(sel))
                out["neighbor_id"].extend(ids[sel])
                out["cos"].extend(col[sel])
            yield pd.DataFrame(out)

    local = base.mapInPandas(
        part_topk, schema="query_id long, neighbor_id long, cos double"
    ).filter(F.col("cos") > float("-inf"))
    return _top_k(local, k)


# ---- int8 scalar quantization (vector compression serving path) ----

INT8_LEVELS = 127


def idot(a: Column, b: Column) -> Column:
    """Integer dot product of two array<long> columns — exact (no
    floating-point, so summation order is irrelevant and every engine
    agrees bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_int8(v: Column) -> Column:
    """Per-vector symmetric int8 scalar quantization: ``scale =
    max|x|/127``, ``q_i = round(x_i / scale)`` ∈ [-127, 127].

    The compression story at 100 TB: 4x smaller vectors (int8 vs
    float32), integer SIMD distance kernels, and — because the
    quantization is symmetric — the per-vector scale CANCELS in cosine
    similarity, so ranking needs only the integer dot products.  Both
    engines round doubles half-away-from-zero, so the quantized codes
    are bit-identical cross-engine (see the oracle in
    plans/similarity_queries.py).

    Let-bound so the vector and its max-abs are each evaluated ONCE
    (Spark's subexpression elimination does not reach interpreted
    higher-order functions — operators/text.py::let)."""
    from data_pipelines_using_llm_spark.operators.text import let

    def scale_of(vv: Column) -> Column:
        amax = F.array_max(F.transform(vv, F.abs))
        return F.when(amax > 0, amax / INT8_LEVELS).otherwise(F.lit(1.0))

    return let(
        v,
        lambda vv: let(
            scale_of(vv),
            lambda s: F.transform(vv, lambda x: F.round(x / s, 0).cast("long")),
        ),
    )


def knn_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors — the
    compressed serving path of :func:`knn_brute_force` (identical join/
    window skeleton, integer distance kernel).

    Unlike the float paths, every similarity here derives from EXACT
    integer dot products (one double division at the end), so the
    result is fully deterministic and hash-gates cross-engine — the
    rare ANN variant with no float-summation caveat.  Rank agreement
    vs the exact float top-k is asserted in tests/test_similarity.py.
    """
    q8 = df.select(
        F.col(id_col).alias("vec_id"),
        quantize_int8(to_double(vec_col)).alias("q"),
    ).select(
        "vec_id", "q", F.sqrt(idot(F.col("q"), F.col("q")).cast("double")).alias("qnrm")
    )
    queries = q8.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qnrm").alias("qqnrm"),
    )
    scored = F.broadcast(queries).join(
        q8, F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            idot(F.col("qq"), F.col("q")).cast("double")
            / (F.col("qqnrm") * F.col("qnrm"))
        ).alias("cos"),
    )
    return _top_k(scored, k)


def knn_ivf_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    nprobe: int = 2,
) -> DataFrame:
    """IVF + int8 codes — the production ANN serving stack in miniature:
    a LEARNED coarse quantizer picks ``nprobe`` cells (float centroids
    from exact decimal means, float probe ranking), then candidates are
    scored on their int8 codes (exact integer dot products — the scale
    cancels in cosine, see :func:`quantize_int8`).

    Why this composition at 100 TB: the corpus lives partitioned by cell
    with 4x-compressed codes; a query touches nprobe/k_cells of the data
    AND streams int8 instead of float32 — both knobs compound.  The
    centroid table and int8 query codes broadcast; the only non-broadcast
    join is the cell equi-join against the probed partitions.

    Fully deterministic (float folds are sequential, int dots exact), so
    the whole stack hash-gates cross-engine — rare for an ANN pipeline.
    """
    base = normed(df, id_col, vec_col, F.col(cell_col).alias("cell"))
    # int8 codes as columns of the SAME projection (r15): the previous
    # ``base ⋈ codes`` was a second corpus self-join on the unique id —
    # q/qnrm8 are per-row expressions of the input row, value-identical
    # without the exchange.
    base8 = base.withColumn(
        "q", quantize_int8(F.col("v"))
    ).withColumn(
        "qnrm8", F.sqrt(idot(F.col("q"), F.col("q")).cast("double"))
    )
    cents = ivf_centroids(base, "cell")
    queries = query_block(
        base8, query_mod, F.col("q").alias("qq"), F.col("qnrm8").alias("qqnrm8")
    )
    probes = _probe(queries, cents, nprobe, "qq", "qqnrm8")
    scored = (
        F.broadcast(probes)
        .join(base8, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                idot(F.col("qq"), F.col("q")).cast("double")
                / (F.col("qqnrm8") * F.col("qnrm8"))
            ).alias("cos"),
        )
    )
    return _top_k(scored, k)


DEFAULT_CELL_SIZE = 50


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.4,
    target_cell_size: int = DEFAULT_CELL_SIZE,
    max_cell_factor: float = 8.0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means cells bound the
    candidate set, exact cosine inside each cell marks near-duplicates,
    and the lowest id in each near-dup neighborhood survives.

    Decision rule (deterministic, oracle-checkable): a vector is DROPPED
    iff some lower-id vector in the SAME cell has cosine >= ``threshold``
    with it; ``dup_of`` records the smallest such partner (or -1 for
    survivors).  This is the greedy per-ball rule, not a transitive
    closure — chains A~B~C with cos(A,C) < threshold keep only A (B and C
    each see a lower-id partner).  For full transitive grouping compose
    with operators/dedup.py::connected_components over the pair list.

    At 100 TB: the quadratic pair scan never leaves a cell, so total pair
    work is Σ|cell|² ≈ N · avg_cell — tractable ONLY if the cell count
    grows with the corpus (SemDeDup production runs use ~10⁵ clusters).
    That sizing is therefore not left to the caller by default: when
    ``k`` is None it is derived as ``ceil(N / target_cell_size)`` from a
    control-plane count, and after assignment an oversized-cell guard
    (one tiny aggregate over cell populations) raises if any cell exceeds
    ``max_cell_factor x target`` — a degenerate clustering (all points in
    one cell = silent O(N²)) fails loudly instead of hanging the stage.
    Pass an explicit ``k`` to pin the quantizer (e.g. to match a
    pre-generated oracle); the guard still runs against N/k.  The cell
    equi-join shuffles each vector once on its cell id; no all-pairs
    product exists in the plan.
    """
    n_vecs = df.count()
    if k is None:
        k = max(1, math.ceil(n_vecs / target_cell_size))
    base = normed(df, id_col, vec_col)
    cells = kmeans_assign(df, id_col, vec_col, k=k, iters=iters).select(
        "vec_id", "cluster_id"
    )
    # referenced three times below (both self-join sides + the keep-rule
    # join): persist so the kmeans lineage runs once, not three times
    lbl = barrier(base.join(cells, "vec_id"))
    cell_bound = max(1.0, max_cell_factor * n_vecs / k)
    max_pop = (
        lbl.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("pop"))
        .agg(F.max("pop").alias("mx"))
        .first()["mx"]
    )
    if max_pop is not None and max_pop > cell_bound:
        raise ValueError(
            f"semantic_dedup cell population {max_pop} exceeds bound "
            f"{cell_bound:.0f} (= {max_cell_factor} x N/k, N={n_vecs}, "
            f"k={k}); the within-cell pair scan would degenerate toward "
            "O(N^2) — raise k / lower target_cell_size, or pre-split the "
            "oversized cells (e.g. LSH sub-buckets) before dedup"
        )
    a, b = lbl.alias("a"), lbl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("partner"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    dups = pairs.groupBy("vec_id").agg(F.min("partner").alias("dup_of"))
    return (
        lbl.select("vec_id", "cluster_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dup_of").isNull().cast("int").alias("kept"),
            F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
        )
    )


# ---- product quantization (PQ / ADC serving path) ----

PQ_M = 4  # subspaces
PQ_SUBDIM = DIM // PQ_M  # 16 dims each
PQ_K = 16  # codewords per sub-codebook (codes fit 4 bits)
PQ_ITERS = 2
IVF_CELLS = 10  # coarse cells of the IVFPQ trainer


def _pq_codes_arr_sql(cc: dict) -> str:
    """The PQ_M-long array of per-subspace argmin codes as ONE SQL string
    — map-side against literal codebooks (:func:`_argmin_sql`), the
    joint PQ_M-subspace assignment with zero joins."""
    parts = ",".join(
        f"{_argmin_sql(_sub_sql(mi, PQ_SUBDIM), cc[mi])}.cid"
        for mi in range(PQ_M)
    )
    return f"array({parts})"


def ivfpq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    residual: bool = False,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """THE IVFPQ trainer: a coarse k-means quantizer (``IVF_CELLS``
    cells, ``iters`` rounds) and a product quantizer (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011:
    ``PQ_M`` contiguous subspaces, ``PQ_K`` codewords each,
    ``PQ_ITERS`` rounds), both seeded deterministically from the lowest
    ids and trained by :func:`_lloyd_rounds` over ONE persisted base
    after ONE seed collect.

    Returns ``(cells, icents, codes, pqcents)``.  The per-vector parts
    are lazy projections of that base with the trained centroids riding
    in the expressions as literals (no lineage to cut, no eager
    checkpoint); the codebook parts are SQL-literal rows
    (:func:`_codebook_df`), so writing the index is map-only:

    - ``cells`` (vec_id, cell): the final coarse argmin;
    - ``icents`` (cell, cv, cnrm): the cells' means under that
      assignment;
    - ``codes`` (vec_id, m, code): the final per-subspace argmin — the
      compressed corpus, PQ_M·log2(PQ_K) bits per vector;
    - ``pqcents`` (m, code, cv, cn2): the sub-codebooks' means under
      the final assignment, plus each codeword's exact-fold squared
      norm.

    Both means come from one more Lloyd round under the final
    assignment, collected like every other round (raw: ONE fused round
    for both; residual: ``icents`` are the cell means the residuals
    subtract, and one more PQ round gives ``pqcents``).

    Regimes.  Raw (``residual=False``): the coarse and PQ families are
    independent, so they run FUSED — one corpus-scan job per round.
    ``residual=True`` (the FAISS ``IndexIVFPQ`` default, Jégou §IV): the
    PQ encodes ``v − c_cell``, so the coarse rounds run first, one more
    round yields the cell means (``icents``, k·d doubles) as literals,
    and the residual becomes a map-side expression that the PQ rounds
    then run over through the same loop (their seeds are the residuals
    of the lowest ids).  ``iters=0`` is the PQ-only trainer
    (:func:`knn_pq`): no coarse Lloyd round runs, the coarse parts are
    the unrefined seeds, and callers drop them.

    Raises ``ValueError`` when the corpus has no id below ``IVF_CELLS``
    or below ``PQ_K`` (an empty corpus included): there is nothing to
    seed from, and an empty index must not be published.
    """
    k, m, kcodes, subdim = IVF_CELLS, PQ_M, PQ_K, PQ_SUBDIM
    base = _train_base(df, id_col, vec_col)
    seed = (
        base.filter(F.col("vec_id") < max(k, kcodes))
        .select("vec_id", "v")
        .collect()
    )
    coarse = sorted(
        (int(r["vec_id"]), list(r["v"])) for r in seed if r["vec_id"] < k
    )
    if not coarse or not any(r["vec_id"] < kcodes for r in seed):
        raise ValueError(
            f"ivfpq_train: no seed vectors — the corpus has no {id_col} "
            f"below {k} (coarse seeds) or below {kcodes} (PQ seeds); it "
            "is empty or its ids do not start at 0"
        )

    def pq_seeds(rows: list) -> dict:
        return {
            mi: sorted(
                (int(r["vec_id"]), list(r["v"])[mi * subdim : (mi + 1) * subdim])
                for r in rows
                if r["vec_id"] < kcodes
            )
            for mi in range(m)
        }

    src = base
    if residual:
        coarse, _ = _lloyd_rounds(base, coarse, iters, None, 0)
        cell_means, _ = _lloyd_rounds(base, coarse, 1, None, 0)
        lookup = ",".join(
            f"CAST({cid} AS BIGINT), {_sql_vec_lit(cv)}" for cid, cv in cell_means
        )
        src = base.select(
            "vec_id",
            F.expr(
                f"zip_with(v, element_at(map({lookup}), "
                f"{_argmin_sql('v', coarse)}.cid), (a, b) -> a - b)"
            ).alias("v"),
        )
        seed = src.filter(F.col("vec_id") < kcodes).collect()
        _, pqc = _lloyd_rounds(src, None, 0, pq_seeds(seed), PQ_ITERS, subdim)
        _, pq_means = _lloyd_rounds(src, None, 0, pqc, 1, subdim)
    else:
        coarse, pqc = _lloyd_rounds(
            base, coarse, iters, pq_seeds(seed), PQ_ITERS, subdim
        )
        cell_means, pq_means = _lloyd_rounds(
            base, coarse, 1 if iters else 0, pqc, 1, subdim
        )
    cell = F.expr(f"{_argmin_sql('v', coarse)}.cid").alias("cell")
    cells = base.select("vec_id", cell)
    spark = base.sparkSession
    icents = _codebook_df(spark, [("cell", "BIGINT")], cell_means).select(
        "cell", "cv", norm(F.col("cv")).alias("cnrm")
    )
    codes = src.select(
        "vec_id", F.posexplode(F.expr(_pq_codes_arr_sql(pqc))).alias("m", "code")
    )
    pqcents = _codebook_df(
        spark,
        [("m", "INT"), ("code", "BIGINT")],
        [(mi, cid, cv) for mi, cc in sorted(pq_means.items()) for cid, cv in cc],
    ).select("m", "code", "cv", dot(F.col("cv"), F.col("cv")).alias("cn2"))
    return cells, icents, codes, pqcents


def _sorted_fold_sum(key: str, val: str) -> Column:
    """Order-exact sum of ``val`` over a group, sequenced by ``key`` —
    matches the oracle's ``list_reduce(list_prepend(0.0, array_agg(val
    ORDER BY key)), +)`` bit-for-bit.  Group size here is m (tiny)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, val))),
            lambda s: s[val],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_dot(vec: str) -> Column:
    """``Σ_i vec[m·PQ_SUBDIM + i] · cv[i]``: subspace ``m`` of the
    full-width ``vec`` against the codeword ``cv``, left-folded in the
    product order the oracle states — the ADC lookup-table entry (``vec``
    a query) and the residual cross term (``vec`` a cell centroid)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(PQ_SUBDIM)),
            lambda i: F.element_at(
                F.col(vec), (F.col("m") * PQ_SUBDIM + i).cast("int")
            )
            * F.element_at(F.col("cv"), i.cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_lut(queries: DataFrame, pqcents: DataFrame) -> DataFrame:
    """The ADC lookup table ``(query_id, qnrm, m, code, partial, cn2)``:
    every (query, codeword) partial dot product computed ONCE,
    |queries| x m x k rows, broadcast-size on both sides."""
    return (
        F.broadcast(queries)
        .crossJoin(F.broadcast(pqcents))
        .select(
            "query_id", "qnrm", "m", "code", _sub_dot("qv").alias("partial"), "cn2"
        )
    )


def _adc_aggs(*extra: Column) -> list[Column]:
    """The per-(query, vector) fold of the m looked-up partials: the ADC
    dot ``adc``, the reconstruction norm² ``rn2`` (``extra`` folds more
    per-subspace terms) and the query norm."""
    return [
        _sorted_fold_sum("m", "partial").alias("adc"),
        _sorted_fold_sum("m", "cn2").alias("rn2"),
        *extra,
        F.min("qnrm").alias("qnrm"),
    ]


def _adc_cos(agg: DataFrame) -> DataFrame:
    """Raw-PQ approximate cosine ``adc / (qnrm · sqrt(rn2))`` as the
    ``(query_id, neighbor_id, cos)`` input of :func:`_top_k`."""
    return agg.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.col("adc") / (F.col("qnrm") * F.sqrt("rn2"))).alias("cos"),
    )


def knn_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    *,
    pq: tuple[DataFrame, DataFrame],
    base: DataFrame | None = None,
) -> DataFrame:
    """Exhaustive PQ search with ASYMMETRIC DISTANCE COMPUTATION (ADC) —
    FAISS's ``IndexPQ`` re-expressed as a dataflow: queries stay float,
    the corpus is scanned as codes, and each (query, codeword) partial
    dot product is computed ONCE in a lookup table instead of once per
    corpus vector.

    Plan shape: the LUT is |queries| x m x k rows (query-side only —
    broadcast), the corpus-side scan is an equi-join of the (vec_id, m,
    code) table against it on (m, code), then a per-(query, vector)
    fold of exactly m partials.  The full-precision corpus is never
    read at serve time — only the ``pq=(codes, pqcents)`` parts of
    :func:`ivfpq_train` — and nothing
    joins on an inequality.  Approximate cosine uses the reconstruction
    norm ``sqrt(Σ_m |c_{m,code}|²)`` (centroid cross-terms vanish:
    subspaces are disjoint coordinate blocks).

    Determinism: every float reduction is a sequenced fold (the m-way
    partial sum via :func:`_sorted_fold_sum`), all other arithmetic is
    exact — so the ADC scores hash-gate cross-engine like the int8
    family.  Composition with an IVF coarse quantizer (scan only probed
    cells' codes) is the FAISS IVFPQ layout; the cell equi-join of
    :func:`knn_ivf_int8` composes unchanged with this scorer.
    """
    base = base if base is not None else normed(df, id_col, vec_col)
    codes, cents = pq
    lut = _adc_lut(query_block(base, query_mod), cents)
    scored_parts = codes.join(F.broadcast(lut), ["m", "code"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = _adc_cos(scored_parts.groupBy("query_id", "vec_id").agg(*_adc_aggs()))
    return _top_k(scored, k)


PQ_REFINE_FACTOR = 8


def knn_pq_refined(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 100,
    k: int = DEFAULT_K,
    refine_factor: int = PQ_REFINE_FACTOR,
    *,
    pq: tuple[DataFrame, DataFrame],
    n_queries: int | None = None,
) -> DataFrame:
    """PQ ADC candidate generation + exact re-rank — FAISS's
    ``IndexRefineFlat`` over ``IndexPQ`` as a dataflow.  The ADC scan
    (:func:`knn_pq`) keeps its compressed-corpus economics but ranks
    with 2-byte codes; this refine stage takes each query's top-C ADC
    candidates (C = refine_factor·k), re-scores them EXACTLY against
    the float vectors fetched by id, and emits the exact-cosine top-k.

    Scale shape: the candidate set is |queries|·C rows — fetched
    full-precision via a size-gated join over one additional corpus
    pass on top of ``knn_pq``'s code-table scan (broadcast below
    :data:`REFINE_BROADCAST_ROW_LIMIT`, shuffle equi-join above — see
    :func:`_refine_exact`; one corpus row duplicated per referencing
    query; no all-pairs).  Refine cost is O(|queries|·C·d) exact dot products
    regardless of corpus size; C is a serving constant, so at 100 TB
    the stage costs one extra scan + a driver-negligible re-score.

    Recall: exact re-ranking surfaces every true neighbor present in
    the candidate set, so recall@k equals the ADC candidate recall@C —
    measured 0.80 at sf0.01 with C=8k (and 0.64 at sf0.001) on the
    driver's i.i.d. near-orthogonal embeddings (PQ's worst case; floor
    asserted in tests/test_similarity.py and recorded in SCALE.md), vs
    0.15 worst-case floor for raw :func:`knn_pq`.  Determinism: ADC
    scores are sequenced folds (hash-gated in ``knn_pq``); exact cosine
    is the same fold :func:`knn_brute_force` gates — so the composition
    hash-gates too.

    ``n_queries`` (behavior change, r11→r12): the refine stage's
    candidate-broadcast hint fires only when the caller supplies the
    query count — pre-r12 an EAGER count at plan-construction time
    attached it automatically.  Callers who omit it get the same rows
    but leave the fetch-join strategy to AQE's runtime stats; pass
    ``n_queries`` (e.g. one cached ``count()`` of the query block, as
    the registry rows do via ``_n_queries_cached``) to restore the
    plan-time broadcast.
    """
    ncand = refine_factor * k
    base = normed(df, id_col, vec_col)
    cands = knn_pq(
        df, id_col, vec_col, query_mod, ncand, pq=pq, base=base
    ).select("query_id", "neighbor_id")
    return _refine_exact(base, cands, query_mod, k, ncand, n_queries=n_queries)


REFINE_BROADCAST_ROW_LIMIT = 10_000_000  # ~160 MB of (query_id, neighbor_id)


def _refine_exact(
    base: DataFrame,
    cands: DataFrame,
    query_mod: int,
    k: int,
    cand_per_query: int,
    broadcast_row_limit: int = REFINE_BROADCAST_ROW_LIMIT,
    n_queries: int | None = None,
) -> DataFrame:
    """The exact re-rank stage shared by every ``*_refined`` variant:
    fetch the candidates' full-precision vectors via an inner join over
    one corpus pass of ``base``, score with the same sequenced-fold
    cosine :func:`knn_brute_force` hash-gates, and emit the exact top-k
    per query.

    Broadcast gate (r10 ADVICE — the candidate set is |queries|·C rows,
    which grows LINEARLY with the corpus at fixed query_mod, so it is
    NOT unconditionally broadcastable): the bound ``n_queries``·
    ``cand_per_query`` decides the strategy; at or under
    ``broadcast_row_limit`` (10M rows ≈ 160 MB of id pairs) the fetch
    join broadcasts the candidates and the corpus never shuffles, above
    it the hint is dropped and the fetch becomes a shuffle equi-join on
    vec_id.  ``n_queries`` is CALLER-SUPPLIED (r11 ADVICE — builders
    stay lazy: no eager count at plan-construction time; the registry
    rows pass a per-session cached query-block count,
    plans/similarity_queries.py::_n_queries_cached).  When None, no
    hint is attached and AQE picks the strategy from runtime stats at
    the shuffle boundary.  Same rows every way — the gate changes
    strategy, never results."""
    queries = query_block(base, query_mod)
    cands_hinted = (
        F.broadcast(cands)
        if n_queries is not None
        and n_queries * cand_per_query <= broadcast_row_limit
        else cands
    )
    fetched = base.join(
        cands_hinted, base["vec_id"] == cands["neighbor_id"]
    ).select("query_id", "neighbor_id", "v", "nrm")
    exact = fetched.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "neighbor_id",
        _cos("qv", "v", "qnrm", "nrm").alias("cos"),
    )
    return _top_k(exact, k)


def ivfpq_serve(
    queries: DataFrame,
    membership: DataFrame,
    cents: DataFrame,
    codes: DataFrame,
    pqcents: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 2,
    labels: DataFrame | None = None,
    *,
    residual: bool = False,
) -> DataFrame:
    """THE IVFPQ serving dataflow — FAISS ``IVFPQ`` as one plan, queries
    in, top-k out, every trained artifact passed in: ``queries``
    (query_id, qv, qnrm), ``membership`` (vec_id, cell), ``cents``
    (cell, cv, cnrm), ``codes`` (vec_id, m, code) and ``pqcents`` (m,
    code, cv, cn2) from :func:`ivfpq_train` or
    plans/similarity_queries.py::ann_index_load.  A learned coarse
    quantizer bounds WHICH vectors are scored (the ``nprobe``
    highest-cosine cells, float probe exactly as :func:`knn_ivf`), and
    the product-quantized codes bound the BYTES per scored vector (the
    :func:`knn_pq` ADC lookup table).  This is the function a production
    deployment calls per query batch: every ``knn_ivfpq*`` registry row
    and the streaming serve go through it, and because the scoring is
    sequenced folds + exact arithmetic, the result for a given query is
    independent of WHICH batch it arrives in.  The float corpus is never
    touched: candidates come from the membership table, scores from the
    code table, queries carry their own vectors.  Every join is an
    equi-join, so the whole stack hash-gates cross-engine like its
    factors.

    ``residual`` picks the encoding regime the artifact was trained in
    (:func:`ivfpq_train`).  Raw: ``x̂ = r̂``, score ``adc / (‖q‖·‖x̂‖)``.
    Residual (the FAISS ``IndexIVFPQ`` default, Jégou et al. 2011 §IV):
    ``x̂ = c_cell + r̂``, so the same trunk adds three centroid- or
    codebook-sized broadcast tables —

    - numerator ``q·x̂ = q·c_cell + Σ_m q_m·r̂_m``: the coarse term ``qc``
      is ONE dot product per (query, cell), the residual term the same
      ADC partials;
    - ``‖x̂‖² = ‖c‖² + 2·Σ_m c_m·r̂_m + Σ_m ‖r̂_m‖²``: ``cinfo`` holds
      ``‖c‖²`` per cell and ``ccross`` the centroid×codeword cross term
      per (cell, m, code) (subspaces are disjoint blocks, so
      cross-subspace terms vanish) —

    and scores ``(qc + adc) / (qnrm · sqrt(cn2c + 2·crs + rn2))``, the
    fixed-shape expression the oracle mirrors textually.

    Tenant filters (METADATA-FILTERED search — "search within my
    tenant"): give each query row a ``qlabel`` and either pass ``labels``
    ``(vec_id, label)`` or serve a ``membership`` that carries ``label``
    itself (the index written ``partitionBy("label")``, where the label
    rides the membership scan and a single-tenant serve is a PRUNED
    scan).  Candidates are PRE-filtered to label-equal vectors INSIDE
    candidate generation — each query still gets its full top-k among
    its own tenant, which a post-filter of an unfiltered top-k cannot
    guarantee — and shrink BEFORE the ADC join.  The ``labels`` path is
    one equi-join of the candidate pairs against the label table
    (O(corpus), never broadcast) plus a broadcast of the per-query
    labels; the partitioned path drops that join.  Both regimes share
    the filter.

    PER-QUERY probe depth (the skewed-tenant serving policy): if
    ``queries`` carries a ``qnprobe`` column, each query probes its own
    number of cells instead of the scalar ``nprobe`` — a cold tenant's
    members are so sparse per cell that the default depth cannot fill k
    (raise its qnprobe to the cell count: scanning a tiny tenant's full
    membership is cheap) while the hot tenant stays cell-pruned.
    Without the column the scalar path is unchanged."""
    qnprobe = ["qnprobe"] if "qnprobe" in queries.columns else []
    probes = _probe(
        queries, cents, F.col("qnprobe") if qnprobe else F.lit(nprobe), *qnprobe
    )
    keep = ["query_id", "vec_id", *(["cell"] if residual else [])]
    membership_label = (
        labels is None
        and "label" in membership.columns
        and "qlabel" in queries.columns
    )
    cand = (
        F.broadcast(probes)
        .join(membership, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(*keep, *(["label"] if membership_label else []))
    )
    if labels is not None:
        cand = cand.join(labels.select("vec_id", "label"), "vec_id")
    if labels is not None or membership_label:
        cand = (
            cand.join(F.broadcast(queries.select("query_id", "qlabel")), "query_id")
            .filter(F.col("label") == F.col("qlabel"))
            .select(*keep)
        )
    sp = cand.join(codes, "vec_id").join(
        F.broadcast(_adc_lut(queries, pqcents)), ["query_id", "m", "code"]
    )
    if not residual:
        return _top_k(_adc_cos(sp.groupBy(*keep).agg(*_adc_aggs())), k)
    qc = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "cell", dot(F.col("qv"), F.col("cv")).alias("qc"))
    )
    cinfo = cents.select("cell", dot(F.col("cv"), F.col("cv")).alias("cn2c"))
    ccross = (
        F.broadcast(cents.select("cell", F.col("cv").alias("ccv")))
        .crossJoin(F.broadcast(pqcents))
        .select("cell", "m", "code", _sub_dot("ccv").alias("crs"))
    )
    agg = (
        sp.join(F.broadcast(ccross), ["cell", "m", "code"])
        .groupBy(*keep)
        .agg(*_adc_aggs(_sorted_fold_sum("m", "crs").alias("crs")))
    )
    recon = F.col("cn2c") + F.lit(2.0) * F.col("crs") + F.col("rn2")
    final = (
        agg.join(F.broadcast(qc), ["query_id", "cell"])
        .join(F.broadcast(cinfo), "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                (F.col("qc") + F.col("adc")) / (F.col("qnrm") * F.sqrt(recon))
            ).alias("cos"),
        )
    )
    return _top_k(final, k)


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, icents: DataFrame
) -> DataFrame:
    """Assign vectors to EXISTING coarse cells — the FAISS ``add()``
    path's coarse step: argmin exact squared distance to the stored
    centroids ``(cell, cv, ...)``, ties to the lowest cell id (the same
    ``min(struct(d2, id))`` map-side-combinable argmin
    :func:`kmeans_assign` uses, so assignments are deterministic and
    oracle-checkable).  No retraining, no shuffle of the corpus — one
    broadcast of the centroid table.  Returns ``(vec_id, cell)``."""
    base = df.select(
        F.col(id_col).alias("vec_id"), to_double(vec_col).alias("v")
    )
    return (
        base.crossJoin(F.broadcast(icents.select("cell", "cv")))
        .select(
            "vec_id",
            F.struct(
                dist2(F.col("v"), F.col("cv")).alias("d2"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("dc"))
        .select("vec_id", F.col("dc.cell").alias("cell"))
    )


def pq_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    pqcents: DataFrame,
) -> DataFrame:
    """Encode vectors against EXISTING sub-codebooks — the FAISS
    ``add()`` path's PQ step: per subspace, argmin exact squared
    distance to the stored codewords ``(m, code, cv, ...)``, ties to
    the lowest code.  One broadcast of the m·k codeword table over one
    exploded pass of the new vectors; the codebooks are NOT updated
    (exactly FAISS semantics — re-centering on add would invalidate
    every previously stored code).  Returns ``(vec_id, m, code)``."""
    subs = df.select(
        F.col(id_col).alias("vec_id"), to_double(vec_col).alias("v")
    ).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("m"),
                        F.slice("v", mi * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for mi in range(PQ_M)
                ]
            )
        ).alias("ms"),
    ).select("vec_id", "ms.m", "ms.sv")
    return (
        subs.join(
            F.broadcast(pqcents.select("m", "code", "cv")), "m"
        )
        .select(
            "vec_id",
            "m",
            F.struct(
                dist2(F.col("sv"), F.col("cv")).alias("d2"),
                F.col("code").alias("code"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("dc"))
        .select("vec_id", "m", F.col("dc.code").alias("code"))
    )


def ann_retrain_decision(
    stats: DataFrame,
    concentration_threshold: float = 0.5,
    append_cost_s: float | None = None,
    retrain_cost_s: float | None = None,
) -> dict:
    """Close the retrain loop (r11 verdict task 3): turn the index
    health report (plans/similarity_queries.py::ann_index_stats_from_parts
    — per cell: population, corpus share, max single-PQ-code count)
    into an APPEND vs RETRAIN decision.

    The drift signal is the worst per-cell CODE CONCENTRATION
    ``max_code_count / n_vectors`` — within one subspace a cell's
    vectors spread over PQ_K codewords, so a healthy quantizer sits
    near 1/PQ_K (0.0625 at PQ_K=16; measured 0.32–0.34 on the i.i.d.
    driver corpus — small cells keep the max noisy upward at these
    SFs) while add-path drift pushes it toward 1.0 (new
    vectors from a shifted distribution all collapse onto the single
    nearest codeword, and the quantizer has stopped discriminating —
    measured 1.0 on the shifted-fixture test).  The default threshold
    0.5 ("half of some cell's vectors share one codeword in some
    subspace") sits far above every healthy measurement and far below
    the drift fixture; see SCALE.md "Retrain policy" for the
    measurements.

    Cost context: pass the measured per-batch ``append_cost_s`` and
    ``retrain_cost_s`` (SCALE.md records 1.28 s vs 2.73 s at sf0.1) and
    the report includes the amortization ratio — how many appends one
    retrain costs — so an operator can see what the decision trades.
    One aggregation over the (driver-bounded, n_cells-row) stats frame;
    returns driver scalars."""
    row = stats.agg(
        F.max(
            F.col("max_code_count") / F.col("n_vectors").cast("double")
        ).alias("worst"),
        F.sum("n_vectors").alias("n_total"),
    ).first()
    if row["worst"] is None:
        # r12 ADVICE: an EMPTY stats frame (e.g. an index whose vectors
        # were all removed) must fail loudly, not TypeError on
        # float(None) — there is no quantizer health to judge and no
        # sane default decision for a vectorless index.
        raise ValueError(
            "ann_retrain_decision: empty index stats — the index has no "
            "per-vector rows (all vectors removed, or the wrong parts "
            "were passed); retrain-vs-append is undefined for an empty "
            "index"
        )
    worst = float(row["worst"])
    report = {
        "decision": (
            "retrain" if worst > concentration_threshold else "append"
        ),
        "worst_code_concentration": worst,
        "threshold": concentration_threshold,
        "n_vectors": int(row["n_total"]),
    }
    if append_cost_s is not None and retrain_cost_s is not None:
        report["append_cost_s"] = append_cost_s
        report["retrain_cost_s"] = retrain_cost_s
        report["retrain_costs_n_appends"] = retrain_cost_s / append_cost_s
    return report


def pq_residuals(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cells: DataFrame,
    icents: DataFrame,
) -> DataFrame:
    """Residual vectors for RESIDUAL-ENCODED IVFPQ — the standard FAISS
    ``IndexIVFPQ`` semantics (Jégou et al. 2011 §IV: encode
    ``r = x − q1(x)``, the offset from the coarse centroid, not the raw
    vector): per vector, subtract its assigned cell's float centroid
    element-wise.  Residuals concentrate the product quantizer's budget
    on the within-cell variation — the main published recall lever at
    equal code budget — which is why FAISS encodes residuals by default.

    Determinism: ``zip_with(v, cv, (a, b) -> a − b)`` is one exact IEEE
    subtraction per element over engine-identical inputs (raw corpus
    doubles, decimal-exact centroid means), textually mirrored in the
    oracle's ``v[i] - cv[i]``.  Scale: one broadcast of the centroid
    table over one corpus pass — no shuffle.  Returns
    ``(vec_id, v, cell)`` where ``v`` IS the residual (named ``v`` so
    :func:`pq_assign` and the oracle's subspace CTEs consume it
    unchanged).  :func:`ivfpq_train` computes the same subtraction
    map-side against literal cell means."""
    base = df.select(
        F.col(id_col).alias("vec_id"), to_double(vec_col).alias("v")
    )
    return (
        base.join(cells.select("vec_id", "cell"), "vec_id")
        .join(
            F.broadcast(icents.select("cell", F.col("cv").alias("ccv"))),
            "cell",
        )
        .select(
            "vec_id",
            F.zip_with("v", "ccv", lambda a, b: a - b).alias("v"),
            "cell",
        )
    )


PI_QUANTUM = float(1 << 30)  # order-free matrix-vector fold quantum


def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: BigDecimal.valueOf(x) (shortest-
    round-trip decimal — ``repr`` in Python) setScale(6, HALF_UP),
    back to a correctly-rounded double.  BigDecimal has no signed zero,
    so a result of zero is +0.0 (mirrors the oracles' ``+ 0.0``)."""
    r = float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )
    return 0.0 if r == 0.0 else r


def _pi_rounds(
    cells: list[tuple[int, int, float]], rounds: int, tol: float | None
) -> tuple[dict, float]:
    """The power-iteration kernel: w ← C·v, v ← w/sqrt(nn) from an
    all-ones seed, over the upper-triangle cells ``(i, j, c)`` of a
    symmetric matrix (mirrored here).  Returns (v: dim → x, nn), where
    ``sqrt(nn)`` is the eigenvalue estimate ‖C·v‖ of the last round.

    The d×d eigenproblem is control-plane work: the corpus pass happened
    upstream (embedding_covariance reduces it to d(d+1)/2 cells), so the
    rounds loop over cells, never over data rows.  Each operation
    replicates the oracles' unrolled round CTEs: per-term
    ``floor((c·x)·Q)`` (IEEE double multiply chain; math.floor == SQL
    floor on long-range values), exact int sums (order-free), the
    ``sum/Q`` double division, and ``w/sqrt(nn)`` with the
    correctly-rounded sqrt both engines share — so after the same number
    of rounds the vector is bit-identical to the oracle's.

    ``tol=None`` runs exactly ``rounds`` rounds (the registry rows, whose
    oracles unroll that depth).  Otherwise the loop exits at the first
    round whose ``max_d |v_t[d] − v_{t−1}[d]|`` is below ``tol``, and
    ``rounds`` rounds without that raise: a tied dominant |eigenvalue|
    makes the iterate oscillate, and a silently unconverged vector is
    worse than an error.  A C·v that folds to zero raises ``ValueError``
    instead of dividing by zero."""
    full: dict[int, list[tuple[int, float]]] = {}
    for i, j, c in cells:
        c = float(c)
        full.setdefault(i, []).append((j, c))
        if i != j:
            full.setdefault(j, []).append((i, c))
    q = PI_QUANTUM
    v = {d: 1.0 for d in full}
    nn, delta = 0.0, None
    for _ in range(rounds):
        w = {
            i: sum(math.floor(c * v[j] * q) for j, c in nbr) / q
            for i, nbr in full.items()
        }
        nn = sum(math.floor(x * x * q) for x in w.values()) / q
        if nn == 0.0:
            raise ValueError(
                "power iteration: C·v folds to zero (an empty or all-zero "
                "matrix, or an all-ones seed in its null space); there is "
                "no dominant eigenvector to return"
            )
        rt = math.sqrt(nn)
        nxt = {d: x / rt for d, x in w.items()}
        delta = max(abs(nxt[d] - v[d]) for d in nxt)
        v = nxt
        if tol is not None and delta < tol:
            return v, nn
    if tol is None:
        return v, nn
    raise RuntimeError(
        f"power_iteration did not converge within max_iters={rounds} "
        f"(last residual {delta!r} >= tol={tol!r}); either a tied "
        "dominant |eigenvalue| (the iterate oscillates — deflate the "
        "tied subspace) or tol is below the fold-quantum noise floor "
        "(~d*2^-30/lambda) — raise `tol` or `max_iters`"
    )


def eigenpairs(
    cells: list[tuple[int, int, float]],
    m: int,
    rounds: int,
    tol: float | None = None,
) -> list[tuple[dict, float]]:
    """The top-``m`` eigenpairs ``[(v, nn), ...]`` of the symmetric matrix
    whose upper-triangle cells are ``cells``: :func:`_pi_rounds` for the
    dominant pair, then HOTELLING DEFLATION ``c − sqrt(nn)·vᵢ·vⱼ`` on the
    cells (the oracles' left-associated multiply chain, with the
    UNROUNDED vector: rounding first would put ~1e-6·λ of rank-1 error
    into every later component) and the kernel again on the remainder.
    Deflation is symmetric, so subtracting on the i ≤ j cells is exact.

    Rank-exhaustion pre-check: once deflation has removed every
    component, the remainder's cells fall below the fold quantum
    (|c·x| < 2^-30 for unit x) and the iterate is quantization noise; a
    scalar max over the cells names that condition (``ValueError``)
    before the kernel runs."""
    pairs: list[tuple[dict, float]] = []
    for comp in range(1, m + 1):
        if pairs:
            v, nn = pairs[-1]
            rt = math.sqrt(nn)
            cells = [(i, j, c - rt * v[i] * v[j]) for i, j, c in cells]
        mx = max((abs(c) for _, _, c in cells), default=0.0)
        if mx * PI_QUANTUM < 1.0:
            raise ValueError(
                f"power iteration: matrix rank exhausted at component "
                f"{comp} (max |cell| {mx!r} is below the fold quantum); "
                f"request m < {comp}"
            )
        pairs.append(_pi_rounds(cells, rounds, tol))
    return pairs


def eigen_rows(pairs: list[tuple[dict, float]]) -> list[tuple]:
    """(component, dim, loading, eigenvalue) report rows of
    :func:`eigenpairs`, loadings and eigenvalue ``sqrt(nn)`` rounded to
    6 as Spark's ``round`` does (the registry output convention)."""
    return [
        (comp, d, round6(x), round6(math.sqrt(nn)))
        for comp, (v, nn) in enumerate(pairs, 1)
        for d, x in sorted(v.items())
    ]


def top_m_eigvecs(
    cov: DataFrame, m: int = 2, tol: float = 1e-6, max_iters: int = 100
) -> DataFrame:
    """Top-``m`` eigenpairs of a symmetric matrix by residual-converged
    power iteration + Hotelling deflation (:func:`eigenpairs`), from its
    upper-triangle ``(i, j, cov)`` cells as embedding_covariance emits
    them.  The cells are collected once (d(d+1)/2 rows, bounded by the
    embedding width at any corpus size); every round is driver-side
    arithmetic.  Long-format (component, dim, loading, eigenvalue) out,
    rounded to 6."""
    if m < 1:
        raise ValueError(f"top_m_eigvecs: m must be >= 1, got {m}")
    cells = [
        tuple(r)
        for r in cov.select("i", "j", F.col("cov").cast("double")).collect()
    ]
    return cov.sparkSession.createDataFrame(
        eigen_rows(eigenpairs(cells, m, max_iters, tol)),
        "component int, dim int, loading double, eigenvalue double",
    )


def power_iteration(
    cov: DataFrame, tol: float = 1e-6, max_iters: int = 100
) -> DataFrame:
    """Dominant eigenpair (dim, loading, eigenvalue) of a symmetric
    matrix to the residual exit: :func:`top_m_eigvecs` with ``m=1``."""
    return top_m_eigvecs(cov, 1, tol, max_iters).drop("component")
