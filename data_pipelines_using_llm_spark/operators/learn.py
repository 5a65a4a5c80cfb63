"""In-dataflow supervised training: a linear classifier fit by batch
gradient descent where each step is ONE aggregation pass over the corpus.

The 100 TB shape (reference has no counterpart — beyond-reference,
SURVEY.md §7.1 step 8 family): the model is d+1 driver scalars (the
k-means-centroid / PCA-basis control-plane discipline — bounded by
feature width at any corpus size), a training step is one map-side-
combinable aggregation producing d+1 gradient sums, and the weight
update happens on the driver between passes.  K steps cost K corpus
scans and nothing ever shuffles by row — the exact dataflow of
large-scale logistic-regression trainers (Vowpal-Wabbit-style batch
mode, Spark MLlib's own LBFGS data pass), reduced to its deterministic
core.

Determinism (the hash-gate discipline used module-wide):

- the link is a HARD sigmoid ``clamp(z/4 + 1/2, 0, 1)`` — the
  piecewise-linear logistic standard in quantized ML — because ``exp``
  is the one place engines differ in the last ulp; multiply/add/clamp
  are IEEE-identical everywhere;
- each gradient component is folded as ``Σ floor(err·x·2^30)`` into an
  int64 — exact and order-free, so the gradient (and therefore the
  whole weight trajectory) is a pure function of the data, never of
  partitioning;
- the driver-side update ``w − lr·(g/2^30/n)`` uses the same operation
  order the SQL oracle's weight CTEs state, so both engines walk
  bit-identical trajectories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRAD_Q = float(2**30)  # gradient quantization step (order-free int sums)
OLS_Q = float(2**24)  # label-moment quantization of ols_fit_gauss


def hard_sigmoid(z: Column) -> Column:
    """Piecewise-linear logistic link ``clamp(0.25·z + 0.5, 0, 1)`` —
    exact arithmetic only, so scores are bit-identical cross-engine
    (the reason this trainer avoids ``exp``)."""
    return F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), z * F.lit(0.25) + F.lit(0.5))
    )


def linear_score(feature_cols: list[str], weights: list[float]) -> Column:
    """``w0 + Σ wj·xj`` with the fixed left-to-right association the
    oracle mirrors (association changes last-ulp bits)."""
    z = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c)
    return z


def linear_classifier_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    steps: int = 6,
    lr: float = 4.0,
    checkpoint_input: bool = True,
) -> list[float]:
    """Fit ``[bias, w1..wd]`` by ``steps`` batch-GD passes.

    Per step: err = hard_sigmoid(z) − y per row (a projection), then
    d+1 quantized gradient sums in one aggregation; the update runs on
    the driver.  Squared-loss gradient under the hard-sigmoid link
    (err·x), clamp regions included — simple, monotone, and exactly
    mirrorable in SQL.

    Input contract (r10 verdict task 6): training runs ``steps + 1``
    actions over ``df`` (one count + K gradient aggregations), so an
    unmaterialized upstream would silently be recomputed K+1 times —
    the 11.5 s → 2.9 s featurize-once trap.  The trainer therefore
    ``persist()``s its input by default and UNPERSISTS it after the
    final gradient step (r11 ADVICE — the model is d+1 driver scalars,
    so nothing about the input needs to outlive the call; repeated
    trainings in one session no longer accumulate storage blocks).
    Pass ``checkpoint_input=False`` ONLY when the caller already holds
    a barrier over the exact frame (e.g. to reuse the materialized
    features for scoring afterwards, as doc_lang_classifier_distilled
    does) — and then the K+1-scan cost of getting that wrong is on the
    caller."""
    held = None
    if checkpoint_input:
        df = held = df.persist()
    try:
        n = df.count()
        if n == 0:
            raise ValueError("linear_classifier_train: empty training set")
        w = [0.0] * (len(feature_cols) + 1)
        for _ in range(steps):
            err = hard_sigmoid(linear_score(feature_cols, w)) - F.col(
                label_col
            ).cast("double")
            aggs = [
                F.sum(F.floor(err * F.lit(GRAD_Q))).cast("long").alias("g0")
            ] + [
                F.sum(F.floor(err * F.col(c) * F.lit(GRAD_Q)))
                .cast("long")
                .alias(f"g{j + 1}")
                for j, c in enumerate(feature_cols)
            ]
            g = df.agg(*aggs).first()
            w = [
                w[j] - lr * (float(g[f"g{j}"]) / GRAD_Q / n)
                for j in range(len(w))
            ]
        return w
    finally:
        if held is not None:
            held.unpersist(blocking=False)


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _gram_name(j: int, k: int) -> str:
    """Canonical moment name for Gram entry (j, k): ``n``, ``s{j}``,
    ``s{lo}{hi}`` — the names the driver solve and the SQL oracle's
    elimination CTEs (plans/statistics.py) both read."""
    if j == 0 and k == 0:
        return "n"
    if j == 0 or k == 0:
        return f"s{max(j, k)}"
    lo, hi = sorted((j, k))
    return f"s{lo}{hi}"


def _ymom_name(j: int) -> str:
    return "sy" if j == 0 else f"sy{j}"


def _ols_moments(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> dict[str, float]:
    """The ONE-PASS moment collection of :func:`ols_fit_gauss`:
    exact-int64 X^T X, quantized order-free X^T y.  Returns the moment
    scope keyed by the canonical names (:func:`_gram_name` /
    :func:`_ymom_name`).

    Input contracts, ENFORCED (r10 ADVICE — silent moment skew is the
    failure mode):
    - features must be INTEGER-typed columns (no silent ``cast('long')``
      truncation of fractional features);
    - NULL feature/label rows raise (``count(*)`` counts them while
      ``sum()`` skips their contributions, making the moments mutually
      inconsistent — the coefficients would skew with no error);
    - the exact-int64 headroom is checked from the same pass's
      ``max(|xj|)``: ``n·max|xj|·max|xk|`` must stay ≲ 2^62;
    - an empty input raises."""
    d = len(feature_cols)
    dtypes = dict(df.dtypes)
    bad = [c for c in feature_cols if dtypes.get(c) not in _INT_TYPES]
    if bad:
        raise ValueError(
            f"one-pass OLS: feature columns must be integer-typed "
            f"({'/'.join(_INT_TYPES)}) — casting would silently truncate "
            f"fractional values; offending: "
            f"{[(c, dtypes.get(c)) for c in bad]}"
        )
    xs = [F.col(c).cast("long") for c in feature_cols]
    y = F.col(label_col).cast("double")
    null_pred = F.col(label_col).isNull()
    for c in feature_cols:
        null_pred = null_pred | F.col(c).isNull()
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(null_pred, 1).otherwise(0)).alias("nulls"),
        F.sum(F.floor(y * F.lit(OLS_Q))).alias("sy"),
    ]
    for j in range(1, d + 1):
        aggs.append(F.sum(xs[j - 1]).alias(f"s{j}"))
        aggs.append(F.max(F.abs(xs[j - 1])).alias(f"mx{j}"))
        aggs.append(
            F.sum(F.floor(xs[j - 1].cast("double") * y * F.lit(OLS_Q))).alias(
                f"sy{j}"
            )
        )
        for k in range(j, d + 1):
            aggs.append(F.sum(xs[j - 1] * xs[k - 1]).alias(f"s{j}{k}"))
    m = df.agg(*aggs).first()
    if not m["n"]:
        raise ValueError("one-pass OLS: empty input")
    if m["nulls"]:
        raise ValueError(
            f"one-pass OLS: {m['nulls']} row(s) have NULL features "
            "or label — count(*) would disagree with the sum() moments "
            "and silently skew the fit; filter them out explicitly first"
        )
    mxs = [int(m[f"mx{j}"]) for j in range(1, d + 1)]
    worst = max(mxs) if mxs else 0
    if int(m["n"]) * worst * worst >= 1 << 62:
        raise ValueError(
            f"one-pass OLS: n·max|x|² = {int(m['n']) * worst * worst} "
            "exceeds the exact-int64 moment headroom (2^62); rescale or "
            "bucket the features"
        )
    scope: dict[str, float] = {"n": float(m["n"])}
    scope["sy"] = float(m["sy"]) / OLS_Q
    for j in range(1, d + 1):
        scope[f"s{j}"] = float(m[f"s{j}"])
        scope[f"sy{j}"] = float(m[f"sy{j}"]) / OLS_Q
        for k in range(j, d + 1):
            scope[f"s{j}{k}"] = float(m[f"s{j}{k}"])
    return scope


def ols_fit_gauss(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> list[float]:
    """Closed-form least squares ``y ~ b0 + Σ bj·xj`` for 1 ≤ d ≤
    :data:`GAUSS_MAX_D` INTEGER-typed features, fit in ONE corpus scan —
    the classic distributed-ML primitive: accumulate the
    normal-equation moments (X^T X and X^T y) as map-side-combinable
    sums (:func:`_ols_moments`, which states the input contracts), then
    solve the (d+1)×(d+1) system by a FIXED-PIVOT Gauss–Jordan
    elimination on the driver and never touch the rows again.  At
    100 TB the cost is one scan producing O(d²) scalars.  Returns
    ``[b0, b1..bd]``; for wider models use gradient descent
    (:func:`linear_classifier_train`).

    Determinism, the cross-engine contract (r11 verdict optional
    task 8): the elimination applies its updates in a FIXED schedule —
    pivots k = 0..d in order, every row i ≠ k updated as
    ``a_ij − (a_ik / a_kk) · a_kj`` reading ONLY pre-step values, then
    ``b_i = y_i / a_ii`` — and the SQL oracle
    (plans/statistics.py::_gauss_solve_ctes) states the IDENTICAL
    expression per entry per step as one CTE per pivot, so both
    engines walk bit-identical IEEE trajectories.  NATURAL pivot order,
    never magnitude pivoting: data-dependent row swaps would make the
    operation ORDER a function of the data, unmirrorable in static
    SQL.  That is safe here because the Gram matrix of a full-rank
    design is positive definite (every leading principal minor > 0 ⇒
    LU exists without pivoting); a collinear design surfaces as a
    (near-)zero pivot and raises loudly."""
    d = len(feature_cols)
    if not 1 <= d <= GAUSS_MAX_D:
        raise ValueError(
            f"ols_fit_gauss supports 1 <= d <= {GAUSS_MAX_D} feature "
            f"columns, got {len(feature_cols)}"
        )
    scope = _ols_moments(df, feature_cols, label_col)
    n1 = d + 1
    a = [[scope[_gram_name(j, k)] for k in range(n1)] for j in range(n1)]
    yv = [scope[_ymom_name(j)] for j in range(n1)]
    # Scale-relative singularity gate (r12 ADVICE; PER-COLUMN r13
    # ADVICE): an exactly-zero check lets a NEARLY-collinear design
    # through, and the fixed (unpivoted) schedule then amplifies
    # rounding error with no warning.  A pivot below eps·(its OWN
    # column's initial Gram diagonal) means elimination has cancelled
    # ≳15 of the 16 significant decimal digits IN THAT COLUMN — the
    # coefficients are numerically meaningless, so raise.  The
    # reference diagonal is per-column, not the global max: a
    # full-rank design mixing a near-binary column with a ~1e6-valued
    # one has a diagonal ratio ~1e12, and a global-max tolerance would
    # falsely reject the small column even though its own elimination
    # lost nothing.  Each column's tolerance is relative to itself, so
    # neither rescaling one feature nor adding a huge unrelated one
    # moves any other column's gate.
    init_diag = [abs(a[j][j]) for j in range(n1)]
    for k in range(n1):
        if abs(a[k][k]) <= GAUSS_PIVOT_RTOL * init_diag[k]:
            raise ValueError(
                f"ols_fit_gauss: near-zero pivot {a[k][k]!r} at step {k} "
                f"(|pivot| <= {GAUSS_PIVOT_RTOL:g} x this column's own "
                "initial Gram diagonal) — collinear, nearly-collinear, "
                "or constant features (the Gram matrix is not "
                "numerically positive definite)"
            )
        for i in range(n1):
            if i == k:
                continue
            f = a[i][k] / a[k][k]
            a[i] = [a[i][j] - f * a[k][j] for j in range(n1)]
            yv[i] = yv[i] - f * yv[k]
    return [yv[i] / a[i][i] for i in range(n1)]


# d ≤ 9: the canonical moment-name grid (``s{j}{k}``, single digits)
# is unambiguous exactly through 9 features — at d=10 "s111" could be
# (1,11) or (11,1) — and the one-pass agg stays a manageable
# (d+1)(d+2)/2 + 2d + 2 scalar expressions (77 at d=9).  Past 9, both
# the naming and the agg width want an INDEXED vector fold (array
# moments + array elimination CTEs) — a documented design boundary;
# use gradient descent (linear_classifier_train) for wider designs.
GAUSS_MAX_D = 9

# Relative pivot floor for ols_fit_gauss: a pivot at or below this
# fraction of ITS OWN column's initial Gram diagonal raises (per-column
# since r13 ADVICE — a global-max reference falsely rejected full-rank
# designs with mixed feature scales).  1e-12 sits ~4 decimal digits
# above double machine-epsilon cancellation (1e-16) — loose enough that
# any sane full-rank design passes (the gated event_value_ols_* pivots
# sit > 1e-3 of their own diagonals), tight enough that a numerically
# collinear design cannot slip through.
GAUSS_PIVOT_RTOL = 1e-12
