"""Quality + cleaning operator tests over hazard-injected fixtures
(FIXTURES.md F4: H1 nulls, H2 duplicate timestamps with differing values,
H3 overlapping re-ingestion) — the data hazards the reference's operators
exist to catch."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators import cleaning, quality


@pytest.fixture(scope="module")
def hazard_df(spark):
    """Hourly feed with: a NULL pm10 (H1), a fully-null column (H1), a
    duplicated event_time with differing values (H2), and two overlapping
    ingestion batches (H3)."""
    t0 = dt.datetime(2025, 1, 1, 0, 0)
    rows = []
    # batch 1: hours 0..5, ingestion day 1
    for h in range(6):
        rows.append(
            (t0 + dt.timedelta(hours=h),
             None if h == 2 else float(10 + h),   # H1: one NULL pm10
             float(20 + h), None,                  # H1: dead_metric fully null
             dt.date(2025, 1, 1),
             dt.datetime(2025, 1, 1, 6, 0))
        )
    # H2: duplicate of hour 4 within batch 1 with a DIFFERENT value
    rows.append(
        (t0 + dt.timedelta(hours=4), 99.0, 99.0, None,
         dt.date(2025, 1, 1), dt.datetime(2025, 1, 1, 6, 30))
    )
    # batch 2 (H3): hours 3..8 re-ingested next day
    for h in range(3, 9):
        rows.append(
            (t0 + dt.timedelta(hours=h), float(100 + h), float(200 + h), None,
             dt.date(2025, 1, 2), dt.datetime(2025, 1, 2, 6, 0))
        )
    return spark.createDataFrame(
        rows,
        "event_time timestamp, pm10 double, pm2_5 double, dead_metric double,"
        "ingestion_date date, ingestion_ts timestamp",
    )


def test_null_profile_one_row(hazard_df):
    row = quality.null_profile(hazard_df, ["pm10", "pm2_5", "dead_metric"]).first()
    assert row.total_records == 13
    assert row.pm10_nulls == 1
    assert row.pm2_5_nulls == 0
    assert row.dead_metric_nulls == 13  # fully-null column detected


def test_null_rate_tall_report(hazard_df):
    rows = {r.column: r for r in quality.null_rate_columns(
        hazard_df, ["pm10", "dead_metric"]).collect()}
    assert rows["dead_metric"].null_pct == 100.0
    assert rows["pm10"].nulls == 1


def test_duplicate_stats_and_profile(hazard_df):
    stats = quality.duplicate_stats(hazard_df, ["event_time"]).first()
    assert stats.total_records == 13
    assert stats.distinct_keys == 9          # hours 0..8
    # hours 3,4,5 appear twice-or-thrice: 4 → 3 copies (dup + overlap), 3,5 → 2
    assert stats.dup_keys == 3
    assert stats.dup_rows == 7
    assert stats.excess_rows == 4
    top = quality.duplicate_profile(hazard_df, ["event_time"]).collect()
    assert top[0].n_copies == 3   # hour 4 worst offender first


def test_completeness(hazard_df):
    row = quality.completeness(hazard_df, ["pm10", "pm2_5", "dead_metric"]).first()
    assert row.total_cells == 39
    assert row.non_null_cells == 12 + 13  # pm10 non-null + pm2_5 non-null
    assert 0 < row.completeness_pct < 100


def test_quality_report(hazard_df):
    row = quality.quality_report(
        hazard_df, key=["event_time"], metric_cols=["pm10", "pm2_5"]
    ).first()
    assert row.total_records == 13
    assert row.excess_dup_rows == 4
    assert row.rows_with_any_null == 1
    assert row.clean_records == 12
    assert row.pm10_nulls == 1


def test_health_check(hazard_df):
    row = quality.health_check(
        hazard_df, ts_col="event_time", metric_cols=["pm10", "pm2_5"],
        freshness_hours=6,
    ).first()
    assert row.has_rows
    assert row.spans_freshness_window  # 9 hours > 6
    assert row.is_complete_enough
    assert row.checks_passed == 3


def test_deterministic_dedup_latest_ingestion_wins(hazard_df):
    out = cleaning.dedup_deterministic(
        hazard_df, ["event_time"],
        [F.col("ingestion_ts").desc(), F.col("pm10").desc_nulls_last()],
    )
    rows = {r.event_time.hour: r for r in out.collect()}
    assert len(rows) == 9
    # hour 4: batch-2 re-ingestion (ingestion_ts 1/2) beats both batch-1 rows
    assert rows[4].pm10 == 104.0
    # hour 0: only batch 1 → kept as-is
    assert rows[0].pm10 == 10.0


def test_dedup_idempotent_on_reingestion(hazard_df):
    """H3 idempotence: dedup(batch1 ∪ batch2) == dedup(dedup(batch1 ∪ batch2)
    ∪ batch2) — re-appending the same batch must not change silver."""
    tiebreak = [F.col("ingestion_ts").desc(), F.col("pm10").desc_nulls_last()]
    silver1 = cleaning.dedup_deterministic(hazard_df, ["event_time"], tiebreak)
    batch2 = hazard_df.filter(F.col("ingestion_date") == dt.date(2025, 1, 2))
    silver2 = cleaning.dedup_deterministic(
        silver1.unionByName(batch2), ["event_time"], tiebreak
    )
    a = sorted(silver1.collect(), key=lambda r: r.event_time)
    b = sorted(silver2.collect(), key=lambda r: r.event_time)
    assert a == b


def test_clean_policies(hazard_df):
    drop = cleaning.clean(
        hazard_df, key=["event_time"], metric_cols=["pm10", "pm2_5"],
        null_policy="drop_any_null", dedup_policy="none",
    )
    assert drop.count() == 12
    keep_any = cleaning.clean(
        hazard_df, key=["event_time"], metric_cols=["pm10", "dead_metric"],
        null_policy="keep_if_any_present", dedup_policy="none",
    )
    assert keep_any.count() == 12  # row with NULL pm10 has NULL dead_metric too
    full = cleaning.clean(
        hazard_df, key=["event_time"], metric_cols=["pm10", "pm2_5"],
        null_policy="keep_nulls", dedup_policy="deterministic",
        tiebreaker=[F.col("ingestion_ts").desc(), F.col("pm10").desc_nulls_last()],
    )
    assert full.count() == 9


def test_clean_rejects_bad_policies(hazard_df):
    with pytest.raises(ValueError):
        cleaning.clean(hazard_df, ["event_time"], ["pm10"], null_policy="bogus")
    with pytest.raises(ValueError):
        cleaning.clean(hazard_df, ["event_time"], ["pm10"],
                       dedup_policy="deterministic", tiebreaker=None)


def test_nan_and_null_distinct(spark):
    """SURVEY.md §4.3.5: NaN and NULL are different things."""
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (None,)], "x double"
    )
    nulls = quality.null_profile(df, ["x"]).first()
    nans = quality.nan_profile(df, ["x"]).first()
    assert nulls.x_nulls == 1
    assert nans.x_nans == 1


def test_approx_user_reach_error_bound(spark):
    """The query now carries the sketch-vs-exact bound as a hashed flag
    (the DuckDB oracle emits the literal expectation 1); assert every
    flag is 1 at both small SFs so a sketch drift is caught here before
    the driver gate sees it."""
    from data_pipelines_using_llm_spark.plans.analytics import approx_user_reach

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = approx_user_reach(spark, sf).collect()
        assert rows, sf
        for row in rows:
            assert row.exact_users > 0
            assert row.reach_within_5pct == 1, (sf, row.event_type)


def test_value_percentiles_approx_error_bound(spark):
    """percentile_approx guarantees RANK error (<= floor(n/accuracy)), not
    value error — the query itself now materializes the exact rank band
    and an in_band flag per percentile (that flag is what the DuckDB
    oracle gates on); here we assert every flag is 1 and the band is
    well-formed."""
    from data_pipelines_using_llm_spark.plans.quality_queries import (
        value_percentiles_approx,
    )

    sf = "/root/testdata/sf0.001"
    rows = value_percentiles_approx(spark, sf).collect()
    assert rows
    for row in rows:
        for p in ("p50", "p90", "p99"):
            lo, hi = getattr(row, f"{p}_lo"), getattr(row, f"{p}_hi")
            assert lo is not None and hi is not None and lo <= hi, (row.event_type, p)
            assert getattr(row, f"{p}_in_band") == 1, (row.event_type, p, lo, hi)


def test_repetition_signals_edges(spark):
    """Boilerplate detection edges: empty doc, no-repeat doc, fully
    repeated doc — and the <n-token guard that keeps Spark's sequence()
    from generating a DESCENDING [1,0] range."""
    from data_pipelines_using_llm_spark.operators.text import repetition_signals

    rows = [
        (1, ""),
        (2, "unique words only here"),
        (3, "spam spam spam spam spam spam"),
        (4, "line a\nline a\nline a\nline b"),
        (5, "ab"),  # fewer tokens than any n-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = repetition_signals("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[v.alias(k) for k, v in sig.items()],
        ).collect()
    }
    assert got[1]["n_lines"] == 0 and got[1]["dup_line_ratio"] == 0.0
    assert got[2]["dup_2gram_ratio"] == 0.0 and got[2]["dup_3gram_ratio"] == 0.0
    # "spam spam"x5 bigrams, all identical -> 1 - 1/5 = 0.8
    assert abs(got[3]["dup_2gram_ratio"] - 0.8) < 1e-12
    # 4 lines, 2 distinct -> 0.5
    assert abs(got[4]["dup_line_ratio"] - 0.5) < 1e-12
    assert got[5]["dup_3gram_ratio"] == 0.0 and got[5]["n_lines"] == 1


def test_redact_pii_masks_each_category(spark):
    from data_pipelines_using_llm_spark.operators.text import pii_counts, redact_pii

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk please"),
        (2, "ssn 123-45-6789 on file"),
        (3, "server at 192.168.10.255 port 80"),
        (4, "call +1 (555) 123-4567 today"),
        (5, "clean text with number 42"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            *[v.alias(k) for k, v in pii_counts("text").items()],
        ).collect()
    }
    assert "[EMAIL]" in out[1]["red"] and "@" not in out[1]["red"]
    assert out[1]["email"] == 1
    assert out[2]["red"] == "ssn [SSN] on file" and out[2]["ssn"] == 1
    assert out[3]["red"] == "server at [IPV4] port 80" and out[3]["ipv4"] == 1
    assert "[PHONE]" in out[4]["red"] and out[4]["phone"] == 1
    # specific category wins: the SSN is not half-eaten by the phone regex
    assert "[PHONE]" not in out[2]["red"]
    # clean text untouched (a short number is not a phone)
    assert out[5]["red"] == rows[4][1]
    assert all(out[5][c] == 0 for c in ("email", "ssn", "ipv4", "phone"))


def test_pii_counts_sequential_no_double_count(spark):
    """An SSN-shaped string also matches the greedy phone regex; the
    sequential audit must tally it ONCE, under ssn (the category the
    redactor actually applied), not under both."""
    from data_pipelines_using_llm_spark.operators.text import pii_counts

    df = spark.createDataFrame(
        [(1, "ssn 123-45-6789 tel +1 (555) 123-4567")], "id long, text string"
    )
    got = df.select(
        *[v.alias(k) for k, v in pii_counts("text").items()]
    ).first()
    assert got["ssn"] == 1
    assert got["phone"] == 1  # the real phone still counts
    assert got["email"] == 0 and got["ipv4"] == 0


def test_redact_pii_category_subset(spark):
    from data_pipelines_using_llm_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "a@b.com and 10.0.0.1")], "id long, text string"
    )
    got = df.select(redact_pii("text", ["email"]).alias("r")).first()["r"]
    assert got == "[EMAIL] and 10.0.0.1"


def test_linear_classifier_distills_language_gate(spark):
    """The in-dataflow GD trainer must actually LEARN, not memorize the
    prior: student-teacher agreement at the oracle scale clears 0.99
    while the majority-class baseline sits near 0.91 — and the whole
    run is deterministic (two trainings, identical weights), which is
    what lets the oracle hash-gate the weight trajectory."""
    import data_pipelines_using_llm_spark.plans.text_queries as TQ
    from data_pipelines_using_llm_spark.operators import learn as LN

    sf = "/root/testdata/sf0.01"
    rows = TQ.doc_lang_classifier_distilled(spark, sf).collect()
    n = len(rows)
    agree = sum(1 for r in rows if r["student_en"] == r["teacher_en"])
    teach1 = sum(r["teacher_en"] for r in rows)
    baseline = max(teach1, n - teach1) / n
    assert agree / n >= 0.99, (agree / n, baseline)
    assert agree / n > baseline

    feats = TQ._clf_features(spark, sf)
    w1 = LN.linear_classifier_train(
        feats, TQ.CLF_FEATURES, "y", steps=TQ.CLF_STEPS, lr=TQ.CLF_LR
    )
    w2 = LN.linear_classifier_train(
        feats, TQ.CLF_FEATURES, "y", steps=TQ.CLF_STEPS, lr=TQ.CLF_LR
    )
    assert w1 == w2, (w1, w2)


def test_linear_classifier_checkpoints_uncached_input(spark):
    """r10 verdict task 6: the trainer runs steps+1 actions over its
    input, so by default it must materialize an UNCACHED input (persist,
    released after the last step — r11 ADVICE) — featurization runs ONCE
    regardless of step count.  Proven with an Arrow-batch counter
    upstream: the number of upstream batch materializations is identical
    for a 1-step and a 6-step run."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN

    acc = spark.sparkContext.accumulator(0)
    base = spark.range(0, 200, 1, 4).select(
        ((F.col("id") % 7).cast("double") / 7.0).alias("x1"),
        (F.col("id") % 2).cast("double").alias("y"),
    )

    def bump(batches):
        for b in batches:
            acc.add(1)
            yield b

    df = base.mapInPandas(bump, "x1 double, y double")
    LN.linear_classifier_train(df, ["x1"], "y", steps=1)
    one_step = acc.value
    LN.linear_classifier_train(df, ["x1"], "y", steps=6)
    six_steps = acc.value - one_step
    assert one_step > 0
    assert six_steps == one_step, (one_step, six_steps)


def test_linear_classifier_agreement_holds_on_held_out_split(spark):
    """r10 verdict task 7: the 0.99 in-corpus agreement floor is also
    asserted on UNSEEN rows — a deterministic Lehmer-hash 80/20 split
    (operators/split.py), train on 'train' only, score 'test' only.
    Floor 0.97 on the smaller held-out slice (vs ~0.91 majority-class
    baseline), so the student generalizes rather than memorizing."""
    import data_pipelines_using_llm_spark.plans.text_queries as TQ
    from data_pipelines_using_llm_spark.operators import learn as LN
    from data_pipelines_using_llm_spark.operators.split import (
        deterministic_split,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    feats = deterministic_split(
        TQ._clf_features(spark, sf),
        "doc_id",
        weights=[("train", 0.8), ("test", 0.2)],
    ).localCheckpoint(eager=True)
    train = feats.filter(F.col("split") == "train")
    test = feats.filter(F.col("split") == "test")
    w = LN.linear_classifier_train(
        train, TQ.CLF_FEATURES, "y", steps=TQ.CLF_STEPS, lr=TQ.CLF_LR,
        checkpoint_input=False,
    )
    score = LN.hard_sigmoid(LN.linear_score(TQ.CLF_FEATURES, w))
    rows = test.select(
        (score >= 0.5).cast("int").alias("student_en"),
        F.col("y").cast("int").alias("teacher_en"),
    ).collect()
    n = len(rows)
    assert n >= 50, n  # the split must leave a real held-out slice
    agree = sum(1 for r in rows if r["student_en"] == r["teacher_en"])
    teach1 = sum(r["teacher_en"] for r in rows)
    baseline = max(teach1, n - teach1) / n
    assert agree / n >= 0.97, (agree / n, baseline, n)
    assert agree / n > baseline


def test_linear_classifier_separates_crafted_labels(spark):
    """Sanity on crafted, perfectly separable data: GD drives the
    hard-sigmoid scores to the right side of 0.5 for every row."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN

    rows = [(float(i), 1.0 if i >= 5 else 0.0) for i in range(10)]
    df = spark.createDataFrame(rows, "x1 double, y double").select(
        (F.col("x1") / 10.0).alias("x1"), "y"
    )
    w = LN.linear_classifier_train(df, ["x1"], "y", steps=30, lr=8.0)
    scored = df.select(
        "y", LN.hard_sigmoid(LN.linear_score(["x1"], w)).alias("p")
    ).collect()
    assert all((r["p"] >= 0.5) == (r["y"] == 1.0) for r in scored), scored


def test_linear_classifier_releases_its_input_persist(spark):
    """r11 ADVICE: the trainer's default input materialization must be
    RELEASED after the final gradient step — repeated trainings in one
    session may not accumulate storage blocks for the session lifetime."""
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN

    df = spark.range(0, 100, 1, 4).select(
        ((F.col("id") % 5).cast("double") / 5.0).alias("x1"),
        (F.col("id") % 2).cast("double").alias("y"),
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for _ in range(3):
        LN.linear_classifier_train(df, ["x1"], "y", steps=2)
    # compare ids, not counts: the ContextCleaner may drop an unrelated
    # older RDD mid-test (the JVM's periodic GC), which would hide a leak
    leaked = set(jsc.getPersistentRDDs().keys()) - before
    assert not leaked, leaked


def test_ols_one_pass_matches_numpy_lstsq(spark):
    """The one-pass normal-equation fit must agree with numpy's lstsq
    on the real events regression to 6dp — the closed-form solve is
    exact, the quantized label moments cost < 2^-24 per term."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN
    from data_pipelines_using_llm_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    feats = ev.select(
        F.hour("ts").alias("h"), F.dayofweek("ts").alias("dw"), "value"
    )
    b = LN.ols_fit_gauss(feats, ["h", "dw"], "value")
    rows = feats.collect()
    X = np.array([[1.0, r["h"], r["dw"]] for r in rows])
    y = np.array([r["value"] for r in rows])
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert np.allclose(b, ref, atol=1e-5), (b, ref)


def test_ols_one_pass_guards(spark):
    import pytest as _pt

    from data_pipelines_using_llm_spark.operators import learn as LN

    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 4, 2.0), (3, 6, 3.0)],
        "a long, b long, y double",
    )
    with _pt.raises(ValueError, match="1 <= d"):
        LN.ols_fit_gauss(df, ["a", "b"] * 5, "y")  # past GAUSS_MAX_D = 9
    with _pt.raises(ValueError, match="pivot|collinear"):
        LN.ols_fit_gauss(df, ["a", "b"], "y")  # b = 2a, collinear
    empty = df.filter("a < 0")
    with _pt.raises(ValueError, match="empty"):
        LN.ols_fit_gauss(empty, ["a", "b"], "y")
    # d=1 simple regression: y = 1.25·a − 1/3 exactly
    b0, b1 = LN.ols_fit_gauss(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.5)], "a long, y double"
        ),
        ["a"],
        "y",
    )
    assert abs(b1 - 1.25) < 1e-6 and abs(b0 + 0.3333333) < 1e-6


def test_ols_one_pass_input_contract_guards(spark):
    """r10 ADVICE: NULL feature/label rows and non-integer feature
    dtypes must raise loudly (count(*) vs sum() moment skew; silent
    cast truncation), and the exact-int64 headroom is enforced from the
    same pass's max(|x|)."""
    import pytest as _pt

    from data_pipelines_using_llm_spark.operators import learn as LN

    nullly = spark.createDataFrame(
        [(1, 2, 1.0), (None, 4, 2.0), (3, None, 3.0), (4, 5, None)],
        "a long, b long, y double",
    )
    with _pt.raises(ValueError, match="NULL features"):
        LN.ols_fit_gauss(nullly, ["a", "b"], "y")
    frac = spark.createDataFrame(
        [(1.5, 2, 1.0), (2.5, 4, 2.0)], "a double, b long, y double"
    )
    with _pt.raises(ValueError, match="integer-typed"):
        LN.ols_fit_gauss(frac, ["a", "b"], "y")
    # n·max|x|² just past 2^62 while every moment still fits int64
    # (Σa² ≈ 2^62 < 2^63): the guard, not an engine overflow, must fire.
    # Outright in-flight overflows are loud too (Spark ANSI), but this
    # window is where exactness would silently erode without the guard.
    huge = spark.createDataFrame(
        [(1 << 30, 1, 1.0), ((1 << 30) + 1, 2, 2.0),
         ((1 << 30) + 2, 4, 3.0), ((1 << 30) + 7, 5, 4.0)],
        "a long, b long, y double",
    )
    with _pt.raises(ValueError, match="headroom"):
        LN.ols_fit_gauss(huge, ["a", "b"], "y")


def test_ols_one_pass_d3_matches_numpy_lstsq(spark):
    """The d=3 fit must agree with numpy lstsq on the real events
    regression."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN
    from data_pipelines_using_llm_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    feats = ev.select(
        F.hour("ts").alias("h"),
        F.dayofweek("ts").alias("dw"),
        F.dayofmonth("ts").alias("dom"),
        "value",
    )
    b = LN.ols_fit_gauss(feats, ["h", "dw", "dom"], "value")
    rows = feats.collect()
    X = np.array([[1.0, r["h"], r["dw"], r["dom"]] for r in rows])
    y = np.array([r["value"] for r in rows])
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert np.allclose(b, ref, atol=1e-5), (b, ref)


def test_ols_gauss_agrees_with_numpy_and_caps(spark):
    """The d=5 fixed-pivot Gauss-Jordan fit must agree with numpy lstsq
    (the elimination is exact algebra over the same moments), reject
    collinear designs via the pivot guard, and enforce the input
    contracts (integer dtypes)."""
    import numpy as np
    import pytest as _pt
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN
    from data_pipelines_using_llm_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    feats = ev.select(
        F.hour("ts").alias("h"),
        F.dayofweek("ts").alias("dw"),
        F.dayofmonth("ts").alias("dom"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("ss"),
        "value",
    )
    cols = ["h", "dw", "dom", "mi", "ss"]
    b = LN.ols_fit_gauss(feats, cols, "value")
    rows = feats.collect()
    X = np.array([[1.0] + [float(r[c]) for c in cols] for r in rows])
    y = np.array([r["value"] for r in rows])
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert np.allclose(b, ref, atol=1e-5), (b, ref)
    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 4, 2.0), (3, 6, 3.0)], "a long, b long, y double"
    )
    with _pt.raises(ValueError, match="pivot|collinear"):
        LN.ols_fit_gauss(df, ["a", "b"], "y")  # b = 2a
    with _pt.raises(ValueError, match="1 <= d"):
        LN.ols_fit_gauss(df, ["a"] * 10, "y")  # past GAUSS_MAX_D = 9
    fr = spark.createDataFrame([(1.5, 1.0)], "a double, y double")
    with _pt.raises(ValueError, match="integer-typed"):
        LN.ols_fit_gauss(fr, ["a"], "y")


def test_ols_gauss_rejects_nearly_collinear_design(spark):
    """r12 ADVICE: the pivot gate must be scale-RELATIVE, not
    exact-zero — a nearly-collinear design (b = 2a everywhere except
    one unit perturbation over 20k rows) leaves a tiny-but-nonzero
    pivot that the old ``== 0.0`` check waved through, letting the
    fixed-schedule elimination amplify rounding error silently.  The
    relative gate (|pivot| <= 1e-12 x the largest initial Gram
    diagonal) must raise; a comfortably full-rank design of the same
    shape must still fit."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN

    n = 1_000
    # wide integer features (a = 1000*i) blow the Gram diagonal up to
    # ~1.3e15 while a single unit perturbation leaves the eliminated
    # pivot O(1): relative pivot ~1e-15, below the 1e-12 gate but NOT
    # exactly zero — the case the old check waved through.  The label
    # stays small (a % 7) so the quantized label moments keep their
    # exact-int64 headroom.
    base = spark.range(1, n + 1).select(
        (F.col("id") * 1000).alias("a"),
        (
            F.col("id") * 2000 + F.when(F.col("id") == 1, 1).otherwise(0)
        ).alias("b"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    with _pt.raises(ValueError, match="near-zero pivot"):
        LN.ols_fit_gauss(base, ["a", "b"], "y")
    # same scale, genuinely independent second feature: fits fine
    ok = spark.range(1, n + 1).select(
        (F.col("id") * 1000).alias("a"),
        (F.col("id") * F.col("id") % 997).alias("b"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    coeffs = LN.ols_fit_gauss(ok, ["a", "b"], "y")
    assert len(coeffs) == 3 and all(
        c == c and abs(c) < 1e6 for c in coeffs
    )


def test_ols_gauss_pivot_gate_is_per_column(spark):
    """r13 ADVICE: the pivot tolerance must be relative to each
    column's OWN initial Gram diagonal, not the global max — a
    genuinely full-rank design mixing a near-binary feature (diag
    ~5e2) with a ~3e7-valued one (diag ~3e17, ratio ~6e14 > 1e12)
    was falsely rejected by the global-max gate even though the small
    column's elimination loses nothing.  The mixed-scale fit must
    succeed and match numpy; a design collinear IN the small column
    must still raise."""
    import numpy as np
    import pytest as _pt
    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.operators import learn as LN

    n = 1_000
    mixed = spark.range(1, n + 1).select(
        (F.col("id") % 2).alias("a"),           # binary: diag ~ 500
        (F.col("id") * 30000).alias("b"),       # huge: diag ~ 3e17
        ((F.col("id") % 7) + (F.col("id") % 2)).cast("double").alias("y"),
    )
    b = LN.ols_fit_gauss(mixed, ["a", "b"], "y")
    rows = mixed.collect()
    X = np.array([[1.0, float(r["a"]), float(r["b"])] for r in rows])
    y = np.array([r["y"] for r in rows])
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert np.allclose(b, ref, atol=1e-5), (b, ref)
    # collinearity in the SMALL column still raises: c duplicates a,
    # so a's per-column pivot cancels to ~0 regardless of b's scale
    dup = spark.range(1, n + 1).select(
        (F.col("id") % 2).alias("a"),
        (F.col("id") % 2).alias("c"),
        (F.col("id") * 30000).alias("b"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    with _pt.raises(ValueError, match="near-zero pivot"):
        LN.ols_fit_gauss(dup, ["a", "c", "b"], "y")


# The rows each OLS oracle gave at sf0.001 before the four rows shared
# one generated Gauss-Jordan oracle (the trend and 3-feature rows were
# then solved by Cramer's rule).
_PINNED_OLS_ROWS = {
    "event_value_ols_trend": [
        ("intercept", 53.234793), ("hour", -0.284344), ("dow", 0.025139),
    ],
    "event_value_ols_3feat": [
        ("intercept", 55.818481), ("hour", -0.291049), ("dow", -0.022174),
        ("dom", -0.154503),
    ],
    "event_value_ols_5feat": [
        ("intercept", 52.784711), ("hour", -0.295959), ("dow", 0.025812),
        ("dom", -0.154888), ("minute", -0.03332), ("second", 0.128896),
    ],
    "event_value_ols_9feat": [
        ("intercept", 44.368931), ("hour", -0.291937), ("dow", 0.307469),
        ("dom", -1.103093), ("minute", -0.023151), ("second", 0.124566),
        ("week", 6.737256), ("user_id", -0.09505), ("user_mod7", 0.551051),
        ("type_len", 0.543541),
    ],
}


def test_ols_rows_match_parent_values():
    """The oracles alone, no Spark: test_oracle.py compares Spark with
    each oracle, so an edit to the shared moment or elimination SQL that
    moved both sides together would pass there.  Here every generated
    oracle must still give the rows the earlier oracles gave."""
    from data_pipelines_using_llm_spark.plans.statistics import QUERIES
    from tests.oracle_check import duckdb_connection

    con = duckdb_connection("/root/testdata/sf0.001")
    for name, rows in _PINNED_OLS_ROWS.items():
        pdf = con.sql(QUERIES[name].oracle).df()
        assert list(pdf.columns) == ["term", "coef"], name
        got = sorted(pdf.itertuples(index=False, name=None))
        assert got == sorted(rows), name
