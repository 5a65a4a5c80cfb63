"""Text-analysis query pack over the ``documents`` table (task: the
training-data-pipeline text operators, each with a DuckDB oracle).

The oracle SQL mirrors operators/text.py expression-for-expression; shared
constants (stopword lists, hash modulus, token regex) are injected from the
same Python definitions so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_using_llm_spark.operators import text as TX
from data_pipelines_using_llm_spark.registry import QuerySpec
from data_pipelines_using_llm_spark.sources.tables import load_table

# ---- DuckDB SQL snippet builders (kept next to the Spark expressions they
# mirror; see operators/text.py) ----

SQL_TOKENS = (
    "list_filter(regexp_split_to_array(trim({col}), '\\s+'), x -> x != '')"
)
SQL_CHAR_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, x) -> (acc * 31 + x) % {TX.HASH_MOD})"
)
SQL_BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def sql_stop_hits(col: str, lang: str) -> str:
    stops = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    toks = SQL_TOKENS.format(col=col)
    return f"len(list_filter({toks}, x -> list_contains([{stops}], x)))"


def sql_language_id(col: str) -> str:
    langs = list(TX.STOPWORDS.keys())
    hits = {lang: sql_stop_hits(col, lang) for lang in langs}
    expr = "'und'"
    for lang in reversed(langs):
        conds = [f"{hits[lang]} > 0"]
        for other in langs:
            if langs.index(other) < langs.index(lang):
                conds.append(f"{hits[lang]} > {hits[other]}")
            elif other != lang:
                conds.append(f"{hits[lang]} >= {hits[other]}")
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {expr} END"
    return expr


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        TX.token_count("text").alias("n_tokens"),
        TX.regex_token_count("text").alias("n_bpe_tokens"),
    )


DOC_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       length(text)                                  AS n_chars,
       CAST(len({SQL_TOKENS.format(col='text')}) AS INT)       AS n_tokens,
       CAST(len(regexp_extract_all(text, '{SQL_BPE_REGEX}')) AS INT) AS n_bpe_tokens
FROM documents
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword ratios + composite score."""
    d = load_table(spark, sf_dir, "documents")
    f = TX.quality_features("text")
    return d.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["avg_token_len"].alias("avg_token_len"),
        TX.quality_score("text").alias("quality_score"),
    )


_SQL_NTOK = f"len({SQL_TOKENS.format(col='text')})"
_SQL_NPUNCT = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
DOC_QUALITY_ORACLE = f"""
WITH feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           {_SQL_NTOK} AS n_tokens,
           {_SQL_NPUNCT} AS n_punct,
           {sql_stop_hits('text', 'en')} AS n_stop
    FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END
           AS punct_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END
           AS stopword_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_tokens ELSE 0.0 END
           AS avg_token_len,
       0.4 * (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       + 0.3 * (CASE WHEN n_tokens > 0
                      AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
                     THEN 1.0 ELSE 0.0 END)
       + 0.3 * (CASE WHEN n_chars = 0
                      OR CAST(n_punct AS DOUBLE) / n_chars <= 0.2
                     THEN 1.0 ELSE 0.0 END) AS quality_score
FROM feats
"""


def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document heuristic language ID (stopword-hit argmax)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.language_id("text").alias("detected_lang"),
    )


DOC_LANGUAGE_ID_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang, {sql_language_id('text')} AS detected_lang
FROM documents
"""


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-detected language confusion counts (aggregate shape)."""
    return (
        doc_language_id(spark, sf_dir)
        .groupBy("labeled_lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


LANG_CONFUSION_ORACLE = f"""
SELECT lang AS labeled_lang, {sql_language_id('text')} AS detected_lang,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


CLF_STEPS = 12
CLF_LR = 16.0
CLF_FEATURES = ["x1", "x2", "x3", "x4"]
CLF_OTHER_LANGS = ("es", "de", "fr", "zh")


def _clf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x1..x4, y) training frame for the distilled language
    classifier: token count (/100), English stopword ratio, average
    token length (/10), the STRONGEST OTHER language's stopword ratio
    (the teacher is an argmax across languages, so en-ratio minus
    max-other-ratio makes its boundary linear — the feature engineering
    IS the distillation), and the teacher label: the n-gram
    language-ID heuristic's 'en' verdict.  All exact arithmetic
    (integer counts, divisions, greatest), so both engines see
    bit-identical features."""
    d = load_table(spark, sf_dir, "documents")
    f = TX.quality_features("text")
    n_tok = TX.token_count(F.col("text"))
    n_other = F.greatest(
        *[TX.stopword_hits(F.col("text"), lg) for lg in CLF_OTHER_LANGS]
    )
    return d.select(
        "doc_id",
        (f["n_tokens"].cast("double") / F.lit(100.0)).alias("x1"),
        (f["stopword_ratio"] * F.lit(10.0)).alias("x2"),
        (f["avg_token_len"] / F.lit(10.0)).alias("x3"),
        F.when(n_tok > 0, n_other.cast("double") / n_tok * F.lit(10.0))
        .otherwise(F.lit(0.0))
        .alias("x4"),
        F.when(TX.language_id("text") == "en", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )


def doc_lang_classifier_distilled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISTILL the rule-based language-ID gate into a linear scorer —
    in-dataflow supervised training (operators/learn.py): a
    hard-sigmoid linear classifier fit by CLF_STEPS (12) batch-GD
    passes, each pass ONE map-side-combinable aggregation producing
    len(CLF_FEATURES)+1 (5) quantized gradient sums; the model is 5
    driver scalars (bias + 4 weights) at any corpus size.  The teacher
    is :func:`TX.language_id` (the production pattern of distilling an
    expensive filter into a cheap model — here the teacher is cheap
    too, which is exactly what makes the trainer hash-gateable: the
    whole weight TRAJECTORY is deterministic, so the oracle walks the
    identical CLF_STEPS-step CTE chain).  Output: per-document student
    score, student verdict, teacher verdict."""
    from data_pipelines_using_llm_spark.operators import learn as LN
    from data_pipelines_using_llm_spark.operators.caching import cut

    # materialize features ONCE (eager checkpoint): the regex-heavy
    # tokenization must not re-run on every GD pass — training then
    # costs 12 cheap numeric aggregations over the numeric frame, the
    # standard featurize-then-iterate split (measured 11.5 s → ~2 s)
    feats = cut(_clf_features(spark, sf_dir))
    w = LN.linear_classifier_train(
        feats, CLF_FEATURES, "y", steps=CLF_STEPS, lr=CLF_LR,
        checkpoint_input=False,  # feats IS the barrier — reused for scoring
    )
    score = LN.hard_sigmoid(LN.linear_score(CLF_FEATURES, w))
    return feats.select(
        "doc_id",
        F.round(score, 6).alias("en_score"),
        (score >= 0.5).cast("int").alias("student_en"),
        F.col("y").cast("int").alias("teacher_en"),
    )


def _clf_oracle(steps: int = CLF_STEPS, lr: float = CLF_LR) -> str:
    """The trainer unrolled: one gradient CTE + one weight CTE per GD
    step (weights MATERIALIZED — referenced by the next step and the
    final scorer), walking the bit-identical trajectory the Spark
    driver walks."""
    from data_pipelines_using_llm_spark.operators.learn import GRAD_Q

    q = repr(GRAD_Q)
    others = ", ".join(
        sql_stop_hits("text", lg) for lg in CLF_OTHER_LANGS
    )
    ctes = [
        f"""raw AS (
    SELECT doc_id, length(text) AS n_chars, {_SQL_NTOK} AS n_tokens,
           {sql_stop_hits('text', 'en')} AS n_stop,
           greatest({others}) AS n_other,
           CASE WHEN {sql_language_id('text')} = 'en'
                THEN 1.0 ELSE 0.0 END AS y
    FROM documents
)""",
        """feats AS MATERIALIZED (
    SELECT doc_id,
           CAST(n_tokens AS DOUBLE) / 100.0 AS x1,
           CASE WHEN n_tokens > 0
                THEN CAST(n_stop AS DOUBLE) / n_tokens * 10.0
                ELSE 0.0 END AS x2,
           (CASE WHEN n_tokens > 0
                 THEN CAST(n_chars AS DOUBLE) / n_tokens
                 ELSE 0.0 END) / 10.0 AS x3,
           CASE WHEN n_tokens > 0
                THEN CAST(n_other AS DOUBLE) / n_tokens * 10.0
                ELSE 0.0 END AS x4,
           y
    FROM raw
)""",
        "nn AS (SELECT count(*) AS n FROM feats)",
        "w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, "
        "0.0 AS w3, 0.0 AS w4)",
    ]
    for t in range(1, steps + 1):
        prev = f"w{t - 1}"
        ctes.append(
            f"""g{t} AS (
    SELECT CAST(sum(floor(err * {q})) AS BIGINT) AS g0,
           CAST(sum(floor(err * x1 * {q})) AS BIGINT) AS g1,
           CAST(sum(floor(err * x2 * {q})) AS BIGINT) AS g2,
           CAST(sum(floor(err * x3 * {q})) AS BIGINT) AS g3,
           CAST(sum(floor(err * x4 * {q})) AS BIGINT) AS g4
    FROM (
        SELECT greatest(0.0, least(1.0,
                   (w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4)
                   * 0.25 + 0.5
               )) - y AS err,
               x1, x2, x3, x4
        FROM feats CROSS JOIN {prev} w
    )
)"""
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
    SELECT w.b  - {lr!r} * (CAST(g.g0 AS DOUBLE) / {q} / nn.n) AS b,
           w.w1 - {lr!r} * (CAST(g.g1 AS DOUBLE) / {q} / nn.n) AS w1,
           w.w2 - {lr!r} * (CAST(g.g2 AS DOUBLE) / {q} / nn.n) AS w2,
           w.w3 - {lr!r} * (CAST(g.g3 AS DOUBLE) / {q} / nn.n) AS w3,
           w.w4 - {lr!r} * (CAST(g.g4 AS DOUBLE) / {q} / nn.n) AS w4
    FROM {prev} w CROSS JOIN g{t} g CROSS JOIN nn
)"""
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT doc_id, round(score, 6) AS en_score,
       CAST(score >= 0.5 AS INT) AS student_en,
       CAST(y AS INT) AS teacher_en
FROM (
    SELECT doc_id, y,
           greatest(0.0, least(1.0,
               (w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4)
               * 0.25 + 0.5
           )) AS score
    FROM feats CROSS JOIN w{steps} w
)
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint of normalized text (exact-dup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


_SQL_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
DOC_FINGERPRINTS_ORACLE = f"""
SELECT doc_id, {SQL_CHAR_HASH.format(s=_SQL_NORM)} AS fingerprint
FROM documents
"""


def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-category audit counts under a full hash gate.

    The synthetic corpus contains no digits or '@', so redacting raw
    ``text`` would be a vacuous no-op (the r4 gap) — instead each doc is
    SEEDED with deterministic id-derived PII (email, SSN, IPv4, phone
    appended to the first 32 chars of real text), then redacted with the
    production ``redact_pii`` chain and audited with the sequential
    ``pii_counts``.  The oracle rebuilds the identical seeded string and
    runs the identical regex chain in DuckDB, so every redacted string,
    every per-category count, and the zero-residual check are
    hash-compared cross-engine.

    Scale: seeding is string concat, redaction is an ordered
    ``regexp_replace`` chain — one codegen'd JVM expression per row, no
    shuffle; the 100 TB cost is the scan.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def s(e):  # noqa: ANN001 - Column
        return e.cast("string")

    email = F.concat(F.lit("user"), s(did), F.lit("@example.com"))
    ssn = F.concat(
        F.lpad(s(did % 1000), 3, "0"),
        F.lit("-"),
        F.lpad(s(did % 100), 2, "0"),
        F.lit("-"),
        F.lpad(s(did % 10000), 4, "0"),
    )
    ip = F.concat(
        s(did % 223 + 1),
        F.lit("."),
        s(did % 256),
        F.lit("."),
        s((did * 7) % 256),
        F.lit("."),
        s(did % 254 + 1),
    )
    phone = F.concat(
        F.lit("+1 ("),
        s(did % 900 + 100),
        F.lit(") "),
        s(did % 900 + 100),
        F.lit("-"),
        F.lpad(s(did % 10000), 4, "0"),
    )
    seeded = F.concat(
        F.substring(F.col("text"), 1, 32),
        F.lit(" contact "),
        email,
        F.lit(" ssn "),
        ssn,
        F.lit(" ip "),
        ip,
        F.lit(" tel "),
        phone,
        F.lit(" end"),
    )
    counts = TX.pii_counts(seeded)
    redacted = TX.redact_pii(seeded)
    residual = None
    for pat in TX.PII_PATTERNS.values():
        term = F.regexp_count(redacted, F.lit(pat))
        residual = term if residual is None else residual + term
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        *[counts[cat].cast("long").alias(f"n_{cat}") for cat in TX.PII_PATTERNS],
        residual.cast("long").alias("n_residual"),
    )


def _pii_oracle() -> str:
    """The DuckDB mirror: same seeded string, same sequential
    count-then-redact chain (DuckDB regexp_replace needs the 'g' flag —
    Spark's replaces all matches by default)."""
    pats = TX.PII_PATTERNS
    seeded = (
        "substr(text, 1, 32) || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com ssn '"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ip ' || CAST(doc_id % 223 + 1 AS VARCHAR)"
        " || '.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || '.' || CAST(doc_id % 254 + 1 AS VARCHAR)"
        " || ' tel +1 (' || CAST(doc_id % 900 + 100 AS VARCHAR)"
        " || ') ' || CAST(doc_id % 900 + 100 AS VARCHAR)"
        " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' end'"
    )
    stages = [f"s0 AS (SELECT doc_id, {seeded} AS t0 FROM documents)"]
    prev = "t0"
    for i, (cat, pat) in enumerate(pats.items(), start=1):
        stages.append(
            f"""s{i} AS (
    SELECT * EXCLUDE ({prev}),
           CAST(len(regexp_extract_all({prev}, '{pat}')) AS BIGINT) AS n_{cat},
           regexp_replace({prev}, '{pat}', '[{cat.upper()}]', 'g') AS t{i}
    FROM s{i - 1})"""
        )
        prev = f"t{i}"
    residual = " + ".join(
        f"len(regexp_extract_all({prev}, '{pat}'))" for pat in pats.values()
    )
    cols = ", ".join(f"n_{cat}" for cat in pats)
    return f"""
WITH {', '.join(stages)}
SELECT doc_id, {prev} AS redacted, {cols},
       CAST({residual} AS BIGINT) AS n_residual
FROM s{len(pats)}
"""


DOC_PII_REDACTION_ORACLE = _pii_oracle()


DECON_NGRAM = 5  # docs are 10-99 tokens; 5-gram overlap = planted near-dups
DECON_EVAL_MOD = 20  # doc_id % 20 == 0 is the held-out "benchmark" set


def doc_decontamination(
    spark: SparkSession, sf_dir: str, eval_docs: DataFrame | None = None
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``DECON_NGRAM``-token shingle with the eval set (the pretraining
    hygiene pass every serious corpus runs — eval answers memorized via
    verbatim overlap inflate benchmarks).

    ``eval_docs`` is the PRODUCTION shape: a separate benchmark table
    (``doc_id``, ``text`` — MMLU/GSM8K-sized, fixed size at any corpus
    scale), whose distinct shingle set is broadcast-safe BY CONSTRUCTION;
    every corpus document is then a training candidate.  When omitted
    (the oracle-gated registry form), the eval set is simulated as the
    deterministic ``doc_id % DECON_EVAL_MOD == 0`` corpus slice — same
    machinery, but the broadcast side then grows with the corpus, which
    is only safe at test scale (the SCALE.md caveat).

    Scale: shingles are joined as rolling-hash BIGINTs (8-byte shuffle
    keys, not 40-byte strings); the eval side is DISTINCT shingles of
    the benchmark set — tiny relative to the corpus, hence the explicit
    ``broadcast`` (the 100 TB plan is a broadcast-hash semi-join against
    the scan, no fact shuffle).  Per-doc dedup (``array_distinct``)
    happens before the explode, so the join input is minimal.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier
    from data_pipelines_using_llm_spark.operators.dedup import gram_hash_df

    d = load_table(spark, sf_dir, "documents")
    # shingle hashes via the token-fold fast path (hash each token once,
    # fold n longs per gram — operators/dedup.py::gram_hash_df), then
    # barrier: both the eval side and the train side consume the
    # exploded shingle hashes — without a persist the shingle fold runs
    # twice (the projection-collapse trap documented in operators/dedup)
    exploded = barrier(
        gram_hash_df(d, "doc_id", "text", DECON_NGRAM).select(
            "doc_id", F.explode("grams").alias("h")
        )
    )
    if eval_docs is None:
        is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
        ev = exploded.filter(is_eval).select("h").distinct()
        tr_exploded = exploded.filter(~is_eval)
        train = d.filter(~is_eval).select("doc_id")
    else:
        ev = (
            gram_hash_df(eval_docs, "doc_id", "text", DECON_NGRAM)
            .select(F.explode("grams").alias("h"))
            .distinct()
        )
        tr_exploded = exploded
        train = d.select("doc_id")
    hits = (
        tr_exploded.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # per-doc distinct already
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
    return train.join(hits, "doc_id", "left").select(
        "doc_id",
        n_shared.alias("n_shared_shingles"),
        F.when(n_shared > 0, 1).otherwise(0).cast("int").alias("is_contaminated"),
    )


def doc_decontamination_separate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION shape of :func:`doc_decontamination` under the
    hash gate: the eval set arrives as a genuinely SEPARATE DataFrame
    (here the same slice, loaded independently), so the registry
    verifies the separate-table branch end-to-end — every corpus doc is
    a training candidate (slice docs self-match by construction, which
    the oracle mirrors)."""
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("doc_id", "text")
    )
    return doc_decontamination(spark, sf_dir, eval_docs=ev)


def doc_dsir_select_separate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR through the separate-target-table branch; because the
    target model only depends on the target's token counts, passing the
    simulated slice AS a table must reproduce the default output
    exactly — so this row shares :func:`_dsir_oracle` and the driver
    hash-verifies the branch equivalence every round."""
    tgt = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DSIR_TARGET_MOD == 0)
        .select("doc_id", "text")
    )
    return doc_dsir_select(spark, sf_dir, target_docs=tgt)


def _decontamination_separate_oracle() -> str:
    from data_pipelines_using_llm_spark.plans.dedup_queries import (
        SQL_TOKEN_HASHES,
        _sql_gram_fold,
    )

    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKEN_HASHES} AS th FROM documents),
sh AS (
    SELECT doc_id, unnest({_sql_gram_fold(DECON_NGRAM)}) AS h FROM tok
),
ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
hits AS (
    SELECT sh.doc_id, count(*) AS n_shared
    FROM sh JOIN ev USING (h)
    GROUP BY sh.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(hits.n_shared, 0) AS BIGINT) AS n_shared_shingles,
       CAST(CASE WHEN coalesce(hits.n_shared, 0) > 0 THEN 1 ELSE 0 END AS INT)
           AS is_contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
"""


def _decontamination_oracle() -> str:
    from data_pipelines_using_llm_spark.plans.dedup_queries import (
        SQL_TOKEN_HASHES,
        _sql_gram_fold,
    )

    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKEN_HASHES} AS th FROM documents),
sh AS (
    SELECT doc_id, unnest({_sql_gram_fold(DECON_NGRAM)}) AS h FROM tok
),
ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
hits AS (
    SELECT sh.doc_id, count(*) AS n_shared
    FROM sh JOIN ev USING (h)
    WHERE sh.doc_id % {DECON_EVAL_MOD} != 0
    GROUP BY sh.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(hits.n_shared, 0) AS BIGINT) AS n_shared_shingles,
       CAST(CASE WHEN coalesce(hits.n_shared, 0) > 0 THEN 1 ELSE 0 END AS INT)
           AS is_contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE d.doc_id % {DECON_EVAL_MOD} != 0
"""


# Fuzzy decontamination: MinHash-estimated Jaccard vs the eval set at a
# LOWER bar than dedup (paraphrased/partially-copied eval material, not
# just verbatim shingle overlap).  8 bands x 2 rows instead of dedup's
# 4x4: band-collision probability at similarity s is 1-(1-s^r)^b, so at
# the 0.35 bar r=2/b=8 catches ~0.66 of threshold pairs and essentially
# all pairs >=0.6, where 4x4 would catch only ~0.06 at the bar.  Both
# engines replicate the banding exactly, so the gate verifies the
# algorithm (banding included), not a recall claim.
FUZZY_DECON_THRESHOLD = 0.35
FUZZY_DECON_BANDS = 8


def doc_decontamination_fuzzy(
    spark: SparkSession, sf_dir: str, eval_docs: DataFrame | None = None
) -> DataFrame:
    """Fuzzy benchmark decontamination: per training document, the eval
    documents whose 3-gram Jaccard similarity clears
    ``FUZZY_DECON_THRESHOLD``, found via MinHash-LSH banding — the
    near-dup complement of :func:`doc_decontamination`'s exact shingle
    membership (which misses lightly edited eval copies).

    ``eval_docs`` is the PRODUCTION shape: a separate benchmark table
    (``doc_id``, ``text``) whose size is fixed at any corpus scale
    (MMLU/GSM8K-sized, a few 100k shingles) — that fixed size is what
    makes broadcasting its bands and shingle sets correct at 100 TB;
    every corpus document is then a training candidate.  When omitted
    (the oracle-gated registry form), the eval set is simulated as the
    ``doc_id % 20 == 0`` corpus slice — same machinery, but the
    broadcast side then grows linearly with the corpus, only safe at
    test scale (the SCALE.md caveat).  With a genuinely large eval
    table, drop the broadcast hints and let the band join shuffle both
    sides; the corpus-sized side never shuffles for the candidate step
    either way.

    Plan shape: shingle + sign once behind persist barriers (the
    projection-collapse discipline of operators/dedup.py), band with
    8x2 LSH, then join TRAIN bands against BROADCAST eval bands.  The
    first-matching-band owner filter replaces a distinct() over
    candidates; the verify join fetches train grams by id (one hash
    shuffle) against broadcast eval grams.  Final report is one
    grouped aggregation per flagged training doc.
    """
    from data_pipelines_using_llm_spark.operators import dedup as DD
    from data_pipelines_using_llm_spark.operators.caching import barrier
    from data_pipelines_using_llm_spark.plans.dedup_queries import NGRAM_N

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = barrier(
        DD.gram_hash_df(d, "doc_id", "text", NGRAM_N).filter(F.size("grams") > 0)
    )
    sigs = barrier(
        base.withColumn("sig", DD.minhash_signature(F.col("grams")))
    )
    def _banded(sig_df: DataFrame) -> DataFrame:
        arr = F.transform(
            DD.lsh_bands(F.col("sig"), FUZZY_DECON_BANDS),
            lambda b: b["band_key"],
        )
        return sig_df.select(
            "doc_id",
            arr.alias("bands"),
            F.posexplode(arr).alias("band_id", "band_key"),
        )

    banded = _banded(sigs)
    if eval_docs is None:
        is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
        ev_sigs = sigs
        ev_banded = banded.filter(is_eval)
        tr = banded.filter(~is_eval)
    else:
        is_eval = None
        ev_sigs = barrier(
            DD.gram_hash_df(eval_docs, "doc_id", "text", NGRAM_N)
            .filter(F.size("grams") > 0)
            .withColumn("sig", DD.minhash_signature(F.col("grams")))
        )
        ev_banded = _banded(ev_sigs)
        tr = banded
    ev = ev_banded.select(
        F.col("doc_id").alias("eval_doc_id"),
        F.col("bands").alias("ev_bands"),
        "band_id",
        "band_key",
    )
    # First-matching-band ownership: a (train, eval) pair colliding in
    # several bands is emitted only by its lowest shared band — no
    # distinct() shuffle over collision-sized candidates.
    owner = F.least(
        *[
            F.when(
                F.element_at(F.col("bands"), b + 1)
                == F.element_at(F.col("ev_bands"), b + 1),
                F.lit(b),
            ).otherwise(F.lit(FUZZY_DECON_BANDS))
            for b in range(FUZZY_DECON_BANDS)
        ]
    )
    cand = (
        tr.join(F.broadcast(ev), ["band_id", "band_key"])
        .filter(F.col("band_id") == owner)
        .select("doc_id", "eval_doc_id")
    )
    ga = sigs.select("doc_id", F.col("grams").alias("grams_t"))
    gb = (ev_sigs.filter(is_eval) if is_eval is not None else ev_sigs).select(
        F.col("doc_id").alias("eval_doc_id"), F.col("grams").alias("grams_e")
    )
    pairs = (
        cand.join(ga, "doc_id")
        .join(F.broadcast(gb), "eval_doc_id")
        .select(
            "doc_id",
            "eval_doc_id",
            F.round(
                DD.jaccard(F.col("grams_t"), F.col("grams_e")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_DECON_THRESHOLD)
    )
    worst = F.max(F.struct("jaccard", "eval_doc_id"))
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("jaccard").alias("max_jaccard"),
        worst["eval_doc_id"].alias("worst_eval_doc_id"),
    )


def _fuzzy_decontamination_oracle() -> str:
    from data_pipelines_using_llm_spark.plans.dedup_queries import (
        _sql_band_keys,
        _sql_grams_cte,
        _SQL_JACCARD,
    )

    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs"
        for b, key in enumerate(_sql_band_keys(FUZZY_DECON_BANDS))
    )
    return f"""
WITH {_sql_grams_cte()}, sigs AS (
    SELECT * FROM base WHERE len(grams) > 0
), banded AS (
{band_selects}
), cand AS (
    SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_doc_id
    FROM banded t JOIN banded e
      ON t.band_id = e.band_id AND t.band_key = e.band_key
    WHERE t.doc_id % {DECON_EVAL_MOD} != 0
      AND e.doc_id % {DECON_EVAL_MOD} = 0
), pairs AS (
    SELECT cand.doc_id, cand.eval_doc_id, {_SQL_JACCARD} AS jaccard
    FROM cand
    JOIN sigs a ON a.doc_id = cand.doc_id
    JOIN sigs b ON b.doc_id = cand.eval_doc_id
    WHERE {_SQL_JACCARD} >= {FUZZY_DECON_THRESHOLD}
)
SELECT doc_id,
       count(*) AS n_eval_matches,
       max(jaccard) AS max_jaccard,
       (max(struct_pack(j := jaccard, e := eval_doc_id))).e
           AS worst_eval_doc_id
FROM pairs
GROUP BY doc_id
"""


BIGRAM_TOP_K = 20


def doc_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency table: the top-20 word bigrams by
    document frequency — the vocabulary/boilerplate census a corpus
    pipeline runs before dedup threshold tuning.

    Scale: one explode + one groupBy (map-side partial counts — only
    distinct bigrams shuffle); top-k via orderBy+limit compiles to
    TakeOrderedAndProject.  Ties break on the bigram string, so the
    LIMIT is deterministic across engines.  Per-document de-duplication
    (``array_distinct``) makes the count a document frequency, which is
    boilerplate-robust (a bigram repeated 1000x in one doc counts once).
    """
    d = load_table(spark, sf_dir, "documents")
    # let-bound token array — element_at would otherwise re-run the
    # regexp split per element inside the HOF (operators/text.py::let)
    bigrams = F.array_distinct(
        TX.let(
            TX.tokens("text"),
            lambda t: F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(t, i), F.element_at(t, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("bigram"))
        .limit(BIGRAM_TOP_K)
    )


def _bigram_oracle() -> str:
    toks = SQL_TOKENS.format(col="text")
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS t FROM documents),
bg AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                ELSE [] END) AS bigrams
    FROM tok
)
SELECT u.bigram, count(*) AS doc_freq
FROM bg, UNNEST(bigrams) AS u(bigram)
GROUP BY u.bigram
ORDER BY doc_freq DESC, u.bigram
LIMIT {BIGRAM_TOP_K}
"""


COLLOC_MIN_PAIR = 5
COLLOC_TOP_K = 30


def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top word bigrams by LIFT — the ratio
    ``P(w1 w2) / (P(w1)·P(w2))`` whose log is pointwise mutual
    information (log is monotone, so ranking by lift IS ranking by PMI
    while staying in exact integer-derived arithmetic: the three counts
    and the corpus total are exact longs, each converts exactly to
    double below 2^53, and IEEE multiply/divide are correctly rounded,
    so both engines produce bit-identical doubles).

    Scale: two token-count aggregations (unigram, bigram), both with
    map-side partial combine — only distinct grams shuffle.  The
    ``min_pair`` filter prunes the pair table BEFORE the two vocabulary
    joins, so the joins touch only candidate collocations; the corpus
    total is a one-row broadcast.  At trillion-token scale the long
    products in the lift numerator approach 2^63 — the double cast
    happens before the multiply precisely so the math degrades to
    correctly-rounded floating point instead of overflowing.
    """
    d = load_table(spark, sf_dir, "documents")
    pair_t = "array<struct<w1:string,w2:string>>"
    # let-bind the token array: element_at inside the HOF otherwise
    # re-runs the regexp split per element (operators/text.py::let)
    bigrams = TX.let(
        TX.tokens("text"),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {pair_t})")),
    )
    pairs = d.select(F.explode(bigrams).alias("bg")).select("bg.w1", "bg.w2")
    uni = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_total"))
    bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= COLLOC_MIN_PAIR)
    )
    j = (
        bg.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
    )
    lift = (F.col("c_pair").cast("double") * F.col("n_total")) / (
        F.col("c1").cast("double") * F.col("c2")
    )
    return (
        j.select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_pair"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("bigram"))
        .limit(COLLOC_TOP_K)
    )


def _collocations_oracle() -> str:
    toks = SQL_TOKENS.format(col="text")
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS t FROM documents),
uni AS (SELECT u.w AS w, count(*) AS c FROM tok, UNNEST(t) AS u(w) GROUP BY u.w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
bg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c_pair
    FROM tok, UNNEST(range(1, len(t))) AS r(i)
    WHERE len(t) >= 2
    GROUP BY 1, 2
    HAVING count(*) >= {COLLOC_MIN_PAIR}
)
SELECT bg.w1 || ' ' || bg.w2 AS bigram,
       bg.c_pair AS c_pair,
       round((CAST(bg.c_pair AS DOUBLE) * tot.n_total)
             / (CAST(u1.c AS DOUBLE) * u2.c), 6) AS lift
FROM bg
JOIN uni u1 ON u1.w = bg.w1
JOIN uni u2 ON u2.w = bg.w2
CROSS JOIN tot
ORDER BY lift DESC, bigram
LIMIT {COLLOC_TOP_K}
"""


PREP_MIN_QUALITY = 0.7
PREP_LANG = "en"


def training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data prep pipeline as ONE declarative plan:
    quality-score filter → heuristic language filter → exact dedup on the
    normalized-text fingerprint (deterministic keep-lowest-doc_id) →
    per-source corpus accounting (docs kept, total whitespace + BPE-ish
    tokens, mean quality).

    This is the composition every stage was built for; expressing it as
    one DataFrame lets Catalyst fuse all per-document expressions
    (quality features, language argmax, rolling-hash fingerprint) into a
    single scan stage — the only exchanges are the dedup window's hash
    partition by fingerprint and the final per-source aggregation.

    Scale: per-doc expressions are embarrassingly parallel; dedup
    shuffles (fingerprint, doc_id) pairs — at 100 TB that is the same
    bucketed shape as ``dedup_exact_docs``.  The mean quality is summed
    as DECIMAL (per-row scores are bit-identical doubles on both
    engines, so their decimal(5,2) images agree; the decimal sum is then
    order-independent — SURVEY.md §7.3.2).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        "text",
        TX.quality_score("text").alias("q"),
        TX.language_id("text").alias("detected_lang"),
    ).filter(
        (F.col("q") >= PREP_MIN_QUALITY) & (F.col("detected_lang") == PREP_LANG)
    )
    deduped = (
        scored.withColumn("fp", TX.fingerprint("text"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy(F.col("doc_id"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text").cast("long")).alias("total_tokens"),
        F.sum(TX.regex_token_count("text").cast("long")).alias("total_bpe_tokens"),
        (
            F.sum(F.col("q").cast("decimal(5,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_quality"),
    )


def sql_quality_score(col: str = "text") -> str:
    """DuckDB mirror of operators/text.py::quality_score."""
    ntok = f"len({SQL_TOKENS.format(col=col)})"
    npunct = rf"len(regexp_extract_all({col}, '[^A-Za-z0-9\s]'))"
    return f"""
        0.4 * (CASE WHEN {ntok} BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (CASE WHEN {ntok} > 0
                     AND CAST(length({col}) AS DOUBLE) / {ntok} BETWEEN 2.0 AND 12.0
                    THEN 1.0 ELSE 0.0 END)
      + 0.3 * (CASE WHEN length({col}) = 0
                     OR CAST({npunct} AS DOUBLE) / length({col}) <= 0.2
                    THEN 1.0 ELSE 0.0 END)"""


def _prep_oracle() -> str:
    quality = sql_quality_score()
    return f"""
WITH scored AS (
    SELECT doc_id, source, text,
           ({quality}) AS q,
           {sql_language_id('text')} AS detected_lang
    FROM documents
),
kept AS (
    SELECT doc_id, source, text, q,
           {SQL_CHAR_HASH.format(s=_SQL_NORM)} AS fp
    FROM scored
    WHERE q >= {PREP_MIN_QUALITY} AND detected_lang = '{PREP_LANG}'
),
deduped AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM kept
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT)) AS BIGINT)
           AS total_tokens,
       CAST(sum(CAST(len(regexp_extract_all(text, '{SQL_BPE_REGEX}')) AS BIGINT)) AS BIGINT)
           AS total_bpe_tokens,
       CAST(sum(CAST(q AS DECIMAL(5,2))) AS DOUBLE) / count(*) AS mean_quality
FROM deduped
WHERE rn = 1
GROUP BY source
"""


SQL_LINES = (
    "list_filter(list_transform(string_split({col}, chr(10)), x -> trim(x)), "
    "x -> x != '')"
)


def sql_ngrams(col: str, n: int) -> str:
    """Token n-grams, mirroring operators/text.py::ngram_array."""
    toks = SQL_TOKENS.format(col=col)
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE [] END"
    )


def sql_dup_fraction(arr: str) -> str:
    """``1 - distinct/total`` over a list expression (0.0 when empty)."""
    return (
        f"CASE WHEN len({arr}) > 0 THEN "
        f"1.0 - CAST(len(list_distinct({arr})) AS DOUBLE) / len({arr}) "
        f"ELSE 0.0 END"
    )


def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: fraction of duplicate lines and
    duplicate 2-/3-grams per document, plus the boilerplate flag a
    training pipeline would filter on.  Pure column expressions — the
    100 TB cost is the scan itself.

    The signals come as ONE let-bound struct expanded through
    ``inline`` (a generator evaluates its child once per row); selecting
    the signals as separate projection columns re-evaluates the shared
    token/n-gram trees per column — measured 25.3s vs 2s at sf0.1.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.inline(F.array(TX.repetition_struct("text"))))


WEIGHTED_SAMPLE_SALT = 29  # decorrelated from the split/holdout salt
LENGTH_NORM = 128  # weight = min(1, n_tokens / 128): docs here are 10-99 tokens


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-biased (length-proportional) deterministic sampling: keep
    each document with probability ``min(1, n_tokens/LENGTH_NORM)`` — a
    document-level sample where every TOKEN has ~equal survival
    probability, the debiasing trick for corpora whose doc lengths span
    orders of magnitude (uniform doc sampling over-represents short
    docs' tokens).  Implemented as a pure hash threshold: keep iff
    ``lehmer_hash(id, salt) < weight * M``.  Unlike ``df.sample``'s RNG
    this is reproducible across engines, reruns and repartitionings, so
    the sample itself is oracle-checkable.

    Scale: one scan, one row-local expression — the keep decision ships
    with the row forever (content-addressed), which is what makes
    incremental corpus rebuilds stable.  Any row-level weight (quality,
    recency, source priority) plugs into the same threshold.
    """
    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        split_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    nt = TX.token_count("text").cast("long")
    w = F.least(F.lit(1.0), nt.cast("double") / LENGTH_NORM)
    h = split_hash("doc_id", salt=WEIGHTED_SAMPLE_SALT)
    return (
        d.select(
            "doc_id",
            "source",
            nt.alias("n_tokens"),
            w.alias("weight"),
            h.alias("h"),
        )
        .filter(F.col("h") < F.col("weight") * LEHMER_M)
        .select("doc_id", "source", "n_tokens", F.round("weight", 6).alias("weight"))
    )


def _weighted_sample_oracle() -> str:
    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        sql_split_hash,
    )

    toks = SQL_TOKENS.format(col="text")
    w = f"least(1.0, CAST(len({toks}) AS DOUBLE) / {LENGTH_NORM})"
    return f"""
SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS n_tokens,
       round({w}, 6) AS weight
FROM documents
WHERE {sql_split_hash('doc_id', salt=WEIGHTED_SAMPLE_SALT)} < ({w}) * {LEHMER_M}
"""


ES_SAMPLE_SALT = 31  # decorrelated from split (17) and keep-sample (29)
ES_SAMPLE_K = 400


def doc_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
    exponential-key scheme (Inf. Proc. Letters 97(5), 2006): each doc
    draws ``u = hash(id)/M`` in (0, 1] and the K docs with the largest
    ``u^(1/w)`` (equivalently, largest ``ln(u)/w``) form an exact
    w-weighted sample without replacement.  ``doc_weighted_sample``
    keeps each doc INDEPENDENTLY (binomial size, duplicates impossible
    but size varies); this yields an exact-size-K sample, the shape a
    fixed-budget eval-set draw or annotation batch needs.  Weight =
    token count, so selection probability tracks a doc's training-token
    contribution.

    Determinism: ``u`` is the Lehmer content-address (operators/
    split.py), never an RNG — the sample is a pure function of the doc
    ids, stable across engines/reruns/repartitioning, hence
    oracle-checkable.

    Scale: the ES reduction turns "weighted sample w/o replacement" —
    naively a sequential draw-and-remove loop — into a global top-K by
    a row-local key: per-partition top-K then a K-row driver merge
    (TakeOrderedAndProject), no shuffle of the corpus, no state.  This
    is the textbook case for distributed weighted reservoirs (one
    pass, mergeable) at 100 TB.
    """
    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        split_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    nt = TX.token_count("text").cast("long")
    u = (split_hash("doc_id", salt=ES_SAMPLE_SALT) + 1).cast(
        "double"
    ) / F.lit(float(LEHMER_M))
    key = F.log(u) / nt.cast("double")
    return (
        d.select("doc_id", "source", nt.alias("n_tokens"), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(ES_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("es_key", 6).alias("es_key"),
        )
    )


def _weighted_reservoir_oracle() -> str:
    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        sql_split_hash,
    )

    toks = SQL_TOKENS.format(col="text")
    h = sql_split_hash("doc_id", salt=ES_SAMPLE_SALT)
    key = (
        f"ln(CAST(({h}) + 1 AS DOUBLE) / CAST({LEHMER_M} AS DOUBLE))"
        f" / CAST(len({toks}) AS DOUBLE)"
    )
    return f"""
SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS n_tokens,
       round({key}, 6) AS es_key
FROM documents
ORDER BY {key} DESC, doc_id
LIMIT {ES_SAMPLE_K}
"""


BPE_PAIR_TOP = 40


def doc_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop, distributed: corpus word-frequency
    table → adjacent-symbol-pair counts → top pairs by count — exactly
    the statistic the first merge iteration of byte-pair-encoding
    tokenizer training (Sennrich et al. 2016) maximizes.  Emitting the
    ranked pair table (rather than performing one merge) keeps every
    output an exact integer and is what a tokenizer-fit job would
    checkpoint per iteration.

    Scale: the corpus collapses to the VOCABULARY first (word → freq,
    map-side combinable; Heaps' law bounds |vocab| ≪ corpus), so the
    quadratic-ish pair explosion runs over vocab rows, not corpus rows;
    letter-pair keys number ≤ 26² so the final aggregation is a few
    hundred groups with map-side partial combine.  ``n_words`` (distinct
    words containing the pair) rides the same explode.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        "w",
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").alias("pair_count"),
            F.countDistinct("w").alias("n_words"),
        )
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_PAIR_TOP)
    )


DOC_BPE_MERGE_PAIRS_ORACLE = f"""
WITH words AS (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
),
wf AS (
    SELECT w, count(*) AS freq FROM words WHERE length(w) >= 2 GROUP BY 1
),
p AS (
    SELECT substr(w, CAST(i AS INT), 2) AS pair, w, freq
    FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM wf)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count,
       count(DISTINCT w) AS n_words
FROM p GROUP BY 1
ORDER BY pair_count DESC, pair
LIMIT {BPE_PAIR_TOP}
"""


STRAT_SAMPLE_K = 25
STRAT_SAMPLE_SALT = 37  # decorrelated from split/keep/reservoir salts


def doc_stratified_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-K weighted sampling: an Efraimidis–Spirakis
    token-weighted sample of exactly ``K`` documents from EVERY source —
    the per-domain eval-draw / annotation-batch shape, where a global
    sample (:func:`doc_weighted_reservoir`) would starve small sources.

    Same deterministic ES key as the global reservoir (content-addressed
    Lehmer ``u``, weight = token count), ranked within source.  Scale:
    per-group top-K via ``row_number`` over (source)-partitioned sort;
    the sort key is row-local, the exchange is one hash partition by
    source, and skewed sources spill a sort, never a collect — AQE
    splits oversized source partitions.  (A two-phase per-partition
    top-K pre-prune would cut the sort volume; at K=25 the win is
    marginal.)
    """
    from pyspark.sql import Window

    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        split_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    nt = TX.token_count("text").cast("long")
    u = (split_hash("doc_id", salt=STRAT_SAMPLE_SALT) + 1).cast(
        "double"
    ) / F.lit(float(LEHMER_M))
    key = F.log(u) / nt.cast("double")
    w = Window.partitionBy("source").orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id", "source", nt.alias("n_tokens"), key.alias("es_key")
        )
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= STRAT_SAMPLE_K)
        .select(
            "source",
            "sample_rank",
            "doc_id",
            "n_tokens",
            F.round("es_key", 6).alias("es_key"),
        )
    )


def _stratified_weighted_oracle() -> str:
    from data_pipelines_using_llm_spark.operators.split import (
        LEHMER_M,
        sql_split_hash,
    )

    toks = SQL_TOKENS.format(col="text")
    h = sql_split_hash("doc_id", salt=STRAT_SAMPLE_SALT)
    key = (
        f"ln(CAST(({h}) + 1 AS DOUBLE) / CAST({LEHMER_M} AS DOUBLE))"
        f" / CAST(len({toks}) AS DOUBLE)"
    )
    return f"""
WITH ranked AS (
    SELECT source, doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
           {key} AS es_key,
           row_number() OVER (PARTITION BY source
                              ORDER BY {key} DESC, doc_id) AS sample_rank
    FROM documents
)
SELECT source, CAST(sample_rank AS INT) AS sample_rank, doc_id, n_tokens,
       round(es_key, 6) AS es_key
FROM ranked WHERE sample_rank <= {STRAT_SAMPLE_K}
"""


def doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation attrition funnel: per source, how many documents
    (and tokens) survive each stage of the prep pipeline — total →
    quality filter → +language filter → +exact dedup.  The report a
    data-curation team reads before shipping a corpus: it shows WHERE
    documents die, which ``training_corpus_prep`` (final corpus only)
    cannot.

    Scale: every stage decision is computed as a FLAG in one scan (no
    chained filtered sub-plans, no re-scans), dedup survivorship is one
    fingerprint-partitioned window (high-cardinality key — the
    scale-safe window case), and the funnel is one conditional
    aggregation per source.  Costs one fp shuffle + one source shuffle
    regardless of stage count.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = TX.quality_score("text")
    flags = d.select(
        "doc_id",
        "source",
        TX.token_count("text").cast("long").alias("nt"),
        (q >= PREP_MIN_QUALITY).alias("f_q"),
        (
            (q >= PREP_MIN_QUALITY)
            & (TX.language_id("text") == PREP_LANG)
        ).alias("f_ql"),
        TX.fingerprint("text").alias("fp"),
    )
    # rank passing docs first within each fingerprint so "kept" = the
    # lowest-id PASSING doc per fingerprint (mirrors training_corpus_prep)
    rn = F.row_number().over(
        Window.partitionBy("fp").orderBy(F.col("f_ql").desc(), F.col("doc_id"))
    )
    staged = flags.withColumn("kept", F.col("f_ql") & (rn == 1))
    lng = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        lng(F.col("f_q")).alias("n_pass_quality"),
        lng(F.col("f_ql")).alias("n_pass_lang"),
        lng(F.col("kept")).alias("n_kept"),
        F.sum("nt").alias("tokens_total"),
        F.sum(F.when(F.col("kept"), F.col("nt")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


def _funnel_oracle() -> str:
    toks = SQL_TOKENS.format(col="text")
    q = sql_quality_score()
    return f"""
WITH flags AS (
    SELECT doc_id, source,
           CAST(len({toks}) AS BIGINT) AS nt,
           ({q}) >= {PREP_MIN_QUALITY} AS f_q,
           ({q}) >= {PREP_MIN_QUALITY}
               AND ({sql_language_id('text')}) = '{PREP_LANG}' AS f_ql,
           {SQL_CHAR_HASH.format(s=_SQL_NORM)} AS fp
    FROM documents
),
staged AS (
    SELECT *,
           f_ql AND row_number() OVER (
               PARTITION BY fp ORDER BY f_ql DESC, doc_id
           ) = 1 AS kept
    FROM flags
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       CAST(sum(CASE WHEN f_ql THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_lang,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(nt) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept
FROM staged
GROUP BY source
"""


_REP_LINES = SQL_LINES.format(col="text")
DOC_REPETITION_ORACLE = f"""
SELECT doc_id,
       CAST(len({_REP_LINES}) AS INT) AS n_lines,
       {sql_dup_fraction(_REP_LINES)} AS dup_line_ratio,
       {sql_dup_fraction(sql_ngrams('text', 2))} AS dup_2gram_ratio,
       {sql_dup_fraction(sql_ngrams('text', 3))} AS dup_3gram_ratio,
       CAST(CASE WHEN {sql_dup_fraction(_REP_LINES)} > 0.3
                   OR {sql_dup_fraction(sql_ngrams('text', 3))} > 0.2
                 THEN 1 ELSE 0 END AS INT) AS is_repetitive
FROM documents
"""


CHUNK_LEN, CHUNK_STRIDE = 64, 48
BP_NGRAM, BP_MIN_DOCS = 3, 3


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: split each document into overlapping
    ``CHUNK_LEN``-token windows advancing by ``CHUNK_STRIDE`` (16-token
    overlap keeps retrieval context across boundaries).

    Scale: pure per-row array expressions — the token array is let-bound
    (computed once per document, not once per chunk reference), chunk
    starts come from ``sequence``, and the explode multiplies rows by
    ~n_tokens/stride with NO shuffle anywhere: a 100 TB corpus chunks in
    a single map stage.  Chunk ids are integer division (no double
    mantissa cliff, operators/packing.py discipline).
    """
    d = load_table(spark, sf_dir, "documents")
    chunks = TX.let(
        TX.tokens("text"),
        lambda t: F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.size(t) - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            ),
            lambda s: F.struct(
                F.call_function(
                    "div", s.cast("long"), F.lit(CHUNK_STRIDE).cast("long")
                ).alias("chunk_id"),
                s.cast("long").alias("chunk_start"),
                F.least(F.lit(CHUNK_LEN), F.size(t) - s)
                .cast("long")
                .alias("n_chunk_tokens"),
                F.array_join(F.slice(t, s + 1, CHUNK_LEN), " ").alias("chunk_text"),
            ),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.*")
        .filter(F.col("n_chunk_tokens") > 0)
    )


DOC_CHUNK_OVERLAP_ORACLE = f"""
WITH t AS (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents),
c AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, greatest(len(toks), 1), {CHUNK_STRIDE}),
               s -> struct_pack(
                   chunk_id := s // {CHUNK_STRIDE},
                   chunk_start := s,
                   n_chunk_tokens := least({CHUNK_LEN}, len(toks) - s),
                   chunk_text := array_to_string(
                       list_slice(toks, s + 1, s + {CHUNK_LEN}), ' ')
               ))) AS ch
    FROM t
)
SELECT doc_id,
       CAST(ch.chunk_id AS BIGINT) AS chunk_id,
       CAST(ch.chunk_start AS BIGINT) AS chunk_start,
       CAST(ch.n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
       ch.chunk_text
FROM c WHERE ch.n_chunk_tokens > 0
"""


def doc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate signal: the fraction of each document's
    token {BP_NGRAM}-grams that are CORPUS-frequent (appear in >=
    ``BP_MIN_DOCS`` distinct documents) — the cross-document complement
    of ``doc_repetition_signals``'s within-document ratios (CCNet-style
    shared-boilerplate detection, applied at n-gram granularity because
    this corpus has no line structure).

    Scale: n-grams travel as rolling-hash BIGINTs; the frequent set is
    an aggregation over per-doc-distinct hashes and is SMALL by
    construction (boilerplate = few distinct strings, many repeats), so
    it broadcasts into a semi-join against the exploded grams — one
    hash-keyed shuffle for the census, no fact-fact join.  The exploded
    grams feed three consumers, hence the persist barrier.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier
    from data_pipelines_using_llm_spark.operators.dedup import gram_fold

    d = load_table(spark, sf_dir, "documents")
    # token hashes materialize once (persist barrier), then grams are a
    # 31-polynomial fold of n token hashes — ~6x fewer interpreted HOF
    # steps than re-hashing every character of every gram string
    # (operators/dedup.py::gram_hash_df discipline; non-distinct because
    # per-doc multiplicity is part of the coverage signal)
    # th MUST materialize behind its own barrier: gram_fold reads it via
    # element_at n times per gram, and without a stored column Catalyst's
    # projection collapse inlines the whole token-hash transform into
    # EVERY reference (the 50x trap documented at
    # operators/dedup.py::gram_hash_df)
    th = barrier(
        d.select("doc_id", F.transform(TX.tokens("text"), TX.char_hash).alias("th"))
    )
    grams = barrier(
        th.select(
            "doc_id",
            F.explode(gram_fold(F.col("th"), BP_NGRAM, distinct=False)).alias("h"),
        )
    )
    freq = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BP_MIN_DOCS)
        .select("h")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    bp = (
        grams.join(F.broadcast(freq), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    nb = F.coalesce(F.col("n_boilerplate"), F.lit(0)).cast("long")
    return per_doc.join(bp, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        nb.alias("n_boilerplate"),
        (nb.cast("double") / F.col("n_grams")).alias("boilerplate_frac"),
    )


def _boilerplate_oracle() -> str:
    from data_pipelines_using_llm_spark.plans.dedup_queries import (
        SQL_TOKEN_HASHES,
        _sql_gram_fold,
    )

    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKEN_HASHES} AS th FROM documents),
g AS (SELECT doc_id,
             unnest({_sql_gram_fold(BP_NGRAM, distinct=False)}) AS h
      FROM tok),
freq AS (
    SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY 1)
    WHERE n_docs >= {BP_MIN_DOCS}
),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
bp AS (SELECT doc_id, count(*) AS n_boilerplate FROM g
       WHERE h IN (SELECT h FROM freq) GROUP BY 1)
SELECT p.doc_id, p.n_grams,
       CAST(coalesce(b.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       CAST(coalesce(b.n_boilerplate, 0) AS DOUBLE) / p.n_grams
           AS boilerplate_frac
FROM per_doc p LEFT JOIN bp b USING (doc_id)
"""


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM document scoring — the perplexity-proxy quality
    signal: per document, the mean log-probability of its tokens under
    the corpus's own unigram distribution.  Low scores flag documents
    dominated by corpus-rare tokens (boilerplate codes, non-language
    junk, OCR noise) — the classic cheap filter before an expensive
    model-based quality pass.

    Shape at 100 TB: pass 1 builds the vocabulary frequency table (one
    exploded-token groupBy — the standard corpus-census shuffle); pass 2
    joins per-(doc, token) term frequencies with the vocabulary on the
    token key and reduces per doc.  The per-doc reduction is a SORTED
    FOLD over the doc's DISTINCT tokens (bounded by doc length), so the
    double summation order is bit-identical cross-engine — same
    discipline as plans/statistics.py::user_value_ewma.  ``ln`` itself
    is the one libm call; both engines evaluate it on identical doubles
    (``cnt/total`` exact-division first), and the result is rounded to
    6 decimals, so a last-ulp libm divergence would need to land within
    5e-7 of a rounding boundary to surface — the same accepted exposure
    as the sqrt/pow statistics gates.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    contrib = (
        tf.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * F.log(F.col("cnt").cast("double") / F.col("total"))
            ).alias("lp"),
        )
    )
    arr = contrib.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("token", "lp"))).alias("seq"),
        F.sum("tf").alias("n_tokens"),
    )
    s = F.aggregate(
        F.col("seq"), F.lit(0.0), lambda acc, x: acc + x["lp"]
    )
    return arr.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(s / F.col("n_tokens"), 6).alias("avg_logprob"),
    )


DOC_UNIGRAM_LOGPROB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS token
    FROM documents
),
freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM freq),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
contrib AS (
    SELECT doc_id, token, tf,
           tf * ln(CAST(cnt AS DOUBLE) / total) AS lp
    FROM tf JOIN freq USING (token), tot
),
agg AS (
    SELECT doc_id,
           array_agg(lp ORDER BY token) AS lps,
           sum(tf) AS n_tokens
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       round(list_reduce(list_prepend(0.0, lps), (acc, x) -> acc + x)
             / n_tokens, 6) AS avg_logprob
FROM agg
"""


CMS_TOP_K = 20


def term_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters with the exact verification column
    inline (the ``approx_user_reach`` gate pattern): build a 4×256 CMS
    over the exploded token stream, take the EXACT top-20 tokens, and
    report exact count vs sketch estimate plus the one-sided-error
    invariant flag (``est >= exact`` always, by construction).

    Why CMS at 100 TB (operators/sketch.py): when the token dictionary
    itself is too large to shuffle or store, the sketch is a fixed
    depth×width integer grid — map-side partial counts, mergeable by
    addition across batches — and heavy-hitter estimates never
    undercount.  Every value is BIGINT end-to-end, so the cross-engine
    hash gate needs no float caveat.
    """
    from data_pipelines_using_llm_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens("text")).alias("term"))
    sketch = cms_build(toks, "term")
    exact_top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("term"))
        .limit(CMS_TOP_K)
    )
    est = cms_estimate(sketch, exact_top.select("term"), "term")
    return exact_top.join(est, "term").select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).cast("int").alias(
            "never_undercounts"
        ),
    )


def _cms_oracle() -> str:
    from data_pipelines_using_llm_spark.operators.sketch import (
        CMS_DEPTH,
        sql_cms_bucket,
    )

    toks = SQL_TOKENS.format(col="text")
    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS row, {sql_cms_bucket('term', r)} AS bucket FROM toks"
        for r in range(CMS_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT term, {r} AS row, {sql_cms_bucket('term', r)} AS bucket "
        "FROM exact_top"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH toks AS (
    SELECT unnest({toks}) AS term FROM documents
),
cells AS (
{cell_rows}
),
sketch AS (SELECT row, bucket, count(*) AS counter FROM cells GROUP BY 1, 2),
exact_top AS (
    SELECT term, count(*) AS exact_cnt FROM toks GROUP BY term
    ORDER BY exact_cnt DESC, term LIMIT {CMS_TOP_K}
),
probes AS (
{probe_rows}
),
est AS (
    SELECT p.term, min(s.counter) AS cms_est
    FROM probes p JOIN sketch s USING (row, bucket) GROUP BY p.term
)
SELECT t.term, t.exact_cnt, e.cms_est,
       CAST(e.cms_est >= t.exact_cnt AS INT) AS never_undercounts
FROM exact_top t JOIN est e USING (term)
"""


VOCAB_N = 20  # top-N vocabulary cap; production = tokenizer vocab (1e5-1e6).
# The driver corpus has 31 distinct whitespace terms, so 20 keeps the
# OOV branch NON-VACUOUS at every SF (tokens of the 11 tail terms are
# out-of-vocabulary) — same no-empty-gate discipline as important_parts.


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per (lang, source) against the
    corpus top-``VOCAB_N`` term vocabulary — the coverage check run
    before committing to a tokenizer vocab: which slices of the corpus
    would a frequency-truncated vocabulary serve worst?

    Plan: one exploded-token groupBy builds term counts (|vocab| rows);
    the top-N cut uses the range-repartition exact rank
    (operators/ranking.py — no unpartitioned window over the vocab
    table); the resulting N-row vocabulary broadcasts into a left join
    against the token stream, and the OOV flags aggregate per
    (lang, source).  Corpus-sized work = the token explode + two
    grouped aggregations; nothing vocabulary-sized ever shuffles the
    corpus side.
    """
    from data_pipelines_using_llm_spark.operators.ranking import with_exact_rank

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", "source", F.explode(TX.tokens("text")).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        with_exact_rank(
            counts, [F.col("cnt").desc(), F.col("term").asc()], rank_col="r"
        )
        .filter(F.col("r") <= VOCAB_N)
        .select("term")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        oov.alias("oov_tokens"),
        F.round(oov / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


VOCAB_OOV_RATE_ORACLE = f"""
WITH tok AS (
    SELECT lang, source,
           unnest({SQL_TOKENS.format(col='text')}) AS term
    FROM documents
),
counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
vocab AS (
    SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS r
        FROM counts
    ) WHERE r <= {VOCAB_N}
)
SELECT t.lang, t.source,
       count(*) AS total_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_tokens,
       round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.term = t.term
GROUP BY 1, 2
"""


DSIR_BUCKETS = 2048
DSIR_TARGET_MOD = 23  # doc_id % 23 == 0 simulates the "target domain" set
DSIR_KEEP = 250
DSIR_Q = float(1 << 30)  # quantum for the order-free weight fold


def doc_dsir_select(
    spark: SparkSession, sf_dir: str, target_docs: DataFrame | None = None
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every training document by the log-likelihood ratio of a
    hashed-unigram model of the TARGET domain vs the raw corpus, and
    keep the top-``DSIR_KEEP`` — the standard "select pretraining data
    that looks like the eval domain" pipeline op.

    ``target_docs`` is the PRODUCTION shape: a separate small table
    (``doc_id``, ``text``) defining the target domain; its hashed-vocab
    model is a ≤``DSIR_BUCKETS``-row aggregate regardless of either
    table's size, so the broadcast is safe by construction.  When
    omitted (the oracle-gated registry form), the target is simulated
    as the fixed corpus slice ``doc_id % 23 == 0`` — same machinery
    (passing that slice AS ``target_docs`` reproduces the default
    output exactly; tested).  The corpus model always comes from the
    corpus table, matching the paper's raw-vs-target contrast.

    Model: token → rolling char hash → ``% DSIR_BUCKETS`` (hashed
    vocabulary, fixed size at any corpus scale); add-one-smoothed
    bucket probabilities for target and corpus; per-doc score
    Σ_b tf(d,b) · [ln p_target(b) − ln p_corpus(b)].

    Determinism: the per-bucket log-ratio is quantized to
    ``floor(r·2^30)`` int64 once, so the per-doc fold is an exact
    integer Σ tf·q — order-free, map-side combinable, and immune to
    double summation-order noise (the PageRank-fold discipline);
    magnitudes are bounded (|r| ≤ ~20 ⇒ |q| ≤ 2^35, tf·q ≤ 2^45 per
    bucket — int64 headroom at any doc length).

    Scale: one corpus tokenize pass pre-aggregated to (doc, bucket)
    map-side; both models are ≤ 2048-row aggregates of that table and
    broadcast back onto it; the top-K is TakeOrderedAndProject.  No
    corpus-sized shuffle except the (doc, bucket) combine.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier

    d = load_table(spark, sf_dir, "documents")
    td = barrier(
        d.select(
            "doc_id",
            F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .select(
            "doc_id",
            (TX.char_hash(F.col("term")) % DSIR_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = td.groupBy("bucket").agg(F.sum("tf").alias("cb"))
    if target_docs is None:
        target_tf = td.filter(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    else:
        target_tf = (
            target_docs.select(
                "doc_id",
                F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
            )
            .select(
                "doc_id",
                (TX.char_hash(F.col("term")) % DSIR_BUCKETS).alias("bucket"),
            )
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    target = target_tf.groupBy("bucket").agg(F.sum("tf").alias("tb"))
    # full outer: with a SEPARATE target table a bucket can exist in the
    # target only; dropping it would undercount nt and skew the
    # smoothing.  In the slice-simulated default the target is a subset
    # of the corpus, so full == left and the oracle is unaffected.
    model = corpus.join(target, "bucket", "full").select(
        "bucket",
        F.coalesce("cb", F.lit(0)).alias("cb"),
        F.coalesce("tb", F.lit(0)).alias("tb"),
    )
    tot = model.agg(
        F.sum("cb").alias("nc"), F.sum("tb").alias("nt")
    )
    ratio = F.log(
        (F.col("tb") + 1).cast("double")
        / (F.col("nt") + DSIR_BUCKETS).cast("double")
    ) - F.log(
        (F.col("cb") + 1).cast("double")
        / (F.col("nc") + DSIR_BUCKETS).cast("double")
    )
    model_q = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(ratio * F.lit(DSIR_Q)).cast("long").alias("q"),
    )
    return (
        td.join(F.broadcast(model_q), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("q")).alias("wq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("wq").cast("double") / F.lit(DSIR_Q), 6
            ).alias("dsir_logweight"),
        )
        .orderBy(F.col("wq").desc(), "doc_id")
        .limit(DSIR_KEEP)
    )


def _dsir_oracle() -> str:
    toks = SQL_TOKENS.format(col="lower(text)")
    bucket = (
        SQL_CHAR_HASH.format(s="term") + f" % {DSIR_BUCKETS}"
    )
    return f"""
WITH td AS (
    SELECT doc_id, {bucket} AS bucket, count(*) AS tf
    FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
    GROUP BY 1, 2
),
corpus AS (SELECT bucket, sum(tf) AS cb FROM td GROUP BY 1),
target AS (
    SELECT bucket, sum(tf) AS tb FROM td
    WHERE doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY 1
),
model AS (
    SELECT c.bucket, c.cb, coalesce(t.tb, 0) AS tb
    FROM corpus c LEFT JOIN target t ON t.bucket = c.bucket
),
tot AS (SELECT sum(cb) AS nc, sum(tb) AS nt FROM model),
model_q AS (
    SELECT bucket,
           CAST(floor((ln(CAST(tb + 1 AS DOUBLE)
                           / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
                       - ln(CAST(cb + 1 AS DOUBLE)
                           / CAST(nc + {DSIR_BUCKETS} AS DOUBLE)))
                      * {DSIR_Q!r}) AS BIGINT) AS q
    FROM model, tot
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(CAST(sum(tf * q) AS DOUBLE) / {DSIR_Q!r}, 6)
           AS dsir_logweight
FROM td JOIN model_q USING (bucket)
GROUP BY doc_id
ORDER BY sum(tf * q) DESC, doc_id
LIMIT {DSIR_KEEP}
"""


PPL_ALPHA = 0.1  # add-alpha smoothing of the bigram LM
PPL_TOP = 120
PPL_Q = float(1 << 30)  # quantum for the order-free logprob fold


def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-α-smoothed corpus bigram LM
    — THE classic LM quality filter (CCNet/Gopher-style: drop or
    down-weight the highest-perplexity documents as likely gibberish /
    boilerplate / wrong-language).  Reports the ``PPL_TOP`` highest-
    perplexity docs, i.e. the drop candidates.

    Model: p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁) + α·V) from exact corpus
    counts; per-doc score = exp(−Σ ln p / n_bigrams).  Determinism: the
    per-doc Σ ln p is an exact int64 fold of ``floor(ln p · 2^30)``
    quantized ONCE per distinct bigram in the model table (the
    PageRank-fold discipline — never a raw double sum across rows);
    ranking ties break on doc_id.

    Scale: one tokenize pass emits (doc, bigram) pre-aggregated
    map-side; the bigram and unigram models are Heaps-bounded
    aggregates of that table; the scoring join is keyed on the bigram
    (vocabulary-sized build side), and the vocabulary scalar V is a
    one-row broadcast.  Nothing after the first combine scales with
    corpus size.
    """
    from data_pipelines_using_llm_spark.operators.caching import barrier

    d = load_table(spark, sf_dir, "documents")
    bigrams = TX.let(
        TX.tokens(F.lower(F.col("text"))),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    db = barrier(
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    big = db.groupBy("bigram").agg(F.sum("tf").alias("c12"))
    uni = (
        d.select(
            F.explode(TX.tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    model = (
        big.withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.floor(
                F.log(
                    (F.col("c12").cast("double") + PPL_ALPHA)
                    / (
                        F.col("c1").cast("double")
                        + PPL_ALPHA * F.col("v").cast("double")
                    )
                )
                * F.lit(PPL_Q)
            )
            .cast("long")
            .alias("q"),
        )
    )
    scored = (
        db.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("q")).alias("sq"),
        )
    )
    ppl = F.exp(
        -(F.col("sq").cast("double") / F.lit(PPL_Q))
        / F.col("n_bigrams").cast("double")
    )
    # ppl desc is exactly (sq / n_bigrams) asc — rank on the monotone
    # integer-ratio key so the LIMIT boundary never depends on the
    # rounded output value
    return (
        scored.orderBy(
            (
                F.col("sq").cast("double")
                / F.col("n_bigrams").cast("double")
            ).asc(),
            "doc_id",
        )
        .limit(PPL_TOP)
        .select("doc_id", "n_bigrams", F.round(ppl, 4).alias("perplexity"))
    )


def _bigram_perplexity_oracle() -> str:
    toks = SQL_TOKENS.format(col="lower(text)")
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS t FROM documents),
db AS (
    SELECT doc_id, bigram, count(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 2
                   THEN list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1])
                   ELSE [] END) AS bigram
        FROM tok
    ) GROUP BY 1, 2
),
big AS (SELECT bigram, sum(tf) AS c12 FROM db GROUP BY 1),
uni AS (
    SELECT w, count(*) AS c1
    FROM (SELECT unnest({toks}) AS w FROM documents)
    GROUP BY 1
),
vocab AS (SELECT count(*) AS v FROM uni),
model AS (
    SELECT bigram,
           CAST(floor(ln((CAST(c12 AS DOUBLE) + {PPL_ALPHA!r})
                         / (CAST(c1 AS DOUBLE)
                            + {PPL_ALPHA!r} * CAST(v AS DOUBLE)))
                      * {PPL_Q!r}) AS BIGINT) AS q
    FROM big
    JOIN uni ON uni.w = string_split(big.bigram, ' ')[1]
    CROSS JOIN vocab
),
scored AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(tf * q) AS BIGINT) AS sq
    FROM db JOIN model USING (bigram)
    GROUP BY 1
)
SELECT doc_id, n_bigrams,
       round(exp(-(CAST(sq AS DOUBLE) / {PPL_Q!r})
                 / CAST(n_bigrams AS DOUBLE)), 4) AS perplexity
FROM scored
ORDER BY CAST(sq AS DOUBLE) / CAST(n_bigrams AS DOUBLE) ASC, doc_id
LIMIT {PPL_TOP}
"""


INV_INDEX_TOP = 60
INV_POSTINGS_CAP = 12


def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over the corpus: for the ``INV_INDEX_TOP``
    highest-document-frequency terms, the posting-list summary — df
    (documents containing the term), cf (total occurrences), and the
    first ``INV_POSTINGS_CAP`` doc ids of the ascending posting list —
    the core IR-index artifact behind BM25 serving (doc_bm25_search
    consumes these statistics) and exact-match retrieval.

    Postings are emitted as a comma-joined STRING of sorted doc ids
    (deterministic; array columns stringify differently between Spark
    pandas and DuckDB pandas, so the hash gate gets a scalar).

    Scale: one corpus scan explodes (term, doc) pairs and immediately
    pre-aggregates per (term, doc_id) — map-side combinable, the only
    corpus-sized shuffle is keyed by term (vocabulary-bounded by
    Heaps' law).  The capped posting sample is
    ``slice(array_sort(collect_set(...)))`` per term — collect_set is
    bounded per term only by df, so at 100 TB cap the collected ids
    with a (term)-windowed pre-filter or keep only the aggregate
    stats; the TOP-df cut is TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    td = (
        d.select(
            "doc_id",
            F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .filter(F.length("term") >= 3)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        td.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.slice(
                    F.array_sort(F.collect_set("doc_id")),
                    1,
                    INV_POSTINGS_CAP,
                ),
                ",",
            ).alias("postings_head"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(INV_INDEX_TOP)
    )


def _inverted_index_oracle() -> str:
    toks = SQL_TOKENS.format(col="lower(text)")
    return f"""
WITH td AS (
    SELECT term, doc_id, count(*) AS tf
    FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
    WHERE length(term) >= 3
    GROUP BY 1, 2
)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       list_aggregate(
           list_slice(list_sort(list(DISTINCT doc_id)),
                      1, {INV_POSTINGS_CAP}),
           'string_agg', ',') AS postings_head
FROM td GROUP BY term
ORDER BY df DESC, term
LIMIT {INV_INDEX_TOP}
"""


QUERIES = {
    "vocab_oov_rate": QuerySpec(
        vocab_oov_rate,
        VOCAB_OOV_RATE_ORACLE,
        "OOV token rate vs corpus top-N vocabulary",
    ),
    "term_cms_heavy_hitters": QuerySpec(
        term_cms_heavy_hitters,
        _cms_oracle(),
        "Count-Min heavy hitters vs exact counts (integer-exact sketch)",
    ),
    "doc_unigram_logprob": QuerySpec(
        doc_unigram_logprob,
        DOC_UNIGRAM_LOGPROB_ORACLE,
        "corpus-unigram mean log-prob per doc (perplexity-proxy filter)",
    ),
    "training_corpus_prep": QuerySpec(
        training_corpus_prep,
        _prep_oracle(),
        "flagship prep pipeline: quality→lang→dedup→corpus accounting",
    ),
    "doc_bigram_freq": QuerySpec(
        doc_bigram_freq, _bigram_oracle(), "corpus bigram document-frequency census"
    ),
    "doc_collocations": QuerySpec(
        doc_collocations,
        _collocations_oracle(),
        "top bigram collocations by lift (monotone-equivalent to PMI)",
    ),
    "doc_token_stats": QuerySpec(doc_token_stats, DOC_TOKEN_STATS_ORACLE, "token counting"),
    "doc_quality_scores": QuerySpec(doc_quality_scores, DOC_QUALITY_ORACLE, "quality scoring"),
    "doc_lang_classifier_distilled": QuerySpec(
        doc_lang_classifier_distilled,
        _clf_oracle(),
        "in-dataflow batch-GD linear classifier distilling the "
        f"language-ID gate ({CLF_STEPS} one-pass gradient steps, "
        "hash-gated weight trajectory)",
    ),
    "doc_language_id": QuerySpec(doc_language_id, DOC_LANGUAGE_ID_ORACLE, "language ID"),
    "lang_confusion": QuerySpec(lang_confusion, LANG_CONFUSION_ORACLE, "lang ID aggregate"),
    "doc_fingerprints": QuerySpec(doc_fingerprints, DOC_FINGERPRINTS_ORACLE, "rolling-hash fingerprint"),
    "doc_pii_redaction": QuerySpec(
        doc_pii_redaction,
        DOC_PII_REDACTION_ORACLE,
        "PII redaction + sequential audit counts on a seeded corpus",
    ),
    "doc_decontamination_separate": QuerySpec(
        doc_decontamination_separate,
        _decontamination_separate_oracle(),
        "exact decontamination through the separate-eval-table branch "
        "(production shape; all corpus docs are training candidates)",
    ),
    "doc_decontamination": QuerySpec(
        doc_decontamination,
        _decontamination_oracle(),
        "benchmark decontamination: eval-shingle broadcast semi-join",
    ),
    "doc_decontamination_fuzzy": QuerySpec(
        doc_decontamination_fuzzy,
        _fuzzy_decontamination_oracle(),
        "fuzzy decontamination: MinHash-LSH vs broadcast eval bands",
    ),
    "doc_filter_funnel": QuerySpec(
        doc_filter_funnel,
        _funnel_oracle(),
        "per-source curation attrition funnel (quality/lang/dedup stages)",
    ),
    "doc_weighted_sample": QuerySpec(
        doc_weighted_sample,
        _weighted_sample_oracle(),
        "size-biased deterministic (hash-threshold) document sampling",
    ),
    "doc_weighted_reservoir": QuerySpec(
        doc_weighted_reservoir,
        _weighted_reservoir_oracle(),
        "Efraimidis-Spirakis exact-K weighted sample without replacement",
    ),
    "doc_bpe_merge_pairs": QuerySpec(
        doc_bpe_merge_pairs,
        DOC_BPE_MERGE_PAIRS_ORACLE,
        "BPE tokenizer-training inner loop: ranked symbol-pair counts",
    ),
    "doc_stratified_weighted": QuerySpec(
        doc_stratified_weighted,
        _stratified_weighted_oracle(),
        "per-source exact-K ES weighted sample (stratified reservoir)",
    ),
    "doc_chunk_overlap": QuerySpec(
        doc_chunk_overlap,
        DOC_CHUNK_OVERLAP_ORACLE,
        "RAG chunking: overlapping token windows, shuffle-free",
    ),
    "doc_boilerplate_ngrams": QuerySpec(
        doc_boilerplate_ngrams,
        _boilerplate_oracle(),
        "corpus-frequent n-gram coverage (cross-doc boilerplate signal)",
    ),
    "doc_repetition_signals": QuerySpec(
        doc_repetition_signals,
        DOC_REPETITION_ORACLE,
        "Gopher-style repeated-line / repeated-n-gram boilerplate signals",
    ),
    "doc_inverted_index": QuerySpec(
        doc_inverted_index,
        _inverted_index_oracle(),
        "top-df inverted-index postings summary (df/cf/capped postings)",
    ),
    "doc_dsir_select_separate": QuerySpec(
        doc_dsir_select_separate,
        _dsir_oracle(),
        "DSIR through the separate-target-table branch (shares the "
        "default oracle: branch equivalence hash-verified per round)",
    ),
    "doc_dsir_select": QuerySpec(
        doc_dsir_select,
        _dsir_oracle(),
        "DSIR data selection: hashed-unigram target/corpus LLR top-K",
    ),
    "doc_bigram_perplexity": QuerySpec(
        doc_bigram_perplexity,
        _bigram_perplexity_oracle(),
        "bigram-LM perplexity filter: top-N drop candidates",
    ),
}
