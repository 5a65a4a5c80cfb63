"""Text-analysis operators for training-data pipelines: tokenization,
quality scoring, language ID, document fingerprinting.

No reference counterpart (SURVEY.md §2.12 — the corpus registers zero
UDFs); these are the beyond-reference operators the 100 TB training-data
pipeline needs (BASELINE.json north star).  Everything here is built-in
column expressions — JVM-side, whole-stage-codegen'd, no Python in the hot
path — and every function has an exact DuckDB-SQL equivalent, so the
operators are oracle-checkable.

Cross-engine hash primitive: polynomial rolling hash over character codes
``h = (h*31 + ascii(c)) mod 1e9+7`` — Spark ``aggregate(split(s,''))`` and
DuckDB ``list_reduce(string_split(s,''))`` produce identical values (no
shared built-in hash exists across the two engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
# language ID.  Deterministic and oracle-shareable; accuracy scales with
# list size, the operator shape doesn't change.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "para", "con"],
    "zh": ["的", "是", "在", "了", "我", "有", "和", "不", "这"],
}


def tokens(c: str | Column) -> Column:
    """Whitespace tokenization as an array column (empty-safe)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != "")


def token_count(c: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def regex_token_count(c: str | Column) -> Column:
    """BPE-ish token count: words / numbers / individual punctuation, the
    pre-tokenizer split most BPE vocabularies start from."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(col, F.lit(TOKEN_REGEX))


def char_hash(c: Column) -> Column:
    """Polynomial rolling hash of a string — the cross-engine primitive."""
    return F.aggregate(
        F.transform(F.split(c, ""), lambda x: F.ascii(x)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_MOD,
    )


def fingerprint(c: str | Column) -> Column:
    """Document fingerprint: rolling hash over the normalized text
    (lowercased, whitespace collapsed).  Equal fingerprints == equal
    normalized text (mod collisions) — the cheap exact-dup key."""
    col = F.col(c) if isinstance(c, str) else c
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return char_hash(normalized)


def stopword_hits(c: str | Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (with repeats —
    ratio semantics need occurrence counts, not set overlap)."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(c), lambda x: F.array_contains(stops, x)))


def language_id(c: str | Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    ties broken by the fixed language order, 'und' (undetermined) when no
    stopword hits at all.

    The argmax when-chain references every language's hit count up to
    |langs| times — with the counts inlined that re-tokenizes and
    re-filters per reference (the HOF no-CSE trap, see :func:`let`), so
    the token array and the hit-count struct are let-bound and the chain
    reads cheap bound-variable fields."""
    col = F.col(c) if isinstance(c, str) else c
    langs = list(STOPWORDS.keys())

    def _contains(stops: Column):
        # a closure, NOT a default arg: a two-parameter lambda would be
        # bound by Spark as the (element, index) binary form
        return lambda x: F.array_contains(stops, x)

    def hits_from(t: Column) -> Column:
        return F.struct(
            *[
                F.size(
                    F.filter(
                        t,
                        _contains(
                            F.array(*[F.lit(w) for w in STOPWORDS[lang]])
                        ),
                    )
                ).alias(lang)
                for lang in langs
            ]
        )

    def chain(h: Column) -> Column:
        expr = F.lit("und")
        # Build the when-chain back to front so earlier langs win ties.
        for lang in reversed(langs):
            cond = h.getField(lang) > 0
            for other in langs:
                if langs.index(other) < langs.index(lang):
                    cond = cond & (h.getField(lang) > h.getField(other))
                elif other != lang:
                    cond = cond & (h.getField(lang) >= h.getField(other))
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
        return expr

    return let(tokens(col), lambda t: let(hits_from(t), chain))


def quality_features(c: str | Column) -> dict[str, Column]:
    """Per-document quality signals (length / punctuation / stopword /
    word-shape ratios — the classic pre-training quality heuristics)."""
    col = F.col(c) if isinstance(c, str) else c
    n_chars = F.length(col)
    n_tok = token_count(col)
    n_punct = F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))
    n_stop = stopword_hits(col, "en")
    avg_tok = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
            F.lit(0.0)
        ),
        "stopword_ratio": F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(
            F.lit(0.0)
        ),
        "avg_token_len": avg_tok,
    }


# PII patterns, applied in this order (specific before general so an SSN
# is tagged [SSN] rather than swallowed by the greedy phone pattern).
# Kept to context-free regexes on purpose: a 100 TB redaction pass must be
# a pure column expression (JVM regexp_replace inside codegen), not a
# Python NER model; model-based PII goes through the llm.py mapInPandas
# path instead.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def redact_pii(c: str | Column, categories: list[str] | None = None) -> Column:
    """Mask PII spans with ``[CATEGORY]`` placeholders (training corpora
    must not memorize emails/phones/SSNs/IPs).  Sequential
    ``regexp_replace`` — one codegen'd expression, no Python in the path.

    Driver-gated via ``doc_pii_redaction`` (plans/text_queries.py): the
    synthetic corpus contains no digits or '@', so that query SEEDS each
    document with deterministic id-derived PII and hash-compares the
    redacted strings + sequential audit counts against a DuckDB oracle
    running the identical regex chain; fixture tests
    (tests/test_quality.py::test_redact_pii*) pin the semantics besides.
    """
    col = F.col(c) if isinstance(c, str) else c
    for cat in categories or list(PII_PATTERNS):
        col = F.regexp_replace(col, PII_PATTERNS[cat], f"[{cat.upper()}]")
    return col


def pii_counts(c: str | Column) -> dict[str, Column]:
    """Per-category PII hit counts (the audit signal next to the
    redaction).  Counted SEQUENTIALLY on the progressively-redacted
    text, mirroring :func:`redact_pii`'s pattern order — counting every
    pattern against the original text would tally an SSN under both
    ``ssn`` and the greedy ``phone`` pattern, so the audit would
    overcount relative to what redaction actually masked.  Each count is
    therefore exactly "spans the redactor replaced with [CAT]"."""
    col = F.col(c) if isinstance(c, str) else c
    out: dict[str, Column] = {}
    for cat, pat in PII_PATTERNS.items():
        out[cat] = F.regexp_count(col, F.lit(pat))
        col = F.regexp_replace(col, pat, f"[{cat.upper()}]")
    return out


def nonempty_lines(c: str | Column) -> Column:
    """Trimmed, non-empty lines of a document as an array column."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(
        F.transform(F.split(col, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )


def let(col: Column, fn) -> Column:
    """Single-evaluation let-binding: a higher-order function evaluates
    its input child ONCE and hands the lambda a bound variable, so
    ``let(expensive, lambda x: f(x))`` computes ``expensive`` once no
    matter how many times ``f`` references ``x``.  This matters because
    Spark's subexpression elimination does not reach interpreted
    higher-order expressions (transform/aggregate are CodegenFallback),
    so inlining the same token/ngram tree N times really costs N full
    evaluations per row — measured 25s -> ~2s on
    ``doc_repetition_signals`` at sf0.1."""
    return F.transform(F.array(col), fn).getItem(0)


def ngrams_from_tokens(t: Column, n: int) -> Column:
    """Token ``n``-grams from a BOUND token-array variable (see
    :func:`let`) joined with single spaces (empty when the document has
    fewer than ``n`` tokens — NOT ``sequence(1, 0)``, which Spark would
    expand to a DESCENDING [1, 0])."""
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_array(c: str | Column, n: int) -> Column:
    """Token ``n``-grams of a text column (tokenization let-bound so the
    token array is computed once, not once per reference)."""
    return let(tokens(c), lambda t: ngrams_from_tokens(t, n))


def dup_fraction(arr: Column) -> Column:
    """Fraction of array elements that repeat an earlier element:
    ``1 - distinct/total`` (0.0 for empty arrays).  Exact integer counts
    divided once in double, so both engines agree bit-for-bit."""
    total = F.size(arr)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / total,
    ).otherwise(F.lit(0.0))


def repetition_signals(c: str | Column) -> dict[str, Column]:
    """Gopher-style repetition quality signals: documents dominated by
    repeated lines or repeated n-grams are boilerplate/spam and poison
    training data.  All pure column expressions (shuffle-free): the
    100 TB cost is the scan.  For a multi-column projection use
    :func:`repetition_struct` — selecting these dict entries separately
    re-evaluates the shared token tree per entry."""
    lines = nonempty_lines(c)
    return {
        "n_lines": F.size(lines),
        "dup_line_ratio": dup_fraction(lines),
        "dup_2gram_ratio": dup_fraction(ngram_array(c, 2)),
        "dup_3gram_ratio": dup_fraction(ngram_array(c, 3)),
    }


def repetition_struct(c: str | Column) -> Column:
    """All repetition signals (plus the boilerplate filter flag) as ONE
    struct column with the token array, each n-gram array and the line
    array let-bound — every expensive subtree evaluates exactly once
    per row.  Expand with ``F.inline(F.array(repetition_struct(...)))``:
    a generator node evaluates its child once, whereas selecting struct
    fields in a projection re-inlines the struct expression per field.
    """
    col = F.col(c) if isinstance(c, str) else c

    def build(ln: Column, g2: Column, g3: Column) -> Column:
        dl, d3 = dup_fraction(ln), dup_fraction(g3)
        return F.struct(
            F.size(ln).alias("n_lines"),
            dl.alias("dup_line_ratio"),
            dup_fraction(g2).alias("dup_2gram_ratio"),
            d3.alias("dup_3gram_ratio"),
            ((dl > 0.3) | (d3 > 0.2)).cast("int").alias("is_repetitive"),
        )

    return let(
        nonempty_lines(col),
        lambda ln: let(
            tokens(col),
            lambda t: let(
                ngrams_from_tokens(t, 2),
                lambda g2: let(
                    ngrams_from_tokens(t, 3), lambda g3: build(ln, g2, g3)
                ),
            ),
        ),
    )


def quality_score(c: str | Column) -> Column:
    """Composite 0–1 quality score: in-range token count, sane average
    token length, low punctuation density.  Weights are fixed so the
    score is deterministic and oracle-shareable.

    The three features are let-bound as one struct (see :func:`let`) so
    the tokenization/regex counting runs once per row even though the
    score expression references the features several times."""
    col = F.col(c) if isinstance(c, str) else c
    feats = F.struct(
        F.length(col).alias("n_chars"),
        token_count(col).alias("n_tokens"),
        F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]")).alias("n_punct"),
    )

    def score(f: Column) -> Column:
        n_chars = f.getField("n_chars")
        n_tok = f.getField("n_tokens")
        avg_tok = F.when(
            n_tok > 0, n_chars.cast("double") / n_tok
        ).otherwise(F.lit(0.0))
        punct = F.when(
            n_chars > 0, f.getField("n_punct").cast("double") / n_chars
        ).otherwise(F.lit(0.0))
        len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
        tok_ok = F.when((avg_tok >= 2.0) & (avg_tok <= 12.0), 1.0).otherwise(0.0)
        punct_ok = F.when(punct <= 0.2, 1.0).otherwise(0.0)
        return (0.4 * len_ok + 0.3 * tok_ok + 0.3 * punct_ok).cast("double")

    return let(feats, score)
