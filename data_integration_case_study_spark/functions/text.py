"""Text-analysis functions for LLM-data pipelines (SURVEY.md §2.9).

All native Catalyst expressions (split / filter / transform / aggregate
over arrays) — no UDFs, so every function is whole-stage-codegen'd and
runs as a map-only stage over a 100 TB corpus. Each has a DuckDB-
expressible twin for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize(c: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped (robust to
    leading/trailing/multiple spaces)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(c: Column | str) -> Column:
    """Token count — the whitespace half of BPE-ish accounting."""
    return F.size(tokenize(c))


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles: transform over a sliding index sequence.
    Returns fewer-than-n token docs as an empty array."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Tiny per-language stopword anchors for the n-gram-free heuristic. At
# production scale these lists grow (top-N per language); the operator
# shape (membership-count argmax) is unchanged.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
    "zh": ["的", "了", "是", "我", "不"],
}
LANG_PRIORITY = ["en", "fr", "de", "es", "zh"]


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def lang_id(c: Column | str) -> Column:
    """Language-ID heuristic: stopword-hit argmax with a fixed tie-break
    priority; 'und' when nothing matches. Pure expressions — the scores
    and the argmax chain are identical in the SQL twin."""
    tokens = tokenize(c)
    scores = {lang: _stopword_hits(tokens, ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def quality_score(c: Column | str) -> Column:
    """Composite quality score in [0,1]: length band + low punctuation
    ratio + low digit ratio + stopword presence. The exact formula is a
    placeholder policy; what matters is the shape — all ratio features in
    one projection, ANSI-safe division via nullif."""
    tokens = tokenize(c)
    n_chars = F.length(c)
    safe_chars = F.nullif(n_chars.cast("double"), F.lit(0.0))
    punct_ratio = (
        n_chars - F.length(F.regexp_replace(c, r"\p{Punct}", ""))
    ) / safe_chars
    digit_ratio = (n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))) / safe_chars
    n_tokens = F.size(tokens)
    all_stop = [w for ws in STOPWORDS.values() for w in ws]
    stop_ratio = _stopword_hits(tokens, all_stop) / F.nullif(
        n_tokens.cast("double"), F.lit(0.0)
    )
    length_ok = (n_tokens >= 10) & (n_tokens <= 100000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.coalesce(punct_ratio, F.lit(0.0)) < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.coalesce(digit_ratio, F.lit(0.0)) < 0.3, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.coalesce(stop_ratio, F.lit(0.0)) > 0.05, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return F.round(score, 1)


def hash60(c: Column | str) -> Column:
    """Deterministic 60-bit hash: the first 15 hex chars of sha256, as a
    non-negative long. Engine-portable — DuckDB computes the identical
    value as ``('0x' || substr(sha256(x), 1, 15))::BIGINT`` — which makes
    every hash-derived operator (MinHash, SimHash, hyperplane LSH)
    oracle-checkable end to end. xxhash64 is a cheaper drop-in where
    cross-engine reproducibility is not needed; sha256 here is still a
    codegen'd JVM expression and the dedup pipelines are shuffle-bound,
    not hash-bound."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash60`."""
    return f"('0x' || substr(sha256({expr}), 1, 15))::BIGINT"


def normalize_text(c: Column | str) -> Column:
    """Canonical form for fingerprinting: collapse whitespace runs to one
    space, trim, lowercase — in THAT order, so the result is idempotent
    (trim only strips literal spaces; collapsing first turns any leading
    tab/newline run into a trimmable space). Idempotence is asserted by a
    hypothesis property test."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint(c: Column | str) -> Column:
    """Content fingerprint: sha256 of the normalized text. Deterministic,
    engine-portable (DuckDB sha256), and the key for exact dedup."""
    return F.sha2(normalize_text(c), 256)
