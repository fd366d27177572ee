"""Text-analysis column expressions (SURVEY.md §2.2.K).

Whitespace tokenization matches the testdata's space-separated text
(FIXTURES.md §A).  Everything here is a Catalyst expression — language ID,
quality scoring, token counting and fingerprinting all run JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram-free heuristic
# language ID.  Public-knowledge function words; good enough for a
# deterministic, testable heuristic (real corpora would use fastText etc.).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (clean split per FIXTURES.md)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def lang_score(text: Column, lang: str) -> Column:
    """Fraction of this language's marker words present in the text."""
    toks = tokens(F.lower(text))
    markers = _LANG_MARKERS[lang]
    hits = sum(
        (F.array_contains(toks, m).cast("int") for m in markers),
        F.lit(0),
    )
    return hits / F.lit(len(markers))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit rate, 'und' if none."""
    scores = F.array(
        *[F.struct(lang_score(text, l).alias("score"), F.lit(l).alias("lang")) for l in _LANG_MARKERS]
    )
    best = F.array_max(scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite doc-quality heuristic in [0,1]: mean-word-length band,
    alpha ratio, and repetition penalty (distinct/total token ratio)."""
    toks = tokens(text)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.concat_ws("", toks)) / n).otherwise(F.lit(0.0))
    len_ok = F.when((mean_len >= 3) & (mean_len <= 10), 1.0).otherwise(0.0)
    alpha_ratio = F.when(
        F.length(text) > 0,
        F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")) / F.length(text),
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
    return F.round((len_ok + alpha_ratio + distinct_ratio) / 3.0, 6)


def fingerprint(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint (xxhash64 of normalized
    text) — the rolling-hash analogue for exact-dup detection at scale."""
    return F.xxhash64(F.lower(F.trim(text)))


def bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE and feed it to ``body`` as a lambda
    variable — ``element_at(transform(array(value), body), 1)``.

    Why (round 13, guide §1.2 "per-task work"): an expression used
    several times in one column tree is INLINED at each use by Catalyst,
    and ``Generate`` (explode) stages do not subexpression-eliminate —
    the shingle explode was re-running the regex tokenizer four times
    per document (measured 1.4× on the explode stage at sf0.1).  A
    higher-order-function lambda variable is bound once per row by
    construction, in every engine.  NULL/empty propagation is identical:
    ``array(x)`` is a 1-element array even for NULL x, the body sees the
    same input it would have inlined, and ``element_at(..., 1)`` always
    finds the element."""
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles (arrays of k-grams) for MinHash / Jaccard.

    The token array is bound once via :func:`bind_once` — inlining
    ``tokens(text)`` at its three uses re-ran the regex split per use
    inside the (non-subexpression-eliminating) explode stage."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(tokens(text), body)


# PII detection/redaction rules — ONE definition feeding both the Spark
# columns and the DuckDB oracle SQL (the same single-source discipline as
# sampling.bucket_sql).  Patterns stay inside the syntax intersection of
# Java regex (Spark) and RE2 (DuckDB): character classes, bounded repeats,
# and \b / \d, which both engines implement identically.  Redaction order
# is pinned (emails → IPs → phones) so a phone-shaped fragment inside an
# already-redacted IP can't double-fire; counts are always taken on the
# RAW text, per pattern, so they are order-independent.
#
# Precision notes (ADVICE r7): the IPv4 octet is range-checked
# (25[0-5]|2[0-4]\d|1?\d?\d ≤ 255 — still alternation+classes, inside the
# Java/RE2 intersection), so 999.999.999.999 no longer counts.  KNOWN
# remaining false-positive class: dotted version strings with in-range
# components ("release 1.2.3.4") are indistinguishable from IPs at the
# regex level and still match — an audit consumer that needs them excluded
# must post-filter on context, which a per-row regex cannot see.
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1?\d?\d)"
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ips", r"\b" + _IPV4_OCTET + r"(\." + _IPV4_OCTET + r"){3}\b", "<IP>"),
    ("phones", r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
)


def pii_count(text: Column, pattern: str) -> Column:
    """Non-overlapping match count of one PII pattern on the raw text."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


def pii_redact(text: Column) -> Column:
    """Text with every PII_RULES match replaced by its tag, applied in
    rule order."""
    out = text
    for _, pattern, tag in PII_RULES:
        out = F.regexp_replace(out, pattern, tag)
    return out


def pii_redact_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`pii_redact` (global-flag regexp_replace,
    same rule order)."""
    out = col
    for _, pattern, tag in PII_RULES:
        out = f"regexp_replace({out}, '{pattern}', '{tag}', 'g')"
    return out


def pii_count_sql(pattern: str, col: str = "text") -> str:
    """DuckDB twin of :func:`pii_count`."""
    return f"CAST(len(regexp_extract_all({col}, '{pattern}')) AS BIGINT)"
