"""Text-analysis expressions for the LLM-data-pipeline surface.

Whitespace tokenization, a BPE-ish regex token count, shingles,
character n-grams, and quality-score ingredients — all built-in
``pyspark.sql.functions`` compositions (JVM-side, codegen'd), chosen
so each has an exact ANSI-SQL equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}\-]"
# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty text → empty array)."""
    c = F.trim(_c(col))
    return F.when(c == "", F.array().cast("array<string>")).otherwise(F.split(c, r"\s+"))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish regex tokens (letters runs / digit runs / symbols).

    ``idx=0`` selects the whole match — the pattern has no capture
    groups, and the default group index of 1 would raise.
    """
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_TOKEN_RE), 0))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are punctuation (0.0 for empty)."""
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(n_punct / F.length(c))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = tokens(col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(n_stop / F.size(toks))


# stopword profiles for the heuristic language identifier — one
# source of truth shared with the SQL oracle twin
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "en": ("the", "a", "and", "of", "is", "to"),
    "es": ("el", "los", "las", "y", "es", "una"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
}


def lang_score(col: Column | str, lang: str) -> Column:
    """Count of tokens hitting ``lang``'s stopword profile."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(*LANG_PROFILES[lang])))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword-profile
    scores; ties break alphabetically, zero evidence -> 'unknown'.
    A production pipeline swaps the profiles for char-n-gram models —
    the expression shape (score family + argmax CASE) is the same.
    """
    scores = {lang: lang_score(col, lang) for lang in sorted(LANG_PROFILES)}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for lang in reversed(sorted(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("unknown")).otherwise(expr)


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Array of character n-grams (empty when text shorter than n)."""
    c = _c(col)
    length = F.length(c)
    grams = F.transform(
        F.sequence(F.lit(1), length - (n - 1)),
        lambda i: F.substring(c, i, n),
    )
    return F.when(length >= n, grams).otherwise(F.array().cast("array<string>"))
