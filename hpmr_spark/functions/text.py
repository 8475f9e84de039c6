"""Text-analysis column functions for the training-data pipeline.

All pure Catalyst expressions (JVM-side, codegen'd — no Python UDFs in the hot
path), so they scan 100 TB of documents at parquet-read speed. Each helper
returns a Column; the oracle-checked query registrations live in
hpmr_spark/operators/text_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A token is a letter run, a digit run, or a single non-space symbol — the
# BPE-ish pre-tokenization split (word-ish pieces + punctuation as singletons).
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Marker stopwords per language for the n-gram/stopword language-ID heuristic.
# Deterministic and tiny by design: language score = number of marker tokens
# present; argmax with lexicographic tie-break.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "la", "les", "et", "que"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}

STOPWORDS = ("the", "a", "and", "of", "is", "in", "to", "it")


def tokens(col) -> Column:
    """Tokenize via the BPE-ish regex (regexp_extract_all, JVM-side)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def whitespace_token_count(col) -> Column:
    """Plain whitespace tokenization count (empty string → 0)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    ).cast("long")


def char_count(col) -> Column:
    return F.length(col).cast("long")


def punct_count(col) -> Column:
    return (F.length(col) - F.length(F.regexp_replace(col, "[^A-Za-z0-9\\s]", ""))).cast(
        "long"
    )


def stopword_count(col, stopwords=STOPWORDS) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def _fdiv(a: Column, b: Column) -> Column:
    """floor(a/b) on exact-integer-valued doubles: the IEEE divide is
    identical in every engine, so the floored quotient is deterministic."""
    return F.floor(a / b).cast("long")


def quality_score_ppm(col) -> Column:
    """Composite quality heuristic scaled to parts-per-million as an exact
    integer — float rounding at .5 boundaries differs between Spark (HALF_UP)
    and DuckDB, so scores are integers by design.

    quality_ppm = ⌊500000·min(n_tok,64)/64⌋                       (length)
                + ⌊300000·min(4·n_sw, n_tok)/max(n_tok,1)⌋        (stopwords)
                + ⌊200000·(n_chars−min(4·n_punct,n_chars))/max(n_chars,1)⌋
    """
    n_tok = token_count(col)
    n_chars = char_count(col)
    n_sw = stopword_count(col)
    n_punct = punct_count(col)
    one = F.lit(1).cast("long")
    term_len = _fdiv(F.lit(500000) * F.least(n_tok, F.lit(64).cast("long")), F.lit(64))
    term_sw = _fdiv(
        F.lit(300000) * F.least(F.lit(4) * n_sw, n_tok), F.greatest(n_tok, one)
    )
    term_punct = _fdiv(
        F.lit(200000) * (n_chars - F.least(F.lit(4) * n_punct, n_chars)),
        F.greatest(n_chars, one),
    )
    return term_len + term_sw + term_punct


def lang_scores(col) -> list[tuple[str, Column]]:
    toks = tokens(col)
    out = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        out.append((lang, F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))))
    return out


def lang_id(col) -> Column:
    """argmax over language marker hits, lexicographic tie-break, 'und'
    (undetermined) when no marker hits at all."""
    scores = lang_scores(col)
    # struct comparison: (score, reversed-lang) so max picks highest score,
    # then lexicographically-first language.
    best = F.greatest(
        *[
            F.struct(s.alias("s"), F.lit(-i).alias("o"), F.lit(lang).alias("l"))
            for i, (lang, s) in enumerate(scores)
        ]
    )
    return F.when(best["s"] <= 0, F.lit("und")).otherwise(best["l"])


def normalize_text(col) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text (same
    digest in any engine)."""
    return F.md5(normalize_text(col))


def fingerprint64(col) -> Column:
    """64-bit-ish fingerprint: first 16 hex chars of the md5 digest."""
    return F.substring(fingerprint(col), 1, 16)
