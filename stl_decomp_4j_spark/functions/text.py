"""Text-analysis column functions for training-data pipelines.

All hot-path expressions are JVM-side built-ins (regexp/array/hash functions
inside whole-stage codegen) — no Python UDFs.  Each function has an exact
ANSI-SQL twin used by the DuckDB oracle (see __spark_entry__.oracle_sql).
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# tiny per-language stopword profiles for the heuristic language guesser;
# deterministic and SQL-expressible (no model)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.regexp_count(col, F.lit(r"\S+"))


def word_count(col: Column) -> Column:
    """BPE-ish word-piece count: alnum runs and single punctuation marks."""
    return F.regexp_count(col, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))


def stopword_count(col: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pattern))


def quality_score(col: Column) -> Column:
    """Length/punctuation/stopword-based quality heuristic in [0, 1]:
    down-weights very short docs, punctuation-heavy docs, and docs with no
    common-word hits."""
    n_tok = token_count(col).cast("double")
    n_punct = punct_count(col).cast("double")
    n_stop = stopword_count(col).cast("double")
    length_part = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(n_punct / F.greatest(n_tok, F.lit(1.0)), F.lit(1.0))
    stop_part = F.least(n_stop / F.greatest(n_tok, F.lit(1.0)) * F.lit(5.0), F.lit(1.0))
    return F.round((length_part + punct_part + stop_part) / F.lit(3.0), 6)


def lang_guess(col: Column) -> Column:
    """Argmax of per-language stopword hit counts; ties break by language
    code order (deterministic)."""
    hits = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("unknown")
    for lang in sorted(STOPWORDS, reverse=True):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased alnum-only text
    (md5 so the DuckDB oracle computes the identical digest)."""
    return F.md5(F.regexp_replace(F.lower(col), r"[^a-z0-9]", ""))

