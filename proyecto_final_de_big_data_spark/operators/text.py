"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All core paths are built-in column expressions (JVM-side, codegen'd) —
no Python UDFs — so they scale to 100 TB of documents as ordinary
projections over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(col: str | Column) -> Column:
    """Whitespace token count as chars - chars_without_spaces + 1.

    Chosen over regex split so the oracle (DuckDB) can reproduce it with
    the same two length() calls — and it's the cheapest possible scan.
    Empty strings count as 0.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.length(c) - F.length(F.regexp_replace(c, " ", "")) + 1
    )


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token count: split on word boundaries / punctuation,
    the regex analogue of a BPE pre-tokenizer pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"[\s\p{Punct}]+"), lambda t: F.length(t) > 0))


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[^.!?,;:]", "")) / F.length(c)


def digit_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[^0-9]", "")) / F.length(c)


def quality_score(text_col: str | Column) -> Column:
    """Heuristic quality in [0,1]: penalize very short docs, high
    punctuation/digit density. Deterministic, SQL-expressible."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    length_term = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    clean_term = F.lit(1.0) - F.least((punct_ratio(c) + digit_ratio(c)) * 5, F.lit(1.0))
    return (length_term * 0.5 + clean_term * 0.5).alias("quality")


# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de ", " que "],
    "fr": [" le ", " la ", " et ", " les "],
    "de": [" der ", " die ", " und ", " das "],
    "zh": ["的", "是", "了"],
}


def lang_guess(col: str | Column) -> Column:
    """First-match stopword-marker language guess; 'und' when nothing hits.

    A when-chain (deterministic order: en, es, fr, de, zh) so the oracle
    can mirror it as a CASE of LIKE clauses.
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    expr: Column | None = None
    for lang, markers in LANG_MARKERS.items():
        hit = None
        for m in markers:
            clause = padded.contains(m)
            hit = clause if hit is None else hit | clause
        expr = F.when(hit, lang) if expr is None else expr.when(hit, lang)
    assert expr is not None
    return expr.otherwise("und")


def fingerprint(col: str | Column, n_hex: int = 16) -> Column:
    """Deterministic 64-bit-ish content fingerprint: md5 prefix.

    md5 is content-defined and engine-portable (DuckDB computes the same
    digest), unlike Spark's xxhash64 whose seed/impl is engine-local.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c), 1, n_hex)
