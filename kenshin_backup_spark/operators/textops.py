"""Text analysis operators (SURVEY.md §2.9 X5) — language id, quality
scoring, token counting, fingerprinting.

Everything is native Spark SQL expressions over the ``documents`` table —
regexp counts, array stats, when-chains — fully codegen'd; no Python in the
row path. Each has a matching DuckDB-expressible form, so all of these are
oracle-checked (not rows-only).

Scale notes (100 TB): all ops are embarrassingly parallel scans (no
shuffle); the aggregations that follow group on low-cardinality keys
(lang/source) with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kenshin_backup_spark.operators.dedup import fingerprint, normalize_text

#: ASCII token: maximal run of alphanumerics. Same regex semantics in
#: Java (Spark) and RE2 (DuckDB) — CJK and punctuation act as separators
#: in both, so counts agree.
TOKEN_RE = "[A-Za-z0-9]+"


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_RE)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-ish proxy token count: words plus 1 per 4 chars of long words
    (long words split into subword units, as a byte-pair encoder would).
    Deterministic arithmetic only — matches the DuckDB mirror exactly."""
    c = F.col(col) if isinstance(col, str) else col
    words = token_count(c)
    chars = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]+", "")).cast("long")
    return (words + F.floor((chars - words * 4) / 4).cast("long")).cast("long")


#: Tiny multilingual stopword inventory for the language-id heuristic.
#: Real deployments use fastText/cld3; the *Spark plumbing* (scan-side
#: scoring, argmax by when-chain) is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def lang_marker_score(col: Column | str, lang: str) -> Column:
    """Count of language-marker words (word-boundary regexp count)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat)).cast("long")


def quality_features(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Standard quality-scoring features, one column each:
    n_tokens, n_chars_alnum, avg_word_len (quantized-exact), stop_ratio."""
    c = F.col(text_col)
    words = token_count(c)
    alnum = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]+", "")).cast("long")
    stop = lang_marker_score(c, "en")
    return (
        df.withColumn("n_tokens", words)
        .withColumn("n_chars_alnum", alnum)
        .withColumn(
            "avg_word_len",
            F.when(words > 0, (alnum.cast("double") / words)).cast("double"),
        )
        .withColumn(
            "stop_ratio",
            F.when(words > 0, (stop.cast("double") / words)).cast("double"),
        )
    )


def doc_fingerprint(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """md5 content fingerprint + a 64-bit rolling-style hash (xxhash64 of
    the normalized text) — document identity for incremental pipelines."""
    return df.withColumn("fp_md5", fingerprint(text_col)).withColumn(
        "fp_xx64", F.xxhash64(normalize_text(text_col))
    )
