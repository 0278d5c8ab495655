"""Column-expression building blocks for text analytics.

Everything here is JVM-side (built-in pyspark.sql.functions — no
Python UDFs) so it whole-stage-codegens and survives a 100× scale-up.
Each helper has an exact DuckDB-SQL mirror used by the driver's
oracle checks (see __spark_entry__.py); cross-engine parity dictates
the md5-based 60-bit hash (both engines lack a shared murmur/xxhash).

One rule for the higher-order functions (``transform``, ``filter``,
``aggregate``, ``zip_with``): a lambda re-evaluates every non-lambda
expression it captures, once per element. A lambda over a document's
tokens that captures ``tokens(col)`` re-splits the document for every
token, which is quadratic in its length. Pass the array in as a
function argument (evaluated once per row) or bind it to a lambda
variable instead, so that a lambda body holds no ``split``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 60-bit hash domain + Mersenne-ish modulus for permutation hashing:
# operands stay < 2^60 so BIGINT arithmetic never overflows in either
# engine.
HASH_PRIME = 1_000_000_007

ENGLISH_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
    "with", "as", "by", "at", "from", "that", "this", "it", "are",
]

GERMAN_STOPWORDS = [
    "der", "die", "das", "und", "oder", "von", "zu", "im", "ist", "auf",
    "für", "mit", "als", "bei", "aus", "dass", "dies", "es", "sind", "ein",
]

SPANISH_STOPWORDS = [
    "el", "la", "los", "las", "un", "una", "y", "o", "de", "en",
    "es", "que", "por", "con", "para", "del", "se", "su", "al", "como",
]

FRENCH_STOPWORDS = [
    "le", "la", "les", "un", "une", "et", "ou", "de", "des", "du",
    "en", "est", "que", "qui", "pour", "dans", "sur", "au", "avec", "ne",
]

# CJK Unified Ideographs (the BMP block) — stopword votes are useless
# for unsegmented text, so Chinese detection is a character-class
# ratio instead. \uXXXX escapes resolve to literal chars in Python, so
# the same class string compiles identically under Java regex and RE2.
CJK_CLASS = "[一-鿿]"


def tokens(col) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def md5_long(col) -> Column:
    """Deterministic 60-bit integer hash shared with DuckDB:
    CAST(CONV(SUBSTR(MD5(x),1,15),16,10) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(col, n: int = 3) -> Column:
    """n-word shingles (space-joined) as an array column, built with
    higher-order functions only: the k-th shingle zips the k-th
    tokens of n copies of the token array, each shifted by one. The
    array is split once and bound to a lambda variable, so the cost
    per document is linear in its token count."""
    def shingles(toks: Column) -> Column:
        m = F.size(toks) - n + 1
        grams = F.slice(toks, 1, m)
        for j in range(1, n):
            grams = F.zip_with(
                grams, F.slice(toks, j + 1, m),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        # fewer than n tokens (or NULL text): no shingles
        return F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens(col)), shingles), 1)


def stopword_count(col, stopwords: list[str]) -> Column:
    toks = tokens(F.lower(col))
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def punct_count(col) -> Column:
    return (
        F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    ).cast("long")


def rolling_fingerprint(col) -> Column:
    """Polynomial rolling hash over tokens (mod HASH_PRIME): a
    document fingerprint both engines compute identically via
    fold/list_reduce. h = (h*31 + token_hash%P) % P, sequential."""
    tok_hashes = F.transform(tokens(col), lambda t: md5_long(t) % HASH_PRIME)
    return F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % HASH_PRIME,
    )
