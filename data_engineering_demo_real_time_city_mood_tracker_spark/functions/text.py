"""Text-analysis primitives as Column expressions (JVM-side, no UDFs).

These back the LLM-data-pipeline operators (dedup, lang-id, quality,
token counting, fingerprinting). Everything is deterministic and
engine-portable: hashing uses md5 hex strings (identical in Spark and
the DuckDB oracle), "first" style picks use explicit orderings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal stopword lists per language for the n-gram/stopword-hit
# language-ID heuristic. Chosen to be disjoint across languages.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "with", "fast", "slow"],
    "es": ["el", "la", "los", "con", "por", "para"],
    "de": ["der", "die", "das", "und", "mit", "nicht"],
    "fr": ["le", "les", "des", "avec", "pour", "dans"],
    "zh": ["de5", "shi4", "zai4", "he2", "you3", "wo3"],
}


def normalize(text: Column) -> Column:
    """lowercase, strip non [a-z0-9 ], collapse whitespace, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, r" +", " ")
    return F.trim(t)


def normalize_sql(text: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9 ]', ' ', 'g'),"
        f" ' +', ' ', 'g'))"
    )


def hex4(col: Column, off: int, mod: int) -> Column:
    """4 hex digits of ``col`` starting at 1-based ``off`` as an integer
    mod ``mod``; ``hex4(F.md5(x), 1, n)`` is the md5 token-bucket hash."""
    return F.conv(F.substring(col, off, 4), 16, 10).cast("long") % mod


def hex4_sql(col: str, off: int, mod: int) -> str:
    """DuckDB rendering of :func:`hex4`."""
    d = [
        f"(strpos('0123456789abcdef', substr({col}, {off + i}, 1)) - 1)"
        for i in range(4)
    ]
    return f"(((({d[0]} * 16 + {d[1]}) * 16 + {d[2]}) * 16 + {d[3]}) % {mod})"


def tokens(text: Column) -> Column:
    """whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize(text), " ")


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """k-word shingles from an ALREADY-MATERIALIZED token array column.

    Callers must bind the token array with a prior projection
    (``withColumn("_toks", tokens(text))``): referencing ``tokens(text)``
    directly here would re-evaluate the split+regex chain once per
    lambda element inside transform/slice (measured 15× slower at
    sf0.1 — Spark does not CSE across higher-order-function lambdas).
    """
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text: Column, k: int) -> Column:
    """array of k-word shingles (space-joined); whole text if < k words.

    Convenience form for one-off use; hot paths should materialize the
    token array first and call :func:`shingles_from_tokens` (see its
    docstring for why).
    """
    return shingles_from_tokens(tokens(text), k)


def word_shingles_sql(text: str, k: int) -> str:
    """DuckDB rendering of :func:`word_shingles` (same values)."""
    toks = f"string_split({normalize_sql(text)}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def fingerprint(text: Column) -> Column:
    """md5 of the normalized text — exact-dup key (engine-portable)."""
    return F.md5(normalize(text))


def lang_scores_from_tokens(toks: Column) -> dict[str, Column]:
    """stopword-hit count per language from a materialized token array
    (bind with withColumn first — avoids re-running the tokenizer once
    per language column)."""
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
