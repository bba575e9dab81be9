"""Tokenization and k-shingling as Column expressions (JVM-side, codegen'd).

Reference analog: sliding-window "piece" extraction over pitch vectors
(reference ``lsh.py:40-65`` PLSH window 60/shift 15/stride 2;
``lsh.py:68-121`` NLSH window 10/shift 1). The reference joins a piece's
values with NO separator (``lsh.py:131-132``), which is ambiguous (SURVEY.md
Q6); we join with a single space — tokens never contain whitespace after
tokenization, so the mapping shingle→string is injective.

These are the *oracle-checkable* JVM implementations. The scale pipeline
additionally has an Arrow-vectorized shingle+hash kernel in
operators/minhash.py (north_star: pandas/Arrow UDFs, no per-row Python).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# Java's \s (used by Spark's split) is ASCII-only: [ \t\n\x0B\f\r]. The
# Python-kernel tokenizer must match it exactly — ``str.split()`` splits on
# ALL Unicode whitespace (U+00A0, U+2003, ...) and would diverge from the
# builtin/oracle path on such inputs. ``str.isascii`` gates a C-speed
# fast path — but even within ASCII, str.split() also treats the four
# separator control chars \x1c-\x1f (FS/GS/RS/US) as whitespace while
# Java's \s does not, so the fast path additionally requires their absence.
_ASCII_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    """Python-side tokenizer, semantics identical to ``tokens_col``
    (Spark split on Java ``\\s+`` with empty strings dropped)."""
    if not text:
        return []
    if (text.isascii() and "\x1c" not in text and "\x1d" not in text
            and "\x1e" not in text and "\x1f" not in text):
        return text.split()
    return [t for t in _ASCII_WS_RE.split(text) if t]


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens, empty strings dropped.

    DuckDB oracle equivalent:
      list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def shingles_col(tokens: Column, k: int) -> Column:
    """All k-token shingles (window shift 1), space-joined.

    Docs shorter than k tokens yield an empty array (the reference skips
    empty-signature docs, ``lsh.py:252``; empty-pitch rows are dropped at
    load, ``json_manipulator.py:213``).
    """
    n = F.size(tokens)
    idx = F.sequence(F.lit(0), n - k)
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(tokens, i + 1, k), " "))
    return F.when(n >= k, shingles).otherwise(F.array().cast("array<string>"))


def distinct_shingles_col(tokens: Column, k: int) -> Column:
    return F.array_distinct(shingles_col(tokens, k))


# ---- DuckDB oracle SQL builders (same semantics, DuckDB dialect) ----

def sql_tokens(text_expr: str) -> str:
    return f"list_filter(string_split_regex({text_expr}, '\\s+'), x -> x <> '')"


def sql_shingles(tokens_expr: str, k: int) -> str:
    """DuckDB list of space-joined k-grams (1-based inclusive list slicing)."""
    return (
        f"CASE WHEN len({tokens_expr}) >= {k} THEN "
        f"list_transform(range(1, len({tokens_expr}) - {k} + 2), "
        f"i -> array_to_string(({tokens_expr})[i:i+{k - 1}], ' ')) "
        f"ELSE [] END"
    )
