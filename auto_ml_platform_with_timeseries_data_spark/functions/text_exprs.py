"""Reusable JVM-side column expressions for text processing.

Everything here is built from pyspark.sql.functions only — no UDFs — so
text operators stay inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column | str) -> Column:
    """lower → collapse whitespace → trim. The canonical form for exact
    dedup and fingerprinting; mirrored 1:1 in the DuckDB oracles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of already-normalized text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def word_ngrams(tokens_col: Column, n: int = 2) -> Column:
    """Word n-gram shingles as space-joined strings. Empty array when the
    document has fewer than n tokens (explicit step=1 in sequence —
    Spark would otherwise infer a NEGATIVE step when size < n)."""
    toks = tokens_col
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n, F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two DISTINCT-element arrays:
    |A∩B| / (|A| + |B| − |A∩B|) — the union-free form so both engines
    compute the identical expression."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)
