"""Benchmark decontamination: flag documents containing probe n-grams.

Standard training-data-pipeline op (no reference analogue — the engine-side
generalization of ``enum`` membership, Validator.kt:625-630, to content
n-grams): a training corpus must not contain benchmark/eval text, so each
document is checked against a probe set of n-grams drawn from the protected
sets.

Scale design: the probe set is tiny (benchmarks, not the corpus), so it
compiles into the plan as a LITERAL array — no join, no shuffle, no
broadcast var; a single codegen'd ``array_intersect`` per row over the
document's distinct shingles. 100 TB of documents stream through
map-side-only. For probe sets too big for a literal (> ~10k), switch to a
broadcast ``left_semi`` join on exploded shingles.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_skema_spark.operators.dedup import shingles

# Java \s, NOT Python \s: shingles() normalizes documents JVM-side with
# regexp_replace(\s+), which is ASCII-only — a probe normalized with
# Python's Unicode-aware \s would collapse NBSP/ideographic spaces the
# document side keeps as word characters, making such probes silently
# inert (review r05c)
_JAVA_WS = " \t\n\x0b\f\r"
_WS = re.compile(f"[{_JAVA_WS}]+")


def _hits(text: Column, probes: list[str], n: int) -> Column:
    """Contamination predicate: the document's distinct ``n``-gram
    shingles intersected with the literal probe array.

    Probes are normalized HERE into the shingle normal form (lowercase,
    whitespace collapsed to single spaces, trimmed — exactly what
    ``shingles`` does to the document) rather than trusting a documented
    precondition: a case-mismatched or double-spaced probe would pass the
    word-count guard yet never match any shingle, making the gate silently
    inert — the exact failure the guard exists to prevent (review r05).

    A probe whose NORMALIZED word count differs from ``n`` can still never
    match a fixed-n shingle, so that raises.
    """
    norm = [_WS.sub(" ", p.strip(_JAVA_WS)).lower() for p in probes]
    for p, p_norm in zip(probes, norm):
        if not p_norm:
            # ''.split(' ') == [''] would sneak an empty probe past the
            # n=1 word count — and '' matches the degenerate '' shingle
            # every empty document produces, flagging all empty-text rows
            # as contaminated (review r05c)
            raise ValueError(
                f"probe {p!r} is empty after normalization — an empty "
                "probe cannot identify benchmark text; drop it from the "
                "probe set")
        w = len(p_norm.split(" "))
        if w != n:
            raise ValueError(
                f"probe {p!r} has {w} words but shingles are exact "
                f"{n}-grams — it could never match and the gate would be "
                f"silently inert; re-shingle the probe source into "
                f"{n}-grams (or call with n={w})")
    return F.array_intersect(shingles(text, n),
                             F.array(*[F.lit(p) for p in norm]))


def contamination_flags(df: DataFrame, text_col: str, id_col: str,
                        probes: list[str], *, n: int = 3) -> DataFrame:
    """Per-document contamination verdict against probe word ``n``-grams
    (probes are normalized into the shingle normal form here; each must be
    exactly ``n`` words after normalization). Output:
    ``(id, contaminated, matched)`` where ``matched`` is the sorted
    '|'-joined hit list (hash-comparable scalar)."""
    hits = _hits(F.col(text_col), probes, n)
    # null text -> null shingles -> null hits: the verdict must be a real
    # boolean (False — no content, no contamination), not a NULL that
    # downstream `filter(~contaminated)` silently drops
    return df.select(
        F.col(id_col),
        F.coalesce(F.size(hits) > 0, F.lit(False)).alias("contaminated"),
        F.coalesce(F.array_join(F.sort_array(hits), "|"), F.lit(""))
        .alias("matched"),
    )

