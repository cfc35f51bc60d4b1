"""Text-analysis functions for the training-data pipeline surface.

JVM-side Column expressions wherever possible (codegen'd, no Python in the hot
path); pandas UDFs only for genuinely non-expressible ops (fingerprint).

Includes the reference's content classifier / quality score
(processor.py:177-236) plus the large-scale pipeline ops the engine adds:
language-ID (stopword heuristic), quality ratios, token counting, and a
rolling-hash document fingerprint.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# content-type patterns (processor.py:181-186); matched case-insensitively
CONTENT_PATTERNS = (
    ("article", "article|post|story|news"),
    ("product", "product|price|\\$|€|£"),
    ("landing", "welcome|homepage|main"),
    ("listing", "category|archive|list|index"),
)

# tiny per-language marker sets for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "des"),
    "es": ("el", "la", "los", "que", "de", "es", "por", "con", "una", "para"),
    "it": ("il", "la", "che", "di", "e", "per", "un", "con", "del", "sono"),
}


def regexp_ci_count(text: Column, pattern: str) -> Column:
    """count of case-insensitive regex matches (len(re.findall(p, s, re.I)))."""
    return F.regexp_count(text, F.lit(f"(?i){pattern}"))


def content_type_col(text: Column) -> Column:
    """A7 argmax classification (processor.py:193-201): the reference takes
    the first pattern (dict order) whose count strictly exceeds the running
    max, starting from 0 — so all-zero counts yield 'unknown' and ties keep
    the earlier pattern."""
    # strictly-greater argmax via ONE ordered struct comparison: the previous
    # fold of nested whens re-embedded every earlier count expression in each
    # later branch (the k-th pattern's count appeared ~2^(K-k) times in the
    # final tree), defeating codegen subexpression sharing.  greatest() over
    # (count, -index, name) structs evaluates each regexp_count ONCE; the
    # sentinel ranks above any zero-count pattern (ni=1 > -k) and below any
    # positive count, reproducing strictly-greater/first-wins exactly.
    cands = [
        F.struct(
            F.lit(0).alias("c"), F.lit(1).alias("ni"), F.lit("unknown").alias("n")
        )
    ]
    for i, (name, pat) in enumerate(CONTENT_PATTERNS):
        cands.append(
            F.struct(
                regexp_ci_count(text, pat).alias("c"),
                F.lit(-i).alias("ni"),
                F.lit(name).alias("n"),
            )
        )
    return F.greatest(*cands)["n"]


def quality_score_col(
    text: Column, has_h1: Column, description: Column, keywords: Column
) -> Column:
    """A8 quality score (processor.py:217-236): multiplicative factors,
    capped at 2.0."""
    length = F.length(F.coalesce(text, F.lit("")))
    score = F.lit(1.0)
    score = score * F.when(length > 1000, F.lit(1.2)).when(
        length < 100, F.lit(0.8)
    ).otherwise(F.lit(1.0))
    score = score * F.when(has_h1, F.lit(1.1)).otherwise(F.lit(1.0))
    has_meta = (
        description.isNotNull()
        & (F.length(description) > 0)
        & keywords.isNotNull()
        & (F.size(keywords) > 0)
    )
    score = score * F.when(has_meta, F.lit(1.1)).otherwise(F.lit(1.0))
    return F.least(score, F.lit(2.0))


def word_count_col(text: Column) -> Column:
    """C14: len(content.split()) (processor.py:209).  Python's str.split()
    yields [] for empty/whitespace-only strings while Spark's split yields
    [''], so empty tokens are filtered out — empty text counts 0, not 1."""
    return F.size(
        F.filter(F.split(F.trim(text), "\\s+"), lambda w: w != F.lit(""))
    )


def token_count_col(text: Column) -> Column:
    """BPE-ish token estimate: word-ish pieces + standalone punctuation."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]"), F.lit(0))
    )


def _marker_count(text_lower: Column, words: tuple[str, ...]) -> Column:
    pat = "(^| )(" + "|".join(words) + ")( |$)"
    # padded-word counting via split on the marker set
    return F.size(
        F.regexp_extract_all(text_lower, F.lit("\\b(" + "|".join(words) + ")\\b"), F.lit(0))
    )


def lang_id_col(text: Column) -> Column:
    """Stopword-marker language heuristic (argmax of marker hits; 'und' =
    undetermined when nothing matches)."""
    # same strictly-greater argmax-by-struct shape as content_type_col: each
    # marker scan is evaluated once instead of being duplicated through a
    # nested-when fold (5 regexp_extract_all scans per row, not O(2^5))
    lower = F.lower(text)
    cands = [
        F.struct(
            F.lit(0).alias("c"), F.lit(1).alias("ni"), F.lit("und").alias("n")
        )
    ]
    for i, (lang, words) in enumerate(LANG_MARKERS.items()):
        cands.append(
            F.struct(
                _marker_count(lower, words).alias("c"),
                F.lit(-i).alias("ni"),
                F.lit(lang).alias("n"),
            )
        )
    return F.greatest(*cands)["n"]


# ---------------------------------------------------------------------------
# document fingerprint (rolling hash) — pandas UDF (not SQL-expressible)
# ---------------------------------------------------------------------------
_FP_BASE = 1_000_003
_FP_MOD = (1 << 61) - 1


def fingerprint(text: str) -> int:
    """Polynomial rolling hash over the whole document (deterministic)."""
    h = 0
    for b in text.encode("utf-8"):
        h = (h * _FP_BASE + b + 1) % _FP_MOD
    return h


@F.pandas_udf(T.LongType())
def fingerprint_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: fingerprint(t) if t is not None else None)
