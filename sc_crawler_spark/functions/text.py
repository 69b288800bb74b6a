"""Text-analysis expressions for the training-data pipeline.

All native Column expressions (split/transform/aggregate stay JVM-side in
whole-stage codegen) — the 100 TB path never crosses into Python here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic per-language marker lexicons for the n-gram/stopword
# language-ID heuristic. Public common function words.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "que"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "he2", "wo3", "ni3", "ta1", "men5"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a token array.

    Built by zipping the array with its own shifted slices
    (``zip_with(toks, toks[2:], concat)`` etc.) instead of
    ``transform(sequence, i -> slice(toks, i, k))`` — Catalyst inlines
    column arguments into lambda bodies, so the slice form re-evaluates
    the whole token array once PER SHINGLE (O(n^2) per doc; measured 10x
    slowdown on the dedup pipeline). The zip form touches ``toks`` only
    O(k) times per row. Docs shorter than k tokens yield one whole-text
    shingle (matching the oracle's clamped-slice semantics).
    """
    n = F.size(toks)
    big = F.lit(1 << 30)
    zipped = toks
    for j in range(2, k + 1):
        shifted = F.slice(toks, j, big)
        zipped = F.zip_with(zipped, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.slice(zipped, 1, F.greatest(n - F.lit(k - 1), F.lit(1)))
    short_doc = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(n < k, short_doc).otherwise(full))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased).

    Strips via ``translate`` (a per-char map) rather than
    ``regexp_replace(lower, "[a-z0-9 ]", "")`` — same deleted character
    set (both are the literal ASCII class), no regex engine per row
    (r17: quality projection 5.2 s -> regex was most of it at 64x)."""
    lower = F.lower(text)
    stripped = F.translate(lower, "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    return F.length(stripped) / F.length(lower)


def quality_score(text: Column, toks: Column | None = None) -> Column:
    """Composite heuristic quality in [0,1]: favors 50-10k chars, low
    punctuation density, and a plausible mean word length (3-12).

    Pass a materialized token-array column as ``toks`` on hot paths to
    share one split across the projection (see shingles_from_tokens)."""
    n = F.length(text)
    len_score = F.when(n < 50, n / 50.0).when(n > 10000, F.lit(0.5)).otherwise(F.lit(1.0))
    mwl = n / (F.size(toks) if toks is not None else token_count(text))
    word_score = F.when((mwl >= 3) & (mwl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    from .scalars import dround

    return dround((len_score + word_score + punct_score) / 3.0, 6)


def rolling_fingerprint(toks: Column, k: int = 5) -> Column:
    """Document fingerprint: lexicographic-min MD5 of the k-word shingles
    (a winnowing-style rolling-hash selector; min over fixed-width hex ==
    min over the hash integer, so plain string MIN is exact).

    Takes a materialized token-array column (see shingles_from_tokens)."""
    return F.array_min(
        F.transform(shingles_from_tokens(toks, k), lambda s: F.md5(s))
    )
