"""Text expression builders: tokenization, shingling, one MinHash band,
Hamming distance and fingerprints. Everything is a Column expression over
built-in functions (``split``/``transform``/``xxhash64``) — whole-stage-
codegen eligible, no Python in the executor hot path. The Arrow-batched
kernels for the hot dedup paths live in functions/fast_text.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, trim, collapse
    internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams as array<string>. Empty array when the doc has
    fewer than n tokens (guards sequence() against negative ranges)."""
    joined = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, joined).otherwise(F.array().cast("array<string>"))
    )


def minhash_band_hash(shingles: Column, band: Column, rows_per_band: int) -> Column:
    """Fused MinHash+banding for explode-first LSH: given a band index
    column, compute that band's rows_per_band seed-minima directly from the
    shingle set and hash them. The permutation family is seeded xxhash64:
    seeds band·r+1 … band·r+r, so the bands together cover seeds 1..k of a
    k-permutation signature. Exploding band indices first and computing
    one band per row costs exactly 1× the signature — slicing an inline
    signature expression instead lets CollapseProject recompute the whole
    signature per band."""
    minima = F.array(
        *[
            F.array_min(F.transform(shingles, lambda sh: F.xxhash64(sh, band * rows_per_band + j + 1)))
            for j in range(rows_per_band)
        ]
    )
    return F.xxhash64(F.concat_ws(",", F.transform(minima, lambda v: v.cast("string"))))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a XOR b)
    via bit_count (built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def bow_fingerprint(col: Column) -> Column:
    """Order-insensitive bag-of-words document fingerprint:
    md5 of the sorted distinct token list. Cross-engine stable (md5 of the
    same utf-8 string)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))).cast("binary"))
