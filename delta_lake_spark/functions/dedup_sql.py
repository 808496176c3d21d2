"""The generated dedup expressions, as Spark SQL text.

Each MinHash, SimHash, winnowing and shingle expression is defined once,
here, as a string that the public builders in ``functions/dedup.py`` (and
``similarity.hyperplane_signature``) parse with a single ``F.expr``.  Built
Column by Column through the Python API, one of these trees (16
permutations x polynomial hashes, 32-counter folds) cost hundreds of Py4J
round-trips per query build; one SQL string costs one.

Only the DuckDB oracle mirrors in ``queries/dedup.py`` restate these
definitions, so a semantic change here must land there too.
``tests/test_dedup_builders.py`` pins these against a Python reference;
the oracle sweep compares them with the DuckDB mirrors.
"""

from __future__ import annotations

import random

MINHASH_PRIME = 1_000_003
MINHASH_K = 16
MINHASH_BAND_SIZE = 4

# Fixed MinHash permutation coefficients (seeded; shared with the SQL oracle).
_rng = random.Random(42)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_PRIME), _rng.randrange(0, MINHASH_PRIME)) for _ in range(MINHASH_K)
]

_POLY_COEFS = [31**p for p in range(7, -1, -1)]  # 31^7 .. 31^0


def sql_arg(arg: str, builder: str) -> str:
    """A builder's input: a column name or SQL expression string."""
    if not isinstance(arg, str):
        raise TypeError(
            f"{builder}() takes a column name or SQL expression as str, "
            f"not {type(arg).__name__}"
        )
    return arg


# Spark SQL text for \s+ : backslash must survive the SQL string literal.
_WS = r"'\\s+'"


def normalize_sql(col: str) -> str:
    """Lower-case, every non-[a-z0-9] run to one space, trimmed (the
    SQL form of text.normalize_text)."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9]+', ' '), {_WS}, ' '))"
    )


def tokens_sql(expr: str) -> str:
    """Whitespace tokens; empty string -> empty array (not [''])."""
    return (
        f"CASE WHEN trim({expr}) = '' THEN CAST(array() AS array<string>) "
        f"ELSE split(trim({expr}), {_WS}) END"
    )


def shingle_hash_sql(var: str) -> str:
    """Polynomial hash of the first 8 chars: sum ascii(c_i) * 31^(8-i) as
    bigint.  ascii('') == 0 in both Spark and DuckDB, so short strings pad
    with zeros."""
    terms = " + ".join(
        f"CAST(ascii(substring({var}, {i}, 1)) AS BIGINT) * {coef}"
        for i, coef in enumerate(_POLY_COEFS, start=1)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def let_sql(bound: str, body: str, var: str) -> str:
    """SQL let-binding: evaluate ``bound`` ONCE per row and reference it as
    ``var`` inside ``body``.  ``transform`` over a one-element array binds
    the value to a lambda variable; higher-order lambdas otherwise inline
    the bound expression TEXTUALLY, so an expression referenced inside a
    per-element lambda re-evaluates per element (measured 4.5x on the
    shingle pipeline: the tokens split re-ran for every element_at)."""
    return f"element_at(transform(array({bound}), {var} -> {body}), 1)"


def _shingle_transform_sql(toks: str, n: int) -> str:
    # CASE guard, not greatest(...,0): Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0] (unlike DuckDB's empty range(1, 1)), so a <n-token
    # document crashed on element_at(__t, 0) under ANSI. <n tokens -> [].
    parts = ", ".join(f"element_at(__t, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size(__t) >= {n} THEN "
        f"transform(sequence(1, size(__t) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS array<string>) END".replace("__t", toks)
    )


def token_shingles_sql(col: str, n: int = 3) -> str:
    """Distinct n-token shingles (space-joined) of the normalized text.  The
    tokens array is let-bound so normalize+split runs once per row, not
    once per element_at inside the shingle lambda."""
    toks = tokens_sql(normalize_sql(col))
    return let_sql(
        toks, f"array_distinct({_shingle_transform_sql('__tk', n)})", "__tk"
    )


def token_shingle_seq_sql(col: str, n: int = 3) -> str:
    """n-token shingles in document order, duplicates kept — the rolling
    sequence winnowing needs (order-stable across engines, unlike distinct
    sets)."""
    return let_sql(
        tokens_sql(normalize_sql(col)),
        _shingle_transform_sql("__tk", n),
        "__tk",
    )


def hashed_shingles_sql(shingles: str) -> str:
    return f"transform({shingles}, s -> {shingle_hash_sql('s')})"


def minhash_sig_sql(hashes: str) -> str:
    """Array of MINHASH_K minima of (a*h + b) mod p over a pre-hashed
    shingle array."""
    mins = ", ".join(
        f"array_min(transform({hashes}, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in MINHASH_COEFFS
    )
    return f"array({mins})"


def minhash_signature_sql(shingles: str) -> str:
    """MinHash signature of a shingle array; each shingle is hashed once
    (let-bound), then the 16 minima are integer arithmetic."""
    return let_sql(hashed_shingles_sql(shingles), minhash_sig_sql("__hs"), "__hs")


def band_keys_sql(sig: str, band_size: int = MINHASH_BAND_SIZE) -> str:
    """LSH band keys: array of (band, key) structs; docs sharing any band
    key are near-dup candidates.  The ``band_size`` knob trades candidate
    fan-out for recall (d14 measures this empirically)."""
    n_bands = MINHASH_K // band_size
    bands = []
    for b in range(n_bands):
        parts = ", ".join(
            f"CAST(element_at({sig}, {b * band_size + j + 1}) AS STRING)"
            for j in range(band_size)
        )
        bands.append(f"named_struct('band', {b}, 'key', concat_ws('-', {parts}))")
    return f"array({', '.join(bands)})"


def simhash32_sql(col: str) -> str:
    """32-bit SimHash over the distinct token set (hash = polynomial-8).
    Bit k of the result is 1 iff sum over tokens of (2*bit_k(h)-1) > 0.

    Single pass: ONE ``aggregate`` fold over the token-hash array carrying
    an ``array<long>[32]`` of per-bit counters (each step zips the
    accumulator with the bit-position constants), instead of 32 separate
    folds — same per-bit integer sums, 32x less array traversal."""
    bit_idx = "array(" + ", ".join(str(k) for k in range(32)) + ")"
    pow2 = "array(" + ", ".join(f"CAST({1 << k} AS BIGINT)" for k in range(32)) + ")"
    toks = f"array_distinct({tokens_sql(normalize_sql(col))})"
    hashes = hashed_shingles_sql(toks)
    sums = (
        f"aggregate({hashes}, array_repeat(CAST(0 AS BIGINT), 32), "
        f"(acc, h) -> zip_with(acc, {bit_idx}, (s, k) -> s + getbit(h, k) * 2 - 1))"
    )
    weighted = (
        f"zip_with({sums}, {pow2}, "
        f"(s, p) -> CASE WHEN s > 0 THEN p ELSE CAST(0 AS BIGINT) END)"
    )
    return f"aggregate({weighted}, CAST(0 AS BIGINT), (a, x) -> a + x)"


def winnow_sql(col: str, window: int = 4) -> str:
    """Winnowing document fingerprint set (Schleimer et al., MOSS): the
    distinct minima of a rolling window over the in-order token-shingle
    hash sequence.  Robust to local edits — shared fingerprints localize
    near-duplicate regions; integer-only, oracle-reproducible.

    The hash array is let-bound: the windowed-minima lambda references it
    per window position, which without the binding re-ran the whole
    tokenize+hash pipeline per position (quadratic in document length)."""
    hashes = hashed_shingles_sql(token_shingle_seq_sql(col))
    return let_sql(
        hashes,
        (
            # <window shingles -> [] (sequence(1, 0) descends in Spark)
            f"CASE WHEN size(__hs) >= {window} THEN "
            f"array_distinct(transform("
            f"sequence(1, size(__hs) - {window - 1}), "
            f"i -> array_min(slice(__hs, i, {window})))) "
            f"ELSE CAST(array() AS array<bigint>) END"
        ),
        "__hs",
    )
