"""Each generated dedup/LSH expression against a pure-Python reference.

The builders in functions/dedup.py and functions/similarity.py are SQL text
(functions/dedup_sql.py).  The references below restate each definition in
plain Python, so a change to the SQL that moves a value fails here, on the
edge inputs (NULL, empty, whitespace only, fewer than n tokens,
punctuation-joined, unicode, tokens longer than the 8-char hash window),
and not only in an oracle sweep over the corpus.
"""

from __future__ import annotations

import re
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from delta_lake_spark.functions import dedup
from delta_lake_spark.functions.dedup_sql import (
    MINHASH_BAND_SIZE,
    MINHASH_COEFFS,
    MINHASH_K,
    MINHASH_PRIME,
    normalize_sql,
    tokens_sql,
)
from delta_lake_spark.functions.similarity import hyperplane_signature, hyperplanes

TEXTS = [
    None,
    "",
    "   ",
    " \t\n ",
    "one two",
    "x !!! y",
    "alpha.beta.gamma.delta.epsilon.zeta",
    "Café naïve résumé über straße façade Ünïcødé",
    "supercalifragilistic expialidocious antidisestablishmentarianism "
    "floccinaucinihilipilification pneumonoultramicroscopic",
    "the cat sat on the mat the cat sat on the mat again and again",
    "A B C D E F G H I",
    "  Mixed   CASE, with-punctuation; and\ttabs\nnewlines  ",
]

VECS = [
    None,
    [],
    [1.0, -2.0, 0.5, 3.25],
    [0.1, 0.2, 0.3, 0.4],
    [-1e-3, 5.0, -7.5, 2.0],
    [0.0, 0.0, 0.0, 0.0],
    [1.0, None, 2.0, 3.0],  # a NULL element: every dot is NULL
    [1.0, 2.0],  # shorter than dim: zip_with pads with NULL
]
DIM = 4


# --------------------------------------------------------------------- #
# pure-Python references
# --------------------------------------------------------------------- #


def ref_normalize(s):
    if s is None:
        return None
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9]+", " ", s.lower())).strip(" ")


def ref_tokens(s):
    if s is None:
        return None
    return [] if s.strip(" ") == "" else re.split(r"\s+", s.strip(" "))


def ref_hash(s):
    """Polynomial-8: sum of code(c_i) * 31^(8-i) over the first 8 chars."""
    if s is None:
        return None
    return sum(ord(c) * 31 ** (7 - i) for i, c in enumerate(s[:8]))


def ref_shingles(text, n=3, distinct=True):
    toks = ref_tokens(ref_normalize(text))
    if toks is None or len(toks) < n:
        return []
    seq = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(seq)) if distinct else seq


def ref_minhash(shingles):
    hs = [ref_hash(s) for s in shingles or []]
    return [
        min(((a * h + b) % MINHASH_PRIME for h in hs), default=None)
        for a, b in MINHASH_COEFFS
    ]


def ref_band_keys(sig):
    sig = sig if sig is not None else [None] * MINHASH_K
    return [
        (
            b,
            "-".join(
                str(v)
                for v in sig[b * MINHASH_BAND_SIZE : (b + 1) * MINHASH_BAND_SIZE]
                if v is not None
            ),
        )
        for b in range(MINHASH_K // MINHASH_BAND_SIZE)
    ]


def ref_simhash(text):
    toks = ref_tokens(ref_normalize(text))
    if toks is None:
        return None
    hs = [ref_hash(t) for t in dict.fromkeys(toks)]
    return sum(
        1 << k for k in range(32) if sum(((h >> k) & 1) * 2 - 1 for h in hs) > 0
    )


def ref_winnow(text, window=4):
    hs = [ref_hash(s) for s in ref_shingles(text, distinct=False)]
    if len(hs) < window:
        return []
    return list(
        dict.fromkeys(min(hs[i : i + window]) for i in range(len(hs) - window + 1))
    )


def _dot(vec, plane):
    """Left-to-right fold from 0.0; NULL when an element is NULL or the
    lengths differ (zip_with pads the shorter side with NULL)."""
    if vec is None or len(vec) != len(plane) or None in vec:
        return None
    acc = 0.0
    for x, y in zip(vec, plane):
        acc = acc + x * y
    return acc


def ref_hyperplane(vec, dim=DIM, seed=7):
    out = 0
    for i, plane in enumerate(hyperplanes(dim, seed)):
        d = _dot(vec, plane)
        if d is not None and d > 0:
            out += 1 << i
    return out


def _f32(vec):
    if vec is None:
        return None
    return [None if x is None else struct.unpack("f", struct.pack("f", x))[0] for x in vec]


# --------------------------------------------------------------------- #
# one row per input, one collect per family
# --------------------------------------------------------------------- #

TEXT_CASES = {
    "normalize_sql": (
        lambda: F.expr(normalize_sql("text")),
        lambda r: ref_normalize(r["text"]),
    ),
    "normalize_sql/tokens_sql": (
        lambda: F.expr(tokens_sql(normalize_sql("text"))),
        lambda r: ref_tokens(ref_normalize(r["text"])),
    ),
    "shingle_hash": (
        lambda: dedup.shingle_hash("text"),
        lambda r: ref_hash(r["text"]),
    ),
    "token_shingles": (
        lambda: dedup.token_shingles("text"),
        lambda r: ref_shingles(r["text"]),
    ),
    "token_shingles/n=5": (
        lambda: dedup.token_shingles("text", 5),
        lambda r: ref_shingles(r["text"], 5),
    ),
    "token_shingle_seq": (
        lambda: dedup.token_shingle_seq("text"),
        lambda r: ref_shingles(r["text"], distinct=False),
    ),
    "token_shingle_seq/n=2": (
        lambda: dedup.token_shingle_seq("text", 2),
        lambda r: ref_shingles(r["text"], 2, distinct=False),
    ),
    "minhash_signature": (
        lambda: dedup.minhash_signature("sh"),
        lambda r: ref_minhash(r["sh"]),
    ),
    "band_keys": (
        lambda: dedup.band_keys("sig"),
        lambda r: ref_band_keys(r["sig"]),
    ),
    "simhash32": (
        lambda: dedup.simhash32("text"),
        lambda r: ref_simhash(r["text"]),
    ),
    "winnow_fingerprints": (
        lambda: dedup.winnow_fingerprints("text"),
        lambda r: ref_winnow(r["text"]),
    ),
    "winnow_fingerprints/window=2": (
        lambda: dedup.winnow_fingerprints("text", window=2),
        lambda r: ref_winnow(r["text"], 2),
    ),
}

VEC_CASES = {
    "hyperplane_signature": (
        lambda: hyperplane_signature("vec", dim=DIM),
        lambda r: ref_hyperplane(r["vec"]),
    ),
    "hyperplane_signature/float": (
        lambda: hyperplane_signature("fvec", dim=DIM),
        lambda r: ref_hyperplane(_f32(r["fvec"])),
    ),
    "hyperplane_signature/seed=3": (
        lambda: hyperplane_signature("vec", dim=DIM, seed=3),
        lambda r: ref_hyperplane(r["vec"], seed=3),
    ),
}


def _plain(v):
    """Rows (band structs) -> tuples, so results compare to references."""
    if isinstance(v, list):
        return [tuple(x) if hasattr(x, "__fields__") else x for x in v]
    return v


@pytest.fixture(scope="module")
def text_rows(spark):
    schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("text", StringType()),
            StructField("sh", ArrayType(StringType())),
            StructField("sig", ArrayType(LongType())),
        ]
    )
    rows = []
    for i, t in enumerate(TEXTS):
        sh = None if t is None else ref_shingles(t)
        rows.append((i, t, sh, None if sh is None else ref_minhash(sh)))
    df = spark.createDataFrame(rows, schema)
    built = [mk().alias(f"c{k}") for k, (mk, _) in enumerate(TEXT_CASES.values())]
    out = df.select("i", "text", "sh", "sig", *built)
    return sorted(out.collect(), key=lambda r: r["i"])


@pytest.fixture(scope="module")
def vec_rows(spark):
    schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("vec", ArrayType(DoubleType())),
            StructField("fvec", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame([(i, v, v) for i, v in enumerate(VECS)], schema)
    built = [mk().alias(f"c{k}") for k, (mk, _) in enumerate(VEC_CASES.values())]
    out = df.select("i", "vec", "fvec", *built)
    return sorted(out.collect(), key=lambda r: r["i"])


def _check(rows, cases, name):
    k = list(cases).index(name)
    ref = cases[name][1]
    bad = [
        (r["i"], _plain(r[f"c{k}"]), ref(r))
        for r in rows
        if _plain(r[f"c{k}"]) != ref(r)
    ]
    assert not bad, f"{name}: (row, got, want) {bad}"


@pytest.mark.parametrize("name", list(TEXT_CASES))
def test_text_builder_matches_reference(text_rows, name):
    _check(text_rows, TEXT_CASES, name)


@pytest.mark.parametrize("name", list(VEC_CASES))
def test_vector_builder_matches_reference(vec_rows, name):
    _check(vec_rows, VEC_CASES, name)


@pytest.mark.parametrize(
    "builder",
    [
        dedup.shingle_hash,
        dedup.token_shingles,
        dedup.token_shingle_seq,
        dedup.minhash_signature,
        dedup.band_keys,
        dedup.simhash32,
        dedup.winnow_fingerprints,
        lambda c: hyperplane_signature(c, dim=DIM),
    ],
)
def test_builders_take_sql_text_not_a_column(spark, builder):
    with pytest.raises(TypeError, match="str"):
        builder(F.col("text"))
