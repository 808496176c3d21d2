"""Vector similarity search over ArrayType(FloatType) embedding columns.

Brute-force cosine top-k is the exactness baseline; LSH (random hyperplane)
bucketing is the scale path — both pure built-in functions (F.aggregate /
F.zip_with fold left-to-right deterministically, which keeps results
bit-identical with the DuckDB oracle's list_dot_product).

At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned candidate scan — linear, no shuffle until top-k; the
hyperplane path buckets candidates so each query only scans its bucket.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from delta_lake_spark.functions.dedup_sql import let_sql, sql_arg

N_HYPERPLANES = 16


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-to-right fold — matches DuckDB's list_dot_product."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    cand_id: str = "vid",
    query_vec: str = "qvec",
    cand_vec: str = "cvec",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries x candidate scan, ranked
    per query with a deterministic tie-break on candidate id."""
    joined = candidates.crossJoin(F.broadcast(queries)).filter(F.col(query_id) != F.col(cand_id))
    sims = joined.select(
        query_id,
        cand_id,
        cosine(as_double(F.col(query_vec)), as_double(F.col(cand_vec))).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), cand_id)
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, seed: int = 7) -> list[list[float]]:
    """The fixed seeded hyperplane set — exposed so an oracle can replicate
    the exact constants (floats round-trip exactly through repr into both
    engines' double literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(N_HYPERPLANES)]


def hyperplane_signature(vec: str, dim: int, seed: int = 7) -> Column:
    """Random-hyperplane LSH signature (bigint bitmask): bit i = 1 iff
    dot(vec, h_i) > 0 for N_HYPERPLANES fixed seeded hyperplanes.  The sign
    test is bit-stable across engines because the dot folds strictly
    left-to-right in both.  ``vec`` is a column name or SQL expression."""
    return F.expr(hyperplane_signature_sql(sql_arg(vec, "hyperplane_signature"), dim, seed))


Q_SCALE = 127


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 scalar quantization of an L2-normalized copy of ``vec``:
    ``q_i = floor(v_i / ||v|| * 127)``.

    Normalize-then-quantize makes the integer dot product a direct cosine
    approximation, so coarse ranking needs no per-pair rescale.  Every step
    (deterministic norm fold, IEEE double divide, floor) is bit-identical in
    Spark and DuckDB, so an oracle can replicate the exact codes.

    Scale design: int8 codes are 4x smaller than float32 — at 100 TB the
    coarse scan reads a quarter of the bytes and the integer dot stays in
    whole-stage codegen; full-precision vectors are fetched (id equi-join)
    only for the re-rank candidate set.
    """
    v = as_double(vec)
    nrm = l2_norm(v)
    # let-bind the norm via a 1-element transform: referenced directly
    # inside the per-element lambda, the O(dim) norm fold would be inlined
    # and re-evaluated for EVERY element — O(dim^2) per row (the same
    # hazard dedup_sql.let_sql fixes for the shingle builders)
    return F.element_at(
        F.transform(
            F.array(nrm),
            lambda n: F.transform(
                v, lambda x: F.floor(x / n * F.lit(float(Q_SCALE))).cast("int")
            ),
        ),
        1,
    )


def qdot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8-code arrays (long accumulator —
    |q_i| <= 127 so the per-term product fits comfortably)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hyperplane_signature_sql(col: str, dim: int, seed: int = 7) -> str:
    """SQL text of ``hyperplane_signature`` (one ``F.expr`` parse instead of
    ~1,000 Py4J calls for 16 planes x 64 double literals — same rationale as
    functions/dedup_sql.py).  Python float ``repr`` round-trips exactly
    through Spark's double-literal parser, so the sign tests are
    bit-identical with the DuckDB oracle."""
    # let-bind the double-cast vector: embedded per plane it would be
    # re-cast 16x per row (half the signature's work for a 64-dim vector)
    v = f"transform({col}, x -> CAST(x AS DOUBLE))"
    terms = []
    for i, plane in enumerate(hyperplanes(dim, seed)):
        arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
        d = (
            f"aggregate(zip_with(__hv, {arr}, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(
            f"CASE WHEN {d} > 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return let_sql(v, "CAST(0 AS BIGINT) + " + " + ".join(terms), "__hv")
