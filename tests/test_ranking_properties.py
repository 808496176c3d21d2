"""Property tests for the funnel-free global ranking primitives
(ops/ranking.py): on random integer frames and random partition counts,
global_row_number must equal the sorted enumeration and global_cumsum the
exact prefix sums — the invariant every quintile/cumsum query (q22, q89,
q93, q96, q97, t25, t27, s11...) stands on."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.ops import ranking as ranking_mod
from delta_lake_spark.ops.ranking import (
    global_cumsum,
    global_cumsum_grouped,
    global_row_number,
    global_row_number_grouped,
)

_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),  # value (ties expected)
        st.integers(min_value=0, max_value=10_000),    # unique-ish id
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],  # ids unique -> (value, id) is a unique key
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows, parts=st.integers(min_value=1, max_value=7))
def test_global_row_number_is_sorted_enumeration(spark, rows, parts):
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        (r.v, r.id): r.rn
        for r in global_row_number(df, ["v", "id"], num_partitions=parts).collect()
    }
    expected = {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    assert got == expected


_grouped_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # group (NULLs too)
        st.integers(min_value=-1000, max_value=1000),  # value (ties expected)
        st.integers(min_value=0, max_value=10_000),    # unique-ish id
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[2],
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_grouped_rows, parts=st.integers(min_value=1, max_value=7))
def test_global_row_number_grouped_matches_per_group_enumeration(spark, rows, parts):
    """The fused (one range exchange for ALL groups, r9) per-group ranking
    must equal running the enumeration independently within each group —
    including a NULL group, which is one group for ranking purposes."""
    df = spark.createDataFrame(rows, "g int, v long, id long")
    ranked, totals = global_row_number_grouped(
        df, "g", ["v", "id"], out_col="rn", num_partitions=parts
    )
    got = {(r.g, r.v, r.id): r.rn for r in ranked.collect()}
    expected, exp_totals = {}, {}
    none_key = (-(10**9),)  # sort NULL group first, mirroring NULLS FIRST
    for g in sorted({r[0] for r in rows}, key=lambda x: none_key if x is None else (x,)):
        members = sorted((v, i) for gg, v, i in rows if gg == g)
        exp_totals[g] = len(members)
        for rank, (v, i) in enumerate(members, start=1):
            expected[(g, v, i)] = rank
    assert got == expected
    assert totals == exp_totals


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows, parts=st.integers(min_value=1, max_value=7))
def test_global_cumsum_is_prefix_sum(spark, rows, parts):
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        (r.v, r.id): r.cumsum
        for r in global_cumsum(df, "v", ["v", "id"], num_partitions=parts).collect()
    }
    acc, expected = 0, {}
    for v, i in sorted(rows):
        acc += v
        expected[(v, i)] = acc
    assert got == expected


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_grouped_rows, parts=st.integers(min_value=1, max_value=7))
def test_global_cumsum_grouped_matches_per_group_prefix_sums(spark, rows, parts):
    """The fused (one range exchange for ALL groups, r10) per-group running
    sum must equal computing the prefix sums independently within each
    group — including a NULL group, which is one group for summing."""
    df = spark.createDataFrame(rows, "g int, v long, id long")
    summed, totals = global_cumsum_grouped(
        df, "g", "v", ["v", "id"], out_col="cs", num_partitions=parts
    )
    got = {(r.g, r.v, r.id): r.cs for r in summed.collect()}
    expected, exp_totals = {}, {}
    for g in {r[0] for r in rows}:
        acc = 0
        for v, i in sorted((v, i) for gg, v, i in rows if gg == g):
            acc += v
            expected[(g, v, i)] = acc
        exp_totals[g] = acc
    assert got == expected
    assert totals == exp_totals


@pytest.mark.parametrize("num_partitions", [1, 4, 7])
@pytest.mark.parametrize("ranker", ["row_number", "cumsum"])
def test_grouped_rankers_keep_null_and_nan_groups_apart(
    spark, ranker, num_partitions
):
    """NULL and NaN are two groups in Spark's GROUP BY, and all NaNs are
    one group: per-row results and ``totals`` must match a per-group
    enumeration that keeps them apart, on whichever partitions the NaN
    rows land, and ``totals`` answers to ``None`` and ``math.nan``."""
    groups = [None, math.nan, 1.0]
    rows = [
        (g, 10**gi * (k + 1), 6 * gi + k)
        for gi, g in enumerate(groups)
        for k in range(6)
    ]
    df = spark.createDataFrame(rows, "g double, v long, id long")
    if ranker == "row_number":
        out, totals = global_row_number_grouped(
            df, "g", ["v", "id"], out_col="r", num_partitions=num_partitions
        )
    else:
        out, totals = global_cumsum_grouped(
            df, "g", "v", ["v", "id"], out_col="r", num_partitions=num_partitions
        )
    got = {r.id: r.r for r in out.collect()}
    expected, exp_totals = {}, {}
    for gi, g in enumerate(groups):
        acc = 0
        members = sorted((v, i) for _, v, i in rows[6 * gi : 6 * gi + 6])
        for rank, (v, i) in enumerate(members, start=1):
            acc += v
            expected[i] = rank if ranker == "row_number" else acc
        exp_totals[g] = len(members) if ranker == "row_number" else acc
    assert got == expected
    # dict equality looks each key up by identity first: the NaN group
    # must be keyed by the math.nan object itself
    assert totals == exp_totals


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_offsets_fall_back_to_broadcast_join_above_partition_ceiling(
    spark, monkeypatch
):
    """Above _LITERAL_OFFSETS_MAX_PARTITIONS (VERDICT r9 item 8: the
    constant-folded literal array scales with partition count in every task
    binary) the offsets must attach via the broadcast-join form — same
    ranks, a BroadcastHashJoin in the plan instead of an element_at
    literal."""
    monkeypatch.setattr(ranking_mod, "_LITERAL_OFFSETS_MAX_PARTITIONS", 8)
    rows = [((v * 37) % 13 - 6, v) for v in range(200)]
    df = spark.createDataFrame(rows, "v long, id long")
    ranked = global_row_number(df, ["v", "id"], num_partitions=24)
    got = {(r.v, r.id): r.rn for r in ranked.collect()}
    assert got == {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    plan = _plan_of(ranked)
    assert "BroadcastHashJoin" in plan, plan
    assert "element_at" not in plan, plan


def test_offsets_literal_array_below_partition_ceiling(spark):
    """Below the ceiling the offsets stay a constant-folded literal lookup:
    no join anywhere in the ranking subtree."""
    rows = [((v * 37) % 13 - 6, v) for v in range(200)]
    df = spark.createDataFrame(rows, "v long, id long")
    ranked = global_row_number(df, ["v", "id"], num_partitions=24)
    got = {(r.v, r.id): r.rn for r in ranked.collect()}
    assert got == {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    plan = _plan_of(ranked)
    assert "Join" not in plan, plan


def test_global_cumsum_rejects_non_integral_values(spark):
    """A decimal or double value column would be truncated by the long
    running sum, so both cumsums refuse it instead of summing wrong."""
    df = spark.createDataFrame(
        [(0, 1, 1.5), (0, 2, 2.25)], "g int, id long, d double"
    ).withColumn("dec", F.col("d").cast("decimal(10,2)"))
    for col in ["d", "dec", F.col("d") * 2]:
        with pytest.raises(TypeError, match="integral"):
            global_cumsum(df, col, ["id"])
        with pytest.raises(TypeError, match="integral"):
            global_cumsum_grouped(df, "g", col, ["id"])
    # integral inputs narrower than long still widen and sum exactly
    got = [r.cumsum for r in global_cumsum(df, F.col("id").cast("int"), ["id"]).collect()]
    assert sorted(got) == [1, 3]
