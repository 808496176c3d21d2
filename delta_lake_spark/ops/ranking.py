"""Distributed global ranking: row_number / ntile / cumsum over the WHOLE
frame without the single-partition funnel.

``Window.orderBy(...)`` with no partitionBy routes every row through one task
(Exchange SinglePartition) — the plan shape :mod:`ops.plan_audit` flags as
``global_funnel``.  For a global rank over a scaling input the classic
distributed form is:

1. range-repartition on the order key (each partition holds a contiguous,
   sorted-by-boundary key range; parallel),
2. count rows per partition (P rows to the driver — metadata-sized),
3. prefix-sum the counts into per-partition offsets, broadcast them back,
4. rank WITHIN each partition and add the offset.

Correctness requires a UNIQUE order key (include a tie-break column): range
partitioning guarantees partition i's keys sort before partition i+1's, so
``offset + local rank`` is the exact global rank.

The ranged frame is persisted before the count: ``repartitionByRange`` samples
its boundaries per execution, so the count job and the ranking job MUST see
the same physical partitioning.  Callers should ``unpersist`` the result when
done (or let it age out).

Step 4 (r9, guide §2.4 "remove shuffles outright"): the local rank used to be
``row_number() OVER (PARTITION BY spark_partition_id() ORDER BY keys)`` — but
that Window's required clustering on the partition id is NOT satisfied by the
range partitioning, so Catalyst inserted a SECOND full-data exchange
(``hashpartitioning(_gr_pid)``) before every window: each ranked frame was
shuffled twice.  The local rank is now read off ``monotonically_increasing_id``
evaluated above an explicit ``sortWithinPartitions``: the function's
documented layout puts the record number within the partition in the lower
33 bits, so ``mono & (2^33-1)`` IS the 0-based local row index in sorted
order (deterministic under retry for the same reason the window form was —
the sort order is total given unique keys).  The per-partition offsets then
attach as a literal array lookup (no join), so one range exchange is the
ONLY data movement.  The 33-bit layout caps partitions at ~8.6e9 rows —
far above any sane partition size — and a runtime guard raises if a
partition count ever exceeds it.  Every stats collect additionally
cross-checks ``max(_LOC) + 1 == count`` per partition (ADVICE r9): if a
Spark upgrade ever changed the monotonically_increasing_id bit layout or
reordered the projection below the sort, ranks fail loudly instead of
silently corrupting.

``global_cumsum`` / ``global_cumsum_grouped`` (r10, VERDICT r9 item 2)
run the partition-local running sum as a ``SUM OVER (PARTITION BY
_gr_pid)`` window.  Its clustering requirement adds a second,
histogram-scale ``hashpartitioning(_gr_pid)`` exchange, which a single
machine serves from the page cache: a one-exchange Arrow ``mapInPandas``
prefix sum was measured slower at every local size (OPTIMIZATION_r10.md
§2: 4.9 vs 6.8 s at 20M rows, 0.26 vs 0.40 s at 200K; sf0.1 t25 0.45 ->
0.85 s and q96 0.41 -> 0.69 s under the map form).

Driver-side structure bounds (VERDICT r9 item 8): the literal offsets
array is constant-folded into every task binary, and at tens of thousands
of shuffle partitions (100 TB shapes) a P-element literal in every task
plus O(P) expression-tree work in Catalyst stops being free.  Above
``_LITERAL_OFFSETS_MAX_PARTITIONS`` the offsets therefore attach via the
broadcast-hash-join form instead (probe-side partitioning intact, so the
plan gains a BroadcastExchange of a P-row frame but no data exchange).
Measured on one machine (OPTIMIZATION_r10.md §8, 2M rows, interleaved
3-rep medians): literal clearly wins at P <= 2048 (0.10 vs 0.39 s at 64,
0.49 vs 0.74 s at 2048), parity-within-noise at 4096 (1.44 vs 1.30 s) and
still competitive at 16384 (7.0 vs 7.8 s, both dominated by 16K tiny
tasks) — i.e. no LOCAL crossover; the 4096 ceiling is a conservative
bound on the O(P) Catalyst expression tree and per-task literal payload
at the 10^5-partition scale a 100 TB shuffle would use, which a single
box cannot exercise meaningfully.  The grouped stats collect is
P x #groups rows on the driver — bounded tags only (#groups <= ~dozens),
documented in :func:`global_row_number_grouped`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

_PID = "_gr_pid"
_OFF = "_gr_offset"
_LOC = "_gr_loc"
_LOC_MASK = (1 << 33) - 1  # monotonically_increasing_id: low 33 bits = record#
# Above this partition count the constant-folded literal offsets array (one
# copy in every task binary + O(P) Catalyst work per consumer) costs more
# than a broadcast join of a P-row offsets frame; see module docstring for
# the measured crossover.
_LITERAL_OFFSETS_MAX_PARTITIONS = 4096


def _check_loc_layout(pid: int, n: int, mx) -> None:
    """Runtime cross-check of the monotonically_increasing_id layout
    (ADVICE r9): the max masked id in a partition must equal count-1.  A
    Spark upgrade that changed the bit layout, or an optimizer that moved
    the projection below the sort, fails loudly here instead of silently
    corrupting ranks."""
    if n > _LOC_MASK:
        raise ValueError(
            f"partition {pid} holds {n} rows > 2^33-1: the 33-bit local "
            "row-index layout cannot rank it — raise num_partitions"
        )
    if n > 0 and mx != n - 1:
        raise RuntimeError(
            f"monotonically_increasing_id layout check failed on partition "
            f"{pid}: max local index {mx} != count-1 {n - 1} — the id bit "
            "layout or projection placement changed; ranks would corrupt"
        )


def _attach_offsets(ranged: DataFrame, offsets: list[int], expr_of) -> DataFrame:
    """Attach per-partition offsets to the ranged frame: as a constant-folded
    literal array lookup below the partition-count ceiling, as a broadcast
    hash join (probe-side partitioning intact — no extra data exchange)
    above it.  ``expr_of(off_col)`` builds the output projection from the
    attached offset column/expression."""
    spark = ranged.sparkSession
    if len(offsets) <= _LITERAL_OFFSETS_MAX_PARTITIONS:
        off_arr = F.array(*[F.lit(o).cast("long") for o in offsets])
        return expr_of(ranged, F.element_at(off_arr, F.col(_PID) + 1))
    off_schema = StructType(
        [
            StructField("_gr_p2", IntegerType(), False),
            StructField(_OFF, LongType(), False),
        ]
    )
    off = spark.createDataFrame(
        [(pid, o) for pid, o in enumerate(offsets)], off_schema
    )
    joined = ranged.join(F.broadcast(off), F.col(_PID) == F.col("_gr_p2"))
    return expr_of(joined, F.col(_OFF)).drop("_gr_p2", _OFF)


def _group_key(g):
    """Driver-side dict key of a group value, with Spark's grouping
    semantics: NULL stays ``None``, every NaN maps to the one ``math.nan``
    object (two NaN floats are unequal, so as raw keys each partition's NaN
    would start its own group), other values pass through."""
    if isinstance(g, float) and math.isnan(g):
        return math.nan
    return g


def _group_offsets(stats: list, group_col: str, size: str) -> tuple[list, dict]:
    """Running per-group offsets over the per-(partition, group) ``stats``
    rows in partition order: ``[(row, group key, offset)]`` and each group's
    total of ``size``, both keyed by :func:`_group_key`."""
    per_group: dict = {}
    for r in sorted(stats, key=lambda r: r[_PID]):
        per_group.setdefault(_group_key(r[group_col]), []).append(r)
    offsets, totals = [], {}
    for g, lst in per_group.items():
        acc = 0
        for r in lst:
            offsets.append((r, g, acc))
            acc += int(r[size] or 0)
        totals[g] = acc
    return offsets, totals


def _global_row_number_with_total(
    df: DataFrame,
    order_by: list[str | Column],
    *,
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    """Core of :func:`global_row_number`; also returns the exact total row
    count, which the per-partition count collect already produced — callers
    needing N (ntile bucket math) get it without a second count job."""
    spark = df.sparkSession
    if num_partitions is None:
        # defaultParallelism (cores), not shuffle.partitions (2x cores): the
        # range exchange + offset collect + broadcast join sequence is
        # scheduling-bound (the q73 lesson — halving tiny-task count there
        # measured 3x); P still scales with the cluster, which is all the
        # prefix-sum construction needs
        num_partitions = spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
        # local 0-based row index in sorted order (module docstring): this
        # projection sits ABOVE the sort and is nondeterministic-flagged, so
        # Catalyst will not reorder it below the sort; persist() pins the
        # evaluated values for every consumer job.
        .withColumn(
            _LOC, F.monotonically_increasing_id().bitwiseAND(F.lit(_LOC_MASK))
        )
        .persist()
    )
    counts = sorted(
        (r[_PID], r["n"], r["mx"])
        for r in ranged.groupBy(_PID)
        .agg(F.count("*").alias("n"), F.max(_LOC).alias("mx"))
        .collect()
    )
    by_pid = dict((pid, n) for pid, n, _ in counts)
    for pid, n, mx in counts:
        _check_loc_layout(pid, n, mx)
    offsets, acc = [], 0
    for pid in range(num_partitions):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)
    ranked = _attach_offsets(
        ranged,
        offsets,
        lambda frame, off: frame.withColumn(
            out_col, off + F.col(_LOC) + 1
        ),
    ).drop(_PID, _LOC)
    return ranked, acc


def global_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    *,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_by)`` computed with
    P-way parallelism.  ``order_by`` must be a unique key (add a tie-break);
    ascending order only (wrap a column in ``F.desc`` is NOT supported —
    negate or invert the column instead, keeping range partitioning valid)."""
    ranked, _ = _global_row_number_with_total(
        df, order_by, out_col=out_col, num_partitions=num_partitions
    )
    return ranked


def global_ntile(
    df: DataFrame,
    n: int,
    order_by: list[str | Column],
    *,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``NTILE(n) OVER (ORDER BY order_by)`` (SQL semantics:
    the first ``N % n`` buckets get ``N // n + 1`` rows, the rest ``N // n``)
    via :func:`global_row_number` — no single-partition stage."""
    rn = "_gr_rn"
    # total rides out of the offset collect global_row_number already does —
    # the previous separate count job + 1-row broadcast join were pure
    # per-query overhead (p03 stage audit, r6)
    ranked, total = _global_row_number_with_total(
        df, order_by, out_col=rn, num_partitions=num_partitions
    )
    # NTILE bucket math on exact integers (Python ints -> literals, same
    # values the SQL-side computation produced):
    #   base_sz = N // n; rem = N % n; cut = rem * (base_sz + 1)
    #   rn <= cut  -> bucket = (rn - 1) / (base_sz + 1) + 1
    #   rn >  cut  -> bucket = rem + (rn - 1 - cut) / base_sz + 1
    base_sz = total // n
    rem = total % n
    cut = rem * (base_sz + 1)
    r0 = F.col(rn) - 1
    if base_sz == 0:
        # fewer rows than buckets: every row is alone in bucket rn
        bucket = F.col(rn)
    else:
        bucket = F.when(
            F.col(rn) <= cut, F.floor(r0 / (base_sz + 1)) + 1
        ).otherwise(rem + F.floor((r0 - cut) / base_sz) + 1)
    return ranked.withColumn(out_col, bucket.cast("int")).drop(rn)


def global_row_number_grouped(
    df: DataFrame,
    group_col: str,
    order_by: list[str | Column],
    *,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Per-group exact ``row_number() OVER (PARTITION BY group ORDER BY
    order_by)`` for ALL groups through ONE range exchange (guide §2.4: two
    operations keyed the same way share one exchange).

    Running :func:`global_row_number` once per group costs k range
    shuffles, k boundary-sampling jobs and k count-collect jobs for k
    groups — and when the calls are chained on one frame (q93's three RFM
    scores, r8 bench) the logical plan nests k deep, so every later job
    replans the whole stack.  This fused form range-partitions ONCE on
    ``(group, *order_by)`` — group-contiguity makes per-group offsets
    well-defined — counts rows per (partition, group) in ONE job
    (metadata-sized: P x #groups rows), prefix-sums per group in partition
    order, and ranks within (partition, group).

    ``order_by`` must be unique per group (add a tie-break).  ``group_col``
    is intended for small bounded tags (dimension ids, period flags) — the
    stats collect is P x #groups rows on the driver, so #groups must stay
    metadata-sized (dozens, not millions).  NULL and NaN groups are
    separate groups, as in Spark's GROUP BY (null-safe join, NULLS-FIRST
    grouping).

    Returns ``(ranked_df, totals)`` where ``totals`` maps each group value
    to its exact row count — callers needing per-group N (quintile math)
    get it without extra jobs.  The NULL group's key is ``None`` and the
    NaN group's is ``math.nan``, so ``totals[math.nan]`` works.  Same
    persist/unpersist contract as :func:`global_row_number`.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.repartitionByRange(num_partitions, F.col(group_col), *cols)
        .sortWithinPartitions(F.col(group_col), *cols)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(
            _LOC, F.monotonically_increasing_id().bitwiseAND(F.lit(_LOC_MASK))
        )
        .persist()
    )
    # ONE metadata job: per-(partition, group) row count AND the group's
    # first local index in that partition — rank = loc - start + offset + 1.
    stats = (
        ranged.groupBy(_PID, group_col)
        .agg(
            F.count("*").alias("n"),
            F.min(_LOC).alias("s"),
            F.max(_LOC).alias("mx"),
        )
        .collect()
    )
    # overflow + layout cross-check per PARTITION (ADVICE r9: the grouped
    # variant lacked the 2^33 guard the ungrouped one had): group intervals
    # [s, s+n) must exactly tile [0, partition row count) in sorted order.
    by_pid: dict[int, list] = {}
    for r in stats:
        by_pid.setdefault(r[_PID], []).append((r["s"], r["n"], r["mx"]))
    for pid, ivs in by_pid.items():
        pid_n = sum(n for _, n, _ in ivs)
        _check_loc_layout(pid, pid_n, max(mx for _, _, mx in ivs))
        nxt = 0
        for s, n, mx in sorted(ivs):
            if s != nxt or mx != s + n - 1:
                raise RuntimeError(
                    f"grouped local-index layout check failed on partition "
                    f"{pid}: interval [{s}, {s}+{n}) with max {mx} does not "
                    f"tile at {nxt} — id layout or sort placement changed"
                )
            nxt = s + n
    offsets, totals = _group_offsets(stats, group_col, "n")
    rows = [(r[_PID], g, off, r["s"]) for r, g, off in offsets]
    off_schema = StructType(
        [
            StructField("_gr_p2", IntegerType(), False),
            StructField("_gr_g", df.schema[group_col].dataType, True),
            StructField(_OFF, LongType(), False),
            StructField("_gr_s", LongType(), False),
        ]
    )
    off = spark.createDataFrame(rows, off_schema)
    # broadcast attach (P x #groups rows): BroadcastHashJoin leaves the probe
    # side's partitioning intact — no extra exchange, no window.
    ranked = (
        ranged.join(
            F.broadcast(off),
            (F.col(_PID) == F.col("_gr_p2"))
            & F.col(group_col).eqNullSafe(F.col("_gr_g")),
        )
        .withColumn(
            out_col, F.col(_LOC) - F.col("_gr_s") + F.col(_OFF) + 1
        )
        .drop(_PID, _LOC, _OFF, "_gr_p2", "_gr_g", "_gr_s")
    )
    return ranked, totals


def _integral_value(df: DataFrame, value: str | Column) -> Column:
    """The cumsum value column widened to long.  Only integral types are
    accepted: casting a decimal or double to long would silently truncate
    every value, so those raise instead."""
    val = F.col(value) if isinstance(value, str) else value
    dtype = df.select(val).schema.fields[0].dataType
    if not isinstance(dtype, IntegralType):
        raise TypeError(
            f"cumsum value must be an integral column, got {dtype.simpleString()}"
            " — scale decimals/doubles to an integral unit (e.g. cents) first"
        )
    return val.cast("long")


def global_cumsum(
    df: DataFrame,
    value: str | Column,
    order_by: list[str | Column],
    *,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running ``SUM(value) OVER (ORDER BY order_by ROWS
    UNBOUNDED PRECEDING)`` with P-way parallelism — the cumulative-sum twin
    of :func:`global_row_number` (range partition on the order key, collected
    per-partition partial sums as offsets, partition-local running sum).
    ``order_by`` must be a unique key; ascending only.  ``value`` must be an
    integral, effectively non-null column (SQL SUM skips NULLs; they
    contribute 0 here) for the result to be order-independent and exact;
    any other type raises ``TypeError``.

    Literal offsets attach as a projection (the r9 change: no broadcast
    join); the running-sum window's clustering requirement adds the
    histogram-scale ``hashpartitioning(_gr_pid)`` exchange (module
    docstring)."""
    spark = df.sparkSession
    if num_partitions is None:
        # defaultParallelism (cores), not shuffle.partitions (2x cores): the
        # range exchange + offset collect sequence is scheduling-bound (the
        # q73 lesson — halving tiny-task count there measured 3x); P still
        # scales with the cluster, which is all the prefix sum needs
        num_partitions = spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.withColumn("_gc_v", _integral_value(df, value))
        .repartitionByRange(num_partitions, *cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    sums = dict(
        (r[_PID], r["s"])
        for r in ranged.groupBy(_PID)
        .agg(F.sum("_gc_v").alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid in range(num_partitions):
        offsets.append(acc)
        acc += int(sums.get(pid) or 0)

    off_arr = F.array(*[F.lit(o).cast("long") for o in offsets])
    w = (
        Window.partitionBy(_PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ranged.withColumn(
        out_col,
        F.sum("_gc_v").over(w) + F.element_at(off_arr, F.col(_PID) + 1),
    ).drop(_PID, "_gc_v")


def global_cumsum_grouped(
    df: DataFrame,
    group_col: str,
    value: str | Column,
    order_by: list[str | Column],
    *,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Per-group exact running ``SUM(value) OVER (PARTITION BY group ORDER
    BY order_by ROWS UNBOUNDED PRECEDING)`` for ALL groups through ONE range
    exchange — the cumulative-sum twin of
    :func:`global_row_number_grouped` (VERDICT r9 item 3: t27's two midrank
    histogram+cumsum stacks fuse into one pass on an (x|y) tag).

    Range-partitions ONCE on ``(group, *order_by)`` (group-contiguity makes
    per-group partition offsets well-defined), collects per-(partition,
    group) partial sums in ONE metadata job, then runs a (partition,
    group)-window running sum plus each group's offset.  The offsets attach
    via a broadcast hash join on the null-safe (partition, group) pair (a
    2-key lookup has no constant-foldable literal form); the window adds
    one histogram-scale hash exchange, as in :func:`global_cumsum`.

    Same contracts as the grouped ranking: ``order_by`` unique per group,
    ``group_col`` a small bounded tag (the stats collect is P x #groups
    driver rows), NULL and NaN groups kept apart.  ``value`` integral
    non-null (NULLs contribute 0; other types raise ``TypeError``).
    Returns ``(df, totals)`` with each group's exact sum, keyed as in
    :func:`global_row_number_grouped` (``None`` for NULL, ``math.nan`` for
    NaN).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.withColumn("_gc_v", _integral_value(df, value))
        .repartitionByRange(num_partitions, F.col(group_col), *cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    stats = (
        ranged.groupBy(_PID, group_col)
        .agg(F.sum("_gc_v").alias("s"))
        .collect()
    )
    offsets, totals = _group_offsets(stats, group_col, "s")
    rows = [(r[_PID], g, off) for r, g, off in offsets]
    off_schema = StructType(
        [
            StructField("_gr_p2", IntegerType(), False),
            StructField("_gr_g", df.schema[group_col].dataType, True),
            StructField(_OFF, LongType(), False),
        ]
    )
    off = spark.createDataFrame(rows, off_schema)
    w = (
        Window.partitionBy(_PID, group_col)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    summed = (
        ranged.join(
            F.broadcast(off),
            (F.col(_PID) == F.col("_gr_p2"))
            & F.col(group_col).eqNullSafe(F.col("_gr_g")),
        )
        .withColumn(out_col, F.sum("_gc_v").over(w) + F.col(_OFF))
        .drop(_PID, "_gc_v", _OFF, "_gr_p2", "_gr_g")
    )
    return summed, totals
