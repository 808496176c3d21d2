"""Bucketed-storage fixture: the write-once-shuffle / read-many-joins
trade-off on q30's lineitem ⋈ orders edge (VERDICT r2 task 6).

At 100 TB the fact-fact equi-join shuffle dominates q30-shaped queries.
``io.bucketed.write_bucketed`` pays that shuffle ONCE at write time; every
later join on the bucket key reads aligned buckets — SortMergeJoin with no
Exchange on either side.  This module builds both sides of the trade:

- ``prepare_bucketed_facts``: one-time cost of bucketing lineitem+orders
  on orderkey.
- ``q30_bucketed``: the q30 plan with the l⋈o edge on bucketed storage.

Write cost / per-query saving = number of queries after which bucketing
wins.  Reference analog: the serving-side ``CREATE INDEX`` (silver.py:192)
— pre-paid ordering for repeated reads.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_spark.catalog import table
from delta_lake_spark.io.bucketed import write_bucketed

N_BUCKETS = 32


def prepare_bucketed_facts(
    spark: SparkSession, sf_dir: str, data_dir: str
) -> float:
    """(Re)write lineitem and orders bucketed on their orderkey into
    ``data_dir``; returns the wall-clock write cost in seconds.

    Always rewrites: the write IS the measured artifact (and catalog
    metadata for bucketed tables is per-session, so trusting leftover
    files from an earlier session would mean trusting an unverifiable
    bucket spec).
    """
    os.makedirs(data_dir, exist_ok=True)
    t0 = time.perf_counter()
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS bucketed_{name}")
        write_bucketed(
            table(spark, sf_dir, name),
            f"bucketed_{name}",
            key,
            N_BUCKETS,
            path=os.path.join(data_dir, name),
        )
    return round(time.perf_counter() - t0, 3)


def q30_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q30_local_supplier_volume with the lineitem⋈orders edge running on
    the bucketed tables (merge-hinted so the plan stays on the
    exchange-free SortMergeJoin path instead of an AQE broadcast)."""
    l = spark.table("bucketed_lineitem")
    o = spark.table("bucketed_orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    joined = (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )
