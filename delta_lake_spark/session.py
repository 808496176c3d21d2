"""SparkSession factory.

Mirrors the reference's session setup (deltalake.ipynb:929-933 builder with
Delta extensions; :508-511 memory tuning; :2909-2913 off-heap + merge tuning)
re-expressed for a plain Spark 4 environment:

- AQE on (runtime coalescing, skew-join handling) — supersedes the
  reference's hand-tuned ``spark.sql.shuffle.partitions`` flips (4 vs 200).
- Arrow on for any pandas boundary crossing.
- UTC session timezone so date/timestamp semantics are stable across hosts.
- Shuffle partitions sized to the local core count, not Spark's default 200 —
  on a real cluster this would be executors*cores*2..3.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "delta_lake_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    In ``local[N]`` mode there is a single JVM; ``spark.driver.memory`` is the
    only memory knob that matters.  On a cluster the same config block applies
    unchanged except master/memory.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g kept after an r9 head-to-head: a 48g heap made the 100x graph
        # bench WORSE (q73 sf10x 128.8 s vs 99.9 s on the same idle box —
        # larger G1 collections beat the GCLocker retries they replaced).
        # SPARK_GRAFT_DRIVER_MEM overrides per host.
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Scan-split sizing: measured and REJECTED in r9 (guide §6 knob).
        # openCostInBytes 4m->256k + minPartitionNum=cores raises a 10.8 MB
        # single-file lineitem scan from 3 to 32 splits — but the headline
        # A/B (OPTIMIZATION_r09.md §7, 5 warm reps, idle box) came back
        # uniformly WORSE: q01 0.75->0.86 s, q30 0.69->0.88, q04
        # 0.44->0.49, t01 0.69->0.73 — per-split scheduling + footer overhead exceeds the
        # parallelism gain at corpus file sizes, and at 100 TB (pre-split
        # 128 MB-1 GB files) the knob is inert anyway.  Defaults kept.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
