"""Child process for the multi-process concurrent-writer test.

Usage: python concurrent_writer_child.py <table_path> <sync_dir> <tag> <n_merges> <unique_base>

Opens its own SparkSession (a separate JVM — a genuinely independent writer,
unlike the in-process race-injection tests), waits on a file barrier so both
writers start merging at the same moment, then runs ``n_merges`` conflicting
full-upsert merges (same 100 keys, writer-tagged values) through
``merge_with_retry``.  Merge ``i`` also upserts key ``unique_base + i``,
which no other merge touches, so a dropped commit shows as a missing key.
Exits non-zero on any unexpected failure.
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    table_path, sync_dir, tag, n_merges, unique_base = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
        int(sys.argv[5]),
    )
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"concurrent-writer-{tag}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from delta_lake_spark.tables import ManagedTable

        t = ManagedTable(spark, table_path)

        # barrier: announce readiness, then spin until the parent says go
        open(os.path.join(sync_dir, f"ready-{tag}"), "w").close()
        deadline = time.time() + 120
        while not os.path.exists(os.path.join(sync_dir, "go")):
            if time.time() > deadline:
                print("barrier timeout", file=sys.stderr)
                return 2
            time.sleep(0.05)

        for i in range(n_merges):
            src = (
                spark.range(100)
                .union(spark.range(unique_base + i, unique_base + i + 1))
                .withColumn("v", F.lit(f"{tag}:{i}"))
                .withColumn("writer", F.lit(tag))
            )
            # generous retries: every merge here conflicts by design
            t.merge_with_retry(src, ["id"], max_retries=25)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
