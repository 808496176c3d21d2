"""Seeded generator for the reference's transactions table.

The reference builds a synthetic financial transactions table (10,000,000
rows, 50,000 clients; deltalake.ipynb:127-183) and self-times its Gold marts
and Z-order scan suite over it (BASELINE.md).  ``gen_transactions``
regenerates that table deterministically, at any row count, in its Silver
shape: seeded ``F.rand`` over a fixed input partitioning, so the values do
not depend on the local core count.  ``lakebench``'s ``lake_scan`` workload
builds its lake from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 2020-01-01 .. 2025-05-31 UTC — the reference's transaction_datetime range
# (deltalake.ipynb:156-158)
_START_TS = 1_577_836_800
_END_TS = 1_748_649_600


def gen_transactions(
    spark: SparkSession, num_records: int, num_clients: int, seed: int
) -> DataFrame:
    """Silver-shape transactions (generator :127-183 + silver transforms
    :946-955: decimal amount, transaction_date, is_suspicious flag).

    ``spark.range`` with a FIXED partition count + per-column ``F.rand(seed)``
    makes the dataset a pure function of (num_records, num_clients, seed) —
    independent of local core count.
    """
    currencies = F.array(*[F.lit(c) for c in ["USD", "EUR", "RUB", "CNY"]])
    categories = F.array(
        *[F.lit(c) for c in ["payment", "transfer", "withdrawal", "deposit"]]
    )
    span = _END_TS - _START_TS
    return (
        spark.range(0, num_records, 1, 10)
        .withColumn("transaction_id", F.col("id"))
        .withColumn(
            "client_id",
            (F.floor(F.rand(seed + 1) * num_clients) + 100_000).cast("long"),
        )
        .withColumn(
            "amount", F.round(F.rand(seed + 2) * 9999 + 1, 2).cast("decimal(18,2)")
        )
        .withColumn(
            "currency",
            F.element_at(currencies, (F.floor(F.rand(seed + 3) * 4) + 1).cast("int")),
        )
        .withColumn(
            "transaction_datetime",
            F.timestamp_seconds(F.lit(_START_TS) + (F.rand(seed + 4) * span).cast("long")),
        )
        .withColumn(
            "category",
            F.element_at(categories, (F.floor(F.rand(seed + 5) * 4) + 1).cast("int")),
        )
        .withColumn("transaction_date", F.to_date("transaction_datetime"))
        .withColumn(
            "is_suspicious",
            (F.col("amount") > 5000) & F.col("category").isin("withdrawal", "transfer"),
        )
        .drop("id")
    )
