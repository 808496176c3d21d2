"""Gold-mart plan builders, factored to DataFrame level so the same plans
serve both the query registry (q02-q04, oracle-checked) and the medallion
pipeline (which feeds them Silver managed tables instead of raw scans).

Mirrors the reference's three Gold marts (deltalake.ipynb:1272-1312):
client_stats (J1+J3+A1), daily_metrics (J2+A2+A3 with the currency
when-ladder :1286-1290), fraud_analysis (P10+J1+A1).  The marts take a
customer conformed by :func:`conformed_customer` (it carries ``country``;
the pipeline stores it as Silver customer), so no mart joins nation.  The
fixed rates dim is explicitly broadcast (reference :3154); fact-side
aggregation is a single hash-agg after the map-side joins, so a mart's
one shuffle is its final groupBy.  A mart over facts fed in as one
partition (the pipeline's rule for small Silver facts) has none: a single-partition child already satisfies the
groupBy's distribution, so the mart runs as one stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def _dec(c):
    return F.col(c).cast(DEC)


def conformed_customer(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """customer with its nation's name as ``country``: a left lookup, so a
    customer of a NULL or unknown nation key gets a NULL country.

    nation is a fixed 25-row dim with a unique key, read once as a
    key -> name map (an uncorrelated scalar subquery) rather than joined:
    Spark estimates a join's size as the product of its inputs', so a
    joined customer would look larger than the broadcast threshold and
    the marts' customer join would plan as a sort-merge join that
    shuffles the fact.  The lookup keeps the estimate customer-sized."""
    names = nation.where(F.col("n_nationkey").isNotNull()).select(
        F.map_from_entries(F.collect_list(F.struct("n_nationkey", "n_name")))
    )
    return customer.withColumn("country", names.scalar()[F.col("c_nationkey")])


def client_stats_mart(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-client aggregate mart (deltalake.ipynb:1273-1281, :3153-3162)
    over a :func:`conformed_customer`.

    customer SCALES with the data (150K rows/SF; the reference broadcasts
    its 50K clients, :3154, which stops being safe at 100x) — no hard hint;
    AQE auto-broadcasts under threshold.
    """
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
    return joined.groupBy(
        F.col("c_custkey").alias("client_id"),
        F.col("c_name").alias("name"),
        F.col("country"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_amount"),
        (F.floor(F.sum(_dec("o_totalprice")).cast("double") / F.count("*") * 100) / 100).alias("avg_amount"),
        F.count("*").alias("transactions_count"),
    )


def daily_rates(events: DataFrame) -> DataFrame:
    """Daily rate series from the events stream (the corpus' stand-in for
    currency_rates, FIXTURES.md §5); MAX keeps it order-independent.

    Rate-domain gate (degenerate suite r8): a currency rate is positive and
    bounded — crawl-quality event values (1e154, negatives, zero) are not
    valid rates, and an out-of-domain value overflows the mart's
    DECIMAL(10,2) conversion cast under ANSI.  The gate (0 < value < 1e6)
    is applied identically in q03's DuckDB oracle.
    """
    return (
        events.filter((F.col("value") > 0) & (F.col("value") < 1e6))
        .groupBy(F.dayofmonth("ts").alias("rate_day"))
        .agg(F.max("value").alias("rate"))
    )


def daily_metrics_mart(orders: DataFrame, rates: DataFrame) -> DataFrame:
    """Per-day volume mart with CASE-ladder currency conversion and
    conditional aggregation (deltalake.ipynb:1284-1299)."""
    joined = orders.join(
        F.broadcast(rates), F.dayofmonth(orders.o_orderdate) == rates.rate_day, "left"
    )
    price_dec = _dec("o_totalprice")
    amount_adj = (
        F.when(F.col("o_orderpriority") == "1-URGENT", price_dec * F.col("rate").cast("decimal(10,2)"))
        .when(F.col("o_orderpriority") == "2-HIGH", price_dec * F.lit("1.05").cast("decimal(4,2)"))
        .otherwise(price_dec)
    )
    conv = joined.select(
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_orderpriority"),
        amount_adj.alias("amount_adj"),
    )
    adj = F.col("amount_adj")
    return conv.groupBy(F.col("order_date").alias("date")).agg(
        F.sum(adj).cast("double").alias("daily_volume"),
        (F.floor(F.sum(adj).cast("double") / F.count("*") * 100) / 100).alias("avg_transaction"),
        F.count("*").alias("transactions_count"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias("urgent_count"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", adj).otherwise(F.lit(0).cast(DEC))
        ).cast("double").alias("urgent_volume"),
    )


def fraud_analysis_mart(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Suspicious-activity mart (deltalake.ipynb:1302-1312): boolean-flag
    filter feeding a 2-key aggregate over a 3-way join, with customer a
    :func:`conformed_customer`."""
    suspicious = lineitem.filter(
        (F.col("l_quantity") > 45) & F.col("l_returnflag").isin("R", "A")
    )
    joined = (
        suspicious.join(orders, suspicious.l_orderkey == orders.o_orderkey, "inner")
        .join(customer, orders.o_custkey == customer.c_custkey, "left")
    )
    return joined.groupBy(F.col("l_returnflag").alias("category"), "country").agg(
        F.count("*").alias("fraud_count"),
        (F.floor(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*") * 100) / 100).alias("avg_fraud_amount"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_fraud_amount"),
    )
