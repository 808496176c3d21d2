"""Core relational operator inventory (SURVEY.md §2.1-§2.8) on the test corpus.

Each query mirrors a reference operator cluster (citations in docstrings) but
is expressed over the driver's TPC-H-ish tables per FIXTURES.md §5:
orders/lineitem ≈ transactions fact, customer+nation ≈ clients dim.

All are pure DataFrame-API plans — Catalyst handles pushdown/pruning; joins
against dims are explicitly broadcast (reference J3, deltalake.ipynb:3154).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from delta_lake_spark.catalog import table
from delta_lake_spark.queries.registry import register

DEC = "decimal(18,2)"


def _dec(c):
    return F.col(c).cast(DEC)


# ---------------------------------------------------------------------------
# q01 — pricing summary: grouped multi-agg with conditional math
# (reference A1/A3: groupBy().agg(sum, avg, count) — deltalake.ipynb:1275-1298)
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)                               AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)                          AS sum_base_price,
  CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100) AS DOUBLE) / 100 AS sum_disc_price,
  CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))
           * (1 + CAST(l_tax AS DECIMAL(8,4)))) * 100) AS DOUBLE) / 100 AS sum_charge,
  FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_qty,
  FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_price,
  COUNT(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00"))
    )
    # decimal arithmetic end-to-end: products of decimals are exact (no
    # rounding below precision 38), so both engines sum identical values —
    # casting a *computed double* to decimal is NOT portable (rounding of
    # the binary value differs between engines on representational ties).
    one = F.lit(1).cast("decimal(8,4)")
    disc_price = _dec("l_extendedprice") * (one - F.col("l_discount").cast("decimal(8,4)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(8,4)"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # high-scale decimal sums exceed double precision, and the
            # decimal->double conversion path differs between engines; floor
            # at 2dp first so the cast lands in the exact-integer domain.
            (F.floor(F.sum(disc_price) * 100).cast("double") / 100).alias("sum_disc_price"),
            (F.floor(F.sum(charge) * 100).cast("double") / 100).alias("sum_charge"),
            (F.floor(F.sum(_dec("l_quantity")).cast("double") / F.count("*") * 100) / 100).alias("avg_qty"),
            (F.floor(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*") * 100) / 100).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q02 — client_stats analog: broadcast dim join + multi-key groupBy
# (reference J1+J3+A1+O1 — deltalake.ipynb:1273-1281, :3153-3162)
# ---------------------------------------------------------------------------
@register(
    "q02_client_stats",
    oracle="""
SELECT
  c.c_custkey                                         AS client_id,
  c.c_name                                            AS name,
  n.n_name                                            AS country,
  c.c_mktsegment                                      AS segment,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)          AS total_amount,
  FLOOR(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_amount,
  COUNT(*)                                            AS transactions_count
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_mktsegment
ORDER BY total_amount DESC, client_id
""",
)
def q02_client_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.pipeline.marts import client_stats_mart, conformed_customer

    return client_stats_mart(
        table(spark, sf_dir, "orders"),
        conformed_customer(table(spark, sf_dir, "customer"), table(spark, sf_dir, "nation")),
    ).orderBy(F.desc("total_amount"), "client_id")


# ---------------------------------------------------------------------------
# q03 — daily_metrics analog: expression join to a daily rate series +
# CASE-ladder conversion + conditional aggregation
# (reference J2+A2+A3 — deltalake.ipynb:1284-1299; when-ladder :1286-1290)
# The "rate" series is derived from events grouped by day-of-month (the
# corpus' stand-in for currency_rates, FIXTURES.md §5); MAX keeps the rate
# deterministic across engines (no float-accumulation order dependence).
# ---------------------------------------------------------------------------
@register(
    "q03_daily_metrics",
    oracle="""
WITH rates AS (
  -- rate-domain gate: mirrors pipeline/marts.daily_rates (r8)
  SELECT EXTRACT(day FROM ts) AS rate_day, MAX(value) AS rate
  FROM events WHERE value > 0 AND value < 1e6 GROUP BY 1
),
conv AS (
  SELECT
    CAST(o.o_orderdate AS DATE) AS order_date,
    o.o_orderpriority,
    CASE
      WHEN o.o_orderpriority = '1-URGENT'
        THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * CAST(r.rate AS DECIMAL(10,2))
      WHEN o.o_orderpriority = '2-HIGH'
        THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(4,2))
      ELSE CAST(o.o_totalprice AS DECIMAL(18,2))
    END AS amount_adj
  FROM orders o
  LEFT JOIN rates r ON EXTRACT(day FROM o.o_orderdate) = r.rate_day
)
SELECT
  order_date                                            AS date,
  CAST(SUM(amount_adj) AS DOUBLE)                       AS daily_volume,
  FLOOR(CAST(SUM(amount_adj) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_transaction,
  COUNT(*)                                              AS transactions_count,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
           THEN amount_adj ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_volume
FROM conv
GROUP BY order_date
ORDER BY date
""",
)
def q03_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.pipeline.marts import daily_metrics_mart, daily_rates

    return daily_metrics_mart(
        table(spark, sf_dir, "orders"),
        daily_rates(table(spark, sf_dir, "events")),
    ).orderBy("date")


# ---------------------------------------------------------------------------
# q04 — fraud_analysis analog: boolean-flag filter + 2-key groupBy over a
# 3-way join (reference P10+J1+A1 — deltalake.ipynb:1302-1312)
# ---------------------------------------------------------------------------
@register(
    "q04_fraud_analysis",
    oracle="""
SELECT
  l.l_returnflag                              AS category,
  n.n_name                                    AS country,
  COUNT(*)                                    AS fraud_count,
  FLOOR(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_fraud_amount,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_fraud_amount
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_quantity > 45 AND l.l_returnflag IN ('R', 'A')
GROUP BY l.l_returnflag, n.n_name
ORDER BY category, country
""",
)
def q04_fraud_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.pipeline.marts import conformed_customer, fraud_analysis_mart

    return fraud_analysis_mart(
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "orders"),
        conformed_customer(table(spark, sf_dir, "customer"), table(spark, sf_dir, "nation")),
    ).orderBy("category", "country")


# ---------------------------------------------------------------------------
# q05 — top-k with deterministic tie-break (reference O3 —
# deltalake.ipynb:1363-1379; Spark plans TakeOrderedAndProject)
# ---------------------------------------------------------------------------
@register(
    "q05_topk_customers",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 5
""",
)
def q05_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# q06 — left anti join (reference J4: incremental "except existing" —
# deltalake.ipynb:3232, :4250)
# ---------------------------------------------------------------------------
@register(
    "q06_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
ORDER BY c_custkey
""",
)
def q06_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large (>300k) order — anti-join on a filtered fact."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q07 — left semi join (EXISTS; engine exposes Spark's full join surface
# beyond the reference's left/inner/anti — SURVEY.md §2.3 note)
# ---------------------------------------------------------------------------
@register(
    "q07_customers_with_open_orders",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
ORDER BY c_custkey
""",
)
def q07_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q08 — distinct projection (reference A6 — deltalake.ipynb:265, :3228-3230)
# ---------------------------------------------------------------------------
@register(
    "q08_distinct_segments",
    oracle="""
SELECT DISTINCT c_mktsegment AS segment, c_nationkey AS nationkey
FROM customer
ORDER BY segment, nationkey
""",
)
def q08_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"), F.col("c_nationkey").alias("nationkey"))
        .distinct()
        .orderBy("segment", "nationkey")
    )


# ---------------------------------------------------------------------------
# q11 — ranking window: top-3 orders per customer
# (engine extension over the reference's frame-only windows, SURVEY.md §2.5)
# ---------------------------------------------------------------------------
@register(
    "q11_top3_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def q11_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Physical strategy (r6, VERDICT r5 task 5): bounded-buffer hash
    # aggregation, not the ranking window.  The window plan DOES get
    # Spark's Partial+Final WindowGroupLimit, but with ~10 orders per
    # customer spread randomly across input partitions the map-side top-3
    # keeps essentially every row (each key appears ~once per partition)
    # while still paying a full local sort of the input — two 15M-row
    # sorts for nothing.  The hash-agg shape never sorts the corpus: one
    # (custkey)-keyed exchange, then an array_sort over each customer's
    # ~10-element list.  Measured on the 100-copy corpus (15M orders):
    # window 16.5 s -> agg 12.3 s, identical output (exceptAll = 0 both
    # ways).  Per-key buffers are bounded by the data model's orders-per-
    # customer (~41 max in TPC-H); for unbounded per-key cardinality the
    # WindowGroupLimit plan is the safer shape.
    # Re-measured head-to-head at 100x (r8, VERDICT r7 task 3), 15M orders,
    # warm min-of-2, all shapes output-identical (exceptAll = 0 both ways):
    #   agg (this shape)                 14.96 s   <- kept
    #   window + rn<=3 (WindowGroupLimit) 21.25 s  rejected: two full sorts
    #   two-phase agg keyed (custkey,partition_id) 26.58 s  rejected: the
    #     map-side hash map explodes to ~48M groups (1.5M keys x 32 pids)
    #   insertion fold (aggregate() keeping a 3-slot array) 21.57 s
    #     rejected: higher-order-function per-element overhead beats the
    #     one array_sort it saves
    # (3-arg max_by(x, y, n) is not in Spark 4.1's registry — probed r8.)
    # Sort key: ascending (-price, orderkey) == price DESC, orderkey ASC;
    # double negation is an exact IEEE sign flip, so -(-p) round-trips.
    # NULL prices fold to +inf in the sort key so they rank LAST — the
    # DESC NULLS LAST behavior of a real ROW_NUMBER window in both engines
    # (a NULL field would otherwise sort FIRST ascending; degenerate suite
    # r8) — and decode back to NULL on output (+inf is unreachable for a
    # real negated price: money is finite by the schema contract).
    s = F.struct(
        F.coalesce(-F.col("o_totalprice"), F.lit(float("inf"))).alias("_negp"),
        F.col("o_orderkey").alias("k"),
    )
    top3 = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.slice(F.array_sort(F.collect_list(s)), 1, 3).alias("top3"))
    )
    return (
        top3.select("o_custkey", F.posexplode("top3").alias("_pos", "_s"))
        .select(
            "o_custkey",
            F.col("_s.k").alias("o_orderkey"),
            F.when(
                F.col("_s._negp") == F.lit(float("inf")), F.lit(None)
            ).otherwise(-F.col("_s._negp")).alias("o_totalprice"),
            (F.col("_pos") + 1).cast("int").alias("rn"),
        )
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# q12 — running total (frame window rowsBetween, reference W1's frame form —
# deltalake.ipynb:1017-1025 — with the partitionBy the reference lacks)
# ---------------------------------------------------------------------------
@register(
    "q12_running_total_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey,
       -- NULLS FIRST: engine-wide convention (Spark ascending default) —
       -- a NULL order date sorts to the start of the running total (r8)
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def q12_running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q13 — set operations: UNION / INTERSECT / EXCEPT (SURVEY.md §2.7 — the
# reference only uses anti-join-as-EXCEPT; the engine exposes all three)
# ---------------------------------------------------------------------------
@register(
    "q13_set_ops",
    oracle="""
WITH big_spenders AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
),
building AS (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM building) t
UNION ALL
SELECT 'only_big' AS tag, custkey FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM building) t
UNION ALL
SELECT 'only_building' AS tag, custkey FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM big_spenders) t
ORDER BY tag, custkey
""",
)
def q13_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = o.filter(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("custkey")).distinct()
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    both = big.intersect(bld).select(F.lit("both").alias("tag"), "custkey")
    only_big = big.exceptAll(bld.distinct()).select(F.lit("only_big").alias("tag"), "custkey")
    only_bld = bld.exceptAll(big).select(F.lit("only_building").alias("tag"), "custkey")
    return both.unionAll(only_big).unionAll(only_bld).orderBy("tag", "custkey")


# ---------------------------------------------------------------------------
# q14 — CASE ladder + date extraction (reference P2/scalar functions —
# when/otherwise ladders deltalake.ipynb:981-985, date funcs :950,:978)
# ---------------------------------------------------------------------------
@register(
    "q14_order_tiers_by_year",
    oracle="""
SELECT
  EXTRACT(year FROM o_orderdate)::BIGINT AS order_year,
  CASE
    WHEN o_totalprice < 50000  THEN 'small'
    WHEN o_totalprice < 200000 THEN 'medium'
    ELSE 'large'
  END AS tier,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
GROUP BY 1, 2
ORDER BY order_year, tier
""",
)
def q14_order_tiers_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            tier.alias("tier"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
        )
        .orderBy("order_year", "tier")
    )


# ---------------------------------------------------------------------------
# q15 — string functions: upper/split/concat/regexp
# (engine extension; reference's string surface is literals only, §2.8)
# ---------------------------------------------------------------------------
@register(
    "q15_part_string_ops",
    oracle="""
SELECT
  UPPER(split_part(p_type, ' ', 1))                       AS type_head,
  CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT)  AS brand_num,
  COUNT(*)                                                AS n_parts,
  CAST(SUM(LENGTH(p_name)) AS BIGINT)                     AS total_name_len,
  MIN(p_name)                                             AS first_name
FROM part
GROUP BY 1, 2
ORDER BY type_head, brand_num
""",
)
def q15_part_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.upper(F.split(F.col("p_type"), " ").getItem(0)).alias("type_head"),
            F.regexp_extract(F.col("p_brand"), r"([0-9]+)", 1).cast("long").alias("brand_num"),
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.length("p_name")).alias("total_name_len"),
            F.min("p_name").alias("first_name"),
        )
        .orderBy("type_head", "brand_num")
    )


# ---------------------------------------------------------------------------
# q16 — JSON extraction from string column (SURVEY.md §2.8 note: the engine
# adds from_json/get_json_object for events.props)
# ---------------------------------------------------------------------------
@register(
    "q16_json_props",
    oracle="""
SELECT
  event_type,
  COUNT(*)                                               AS n_events,
  CAST(SUM(TRY_CAST(k AS BIGINT)) AS BIGINT)             AS sum_k,
  MAX(TRY_CAST(k AS BIGINT))                             AS max_k
FROM (
  -- malformed-JSON rule (r8): invalid JSON extracts to NULL (Spark's
  -- get_json_object is lenient; DuckDB errors without the json_valid
  -- gate) and non-numeric fields TRY_CAST to NULL in both engines
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.k') END AS k
  FROM events
) t
GROUP BY event_type
ORDER BY event_type
""",
)
def q16_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # try_cast mirrors the oracle's TRY_CAST: a JSON field holding a
    # non-numeric string is NULL, not a crash (degenerate suite r8)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q17 — pivot (engine extension: §2.4 notes no pivot in reference; result
# identical to conditional aggregation, which is the oracle form)
# ---------------------------------------------------------------------------
@register(
    "q17_pivot_status",
    oracle="""
SELECT
  l_returnflag,
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q17_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q18 — rollup with grouping flags (engine extension, §2.4 note)
# ---------------------------------------------------------------------------
@register(
    "q18_rollup_flags",
    oracle="""
SELECT
  CAST(GROUPING(l_returnflag) AS BIGINT)  AS g_flag,
  CAST(GROUPING(l_linestatus) AS BIGINT)  AS g_status,
  l_returnflag,
  l_linestatus,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def q18_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("qty"),
        )
        .select("g_flag", "g_status", "l_returnflag", "l_linestatus", "n", "qty")
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q21 — global scalar aggregation (reference A5 — deltalake.ipynb:1006-1009,
# :1498-1499: min/max high-water-mark reads)
# ---------------------------------------------------------------------------
@register(
    "q21_global_stats",
    oracle="""
SELECT
  COUNT(*)                                       AS n_rows,
  COUNT(DISTINCT l_orderkey)                     AS n_orders,
  CAST(MIN(l_shipdate) AS DATE)                  AS min_ship,
  CAST(MAX(l_shipdate) AS DATE)                  AS max_ship,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)    AS total_price,
  MIN(l_quantity)                                AS min_qty,
  MAX(l_quantity)                                AS max_qty
FROM lineitem
""",
)
def q21_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min(F.to_date("l_shipdate")).alias("min_ship"),
        F.max(F.to_date("l_shipdate")).alias("max_ship"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# q22 — ntile quartiles (engine extension; deterministic tie-break)
# ---------------------------------------------------------------------------
@register(
    "q22_balance_quartiles",
    oracle="""
SELECT quartile, COUNT(*) AS n, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM (
  SELECT c_acctbal,
         -- NULLS FIRST: the engine-wide null-ordering convention is
         -- Spark's default (NULL sorts as the smallest value ascending);
         -- DuckDB defaults to NULLS LAST so the oracle states it (r8)
         NTILE(4) OVER (ORDER BY c_acctbal NULLS FIRST, c_custkey) AS quartile
  FROM customer
) t
GROUP BY quartile
ORDER BY quartile
""",
)
def q22_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global NTILE over a table that SCALES with SF: the naive
    # Window.orderBy (no partitionBy) funnels every customer through one
    # task (plan_audit's global_funnel).  ops.ranking.global_ntile computes
    # the identical bucketing via range-repartition + per-partition offsets
    # — P-way parallel; the oracle is unchanged, proving the rewrite exact.
    from delta_lake_spark.ops.ranking import global_ntile

    c = table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    return (
        global_ntile(c, 4, ["c_acctbal", "c_custkey"], out_col="quartile")
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# q24 — CUBE multi-dimensional aggregate (beyond the reference's flat
# GROUP BYs; q18 covers ROLLUP).  Exercised through spark.sql over
# registered views — the engine's SQL entry path (SURVEY.md §2.1 K8).
# ---------------------------------------------------------------------------
_Q24_SQL = """
SELECT o_orderpriority, o_orderstatus,
       {gid}                                               AS gid,
       COUNT(*)                                            AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY gid, o_orderpriority, o_orderstatus
"""


@register(
    "q24_cube_order_mix",
    oracle=_Q24_SQL.format(
        gid="(CASE WHEN GROUPING(o_orderpriority) = 1 THEN 2 ELSE 0 END"
        " + CASE WHEN GROUPING(o_orderstatus) = 1 THEN 1 ELSE 0 END)"
    ),
)
def q24_cube_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q24_SQL.format(gid="GROUPING_ID(o_orderpriority, o_orderstatus)"))


# ---------------------------------------------------------------------------
# q25 — event-time RANGE frame: per-customer rolling 7-day order volume
# (interval-bounded window frames; the reference only uses row frames, W1)
# ---------------------------------------------------------------------------
_Q25_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS vol_7d
FROM orders
WHERE o_custkey < 200
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@register("q25_rolling_7d_volume", oracle=_Q25_SQL.replace("7 DAYS", "7 DAY"))
def q25_rolling_7d_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q25_SQL)


# ---------------------------------------------------------------------------
# q26 — correlated EXISTS / NOT EXISTS subqueries (Catalyst rewrites to
# semi/anti joins — verify the declarative form, not hand-built joins)
# ---------------------------------------------------------------------------
_Q26_SQL = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
ORDER BY c.c_custkey
"""


@register("q26_exists_urgent_no_failed", oracle=_Q26_SQL)
def q26_exists_urgent_no_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q26_SQL)


# ---------------------------------------------------------------------------
# q28 — approximate aggregates (sketch surface): HLL++ distinct counts and
# approximate quantiles.  Raw sketch estimates are engine-specific (Spark
# HLL++/KLL vs DuckDB HLL/t-digest) and can never hash-match, so what is
# cross-engine checked is the sketch CONTRACT: each engine's approximation
# lands within a wide band of the exact answer it computes itself (HLL at
# rsd=0.02 vs a 5% band; approx-median vs the exact [p40, p60] band;
# approx-p95 vs the exact [p90, p99] band).  The booleans are stable by a
# wide margin; the exact counts anchor the row values.  (q40 does the same
# for the HLL-only surface; q28 covers the quantile sketches.)
# ---------------------------------------------------------------------------
@register(
    "q28_sketch_aggregates",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       (ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
        <= 0.05 * COUNT(DISTINCT o_custkey))                 AS approx_customers_ok,
       (approx_quantile(o_totalprice, 0.5)
          BETWEEN quantile_cont(o_totalprice, 0.40)
              AND quantile_cont(o_totalprice, 0.60))         AS p50_ok,
       (approx_quantile(o_totalprice, 0.95)
          BETWEEN quantile_cont(o_totalprice, 0.90)
              AND quantile_cont(o_totalprice, 0.99))         AS p95_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q28_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    exact = F.count_distinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", rsd=0.02)
    price = F.col("o_totalprice").cast("double")
    p50a = F.percentile_approx(price, 0.5, 10_000)
    p95a = F.percentile_approx(price, 0.95, 10_000)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            exact.alias("exact_customers"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("approx_customers_ok"),
            p50a.between(
                F.percentile(price, F.lit(0.40)), F.percentile(price, F.lit(0.60))
            ).alias("p50_ok"),
            p95a.between(
                F.percentile(price, F.lit(0.90)), F.percentile(price, F.lit(0.99))
            ).alias("p95_ok"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q29-q32 — TPC-H-style multi-way-join analytics adapted to the corpus
# schema (the classic shapes Catalyst's join planning is built for; at
# scale: dims broadcast, facts shuffle once on the grouping keys)
# ---------------------------------------------------------------------------
@register(
    "q29_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q29_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-06-01 00:00:00"))
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-06-01 00:00:00"))
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        # customer SCALES with the data (150K/SF) — no hard broadcast hint;
        # AQE auto-broadcasts under threshold and falls back to shuffle at
        # 100x scale instead of OOMing the executors.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q30_local_supplier_volume",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
)
def q30_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 100x-scale shape (VERDICT r6 task 5): the naive join order shuffled the
    # FULL lineitem through l⋈o⋈c before the region predicate could drop
    # anything. Instead the ASIA filter is pushed into BOTH fact-side inputs
    # first (a 5-row broadcast each — ~1/5 of suppliers/customers survive, so
    # ~1/5 of lineitem and orders enter the big fact-fact join). Measured at
    # the 100-copy corpus (60M lineitem): 16.9 -> 8.8s warm; sf0.1 also
    # improved 0.65 -> ~0.48s. A partial aggregate per (orderkey,
    # supplier-nation) BELOW the final join was measured and REJECTED: the
    # extra shuffle cost 2x at sf0.1 (0.92s) for ~3% at 100x (8.6s) — the
    # per-order group barely reduces rows, so map-side combine has nothing
    # to combine.
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    asia = (
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    # supplier/customer scale with the data — the asia dim (5 rows) is the
    # broadcast side; the supplier/customer fact joins are left to AQE.
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    l_asia = l.join(s, l.l_suppkey == F.col("s_suppkey")).select(
        "l_orderkey", "s_nationkey", "n_name", rev.alias("rv")
    )
    o_asia = (
        o.join(c, o.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    return (
        l_asia.join(
            o_asia,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("rv").cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "q31_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS lost_revenue,
       COUNT(*) AS n_returned
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
""",
)
def q31_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        # customer scales — AQE decides; nation is a fixed dim, hint kept
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("lost_revenue"),
            F.count("*").alias("n_returned"),
        )
        .select("c_custkey", "c_name", "nation", "lost_revenue", "n_returned")
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q32_promo_revenue_share",
    oracle="""
SELECT EXTRACT(year FROM l.l_shipdate) AS ship_year,
       CAST(FLOOR(
         CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(8,4)))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE)
         * 10000) AS BIGINT) AS promo_share_bp,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
ORDER BY ship_year
""",
)
def q32_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        # part scales with SF (~200K rows/SF) — no broadcast hint; AQE picks
        # BHJ while the build side is under the threshold and falls back to
        # SMJ at scale (same treatment as q29/q30's scaling dims).
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            # try_divide: a year whose net revenue is exactly zero (possible
            # on crawl-quality data with negative/zero prices) must yield a
            # NULL share, matching DuckDB's divide-by-zero-is-NULL (degenerate
            # suite r8)
            F.floor(
                F.try_divide(F.sum(promo).cast("double"), F.sum(rev).cast("double"))
                * 10000
            ).cast("long").alias("promo_share_bp"),
            F.count("*").alias("n_items"),
        )
        .orderBy("ship_year")
    )


# ---------------------------------------------------------------------------
# q33 — FULL OUTER join reconciliation (completes the §2.3 join-type
# surface: the reference uses left/inner/anti only, SURVEY notes the
# engine should expose the rest).  Reconciles per-day order activity vs
# per-day event activity; the two calendars barely overlap, so both
# null-sides are exercised and zero-filled.  Scale shape: two one-shuffle
# pre-aggregations, then a full-outer hash join on the (already reduced)
# day keys — the aggregate-before-join form that keeps the outer join
# small regardless of fact-table size.
# ---------------------------------------------------------------------------
@register(
    "q33_activity_reconciliation",
    oracle="""
WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY 1),
e AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY 1)
SELECT COALESCE(o.d, e.d) AS activity_date,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(e.n_events, 0) AS n_events,
       (o.d IS NOT NULL AND e.d IS NOT NULL) AS both_active
FROM o FULL OUTER JOIN e ON o.d = e.d
ORDER BY activity_date
""",
)
def q33_activity_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d_o"))
        .agg(F.count("*").alias("n_orders"))
    )
    e = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d_e"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        o.join(e, o.d_o == e.d_e, "full_outer")
        .select(
            F.coalesce("d_o", "d_e").alias("activity_date"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            (F.col("d_o").isNotNull() & F.col("d_e").isNotNull()).alias("both_active"),
        )
        .orderBy("activity_date")
    )


# ---------------------------------------------------------------------------
# q35 — correlated scalar subquery: orders priced at more than twice their
# customer's average order.  Spark plans the correlated aggregate as a
# de-correlated shuffle agg + join (no per-row re-execution) — exactly the
# rewrite you want at scale; the identical SQL text runs on both engines.
# ---------------------------------------------------------------------------
_Q35_SQL = """
SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 2 * (
  SELECT FLOOR(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey
"""


@register("q35_orders_above_customer_avg", oracle=_Q35_SQL)
def q35_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q35_SQL)


# ---------------------------------------------------------------------------
# q36 — unpivot/melt (the inverse of q17's pivot): wide per-segment metrics
# to long (metric, value) rows.  Spark's native unpivot (Expand node — a
# per-row flatMap, no shuffle); values pre-cast to a common double type.
# ---------------------------------------------------------------------------
@register(
    "q36_unpivot_segment_metrics",
    oracle="""
WITH m AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS DOUBLE)                                   AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)      AS total_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, metric, value
FROM m UNPIVOT (value FOR metric IN (n_cust, total_bal))
ORDER BY c_mktsegment, metric
""",
)
def q36_unpivot_segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("double").alias("n_cust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )
    return (
        wide.unpivot(
            ids=["c_mktsegment"],
            values=["n_cust", "total_bal"],
            variableColumnName="metric",
            valueColumnName="value",
        )
        # UNPIVOT drops NULL cells — SQL UNPIVOT's default in both
        # engines; Spark's DataFrame API keeps them, so state it (a
        # segment whose only members have NULL balances otherwise emits a
        # NULL total_bal row the oracle never produces; r8)
        .filter(F.col("value").isNotNull())
        .orderBy("c_mktsegment", "metric")
    )


# ---------------------------------------------------------------------------
# q37 — aggregate-then-max selection (TPC-H Q15 shape): best supplier(s) by
# 1995-Q1 shipped revenue; the WHERE compares each group's aggregate to a
# scalar subquery over the same aggregate (Catalyst evaluates the revenue
# CTE once per consumer; ties surface all winners).  Shared SQL text runs
# on both engines.
# ---------------------------------------------------------------------------
_Q37_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100) AS DOUBLE) / 100
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@register("q37_top_supplier_revenue", oracle=_Q37_SQL)
def q37_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q37_SQL)


# ---------------------------------------------------------------------------
# q38 — hierarchical aggregate rollup: monthly metrics RE-AGGREGATED from
# the daily aggregate rather than rescanning the fact table (the hypertable
# continuous-aggregate / rollup-reuse pattern: at 100 TB the daily mart is
# ~1/1000th of the facts, so month/quarter/year views re-aggregate partials
# instead of paying the full scan again).  Correctness hinges on mergeable
# partials — decimal sums and counts compose exactly (sum of sums); the
# oracle computes the same months STRAIGHT from the facts, proving the
# two-level aggregation is lossless.  avg is re-derived from the partials
# (sum/count), never averaged-of-averages.
# ---------------------------------------------------------------------------
@register(
    "q38_monthly_rollup_from_daily",
    oracle="""
SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
       COUNT(*)                                                     AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)     AS total_price,
       FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) * 100) / 100                                AS avg_price
FROM orders
GROUP BY 1
ORDER BY month
""",
)
def q38_monthly_rollup_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).alias("price_sum"),  # exact partial
        )
    )
    return (
        daily.groupBy(F.trunc("day", "month").alias("month"))
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("price_sum").cast("double").alias("total_price"),
            (
                F.floor(
                    F.sum("price_sum").cast("double") / F.sum("n") * 100
                ) / 100
            ).alias("avg_price"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q40 — sketch accuracy property: HLL approx-distinct vs exact distinct.
# The raw estimates are engine-specific (Spark HLL++ vs DuckDB's HLL) and
# can never hash-match; what IS cross-engine checkable is the sketch
# CONTRACT — each engine's estimate lands within the error bound of the
# exact answer it computes itself.  Spark runs rsd=0.01 against a 5%
# acceptance band, so the boolean is stable by a wide margin.  (q28 keeps
# the raw-estimate surface as a rows-only entry.)
# ---------------------------------------------------------------------------
@register(
    "q40_sketch_accuracy",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_exact,
       (ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
        <= 0.05 * COUNT(DISTINCT o_custkey)) AS approx_within_5pct
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q40_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    exact = F.count_distinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", rsd=0.01)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            exact.alias("n_exact"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q41 — explicit GROUPING SETS (the general form behind q18's ROLLUP and
# q24's CUBE): two independent 1-D breakdowns plus the grand total in ONE
# scan — Spark plans a single Expand + aggregate, not three unioned scans.
# GROUPING() flags disambiguate real NULL group keys from the roll-up rows.
# Shared SQL text runs on both engines.
# ---------------------------------------------------------------------------
_Q41_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       GROUPING(o_orderstatus)   AS g_status,
       GROUPING(o_orderpriority) AS g_priority,
       COUNT(*)                  AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


@register("q41_grouping_sets", oracle=_Q41_SQL)
def q41_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q41_SQL)


# ---------------------------------------------------------------------------
# q42 — RIGHT OUTER join (with q33's full outer this completes the
# join-type surface SURVEY.md §2.3 calls for): every customer appears,
# zero-filled when orderless.  Scale note: at 100x you'd write this as the
# mirrored LEFT join (big table on the probe side); Catalyst produces the
# same plan either way — the demo keeps the literal RIGHT form.
# ---------------------------------------------------------------------------
@register(
    "q42_right_join_order_coverage",
    oracle="""
SELECT c.c_custkey,
       c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
FROM orders o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY c.c_custkey
""",
)
def q42_right_join_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q43 — bounded CROSS join: the (region x order-status) coverage matrix,
# zero-filled via a left join back onto observed combinations.  The cross
# join is deliberate and bounded (5 x 3 dimension rows) — the legitimate
# cross-join use case (dimension scaffolding), never fact x fact.
# ---------------------------------------------------------------------------
@register(
    "q43_coverage_matrix",
    oracle="""
WITH obs AS (
  SELECT r.r_name, o.o_orderstatus, COUNT(*) AS n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, o.o_orderstatus
),
statuses AS (SELECT DISTINCT o_orderstatus FROM orders)
SELECT r.r_name, s.o_orderstatus, COALESCE(obs.n, 0) AS n_orders
FROM region r
CROSS JOIN statuses s
LEFT JOIN obs ON obs.r_name = r.r_name AND obs.o_orderstatus = s.o_orderstatus
ORDER BY r.r_name, s.o_orderstatus
""",
)
def q43_coverage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    statuses = o.select("o_orderstatus").distinct()
    grid = r.select("r_name").crossJoin(statuses)
    return (
        grid.join(obs, ["r_name", "o_orderstatus"], "left")
        .select(
            "r_name",
            "o_orderstatus",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("r_name", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q39 — exact percentiles + IQR outlier fences (engine extension; fills the
# exact-quantile gap between q22's ntile buckets and q28's approx sketches).
# Spark's `percentile` is the exact interpolated aggregate and is verified
# bit-identical with DuckDB's quantile_cont on this corpus; fence arithmetic
# is IEEE-deterministic on those bit-identical doubles, so the outlier
# counts are hash-stable.  Scale note: exact percentile materializes each
# group's values on the agg side — the 100-TB path is q28's
# approx_percentile sketch; this operator is the small-group exact analysis
# (5 segments here).  The stats frame (5 rows) broadcasts for the
# outlier-count join.
# ---------------------------------------------------------------------------
@register(
    "q39_exact_percentile_outliers",
    oracle="""
WITH stats AS (
  SELECT c_mktsegment,
         quantile_cont(c_acctbal, 0.25) AS q1,
         quantile_cont(c_acctbal, 0.5)  AS med,
         quantile_cont(c_acctbal, 0.75) AS q3,
         COUNT(*) AS n_customers
  FROM customer GROUP BY c_mktsegment
)
SELECT s.c_mktsegment, s.q1, s.med, s.q3, s.n_customers,
       COUNT(CASE WHEN c.c_acctbal < s.q1 - 1.5 * (s.q3 - s.q1)
                    OR c.c_acctbal > s.q3 + 1.5 * (s.q3 - s.q1)
                  THEN 1 END) AS n_outliers
FROM stats s JOIN customer c ON c.c_mktsegment = s.c_mktsegment
GROUP BY s.c_mktsegment, s.q1, s.med, s.q3, s.n_customers
ORDER BY s.c_mktsegment
""",
)
def q39_exact_percentile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    stats = c.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.5)").alias("med"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
        F.count("*").alias("n_customers"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_outlier = (F.col("c_acctbal") < F.col("q1") - 1.5 * iqr) | (
        F.col("c_acctbal") > F.col("q3") + 1.5 * iqr
    )
    return (
        c.join(F.broadcast(stats), "c_mktsegment")
        .groupBy("c_mktsegment", "q1", "med", "q3", "n_customers")
        .agg(F.count(F.when(is_outlier, 1)).alias("n_outliers"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q44 — relative-standing window functions: percent_rank + cume_dist of
# customer balances within market segment (completes the ranking surface
# next to q11 row_number/top-k and q22 ntile).  Both are single-shuffle
# window functions; values are exact small-integer ratios, so the doubles
# are bit-identical across engines.
# ---------------------------------------------------------------------------
@register(
    "q44_balance_standing",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS pr,
       CUME_DIST()    OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS cd
FROM customer
WHERE c_custkey < 300
ORDER BY c_mktsegment, c_acctbal, c_custkey
""",
)
def q44_balance_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
    )


# ---------------------------------------------------------------------------
# q46 — supplier-nation market share (TPC-H Q8 shape): for orders placed by
# ASIA-region customers, each supplier nation's share of yearly revenue.
# Two-level aggregation: exact decimal revenue per (year, supplier nation),
# then a window total per year for the share — the agg-then-window pattern
# that keeps both passes on the same (year) shuffle key.  Share is floored
# to basis points per the cross-engine float rules (registry docstring).
# Scale: facts shuffle once on the grouping key; the year-window input is
# one row per (year, nation) — trivially small regardless of SF; nation/
# region broadcast, customer/supplier AQE-decided (q29/q30 convention).
# ---------------------------------------------------------------------------
@register(
    "q46_market_share",
    oracle="""
WITH rev AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS order_year,
         ns.n_name AS supplier_nation,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(8,4))) AS volume
  FROM customer c
  JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
  JOIN region r   ON nc.n_regionkey = r.r_regionkey
  JOIN orders o   ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
  WHERE r.r_name = 'ASIA'
),
per AS (
  SELECT order_year, supplier_nation,
         SUM(volume) AS vol, COUNT(*) AS n_items
  FROM rev GROUP BY order_year, supplier_nation
)
SELECT order_year, supplier_nation,
       CAST(FLOOR(CAST(vol AS DOUBLE)
                  / CAST(SUM(vol) OVER (PARTITION BY order_year) AS DOUBLE)
                  * 10000) AS BIGINT) AS share_bp,
       n_items
FROM per
ORDER BY order_year, supplier_nation
""",
)
def q46_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    nc = table(spark, sf_dir, "nation")
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_nationkey"),
        F.col("n_name").alias("supplier_nation"),
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    per = (
        # customer/supplier scale with SF — AQE decides; nation/region are
        # fixed dims, hints kept (q30 convention)
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == nc.n_nationkey)
        .join(F.broadcast(r), nc.n_regionkey == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_nationkey"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"), "supplier_nation"
        )
        .agg(F.sum(vol).alias("vol"), F.count("*").alias("n_items"))
    )
    w = Window.partitionBy("order_year")
    share = F.floor(
        F.col("vol").cast("double")
        / F.sum("vol").over(w).cast("double")
        * 10000
    ).cast("bigint")
    return (
        per.select(
            "order_year",
            "supplier_nation",
            share.alias("share_bp"),
            "n_items",
        )
        .orderBy("order_year", "supplier_nation")
    )


# ---------------------------------------------------------------------------
# q47 — supplier breadth per part segment (TPC-H Q16 shape): how many
# DISTINCT suppliers ship each (brand, type, size) bucket, excluding one
# brand — the distinct-count-over-join shape (lineitem stands in for
# partsupp; the corpus has no partsupp table).  Scale: the join output
# projects only (brand, type, size, suppkey) before the distinct agg, so
# the shuffle carries 4 narrow columns; Spark plans count(DISTINCT) as a
# two-phase partial-distinct aggregate (no single-reducer bottleneck).
# ---------------------------------------------------------------------------
@register(
    "q47_supplier_breadth",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt,
       COUNT(*) AS n_shipments
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 20
""",
)
def q47_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        # part scales with SF — no hard broadcast hint (q32 convention)
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count("*").alias("n_shipments"),
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q60 — Pearson correlation matrix per return flag, computed EXACTLY across
# engines: built-in corr() is a floating-point reduction whose result
# depends on accumulation order, so instead the five raw moments are
# decimal sums (exact, order-independent) and the final r is one double
# expression over those exact moments — bit-identical in Spark and DuckDB.
# Plan shape: ONE partial-aggregated groupBy scan, no window, no second
# pass; at 100 TB this is the only shape a corr matrix should have.
# ---------------------------------------------------------------------------
# DECIMAL(19,2), not (18,2): DuckDB evaluates DECIMAL(18)xDECIMAL(18)
# products in INT64 and a schema-domain price of 1e9 overflows the square;
# width 19 forces INT128 evaluation in DuckDB while Spark widens the
# product to DECIMAL(38,4) — both exact (degenerate suite r8)
_Q60_DEC = "DECIMAL(19,2)"


def _q60_r_sql(x: str, y: str) -> str:
    return (
        f"ROUND((nd * CAST(s{x}{y} AS DOUBLE) - CAST(s{x} AS DOUBLE) * CAST(s{y} AS DOUBLE)) / "
        f"SQRT((nd * CAST(s{x}{x} AS DOUBLE) - CAST(s{x} AS DOUBLE) * CAST(s{x} AS DOUBLE)) * "
        f"(nd * CAST(s{y}{y} AS DOUBLE) - CAST(s{y} AS DOUBLE) * CAST(s{y} AS DOUBLE))), 6)"
    )


@register(
    "q60_correlation_matrix",
    oracle=f"""
SELECT l_returnflag, n,
       {_q60_r_sql('q', 'p')} AS r_qty_price,
       {_q60_r_sql('q', 'd')} AS r_qty_disc,
       {_q60_r_sql('p', 'd')} AS r_price_disc
FROM (
  SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
         SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
         SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
         SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(p*d) AS spd
  FROM (
    SELECT l_returnflag,
           CAST(l_quantity AS {_Q60_DEC}) AS q,
           CAST(l_extendedprice AS {_Q60_DEC}) AS p,
           CAST(l_discount AS {_Q60_DEC}) AS d
    FROM lineitem
  ) raw GROUP BY l_returnflag
) m ORDER BY l_returnflag
""",
)
def q60_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(19,2)").alias("q"),
        F.col("l_extendedprice").cast("decimal(19,2)").alias("p"),
        F.col("l_discount").cast("decimal(19,2)").alias("d"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count("*").cast("double").alias("nd"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def r(x: str, y: str):
        nd = F.col("nd")
        sx, sy = F.col(f"s{x}").cast("double"), F.col(f"s{y}").cast("double")
        sxy = F.col(f"s{x}{y}").cast("double")
        sxx = F.col(f"s{x}{x}").cast("double")
        syy = F.col(f"s{y}{y}").cast("double")
        # try_divide: a zero-variance group (single row, or a constant
        # column) has an undefined correlation — NULL in both engines
        # (DuckDB's 0/0 is NULL; degenerate suite r8)
        return F.round(
            F.try_divide(
                nd * sxy - sx * sy,
                F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            ),
            6,
        )

    return m.select(
        "l_returnflag",
        "n",
        r("q", "p").alias("r_qty_price"),
        r("q", "d").alias("r_qty_disc"),
        r("p", "d").alias("r_price_disc"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q66 — semi-structured props via Spark 4 VARIANT (parse_json once,
# variant_get thereafter): the engine's modern counterpart to q16's
# get_json_object.  VARIANT parses each JSON document a single time into a
# binary-encoded form, so N field extractions cost one parse instead of N
# re-parses — at 100 TB of event payloads that is the difference between
# scanning strings N times and once.  The oracle extracts the same fields
# with DuckDB's JSON functions; results are integer-exact.
# ---------------------------------------------------------------------------
@register(
    "q66_variant_props",
    oracle="""
SELECT event_type,
       CAST(k // 25 AS BIGINT)                                 AS k_bucket,
       COUNT(*)                                                AS n_events,
       CAST(SUM(k) AS BIGINT)                                  AS sum_k
FROM (
  -- malformed-JSON rule (r8): invalid JSON parses to a NULL variant in
  -- Spark (try_parse_json) and must extract to NULL here too; non-numeric
  -- fields TRY_CAST to NULL in both engines
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k
  FROM events
) t
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
""",
)
def q66_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # try_parse_json / try_variant_get: crawl-quality payloads contain
    # malformed JSON and non-numeric fields — both become NULL, mirroring
    # the oracle's json_valid + TRY_CAST gates (degenerate suite r8)
    v = e.select("event_type", F.try_parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "long")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type", F.expr("k DIV 25").alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k"))
        .orderBy("event_type", "k_bucket")
    )


# ---------------------------------------------------------------------------
# q70 — SQL distribution window functions: percent_rank / cume_dist /
# nth_value, the last unexercised corner of the window surface.  Ranks are
# computed within (segment, nation) cohorts — 125 balanced groups, so the
# window shuffle spreads; for a CORPUS-WIDE percentile at 100 TB the
# funnel-free two-pass path is ops.ranking.global_ntile (q22/s08), not a
# one-partition window.  percent_rank=(rank-1)/(n-1) and cume_dist=
# rows<=cur/n are exact integer ratios evaluated identically in IEEE
# doubles by both engines, so the floored basis points are hash-stable;
# nth_value needs the full-frame spec or it sees a growing frame.
# ---------------------------------------------------------------------------
@register(
    "q70_distribution_ranks",
    oracle="""
SELECT c_custkey,
       c_mktsegment,
       c_nationkey,
       CAST(FLOOR(percent_rank() OVER w * 10000) AS BIGINT) AS pr_bp,
       CAST(FLOOR(cume_dist() OVER w * 10000) AS BIGINT)    AS cd_bp,
       nth_value(c_acctbal, 3) OVER (PARTITION BY c_mktsegment, c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS third_highest_bal
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
             ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_custkey
""",
)
def q70_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.percent_rank().over(w) * 10000).cast("bigint").alias("pr_bp"),
        F.floor(F.cume_dist().over(w) * 10000).cast("bigint").alias("cd_bp"),
        F.nth_value("c_acctbal", 3).over(wf).alias("third_highest_bal"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q88 — RELATIONAL DIVISION (the FOR-ALL query shape): customers who placed
# orders in EVERY priority class.  Division is the one classic algebra
# operator SQL has no keyword for; the scalable rewrite is count-matching —
# per-customer COUNT(DISTINCT divisor) compared against the divisor-set
# cardinality — which runs as ONE customer-keyed aggregate plus a broadcast
# scalar, instead of the textbook double-NOT-EXISTS (two correlated
# anti-joins).  The oracle keeps the count-matching form too (DuckDB planned
# the same), so both engines agree bit-exactly on the qualifying set.
#
# Scale shape: one (custkey, priority) distinct collapse (map-side partial),
# one custkey aggregate, the 1-row divisor count broadcast; the segment
# lookup joins the bounded qualifying set to the customer dim (AQE decides).
# ---------------------------------------------------------------------------
@register(
    "q88_full_coverage_customers",
    oracle="""
WITH np AS (SELECT COUNT(DISTINCT o_orderpriority) AS n_prio FROM orders),
q AS (
  SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_cust_prio,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT q.o_custkey AS custkey, c.c_mktsegment,
       CAST(q.n_orders AS BIGINT) AS n_orders
FROM q, np
JOIN customer c ON c.c_custkey = q.o_custkey
WHERE q.n_cust_prio = np.n_prio
ORDER BY custkey
""",
)
def q88_full_coverage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    np_ = o.agg(F.countDistinct("o_orderpriority").alias("n_prio"))
    q = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_cust_prio"),
        F.count("*").alias("n_orders"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        q.crossJoin(F.broadcast(np_))
        .filter(F.col("n_cust_prio") == F.col("n_prio"))
        .join(c, q.o_custkey == c.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            "c_mktsegment",
            F.col("n_orders").cast("bigint").alias("n_orders"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# q89 — revenue concentration as an EXACT-integer Gini coefficient: how
# unequally is order revenue distributed across customers?  The rank-form
# identity  G = (2*SUM(i*x_i) - (n+1)*SUM(x)) / (n*SUM(x))  (x ascending)
# is computed entirely in integer cents — per-customer revenue ranks come
# from ops.ranking.global_row_number (range partition + broadcast offsets,
# never a single-partition ORDER BY window), the two sums are one
# aggregate, and the output is floored milli-units via cross-multiplied
# integer division.  Float Lorenz-curve integration would not be
# cross-engine reproducible; this is.
#
# Scale shape: one customer-keyed revenue aggregate, the funnel-free global
# ranking, one scalar aggregate.  Nothing quadratic, nothing collected
# beyond the P-row partition offsets.
# ---------------------------------------------------------------------------
@register(
    "q89_revenue_gini",
    oracle="""
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM rev
)
SELECT CAST(COUNT(*) AS BIGINT)   AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST((1000 * (2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)))
            // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_milli
FROM ranked
""",
)
def q89_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.ops.ranking import global_row_number

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    ranked = global_row_number(rev, ["cents", "o_custkey"], out_col="i")
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST((1000 * (2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)))"
            " div (COUNT(*) * SUM(cents)) AS BIGINT)"
        ).alias("gini_milli"),
    )


# ---------------------------------------------------------------------------
# q90 — fulfillment-latency SLO percentiles: p50/p90/p99 (exact,
# interpolated) of order-to-ship latency in whole days, per order priority
# — the ops-review table behind "are URGENT orders actually faster?".
# Latency comes from integer epoch-day arithmetic (timezone-immune, like
# q68/q86); percentile interpolation emits raw doubles, which are
# hash-stable across engines on integer inputs (q39 precedent: Spark's
# exact `percentile` and DuckDB's `quantile_cont` agree bit-for-bit).
#
# Shape: one fact-sized equi-join (lineitem x orders on orderkey — AQE
# decides), one bounded (priority) aggregate with map-side partials.
# ---------------------------------------------------------------------------
@register(
    "q90_ship_latency_slo",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       quantile_cont(epoch_us(l.l_shipdate) // {86_400_000_000}
                     - epoch_us(o.o_orderdate) // {86_400_000_000}, 0.5)  AS p50_days,
       quantile_cont(epoch_us(l.l_shipdate) // {86_400_000_000}
                     - epoch_us(o.o_orderdate) // {86_400_000_000}, 0.9)  AS p90_days,
       quantile_cont(epoch_us(l.l_shipdate) // {86_400_000_000}
                     - epoch_us(o.o_orderdate) // {86_400_000_000}, 0.99) AS p99_days,
       CAST(MAX(epoch_us(l.l_shipdate) // {86_400_000_000}
                - epoch_us(o.o_orderdate) // {86_400_000_000}) AS BIGINT) AS max_days
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q90_ship_latency_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.catalog import EPOCH_NTZ

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    day = 86_400_000_000
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "o_orderpriority",
            (
                F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, l_shipdate) div {day}")
                - F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, o_orderdate) div {day}")
            ).alias("lat_days"),
        )
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.expr("percentile(lat_days, 0.5)").alias("p50_days"),
            F.expr("percentile(lat_days, 0.9)").alias("p90_days"),
            F.expr("percentile(lat_days, 0.99)").alias("p99_days"),
            F.max("lat_days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q91 — market-basket association rules over order line items: which part
# pairs co-occur more often than chance?  Support / lift for every pair
# bought together in >=2 orders, in exact cross-multiplied integers
# (lift_milli = 1000 * c_ab * N div (c_a * c_b); support in basis points)
# — the co-occurrence complement of q73's co-purchase PageRank (global
# importance) and q61's transition matrix (temporal order).
#
# Scale shape: the pair surface is the intra-order self-join on
# l_orderkey with partkey< to half the matrix — fan-out is C(k,2) of the
# per-order item count (TPC-H: k<=7, so <=21 pairs/order, LINEAR in the
# fact).  One orderkey exchange builds pairs, one (a,b) aggregate counts
# them, and the per-part counts frame (a scaling dim) joins back
# AQE-decided, unhinted.  No global top-k window: the final top-20 is
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "q91_market_basket_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM items
),
part_counts AS (
  SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
)
SELECT CAST(p.part_a AS BIGINT) AS part_a,
       CAST(p.part_b AS BIGINT) AS part_b,
       CAST(p.pair_orders AS BIGINT) AS pair_orders,
       CAST((10000 * p.pair_orders) // n.n AS BIGINT) AS support_bp,
       CAST((1000 * p.pair_orders * n.n) // (ca.c * cb.c) AS BIGINT) AS lift_milli
FROM pairs p
CROSS JOIN n_orders n
JOIN part_counts ca ON ca.l_partkey = p.part_a
JOIN part_counts cb ON cb.l_partkey = p.part_b
ORDER BY lift_milli DESC, part_a, part_b
LIMIT 20
""",
)
def q91_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # NOT persisted: the cached distinct frame loses the codegen'd parquet
    # scan under the self-join and measures ~2x slower than re-scanning
    #
    # r9 (guide §2.4, the q53 pattern): hash-partition by l_orderkey ALONE —
    # hash(ok) satisfies the (ok, pk) distinct AND both sides of the
    # intra-order self-join below, so the basket enumeration adds no join
    # exchange (the r8 plan re-shuffled both join inputs from hash(ok, pk)
    # to hash(ok)).  Measured per interleaved A/B cycle (the box drifts):
    # new wins 4/5 cycles, e.g. 2.59 -> 1.34 s and 2.38 -> 1.40 s in the
    # clean early cycles; plan has one fewer fact-sized exchange.
    items = (
        li.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    n_orders = items.select(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    part_counts = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("pair_orders"))
        .filter(F.col("pair_orders") >= 2)
    )
    ca = part_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")
    )
    cb = part_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")
    )
    scored = (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            F.col("part_a").cast("bigint"),
            F.col("part_b").cast("bigint"),
            F.col("pair_orders").cast("bigint"),
            F.expr("CAST((10000 * pair_orders) div n AS BIGINT)").alias(
                "support_bp"
            ),
            F.expr(
                "CAST((1000 * pair_orders * n) div (c_a * c_b) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )
    return scored.orderBy(
        F.desc("lift_milli"), "part_a", "part_b"
    ).limit(20)


# ---------------------------------------------------------------------------
# q92 — retention cohort matrix: group customers by first-order month, then
# for each (cohort, months-since-first) cell report how many of the cohort
# ordered again — the classic product-analytics retention triangle, in
# exact integers (months as y*12+m indexes, retention in basis points).
#
# Scale shape: one custkey aggregate finds each customer's cohort, the
# distinct (custkey, month) activity frame joins back on custkey (same-key
# exchange reused), and the final matrix is a bounded (cohort, offset)
# aggregate; cohort sizes re-derive from the matrix's own offset-0 cells —
# activity at months_since=0 is the cohort-defining order itself, so no
# second scan and no separate size join is needed.
# ---------------------------------------------------------------------------
@register(
    "q92_retention_cohorts",
    oracle="""
WITH act AS (
  SELECT DISTINCT o_custkey,
         CAST(EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS midx
  FROM orders
),
first AS (
  SELECT o_custkey, MIN(midx) AS cohort FROM act GROUP BY o_custkey
),
cells AS (
  SELECT f.cohort, a.midx - f.cohort AS months_since, COUNT(*) AS active_customers
  FROM act a JOIN first f ON a.o_custkey = f.o_custkey
  GROUP BY f.cohort, a.midx - f.cohort
)
SELECT CAST(c.cohort // 12 AS BIGINT)      AS cohort_year,
       CAST(c.cohort % 12 + 1 AS BIGINT)   AS cohort_month,
       CAST(c.months_since AS BIGINT)      AS months_since,
       CAST(c.active_customers AS BIGINT)  AS active_customers,
       CAST((10000 * c.active_customers) // s.active_customers AS BIGINT) AS retention_bp
FROM cells c
JOIN (SELECT cohort, active_customers FROM cells WHERE months_since = 0) s
  ON s.cohort = c.cohort
ORDER BY cohort_year, cohort_month, months_since
""",
)
def q92_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    act = o.select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).cast("bigint").alias("midx"),
    ).distinct()
    first = act.groupBy("o_custkey").agg(F.min("midx").alias("cohort"))
    cells = (
        act.join(first, "o_custkey")
        .groupBy("cohort", (F.col("midx") - F.col("cohort")).alias("months_since"))
        .agg(F.count("*").alias("active_customers"))
    )
    sizes = cells.filter(F.col("months_since") == 0).select(
        "cohort", F.col("active_customers").alias("cohort_size")
    )
    return (
        cells.join(sizes, "cohort")
        .select(
            F.expr("CAST(cohort div 12 AS BIGINT)").alias("cohort_year"),
            F.expr("CAST(cohort % 12 + 1 AS BIGINT)").alias("cohort_month"),
            F.col("months_since").cast("bigint"),
            F.col("active_customers").cast("bigint"),
            F.expr(
                "CAST((10000 * active_customers) div cohort_size AS BIGINT)"
            ).alias("retention_bp"),
        )
        .orderBy("cohort_year", "cohort_month", "months_since")
    )


# ---------------------------------------------------------------------------
# q93 — RFM customer segmentation: score every ordering customer 1..5 on
# Recency (last order date), Frequency (order count), Monetary (revenue
# cents), then report the segment landscape.  Scores are exact global
# quintiles computed as ((rank-1)*5) div n + 1 over unique-keyed global
# row numbers — the SAME closed-form bucket both engines evaluate on
# integers, so the segmentation is bit-reproducible (NTILE's split rule
# is engine-defined; this one is ours and portable).
#
# Scale shape: customer is a SCALING dim, so the three rankings go through
# ops.ranking.global_row_number (range partition + broadcast offsets — no
# single-partition ORDER BY funnel); the three score frames re-join on
# custkey, and the final (r,f,m) aggregate is bounded at 125 cells.
# ---------------------------------------------------------------------------
@register(
    "q93_rfm_segments",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         CAST(DATE_DIFF('day', DATE '1970-01-01', MAX(o_orderdate)) AS BIGINT) AS recency_day,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
n AS (SELECT COUNT(*) AS n FROM rfm),
scored AS (
  SELECT o_custkey, monetary_cents,
         -- NULLS FIRST on both keys: engine-wide null-ordering convention (r8)
         ((ROW_NUMBER() OVER (ORDER BY recency_day NULLS FIRST, o_custkey NULLS FIRST) - 1) * 5) // n.n + 1 AS r_score,
         ((ROW_NUMBER() OVER (ORDER BY frequency NULLS FIRST, o_custkey NULLS FIRST) - 1) * 5) // n.n + 1   AS f_score,
         ((ROW_NUMBER() OVER (ORDER BY monetary_cents NULLS FIRST, o_custkey NULLS FIRST) - 1) * 5) // n.n + 1 AS m_score
  FROM rfm CROSS JOIN n
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def q93_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.ops.ranking import global_row_number_grouped

    o = table(spark, sf_dir, "orders")
    # rfm feeds two consumers (the fused ranking and its count) — persist so
    # the fact aggregate runs once
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("recency_day"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .persist()
    )

    # exact closed-form quintile: ((rn-1)*5) div n + 1 on the unique-keyed
    # rank.  r9 shape (guide §2.4): the r8 form CHAINED three
    # global_row_number calls, which cost three range exchanges, three
    # boundary-sample jobs and three count jobs, and nested the plan three
    # deep (66 Exchange nodes in the r8 plan).  The three rankings fuse into
    # ONE pass: explode each customer into (dim, value) rows — every dim
    # ranks exactly the same n customers — and rank once over
    # (dim, value, custkey) via global_row_number_grouped (one range
    # exchange, one stats job).  The scores then pivot back per customer
    # with a groupBy (NULL custkey is one GROUP, same as the window form —
    # never an equi-join, which would drop it, the r8 hazard).
    exploded = rfm.select(
        "o_custkey",
        "monetary_cents",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("dim"), F.col("recency_day").alias("v")
                ),
                F.struct(F.lit(2).alias("dim"), F.col("frequency").alias("v")),
                F.struct(
                    F.lit(3).alias("dim"), F.col("monetary_cents").alias("v")
                ),
            )
        ).alias("e"),
    ).select("o_custkey", "monetary_cents", F.col("e.dim").alias("dim"), F.col("e.v").alias("v"))
    ranked, totals = global_row_number_grouped(
        exploded, "dim", ["v", "o_custkey"], out_col="_rn"
    )
    n = totals.get(1, 0) or 1  # every dim ranks the same n customers
    scored = ranked.withColumn(
        "score", F.expr(f"CAST(((_rn - 1) * 5) div {n} + 1 AS BIGINT)")
    )
    return (
        scored.groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("dim") == 1, F.col("score"))).alias("r_score"),
            F.max(F.when(F.col("dim") == 2, F.col("score"))).alias("f_score"),
            F.max(F.when(F.col("dim") == 3, F.col("score"))).alias("m_score"),
            F.max("monetary_cents").alias("_cents"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("_cents").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# q94 — repurchase-interval distribution: days between consecutive orders
# per customer, bucketed into the retention bands product teams watch
# (0, 1-7, 8-30, 31-90, 91-365, 365+), with each band's share in basis
# points — the inter-purchase-time complement of q92's cohort matrix.
#
# Scale shape: ONE custkey-keyed window (lag over order date with the
# orderkey tie-break) produces every interval; the bucket rollup is a
# bounded 6-row aggregate with map-side partials.  Integer epoch-day
# arithmetic end to end.
# ---------------------------------------------------------------------------
@register(
    "q94_repurchase_intervals",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         CAST(DATE_DIFF('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
         -- NULLS FIRST: engine-wide null-ordering convention (r8); a
         -- NULL-date order sorts first so it never manufactures a NULL gap
         LAG(CAST(DATE_DIFF('day', DATE '1970-01-01', o_orderdate) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS prev_day
  FROM orders
),
iv AS (
  SELECT day - prev_day AS gap FROM seq WHERE prev_day IS NOT NULL
),
b AS (
  SELECT CASE WHEN gap = 0 THEN 'a_same_day'
              WHEN gap <= 7 THEN 'b_week'
              WHEN gap <= 30 THEN 'c_month'
              WHEN gap <= 90 THEN 'd_quarter'
              WHEN gap <= 365 THEN 'e_year'
              ELSE 'f_over_year' END AS bucket,
         gap
  FROM iv
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(MIN(gap) AS BIGINT) AS min_days,
       CAST(MAX(gap) AS BIGINT) AS max_days,
       CAST((10000 * COUNT(*)) // (SELECT COUNT(*) FROM iv) AS BIGINT) AS share_bp
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def q94_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", day.alias("day"), F.lag(day).over(w).alias("prev_day")
    )
    iv = seq.filter(F.col("prev_day").isNotNull()).select(
        (F.col("day") - F.col("prev_day")).alias("gap")
    )
    b = iv.select(
        F.when(F.col("gap") == 0, "a_same_day")
        .when(F.col("gap") <= 7, "b_week")
        .when(F.col("gap") <= 30, "c_month")
        .when(F.col("gap") <= 90, "d_quarter")
        .when(F.col("gap") <= 365, "e_year")
        .otherwise("f_over_year")
        .alias("bucket"),
        "gap",
    )
    total = iv.agg(F.count("*").alias("t"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.min("gap").cast("bigint").alias("min_days"),
            F.max("gap").cast("bigint").alias("max_days"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_intervals",
            "min_days",
            "max_days",
            F.expr("CAST((10000 * n_intervals) div t AS BIGINT)").alias("share_bp"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q95 — supplier market concentration per nation: the Herfindahl–Hirschman
# index over supplier revenue shares (sum of squared basis-point shares;
# 10^8 = monopoly, ~10^8/n = perfect competition), plus the top-supplier
# share — the antitrust-style concentration read beside q89's Gini (which
# measures inequality of the whole distribution; HHI weights the head).
# Shares floor to integer bp before squaring, identically in both engines.
#
# Scale shape: one (supplier) revenue aggregate joined to the bounded
# supplier dim, re-aggregated per nation (25 keys); nation totals derive
# by re-aggregation — no second fact scan, no window.
# ---------------------------------------------------------------------------
@register(
    "q95_supplier_hhi",
    oracle="""
WITH srev AS (
  SELECT l_suppkey, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_suppkey
),
nrev AS (
  SELECT n.n_name, s.s_suppkey, r.cents
  FROM srev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
),
tot AS (
  SELECT n_name, SUM(cents) AS total_cents, COUNT(*) AS n_suppliers
  FROM nrev GROUP BY n_name
),
shares AS (
  SELECT v.n_name, (10000 * v.cents) // t.total_cents AS share_bp
  FROM nrev v JOIN tot t ON v.n_name = t.n_name
)
SELECT s.n_name AS nation,
       CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
       CAST(t.total_cents AS BIGINT) AS total_cents,
       CAST(SUM(s.share_bp * s.share_bp) AS BIGINT) AS hhi,
       CAST(MAX(s.share_bp) AS BIGINT) AS top_share_bp
FROM shares s JOIN tot t ON s.n_name = t.n_name
GROUP BY s.n_name, t.n_suppliers, t.total_cents
ORDER BY nation
""",
)
def q95_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    srev = li.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    nrev = srev.join(
        s.select("s_suppkey", "s_nationkey"),
        srev.l_suppkey == F.col("s_suppkey"),
    ).join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    tot = nrev.groupBy("n_name").agg(
        F.sum("cents").alias("total_cents"),
        F.count("*").alias("n_suppliers"),
    )
    shares = nrev.join(F.broadcast(tot), "n_name").select(
        "n_name",
        "n_suppliers",
        "total_cents",
        F.expr("(10000 * cents) div total_cents").alias("share_bp"),
    )
    return (
        shares.groupBy("n_name", "n_suppliers", "total_cents")
        .agg(
            F.sum(F.col("share_bp") * F.col("share_bp"))
            .cast("bigint")
            .alias("hhi"),
            F.max("share_bp").cast("bigint").alias("top_share_bp"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint"),
            F.col("total_cents").cast("bigint"),
            "hhi",
            "top_share_bp",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q96 — Pareto concentration: how few top customers cover 80% of revenue?
# Customers rank by revenue DESCENDING through the funnel-free global
# cumsum (negated-cents range partition — no single-partition ORDER BY);
# the answer is the count whose running total is still short of the 80%
# mark, plus one.  The head-count complement of q89's Gini and q95's HHI.
#
# Scale shape: one customer revenue aggregate, one range-partitioned
# cumulative sum, one scalar aggregate.  Nothing quadratic.
# ---------------------------------------------------------------------------
@register(
    "q96_pareto_customers",
    oracle="""
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT SUM(cents) AS t, COUNT(*) AS n FROM rev),
run AS (
  SELECT cents, SUM(cents) OVER (ORDER BY -cents, o_custkey
                                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM rev
)
SELECT CAST(t.n AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN 10 * (run.cum - run.cents) < 8 * t.t THEN 1 ELSE 0 END) AS BIGINT) AS top_n,
       CAST((10000 * SUM(CASE WHEN 10 * (run.cum - run.cents) < 8 * t.t THEN 1 ELSE 0 END)) // t.n AS BIGINT) AS top_share_of_base_bp
FROM run CROSS JOIN tot t
GROUP BY t.n
""",
)
def q96_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.ops.ranking import global_cumsum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    run = global_cumsum(
        rev.withColumn("neg", -F.col("cents")),
        "cents",
        ["neg", "o_custkey"],
        out_col="cum",
    )
    tot = rev.agg(F.sum("cents").alias("t"), F.count("*").alias("n"))
    # a customer is in the 80% head while the PRE-inclusion running total
    # is still below the mark (cross-multiplied: 10*(cum-cents) < 8*t)
    return (
        run.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.sum(
                F.when(10 * (F.col("cum") - F.col("cents")) < 8 * F.col("t"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("top_n"),
        )
        .select(
            "n_customers",
            "top_n",
            F.expr("CAST((10000 * top_n) div n_customers AS BIGINT)").alias(
                "top_share_of_base_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q97 — customer value-segment MIGRATION matrix: quintile customers by
# monetary value in an early and a late period, then count every
# (early_score -> late_score) transition — the segment-migration report
# behind "are our best customers staying best?".  Customers absent from a
# period carry score 0 (new / lapsed rows included, so the matrix is
# complete).  The same portable closed-form quintile as q93.
#
# Scale shape: two customer-sized period aggregates, two funnel-free
# global rankings, one full outer join on custkey, one bounded (6x6)
# matrix aggregate.
# ---------------------------------------------------------------------------
_Q97_SPLIT = "1996-01-01"


def _q97_oracle() -> str:
    return f"""
WITH early AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '{_Q97_SPLIT}' GROUP BY o_custkey
),
late AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_Q97_SPLIT}' GROUP BY o_custkey
),
e_scored AS (
  SELECT o_custkey,
         ((ROW_NUMBER() OVER (ORDER BY cents, o_custkey) - 1) * 5)
           // (SELECT COUNT(*) FROM early) + 1 AS score
  FROM early
),
l_scored AS (
  SELECT o_custkey,
         ((ROW_NUMBER() OVER (ORDER BY cents, o_custkey) - 1) * 5)
           // (SELECT COUNT(*) FROM late) + 1 AS score
  FROM late
)
SELECT CAST(COALESCE(e.score, 0) AS BIGINT) AS early_score,
       CAST(COALESCE(l.score, 0) AS BIGINT) AS late_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM e_scored e FULL OUTER JOIN l_scored l ON e.o_custkey = l.o_custkey
GROUP BY 1, 2 ORDER BY early_score, late_score
"""


@register("q97_segment_migration", oracle=_q97_oracle())
def q97_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.ops.ranking import global_row_number_grouped

    o = table(spark, sf_dir, "orders")

    # r9 shape (guide §2.4): the r8 form built each period independently —
    # two fact scans, two custkey agg exchanges, two count jobs and two
    # global_row_number range exchanges.  Both periods now come off ONE
    # pass: a period tag (NULL order dates match neither period and drop,
    # exactly as the two filters did), ONE (period, custkey) aggregate, and
    # ONE fused ranking over (period, cents, custkey).  The per-period n
    # for the quintile formula rides out of the ranking's stats job.  The
    # full-outer join on custkey stays — a NULL custkey row in both periods
    # must produce TWO rows (never matching itself), which a groupBy pivot
    # would merge (oracle semantics, degenerate corpus).
    split = F.lit(_Q97_SPLIT).cast("timestamp")
    tagged = o.withColumn(
        "_period",
        F.when(F.col("o_orderdate") < split, 0)
        .when(F.col("o_orderdate") >= split, 1),
    ).filter(F.col("_period").isNotNull())
    rev = tagged.groupBy("_period", "o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked, totals = global_row_number_grouped(
        rev, "_period", ["cents", "o_custkey"], out_col="rn"
    )

    def period_scores(period: int, out: str) -> DataFrame:
        n = totals.get(period, 0) or 1
        return ranked.filter(F.col("_period") == period).select(
            "o_custkey",
            F.expr(f"CAST(((rn - 1) * 5) div {n} + 1 AS BIGINT)").alias(out),
        )

    e = period_scores(0, "e_score")
    l = period_scores(1, "l_score")
    return (
        e.join(l, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce("e_score", F.lit(0)).cast("bigint").alias("early_score"),
            F.coalesce("l_score", F.lit(0)).cast("bigint").alias("late_score"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("early_score", "late_score")
    )


# ---------------------------------------------------------------------------
# q98 — new-vs-returning revenue split by month: for every order month,
# how much revenue came from first-ever customers vs repeat ones — the
# acquisition-vs-retention health read every growth team tracks.  A
# customer's first month comes from one customer aggregate; each order
# then classifies by comparing its month to the broadcast-joined first
# month.  Exact integer cents and basis points.
#
# Scale shape: one custkey aggregate + one custkey-keyed join back onto
# the fact + one bounded (month) aggregate.  No windows.
# ---------------------------------------------------------------------------
@register(
    "q98_new_vs_returning",
    oracle="""
WITH om AS (
  SELECT o_custkey,
         CAST(EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS ym,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT o_custkey, MIN(ym) AS first_ym FROM om GROUP BY o_custkey)
SELECT om.ym AS order_month,
       CAST(SUM(CASE WHEN om.ym = f.first_ym THEN om.cents ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(SUM(CASE WHEN om.ym > f.first_ym THEN om.cents ELSE 0 END) AS BIGINT) AS returning_cents,
       CAST(SUM(CASE WHEN om.ym = f.first_ym THEN 1 ELSE 0 END) AS BIGINT)        AS new_orders,
       CAST(SUM(CASE WHEN om.ym > f.first_ym THEN 1 ELSE 0 END) AS BIGINT)        AS returning_orders,
       CAST((10000 * SUM(CASE WHEN om.ym = f.first_ym THEN om.cents ELSE 0 END))
            // SUM(om.cents) AS BIGINT)                                           AS new_share_bp
FROM om JOIN first f ON om.o_custkey = f.o_custkey
GROUP BY om.ym ORDER BY order_month
""",
)
def q98_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first = om.groupBy("o_custkey").agg(F.min("ym").alias("first_ym"))
    is_new = F.col("ym") == F.col("first_ym")
    is_ret = F.col("ym") > F.col("first_ym")
    return (
        om.join(first, "o_custkey")
        .groupBy(F.col("ym").alias("order_month"))
        .agg(
            F.sum(F.when(is_new, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(is_ret, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("returning_cents"),
            F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("new_orders"),
            F.sum(F.when(is_ret, 1).otherwise(0))
            .cast("bigint")
            .alias("returning_orders"),
            # zero-guard keeps exact `div` semantics while matching DuckDB's
            # `// 0 -> NULL` on a month whose cents net to zero (r8)
            F.expr(
                "CAST(CASE WHEN SUM(cents) = 0 THEN NULL ELSE"
                " (10000 * SUM(CASE WHEN ym = first_ym THEN cents ELSE 0 END))"
                " div SUM(cents) END AS BIGINT)"
            ).alias("new_share_bp"),
        )
        .orderBy("order_month")
    )


# ---------------------------------------------------------------------------
# q99 — order-value distribution by power-of-two bands: histogram of order
# totals where the band is the BIT LENGTH of the cent amount (floor(log2)
# + 1, computed as length(bin(x)) — exact integer in both engines, no
# float log).  The constant-band profile that replaces quantile scans when
# all you need is the shape of a money distribution at 100 TB.
#
# Scale shape: a single fact-sized projection into one bounded (~20 band)
# aggregate with map-side partials; the total broadcasts back for shares.
# ---------------------------------------------------------------------------
@register(
    "q99_value_bands",
    oracle="""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE o_totalprice > 0
),
b AS (SELECT LENGTH(bin(cents)) AS band, cents FROM c),
tot AS (SELECT COUNT(*) AS n FROM c)
SELECT CAST(b.band AS BIGINT)        AS band_bits,
       CAST(POWER(2, b.band - 1) AS BIGINT) AS band_low_cents,
       CAST(COUNT(*) AS BIGINT)      AS n_orders,
       CAST(MIN(b.cents) AS BIGINT)  AS min_cents,
       CAST(MAX(b.cents) AS BIGINT)  AS max_cents,
       CAST((10000 * COUNT(*)) // t.n AS BIGINT) AS share_bp
FROM b CROSS JOIN tot t
GROUP BY b.band, t.n ORDER BY band_bits
""",
)
def q99_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = o.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    b = c.select(F.length(F.bin("cents")).cast("bigint").alias("band"), "cents")
    tot = c.agg(F.count("*").alias("n"))
    return (
        b.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("band").alias("band_bits"),
            F.expr("CAST(POWER(2, band - 1) AS BIGINT)").alias("band_low_cents"),
            "n_orders",
            "min_cents",
            "max_cents",
            F.expr("CAST((10000 * n_orders) div n AS BIGINT)").alias("share_bp"),
        )
        .orderBy("band_bits")
    )


# ---------------------------------------------------------------------------
# q100 — order-splitting (structuring) detection: customers placing 2+
# orders inside one calendar week, with the week's combined value and how
# evenly it was split (top order's share in bp — LOW means suspiciously
# even splitting; 10000 means one dominant order plus noise).  The
# transaction-structuring screen beside q04's amount-threshold fraud mart.
# Exact integer epoch-week bucketing and cross-multiplied shares.
#
# Scale shape: one (custkey, week) aggregate over the fact with map-side
# partials, filtered to multi-order cells — no self-join, no window.
# ---------------------------------------------------------------------------
@register(
    "q100_order_splitting",
    oracle="""
WITH c AS (
  SELECT o_custkey,
         CAST(DATE_DIFF('day', DATE '1970-01-01', o_orderdate) // 7 AS BIGINT) AS wk,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       wk                        AS epoch_week,
       CAST(COUNT(*) AS BIGINT)  AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST((10000 * MAX(cents)) // SUM(cents) AS BIGINT) AS top_order_bp
FROM c GROUP BY o_custkey, wk HAVING COUNT(*) >= 2
ORDER BY custkey, epoch_week
""",
)
def q100_order_splitting(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = o.select(
        "o_custkey",
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT)"
        ).alias("wk"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        c.groupBy("o_custkey", "wk")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.expr("CAST((10000 * MAX(cents)) div SUM(cents) AS BIGINT)").alias(
                "top_order_bp"
            ),
        )
        .filter(F.col("n_orders") >= 2)
        .select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            F.col("wk").alias("epoch_week"),
            "n_orders",
            "total_cents",
            "top_order_bp",
        )
        .orderBy("custkey", "epoch_week")
    )


# ---------------------------------------------------------------------------
# q102 — chi-square independence screen: is order priority independent of
# customer market segment?  The full contingency table with each cell's
# observed count, expected count (milli), and chi-square contribution
# (milli) — all exact cross-multiplied integers: expected = r*c/N floors
# to milli-units and the contribution (o*N - r*c)^2 / (r*c*N) floors to
# milli identically in both engines.  The categorical-drift test beside
# q62's distribution drift and q86's seasonality monitor.
#
# Scale shape: one fact-sized custkey join (AQE-decided), one bounded
# (priority, segment) aggregate; row/column totals re-derive from the
# 25-cell table itself and broadcast back.
# ---------------------------------------------------------------------------
@register(
    "q102_priority_segment_chi2",
    oracle="""
WITH cells AS (
  SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
         CAST(COUNT(*) AS HUGEINT) AS o
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
rt AS (SELECT priority, SUM(o) AS r FROM cells GROUP BY priority),
ct AS (SELECT segment, SUM(o) AS c FROM cells GROUP BY segment),
n AS (SELECT SUM(o) AS n FROM cells)
SELECT cells.priority, cells.segment,
       CAST(cells.o AS BIGINT) AS observed,
       CAST((1000 * rt.r * ct.c) // n.n AS BIGINT) AS expected_milli,
       CAST((1000 * (cells.o * n.n - rt.r * ct.c) * (cells.o * n.n - rt.r * ct.c))
            // (rt.r * ct.c * n.n) AS BIGINT) AS contrib_milli
FROM cells JOIN rt USING (priority) JOIN ct USING (segment) CROSS JOIN n
ORDER BY priority, segment
""",
)
def q102_priority_segment_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").cast("decimal(38,0)").alias("o"))
    )
    rt = cells.groupBy("priority").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("segment").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    return (
        cells.join(F.broadcast(rt), "priority")
        .join(F.broadcast(ct), "segment")
        .crossJoin(F.broadcast(n))
        .select(
            "priority",
            "segment",
            F.col("o").cast("bigint").alias("observed"),
            F.expr("CAST((1000 * r * c) div n AS BIGINT)").alias("expected_milli"),
            F.expr(
                "CAST((1000 * (o * n - r * c) * (o * n - r * c))"
                " div (r * c * n) AS BIGINT)"
            ).alias("contrib_milli"),
        )
        .orderBy("priority", "segment")
    )


# ---------------------------------------------------------------------------
# q103 — Benford's-law leading-digit screen over order amounts: the share
# of each leading digit 1..9 of the integer cent amount vs Benford's
# expected log10(1+1/d) — fabricated or constrained amounts bend this
# curve, which is why auditors run it first.  The expectation rides as
# exact basis-point literals (the same nine constants in both engines),
# so the whole result is integer-exact.
#
# Scale shape: one fact projection (leading digit = first char of the
# integer string) into a 9-row aggregate; the total broadcasts back.
# ---------------------------------------------------------------------------
_BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669, 7: 579, 8: 511, 9: 457}


def _q103_oracle() -> str:
    case = " ".join(f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items())
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
tot AS (SELECT COUNT(*) AS n FROM c)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST((10000 * COUNT(*)) // t.n AS BIGINT) AS share_bp,
       CAST(CASE digit {case} END AS BIGINT) AS benford_bp,
       CAST((10000 * COUNT(*)) // t.n - CASE digit {case} END AS BIGINT) AS deviation_bp
FROM c CROSS JOIN tot t
GROUP BY digit, t.n ORDER BY digit
"""


@register("q103_benford_screen", oracle=_q103_oracle())
def q103_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD_BP.items() for x in kv]
    )
    tot = c.agg(F.count("*").alias("n"))
    return (
        c.groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.expr("CAST((10000 * n_orders) div n AS BIGINT)").alias("share_bp"),
            benford[F.col("digit")].cast("bigint").alias("benford_bp"),
            (
                F.expr("CAST((10000 * n_orders) div n AS BIGINT)")
                - benford[F.col("digit")]
            )
            .cast("bigint")
            .alias("deviation_bp"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q104 — order-cadence regularity: which customers order on a schedule?
# For every customer with >= 3 orders, the coefficient of variation of
# their inter-order gaps (sd/mean, milli) — LOW cv = subscription-like
# cadence, the replenishment-detection signal behind auto-reorder
# nudges.  Gap variance uses the exact integer numerator n*SUMSQ - SUM^2
# (decimal(38,0) so 100-TB gap sums cannot overflow); ONE correctly-
# rounded IEEE sqrt per customer on integer inputs keeps it bit-identical
# cross-engine (s14/t27 precedent).  Top-20 most regular, tie-broken.
#
# Scale shape: one custkey-keyed lag window and one custkey aggregate on
# the SAME exchange; TakeOrderedAndProject for the top-k.
# ---------------------------------------------------------------------------
@register(
    "q104_order_cadence",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         CAST(DATE_DIFF('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
         LAG(CAST(DATE_DIFF('day', DATE '1970-01-01', o_orderdate) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
),
gaps AS (
  SELECT o_custkey, CAST(day - prev AS HUGEINT) AS g FROM seq WHERE prev IS NOT NULL
),
m AS (
  SELECT o_custkey,
         COUNT(*) AS n,
         SUM(g) AS s,
         SUM(g * g) AS sq
  FROM gaps GROUP BY o_custkey HAVING COUNT(*) >= 2 AND SUM(g) > 0
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(n + 1 AS BIGINT) AS n_orders,
       CAST(s // n AS BIGINT) AS mean_gap_days,
       CAST(FLOOR(SQRT(CAST(n * sq - s * s AS DOUBLE)) * 1000 / s) AS BIGINT) AS cv_milli
FROM m
ORDER BY cv_milli, custkey
LIMIT 20
""",
)
def q104_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select("o_custkey", day.alias("day"), F.lag(day).over(w).alias("prev"))
    gaps = seq.filter(F.col("prev").isNotNull()).select(
        "o_custkey", (F.col("day") - F.col("prev")).cast("decimal(38,0)").alias("g")
    )
    m = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("g").alias("s"),
            F.sum(F.col("g") * F.col("g")).alias("sq"),
        )
        .filter((F.col("n") >= 2) & (F.col("s") > 0))
    )
    # cv = sd/mean = (sqrt(n*sq - s^2)/n) / (s/n) = sqrt(n*sq - s^2)/s
    return (
        m.select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            (F.col("n") + 1).cast("bigint").alias("n_orders"),
            F.expr("CAST(s div n AS BIGINT)").alias("mean_gap_days"),
            F.expr(
                "CAST(FLOOR(SQRT(CAST(n * sq - s * s AS DOUBLE)) * 1000 / s)"
                " AS BIGINT)"
            ).alias("cv_milli"),
        )
        .orderBy("cv_milli", "custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q105 — frequent triple itemsets (Apriori level 3): part triples bought
# together in >= 2 orders with support in bp — the next lattice level
# above q91's pair rules, and the step where naive miners explode.  Here
# the candidate surface stays the intra-order self-join: fan-out is
# C(k<=7,3) <= 35 per order, LINEAR in the fact, never a part-lattice
# cross product.
#
# Scale shape: two chained orderkey equi-joins (same key — ONE exchange
# feeds both), one bounded (a,b,c) aggregate, TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "q105_frequent_triples",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
triples AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
         COUNT(*) AS basket_orders
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN items c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
)
SELECT CAST(part_a AS BIGINT) AS part_a,
       CAST(part_b AS BIGINT) AS part_b,
       CAST(part_c AS BIGINT) AS part_c,
       CAST(basket_orders AS BIGINT) AS basket_orders,
       CAST((10000 * basket_orders) // n.n AS BIGINT) AS support_bp
FROM triples CROSS JOIN n_orders n
ORDER BY basket_orders DESC, part_a, part_b, part_c
LIMIT 20
""",
)
def q105_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # r9: hash(ok) pre-partition — one exchange serves the distinct and all
    # THREE sides of the chained intra-order self-joins (q91's rationale;
    # measured there, same shape one join deeper).
    items = (
        li.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    n_orders = items.select(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    a, b, c = items.alias("a"), items.alias("b"), items.alias("c")
    triples = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("b.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
            F.col("c.l_partkey").alias("part_c"),
        )
        .agg(F.count("*").alias("basket_orders"))
        .filter(F.col("basket_orders") >= 2)
    )
    return (
        triples.crossJoin(F.broadcast(n_orders))
        .select(
            F.col("part_a").cast("bigint"),
            F.col("part_b").cast("bigint"),
            F.col("part_c").cast("bigint"),
            F.col("basket_orders").cast("bigint"),
            F.expr("CAST((10000 * basket_orders) div n AS BIGINT)").alias(
                "support_bp"
            ),
        )
        .orderBy(F.desc("basket_orders"), "part_a", "part_b", "part_c")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q106 — k-anonymity / l-diversity audit (the data-governance gate a dataset
# faces before release): group customers into equivalence classes by their
# quasi-identifiers (nation x account-balance band — the attributes an
# attacker can link from outside), band the classes by size (a class of
# size k means every member is k-anonymous), and report per band the class
# count, row mass, and the MINIMUM l-diversity (distinct values of the
# sensitive attribute, mktsegment, within a class — a class can be large
# yet still leak if every member shares one sensitive value).  Size-1
# classes are the re-identifiable rows; the bp share quantifies release
# risk.  All integers: the balance band is FLOOR over an IEEE double
# division (bit-identical cross-engine), everything after is counts.
#
# Scale shape: one groupBy(quasi) shuffle (class arity << rows), one
# bounded groupBy(band) over the class frame, one 1-row total broadcast.
# ---------------------------------------------------------------------------
_Q106_BAND_SQL = """CASE
  WHEN n = 1 THEN '1 (re-identifiable)'
  WHEN n BETWEEN 2 AND 4 THEN '2-4'
  WHEN n BETWEEN 5 AND 9 THEN '5-9'
  ELSE '10+' END"""
_Q106_ORDER_SQL = "CASE WHEN n = 1 THEN 1 WHEN n <= 4 THEN 2 WHEN n <= 9 THEN 3 ELSE 4 END"


@register(
    "q106_k_anonymity",
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
  FROM customer
  GROUP BY c_nationkey, CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows_total FROM classes)
SELECT {_Q106_BAND_SQL} AS size_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST((SUM(n) * 10000) // n_rows_total AS BIGINT) AS rows_bp,
       CAST(MIN(l_div) AS BIGINT) AS min_l_diversity,
       CAST(SUM(CASE WHEN l_div < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS homogeneous_classes
FROM classes, tot
GROUP BY {_Q106_BAND_SQL}, {_Q106_ORDER_SQL}, n_rows_total
ORDER BY {_Q106_ORDER_SQL}
""",
)
def q106_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    classes = (
        c.withColumn(
            "bal_band", F.expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)")
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("c_mktsegment").cast("bigint").alias("l_div"),
        )
    )
    tot = classes.agg(F.sum("n").cast("bigint").alias("n_rows_total"))
    return (
        classes.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(_Q106_BAND_SQL).alias("size_band"),
            F.expr(_Q106_ORDER_SQL).alias("_band_order"),
            F.col("n_rows_total"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.expr(
                "CAST((SUM(n) * 10000) div FIRST(n_rows_total) AS BIGINT)"
            ).alias("rows_bp"),
            F.min("l_div").cast("bigint").alias("min_l_diversity"),
            F.sum(F.when(F.col("l_div") < 2, 1).otherwise(0))
            .cast("bigint")
            .alias("homogeneous_classes"),
        )
        .orderBy("_band_order")
        .drop("_band_order", "n_rows_total")
    )
