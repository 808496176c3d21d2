"""Medallion (Bronze → Silver → Gold) pipeline over managed tables.

Re-expresses the reference's whole ETL arc (SURVEY.md §3) as a library API:

- **Bronze** — land raw sources unmodified, one managed table per source
  (deltalake.ipynb:516-550, cell 5).
- **Silver** — typed/cleaned/enriched: decimal money casts, derived date
  and boolean-flag columns (:947-954), dim conformance, the forward-filled
  daily rate series (:1542-1588); fact partitioned by a bounded-cardinality
  derived column (order_year) — the reference partitions by raw date
  (:959), which at 100 TB yields tens of thousands of tiny partitions, so
  we deliberately coarsen.
- **Gold** — the three marts (client_stats, daily_metrics, fraud_analysis,
  :1272-1312) built from Silver.  After every Silver upsert (batch or
  streaming micro-batch) each mart is recomputed once from the current
  Silver snapshot and replaced with one overwrite.

Why recompute-and-replace, not the reference's incremental refresh (a
MERGE on client_id for client_stats, :3212-3218, and an anti-join date
append for daily_metrics, :3227-3243): both were fed by a full recompute
anyway, so they only added a copy-on-write MERGE (target read, anti-join,
union, whole-file rewrites) and an anti-join on top of it.  They were also
wrong once an upsert moves orders: MERGE never deletes the row of a client
left without orders, and the date append never revisits a landed date, so
Gold drifted from Silver.  A replace is exact by construction and, at this
mart size, the cheaper write.  O(changed-rows) maintenance for large marts
is :class:`~delta_lake_spark.tables.IncrementalAggView`.

Scale shape: Bronze/Silver writes are embarrassingly parallel map jobs;
every Gold mart is broadcast-joins + one hash-agg.  Small Silver facts are
read as one partition: while orders and lineitem together hold at most
``_ONE_PARTITION_MAX_BYTES`` of files (and no more than the session's
``spark.sql.autoBroadcastJoinThreshold``; ``-1`` turns the rule off), a
single-partition child needs no hash exchange, so each mart runs as one
stage with no separate shuffle-map job.  That trades the scan's
parallelism for the exchange's fixed cost, so the cap sits where the trade
was measured level in wall time (see the constant).  Above it the plans
are unchanged: one hash-agg shuffle per mart.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_spark.catalog import table as corpus_table
from delta_lake_spark.pipeline.marts import (
    client_stats_mart,
    conformed_customer,
    daily_metrics_mart,
    daily_rates,
    fraud_analysis_mart,
)
from delta_lake_spark.tables import ManagedTable

# Not used here any more; kept importable from this module because
# lakebench/tracer.py patches the name on this module and fails if it is gone.
from delta_lake_spark.tables import anti_join_append  # noqa: F401

BRONZE_SOURCES = ["orders", "lineitem", "customer", "nation", "events"]

# Hard invariants on raw orders — applied identically by the batch Silver
# build AND every streaming micro-batch (ADVICE r3: the streaming path must
# not bypass the quality gate or batch/stream parity only holds for clean
# data).  Violating rows are quarantined, never ingested.
ORDERS_EXPECTATIONS = {
    "positive_price": "o_totalprice > 0",
    "known_status": "o_orderstatus IN ('O', 'F', 'P')",
}

# Largest total file size of the Silver facts (orders + lineitem) that Gold
# reads as one partition.  One partition drops each mart's hash exchange
# and its AQE shuffle-map job, but scans, joins and aggregates in one task.
# Gold refresh on a 4-core host, alternating runs with and without the
# rule: CPU fell 9-22% at every size tried, and wall time held level up to
# 5.1 MB of facts but grew beyond: +3% at 8.5 MB, +12% at 12 MB, and +17%
# to +39% when orders alone (3.2-9.7 MB) was read as one partition.
_ONE_PARTITION_MAX_BYTES = 5 << 20

_BYTE_UNITS = {"": 0, "k": 1, "m": 2, "g": 3, "t": 4, "p": 5}


def _broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes.
    The conf reads back as set: a byte string such as ``10485760b``,
    ``10m`` or ``-1`` (never broadcast), already validated by Spark."""
    value = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    n, unit = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", value).groups()
    return int(n) * 1024 ** _BYTE_UNITS[unit]


class MedallionPipeline:
    def __init__(self, spark: SparkSession, lake_root: str, sf_dir: str):
        self.spark = spark
        self.root = os.path.abspath(lake_root)
        self.sf_dir = sf_dir

    def _t(self, zone: str, name: str) -> ManagedTable:
        return ManagedTable(self.spark, os.path.join(self.root, zone, name))

    def read(self, zone: str, name: str) -> DataFrame:
        return self._t(zone, name).read()

    # ------------------------------------------------------------------ #

    def build_bronze(self) -> None:
        """Land each raw source as-is (reference cell 5)."""
        for name in BRONZE_SOURCES:
            self._t("bronze", name).write(corpus_table(self.spark, self.sf_dir, name))

    @staticmethod
    def silver_orders_transform(orders: DataFrame) -> DataFrame:
        """The Silver orders enrichment (decimal cast, year partition key,
        suspicious-flag analog — deltalake.ipynb:947-954).  Pure column
        expressions, so the same transform applies to a batch DataFrame, a
        MERGE increment, or a streaming micro-batch unchanged."""
        return (
            orders.withColumn("amount", F.col("o_totalprice").cast("decimal(18,2)"))
            .withColumn("order_year", F.year("o_orderdate"))
            .withColumn(
                # is_suspicious analog (deltalake.ipynb:953-954):
                # amount > threshold AND category IN (...)
                "is_priority_large",
                (F.col("o_totalprice") > 200000)
                & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            )
        )

    def build_silver(self, include_orders: bool = True) -> None:
        """Type/flag/enrich (reference cell 7).

        Bronze orders pass through DLT-style expectations on the way in:
        rows violating hard invariants are routed to
        ``silver/orders_quarantine`` (tagged with the failed rule names)
        instead of failing the build or polluting the marts — count
        reconciliation stays exact (kept + quarantined == bronze).  The
        batch build derives the whole quarantine from bronze, so it
        replaces the quarantine rather than appending to it: rebuilding a
        lake never double-counts a bad row.

        ``include_orders=False`` builds only the dimension-side Silver
        tables (customer/rates) — the setup for a lake whose fact
        table arrives exclusively through :meth:`stream_ingest_orders`.
        """
        from delta_lake_spark.quality import split_by_expectations

        if include_orders:
            orders, bad = split_by_expectations(
                self.read("bronze", "orders"), ORDERS_EXPECTATIONS
            )
            quarantine = self._t("silver", "orders_quarantine")
            if ManagedTable.is_managed_table(quarantine.path) or bad.limit(1).count():
                quarantine.write(bad)
            self._t("silver", "orders").write(
                self.silver_orders_transform(orders), partition_by=["order_year"]
            )

        lineitem = self.read("bronze", "lineitem")
        silver_lineitem = lineitem.withColumn(
            "revenue",
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)"))
            ).cast("decimal(18,2)"),
        ).withColumn("ship_year", F.year("l_shipdate"))
        self._t("silver", "lineitem").write(silver_lineitem, partition_by=["ship_year"])

        customer = self.read("bronze", "customer")
        nation = self.read("bronze", "nation")
        self._t("silver", "customer").write(conformed_customer(customer, nation))

        rates = daily_rates(self.read("bronze", "events"))
        self._t("silver", "rates").write(rates)

    def build_gold(self) -> None:
        """Full mart build (reference cell 11)."""
        self._replace_gold()

    def _replace_gold(self) -> None:
        """Recompute each Gold mart once from the current Silver snapshot
        and overwrite it — the one implementation behind
        :meth:`build_gold` and :meth:`refresh_gold`."""
        for name, mart in self._gold_marts().items():
            self._t("gold", name).write(mart)

    def _gold_marts(self) -> dict[str, DataFrame]:
        """The Gold mart frames over the current Silver snapshot, by mart
        name.  Silver customer already carries ``country``, so no mart
        joins nation; the facts come from :meth:`_silver_facts`."""
        orders, lineitem = self._silver_facts()
        customer = self.read("silver", "customer")
        return {
            "client_stats": client_stats_mart(orders, customer),
            "daily_metrics": daily_metrics_mart(orders, self.read("silver", "rates")),
            "fraud_analysis": fraud_analysis_mart(lineitem, orders, customer),
        }

    def _silver_facts(self) -> list[DataFrame]:
        """Silver orders and lineitem at their current snapshots, both as
        one partition when their files total at most
        ``_ONE_PARTITION_MAX_BYTES`` and the broadcast threshold (see the
        module's scale shape); both or neither, so no mart mixes a
        one-task fact with a partitioned one."""
        tables = [self._t("silver", name) for name in ("orders", "lineitem")]
        snaps = [t._entry() for t in tables]
        facts = [t._read_files(snap, snap["files"]) for t, snap in zip(tables, snaps)]
        size = sum(f["size"] for snap in snaps for f in snap["files"])
        if size <= min(_broadcast_threshold(self.spark), _ONE_PARTITION_MAX_BYTES):
            return [df.coalesce(1) for df in facts]
        return facts

    def run(self, validate: bool = True) -> None:
        self.build_bronze()
        self.build_silver()
        if validate:
            self.validate_silver()
        self.build_gold()

    def validate_silver(self) -> None:
        """Quality gates between Silver and Gold (the reference's manual
        count/printSchema checks, enforced — SURVEY.md §5).

        Bronze orders reconcile against Silver orders plus
        ``silver/orders_quarantine`` — the kept + quarantined == bronze rule
        of :meth:`build_silver` — by row count and ``o_totalprice`` sum, so
        a quarantined row passes and a lost row raises."""
        from delta_lake_spark import quality

        orders = self.read("silver", "orders")
        quality.assert_unique(orders, ["o_orderkey"])
        quality.assert_no_nulls(orders, ["o_orderkey", "o_custkey", "amount"])
        quality.assert_invariant(
            orders,
            F.col("is_priority_large")
            == (
                (F.col("o_totalprice") > 200000)
                & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            ),
            label="is_priority_large definition",
        )
        accounted = orders.select("o_orderkey", "o_totalprice")
        quarantine = self._t("silver", "orders_quarantine")
        if ManagedTable.is_managed_table(quarantine.path):
            accounted = accounted.unionByName(
                quarantine.read().select("o_orderkey", "o_totalprice")
            )
        bronze = self.read("bronze", "orders")
        quality.assert_count_equals(
            accounted, bronze, label="bronze->silver+quarantine orders"
        )
        quality.reconcile_sums(accounted, bronze, "o_totalprice")

    # ------------------------------------------------------------------ #
    # incremental refresh (reference cells 19-21)
    # ------------------------------------------------------------------ #

    def ingest_orders_increment(self, new_orders: DataFrame, n_batches: int = 1) -> None:
        """Upsert a new batch of orders into Silver (batched MERGE,
        deltalake.ipynb:2937-2946), then refresh Gold (:meth:`refresh_gold`)."""
        silver = self.silver_orders_transform(new_orders)
        t = self._t("silver", "orders")
        if n_batches <= 1:
            t.merge(silver, ["o_orderkey"])
        else:
            t.merge_in_batches(silver, ["o_orderkey"], n_batches)
        self.refresh_gold()

    def stream_ingest_orders(
        self, landing_glob: str, schema, checkpoint_dir: str
    ):
        """Streaming medallion: orders files land continuously, each
        micro-batch runs the Silver transform, MERGEs into silver/orders
        and refreshes the Gold marts (:meth:`refresh_gold`) — the
        Structured-Streaming form of the reference's batch-incremental loop
        (deltalake.ipynb:2933-2946 merge, :3227-3243 gold refresh), with
        exactly the same table state after every batch, however the
        landing files split the orders.  ``availableNow`` drains what's
        landed then stops; rerunning with the same checkpoint resumes where
        it left off.

        Returns the StreamingQuery (caller awaits termination).
        """
        from delta_lake_spark.quality import expect_or_quarantine
        from delta_lake_spark.streaming.streams import file_stream

        stream = file_stream(self.spark, landing_glob, schema, max_files_per_trigger=1)
        t = self._t("silver", "orders")
        quarantine = self._t("silver", "orders_quarantine")

        def upsert(raw_batch: DataFrame, _batch_id: int) -> None:
            # Same gate as build_silver, per micro-batch: bad rows go to
            # silver/orders_quarantine (bronze shape + failed-rule tags),
            # clean rows take the Silver transform — so batch/stream parity
            # holds for dirty data too, not just clean corpora.
            good = expect_or_quarantine(raw_batch, ORDERS_EXPECTATIONS, quarantine)
            batch = self.silver_orders_transform(good)
            if not ManagedTable.is_managed_table(t.path):
                t.write(batch, partition_by=["order_year"])
            else:
                t.merge(batch, ["o_orderkey"])
            self.refresh_gold()

        return (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    def refresh_gold(self) -> None:
        """Bring Gold up to date with Silver after an upsert: every mart is
        recomputed once from the current Silver snapshot and replaced with
        one overwrite, exactly as :meth:`build_gold` does.

        This replaced a hybrid of the reference's refresh (client_stats
        MERGE on client_id, deltalake.ipynb:3212-3218; daily_metrics
        anti-join append of new dates, :3227-3243) fed by the same full
        recompute.  The hybrid paid for the recompute AND a copy-on-write
        MERGE plus an anti-join per upsert, and it left Gold stale once an
        upsert changed existing orders: MERGE never deletes, so a client
        left without orders kept its client_stats row, and the date append
        never revisits a landed date, so a date whose orders moved or
        changed price kept its old daily_metrics row.  For O(changed-rows)
        maintenance of a large aggregate use
        :class:`~delta_lake_spark.tables.IncrementalAggView` (README:
        crossover at about 7.3M rows).
        """
        self._replace_gold()
