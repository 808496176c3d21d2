"""End-to-end medallion pipeline tests (SURVEY.md §3): full build parity
with the oracle-checked registry queries, then incremental refresh
equivalence with a full rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.pipeline import MedallionPipeline
from delta_lake_spark.pipeline.marts import (
    client_stats_mart,
    daily_metrics_mart,
    fraud_analysis_mart,
)
from delta_lake_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def rowset(df):
    return sorted(tuple(r) for r in df.collect())


def assert_gold_equals_recompute(pipe):
    """Every Gold mart equals its mart recomputed from the current Silver
    tables."""
    orders = pipe.read("silver", "orders")
    customer = pipe.read("silver", "customer")
    assert rowset(pipe.read("gold", "client_stats")) == rowset(
        client_stats_mart(orders, customer)
    )
    assert rowset(pipe.read("gold", "daily_metrics")) == rowset(
        daily_metrics_mart(orders, pipe.read("silver", "rates"))
    )
    assert rowset(pipe.read("gold", "fraud_analysis")) == rowset(
        fraud_analysis_mart(pipe.read("silver", "lineitem"), orders, customer)
    )


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    p = MedallionPipeline(spark, str(tmp_path_factory.mktemp("lake")), SF_SMOKE)
    p.run()
    return p


def test_gold_matches_registry_queries(spark, pipe):
    """Gold marts built through Bronze→Silver managed tables must equal the
    same marts computed straight off the raw corpus (q02-q04)."""
    got = rowset(pipe.read("gold", "client_stats"))
    want = rowset(QUERIES["q02_client_stats"](spark, SF_SMOKE))
    assert got == want

    got = rowset(pipe.read("gold", "daily_metrics"))
    want = rowset(QUERIES["q03_daily_metrics"](spark, SF_SMOKE))
    assert got == want

    got = rowset(pipe.read("gold", "fraud_analysis"))
    want = rowset(QUERIES["q04_fraud_analysis"](spark, SF_SMOKE))
    assert got == want


def test_silver_flags_and_partitioning(pipe):
    o = pipe.read("silver", "orders")
    # is_suspicious-analog invariant (SURVEY.md §5 golden invariant 3)
    bad = o.filter(
        F.col("is_priority_large")
        != (
            (F.col("o_totalprice") > 200000)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
    )
    assert bad.count() == 0
    assert pipe._t("silver", "orders").detail()["partition_columns"] == ["order_year"]


def test_incremental_refresh_matches_full_rebuild(spark, pipe):
    """New orders (new keys, new dates) ingested incrementally must land the
    same Gold state as a from-scratch rebuild (merge idempotency + anti-join
    append correctness at pipeline level)."""
    base = pipe.read("silver", "orders")
    increment = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .orderBy("o_orderkey")
        .limit(20)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("o_orderdate", F.date_add("o_orderdate", 9000))
    )
    pipe.ingest_orders_increment(increment, n_batches=2)

    assert pipe.read("silver", "orders").count() == base.count() + 20
    # fraud mart must track the refreshed orders too (ADVICE r3: refresh_gold
    # previously skipped it)
    assert_gold_equals_recompute(pipe)


def test_upsert_moving_orders_keeps_gold_equal_to_recompute(pipe):
    """An upsert that UPDATES existing orders — not just new keys on new
    dates — must leave every Gold mart equal to a recompute from Silver.
    The batch moves every order of the client with the fewest orders to
    another client, and shifts every order of the date with the fewest
    orders by one day with a new price: a MERGE-by-client refresh keeps the
    emptied client's row, and a new-dates-only append keeps the emptied
    date's row and never sees the repriced orders."""
    silver = pipe.read("silver", "orders")
    by_client = silver.groupBy("o_custkey").count().orderBy("count", "o_custkey").collect()
    emptied, target = by_client[0].o_custkey, by_client[-1].o_custkey
    by_date = silver.groupBy("o_orderdate").count().orderBy("count", "o_orderdate")
    moved_date = by_date.first().o_orderdate

    on_date = F.col("o_orderdate") == F.lit(moved_date)
    of_emptied = F.col("o_custkey") == emptied
    # silver is a pinned snapshot, so the batch stays the same after the
    # upsert rewrites the files it was read from
    batch = (
        silver.filter(of_emptied | on_date)
        .select(*pipe.read("bronze", "orders").columns)
        .withColumn(
            "o_totalprice",
            F.when(on_date, F.col("o_totalprice") + 1000.0).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderdate",
            F.when(on_date, F.date_add("o_orderdate", 1)).otherwise(F.col("o_orderdate")),
        )
        .withColumn("o_custkey", F.when(of_emptied, target).otherwise(F.col("o_custkey")))
    )
    n_before = silver.count()
    pipe.ingest_orders_increment(batch)

    orders = pipe.read("silver", "orders")
    assert orders.count() == n_before
    assert orders.filter(F.col("o_custkey") == emptied).count() == 0
    assert orders.filter(F.col("o_orderdate") == F.lit(moved_date)).count() == 0
    assert_gold_equals_recompute(pipe)


def test_upsert_merge_keeps_one_broadcast_join_and_its_jobs(spark, pipe, monkeypatch):
    """The Silver orders upsert MERGE writes a frame that joins the touched
    files with the broadcast source, and it runs no more Spark jobs than
    the five the anti-join/union rewrite ran (bounds aggregate, broadcast,
    write)."""
    from tests.test_plans import plan_of

    silver = pipe.read("silver", "orders")
    cols = pipe.read("bronze", "orders").columns
    old = silver.orderBy("o_orderkey").limit(200).select(*cols)
    new = old.withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
    rows = old.withColumn("o_totalprice", F.col("o_totalprice") + 1.0).union(new.limit(100))
    # a local source: the count below is the merge's jobs, not the batch's
    batch = pipe.silver_orders_transform(spark.createDataFrame(rows.collect(), old.schema))
    t = pipe._t("silver", "orders")
    written = []
    real = t._write_commit_dir

    def spy(df, *args, **kwargs):
        written.append(plan_of(df))  # planned while the merge source is cached
        return real(df, *args, **kwargs)

    monkeypatch.setattr(t, "_write_commit_dir", spy)
    sc = spark.sparkContext
    sc.setJobGroup("upsert-merge-jobs", "upsert merge")
    try:
        t.merge(batch, ["o_orderkey"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("upsert-merge-jobs")
    assert len(written) == 1
    assert "BroadcastHashJoin" in written[0]
    assert len(jobs) <= 5, len(jobs)
    assert t.read().count() == silver.count() + 100


def test_small_silver_facts_make_one_stage_marts(pipe):
    """Under the broadcast threshold each Silver fact is read as one
    partition, so no Gold mart plans a hash exchange: each mart is one
    stage, with no separate shuffle-map job for its groupBy."""
    from tests.test_plans import plan_of

    for name, mart in pipe._gold_marts().items():
        assert "Exchange hashpartitioning" not in plan_of(mart, "simple"), name


def test_gold_without_broadcast_keeps_exchange_and_equals_recompute(spark, pipe):
    """With ``spark.sql.autoBroadcastJoinThreshold`` at -1 no fact is read
    as one partition: the marts keep their hash exchange, and the Gold a
    refresh writes still equals a recompute from Silver."""
    from tests.test_plans import plan_of

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, mart in pipe._gold_marts().items():
            assert "Exchange hashpartitioning" in plan_of(mart, "simple"), name
        pipe.refresh_gold()
    finally:
        spark.conf.set(key, prev)
    assert_gold_equals_recompute(pipe)


def test_silver_facts_over_the_cap_keep_exchange(pipe, monkeypatch):
    """The one-partition rule takes both facts or neither: with a cap that
    orders alone fits under but orders + lineitem do not, every mart keeps
    its hash exchange."""
    from delta_lake_spark.pipeline import medallion
    from tests.test_plans import plan_of

    orders = pipe._t("silver", "orders")._entry()["files"]
    monkeypatch.setattr(
        medallion, "_ONE_PARTITION_MAX_BYTES", sum(f["size"] for f in orders)
    )
    for name, mart in pipe._gold_marts().items():
        assert "Exchange hashpartitioning" in plan_of(mart, "simple"), name


@pytest.mark.parametrize(
    "value,want",
    [("10485760b", 10485760), ("10m", 10485760), ("20MB", 20971520), ("1g", 1 << 30), ("-1", -1)],
)
def test_broadcast_threshold_reads_spark_byte_strings(spark, value, want):
    from delta_lake_spark.pipeline.medallion import _broadcast_threshold

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        assert _broadcast_threshold(spark) == want
    finally:
        spark.conf.set(key, prev)


def test_quarantine_catches_bad_bronze_rows(spark, tmp_path):
    """A poisoned bronze orders row lands in silver/orders_quarantine (with
    the failing rule names), never in silver or the marts; counts reconcile
    exactly (kept + quarantined == bronze)."""
    from delta_lake_spark.catalog import table as corpus_table
    from delta_lake_spark.pipeline.medallion import MedallionPipeline
    from delta_lake_spark.tables import ManagedTable

    p = MedallionPipeline(spark, str(tmp_path / "lake"), SF_SMOKE)
    p.build_bronze()
    # poison one row: negative price + unknown status
    bronze = p.read("bronze", "orders")
    bad = bronze.limit(1).withColumn("o_totalprice", F.lit(-1.0)).withColumn(
        "o_orderstatus", F.lit("X")
    ).withColumn("o_orderkey", F.lit(-999).cast("long"))
    p._t("bronze", "orders").write(bad, mode="append")
    p.build_silver()

    n_bronze = p.read("bronze", "orders").count()
    n_silver = p.read("silver", "orders").count()
    q = ManagedTable(spark, str(tmp_path / "lake" / "silver" / "orders_quarantine"))
    qr = q.read()
    assert qr.count() == 1
    assert n_silver + qr.count() == n_bronze
    row = qr.first()
    assert sorted(row._failed_expectations) == ["known_status", "positive_price"]
    assert p.read("silver", "orders").filter(F.col("o_orderkey") == -999).count() == 0


def test_validate_silver_reconciles_bronze_with_silver_plus_quarantine(spark, tmp_path):
    """``run()``'s default validation accounts for quarantined rows
    (kept + quarantined == bronze), so a corpus with a poisoned orders row
    builds — twice over the same lake root, since the batch build replaces
    the quarantine; a silver row lost afterwards still fails the
    reconciliation."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_lake_spark.quality import QualityError

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f != "orders.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), corpus / f)
    orders = pq.read_table(os.path.join(SF_SMOKE, "orders.parquet"))
    bad = orders.slice(0, 1).to_pylist()[0]
    bad.update(o_orderkey=-999, o_totalprice=-1.0, o_orderstatus="X")
    pq.write_table(
        pa.concat_tables([orders, pa.Table.from_pylist([bad], schema=orders.schema)]),
        corpus / "orders.parquet",
    )

    p = MedallionPipeline(spark, str(tmp_path / "lake"), str(corpus))
    p.run()
    assert p.read("silver", "orders_quarantine").count() == 1
    # a rebuild over the same lake root replaces the quarantine it derives
    # from bronze instead of appending a second copy of the bad row
    p.run()
    assert [r.o_orderkey for r in p.read("silver", "orders_quarantine").collect()] == [-999]

    key = p.read("silver", "orders").first().o_orderkey
    p._t("silver", "orders").delete_where([("o_orderkey", "=", key)])
    with pytest.raises(QualityError, match="count mismatch"):
        p.validate_silver()


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_streaming_medallion_matches_batch_pipeline(spark, tmp_path):
    """§2.9 end-to-end seam (VERDICT r2 task 7): a lake whose orders arrive
    ONLY as a file stream (3 date-disjoint landing files → micro-batch
    Silver transform → MERGE → per-batch Gold refresh) must end in exactly
    the Gold state of the all-at-once batch pipeline — the streaming form
    of test_incremental_refresh_matches_full_rebuild's invariant.

    The landing files split the orders by date, but parity does not depend
    on it: every micro-batch recomputes each Gold mart from Silver and
    replaces it, so any split lands the same Gold state.
    """
    from delta_lake_spark.catalog import table as corpus_table

    # --- reference state: the ordinary batch pipeline over all orders
    batch_pipe = MedallionPipeline(spark, str(tmp_path / "batch_lake"), SF_SMOKE)
    batch_pipe.run(validate=False)

    # --- streaming lake: dims batch-built, orders streamed in
    stream_pipe = MedallionPipeline(spark, str(tmp_path / "stream_lake"), SF_SMOKE)
    stream_pipe.build_bronze()
    stream_pipe.build_silver(include_orders=False)

    orders = corpus_table(spark, SF_SMOKE, "orders")
    landing = tmp_path / "landing"
    splits = [
        F.col("o_orderdate") < "1995-01-01",
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01"),
        F.col("o_orderdate") >= "1997-01-01",
    ]
    for i, cond in enumerate(splits):
        orders.filter(cond).coalesce(1).write.parquet(str(landing / f"f{i}"))

    q = stream_pipe.stream_ingest_orders(
        str(landing) + "/*", orders.schema, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    assert not q.isActive

    assert rowset(stream_pipe.read("silver", "orders")) == rowset(
        batch_pipe.read("silver", "orders")
    )
    for mart in ["client_stats", "daily_metrics", "fraud_analysis"]:
        assert rowset(stream_pipe.read("gold", mart)) == rowset(
            batch_pipe.read("gold", mart)
        ), mart

    # drained stream + same checkpoint: nothing new to process, state unchanged
    before = rowset(stream_pipe.read("gold", "client_stats"))
    q2 = stream_pipe.stream_ingest_orders(
        str(landing) + "/*", orders.schema, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert rowset(stream_pipe.read("gold", "client_stats")) == before


def test_streaming_quarantines_bad_rows(spark, tmp_path):
    """ADVICE r3: a bad row arriving via the STREAM (not batch bronze) must
    be quarantined by the per-micro-batch gate, never reach silver/orders or
    the marts — and the final state must equal a batch pipeline over only
    the clean rows."""
    from delta_lake_spark.catalog import table as corpus_table
    from delta_lake_spark.tables import ManagedTable

    stream_pipe = MedallionPipeline(spark, str(tmp_path / "lake"), SF_SMOKE)
    stream_pipe.build_bronze()
    stream_pipe.build_silver(include_orders=False)

    orders = corpus_table(spark, SF_SMOKE, "orders")
    poison = (
        orders.limit(1)
        .withColumn("o_orderkey", F.lit(-999).cast("long"))
        .withColumn("o_totalprice", F.lit(-5.0))
        .withColumn("o_orderstatus", F.lit("X"))
    )
    landing = tmp_path / "landing"
    orders.coalesce(1).write.parquet(str(landing / "clean"))
    poison.coalesce(1).write.parquet(str(landing / "dirty"))

    q = stream_pipe.stream_ingest_orders(
        str(landing) + "/*", orders.schema, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    assert not q.isActive

    silver = stream_pipe.read("silver", "orders")
    assert silver.filter(F.col("o_orderkey") == -999).count() == 0
    assert silver.count() == orders.count()

    qt = ManagedTable(spark, str(tmp_path / "lake" / "silver" / "orders_quarantine"))
    qr = qt.read()
    assert qr.count() == 1
    assert sorted(qr.first()._failed_expectations) == [
        "known_status",
        "positive_price",
    ]

    # gold marts reflect only clean rows (== straight-off-corpus marts)
    got = rowset(stream_pipe.read("gold", "client_stats"))
    want = rowset(QUERIES["q02_client_stats"](spark, SF_SMOKE))
    assert got == want
    got = rowset(stream_pipe.read("gold", "daily_metrics"))
    want = rowset(QUERIES["q03_daily_metrics"](spark, SF_SMOKE))
    assert got == want
    got = rowset(stream_pipe.read("gold", "fraud_analysis"))
    want = rowset(QUERIES["q04_fraud_analysis"](spark, SF_SMOKE))
    assert got == want
