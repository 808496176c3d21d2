"""Streaming SOURCE over managed tables (tables/stream_source.py): version
offsets, exactly-once incremental delivery, dataChange=false skipping,
change-commit rejection, and schema-evolution null-fill."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.tables.managed import ManagedTable
from delta_lake_spark.tables.stream_source import register_managed_stream_source


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_managed_stream_source(spark)


def _drain(spark, table_path, out, ckpt, **opts):
    reader = spark.readStream.format("managed_stream").option("path", table_path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out)


def test_incremental_exactly_once_and_optimize_skipped(spark, tmp_path):
    tp, out, ckpt = (str(tmp_path / x) for x in ("t", "out", "ckpt"))
    mt = ManagedTable(spark, tp)
    mt.write(
        spark.createDataFrame([(1, "US"), (2, "DE")], "k long, country string"),
        partition_by=["country"],
    )
    mt.write(
        spark.createDataFrame([(3, "US")], "k long, country string"),
        mode="append",
    )
    got = _drain(spark, tp, out, ckpt)
    assert sorted((r["k"], r["country"]) for r in got.collect()) == [
        (1, "US"),
        (2, "DE"),
        (3, "US"),
    ]
    # partition column recovered from Hive path components, typed
    assert dict(got.dtypes)["country"] == "string"

    # restart from the checkpoint: only the NEW commit flows; the OPTIMIZE
    # commit (dataChange=false analog) must be invisible to the stream
    mt.write(
        spark.createDataFrame([(4, "FR")], "k long, country string"),
        mode="append",
    )
    mt.optimize()
    got2 = _drain(spark, tp, out, ckpt)
    assert sorted((r["k"], r["country"]) for r in got2.collect()) == [
        (1, "US"),
        (2, "DE"),
        (3, "US"),
        (4, "FR"),
    ]
    # a third drain with no new commits delivers nothing new (exactly-once)
    got3 = _drain(spark, tp, out, ckpt)
    assert got3.count() == 4


def test_change_commit_raises_unless_skipped(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))
    mt.write(
        spark.createDataFrame([(3, 30.0)], "k long, v double"), mode="append"
    )
    mt.delete_where([("k", "=", 1)])  # rewrite -> change commit

    with pytest.raises(Exception, match="not append-only"):
        _drain(spark, tp, str(tmp_path / "o1"), str(tmp_path / "c1"))

    got = _drain(
        spark,
        tp,
        str(tmp_path / "o2"),
        str(tmp_path / "c2"),
        skipChangeCommits="true",
    )
    # the delete commit is skipped wholesale; earlier appends still flow
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]


def test_starting_version_and_schema_evolution_null_fill(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1,)], "k long"))
    mt.write(spark.createDataFrame([(2,)], "k long"), mode="append")
    mt.write(
        spark.createDataFrame([(3, "x")], "k long, tag string"),
        mode="append",
        merge_schema=True,
    )

    # startingVersion skips the initial snapshot commit
    got = _drain(
        spark,
        tp,
        str(tmp_path / "o1"),
        str(tmp_path / "c1"),
        startingVersion="1",
    )
    rows = {r["k"]: r["tag"] for r in got.collect()}
    # pre-evolution file null-fills the new column; evolved file carries it
    assert rows == {2: None, 3: "x"}


# --------------------------------------------------------------------------
# sink
# --------------------------------------------------------------------------


def _sink_drain(spark, src_path, dest_path, ckpt, **opts):
    reader = spark.readStream.format("managed_stream").option("path", src_path)
    w = (
        reader.load()
        .writeStream.format("managed_stream")
        .option("path", dest_path)
        .option("checkpointLocation", ckpt)
    )
    for k, v in opts.items():
        w = w.option(k, v)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)


def test_sink_table_to_table_exactly_once(spark, tmp_path):
    src_p, dest_p, ckpt = (str(tmp_path / x) for x in ("src", "dest", "ck"))
    src = ManagedTable(spark, src_p)
    dest = ManagedTable(spark, dest_p)
    src.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    dest.write(src.read().limit(0))  # empty table, same schema

    _sink_drain(spark, src_p, dest_p, ckpt)
    assert sorted(r["k"] for r in dest.read().collect()) == [1, 2]

    src.write(spark.createDataFrame([(3, "c")], "k long, s string"), mode="append")
    _sink_drain(spark, src_p, dest_p, ckpt)
    assert sorted(r["k"] for r in dest.read().collect()) == [1, 2, 3]
    # no-op drain appends nothing and commits nothing new
    v = dest.latest_version()
    _sink_drain(spark, src_p, dest_p, ckpt)
    assert dest.latest_version() == v
    # the sink commits are real log entries with txn stamps
    ops = [h["operation"] for h in dest.history()]
    assert "streaming_append" in ops
    # destination is itself a source: batch reads, time travel, the works
    assert dest.read(version=v - 1).count() <= dest.read().count()


def test_sink_replayed_batch_is_idempotent(spark, tmp_path):
    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    dest_p = str(tmp_path / "dest")
    dest = ManagedTable(spark, dest_p)
    dest.write(spark.createDataFrame([(0, "z")], "k long, s string"))

    w = ManagedTableStreamWriter(dest.schema(), {"path": dest_p})
    from pyspark.sql import Row

    msg = w.write(iter([Row(k=1, s="a"), Row(k=2, s="b")]))
    w.commit([msg], batchId=7)
    assert sorted(r["k"] for r in dest.read().collect()) == [0, 1, 2]

    # the SAME batch replayed (failure before checkpoint advance): staged
    # again, committed again -> must be dropped, not duplicated
    msg2 = w.write(iter([Row(k=1, s="a"), Row(k=2, s="b")]))
    v = dest.latest_version()
    w.commit([msg2], batchId=7)
    assert dest.latest_version() == v
    assert sorted(r["k"] for r in dest.read().collect()) == [0, 1, 2]
    # a LATER batch still lands
    msg3 = w.write(iter([Row(k=3, s="c")]))
    w.commit([msg3], batchId=8)
    assert sorted(r["k"] for r in dest.read().collect()) == [0, 1, 2, 3]


def test_sink_drops_a_batch_its_replay_twin_commits_first(
    spark, tmp_path, monkeypatch
):
    """Two writers stage the same batch; the twin commits it while the
    sink is between its txn check and its commit.  The sink's commit must
    then be dropped as a replay, not land the batch twice."""
    from pyspark.sql import Row

    from delta_lake_spark.tables import managed
    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    p = str(tmp_path / "t")
    mt = ManagedTable(spark, p)
    mt.write(spark.createDataFrame([(0, "z")], "k long, s string"))
    w, twin = (ManagedTableStreamWriter(mt.schema(), {"path": p}) for _ in "ab")
    msg = w.write(iter([Row(k=1, s="a")]))
    twin_msg = twin.write(iter([Row(k=1, s="a")]))

    real_stats = managed._footer_stats
    armed = [True]

    def stats_then_twin(path):
        if armed:
            armed.pop()
            twin.commit([twin_msg], batchId=1)
        return real_stats(path)

    monkeypatch.setattr(managed, "_footer_stats", stats_then_twin)
    w.commit([msg], batchId=1)
    assert not armed  # the twin really committed inside the window
    assert sorted(r["k"] for r in mt.read().collect()) == [0, 1]
    assert mt.latest_version() == 1


def test_sink_guards(spark, tmp_path):
    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    from pyspark.sql.types import StructType as _ST

    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="does not exist"):
        ManagedTableStreamWriter(_ST(), {"path": p})
    p2 = str(tmp_path / "t2")
    mt2 = ManagedTable(spark, p2)
    mt2.write(spark.createDataFrame([(1,)], "k long"))
    from pyspark.sql.types import LongType, StructField, StructType

    wrong = StructType([StructField("other", LongType())])
    with pytest.raises(ValueError, match="stream schema != table schema"):
        ManagedTableStreamWriter(wrong, {"path": p2})
    # tables whose write path runs Spark-side enforcement (constraints /
    # generated validation / identity allocation) are rejected — the
    # executor-staged sink cannot evaluate them, and admitting rows would
    # silently void the table's guarantees
    right = mt2.schema()
    mt2.add_constraint("k_pos", "k > 0")
    with pytest.raises(ValueError, match="constraints metadata"):
        ManagedTableStreamWriter(right, {"path": p2})
    mt2.drop_constraint("k_pos")
    ManagedTableStreamWriter(right, {"path": p2})  # clean again → accepted
    p3 = str(tmp_path / "t3")
    mt3 = ManagedTable(spark, p3)
    mt3.write(spark.createDataFrame([(1, 2)], "k long, k2 long"))
    mt3.add_generated_column("k2", "k + 1")
    with pytest.raises(ValueError, match="generated metadata"):
        ManagedTableStreamWriter(mt3.schema(), {"path": p3})


def test_vacuum_spares_inflight_staged_shards(spark, tmp_path):
    """A vacuum racing a live micro-batch (files staged, log commit not yet
    landed) must not reap the staged shards; abandoned stale shards (older
    than the grace window) are still collected."""
    import os
    import time as _time

    from pyspark.sql import Row

    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    p = str(tmp_path / "t")
    mt = ManagedTable(spark, p)
    mt.write(spark.createDataFrame([(0, "z")], "k long, s string"))

    w = ManagedTableStreamWriter(mt.schema(), {"path": p})
    msg = w.write(iter([Row(k=1, s="a")]))  # staged, NOT committed
    staged_full = os.path.join(p, msg.files[0][0])
    assert os.path.exists(staged_full)

    assert mt.vacuum() == 0  # fresh staged shard survives the default vacuum
    assert os.path.exists(staged_full)

    w.commit([msg], batchId=1)  # commit still lands afterwards
    assert sorted(r["k"] for r in mt.read().collect()) == [0, 1]

    # an ABANDONED shard (crashed writer, > grace window old) is collected
    msg2 = w.write(iter([Row(k=9, s="x")]))
    stale_full = os.path.join(p, msg2.files[0][0])
    old = _time.time() - 2 * 3600
    os.utime(stale_full, (old, old))
    assert mt.vacuum() == 1
    assert not os.path.exists(stale_full)
    assert sorted(r["k"] for r in mt.read().collect()) == [0, 1]


def test_sink_abort_unlinks_staged_shards(spark, tmp_path):
    """An aborted micro-batch leaves no staged shard behind and no commit
    in the log."""
    from pyspark.sql import Row

    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    p = str(tmp_path / "t")
    mt = ManagedTable(spark, p)
    mt.write(spark.createDataFrame([(0, "z")], "k long, s string"))

    w = ManagedTableStreamWriter(mt.schema(), {"path": p})
    msg = w.write(iter([Row(k=1, s="a"), Row(k=2, s="b")]))
    empty = w.write(iter([]))
    staged = [os.path.join(p, rel) for m in (msg, empty) for rel, _rows in m.files]
    assert staged and all(os.path.exists(f) for f in staged)

    w.abort([msg, None, empty], batchId=1)
    assert not any(os.path.exists(f) for f in staged)
    assert mt.latest_version() == 0
    assert sorted(r["k"] for r in mt.read().collect()) == [0]


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_max_versions_per_trigger_bounds_batches(spark, tmp_path):
    # 4 commits of backlog.  A capped processingTime stream must absorb ONE
    # version per micro-batch (4 batches); a capped availableNow drain
    # captures one bounded target per run.  Rows arrive exactly once.
    import time

    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    for i in range(4):
        mt.write(
            spark.createDataFrame([(i, float(i))], "k long, v double"),
            mode="append" if i else "overwrite",
        )

    def n_batches(ckpt):
        return len(
            [f for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()]
        )

    out1, ck1 = str(tmp_path / "o1"), str(tmp_path / "c1")
    q = (
        spark.readStream.format("managed_stream")
        .option("path", tp)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", ck1)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    for _ in range(100):
        time.sleep(0.5)
        try:
            if spark.read.parquet(out1).count() >= 4:
                break
        except Exception:
            pass
    q.stop()
    assert sorted(r["k"] for r in spark.read.parquet(out1).collect()) == [0, 1, 2, 3]
    assert n_batches(ck1) == 4  # one version per micro-batch, fresh start included

    # append 3 more and continue the SAME checkpoint with capped availableNow
    # drains: each run absorbs exactly one version of backlog
    for i in range(4, 7):
        mt.write(
            spark.createDataFrame([(i, float(i))], "k long, v double"),
            mode="append",
        )
    for expect in (5, 6, 7):
        got = _drain(spark, tp, out1, ck1, maxVersionsPerTrigger="1")
        assert got.count() == expect  # exactly-once, one version per run
    assert sorted(r["k"] for r in got.collect()) == list(range(7))

    with pytest.raises(Exception, match="maxVersionsPerTrigger"):
        _drain(
            spark, tp, str(tmp_path / "o3"), str(tmp_path / "c3"),
            maxVersionsPerTrigger="0",
        )


def test_partitioned_sink_exactly_once_with_null_partition(spark, tmp_path):
    src, tgt, ck = (str(tmp_path / x) for x in ("s", "t", "c"))
    smt = ManagedTable(spark, src)
    smt.write(
        spark.createDataFrame(
            [(1, "US", 1.0), (2, "DE", 2.0)], "k long, country string, v double"
        )
    )
    tmt = ManagedTable(spark, tgt)
    tmt.write(
        spark.createDataFrame([], "k long, country string, v double"),
        partition_by=["country"],
    )

    def drain():
        q = (
            spark.readStream.format("managed_stream")
            .option("path", src)
            .load()
            .writeStream.format("managed_stream")
            .option("path", tgt)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted((r.k, r.country) for r in tmt.read().collect()) == [
        (1, "US"),
        (2, "DE"),
    ]
    smt.write(
        spark.createDataFrame(
            [(3, "US", 3.0), (4, None, 4.0)], "k long, country string, v double"
        ),
        mode="append",
    )
    drain()
    rows = sorted(
        (r.k, r.country, r.v) for r in tmt.read().collect()
    )
    assert rows == [(1, "US", 1.0), (2, "DE", 2.0), (3, "US", 3.0), (4, None, 4.0)]
    # partition pruning works off the streamed records (2 of 4 files US)
    kept, total = tmt.pruned_file_count([("country", "=", "US")])
    assert kept < total
    # third drain: nothing new (exactly-once), and the layout survives a
    # later OPTIMIZE of the streamed Hive-staged files
    drain()
    assert tmt.read().count() == 4
    tmt.optimize()
    assert sorted(
        (r.k, r.country, r.v) for r in tmt.read().collect()
    ) == rows


def test_sink_rejects_midstream_partition_evolution(spark, tmp_path):
    """set_partitioning between sink initialization and batch commit must
    fail the batch (stale layout + spec reversion), not silently commit."""
    from delta_lake_spark.tables.stream_source import ManagedTableStreamWriter

    src_p, dest_p = str(tmp_path / "src"), str(tmp_path / "dest")
    src = ManagedTable(spark, src_p)
    src.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    )
    dest = ManagedTable(spark, dest_p)
    dest.write(src.read().limit(0))
    writer = ManagedTableStreamWriter(dest.schema(), {"path": dest_p})
    dest.set_partitioning(["p"])  # evolve AFTER the sink initialized
    with pytest.raises(ValueError, match="partitioning changed mid-stream"):
        writer.commit([], batchId=0)
    # the evolved spec survives untouched
    assert dest._entry()["partition_by"] == ["p"]
