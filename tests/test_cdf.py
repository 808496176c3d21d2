"""Materialized Change Data Feed (delta.enableChangeDataFeed analog):
exact per-commit change rows for DML/merge via -cdc- sidecars, synthesized
inserts/deletes for append/overwrite, batch change_feed() reads and the
streaming source's readChangeFeed mode."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.tables.managed import ManagedTable, VacuumedVersionError


def _rows(df):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in df.collect()
    )


def test_change_feed_exact_across_dml_paths(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"))  # v0
    mt.enable_cdf()                                                                 # v1
    mt.write(spark.createDataFrame([(4, 40.0)], "k long, v double"), mode="append")  # v2
    mt.delete_where([("k", "=", 2)])                                                # v3 CoW
    mt.update_where([("k", "=", 3)], {"v": F.lit(99.0)})                            # v4 CoW
    mt.merge(spark.createDataFrame([(1, 11.0), (5, 50.0)], "k long, v double"), ["k"])  # v5
    mt.optimize()                                                                   # v6 invisible
    mt.delete_where([("k", "=", 4)], mode="merge_on_read")                          # v7 MoR
    mt.update_where([("k", "=", 5)], {"v": F.lit(1.0)}, mode="merge_on_read")       # v8 MoR

    assert _rows(mt.change_feed(1)) == [
        (2, "insert", 4, 40.0),
        (3, "delete", 2, 20.0),
        (4, "update_postimage", 3, 99.0),
        (4, "update_preimage", 3, 30.0),
        (5, "insert", 5, 50.0),
        (5, "update_postimage", 1, 11.0),
        (5, "update_preimage", 1, 10.0),
        (7, "delete", 4, 40.0),
        (8, "update_postimage", 5, 1.0),
        (8, "update_preimage", 5, 50.0),
    ]
    # the feed's post-state replay equals the snapshot: apply inserts +
    # postimages minus deletes/preimages on top of v1
    assert sorted((r.k, r.v) for r in mt.read().collect()) == [
        (1, 11.0), (3, 99.0), (5, 1.0),
    ]
    # bounded range
    assert _rows(mt.change_feed(3, 4)) == [
        (4, "update_postimage", 3, 99.0),
        (4, "update_preimage", 3, 30.0),
    ]


def test_change_feed_overwrite_and_initial_snapshot(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))      # v0
    mt.enable_cdf()                                                      # v1
    mt.write(spark.createDataFrame([(2, 2.0)], "k long, v double"), mode="overwrite")  # v2
    # from the very beginning: v0 initial write is an insert load
    assert _rows(mt.change_feed(-1)) == [
        (0, "insert", 1, 1.0),
        (2, "delete", 1, 1.0),
        (2, "insert", 2, 2.0),
    ]


def test_change_feed_conditional_merge_clauses(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))
    mt.enable_cdf()
    # only rows where the source value beats the target update; others keep
    src = spark.createDataFrame([(1, 5.0), (2, 25.0), (9, 90.0)], "k long, v double")
    mt.merge(src, ["k"], matched_condition="s.v > t.v",
             not_matched_condition="s.v < 100")
    assert _rows(mt.change_feed(1)) == [
        (2, "insert", 9, 90.0),
        (2, "update_postimage", 2, 25.0),
        (2, "update_preimage", 2, 20.0),
    ]
    # delete clause
    mt.merge(spark.createDataFrame([(9, 0.0)], "k long, v double"), ["k"],
             when_matched="delete", when_not_matched="ignore")
    assert _rows(mt.change_feed(2)) == [(3, "delete", 9, 90.0)]


def test_change_feed_requires_property(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    mt.delete_where([("k", "=", 1)])
    with pytest.raises(ValueError, match="enable_cdf"):
        mt.change_feed(0).collect()


def test_vacuum_reaps_cdc_sidecars_of_expired_versions(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    mt.enable_cdf()
    mt.delete_where([("k", "=", 1)])
    # retained: feed still works after a retention-window vacuum
    mt.vacuum(retain_hours=1.0)
    assert _rows(mt.change_feed(1)) == [(2, "delete", 1, 1.0)]
    # advance the head so the delete commit falls out of retention; zero
    # retention then keeps only the latest snapshot: the sidecar goes and
    # the feed reports it clearly
    mt.write(spark.createDataFrame([(3, 3.0)], "k long, v double"), mode="append")
    mt.vacuum(retain_hours=0.0)
    cdc_left = [
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(tp)
        for n in ns
        if "-cdc-" in dp and n.endswith(".parquet")
    ]
    assert cdc_left == []
    with pytest.raises(VacuumedVersionError):
        mt.change_feed(1, 2).collect()


def test_enable_cdf_rejects_reserved_columns(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1,)], "`_change_type` long"))
    with pytest.raises(ValueError, match="reserves"):
        mt.enable_cdf()


def test_disable_cdf_stops_materialization(spark, tmp_path):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    mt.enable_cdf()
    mt.delete_where([("k", "=", 1)])   # v2: sidecar
    mt.disable_cdf()                   # v3
    mt.delete_where([("k", "=", 2)])   # v4: no sidecar
    assert _rows(mt.change_feed(1, 2)) == [(2, "delete", 1, 1.0)]
    with pytest.raises(ValueError, match="enable_cdf"):
        mt.change_feed(3).collect()


# ------------------------------------------------------------------------
# streaming readChangeFeed
# ------------------------------------------------------------------------


@pytest.fixture()
def _register(spark):
    from delta_lake_spark.tables.stream_source import (
        register_managed_stream_source,
    )

    register_managed_stream_source(spark)


def _drain_cdf(spark, table_path, out, ckpt, **opts):
    reader = (
        spark.readStream.format("managed_stream")
        .option("path", table_path)
        .option("readChangeFeed", "true")
    )
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


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_stream_cdf_delivers_tagged_changes_exactly_once(
    spark, tmp_path, _register
):
    tp, out, ck = (str(tmp_path / x) for x in ("t", "o", "c"))
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))
    mt.enable_cdf()
    mt.delete_where([("k", "=", 2)])                                        # v2
    mt.merge(spark.createDataFrame([(1, 11.0), (3, 30.0)], "k long, v double"), ["k"])  # v3
    mt.optimize()                                                           # invisible
    got = _drain_cdf(spark, tp, out, ck)
    assert _rows(got) == [
        (0, "insert", 1, 10.0),
        (0, "insert", 2, 20.0),
        (2, "delete", 2, 20.0),
        (3, "insert", 3, 30.0),
        (3, "update_postimage", 1, 11.0),
        (3, "update_preimage", 1, 10.0),
    ]
    # incremental drain sees ONLY the new change commit, exactly once
    mt.update_where([("k", "=", 3)], {"v": F.lit(99.0)}, mode="merge_on_read")  # v5
    got2 = _drain_cdf(spark, tp, out, ck)
    assert [r for r in _rows(got2) if r[0] == 5] == [
        (5, "update_postimage", 3, 99.0),
        (5, "update_preimage", 3, 30.0),
    ]
    assert got2.count() == 8
    # third drain: nothing new
    assert _drain_cdf(spark, tp, out, ck).count() == 8


def test_stream_cdf_raises_without_property_and_on_conflicting_opts(
    spark, tmp_path, _register
):
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    mt.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    mt.delete_where([("k", "=", 1)])
    with pytest.raises(Exception, match="enable_cdf"):
        _drain_cdf(
            spark, tp, str(tmp_path / "o"), str(tmp_path / "c")
        )
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain_cdf(
            spark, tp, str(tmp_path / "o2"), str(tmp_path / "c2"),
            skipChangeCommits="true",
        )


# ------------------------------------------------------------------------
# one change reader: batch and streaming feeds agree commit by commit
# ------------------------------------------------------------------------


def _stream_reader(path, **opts):
    from delta_lake_spark.tables.stream_source import (
        ManagedTableStreamReader,
        ManagedTableStreamSource,
    )

    opts = {"path": path, **opts}
    return ManagedTableStreamReader(
        ManagedTableStreamSource(opts).schema(), opts
    )


def _stream_rows(reader, start, end):
    """Rows the stream source plans and reads for versions
    ``(start, end]``, driven directly (no streaming query)."""
    out = []
    for part in reader.partitions({"version": start}, {"version": end}):
        for batch in reader.read(part):
            out += batch.to_pylist()
    return out


def _stream_cdf_rows(path, start, end):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in _stream_rows(_stream_reader(path, readChangeFeed="true"), start, end)
    )


def test_stream_change_feed_matches_batch_change_feed(spark, tmp_path):
    """readChangeFeed planning + reading returns exactly change_feed()'s
    rows over every version range of a history that mixes appends,
    merge-on-read and copy-on-write DML, merge, compaction, metadata-only
    re-records and an overwrite — including rows a deletion vector had
    already removed, which an overwrite must not re-emit."""
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    schema = "k long, v double"
    mt.write(spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], schema).coalesce(1))  # v0
    mt.enable_cdf()                                                              # v1
    mt.write(spark.createDataFrame([(4, 40.0)], schema), mode="append")          # v2
    mt.delete_where([("k", "=", 1)], mode="merge_on_read")                       # v3
    mt.update_where([("k", "=", 2)], {"v": F.lit(99.0)})                         # v4
    mt.merge(spark.createDataFrame([(3, 33.0), (5, 50.0)], schema), ["k"])       # v5
    mt.delete_where([("k", "=", 4)], mode="merge_on_read")                       # v6
    mt.optimize()                                                                # v7
    mt.delete_where([("k", "=", 5)], mode="merge_on_read")                       # v8
    mt.add_bloom_filters(["k"])                                                  # v9
    mt.enable_row_tracking()                                                     # v10
    last = mt.write(spark.createDataFrame([(9, 90.0)], schema), mode="overwrite")  # v11
    assert last == 11

    full = _rows(mt.change_feed(-1))
    # the overwrite deletes only the rows live at v10, never DV-deleted ones
    assert [r for r in full if r[0] == 11] == [
        (11, "delete", 2, 99.0),
        (11, "delete", 3, 33.0),
        (11, "insert", 9, 90.0),
    ]
    for a in range(-1, last):
        for b in range(a + 1, last + 1):
            assert _stream_cdf_rows(tp, a, b) == [
                r for r in full if a < r[0] <= b
            ], (a, b)
    # each slice of the batch feed is the full feed restricted to it
    for a, b in [(2, 3), (5, 8), (8, 11)]:
        assert _rows(mt.change_feed(a, b)) == [r for r in full if a < r[0] <= b]

    # a zero-copy clone carries the source's deletion vectors in its
    # initial commit: both feeds load only the live rows
    clone = mt.clone(str(tmp_path / "clone"), version=8)
    clone.enable_cdf()
    assert _rows(clone.change_feed(-1)) == [(0, "insert", 2, 99.0), (0, "insert", 3, 33.0)]
    assert _stream_cdf_rows(clone.path, -1, 1) == _rows(clone.change_feed(-1))
    assert sorted(r["k"] for r in _stream_rows(_stream_reader(clone.path), -1, 1)) == [2, 3]


def test_metadata_rerecords_are_invisible_to_every_change_reader(spark, tmp_path):
    """Bloom filters and row-tracking bases re-record existing files with
    unchanged deletion vectors: no rows change, so changes(),
    signed_changes(), change_feed() and both stream modes see nothing."""
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    schema = "k long, v double"
    mt.write(spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], schema))  # v0
    mt.enable_cdf()                                                          # v1
    mt.delete_where([("k", "=", 3)], mode="merge_on_read")                   # v2
    mt.add_bloom_filters(["k"])                                              # v3
    mt.enable_row_tracking()                                                 # v4
    assert mt.latest_version() == 4
    for a in (2, 3):
        assert mt.changes(a).count() == 0
        assert mt.changes(a, include_change_type=True).count() == 0
        assert mt.signed_changes(a).count() == 0
        assert mt.change_feed(a).count() == 0
        assert _stream_cdf_rows(tp, a, 4) == []
        assert _stream_rows(_stream_reader(tp), a, 4) == []
    # the append-only stream still raises on the real change commit (v2)
    # and skips it on request; the re-records after it never count
    with pytest.raises(ValueError, match="not append-only"):
        _stream_rows(_stream_reader(tp), 1, 4)
    assert sorted(
        r["k"]
        for r in _stream_rows(_stream_reader(tp, skipChangeCommits="true"), -1, 4)
    ) == [1, 2, 3]


def test_stream_reads_partition_values_from_each_files_own_layout(spark, tmp_path):
    """Files keep the partition layout they were written with: after the
    spec is dropped, both stream modes still recover the old files'
    partition column from their paths and the new files' from the data,
    agreeing with the batch reads column for column."""
    tp = str(tmp_path / "t")
    mt = ManagedTable(spark, tp)
    schema = "k long, v double, p string"
    mt.write(
        spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], schema),
        partition_by=["p"],
    )                                                                  # v0
    mt.set_partitioning(None)                                          # v1
    mt.write(spark.createDataFrame([(3, 3.0, "c")], schema), mode="append")  # v2
    mt.enable_cdf()                                                    # v3

    def full(rows, cols):
        return sorted(tuple(r[c] for c in cols) for r in rows)

    cols = ["k", "v", "p"]
    assert full(_stream_rows(_stream_reader(tp), -1, 3), cols) == full(
        mt.read().collect(), cols
    ) == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]
    cols = ["_commit_version", "_change_type", *cols]
    assert full(
        _stream_rows(_stream_reader(tp, readChangeFeed="true"), -1, 3), cols
    ) == full(mt.change_feed(-1).collect(), cols)
