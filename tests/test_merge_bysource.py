"""WHEN NOT MATCHED BY SOURCE merge clauses (Delta 2.3+ parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from delta_lake_spark.tables import ManagedTable


def chain(t):
    return sorted(tuple(r) for r in t.read().collect())


def _seed(spark, tmp_path, name="t", partition_by=None):
    t = ManagedTable(spark, str(tmp_path / name))
    t.write(
        spark.createDataFrame(
            [
                Row(id=1, val="a", status="active"),
                Row(id=2, val="b", status="active"),
                Row(id=3, val="c", status="inactive"),
            ]
        ),
        partition_by=partition_by,
    )
    return t


def test_delete_by_source_snapshot_sync(spark, tmp_path):
    t = _seed(spark, tmp_path)
    snapshot = spark.createDataFrame(
        [Row(id=2, val="b2", status="active"), Row(id=9, val="new", status="active")]
    )
    t.merge(snapshot, ["id"], when_not_matched_by_source="delete")
    assert chain(t) == [
        (2, "b2", "active"),
        (9, "new", "active"),
    ]


def test_update_by_source_with_condition(spark, tmp_path):
    t = _seed(spark, tmp_path)
    src = spark.createDataFrame([Row(id=2, val="b2", status="active")])
    t.merge(
        src,
        ["id"],
        when_not_matched="ignore",
        when_not_matched_by_source="update",
        not_matched_by_source_set={"status": "'stale'"},
        not_matched_by_source_condition="status = 'active'",
    )
    # id=1 was active+unmatched -> stale; id=3 inactive -> untouched by the
    # condition; id=2 matched -> updated whole-row
    assert chain(t) == [
        (1, "a", "stale"),
        (2, "b2", "active"),
        (3, "c", "inactive"),
    ]


def test_by_source_validation(spark, tmp_path):
    t = _seed(spark, tmp_path)
    src = spark.createDataFrame([Row(id=2, val="x", status="active")])
    with pytest.raises(ValueError, match="bad when_not_matched_by_source"):
        t.merge(src, ["id"], when_not_matched_by_source="nope")
    with pytest.raises(ValueError, match="requires"):
        t.merge(src, ["id"], when_not_matched_by_source="update")
    with pytest.raises(ValueError, match="merge keys"):
        t.merge(
            src,
            ["id"],
            when_not_matched_by_source="update",
            not_matched_by_source_set={"id": "0"},
        )
    with pytest.raises(ValueError, match="no-op"):
        t.merge(src, ["id"], not_matched_by_source_condition="status = 'x'")


def test_by_source_disables_pruning_across_partitions(spark, tmp_path):
    t = _seed(spark, tmp_path, "p", partition_by=["status"])
    # source touches only the 'active' partition; the delete-by-source must
    # still reach the 'inactive' partition's row
    src = spark.createDataFrame([Row(id=1, val="a2", status="active")])
    t.merge(src, ["id"], when_not_matched_by_source="delete")
    assert chain(t) == [(1, "a2", "active")]
    assert t._raw_entry(t.latest_version()).get("pruned") is False


def test_by_source_cdc_images(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.enable_cdf()
    v0 = t.latest_version()
    src = spark.createDataFrame([Row(id=2, val="b2", status="active")])
    t.merge(
        src,
        ["id"],
        when_not_matched="ignore",
        when_not_matched_by_source="update",
        not_matched_by_source_set={"status": "'stale'"},
        not_matched_by_source_condition="status = 'active'",
    )
    feed = {
        (r.id, r._change_type): (r.val, r.status)
        for r in t.change_feed(v0).collect()
    }
    assert feed[(1, "update_preimage")] == ("a", "active")
    assert feed[(1, "update_postimage")] == ("a", "stale")
    assert feed[(2, "update_preimage")] == ("b", "active")
    assert feed[(2, "update_postimage")] == ("b2", "active")
    assert (3, "update_preimage") not in feed  # condition excluded id=3

    t2 = _seed(spark, tmp_path, "t2")
    t2.enable_cdf()
    v0 = t2.latest_version()
    t2.merge(src, ["id"], when_not_matched_by_source="delete")
    feed = {
        (r.id, r._change_type) for r in t2.change_feed(v0).collect()
    }
    assert (1, "delete") in feed and (3, "delete") in feed


def test_by_source_metrics(spark, tmp_path):
    t = _seed(spark, tmp_path)
    src = spark.createDataFrame([Row(id=2, val="b2", status="active")])
    t.merge(src, ["id"], when_not_matched_by_source="delete")
    m = t.history()[0]["operation_metrics"]
    assert m["num_target_rows_deleted_by_source"] == 2
    assert m["num_target_rows_matched"] == 1


def test_by_source_update_keeps_row_ids(spark, tmp_path):
    t = _seed(spark, tmp_path, "rt")
    t.enable_row_tracking()
    before = {r.id: r._row_id for r in t.read_with_row_ids().collect()}
    src = spark.createDataFrame([Row(id=2, val="b2", status="active")])
    t.merge(
        src,
        ["id"],
        when_not_matched="ignore",
        when_not_matched_by_source="update",
        not_matched_by_source_set={"status": "'stale'"},
    )
    after = {r.id: r._row_id for r in t.read_with_row_ids().collect()}
    assert after[1] == before[1] and after[3] == before[3]
