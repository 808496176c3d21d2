"""Merge-on-read DML (deletion vectors): `delete_where` / `update_where`
with mode="merge_on_read" commit a (file, row_index) sidecar instead of
rewriting data files; reads anti-join it out; OPTIMIZE / purge_deletes
materializes.  Mirrors Delta Lake's deletion-vector feature (the reference
runs on classic copy-on-write Delta — this is the engine's scale upgrade
for selective, frequent deletes)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_spark.tables import ManagedTable


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def base_df(spark):
    return spark.createDataFrame(
        [
            Row(id=i, grp=("a" if i % 2 == 0 else "b"), val=float(i))
            for i in range(20)
        ]
    )


def data_parquets(t):
    return {f["path"] for f in t._entry()["files"]}


def test_mor_delete_matches_cow_delete(spark, tmp_path, base_df):
    cow = ManagedTable(spark, str(tmp_path / "cow"))
    mor = ManagedTable(spark, str(tmp_path / "mor"))
    cow.write(base_df.repartition(4))
    mor.write(base_df.repartition(4))
    cow.delete_where([("val", ">=", 5.0), ("val", "<", 12.0)])
    mor.delete_where([("val", ">=", 5.0), ("val", "<", 12.0)], mode="merge_on_read")
    assert rows(mor.read()) == rows(cow.read())
    assert mor.read().count() == 13


def test_mor_delete_rewrites_no_data_files(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.repartition(4))
    before = data_parquets(t)
    t.delete_where([("id", "=", 7)], mode="merge_on_read")
    after = data_parquets(t)
    # same data files, by reference — only the log + a sidecar changed
    assert after == before
    d = t.detail()
    assert d["num_deleted_rows"] == 1 and d["num_dv_files"] >= 1
    assert t.read().filter("id = 7").count() == 0
    assert t.read().count() == 19


def test_mor_deletes_accumulate_and_time_travel(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    v0 = t.write(base_df.coalesce(1))  # one file: both deletes hit it
    v1 = t.delete_where([("id", "=", 3)], mode="merge_on_read")
    v2 = t.delete_where([("id", "=", 4)], mode="merge_on_read")
    assert t.read(version=v0).count() == 20
    assert t.read(version=v1).count() == 19
    assert t.read(version=v2).count() == 18
    assert rows(t.read().select("id").filter("id in (3, 4)")) == []
    # second DV stacked on the same file record
    rec = next(f for f in t._entry()["files"] if f.get("dvs"))
    assert len(rec["dvs"]) >= 2 and rec["dv_rows"] == 2


def test_mor_delete_already_deleted_rows_not_redeleted(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.coalesce(1))
    t.delete_where([("val", "<", 5.0)], mode="merge_on_read")
    # overlapping predicate: rows already DV'd must not double-count
    t.delete_where([("val", "<", 8.0)], mode="merge_on_read")
    assert t.detail()["num_deleted_rows"] == 8
    assert t.read().count() == 12


def test_mor_delete_prunes_unmatched_files(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "p"))
    t.write(base_df, partition_by=["grp"])
    t.delete_where([("grp", "=", "a"), ("id", "<", 6)], mode="merge_on_read")
    # partition b's records must carry no DVs
    for rec in t._entry()["files"]:
        if rec["partition"].get("grp") == "b":
            assert not rec.get("dvs")
    assert t.read().count() == 17
    assert rows(t.read().filter("grp = 'a'").select("id")) == rows(
        base_df.filter("grp = 'a' and id >= 6").select("id")
    )


def test_mor_update_matches_cow_update(spark, tmp_path, base_df):
    cow = ManagedTable(spark, str(tmp_path / "cow"))
    mor = ManagedTable(spark, str(tmp_path / "mor"))
    cow.write(base_df.repartition(3))
    mor.write(base_df.repartition(3))
    cow.update_where([("grp", "=", "a")], {"val": F.col("val") * 10})
    mor.update_where(
        [("grp", "=", "a")], {"val": F.col("val") * 10}, mode="merge_on_read"
    )
    assert rows(mor.read()) == rows(cow.read())
    assert mor.read().count() == 20
    # the update appended new images instead of rewriting old files
    assert mor._raw_entry(mor.latest_version())["mode"] == "merge_on_read"


def test_purge_deletes_materializes(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.repartition(4))
    t.delete_where([("val", "<", 6.0)], mode="merge_on_read")
    expected = rows(t.read())
    v = t.purge_deletes()
    assert t._raw_entry(v)["operation"] == "optimize"
    d = t.detail()
    assert d["num_deleted_rows"] == 0 and d["num_dv_files"] == 0
    assert rows(t.read()) == expected
    # idempotent: nothing left to purge, no new commit
    assert t.purge_deletes() == v


def test_optimize_materializes_dvs(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.repartition(4))
    t.delete_where([("id", "<", 4)], mode="merge_on_read")
    expected = rows(t.read())
    t.optimize()
    assert t.detail()["num_dv_files"] == 0
    assert rows(t.read()) == expected


def test_merge_after_mor_delete_does_not_resurrect(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.coalesce(2))
    t.delete_where([("id", "=", 5)], mode="merge_on_read")
    src = spark.createDataFrame([Row(id=6, grp="x", val=-1.0)])
    t.merge(src, keys=["id"])
    got = rows(t.read().select("id", "grp", "val"))
    assert (5, "b", 5.0) not in got  # deleted row stayed deleted
    assert (6, "x", -1.0) in got  # merge update applied


def test_scan_applies_dvs(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.repartition(2))
    t.delete_where([("id", "=", 8)], mode="merge_on_read")
    assert t.scan([("grp", "=", "a")]).filter("id = 8").count() == 0
    assert t.scan([("id", "=", 8)]).count() == 0


def test_change_feed_emits_dv_deletes(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    v0 = t.write(base_df.repartition(3))
    t.delete_where([("val", ">=", 17.0)], mode="merge_on_read")
    feed = t.changes(v0, include_change_type=True)
    dels = feed.filter("_change_type = 'delete'")
    assert rows(dels.select("id")) == [(17,), (18,), (19,)]
    # default mode surfaces the post-image of the affected scope only
    post = t.changes(v0)
    assert post.filter("val >= 17.0").count() == 0


def test_change_feed_mor_update_pre_and_post_images(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    v0 = t.write(base_df.coalesce(2))
    t.update_where(
        [("id", "=", 2)], {"val": F.lit(99.0)}, mode="merge_on_read"
    )
    feed = t.changes(v0, include_change_type=True)
    assert rows(
        feed.filter("id = 2").select("_change_type", "val")
    ) == [("delete", 2.0), ("insert", 99.0)]


def test_changes_after_mor_delete_on_compaction_output(spark, tmp_path):
    """A merge-on-read delete re-records a file that an OPTIMIZE inside the
    range produced: the feed falls back to the post-image diff, so the
    deleted row never resurfaces and no row surfaces twice."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,), (2,), (3,)], "k long"))            # v0
    t.write(spark.createDataFrame([(4,)], "k long"), mode="append")         # v1
    t.optimize()                                                            # v2
    t.delete_where([("k", "=", 1)], mode="merge_on_read")                   # v3
    for start in (-1, 0):
        assert sorted(r.k for r in t.changes(start).collect()) == [2, 3, 4]
    feed = t.changes(0, include_change_type=True)
    assert rows(feed.filter("_change_type = 'delete'")) == [(1, "delete")]


def test_vacuum_keeps_live_dvs_drops_purged(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.coalesce(1))
    t.delete_where([("id", "<", 3)], mode="merge_on_read")
    expected = rows(t.read())
    t.vacuum()  # head references data + DV: both must survive
    assert rows(t.read()) == expected
    t.purge_deletes()
    deleted = t.vacuum()
    assert deleted >= 2  # old data file + DV sidecar reclaimed
    assert t.detail()["num_dv_files"] == 0
    assert rows(t.read()) == expected
    with pytest.raises(Exception):  # vacuumed snapshot: clear error
        t.read(version=1).count()


def test_clone_carries_dvs(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.coalesce(2))
    t.delete_where([("id", "<", 5)], mode="merge_on_read")
    c = t.clone(str(tmp_path / "c"))
    assert rows(c.read()) == rows(t.read())
    # the clone's DV files exist under the clone root
    for f in c._entry()["files"]:
        for dv in f.get("dvs") or ():
            assert os.path.exists(os.path.join(c.path, dv))


def test_restore_across_mor_delete(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    v0 = t.write(base_df.coalesce(1))
    t.delete_where([("id", "<", 10)], mode="merge_on_read")
    t.restore(v0)
    assert t.read().count() == 20
    assert t.detail()["num_deleted_rows"] == 0


def test_mor_rejects_reserved_columns(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        t.spark.createDataFrame([Row(id=1, __dv_file="x")])
    )
    with pytest.raises(ValueError, match="reserve"):
        t.delete_where([("id", "=", 1)], mode="merge_on_read")


def test_mor_delete_no_matches_is_clean_noop_commit(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df)
    v = t.delete_where([("id", "=", 12345)], mode="merge_on_read")
    assert t.read(version=v).count() == 20
    assert t.detail()["num_deleted_rows"] == 0


def test_dv_antijoin_is_broadcast(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df.repartition(2))
    t.delete_where([("id", "=", 1)], mode="merge_on_read")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


@pytest.mark.parametrize("p", ["a b", "a%b", "a=b", "a:b", "a+b", "é"])
def test_mor_dml_and_change_feed_on_escaped_partition_paths(spark, tmp_path, p):
    """Deletion vectors key rows by the table-relative path the log
    records, while the reader sees a percent-encoded URI.  A partition
    value that the directory name or the URI escapes (space, %, =, :) must
    still be found: MoR delete and update take effect and the change feed
    reports both.  "a+b" and "é" need no escaping."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(1, 10, p), (2, 20, p), (3, 30, p)], "k int, v int, p string"
        ),
        partition_by=["p"],
    )
    v0 = t.enable_cdf()
    t.delete_where([("k", "=", 1)], mode="merge_on_read")
    assert rows(t.read()) == [(2, 20, p), (3, 30, p)]
    t.update_where([("k", "=", 2)], {"v": F.lit(99)}, mode="merge_on_read")
    assert rows(t.read()) == [(2, 99, p), (3, 30, p)]
    feed = t.change_feed(v0).select("k", "v", "p", "_change_type", "_commit_version")
    assert rows(feed) == [
        (1, 10, p, "delete", v0 + 1),
        (2, 20, p, "update_preimage", v0 + 2),
        (2, 99, p, "update_postimage", v0 + 2),
    ]
