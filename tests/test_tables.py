"""Managed-table layer tests: write modes, time travel, merge semantics
(incl. idempotency, SURVEY.md §5 property 4), partition-pruned merge,
optimize/vacuum/history/detail, incremental patterns."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_spark.tables import (
    ManagedTable,
    anti_join_append,
    high_water_mark,
    insert_only_merge,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def base_df(spark):
    return spark.createDataFrame(
        [Row(id=i, grp=("a" if i % 2 == 0 else "b"), val=float(i)) for i in range(10)]
    )


def test_overwrite_append_time_travel(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    assert not ManagedTable.is_managed_table(t.path)
    v0 = t.write(base_df)
    assert v0 == 0 and ManagedTable.is_managed_table(t.path)
    assert t.read().count() == 10

    extra = spark.createDataFrame([Row(id=100, grp="c", val=1.5)])
    v1 = t.write(extra, mode="append")
    assert v1 == 1
    assert t.read().count() == 11
    assert t.read(version=0).count() == 10  # time travel

    v2 = t.write(extra, mode="overwrite")
    assert t.read(version=v2).count() == 1
    ops = [h["operation"] for h in t.history()]
    assert ops == ["overwrite", "append", "overwrite"]


def test_partitioned_write_and_pruning(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "p"))
    t.write(base_df, partition_by=["grp"])
    assert t.detail()["partition_columns"] == ["grp"]
    got = t.read().filter(F.col("grp") == "a")
    # partition column recovered from dir names; values correct
    assert rows(got.select("id", "grp", "val")) == rows(
        base_df.filter("grp = 'a'").select("id", "grp", "val")
    )
    # the physical plan should show a partition filter, not a data filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_merge_upsert_and_idempotency(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "m"))
    t.write(base_df)
    src = spark.createDataFrame(
        [Row(id=1, grp="b", val=999.0), Row(id=42, grp="z", val=42.0)]
    )
    t.merge(src, ["id"])
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[1] == 999.0 and got[42] == 42.0 and len(got) == 11
    before = rows(t.read())
    t.merge(src, ["id"])  # idempotent: same source changes nothing
    assert rows(t.read()) == before


def test_merge_insert_only_and_delete(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "mi"))
    t.write(base_df)
    src = spark.createDataFrame(
        [Row(id=1, grp="b", val=999.0), Row(id=50, grp="n", val=5.0)]
    )
    insert_only_merge(t, src, ["id"])
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[1] == 1.0  # matched row untouched
    assert got[50] == 5.0 and len(got) == 11

    t.merge(src, ["id"], when_matched="delete", when_not_matched="ignore")
    ids = {r["id"] for r in t.read().collect()}
    assert 1 not in ids and 50 not in ids and len(ids) == 9


def test_merge_partition_pruned(spark, tmp_path, base_df):
    """Partition pruning applies only when the partition columns are merge
    keys (then a match can't straddle partitions)."""
    t = ManagedTable(spark, str(tmp_path / "mp"))
    t.write(base_df, partition_by=["grp"])
    files_before = {f["path"] for f in t._entry()["files"] if f["partition"]["grp"] == "b"}
    src = spark.createDataFrame([Row(id=0, grp="a", val=-1.0)])
    t.merge(src, ["grp", "id"])
    entry = t._entry()
    assert entry["pruned"] is True
    # partition b files carried over untouched by reference
    files_after = {f["path"] for f in entry["files"] if f["partition"]["grp"] == "b"}
    assert files_before == files_after
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[0] == -1.0 and len(got) == 10


def test_merge_partition_value_change_no_duplicate(spark, tmp_path, base_df):
    """When partition columns are NOT merge keys, a source row may move a
    key to a different partition; the old row must be replaced, not
    stranded (partition pruning would duplicate the key — ADVICE r1)."""
    t = ManagedTable(spark, str(tmp_path / "mpc"))
    t.write(base_df, partition_by=["grp"])
    src = spark.createDataFrame([Row(id=0, grp="b", val=99.0)])  # id 0 was grp=a
    t.merge(src, ["id"])
    entry = t._entry()
    assert entry["pruned"] is False  # grp not a merge key -> no partition pruning
    got = t.read().filter(F.col("id") == 0).collect()
    assert len(got) == 1 and got[0]["grp"] == "b" and got[0]["val"] == 99.0
    assert t.read().count() == 10


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_partition_value_normalization_bool_and_escapes(spark, tmp_path):
    """Partition-value comparisons must normalize both sides: Spark writes
    flag=true (lowercase) and percent-escapes special chars; str(True) or
    the raw escaped dir value would never match (ADVICE r1)."""
    t = ManagedTable(spark, str(tmp_path / "pn"))
    df = spark.createDataFrame(
        [Row(id=i, flag=(i % 2 == 0), val=float(i)) for i in range(10)]
    )
    t.write(df, partition_by=["flag"])
    # '=' on the boolean partition column: prunes to the right partition
    assert t.scan([("flag", "=", True)]).count() == 5
    assert t.scan([("flag", "=", False)]).count() == 5
    # delete actually removes the matching partition's rows
    t.delete_where([("flag", "=", True)])
    assert t.read().count() == 5
    assert t.read().filter(F.col("flag")).count() == 0
    # merge keyed on the boolean partition column: normalized pruning works
    src = spark.createDataFrame([Row(id=1, flag=False, val=-1.0)])
    t.merge(src, ["flag", "id"])
    assert t._entry()["pruned"] is True
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[1] == -1.0 and len(got) == 5

    # escaped string partition values (':' percent-escaped in dir names)
    t2 = ManagedTable(spark, str(tmp_path / "pe"))
    t2.write(
        spark.createDataFrame(
            [Row(id=0, k="x:y", val=1.0), Row(id=1, k="plain", val=2.0)]
        ),
        partition_by=["k"],
    )
    assert t2.scan([("k", "=", "x:y")]).count() == 1
    t2.delete_where([("k", "=", "x:y")])
    assert {r["k"] for r in t2.read().collect()} == {"plain"}


def test_merge_source_evaluated_once(spark, tmp_path, base_df):
    """The merge source plan must be computed once (persisted before the
    pruning aggregate), not re-run per consumer — an expensive mart source
    would otherwise execute twice (VERDICT r1 #4)."""
    t = ManagedTable(spark, str(tmp_path / "m1x"))
    t.write(base_df)

    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for row in it:
            acc.add(1)
            yield row

    # an "expensive" source: every source-row materialization bumps the
    # accumulator, so N source rows evaluated once => acc == N
    src = spark.createDataFrame(
        spark.createDataFrame(
            [Row(id=1, grp="b", val=9.0), Row(id=77, grp="n", val=7.0)]
        ).rdd.mapPartitions(bump),
        "id long, grp string, val double",
    )
    t.merge(src, ["id"])
    assert acc.value == 2, f"source evaluated {acc.value / 2:.1f}x, expected once"
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[1] == 9.0 and got[77] == 7.0 and len(got) == 11


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_merge_in_batches(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "mb"))
    t.write(base_df)
    src = spark.createDataFrame(
        [Row(id=i, grp="u", val=float(-i)) for i in range(0, 20)]
    )
    versions = t.merge_in_batches(src, ["id"], n_batches=3)
    assert len(versions) == 3
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert len(got) == 20 and all(got[i] == float(-i) for i in range(20))


def test_optimize_compacts_and_sorts(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "o"))
    df = spark.range(1000).withColumn("k", F.pmod("id", F.lit(7)))
    t.write(df.repartition(16))
    assert t.detail()["num_files"] >= 8
    t.optimize()
    assert t.detail()["num_files"] == 1
    assert t.read().count() == 1000
    t.optimize(sort_by=["k"])
    assert t.history()[0]["operation"] == "zorder"
    assert t.read().count() == 1000


def test_optimize_bin_packs_only_undersized_files(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "bp"))
    t.write(spark.range(1000).repartition(8))
    before = {f["path"] for f in t._entry()["files"]}
    v = t.latest_version()
    # every file is already at/above a 1-byte target: provable no-op,
    # no commit, no rewrite (100 TB tables must not rewrite good files)
    assert t.optimize(target_file_bytes=1) == v
    assert {f["path"] for f in t._entry()["files"]} == before
    # a realistic target compacts the small files into one
    t.optimize()
    assert t.detail()["num_files"] == 1
    assert t.read().count() == 1000


def test_vacuum_drops_old_versions(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "v"))
    t.write(base_df)
    t.write(base_df.filter("id < 3"), mode="overwrite")
    deleted = t.vacuum()
    assert deleted > 0
    assert t.read().count() == 3  # latest unaffected
    with pytest.raises(Exception):
        t.read(version=0).count()  # pre-vacuum version gone


def test_high_water_mark_and_anti_join_append(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "hwm"))
    df = spark.createDataFrame(
        [Row(d=datetime.date(2024, 1, i), x=i) for i in range(1, 6)]
    )
    t.write(df)
    assert high_water_mark(t, "d") == datetime.date(2024, 1, 5)
    src = spark.createDataFrame(
        [Row(d=datetime.date(2024, 1, i), x=-i) for i in range(4, 9)]
    )
    anti_join_append(t, src, ["d"])
    got = {r["d"].day: r["x"] for r in t.read().collect()}
    # existing dates 4,5 kept original values; 6-8 appended
    assert got[4] == 4 and got[5] == 5 and got[8] == -8 and len(got) == 8


def test_empty_write_and_read(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "e"))
    t.write(base_df.filter("id < 0"))
    assert t.read().count() == 0
    assert t.read().schema == base_df.schema


def test_create_view_sql_access(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "sqlv"))
    t.write(base_df)
    t.create_view("managed_base")
    got = spark.sql("SELECT grp, COUNT(*) AS n FROM managed_base GROUP BY grp")
    assert {(r["grp"], r["n"]) for r in got.collect()} == {("a", 5), ("b", 5)}


def test_stats_pruned_scan_and_zorder_skipping(spark, tmp_path):
    """Data skipping: after sort-clustering, a selective predicate must
    prune most files BY METADATA (the deterministic form of the reference's
    Z-order scan speedup) while returning exactly the right rows."""
    t = ManagedTable(spark, str(tmp_path / "sk"))
    df = spark.range(10_000).withColumn("v", F.pmod(F.col("id") * 7919, F.lit(10_000)))
    # unclustered: v is scattered, every file covers ~the full v range
    t.write(df.repartition(16))
    survive_before, total_before = t.pruned_file_count([("v", "<=", 100)])
    assert total_before == 16 and survive_before == 16  # no skipping possible

    # re-cluster on v into many small files: each now covers a narrow v range
    t.optimize(sort_by=["v"], target_file_bytes=8 * 1024)
    survive, total = t.pruned_file_count([("v", "<=", 100)])
    assert total > 4 and survive < total / 2  # most files provably skipped

    got = t.scan([("v", "<=", 100)])
    want = df.filter(F.col("v") <= 100)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )


def test_scan_partition_value_pruning(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "pv"))
    t.write(base_df, partition_by=["grp"])
    got = t.scan([("grp", "=", "a"), ("id", ">=", 2)])
    assert {r["id"] for r in got.collect()} == {2, 4, 6, 8}


def test_concurrent_write_detected(spark, tmp_path, base_df):
    """Two writers racing to the same version: the loser must fail loudly,
    never silently clobber (single-writer commit-log contract)."""
    from delta_lake_spark.tables import ConcurrentWriteError

    from unittest import mock

    t1 = ManagedTable(spark, str(tmp_path / "cw"))
    t1.write(base_df)
    t2 = ManagedTable(spark, str(tmp_path / "cw"))
    entry = t2._entry()
    t1.write(base_df.filter("id < 5"), mode="overwrite")  # racer lands v1
    # t2 still believes v0 is latest -> its commit targets v1, which exists
    with mock.patch.object(t2, "latest_version", return_value=0):
        with pytest.raises(ConcurrentWriteError):
            t2._commit({**entry, "operation": "overwrite"})
    assert t1.read().count() == 5  # racer's committed state intact


def test_schema_evolution_merge_schema(spark, tmp_path, base_df):
    """SURVEY.md §1.4: schema drift on append fails without merge_schema;
    with it, new columns evolve in and old rows read back as null."""
    t = ManagedTable(spark, str(tmp_path / "se"))
    t.write(base_df)
    evolved = base_df.withColumn("extra", F.col("id") * 2).withColumn(
        "id", F.col("id") + 100
    )
    with pytest.raises(ValueError, match="merge_schema"):
        t.write(evolved, mode="append")
    t.write(evolved, mode="append", merge_schema=True)
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["id", "grp", "val", "extra"]
    by_id = {r["id"]: r["extra"] for r in got.collect()}
    assert by_id[0] is None and by_id[100] == 0 and by_id[105] == 10
    # type conflicts always fail
    bad = base_df.withColumn("val", F.col("val").cast("string"))
    with pytest.raises(ValueError, match="type conflict"):
        t.write(bad, mode="append", merge_schema=True)


def test_merge_file_stats_pruned(spark, tmp_path):
    """Unpartitioned but key-clustered table: a narrow-key merge must carry
    most files over by reference (file-level stats pruning) and still apply
    every merge shape correctly."""
    t = ManagedTable(spark, str(tmp_path / "fsp"))
    t.write(spark.range(10_000).withColumn("val", F.col("id") * 10))
    t.optimize(sort_by=["id"], target_file_bytes=8 * 1024)  # cluster on id
    total_files = t.detail()["num_files"]
    assert total_files > 4

    # narrow key range: bounds [5,7] intersect one clustered file
    src = spark.createDataFrame([(5, -5), (7, -7)], "id long, val long")
    t.merge(src, ["id"])
    entry = t._entry()
    assert entry["skipped_files"] > total_files / 2  # most files untouched
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[5] == -5 and got[7] == -7
    assert len(got) == 10_000 and got[9_999] == 99_990

    # insert-only against a kept-file key must NOT duplicate (disjointness
    # guarantee: kept files can't contain any source key)
    src2 = spark.createDataFrame([(5, 1), (20_000, 2)], "id long, val long")
    t.merge(src2, ["id"], when_matched="ignore")
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[5] == -5 and got[20_000] == 2 and len(got) == 10_001


def test_changes_feed(spark, tmp_path, base_df):
    """Change feed: file-diff between versions yields exactly the appended
    rows; a merge surfaces the post-image of its rewritten scope."""
    t = ManagedTable(spark, str(tmp_path / "cf"))
    v0 = t.write(base_df)
    b1 = spark.createDataFrame([Row(id=100, grp="c", val=1.0)])
    t.write(b1, mode="append")
    b2 = spark.createDataFrame([Row(id=101, grp="c", val=2.0)])
    v2 = t.write(b2, mode="append")
    got = {r["id"] for r in t.changes(v0).collect()}
    assert got == {100, 101}
    assert {r["id"] for r in t.changes(v0, v2 - 1).collect()} == {100}

    t.merge(spark.createDataFrame([Row(id=0, grp="a", val=-1.0)]), ["id"])
    post = {r["id"]: r["val"] for r in t.changes(v2).collect()}
    assert post[0] == -1.0  # post-image of the upserted key is visible


def test_delete_and_update_where(spark, tmp_path):
    """DML delete/update with file pruning on a clustered table."""
    t = ManagedTable(spark, str(tmp_path / "dml"))
    t.write(spark.range(1000).withColumn("val", F.col("id") * 2))
    t.optimize(sort_by=["id"], target_file_bytes=2 * 1024)
    total = t.detail()["num_files"]
    assert total > 3

    t.delete_where([("id", ">=", 10), ("id", "<", 20)])
    entry = t._entry()
    assert entry["operation"] == "delete" and entry["skipped_files"] > 0
    ids = {r["id"] for r in t.read().collect()}
    assert len(ids) == 990 and not (set(range(10, 20)) & ids)

    t.update_where([("id", "<", 5)], {"val": F.lit(-1)})
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert all(got[i] == -1 for i in range(5)) and got[100] == 200
    assert t._entry()["operation"] == "update" and t._entry()["skipped_files"] > 0


def test_zorder_skips_on_every_clustered_column(spark, tmp_path):
    """True Z-curve clustering: after zorder_by(x, y), selective filters on
    EITHER column must prune files — the property a linear sort gives only
    its leading column."""
    n = 20_000
    df = (
        spark.range(n)
        .withColumn("x", F.pmod(F.col("id") * 7919, F.lit(n)))
        .withColumn("y", F.pmod(F.col("id") * 104729, F.lit(n)))
    )
    lin = ManagedTable(spark, str(tmp_path / "lin"))
    lin.write(df)
    lin.optimize(sort_by=["x", "y"], target_file_bytes=16 * 1024)
    z = ManagedTable(spark, str(tmp_path / "z"))
    z.write(df)
    z.optimize(zorder_by=["x", "y"], target_file_bytes=16 * 1024)

    # leading column: both layouts skip
    sx, tx = z.pruned_file_count([("x", "<=", 500)])
    assert sx < tx / 2
    # trailing column: only the z-order layout skips
    lsy, lty = lin.pruned_file_count([("y", "<=", 500)])
    zsy, zty = z.pruned_file_count([("y", "<=", 500)])
    assert lsy == lty  # linear sort: y scattered, nothing provably skipped
    assert zsy < zty * 3 // 4  # z-order: y-filter prunes files too

    # correctness: scan returns exactly the filtered rows
    got = sorted(r["id"] for r in z.scan([("y", "<=", 500)]).collect())
    want = sorted(r["id"] for r in df.filter(F.col("y") <= 500).collect())
    assert got == want


def test_zorder_on_date_column(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "zd"))
    df = spark.range(5000).select(
        "id",
        F.date_add(F.lit("2020-01-01"), F.pmod(F.col("id") * 37, F.lit(5000)).cast("int")).alias("d"),
    )
    t.write(df)
    t.optimize(zorder_by=["d"], target_file_bytes=8 * 1024)
    import datetime

    s, total = t.pruned_file_count([("d", "<=", datetime.date(2020, 3, 1))])
    assert s < total / 2
    got = t.scan([("d", "<=", datetime.date(2020, 3, 1))]).count()
    assert got == df.filter(F.col("d") <= "2020-03-01").count()
    # strings are now z-orderable (prefix-stripped byte projection);
    # a constant string column degrades gracefully (span 0 -> bucket 0)
    t2 = ManagedTable(spark, str(tmp_path / "zs"))
    t2.write(df.withColumn("s", F.lit("x")))
    t2.optimize(zorder_by=["s", "d"], target_file_bytes=8 * 1024)
    assert t2.read().count() == 5000


def test_zorder_four_columns_no_sign_bit(spark, tmp_path):
    """With 4+ z-order columns the per-column bit width must shrink so no
    bit lands on the long's sign bit (which would make z-values negative
    and break the clustering order — ADVICE r1); every clustered column
    still prunes."""
    n = 20_000
    df = (
        spark.range(n)
        .withColumn("a", F.pmod(F.col("id") * 7919, F.lit(n)))
        .withColumn("b", F.pmod(F.col("id") * 104729, F.lit(n)))
        .withColumn("c", F.pmod(F.col("id") * 1299709, F.lit(n)))
        .withColumn("d", F.pmod(F.col("id") * 15485863, F.lit(n)))
    )
    t = ManagedTable(spark, str(tmp_path / "z4"))
    t.write(df)
    t.optimize(zorder_by=["a", "b", "c", "d"], target_file_bytes=16 * 1024)
    total = t.detail()["num_files"]
    assert total >= 16
    for colname in ["a", "b", "c", "d"]:
        live, tot = t.pruned_file_count([(colname, "<=", n // 8)])
        assert live < tot, f"{colname} filter pruned nothing"
    got = sorted(r["id"] for r in t.scan([("d", "<=", 100)]).collect())
    want = sorted(r["id"] for r in df.filter(F.col("d") <= 100).collect())
    assert got == want


def test_zorder_boolean_column(spark, tmp_path):
    """Booleans are z-orderable (the reference Z-orders is_suspicious,
    deltalake.ipynb:8399): a selective boolean filter prunes files."""
    n = 10_000
    df = (
        spark.range(n)
        .withColumn("d", F.pmod(F.col("id") * 7919, F.lit(n)))
        .withColumn("flag", F.pmod(F.col("id") * 104729, F.lit(10)) == 0)
    )
    t = ManagedTable(spark, str(tmp_path / "zb"))
    t.write(df)
    t.optimize(zorder_by=["d", "flag"], target_file_bytes=16 * 1024)
    live, total = t.pruned_file_count([("flag", "=", True)])
    assert live < total  # ~10% true rows cluster into a subset of files
    assert t.scan([("flag", "=", True)]).count() == df.filter("flag").count()


def test_commit_log_checkpointing_o_tail(spark, tmp_path, base_df):
    """Log entries are add/remove deltas (O(changed files), not O(table));
    a full checkpoint lands every _CHECKPOINT_INTERVAL commits; snapshot
    reconstruction replays only the tail past the nearest checkpoint
    (VERDICT r1 missing-#3)."""
    from delta_lake_spark.tables.managed import _CHECKPOINT_INTERVAL

    t = ManagedTable(spark, str(tmp_path / "ck"))
    t.write(base_df)
    entry0 = t._entry()
    files = list(entry0["files"])
    n = 35
    # synthetic metadata-only commits: exercises the log at a commit count
    # where O(all-history) replay would be visible, without 35 Spark writes
    for i in range(1, n + 1):
        files = files + [
            {
                "path": f"c{i:06d}-x/part-{i}.parquet",
                "size": 1,
                "partition": {},
                "stats": {},
            }
        ]
        t._commit(
            {
                "operation": "append",
                "files": list(files),
                "partition_by": [],
                "schema": entry0["schema"],
                "num_files": len(files),
                "added_files": 1,
            }
        )
    assert t.latest_version() == n
    # the delta entry records exactly the 1 added file, no snapshot copy
    raw = t._raw_entry(n)
    assert "files" not in raw
    assert len(raw["add"]) == 1 and raw["remove"] == []
    # checkpoints at every interval boundary
    assert t._checkpoint_versions() == [
        v for v in range(1, n + 1) if v % _CHECKPOINT_INTERVAL == 0
    ]
    # a fresh handle (cold cache) reads checkpoint + tail, not all history
    t2 = ManagedTable(spark, t.path)
    reads = {"n": 0}
    orig = t2._raw_entry
    t2._raw_entry = lambda v: (reads.__setitem__("n", reads["n"] + 1), orig(v))[1]
    snap = t2._entry()
    assert len(snap["files"]) == len(files)
    assert reads["n"] <= _CHECKPOINT_INTERVAL
    # mid-range reconstruction and time travel stay exact
    assert len(t2._entry(7)["files"]) == len(entry0["files"]) + 7
    assert t.read(version=0).count() == 10


def test_changes_skips_optimize_and_surfaces_deletes(spark, tmp_path, base_df):
    """OPTIMIZE rewrites files without a logical change — the change feed
    must emit nothing for it (ADVICE r1); include_change_type surfaces
    delete pre-images and update pre/post pairs (VERDICT r1 next-#10)."""
    t = ManagedTable(spark, str(tmp_path / "cdf"))
    v0 = t.write(base_df)
    t.optimize()
    assert t.changes(v0).count() == 0  # compaction-only range: no changes
    v_opt = t.latest_version()

    t.delete_where([("id", "<", 3)])
    ch = t.changes(v_opt, include_change_type=True)
    dels = {r["id"] for r in ch.filter("_change_type = 'delete'").collect()}
    assert dels == {0, 1, 2}

    v_del = t.latest_version()
    t.update_where([("id", "=", 5)], {"val": F.lit(99.0)})
    ch2 = t.changes(v_del, include_change_type=True).collect()
    pre = [r for r in ch2 if r["_change_type"] == "delete" and r["id"] == 5]
    post = [r for r in ch2 if r["_change_type"] == "insert" and r["id"] == 5]
    assert pre and pre[0]["val"] == 5.0  # pre-image
    assert post and post[0]["val"] == 99.0  # post-image
    # rows untouched by the update cancel out of the delete side entirely
    assert all(r["id"] == 5 for r in ch2 if r["_change_type"] == "delete")


def test_vacuum_retention_window(spark, tmp_path, base_df):
    """vacuum(retain_hours=h) keeps every snapshot committed within the
    window — time travel there still works; the 0-hour default keeps only
    the latest (the pre-existing behavior)."""
    t = ManagedTable(spark, str(tmp_path / "vr"))
    t.write(base_df)
    t.write(base_df.filter("id < 3"), mode="overwrite")
    assert t.vacuum(retain_hours=1.0) == 0  # both commits are recent
    assert t.read(version=0).count() == 10
    assert t.vacuum() > 0  # RETAIN 0: only latest survives
    assert t.read().count() == 3
    with pytest.raises(Exception):
        t.read(version=0).count()


def test_conditional_merge_partitioned_and_validation(spark, tmp_path):
    """Conditional clauses compose with partition-pruned merge; invalid
    clause combinations are rejected up front."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(10)],
        "id long, grp string, val double",
    )
    t = ManagedTable(spark, str(tmp_path / "cm"))
    t.write(df, partition_by=["grp"])
    src = spark.createDataFrame(
        [(0, "a", 100.0), (1, "b", 0.5), (20, "a", -1.0)],
        "id long, grp string, val double",
    )
    # newer-wins update on (id, grp): id=0 updates (100 > 0), id=1 keeps
    # target (0.5 < 1.0), id=20 fails the insert condition
    t.merge(
        src,
        ["id", "grp"],
        matched_condition="s.val > t.val",
        not_matched_condition="s.val >= 0",
    )
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[0] == 100.0 and got[1] == 1.0 and 20 not in got
    assert len(got) == 10

    with pytest.raises(ValueError, match="merge keys"):
        t.merge(src, ["id"], update_set={"id": F.lit(1)})
    with pytest.raises(ValueError, match="update_set implies"):
        t.merge(src, ["id"], when_matched="delete", update_set={"val": F.lit(1.0)})
    with pytest.raises(ValueError, match="no-op"):
        t.merge(src, ["id"], when_matched="ignore", matched_condition="s.val > 0")


def test_table_catalog_persists_across_sessions(spark, tmp_path, base_df):
    """K8 parity: the reference registers zone tables in a metastore so any
    session can query them by name (CREATE SCHEMA + CREATE TABLE ... USING
    DELTA LOCATION, deltalake.ipynb:1046-1060). The registry is plain files
    — a FRESH session (separate temp-view namespace) re-attaches and
    queries by name."""
    from delta_lake_spark.tables import TableCatalog

    cat = TableCatalog(str(tmp_path / "wh"))
    cat.create_schema("gold")
    cat.create_table(spark, "gold.clients", df=base_df)
    ext = ManagedTable(spark, str(tmp_path / "external"))
    ext.write(base_df.filter("id < 3"))
    cat.register("extern", ext.path)  # default schema, existing location
    assert cat.tables() == ["default.extern", "gold.clients"]

    # brand-new session: empty temp-view namespace, fresh registry handle
    s2 = spark.newSession()
    cat2 = TableCatalog(str(tmp_path / "wh"))
    views = cat2.attach(s2)
    assert views == ["extern", "gold_clients"]
    assert s2.sql("SELECT count(*) AS n FROM gold_clients").first()["n"] == 10
    assert s2.sql("SELECT count(*) AS n FROM extern").first()["n"] == 3
    # the registered name round-trips to the full ManagedTable surface
    assert cat2.table(s2, "gold.clients").history()[0]["operation"] == "overwrite"

    cat2.drop_table("default.extern")
    assert cat2.tables() == ["gold.clients"]
    with pytest.raises(KeyError):
        cat2.location("extern")


def test_blind_append_retries_past_conflict(spark, tmp_path, base_df):
    """Optimistic concurrency: a blind append that loses the version race
    rebases onto the winner's snapshot (Delta WriteSerializable — appends
    never conflict), keeping BOTH writers' rows."""
    from delta_lake_spark.tables import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "oc"))
    t.write(base_df)  # 10 rows
    t2 = ManagedTable(spark, str(tmp_path / "oc"))

    orig = t._commit
    raced = {"done": False}

    def racing_commit(entry):
        if not raced["done"]:
            raced["done"] = True
            # competitor lands an append between our prep and commit
            t2.write(
                spark.createDataFrame([Row(id=500, grp="z", val=0.5)]),
                mode="append",
            )
        return orig(entry)

    t._commit = racing_commit
    v = t.write(
        spark.createDataFrame([Row(id=600, grp="z", val=0.6)]), mode="append"
    )
    assert v == 2  # retried at the next version
    ids = {r["id"] for r in t.read().collect()}
    assert {500, 600}.issubset(ids) and len(ids) == 12  # nobody's rows lost

    # a competing partition-layout change is NOT retryable: files were
    # already laid out under the old layout
    raced["done"] = False

    def relayout_commit(entry):
        if not raced["done"]:
            raced["done"] = True
            t2.write(t2.read(), mode="overwrite", partition_by=["grp"])
        return orig(entry)

    t._commit = relayout_commit
    with pytest.raises(ConcurrentWriteError, match="layout metadata"):
        t.write(
            spark.createDataFrame([Row(id=700, grp="z", val=0.7)]), mode="append"
        )


def test_apply_changes_replicates_source(spark, tmp_path, base_df):
    """CDC propagation: replaying the change feed (inserts + delete
    pre-images) onto a downstream replica keeps it equal to the source
    through append, upsert, delete, and compaction — the streaming-consumer
    delete case from the CDF surface, end-to-end."""
    from delta_lake_spark.tables import apply_changes

    src = ManagedTable(spark, str(tmp_path / "cdc_src"))
    dst = ManagedTable(spark, str(tmp_path / "cdc_dst"))
    src.write(base_df)
    dst.write(src.read())  # initial snapshot
    seen = src.latest_version()

    src.write(spark.createDataFrame([Row(id=100, grp="c", val=1.0)]), mode="append")
    src.merge(spark.createDataFrame([Row(id=0, grp="a", val=-1.0)]), ["id"])
    src.delete_where([("id", "=", 3)])
    src.optimize()  # compaction must propagate nothing

    seen = apply_changes(dst, src, ["id"], seen)
    assert seen == src.latest_version()
    assert rows(dst.read()) == rows(src.read())
    assert {r["id"] for r in dst.read().collect()} == ({100} | set(range(10)) - {3})

    # no-op when already caught up; idempotent on replay from an older cursor
    assert apply_changes(dst, src, ["id"], seen) == seen
    apply_changes(dst, src, ["id"], 0)
    assert rows(dst.read()) == rows(src.read())


def test_apply_changes_interleaved_compaction_degraded(spark, tmp_path, base_df):
    """A non-compaction commit rewriting a compaction OUTPUT inside the
    range loses file-level lineage; the feed degrades to a sound
    post-image diff and CDC replication still converges."""
    from delta_lake_spark.tables import apply_changes

    src = ManagedTable(spark, str(tmp_path / "dg_src"))
    dst = ManagedTable(spark, str(tmp_path / "dg_dst"))
    src.write(base_df)
    dst.write(src.read())
    seen = src.latest_version()

    src.write(spark.createDataFrame([Row(id=50, grp="c", val=5.5)]), mode="append")
    src.optimize()  # mid-range compaction
    src.delete_where([("id", "<", 2)])  # rewrites the compaction's output

    seen = apply_changes(dst, src, ["id"], seen)
    assert seen == src.latest_version()
    assert rows(dst.read()) == rows(src.read())


def test_restore_to_old_version(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "r"))
    t.write(spark.range(10).withColumn("x", F.col("id") * 2))
    t.write(spark.range(5).withColumn("x", F.col("id") * 3))  # v1 overwrite
    v = t.restore(0)
    assert v == 2
    assert sorted(r.x for r in t.read().collect()) == [i * 2 for i in range(10)]
    # restore is a real commit: history preserved, CDF diff visible
    assert t.history()[0]["operation"] == "restore"
    ch = t.changes(from_version=1)  # the restore commit's diff
    assert ch.count() == 10
    # time travel still sees the pre-restore state
    assert t.read(version=1).count() == 5


def test_restore_after_vacuum_fails(spark, tmp_path):
    import pytest

    t = ManagedTable(spark, str(tmp_path / "rv"))
    t.write(spark.range(10))
    t.write(spark.range(3))
    assert t.vacuum() > 0  # drops v0's files
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.restore(0)


def test_shallow_clone_is_independent(spark, tmp_path):
    src = ManagedTable(spark, str(tmp_path / "src"))
    src.write(spark.range(100).withColumn("part", F.pmod("id", F.lit(4))),
              partition_by=["part"])
    dst = src.clone(str(tmp_path / "dst"))
    assert dst.read().count() == 100
    assert dst._entry().get("partition_by") == ["part"]
    # no data copied: every cloned parquet shares its inode with the source
    import os as _os

    for f in dst._entry()["files"]:
        assert _os.stat(_os.path.join(dst.path, f["path"])).st_nlink >= 2
    # diverge the clone; the source must not change
    dst.write(spark.range(5), mode="overwrite")
    assert src.read().count() == 100
    # vacuum the source: the clone's (linked) files must survive
    src.write(spark.range(1))
    src.vacuum()
    assert dst.read(version=0).count() == 100


def test_check_constraints(spark, tmp_path):
    import pytest

    t = ManagedTable(spark, str(tmp_path / "ck"))
    t.write(spark.range(10).withColumn("amount", F.col("id") * 10))
    t.add_constraint("amount_nonneg", "amount >= 0")
    assert t.constraints() == {"amount_nonneg": "amount >= 0"}
    # violating append fails before any commit
    v = t.latest_version()
    with pytest.raises(ValueError, match="amount_nonneg"):
        t.write(spark.range(1).withColumn("amount", F.lit(-5).cast("long")), mode="append")
    assert t.latest_version() == v
    # conforming append passes; constraint survives the commit
    t.write(spark.range(1).withColumn("amount", F.lit(7).cast("long")), mode="append")
    assert t.constraints() == {"amount_nonneg": "amount >= 0"}
    # NULL predicate results are violations (must provably hold)
    with pytest.raises(ValueError, match="amount_nonneg"):
        t.write(
            spark.range(1).withColumn("amount", F.lit(None).cast("long")),
            mode="append",
        )
    # merge source is gated too
    with pytest.raises(ValueError, match="merge source"):
        t.merge(spark.range(1).withColumn("amount", F.lit(-1).cast("long")), keys=["id"])
    # adding a constraint the existing data violates fails
    with pytest.raises(ValueError, match="existing"):
        t.add_constraint("small", "amount < 50")
    t.drop_constraint("amount_nonneg")
    assert t.constraints() == {}
    t.write(spark.range(1).withColumn("amount", F.lit(-5).cast("long")), mode="append")


def test_merge_with_retry_survives_version_race(spark, tmp_path, monkeypatch):
    import pytest

    from delta_lake_spark.tables.managed import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "mr"))
    t.write(spark.range(10).withColumn("v", F.lit(0).cast("long")))
    src = spark.range(5, 15).withColumn("v", F.lit(1).cast("long"))

    # first merge attempt loses the race (simulated competing commit);
    # the retry re-reads the new snapshot and succeeds
    real_commit = ManagedTable._commit
    fails = {"left": 1}

    def flaky_commit(self, entry):
        if fails["left"] and entry.get("operation") == "merge":
            fails["left"] -= 1
            # a competitor appends and wins the version
            real_commit(
                self,
                {
                    "operation": "append",
                    "files": self._entry()["files"],
                    "partition_by": [],
                    "schema": self._entry()["schema"],
                },
            )
            raise ConcurrentWriteError("simulated race")
        return real_commit(self, entry)

    monkeypatch.setattr(ManagedTable, "_commit", flaky_commit)
    t.merge_with_retry(src, ["id"])
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 15 and got[0] == 0 and got[14] == 1 and got[7] == 1

    # exhausted retries re-raise
    fails["left"] = 99
    with pytest.raises(ConcurrentWriteError):
        t.merge_with_retry(src, ["id"], max_retries=2)


@pytest.mark.parametrize(
    "op", ["merge", "delete_where", "optimize", "analyze", "write_append"]
)
def test_commit_against_read_version_never_drops_a_racing_append(
    spark, tmp_path, base_df, monkeypatch, op
):
    """Every operation commits against the snapshot version it read: a
    5-row append that lands while the operation runs is never silently
    dropped.  The append touches none of the files or keys merge,
    delete_where, optimize and a blind append read, so each rebases over
    it: it commits once, after the racer, with both writers' changes.
    analyze declares no conflict test, so it raises ConcurrentWriteError."""
    from delta_lake_spark import quality
    from delta_lake_spark.tables import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "lu"))
    t.write(base_df)  # ids 0..9
    racer = ManagedTable(spark, t.path)
    race = {"armed": 1, "next_id": 1000}

    def append_after(fn):
        # the competing writer commits right after this call returns
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            if race["armed"]:
                race["armed"] -= 1
                lo = race["next_id"]
                race["next_id"] += 5
                racer.write(
                    spark.createDataFrame(
                        [Row(id=i, grp="r", val=0.0) for i in range(lo, lo + 5)]
                    ),
                    mode="append",
                )
            return out

        return wrapped

    if op == "analyze":
        monkeypatch.setattr(quality, "profile", append_after(quality.profile))
    else:
        monkeypatch.setattr(t, "_write_commit_dir", append_after(t._write_commit_dir))
    upsert = spark.createDataFrame([Row(id=0, grp="a", val=-1.0)])
    run = {
        "merge": lambda: t.merge(upsert, ["id"]),
        "delete_where": lambda: t.delete_where([("id", "=", 3)]),
        "optimize": lambda: t.optimize(sort_by=["id"]),
        "analyze": lambda: t.analyze(),
        "write_append": lambda: t.write(
            spark.createDataFrame([Row(id=600, grp="z", val=0.6)]), mode="append"
        ),
    }[op]
    base_files = {f["path"] for f in t._entry(0)["files"]}
    if op == "analyze":
        with pytest.raises(ConcurrentWriteError):
            run()
    else:
        assert run() == 2  # rebased past the racer's v1
        own = {"delete_where": "delete", "optimize": "zorder"}.get(op, op)
        assert [h["operation"] for h in t.history()] == [
            own.replace("write_", ""), "append", "overwrite"
        ]

    got = {r.id: r.val for r in t.read().collect()}
    assert set(range(1000, 1005)) <= set(got)  # the racer's rows survive
    if op == "write_append":
        assert set(got) == set(range(10)) | set(range(1000, 1005)) | {600}
    if op == "merge":
        assert got[0] == -1.0
    if op == "delete_where":
        assert set(got) == set(range(10)) - {3} | set(range(1000, 1005))
    if op == "optimize":  # the base files were rewritten, the racer's kept
        paths = {f["path"] for f in t._entry()["files"]}
        assert not paths & base_files
        assert paths & {f["path"] for f in t._entry(1)["files"]} - base_files

    if op in ("merge", "optimize"):
        race["armed"] = 1  # a second racing append is rebased over too
        if op == "merge":
            t.merge_with_retry(upsert, ["id"])
            assert t.history()[0]["operation"] == "merge"
        else:
            t.optimize_with_retry(sort_by=["id"])
            assert t.history()[0]["operation"] == "zorder"
        got = {r.id: r.val for r in t.read().collect()}
        assert set(got) == set(range(10)) | set(range(1000, 1010))
        assert got[0] == (-1.0 if op == "merge" else 0.0)
        assert t.read().count() == 20


def _race_after_commit_dir(monkeypatch, t, racer):
    """Run ``racer()`` once, right after ``t``'s operation writes its data."""
    real = t._write_commit_dir
    armed = [True]

    def wrapped(*args, **kwargs):
        out = real(*args, **kwargs)
        if armed:
            armed.pop()
            racer()
        return out

    monkeypatch.setattr(t, "_write_commit_dir", wrapped)


@pytest.mark.parametrize(
    "racer", ["delete", "dv", "append_key", "add_column", "bysource_append"]
)
def test_merge_raises_on_a_true_conflict(
    spark, tmp_path, base_df, monkeypatch, racer
):
    """A commit that lands while a merge runs and overlaps what the merge
    read still raises: it rewrote or deletion-vectored a file the merge
    rewrites, appended a key the merge source holds, or changed the
    schema; a by-source merge reads every row, so any racing append
    conflicts with it.  The racer's commit stays the head."""
    from delta_lake_spark.tables import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "mc"))
    t.write(base_df)
    other = ManagedTable(spark, t.path)
    _race_after_commit_dir(monkeypatch, t, {
        "delete": lambda: other.delete_where([("id", "=", 1)]),
        "dv": lambda: other.delete_where([("id", "=", 1)], mode="merge_on_read"),
        "append_key": lambda: other.write(
            spark.createDataFrame([Row(id=5, grp="r", val=0.0)]), mode="append"
        ),
        "add_column": lambda: other.add_column("extra", "int"),
        "bysource_append": lambda: other.write(
            spark.createDataFrame([Row(id=50, grp="r", val=0.0)]), mode="append"
        ),
    }[racer])
    src = spark.createDataFrame(
        [Row(id=0, grp="a", val=-1.0), Row(id=5, grp="b", val=-5.0)]
    )
    by_source = "delete" if racer == "bysource_append" else "ignore"
    with pytest.raises(ConcurrentWriteError, match="conflicts with version 1"):
        t.merge(src, ["id"], when_not_matched_by_source=by_source)
    assert t.latest_version() == 1
    ids = [r.id for r in t.read().collect()]
    if racer in ("delete", "dv"):
        assert sorted(ids) == [0, *range(2, 10)]
    elif racer == "append_key":
        assert sorted(ids) == [*range(6), *range(5, 10)]
    elif racer == "bysource_append":
        assert sorted(ids) == [*range(10), 50]
    else:
        assert t.schema().names == ["id", "grp", "val", "extra"]


@pytest.mark.parametrize(
    "mode,racer",
    [
        ("append", "constraint"),
        ("overwrite", "constraint"),
        ("overwrite", "overwrite"),
        ("overwrite", "append"),
    ],
)
def test_write_racing_a_commit(spark, tmp_path, base_df, monkeypatch, mode, racer):
    """A write commits against the snapshot it validated and laid its data
    out under.  A racer that adds a CHECK constraint the data violates, or
    overwrites the same files, makes it raise; a racing append is kept
    under an overwrite (Delta's WriteSerializable level)."""
    from delta_lake_spark.tables import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "wc"))
    t.write(base_df)
    other = ManagedTable(spark, t.path)

    def one_row(i):
        return spark.createDataFrame([Row(id=i, grp="z", val=0.0)])

    _race_after_commit_dir(monkeypatch, t, {
        "constraint": lambda: other.add_constraint("small", "id < 50"),
        "overwrite": lambda: other.write(one_row(200)),
        "append": lambda: other.write(one_row(300), mode="append"),
    }[racer])
    if racer == "append":
        assert t.write(one_row(100), mode=mode) == 2
        assert sorted(r.id for r in t.read().collect()) == [100, 300]
        return
    with pytest.raises(ConcurrentWriteError, match="conflicts with version 1"):
        t.write(one_row(100), mode=mode)
    ids = {r.id for r in t.read().collect()}
    if racer == "constraint":
        assert t.constraints() == {"small": "id < 50"} and ids == set(range(10))
    else:
        assert ids == {200}


def test_history_counts_match_snapshot_and_written_files(spark, tmp_path, base_df):
    """Every commit kind reports ``num_files == len(snapshot files)`` and
    ``added_files`` equal to the data files it wrote: 0 for bloom and
    metadata-only commits, only the new data files for a merge-on-read
    update (not the re-recorded DV'd files), the linked files for
    ``publish_from``."""
    import glob
    import os

    t = ManagedTable(spark, str(tmp_path / "hc"))
    t.write(base_df, partition_by=["grp"])
    t.write(base_df.limit(3), mode="append")
    t.merge(spark.createDataFrame([Row(id=0, grp="a", val=-1.0)]), ["id"])
    t.delete_where([("id", "=", 3)])
    t.update_where([("id", "=", 4)], {"val": F.lit(9.0)}, mode="merge_on_read")
    mor_update = t.latest_version()
    t.add_bloom_filters(["id"])
    t.analyze()
    t.set_property("owner", "x")
    t.enable_cdf()
    t.disable_cdf()
    t.set_auto_compact(enabled=False)
    t.set_optimize_write(True)
    t.add_constraint("id_nonneg", "id >= 0")
    t.drop_constraint("id_nonneg")
    t.add_column("extra", "int")
    t.set_column_default("extra", "7")
    t.drop_column_default("extra")
    t.rename_column("extra", "extra2")
    t.drop_column("extra2")
    t.set_clustering(["id"])
    t.set_partitioning(["grp"])
    t.enable_row_tracking()
    t.optimize()
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(spark.createDataFrame([Row(id=50, grp="a", val=5.0)]), mode="append")
    t.publish_from(stage)

    def written(v: int) -> int:
        # data files under this version's commit dirs (sidecars excluded)
        pattern = os.path.join(t.path, f"c{v:06d}-*", "**", "*.parquet")
        return sum(
            1
            for p in glob.glob(pattern, recursive=True)
            if "-cdc-" not in p and "-dv" not in p
        )

    hist = t.history()
    assert len(hist) == t.latest_version() + 1
    for h in hist:
        snap = t._entry(h["version"])
        assert h["num_files"] == len(snap["files"]), h
        assert h["added_files"] == written(h["version"]), h
    by_op = {h["operation"]: h for h in hist}
    assert by_op["bloom"]["added_files"] == 0
    assert by_op["set_property"]["added_files"] == 0
    mor = hist[-1 - mor_update]
    assert 0 < mor["added_files"] < len(t._raw_entry(mor_update)["add"])
    assert hist[0]["added_files"] == len(stage._entry()["files"]) > 0


def test_external_source_refresh_top_up_loop(spark, tmp_path):
    """S5 workflow (deltalake.ipynb:1495-1588): HWM -> injectable fetch ->
    pandas->Spark -> insert-only bronze append -> spine+ffill+lag silver
    rebuild.  Three contracts: initial load builds a complete spine,
    a top-up fetches only past-HWM rows and extends the spine, and a
    re-run with nothing new is a full no-op (idempotent)."""
    import datetime

    import pandas as pd

    from delta_lake_spark.tables import ManagedTable, external_source_refresh

    d = datetime.date
    # canned external source: daily rates with a weekend gap (6th-7th missing)
    full = pd.DataFrame(
        {
            "date": [d(2024, 1, 1), d(2024, 1, 2), d(2024, 1, 3), d(2024, 1, 5),
                     d(2024, 1, 8), d(2024, 1, 9)],
            "usd": [90.1, 90.5, 91.0, 91.4, 92.0, 91.8],
            "eur": [98.0, 98.2, 98.9, 99.5, 100.1, 99.9],
        }
    )
    calls = []

    def fetcher_upto(cutoff):
        def fetch(start):
            calls.append(start)
            win = full[full["date"] <= cutoff]
            if start is not None:
                win = win[win["date"] >= start]
            return win.reset_index(drop=True)
        return fetch

    bronze = ManagedTable(spark, str(tmp_path / "bronze"))
    silver = ManagedTable(spark, str(tmp_path / "silver"))

    # 1) initial load: everything through the 5th
    r1 = external_source_refresh(
        spark, bronze, silver, fetcher_upto(d(2024, 1, 5)), date_col="date"
    )
    assert calls[-1] is None and r1["hwm"] is None
    assert r1["fetched"] == 4 and r1["appended"] == 4 and r1["rebuilt"]
    s = silver.read().orderBy("date")
    rows = s.collect()
    assert [r.date for r in rows] == [d(2024, 1, 1 + i) for i in range(5)]  # spine
    jan4 = next(r for r in rows if r.date == d(2024, 1, 4))
    assert jan4.usd == 91.0 and jan4.eur == 98.9  # gap forward-filled
    jan2 = next(r for r in rows if r.date == d(2024, 1, 2))
    assert round(jan2.usd_change, 4) == 0.4  # lag delta

    # 2) top-up: source now has rows through the 9th
    r2 = external_source_refresh(
        spark, bronze, silver, fetcher_upto(d(2024, 1, 9)), date_col="date"
    )
    assert calls[-1] == d(2024, 1, 6)  # fetch window starts at HWM + 1 day
    assert r2["hwm"] == d(2024, 1, 5)
    assert r2["fetched"] == 2 and r2["appended"] == 2 and r2["rebuilt"]
    rows = silver.read().orderBy("date").collect()
    assert len(rows) == 9  # spine extended to the 9th
    jan7 = next(r for r in rows if r.date == d(2024, 1, 7))
    assert jan7.usd == 91.4  # weekend forward-filled from the 5th

    # 3) idempotent re-run: nothing past the HWM -> no append, no rebuild
    bronze_v = bronze.latest_version()
    silver_v = silver.latest_version()
    r3 = external_source_refresh(
        spark, bronze, silver, fetcher_upto(d(2024, 1, 9)), date_col="date"
    )
    assert r3["fetched"] == 0 and r3["appended"] == 0 and not r3["rebuilt"]
    assert bronze.latest_version() == bronze_v
    assert silver.latest_version() == silver_v

    # 4) overlap-sloppy fetcher (ignores start, resends everything): the
    # insert-only bronze append still dedups; silver state is unchanged
    r4 = external_source_refresh(
        spark, bronze, silver, lambda start: full, date_col="date"
    )
    assert r4["fetched"] == 6 and r4["appended"] == 0 and not r4["rebuilt"]
    assert bronze.read().count() == 6


def test_merge_partition_discovery_cap(spark, tmp_path, monkeypatch):
    """VERDICT r3: the partition-pruning collect must be bounded — a merge
    whose source touches an absurd number of distinct partition values
    fails fast with a layout diagnosis instead of flooding the driver."""
    import delta_lake_spark.tables.managed as managed
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "capped"))
    df = spark.range(20).withColumn("p", F.col("id") % 10).withColumn(
        "v", F.lit(1)
    )
    t.write(df, partition_by=["p"])

    monkeypatch.setattr(managed, "_PARTITION_DISCOVERY_CAP", 5)
    src = spark.range(20).withColumn("p", F.col("id") % 10).withColumn(
        "v", F.lit(2)
    )
    with pytest.raises(ValueError, match="distinct partition values"):
        t.merge(src, ["id", "p"])

    # under the cap: merge proceeds normally
    small = src.filter(F.col("p") < 3)
    t.merge(small, ["id", "p"])
    assert t.read().filter(F.col("v") == 2).count() == small.count()


def test_vacuum_time_travel_raises_clear_error(spark, tmp_path):
    """VERDICT r3 #9: reading a vacuumed version raises VacuumedVersionError
    at plan time (with remediation advice), not a Spark file-not-found
    mid-execution; the head and restore-guard keep working."""
    from delta_lake_spark.tables import ManagedTable, VacuumedVersionError

    t = ManagedTable(spark, str(tmp_path / "tt"))
    t.write(spark.range(10).withColumn("v", F.lit(1)))          # v0
    t.write(spark.range(10).withColumn("v", F.lit(2)))          # v1 (overwrite)
    assert t.read(version=0).first().v == 1  # time travel works pre-vacuum

    deleted = t.vacuum(retain_hours=0.0)
    assert deleted > 0

    with pytest.raises(VacuumedVersionError, match="retain_hours"):
        t.read(version=0)
    with pytest.raises(VacuumedVersionError, match="version 0"):
        t.scan([("v", "=", 1)], version=0)

    # head unaffected; history metadata still present
    assert t.read().first().v == 2
    assert len(t.history()) >= 2


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_concurrent_writers_across_processes(spark, tmp_path):
    """VERDICT r3 #5: the os.link commit protocol under REAL multi-process
    contention — two separate JVMs run conflicting full-upsert merges on the
    same 100 keys through merge_with_retry.  Contract: every version number
    is committed exactly once (link is put-if-absent), no commit is lost
    (1 seed + 6 merges = versions 0..6, and the one key unique to each
    merge is present with that merge's tag), retries converge, and the
    final state is some serializable order of the merges (one writer's tag,
    uniformly, on all shared rows)."""
    import subprocess
    import sys

    from delta_lake_spark.tables import ManagedTable

    path = str(tmp_path / "contended")
    sync = tmp_path / "sync"
    sync.mkdir()

    t = ManagedTable(spark, path)
    t.write(
        spark.range(100)
        .withColumn("v", F.lit("init"))
        .withColumn("writer", F.lit("init"))
    )  # v0

    child = str(__import__("pathlib").Path(__file__).parent / "concurrent_writer_child.py")
    n_merges = 3
    unique_base = {"A": 1000, "B": 2000}
    procs = [
        subprocess.Popen(
            [sys.executable, child, path, str(sync), tag, str(n_merges), str(unique_base[tag])],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in ("A", "B")
    ]
    # barrier: wait for both children's Spark sessions, then release together
    import time as _time

    deadline = _time.time() + 180
    while not all((sync / f"ready-{tag}").exists() for tag in ("A", "B")):
        assert _time.time() < deadline, "children failed to initialize Spark"
        for p in procs:
            assert p.poll() is None, p.communicate()[1][-2000:]
        _time.sleep(0.1)
    (sync / "go").touch()

    for p, tag in zip(procs, ("A", "B")):
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, f"writer {tag} failed:\n{err[-3000:]}"

    # exactly-once versions, nothing lost: 0 (seed) + 2 writers x 3 merges
    hist = t.history()
    versions = [h["version"] for h in hist]
    assert versions == list(range(2 * n_merges, -1, -1))
    assert len(set(versions)) == len(versions)
    assert sum(1 for h in hist if h["operation"] == "merge") == 2 * n_merges

    # no lost merge: each merge's unique key carries that merge's tag
    rows = t.read().collect()
    unique = {r.id: r.v for r in rows if r.id >= 100}
    assert unique == {
        unique_base[w] + i: f"{w}:{i}" for w in ("A", "B") for i in range(n_merges)
    }
    # serializability: the last-committed merge's tag is on EVERY shared row
    assert len(rows) == 100 + 2 * n_merges
    tags = {r.v for r in rows if r.id < 100}
    assert len(tags) == 1, f"torn final state: {tags}"
    assert tags.pop() in {f"{w}:{n_merges - 1}" for w in ("A", "B")}


def test_merge_schema_evolution(spark, tmp_path):
    """MERGE + merge_schema=True (Delta withSchemaEvolution, add-column
    case): new source columns append as nullable, untouched rows and
    carried-over files read back null, matched rows take source values;
    old versions keep the old schema; conflicts and missing columns raise."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "evo"))
    base = spark.range(10).withColumn("v", F.lit("old"))
    t.write(base, partition_by=None)

    evolved_src = (
        spark.range(5, 15)
        .withColumn("v", F.lit("new"))
        .withColumn("score", (F.col("id") * 10).cast("long"))
    )

    # without the flag: extra source columns are projected away, schema fixed
    t.merge(evolved_src, ["id"])
    assert t.schema().fieldNames() == ["id", "v"]

    # with the flag: schema evolves
    t.merge(evolved_src, ["id"], merge_schema=True)
    assert t.schema().fieldNames() == ["id", "v", "score"]
    rows = {r.id: r for r in t.read().collect()}
    assert len(rows) == 15
    assert rows[7].score == 70 and rows[7].v == "new"    # updated row
    assert rows[14].score == 140                          # inserted row
    assert rows[2].score is None and rows[2].v == "old"  # untouched: null fill
    # time travel: pre-evolution version keeps the old schema
    assert t.schema(version=1).fieldNames() == ["id", "v"]

    # same-name type conflict still raises
    bad = spark.range(3).withColumn("score", F.lit("not-a-number"))
    with pytest.raises(ValueError, match="type conflict"):
        t.merge(bad, ["id"], merge_schema=True)

    # source missing an existing column: evolution never drops/nulls data
    with pytest.raises(Exception):
        t.merge(spark.range(3).withColumn("score", F.lit(1).cast("long")), ["id"],
                merge_schema=True)


def test_merge_schema_evolution_pruned_partitions(spark, tmp_path):
    """Evolution + partition pruning: files in partitions the source never
    touches carry over BY REFERENCE (old physical schema) and must read
    back null for the new column under the evolved table schema."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "evop"))
    df = spark.range(20).withColumn("p", F.pmod("id", F.lit(4))).withColumn(
        "v", F.lit("old")
    )
    t.write(df, partition_by=["p"])

    src = (
        spark.range(20)
        .withColumn("p", F.pmod("id", F.lit(4)))
        .filter(F.col("p") == 1)
        .withColumn("v", F.lit("new"))
        .withColumn("flag", F.lit(True))
    )
    t.merge(src, ["id", "p"], merge_schema=True)
    d = t.detail()
    assert t.schema().fieldNames() == ["id", "p", "v", "flag"]
    out = {(r.id): r for r in t.read().collect()}
    assert len(out) == 20
    assert out[5].flag is True and out[5].v == "new"      # touched partition
    assert out[4].flag is None and out[4].v == "old"      # carried-over file


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """changes(include_change_type=True) spanning a schema-evolving merge:
    pre-images render under the evolved schema (new columns null), the
    exceptAll diff stays well-typed, and apply_changes-style consumers see
    the standard delete-preimage + insert-postimage pairs."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "cdc_evo"))
    t.write(spark.range(10).withColumn("v", F.lit("old")))                 # v0
    src = (
        spark.range(5, 12)
        .withColumn("v", F.lit("new"))
        .withColumn("score", (F.col("id") * 2).cast("long"))
    )
    t.merge(src, ["id"], merge_schema=True)                                 # v1

    ch = t.changes(0, include_change_type=True)
    assert set(ch.columns) == {"id", "v", "score", "_change_type"}
    post = {r.id: r for r in ch.filter(F.col("_change_type") == "insert").collect()}
    pre = {r.id: r for r in ch.filter(F.col("_change_type") == "delete").collect()}
    # post-images: every merged row surfaces with the evolved column set
    # (stats pruning may keep files for untouched ids out of the rewrite
    # scope, so only ids 5-11 are guaranteed present)
    for i in range(5, 12):
        assert post[i].v == "new" and post[i].score == i * 2
    # delete pre-images: the old images of the updated rows, rendered under
    # the evolved schema with the new column null-filled
    for i in range(5, 10):
        assert pre[i].v == "old" and pre[i].score is None
    assert set(pre) <= set(range(10))  # never a pre-image for fresh inserts


def test_apply_changes_propagates_schema_evolution(spark, tmp_path):
    """CDC propagation across an evolution boundary: after the source table
    gains a column via a schema-evolving merge, apply_changes must evolve
    the mirror too (not silently project the new column away) and land the
    exact source snapshot."""
    from delta_lake_spark.tables import ManagedTable
    from delta_lake_spark.tables.incremental import apply_changes

    src_t = ManagedTable(spark, str(tmp_path / "src"))
    mirror = ManagedTable(spark, str(tmp_path / "mirror"))

    src_t.write(spark.range(8).withColumn("v", F.lit("a")))               # v0
    last = apply_changes(mirror, src_t, ["id"], last_version=-1)
    assert rows(mirror.read()) == rows(src_t.read())

    evolved = (
        spark.range(4, 10)
        .withColumn("v", F.lit("b"))
        .withColumn("score", (F.col("id") + 100).cast("long"))
    )
    src_t.merge(evolved, ["id"], merge_schema=True)                        # v1
    last = apply_changes(mirror, src_t, ["id"], last_version=last)
    assert mirror.schema().fieldNames() == ["id", "v", "score"]
    assert rows(mirror.read()) == rows(src_t.read())
    m = {r.id: r for r in mirror.read().collect()}
    assert m[5].score == 105 and m[5].v == "b"
    assert m[1].score is None and m[1].v == "a"


def test_change_feed_vacuumed_range_raises(spark, tmp_path):
    """Reading a change feed whose historical files were vacuumed raises
    VacuumedVersionError with remediation advice, not a Spark
    file-not-found mid-execution."""
    from delta_lake_spark.tables import ManagedTable, VacuumedVersionError

    t = ManagedTable(spark, str(tmp_path / "cdcv"))
    t.write(spark.range(10).withColumn("v", F.lit(1)))      # v0
    t.write(spark.range(10).withColumn("v", F.lit(2)))      # v1 overwrite
    t.write(spark.range(10).withColumn("v", F.lit(3)))      # v2 overwrite
    t.vacuum(retain_hours=0.0)                               # only v2 files live

    with pytest.raises(VacuumedVersionError, match="change feed"):
        t.changes(0, to_version=1).count()
    with pytest.raises(VacuumedVersionError, match="retain_hours"):
        t.changes(0, include_change_type=True).count()
    # the still-live head range works
    assert t.changes(1).count() == 10


def test_optimize_after_schema_evolution(spark, tmp_path):
    """OPTIMIZE after a schema-evolving merge: compaction reads the mixed
    old/new files under the evolved schema (null-filling the old ones),
    rewrites them, and the result is unchanged row-for-row."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "oevo"))
    t.write(spark.range(10).withColumn("v", F.lit("old")))
    src = (
        spark.range(5, 12)
        .withColumn("v", F.lit("new"))
        .withColumn("score", (F.col("id") * 2).cast("long"))
    )
    t.merge(src, ["id"], merge_schema=True)
    before = rows(t.read())
    t.optimize()
    assert rows(t.read()) == before
    assert t.schema().fieldNames() == ["id", "v", "score"]


def test_conditional_merge_with_schema_evolution(spark, tmp_path):
    """Conditional clauses compose with merge_schema: condition-false
    matched rows keep the target image (new column null), condition-true
    rows update with the evolved column, inserts land regardless."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "cevo"))
    t.write(spark.range(6).withColumn("v", F.lit("old")))
    src = (
        spark.range(3, 9)
        .withColumn("v", F.lit("new"))
        .withColumn("score", (F.col("id") * 3).cast("long"))
    )
    t.merge(src, ["id"], matched_condition="s.id % 2 = 0", merge_schema=True)
    got = {r.id: r for r in t.read().collect()}
    assert len(got) == 9
    assert got[4].v == "new" and got[4].score == 12      # condition true
    assert got[3].v == "old" and got[3].score is None    # condition false
    assert got[5].v == "old" and got[5].score is None
    assert got[0].v == "old" and got[0].score is None    # untouched
    for i in (6, 7, 8):                                   # inserts
        assert got[i].v == "new" and got[i].score == i * 3


def test_table_catalog_roundtrip_after_evolution(spark, tmp_path):
    """TableCatalog registration survives a schema evolution: attach in the
    same catalog after an evolving merge resolves the current (evolved)
    snapshot."""
    from delta_lake_spark.tables import ManagedTable, TableCatalog

    t = ManagedTable(spark, str(tmp_path / "evocat"))
    t.write(spark.range(5).withColumn("v", F.lit("a")))
    cat = TableCatalog(str(tmp_path / "warehouse"))
    cat.register("lake.evocat", t.path)

    src = spark.range(3, 8).withColumn("v", F.lit("b")).withColumn(
        "score", F.lit(7).cast("long")
    )
    t.merge(src, ["id"], merge_schema=True)

    got = cat.read(spark, "lake.evocat")
    assert set(got.columns) == {"id", "v", "score"}
    assert got.count() == 8
    cat.attach(spark, schema="lake")
    assert set(spark.sql("SELECT * FROM lake_evocat").columns) == {
        "id", "v", "score"
    }


def test_partition_scoped_optimize(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the targeted partition's files are
    rewritten; every other partition's file paths carry over untouched and
    the table content is byte-identical."""
    t = ManagedTable(spark, str(tmp_path / "po"))
    df = spark.range(300).withColumn("part", F.pmod("id", F.lit(3)))
    t.write(df.repartition(4), partition_by=["part"])
    t.write(df.repartition(4), mode="append", partition_by=["part"])

    def files_by_part():
        out = {}
        for f in t._entry()["files"]:
            out.setdefault(f["partition"]["part"], set()).add(f["path"])
        return out

    before = files_by_part()
    assert len(before["1"]) >= 2  # multiple small files to compact
    v = t.optimize(where=[("part", "=", 1)])
    after = files_by_part()
    assert after["0"] == before["0"] and after["2"] == before["2"]  # untouched
    assert len(after["1"]) == 1  # compacted
    assert after["1"].isdisjoint(before["1"])  # rewritten, not reused
    assert t.read().count() == 600
    assert (
        t.read().groupBy("part").count().orderBy("part").collect()
        == df.unionAll(df).groupBy("part").count().orderBy("part").collect()
    )
    hist = t.history()[0]
    assert hist["operation"] == "optimize" and hist["version"] == v
    # scoping by a filter that matches nothing is a no-op commit-wise
    assert t.optimize(where=[("part", "=", 99)]) == v


def test_partition_scoped_optimize_keeps_pruning(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "po2"))
    df = spark.range(200).withColumn("part", F.pmod("id", F.lit(2)))
    t.write(df.repartition(3), partition_by=["part"])
    # tiny target size -> several id-sorted files inside the partition
    t.optimize(where=[("part", "=", 0)], sort_by=["id"], target_file_bytes=1024)
    live, total = t.pruned_file_count([("id", "<=", 10)])
    assert live < total  # stats recorded on the rewritten files still skip
    assert t.scan([("part", "=", 0), ("id", "<=", 10)]).count() == 6
    assert t.scan([("part", "=", 0)]).count() == 100


def test_near_dedup_ingest_incremental(spark, tmp_path):
    """Incremental dedup ingest: batch-1 equals the batch near_dedup,
    re-ingest is a no-op, a batch-2 near-dup of an admitted doc is kept
    out, and the final table holds zero verified near-dup pairs."""
    from delta_lake_spark.functions.dedup import minhash_candidate_pairs, near_dedup
    from delta_lake_spark.tables.incremental import near_dedup_ingest

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    )
    b1 = docs.filter("doc_id < 250")
    t = ManagedTable(spark, str(tmp_path / "corpus"))

    n1 = near_dedup_ingest(t, b1)
    want = sorted(
        r.doc_id for r in near_dedup(b1, "doc_id", "text", min_jaccard_bp=8000).collect()
    )
    got = sorted(r.doc_id for r in t.read().select("doc_id").collect())
    assert got == want and n1 == len(want)

    assert near_dedup_ingest(t, b1) == 0  # idempotent re-ingest
    assert t.read().count() == n1

    # batch 2: novel docs + a verbatim copy of an admitted batch-1 doc
    survivor_id = got[0]
    copy = (
        b1.filter(F.col("doc_id") == survivor_id)
        .select(F.lit(990_000).alias("doc_id"), "text")
    )
    b2 = docs.filter("doc_id >= 250").unionByName(copy)
    near_dedup_ingest(t, b2)
    final_ids = {r.doc_id for r in t.read().select("doc_id").collect()}
    assert 990_000 not in final_ids  # near-dup of an admitted doc kept out

    # the corpus invariant: no verified near-dup pair anywhere in the table
    pairs = minhash_candidate_pairs(t.read(), "doc_id", "text").filter(
        "jaccard_bp >= 8000"
    )
    assert pairs.count() == 0


def test_near_dedup_ingest_gates_on_shingles(spark, tmp_path):
    """The ingest's one gate is the graph's: a doc takes part iff it has a
    shingle (>= 3 normalized tokens).  Doc 1 is one raw token but six
    normalized ones and evicts its dup 2; doc 3 ('x !!! y') has 3 raw
    tokens but no shingle, so it is not admitted.  A single-batch ingest
    therefore equals near_dedup minus the shingle-less docs: {1}."""
    from delta_lake_spark.functions.dedup import near_dedup, token_shingles
    from delta_lake_spark.tables.incremental import near_dedup_ingest

    batch = spark.createDataFrame(
        [
            (1, "alpha.beta.gamma.delta.epsilon.zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "x !!! y"),
        ],
        "doc_id long, text string",
    )
    t = ManagedTable(spark, str(tmp_path / "corpus"))
    assert near_dedup_ingest(t, batch) == 1
    kept = near_dedup(batch, "doc_id", "text").filter(F.size(token_shingles("text")) > 0)
    want = {r.doc_id for r in kept.collect()}
    assert want == {1}
    assert {r.doc_id for r in t.read().collect()} == want


def test_near_dedup_ingest_skips_shingle_less_docs(spark, tmp_path):
    """Docs with >= 3 raw but < 3 normalized tokens have all-NULL
    signatures; paired, their Jaccard union is 0 (DIVIDE_BY_ZERO under
    ANSI).  They stay out of the dedup and out of the table."""
    from delta_lake_spark.tables.incremental import near_dedup_ingest

    batch = spark.createDataFrame(
        [(1, "x !!! y"), (2, "p ??? q"), (3, "one two three four")],
        "doc_id long, text string",
    )
    t = ManagedTable(spark, str(tmp_path / "corpus"))
    assert near_dedup_ingest(t, batch) == 1
    assert near_dedup_ingest(t, batch.filter("doc_id < 3")) == 0
    assert [r.doc_id for r in t.read().collect()] == [3]


def test_near_dedup_ingest_shingles_each_candidate_once(spark, tmp_path, monkeypatch):
    """A batch over an existing table shingles each existing row whose id
    is a candidate exactly once, and no other existing row: the
    verification semi-joins the existing rows to the candidate ids before
    shingling, and the survivors' count and append share one run of the
    plan.  A Python UDF tapped into the ingest's shingle expression counts
    the existing rows shingled."""
    from delta_lake_spark.functions.dedup import _band_pairs, _band_rows, _signatures
    from delta_lake_spark.functions.dedup_sql import token_shingles_sql
    from delta_lake_spark.tables import incremental
    from tests.conftest import SF_CORRECT

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select("doc_id", "text")
    t = ManagedTable(spark, str(tmp_path / "corpus"))
    incremental.near_dedup_ingest(t, docs.filter("doc_id < 250"))
    existing = t.read()
    copy_of = existing.agg(F.min("doc_id")).first()[0]
    # a verbatim copy of an admitted doc plus a novel doc
    batch = docs.filter(F.col("doc_id") == copy_of).select(
        F.lit(990_000).cast("long").alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(990_001, "zebra quokka platypus narwhal axolotl")], "doc_id long, text string"
        )
    )
    cand = _band_pairs(
        _band_rows(_signatures(batch, "doc_id", "text")),
        _band_rows(existing.select(F.col("doc_id").alias("_id"), "_sig")),
    )
    n_cand = cand.filter(F.col("id_a") < 990_000).select("id_a").distinct().count()

    acc = spark.sparkContext.accumulator(0)

    def seen(text):
        acc.add(1)
        return text

    spark.udf.register("shingle_tap", seen, "string")
    monkeypatch.setattr(
        incremental, "token_shingles_sql", lambda col: token_shingles_sql(f"shingle_tap({col})")
    )
    assert incremental.near_dedup_ingest(t, batch) == 1
    assert 1 <= acc.value == n_cand < existing.count()
    assert 990_000 not in {r.doc_id for r in t.read().collect()}


# --------------------------------------------------------------------- #
# column mapping: rename/drop without rewrites (Delta columnMapping=name)
# --------------------------------------------------------------------- #


def test_rename_column_is_metadata_only(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "cm"))
    t.write(base_df)
    before = {f["path"] for f in t._entry()["files"]}
    v = t.rename_column("val", "amount")
    assert {f["path"] for f in t._entry()["files"]} == before  # no rewrite
    assert t._raw_entry(v)["add"] == [] and t._raw_entry(v)["remove"] == []
    assert t.read().columns == ["id", "grp", "amount"]
    assert t.read().agg({"amount": "sum"}).first()[0] == sum(range(10))
    # time travel reads the pre-rename name
    assert t.read(version=0).columns == ["id", "grp", "val"]
    assert t.column_mapping() == {"amount": "val"}


def test_rename_then_append_and_merge(spark, tmp_path, base_df):
    from pyspark.sql import Row

    t = ManagedTable(spark, str(tmp_path / "cm2"))
    t.write(base_df)
    t.rename_column("val", "amount")
    t.write(
        spark.createDataFrame([Row(id=100, grp="c", amount=5.0)]),
        mode="append",
    )
    got = {r["id"]: r["amount"] for r in t.read().collect()}
    assert got[100] == 5.0 and got[3] == 3.0 and len(got) == 11
    # merge keyed on the RENAMED column's table: update one, insert one
    t.merge(
        spark.createDataFrame(
            [Row(id=100, grp="c", amount=6.0), Row(id=101, grp="c", amount=7.0)]
        ),
        ["id"],
    )
    got = {r["id"]: r["amount"] for r in t.read().collect()}
    assert got[100] == 6.0 and got[101] == 7.0 and len(got) == 12


def test_rename_keeps_stats_pruning(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "cm3"))
    t.write(spark.range(1000).selectExpr("id", "id % 10 AS bucket").repartitionByRange(4, "id"))
    t.rename_column("id", "row_id")
    live, total = t.pruned_file_count([("row_id", "<", 100)])
    assert total == 4 and live < total  # footer stats still prune
    assert t.scan([("row_id", "<", 100)]).count() == 100


def test_drop_column_no_resurrection(spark, tmp_path, base_df):
    from pyspark.sql import Row

    t = ManagedTable(spark, str(tmp_path / "cm4"))
    t.write(base_df)
    before = {f["path"] for f in t._entry()["files"]}
    t.drop_column("val")
    assert {f["path"] for f in t._entry()["files"]} == before  # no rewrite
    assert t.read().columns == ["id", "grp"]
    # a NEW column with the dropped name must not resurrect old bytes
    t.write(
        spark.createDataFrame([Row(id=200, grp="z", val=9.0)]),
        mode="append",
        merge_schema=True,
    )
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows[200] == 9.0
    assert all(rows[i] is None for i in range(10))  # old rows: null, not stale
    # physical name diverged from the logical name for the re-added column
    assert t.column_mapping()["val"] != "val"


def test_rename_guards_referenced_columns(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "cm5"))
    t.write(base_df, partition_by=["grp"])
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("grp", "category")
    t2 = ManagedTable(spark, str(tmp_path / "cm6"))
    t2.write(base_df)
    t2.add_constraint("val_pos", "val >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t2.rename_column("val", "amount")
    with pytest.raises(ValueError, match="constraint"):
        t2.drop_column("val")
    with pytest.raises(ValueError, match="already exists"):
        t2.rename_column("id", "grp")
    with pytest.raises(ValueError, match="no such column"):
        t2.rename_column("nope", "x")


def test_restore_and_clone_carry_mapping(spark, tmp_path, base_df):
    from pyspark.sql import Row

    t = ManagedTable(spark, str(tmp_path / "cm7"))
    t.write(base_df)                      # v0
    t.rename_column("val", "amount")      # v1
    c = t.clone(str(tmp_path / "cm7_clone"))
    assert c.read().columns == ["id", "grp", "amount"]
    assert c.column_mapping() == {"amount": "val"}
    t.restore(0)                          # back to pre-rename schema
    assert t.read().columns == ["id", "grp", "val"]
    # appends after restore resolve physical names correctly
    t.write(spark.createDataFrame([Row(id=300, grp="r", val=1.5)]), mode="append")
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[300] == 1.5 and got[2] == 2.0


def test_rename_survives_optimize_and_dml(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "cm8"))
    t.write(base_df.repartition(4))
    t.rename_column("val", "amount")
    t.delete_where([("amount", "<", 2.0)])
    t.update_where([("amount", ">", 8.0)], {"amount": F.col("amount") + 0.5})
    t.optimize()
    got = sorted(r["amount"] for r in t.read().collect())
    assert got == [2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.5]
    # post-optimize files were rewritten under the same physical name:
    # the mapping still resolves and a fresh table object agrees
    t2 = ManagedTable(spark, t.path)
    assert sorted(r["amount"] for r in t2.read().collect()) == got


def test_append_type_widening(spark, tmp_path):
    from pyspark.sql.types import DoubleType, LongType

    t = ManagedTable(spark, str(tmp_path / "tw"))
    t.write(spark.range(3).selectExpr("cast(id as int) AS id", "cast(id as float) AS x"))
    # widen: incoming long/double promote the table schema, files stay put
    t.write(
        spark.range(3, 6).selectExpr("id", "cast(id as double) AS x"),
        mode="append",
        merge_schema=True,
    )
    sch = {f.name: f.dataType for f in t.schema().fields}
    assert isinstance(sch["id"], LongType) and isinstance(sch["x"], DoubleType)
    assert sorted(r["id"] for r in t.read().collect()) == [0, 1, 2, 3, 4, 5]
    assert sorted(r["x"] for r in t.read().collect()) == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # narrower incoming into the (now wider) table also merges cleanly
    t.write(
        spark.range(6, 7).selectExpr("cast(id as int) AS id", "cast(id as float) AS x"),
        mode="append",
        merge_schema=True,
    )
    assert t.read().count() == 7
    assert isinstance(t.schema()["id"].dataType, LongType)
    # lossy pairs still rejected
    with pytest.raises(ValueError, match="not a lossless widening"):
        t.write(
            spark.range(1).selectExpr("cast(id as string) AS id", "cast(id as double) AS x"),
            mode="append",
            merge_schema=True,
        )


def test_cleanup_log_bounds_metadata_and_keeps_reads(spark, tmp_path):
    from delta_lake_spark.tables.managed import VacuumedVersionError

    p = str(tmp_path / "t")
    t = ManagedTable(spark, p)
    t.write(spark.range(3).toDF("k"))
    for i in range(24):  # versions 1..24 -> checkpoints at 10 and 20
        t.write(spark.range(3).withColumn("k", F.col("id") + i).select("k"), mode="append")
    assert t.latest_version() == 24

    removed = t.cleanup_log()  # base = checkpoint 20
    assert removed == 21  # entries 0..19 + checkpoint 10

    # current reads, recent time travel, and history all still work
    assert t.read().count() == 75
    assert t.read(version=21).count() == 66
    assert [h["version"] for h in t.history()] == list(range(24, 19, -1))
    # appends keep working after cleanup
    t.write(spark.range(1).toDF("k"), mode="append")
    assert t.latest_version() == 25

    # cleaned versions fail with a descriptive error, not a FileNotFoundError
    with pytest.raises(VacuumedVersionError, match="cleanup_log"):
        t.read(version=5)

    # nothing below a checkpoint younger than the retention window moves
    assert t.cleanup_log(retain_hours=1.0) == 0


def test_txn_marked_writes_and_merge_are_replay_safe(spark, tmp_path):
    # Delta txnAppId/txnVersion analog: a replayed foreachBatch write or
    # merge (same app, batch <= marker) is a no-op.
    from delta_lake_spark.tables.managed import ManagedTable
    from pyspark.sql import functions as F

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    app = "job-42"
    t.write(
        spark.createDataFrame([(2, 2.0)], "k long, v double"),
        mode="append", txn_app=app, txn_batch=7,
    )
    v_after = t.latest_version()
    # replay: same batch id -> dropped, no new version, no duplicate rows
    t.write(
        spark.createDataFrame([(2, 2.0)], "k long, v double"),
        mode="append", txn_app=app, txn_batch=7,
    )
    assert t.latest_version() == v_after
    assert t.read().count() == 2
    # next batch flows
    t.write(
        spark.createDataFrame([(3, 3.0)], "k long, v double"),
        mode="append", txn_app=app, txn_batch=8,
    )
    assert t.read().count() == 3
    # a DIFFERENT app is independent
    t.write(
        spark.createDataFrame([(4, 4.0)], "k long, v double"),
        mode="append", txn_app="other", txn_batch=1,
    )
    assert t.read().count() == 4

    # non-idempotent merge expression (t.v + s.v) made replay-safe
    src = spark.createDataFrame([(1, 10.0)], "k long, v double")
    t.merge(src, ["k"], update_set={"v": "t.v + s.v"},
            txn_app=app, txn_batch=9)
    t.merge(src, ["k"], update_set={"v": "t.v + s.v"},
            txn_app=app, txn_batch=9)  # replay: must NOT double-apply
    assert {r.k: r.v for r in t.read().collect()}[1] == 11.0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="together"):
        t.write(src, mode="append", txn_app=app)


def test_zorder_string_column_prunes_point_lookups(spark, tmp_path):
    # string keys share a long literal prefix ("user-0..."), which the
    # z-projection must strip — otherwise every value collapses onto the
    # same 6 leading bytes and nothing clusters
    from delta_lake_spark.tables.managed import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(20000).selectExpr(
        "id",
        "concat('user-', lpad(CAST(pmod(id*2654435761, 1000) AS STRING), 4, '0')) AS name",
        "CAST(pmod(id*40503, 500) AS INT) AS x",
    )
    t.write(df.repartition(16))
    before = sorted(map(tuple, t.read().collect()))
    t.optimize(zorder_by=["name", "x"], target_file_bytes=64 * 1024)
    assert sorted(map(tuple, t.read().collect())) == before
    live_s, total = t.pruned_file_count([("name", "=", "user-0042")])
    live_n, _ = t.pruned_file_count([("x", "=", 321)])
    assert total >= 4
    assert live_s < total  # string dimension skips files
    assert live_n < total  # numeric dimension still skips files
    # unsupported types still rejected clearly
    import pytest as _pytest

    t2 = ManagedTable(spark, str(tmp_path / "u"))
    t2.write(spark.range(4).selectExpr("id", "array(id) AS a"))
    with _pytest.raises(ValueError, match="zorder_by needs"):
        t2.optimize(zorder_by=["a"])


def test_properties_reports_carried_table_state(spark, tmp_path):
    from delta_lake_spark.tables.managed import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(1, "a", 1.0)], "k long, p string, v double"),
        partition_by=["p"],
    )
    assert t.properties()["cdf"] is False
    t.enable_cdf()
    t.enable_row_tracking()
    t.set_auto_compact(min_files=5)
    t.set_optimize_write(True)
    t.add_constraint("v_pos", "v > 0")
    props = t.properties()
    assert props["cdf"] and props["row_tracking"] and props["optimize_write"]
    assert props["auto_compact"]["min_files"] == 5
    assert props["constraints"] == {"v_pos": "v > 0"}
    assert props["partition_by"] == ["p"]
    # properties are versioned like everything else
    assert t.properties(version=0)["cdf"] is False


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path, base_df):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df)
    t.write(base_df.filter("id < 3"), mode="overwrite")  # v0 files now dead
    would = t.vacuum(dry_run=True)
    assert isinstance(would, list) and len(would) > 0
    # nothing deleted: v0 still time-travels
    assert t.read(version=0).count() == 10
    # the real vacuum reaps exactly the listed files
    assert t.vacuum() == len(would)
    assert t.vacuum(dry_run=True) == []


def test_merge_operation_metrics_in_history(spark, tmp_path, base_df):
    from pyspark.sql import Row as _R

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(base_df)  # ids 0..9
    src = spark.createDataFrame(
        [_R(id=i, grp="z", val=100.0 + i) for i in range(8, 13)]  # 8,9 match; 10-12 insert
    )
    t.merge(src, ["id"])
    m = t.history()[0]["operation_metrics"]
    assert m == {
        "num_source_rows": 5,
        "num_target_rows_matched": 2,
        "num_target_rows_updated": 2,
        "num_target_rows_deleted": 0,
        "num_target_rows_inserted": 3,
    }
    # conditional clauses constrain the counts the same way they constrain
    # the merge itself
    src2 = spark.createDataFrame(
        [_R(id=i, grp="w", val=float(i)) for i in range(11, 16)]  # 11,12 match; 13-15 not
    )
    t.merge(
        src2,
        ["id"],
        matched_condition="s.val > t.val",  # 100+id beats id: never true
        not_matched_condition="s.id % 2 = 1",  # only 13 and 15 insert
    )
    m2 = t.history()[0]["operation_metrics"]
    assert m2["num_source_rows"] == 5
    assert m2["num_target_rows_matched"] == 0
    assert m2["num_target_rows_inserted"] == 2
    assert t.read().count() == 15
    # a plain merge records metrics
    t.merge(src, ["id"])
    assert t.history()[0]["operation_metrics"] == {
        "num_source_rows": 5,
        "num_target_rows_matched": 5,
        "num_target_rows_updated": 5,
        "num_target_rows_deleted": 0,
        "num_target_rows_inserted": 0,
    }


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL are
    NOT deleted — and must also not silently vanish from the rewrite (the
    raw ~expr complement is NULL for them, which drops them from the
    remaining set without counting as a delete).  Both DML modes."""
    for mode in ("copy_on_write", "merge_on_read"):
        t = ManagedTable(spark, str(tmp_path / f"nd_{mode}"))
        t.write(
            spark.createDataFrame(
                [(1, 10.0), (2, None), (3, 99.0)], "id bigint, v double"
            )
        )
        t.delete_where([("v", "=", 99.0)], mode=mode)
        out = {(r["id"], r["v"]) for r in t.read().collect()}
        assert out == {(1, 10.0), (2, None)}, mode


def test_scan_in_list_prunes_stats_partitions_and_blooms(spark, tmp_path):
    """IN-list data skipping across all three pruning sources."""
    # stats: v-clustered files; IN list entirely below/above most ranges
    t = ManagedTable(spark, str(tmp_path / "inl"))
    df = spark.range(10_000).withColumn("v", F.pmod(F.col("id") * 7919, F.lit(10_000)))
    t.write(df.repartition(8))
    t.optimize(sort_by=["v"], target_file_bytes=8 * 1024)
    live, total = t.pruned_file_count([("v", "in", [5, 9_990])])
    assert live < total / 2  # middle files provably miss both points
    got = t.scan([("v", "in", [5, 9_990])])
    assert sorted(r["v"] for r in got.collect()) == [5, 9_990]

    # partitions: only listed partition dirs survive
    p = ManagedTable(spark, str(tmp_path / "inp"))
    pdf = spark.createDataFrame(
        [(i, "abc"[i % 3]) for i in range(9)], "id bigint, grp string"
    )
    p.write(pdf, partition_by=["grp"])
    live, total = p.pruned_file_count([("grp", "in", ["a", "c"])])
    assert live < total
    assert {r["grp"] for r in p.scan([("grp", "in", ["a", "c"])]).collect()} == {"a", "c"}

    # blooms: in-range gap values only a bloom can disprove
    b = ManagedTable(spark, str(tmp_path / "inb"))
    b.write(
        spark.createDataFrame([(i * 7,) for i in range(400)], "id bigint")
        .repartition(4, F.col("id") % 4)
    )
    live0, _ = b.pruned_file_count([("id", "in", [30, 58])])  # gaps, in-range
    b.add_bloom_filters(["id"])
    live1, total = b.pruned_file_count([("id", "in", [30, 58])])
    assert live0 == total and live1 == 0
    assert b.scan([("id", "in", [30, 58])]).count() == 0
    # a present value keeps its files and returns exactly its rows
    assert b.scan([("id", "in", [30, 7 * 13])]).count() == 1


def test_count_rows_is_metadata_exact(spark, tmp_path):
    """count_rows() must equal read().count() through append, CoW delete,
    MoR delete (dv_rows), time travel, and purge — computed from the log,
    not a scan."""
    t = ManagedTable(spark, str(tmp_path / "cnt"))
    t.write(spark.range(100).withColumn("v", F.col("id") * 2))
    assert t.count_rows() == 100
    t.write(spark.range(100, 150).withColumn("v", F.col("id") * 2), mode="append")
    assert t.count_rows() == 150
    v_before = t.latest_version()
    t.delete_where([("id", "<", 10)])  # CoW rewrite
    assert t.count_rows() == 140
    t.delete_where([("id", ">=", 140)], mode="merge_on_read")  # DV sidecar
    assert t.count_rows() == 130 == t.read().count()
    # time travel sees the old counts
    assert t.count_rows(v_before) == 150
    t.purge_deletes()
    assert t.count_rows() == 130 == t.read().count()


def test_count_rows_pre_feature_fallback_and_unreadable_footer(spark, tmp_path):
    """Files from pre-'rows' commits fall back to one footer read each; a
    file whose footer CANNOT be read must raise, not silently count as 0
    rows (ADVICE r4: the `or 0` undercount hazard)."""
    import json
    import os

    import pytest

    t = ManagedTable(spark, str(tmp_path / "cnt2"))
    t.write(spark.range(100).withColumn("v", F.col("id") * 2))

    # simulate a pre-feature commit: strip the logged 'rows' field from the
    # commit's add actions
    log_path = t._log_path(t.latest_version())
    with open(log_path) as f:
        entry = json.load(f)
    for fe in entry["add"]:
        fe.pop("rows", None)
    with open(log_path, "w") as f:
        json.dump(entry, f)
    t = ManagedTable(spark, t.path)  # drop the in-memory snapshot cache

    # footer fallback still yields the exact count
    assert t.count_rows() == 100

    # corrupt one data file's footer -> loud failure, never an undercount
    victim = os.path.join(t.path, entry["add"][0]["path"])
    with open(victim, "r+b") as f:
        f.truncate(4)  # keeps the file, destroys the footer
    with pytest.raises(IOError, match="refusing to undercount"):
        t.count_rows()


def test_show_partitions_metadata_only(spark, tmp_path):
    """show_partitions() returns typed distinct partition values from the
    log alone — including a NULL partition (Hive default dir) — and raises
    on unpartitioned tables."""
    import datetime

    import pytest

    t = ManagedTable(spark, str(tmp_path / "sp"))
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 1, 2)),
         (3, None), (4, datetime.date(2024, 1, 1))],
        "id bigint, d date",
    )
    t.write(df, partition_by=["d"])
    got = t.show_partitions()
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["date"]
    vals = sorted((r.d for r in got.collect()), key=lambda v: (v is None, v))
    assert vals == [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), None]

    # delete one partition's rows (CoW) -> its value drops from the listing
    t.delete_where([("d", "=", datetime.date(2024, 1, 2))])
    assert t.show_partitions().count() == 2
    # time travel sees the old listing
    assert t.show_partitions(version=0).count() == 3

    u = ManagedTable(spark, str(tmp_path / "sp2"))
    u.write(spark.range(3))
    with pytest.raises(ValueError, match="not partitioned"):
        u.show_partitions()


def test_merge_honors_optimize_write_property(spark, tmp_path):
    """With the optimize_write table property set, a MERGE rewrite exchanges
    on the partition columns first, so each touched partition gets ONE new
    file instead of one shard per shuffle task."""
    t = ManagedTable(spark, str(tmp_path / "ow"))
    base = spark.range(10_000).withColumn("g", (F.col("id") % 5).cast("string"))
    t.write(base.repartition("g"), partition_by=["g"])
    t.set_optimize_write(True)
    v0_files = t._entry()["files"]
    assert len(v0_files) == 5

    src = spark.range(10_000).withColumn("g", (F.col("id") % 5).cast("string"))
    t.merge(src, ["id"])
    entry = t._entry()
    # all 5 partitions touched; optimize_write keeps it to 1 file each
    assert len(entry["files"]) == 5
    assert t.read().count() == 10_000


def test_anti_join_append_null_key_is_idempotent(spark, tmp_path):
    """r5 NULL-key family: under plain SQL equality a NULL key 'never
    exists', so a NULL-keyed mart row re-appends on every run.  The op must
    compare keys null-safely — repeat appends of the same (incl. NULL-key)
    rows are no-ops."""
    import datetime

    t = ManagedTable(spark, str(tmp_path / "aja"))
    rows = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 10), (None, 99)], "d date, v int"
    )
    t.write(rows)
    assert t.read().count() == 2
    v = t.latest_version()
    anti_join_append(t, rows, ["d"])  # nothing new -> no duplicate NULL row
    assert t.read().count() == 2
    # genuinely fresh key still appends (alongside the replayed NULL row)
    more = spark.createDataFrame(
        [(datetime.date(2024, 1, 2), 20), (None, 99)], "d date, v int"
    )
    anti_join_append(t, more, ["d"])
    assert t.read().count() == 3
    assert t.read().filter("d is null").count() == 1


def test_incremental_views_reject_null_group_keys(spark, tmp_path):
    """The documented non-null-key precondition of the incremental views is
    now ENFORCED: a NULL group key raises a clear error instead of silently
    duplicating that group's view row on every refresh."""
    import pytest

    from delta_lake_spark.tables.matview import IncrementalAggView
    from delta_lake_spark.tables.sketchview import IncrementalSketchView

    base = ManagedTable(spark, str(tmp_path / "b"))
    base.write(
        spark.createDataFrame([("a", 1), (None, 2)], "k string, v int")
    )
    mv = IncrementalAggView(
        spark, base, str(tmp_path / "mv"), keys=["k"], sums={"s": "v"}
    )
    with pytest.raises(ValueError, match="NULL value in grouping key"):
        mv.refresh()
    sv = IncrementalSketchView(
        spark, base, str(tmp_path / "sv"), keys=["k"], ndv={"dv": "v"}
    )
    with pytest.raises(ValueError, match="NULL value in grouping key"):
        sv.refresh()


def test_show_partitions_dv_aware(spark, tmp_path):
    """ADVICE r5: a partition whose rows are ALL masked by merge-on-read
    deletion vectors must drop out of show_partitions (matching count_rows'
    DV-aware semantics) — an anti-join built on the listing re-appends data
    for such a partition.  A partially-DV-deleted partition stays listed."""
    import datetime

    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    t = ManagedTable(spark, str(tmp_path / "spdv"))
    df = spark.createDataFrame(
        [(1, d1), (2, d1), (3, d2), (4, d2)], "id bigint, d date"
    )
    t.write(df, partition_by=["d"])
    assert t.show_partitions().count() == 2

    # fully DV-delete partition d2 -> only d1 remains listed
    t.delete_where([("d", "=", d2)], mode="merge_on_read")
    assert t.count_rows() == 2
    vals = [r.d for r in t.show_partitions().collect()]
    assert vals == [d1]
    # time travel still sees both
    assert t.show_partitions(version=0).count() == 2

    # partially DV-delete d1 -> still listed (live rows remain)
    t.delete_where([("id", "=", 1)], mode="merge_on_read")
    assert [r.d for r in t.show_partitions().collect()] == [d1]

    # purge materializes the deletes; listing is unchanged
    t.purge_deletes()
    assert [r.d for r in t.show_partitions().collect()] == [d1]


def test_anti_join_append_shared_lineage(spark, tmp_path):
    """ADVICE r5: anti_join_append must accept a source DERIVED FROM the
    target's own read() (shared lineage) — the eqNullSafe condition on raw
    attributes previously made that an ambiguous self-join."""
    from delta_lake_spark.tables.incremental import anti_join_append

    t = ManagedTable(spark, str(tmp_path / "ajshared"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    # derive the source from the same table's read(): shift keys so one
    # collides (k=2) and one is fresh (k=3)
    src = t.read().select((F.col("k") + 1).alias("k"), F.col("v"))
    anti_join_append(t, src, ["k"])
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "b")]
    # idempotent: replaying the same derived source appends nothing
    src2 = ManagedTable(spark, str(tmp_path / "ajshared")).read().select(
        F.col("k"), F.col("v")
    )
    anti_join_append(t, src2, ["k"])
    assert t.read().count() == 3


def test_show_partitions_refuses_after_partition_evolution(spark, tmp_path):
    """r6 audit: files written under an older partition spec hold rows whose
    values for the NEW partition column are unknown to the log — a
    metadata listing that reported them as NULL would let the anti-join
    repeat-save pattern re-append data those files already hold.  The
    metadata path must refuse and point at the data scan."""
    import datetime

    t = ManagedTable(spark, str(tmp_path / "spevo"))
    d1, d2, d3 = (datetime.date(2024, 1, i) for i in (1, 2, 3))
    t.write(spark.createDataFrame([(1, d1), (2, d2)], "id bigint, d date"))
    t.set_partitioning(["d"])
    t.write(
        spark.createDataFrame([(3, d3)], "id bigint, d date"), mode="append"
    )
    with pytest.raises(ValueError, match="partition evolution"):
        t.show_partitions()
    # the recommended data scan gives the full truth
    got = sorted(r.d for r in t.read().select("d").distinct().collect())
    assert got == [d1, d2, d3]
    # a snapshot written entirely under the current spec lists fine
    u = ManagedTable(spark, str(tmp_path / "spok"))
    u.write(
        spark.createDataFrame([(1, d1), (3, d3)], "id bigint, d date"),
        partition_by=["d"],
    )
    assert sorted(r.d for r in u.show_partitions().collect()) == [d1, d3]
