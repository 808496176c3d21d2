"""Write-audit-publish: clone -> stage -> audit -> zero-copy publish_from."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from delta_lake_spark.tables.managed import ManagedTable


def _rows(spark, lo, hi, v=0):
    return (
        spark.range(lo, hi)
        .withColumn("p", (F.col("id") % 2).cast("string"))
        .withColumn("v", F.lit(v).cast("long"))
    )


def test_wap_overwrite_roundtrip(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 100))
    stage = t.clone(str(tmp_path / "stage"))
    # staged work: append + merge-on-read delete; target must not see it
    stage.write(_rows(spark, 100, 150, v=1), mode="append")
    stage.delete_where([("id", "<", 10)], mode="merge_on_read")
    assert t.read().count() == 100  # audit window: target untouched
    assert stage.read().count() == 140
    expected = sorted(r.id for r in stage.read().collect())
    v = t.publish_from(stage)
    assert v == t.latest_version()
    got = sorted(r.id for r in t.read().collect())
    assert got == expected  # DV'd staged files published with their DVs
    # zero-copy: published bytes are hard links, not copies
    import os

    t_files = t._entry()["files"]
    assert all(
        os.stat(os.path.join(t.path, f["path"])).st_nlink >= 2 for f in t_files
    )


def test_wap_append_partitioned_keeps_pruning(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 100), partition_by=["p"])
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(_rows(spark, 100, 160, v=2), mode="append", partition_by=["p"])
    t.publish_from(stage, mode="append")
    # append mode: original rows + full staged snapshot
    assert t.read().count() == 100 + 160
    assert t.read().filter(F.col("v") == 2).count() == 60
    # partition columns recovered through the published layout, and the
    # partition values still prune
    surviving, total = t.pruned_file_count([("p", "=", "0")])
    assert surviving < total


def test_wap_audit_failure_costs_nothing(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 50))
    t.add_constraint("v_small", "v < 10")
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(_rows(spark, 50, 60, v=99), mode="append")  # violates target
    v_before = t.latest_version()
    with pytest.raises(ValueError, match="v_small"):
        t.publish_from(stage)
    assert t.latest_version() == v_before  # nothing committed
    assert t.read().count() == 50


def test_wap_schema_and_mode_guards(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 10))
    s = ManagedTable(spark, str(tmp_path / "s"))
    s.write(spark.range(5).withColumn("other", F.lit(1)))
    with pytest.raises(ValueError, match="staged schema != target schema"):
        t.publish_from(s)
    stage = t.clone(str(tmp_path / "stage"))
    with pytest.raises(ValueError, match="publish mode"):
        t.publish_from(stage, mode="merge")


def test_publish_retries_through_version_race(spark, tmp_path, monkeypatch):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 20))
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(_rows(spark, 20, 30, v=1), mode="append")

    real_commit = ManagedTable._commit
    fails = {"left": 1}

    def flaky_commit(self, entry):
        if fails["left"] and entry.get("published_from"):
            fails["left"] -= 1
            # a competitor appends and takes the version
            real_commit(
                self,
                {
                    "operation": "append",
                    "files": self._entry()["files"],
                    "partition_by": [],
                    "schema": self._entry()["schema"],
                },
            )
        return real_commit(self, entry)

    monkeypatch.setattr(ManagedTable, "_commit", flaky_commit)
    t.publish_from(stage)
    assert t.read().count() == 30  # published despite the lost first race


@pytest.mark.parametrize("racer", ["add_column", "add_constraint"])
def test_publish_raises_when_target_metadata_changes_mid_publish(
    spark, tmp_path, monkeypatch, racer
):
    """publish_from commits against the target snapshot whose schema and
    constraints it validated the staged data under: a racing metadata
    change makes it raise instead of being reverted or bypassed."""
    from delta_lake_spark.tables.managed import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 20))
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(_rows(spark, 100, 103), mode="append")
    other = ManagedTable(spark, t.path)
    real_check = t._enforce_constraints

    def check_then_race(df, context):
        real_check(df, context)
        if racer == "add_column":
            other.add_column("extra", "int")
        else:
            other.add_constraint("small", "id < 50")

    monkeypatch.setattr(t, "_enforce_constraints", check_then_race)
    with pytest.raises(ConcurrentWriteError, match="layout metadata"):
        t.publish_from(stage)
    assert t.history()[0]["operation"] == racer
    if racer == "add_column":
        assert t.schema().names == ["id", "p", "v", "extra"]
    else:
        assert t.constraints() == {"small": "id < 50"}
    assert sorted(r.id for r in t.read().collect()) == list(range(20))


def test_vacuum_grace_protects_inflight_publish_links(spark, tmp_path):
    """Freshly-linked pub files (pre-commit window) survive a racing
    vacuum; aged published strands are reclaimed once superseded."""
    import os
    import time as _time

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 0, 20))
    stage = t.clone(str(tmp_path / "stage"))
    stage.write(_rows(spark, 20, 30, v=1), mode="append")
    t.publish_from(stage)
    pub_files = [f["path"] for f in t._entry()["files"]]
    assert any("-pub-" in p for p in pub_files)

    # supersede the published snapshot; its files are now unreferenced
    t.write(_rows(spark, 0, 5), mode="overwrite")
    t.vacuum()  # reaps the pre-publish originals...
    for p in pub_files:
        full = os.path.join(t.path, p)
        assert os.path.exists(full)  # ...but grace protects fresh pub links
        old = _time.time() - 7200
        os.utime(full, (old, old))  # age past the 1h grace floor
    assert t.vacuum() >= len(pub_files)  # aged strands reclaimed
    assert not any(os.path.exists(os.path.join(t.path, p)) for p in pub_files)
    assert t.read().count() == 5
