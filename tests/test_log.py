"""The commit log (``delta_lake_spark/tables/log.py``) without a JVM:
checkpoint replay, put-if-absent commits and tags, the change classifier,
the change-feed planner and the snapshot cache bound.  No SparkSession is
started; the few data files are written with pyarrow."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_lake_spark.tables.log import (
    _CHECKPOINT_INTERVAL,
    _SNAP_CACHE_SIZE,
    ConcurrentWriteError,
    TableLog,
)

SCHEMA = {
    "type": "struct",
    "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}],
}


def _rec(path: str, **extra) -> dict:
    return {"path": path, "size": 1, "partition": {}, "stats": {}, **extra}


def _parquet(t: TableLog, rel: str) -> dict:
    full = os.path.join(t.path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    pq.write_table(pa.table({"k": [1, 2]}), full)
    return _rec(rel, size=os.path.getsize(full))


def _commit(t: TableLog, read_version, files, operation="append", **fields) -> int:
    return t._commit(
        {
            "operation": operation,
            "read_version": read_version,
            "files": list(files),
            "schema": SCHEMA,
            **fields,
        }
    )


def _replay(t: TableLog, version: int) -> dict:
    """The snapshot at ``version`` from every entry since version 0."""
    files: dict = {}
    for v in range(version + 1):
        raw = t._raw_entry(v)
        for p in raw.get("remove", ()):
            files.pop(p, None)
        for rec in raw.get("add", ()):
            files[rec["path"]] = rec
    return files


def _tmp_files(t: TableLog) -> list:
    return [
        f
        for _d, _s, names in os.walk(os.path.join(t.path, "_log"))
        for f in names
        if ".tmp-" in f
    ]


def test_cold_entry_equals_full_replay_across_two_checkpoints(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    files: list = []
    for v in range(25):
        if v % 4 == 3:
            files = files[1:]  # a removal
        if v % 5 == 4:
            files[0] = {**files[0], "dvs": [f"dv-{v}.parquet"]}  # a re-record
        files = files + [_rec(f"c{v:06d}-x/part-0.parquet")]
        assert _commit(t, v - 1 if v else None, files) == v
    assert t._checkpoint_versions() == [_CHECKPOINT_INTERVAL, 2 * _CHECKPOINT_INTERVAL]
    for v in range(25):
        snap = TableLog(t.path)._entry(v)
        assert snap["version"] == v
        assert {f["path"]: f for f in snap["files"]} == _replay(t, v)
    assert TableLog(t.path)._entry()["files"] == t._entry(24)["files"]


def test_second_commit_at_the_same_read_version_raises(tmp_path):
    a = TableLog(str(tmp_path / "t"))
    _commit(a, None, [_rec("c000000-x/a.parquet")])
    b = TableLog(a.path)
    assert _commit(a, 0, [_rec("c000001-x/b.parquet")]) == 1
    with pytest.raises(ConcurrentWriteError):
        _commit(b, 0, [_rec("c000001-y/c.parquet")])
    assert _tmp_files(a) == []
    assert [f["path"] for f in b._entry()["files"]] == ["c000001-x/b.parquet"]


def test_commit_changes_kinds(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = (_rec(f"c000000-x/{n}.parquet") for n in "abc")
    _commit(t, None, [a, b], operation="overwrite")
    _commit(t, 0, [a, b, c])  # v1 adds a file
    _commit(t, 1, [{**a, "bloom": {"k": "x"}}, b, c], operation="bloom")
    _commit(t, 2, [{**b, "dvs": []}, c], operation="optimize")
    d = {**c, "dvs": ["c000004-dv-x/dv.parquet"]}
    _commit(t, 3, [{**b, "dvs": []}, d], operation="delete")
    assert [t._commit_changes(v)[0] for v in range(1, 5)] == [
        "data",
        "none",  # same paths re-recorded with the same deletion vectors
        "compaction",
        "data",  # a new deletion vector
    ]
    kind, added, removed, raw = t._commit_changes(4)
    assert added == [d] and removed == [c] and raw["operation"] == "delete"


def test_cdf_slices(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a = _parquet(t, "c000000-x/a.parquet")
    b = _parquet(t, "c000001-x/b.parquet")
    c = _parquet(t, "c000002-x/c.parquet")
    _commit(t, None, [a], operation="overwrite")
    _commit(t, 0, [a, b])  # v1: append
    _commit(t, 1, [c], operation="overwrite")  # v2
    cdc = _parquet(t, "c000003-cdc-x/part-0.parquet")["path"]
    _commit(t, 2, [], operation="delete", cdc_files=[cdc])  # v3
    assert t._cdf_slices(0, 3) == [
        (1, "insert", b),
        (2, "delete", a),
        (2, "delete", b),
        (2, "insert", c),
        (3, None, {"path": cdc}),
    ]
    _commit(t, 3, [_parquet(t, "c000004-x/d.parquet")])  # v4: append
    _commit(t, 4, [], operation="delete")  # v5: no change data
    with pytest.raises(ValueError, match="enable_cdf"):
        t._cdf_slices(3, 5)


def test_tag_is_put_if_absent(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    _commit(t, None, [_rec("c000000-x/a.parquet")])
    _commit(t, 0, [])
    assert t.tag("audited", 0) == 0
    with pytest.raises(ValueError, match="already exists"):
        t.tag("audited", 1)
    assert t.tags() == {"audited": 0}
    assert TableLog(t.path)._entry("audited")["version"] == 0
    assert _tmp_files(t) == []


def test_snapshot_cache_stays_bounded_while_committing(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    files: list = []
    for v in range(50):
        files = files + [_rec(f"c{v:06d}-x/part-0.parquet")]
        _commit(t, v - 1 if v else None, files, operation="set_property")
    assert len(t._snap_cache) <= _SNAP_CACHE_SIZE == 4
    assert len(t._entry()["files"]) == 50
