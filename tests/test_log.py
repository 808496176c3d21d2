"""The commit log (``delta_lake_spark/tables/log.py``) without a JVM:
checkpoint replay, put-if-absent commits and tags, the conflict rule of a
lost commit race, the change classifier, the change-feed planner, the
snapshot cache bound and vacuum's directory tests.  No SparkSession is
started; the few data files are written with pyarrow."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_lake_spark.tables import log
from delta_lake_spark.tables.log import (
    _CHECKPOINT_INTERVAL,
    _SNAP_CACHE_SIZE,
    ConcurrentWriteError,
    TableLog,
    _never,
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


def _paths(t: TableLog, version=None) -> list:
    return [f["path"] for f in TableLog(t.path)._entry(version)["files"]]


def _abc(t: TableLog) -> tuple:
    """Three data-file records, and the table at v0 holding the first."""
    a, b, c = (_rec(f"c00000{i}-x/{n}.parquet") for i, n in enumerate("abc"))
    _commit(t, None, [a])
    return a, b, c


def test_lost_append_rebases_over_a_winning_append(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = _abc(t)
    assert _commit(TableLog(t.path), 0, [a, b]) == 1  # the winner
    assert _commit(t, 0, [a, c], conflicts_with=_never) == 2
    assert _paths(t) == [a["path"], b["path"], c["path"]]
    raw = t._raw_entry(2)
    assert (raw["add"], raw["remove"], raw["num_files"]) == ([c], [], 3)
    assert _tmp_files(t) == []


def test_compaction_rebases_over_an_append(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = _abc(t)
    _commit(t, 0, [a, b])
    _commit(TableLog(t.path), 1, [a, b, _rec("c000002-x/w.parquet")])
    assert _commit(t, 1, [c], operation="optimize", conflicts_with=_never) == 3
    assert _paths(t) == ["c000002-x/w.parquet", c["path"]]


@pytest.mark.parametrize("winner", ["remove", "deletion_vector", "overwrite"])
def test_lost_commit_raises_when_a_winner_replaced_its_file(tmp_path, winner):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = _abc(t)
    _commit(TableLog(t.path), 0, {
        "remove": [],
        "deletion_vector": [{**a, "dvs": ["c000001-dv-x/dv.parquet"]}],
        "overwrite": [b],
    }[winner], operation="delete" if winner != "overwrite" else "overwrite")
    with pytest.raises(ConcurrentWriteError, match="replaces"):
        _commit(t, 0, [c], operation="overwrite", conflicts_with=_never)
    assert t.latest_version() == 1 and _tmp_files(t) == []


@pytest.mark.parametrize(
    "change",
    [
        {"schema": {**SCHEMA, "fields": SCHEMA["fields"] * 2}},
        {"constraints": {"small": "k < 5"}},
    ],
)
def test_lost_commit_raises_on_a_layout_metadata_change(tmp_path, change):
    t = TableLog(str(tmp_path / "t"))
    a, b, _c = _abc(t)
    _commit(TableLog(t.path), 0, [a], operation="alter", **change)
    with pytest.raises(ConcurrentWriteError, match="layout metadata"):
        _commit(t, 0, [a, b], conflicts_with=_never)
    assert t.latest_version() == 1


@pytest.mark.parametrize("read_p", ["1", "2"])
def test_lost_commit_raises_when_a_winner_added_a_file_it_should_read(
    tmp_path, read_p
):
    """A merge that read partition ``read_p`` against a winner that appended
    into partition 1: a conflict only when the merge read partition 1."""
    t = TableLog(str(tmp_path / "t"))
    a, _b, c = _abc(t)
    _commit(TableLog(t.path), 0, [a, _rec("c000001-x/w.parquet", partition={"p": "1"})])

    def merge():
        return _commit(
            t,
            0,
            [c],
            operation="merge",
            conflicts_with=lambda rec: rec["partition"].get("p") == read_p,
        )

    if read_p == "1":
        with pytest.raises(ConcurrentWriteError, match="should have read"):
            merge()
    else:
        assert merge() == 2
        assert _paths(t) == ["c000001-x/w.parquet", c["path"]]


def test_rebase_reassigns_row_ids_from_the_winners_high_water_mark(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = (_parquet(t, f"c00000{i}-x/{n}.parquet") for i, n in enumerate("abc"))
    _commit(t, None, [a], row_tracking=True)  # 2 rows each
    _commit(TableLog(t.path), 0, [a, b])
    assert _commit(t, 0, [a, c], conflicts_with=_never) == 2
    snap = TableLog(t.path)._entry()
    assert [f["base_row_id"] for f in snap["files"]] == [0, 2, 4]
    assert snap["row_id_hwm"] == 6


def test_lost_commit_of_a_committed_txn_batch_is_dropped(tmp_path):
    t = TableLog(str(tmp_path / "t"))
    a, b, c = _abc(t)
    _commit(TableLog(t.path), 0, [a, b], txn={"app": "s", "batch": 1})
    replay = {"txn": {"app": "s", "batch": 1}, "conflicts_with": _never}
    assert _commit(t, 0, [a, c], **replay) == 1
    assert t.latest_version() == 1 and _paths(t) == [a["path"], b["path"]]
    # an older batch of the app is no replay: the next batch rebases
    _commit(TableLog(t.path), 1, [a, b, c], txn={"app": "s", "batch": 2})
    d = _rec("c000003-x/d.parquet")
    later = {"txn": {"app": "s", "batch": 3}, "conflicts_with": _never}
    assert _commit(t, 1, [a, b, d], **later) == 3
    assert _tmp_files(t) == []


def test_commit_gives_up_after_the_attempt_limit(tmp_path, monkeypatch):
    t = TableLog(str(tmp_path / "t"))
    a, b, _c = _abc(t)
    links = []
    monkeypatch.setattr(log, "_put_if_absent", lambda final, doc: links.append(final))
    with pytest.raises(ConcurrentWriteError, match="lost 10 commit races"):
        _commit(t, 0, [a, b], conflicts_with=_never)
    assert len(links) == 10 and set(links) == {t._log_path(1)}  # no winner seen


@pytest.mark.parametrize("parent", ["plain", "event_logs", "a-pub-b"])
def test_vacuum_tests_directory_names_relative_to_the_table(tmp_path, parent):
    """Only the table's own ``_log`` and staging directories are special,
    whatever the directories above the table are called."""
    from delta_lake_spark.tables.managed import ManagedTable

    t = ManagedTable(None, str(tmp_path / parent / "t"))
    a = _parquet(t, "c000000-a/p.parquet")
    _commit(t, None, [a])
    _commit(t, 0, [])
    assert t.vacuum(dry_run=True) == ["c000000-a/p.parquet"]
