"""Liquid-clustering analog: set_clustering + incremental optimize()."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from delta_lake_spark.tables.managed import ManagedTable


def _batch(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .withColumn("k", (F.col("id") * 37) % 1000)
        .withColumn("v", F.col("id") % 7)
        .repartition(4)
    )


def _tags(t):
    return {f["path"]: f.get("clustered") for f in t._entry()["files"]}


def test_incremental_pass_skips_already_clustered_files(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 10_000))
    t.set_clustering(["k"])
    assert t.clustering() == ["k"]
    t.optimize(target_file_bytes=64 * 1024)
    tags = _tags(t)
    assert tags and all(v == "k" for v in tags.values())
    clustered_paths = set(tags)

    # append new data: its files are untagged → only they rewrite next pass
    t.write(_batch(spark, 10_000, 12_000), mode="append")
    tags2 = _tags(t)
    assert {p for p, v in tags2.items() if v == "k"} == clustered_paths
    t.optimize(target_file_bytes=64 * 1024)
    tags3 = _tags(t)
    assert all(v == "k" for v in tags3.values())
    # the first pass's output carried over by reference, not rewritten
    assert clustered_paths <= set(tags3)
    # results identical to the raw data
    assert t.read().count() == 12_000

    # fully clustered table → incremental pass is a metadata no-op
    v = t.latest_version()
    assert t.optimize(target_file_bytes=64 * 1024) == v


def test_incremental_clustering_produces_skipping_stats(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 50_000))
    t.set_clustering(["k"])
    t.optimize(target_file_bytes=64 * 1024)
    surviving, total = t.pruned_file_count([("k", "=", 37)])
    assert surviving < total  # clustered layout skips files on k


def test_full_pass_reclusters_everything(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 5_000))
    t.set_clustering(["k"])
    t.optimize(target_file_bytes=64 * 1024)
    before = set(_tags(t))
    t.optimize(target_file_bytes=64 * 1024, full=True)
    after = set(_tags(t))
    assert before.isdisjoint(after)  # every file rewritten
    assert all(v == "k" for v in _tags(t).values())


def test_changing_clustering_key_requeues_all_files(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 5_000))
    t.set_clustering(["k"])
    t.optimize(target_file_bytes=64 * 1024)
    old = set(_tags(t))
    t.set_clustering(["v"])
    t.optimize(target_file_bytes=64 * 1024)
    tags = _tags(t)
    assert set(tags).isdisjoint(old)  # old-key files all rewritten
    assert all(v == "v" for v in tags.values())


def test_merge_output_requeues_only_rewritten_files(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 20_000))
    t.set_clustering(["k"])
    t.optimize(target_file_bytes=64 * 1024)
    # merge keyed on the clustering column: stats pruning leaves high-k
    # files untouched (tags intact), low-k files rewrite (tags dropped)
    src = spark.range(0, 50).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.col("id").alias("k"),
        F.lit(99).alias("v"),
    )
    t.merge(src, ["k"])
    tags = _tags(t)
    untagged = [p for p, v in tags.items() if v != "k"]
    tagged = [p for p, v in tags.items() if v == "k"]
    assert untagged and tagged  # merge rewrote a subset; rest kept tags
    t.optimize(target_file_bytes=64 * 1024)
    assert all(v == "k" for v in _tags(t).values())
    assert t.read().filter(F.col("v") == 99).count() >= 50


def test_explicit_zorder_args_still_win(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 2_000))
    t.set_clustering(["k"])
    # explicit different zorder: a full-scope rewrite on other columns,
    # which must NOT tag files as clustered-by-k
    t.optimize(zorder_by=["v"], target_file_bytes=64 * 1024)
    assert all(v is None for v in _tags(t).values())


def test_clustering_guard_rails(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 100))
    with pytest.raises(ValueError, match="not in table schema"):
        t.set_clustering(["nope"])
    t.set_clustering(["k"])
    assert t.properties()["clustering_by"] == ["k"]
    with pytest.raises(ValueError, match="clustering column"):
        t.rename_column("k", "key")
    t.set_clustering(None)
    assert t.clustering() == []
    t.rename_column("k", "key")  # allowed once cleared


def test_cluster_on_write_via_auto_compact(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 5_000))
    t.set_clustering(["k"])
    t.optimize(target_file_bytes=64 * 1024)
    t.set_auto_compact(min_files=2, min_file_bytes=64 * 1024)
    t.write(_batch(spark, 5_000, 5_500), mode="append")
    # auto-compact's plain optimize() ran as an incremental clustering
    # pass: everything ends up tagged without an explicit maintenance call
    assert all(v == "k" for v in _tags(t).values())
    assert t.read().count() == 5_500


def test_optimize_with_retry_survives_version_race(spark, tmp_path, monkeypatch):
    from delta_lake_spark.tables.managed import ConcurrentWriteError

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(_batch(spark, 0, 5_000))
    t.set_clustering(["k"])

    real_commit = ManagedTable._commit
    fails = {"left": 1}

    def flaky_commit(self, entry):
        if fails["left"] and entry.get("operation") == "zorder":
            fails["left"] -= 1
            # a competing append wins the version the optimize wanted
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
    t.optimize_with_retry(target_file_bytes=64 * 1024)
    assert all(v == "k" for v in _tags(t).values())
    assert t.read().count() == 5_000

    fails["left"] = 99
    t.write(_batch(spark, 5_000, 5_100), mode="append")
    with pytest.raises(ConcurrentWriteError):
        t.optimize_with_retry(max_retries=1, target_file_bytes=64 * 1024)


# ---------------------------------------------------------------------- #
# property test: any interleaving of appends / deletes / incremental and
# full clustering passes preserves the table contents exactly, and tags
# only ever name the CURRENT clustering key
# ---------------------------------------------------------------------- #
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.sampled_from(["append", "optimize", "full", "delete", "rekey"]),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_clustering_sequences_preserve_contents(spark, ops):
    root = tempfile.mkdtemp(prefix="cl_prop_")
    t = ManagedTable(spark, root)
    t.write(_batch(spark, 0, 1000))
    t.set_clustering(["k"])
    model = set(range(0, 1000))
    nxt = 1000
    key = "k"
    for op in ops:
        if op == "append":
            t.write(_batch(spark, nxt, nxt + 200), mode="append")
            model |= set(range(nxt, nxt + 200))
            nxt += 200
        elif op == "optimize":
            t.optimize(target_file_bytes=64 * 1024)
        elif op == "full":
            t.optimize(target_file_bytes=64 * 1024, full=True)
        elif op == "delete":
            lo = min(model, default=0)
            t.delete_where([("id", "<", lo + 50)])
            model = {i for i in model if i >= lo + 50}
        elif op == "rekey":
            key = "v" if key == "k" else "k"
            t.set_clustering([key])
        # invariants after every step
        got = {r.id for r in t.read().select("id").collect()}
        assert got == model
        tags = {f.get("clustered") for f in t._entry()["files"]}
        # tags only ever name a declared key (a stale tag right after a
        # rekey is expected — it simply no longer matches and requeues)
        assert tags <= {None, "k", "v"}
        if op in ("optimize", "full"):
            # a completed pass leaves every file clustered under the
            # CURRENT key
            assert tags == {key}


@pytest.mark.full  # >13s multi-process/stream differential: round-close tier
def test_multiprocess_maintenance_races_live_writer(spark, tmp_path):
    """Two separate JVMs: one runs conflicting full-upsert merges, the
    other runs incremental clustering passes through optimize_with_retry.
    Contract: no commit lost (versions exactly-once, each merge's unique
    key present), the final contents are a serializable merge state (one
    writer tag on every shared row), and the table is still cleanly
    clusterable afterwards."""
    import subprocess
    import sys
    import time as _time
    from pathlib import Path

    path = str(tmp_path / "contended")
    sync = tmp_path / "sync"
    sync.mkdir()

    t = ManagedTable(spark, path)
    t.write(
        spark.range(100)
        .withColumn("v", F.lit("init"))
        .withColumn("writer", F.lit("init"))
    )
    t.set_clustering(["id"])

    here = Path(__file__).parent
    n_merges, n_passes = 3, 3
    procs = [
        subprocess.Popen(
            [sys.executable, str(here / "concurrent_writer_child.py"),
             path, str(sync), "A", str(n_merges), "1000"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ),
        subprocess.Popen(
            [sys.executable, str(here / "maintenance_child.py"),
             path, str(sync), str(n_passes)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ),
    ]
    deadline = _time.time() + 180
    while not all((sync / f"ready-{x}").exists() for x in ("A", "M")):
        assert _time.time() < deadline, "children failed to initialize Spark"
        for p in procs:
            assert p.poll() is None, p.communicate()[1][-2000:]
        _time.sleep(0.1)
    (sync / "go").touch()

    for p, tag in zip(procs, ("writer", "maintenance")):
        _out, err = p.communicate(timeout=300)
        assert p.returncode == 0, f"{tag} child failed:\n{err[-3000:]}"

    hist = t.history()
    versions = [h["version"] for h in hist]
    assert len(set(versions)) == len(versions)  # exactly-once commits
    assert versions == list(range(len(versions) - 1, -1, -1))  # contiguous
    assert sum(1 for h in hist if h["operation"] == "merge") == n_merges

    rows = t.read().collect()
    assert len(rows) == 100 + n_merges
    # no merge lost to a clustering pass: each merge's unique key is present
    assert {r.id: r.v for r in rows if r.id >= 100} == {
        1000 + i: f"A:{i}" for i in range(n_merges)
    }
    tags = {r.v for r in rows if r.id < 100}
    assert tags == {f"A:{n_merges - 1}"}  # serializable final merge state

    # the table remains cleanly clusterable after the contention
    t.optimize(target_file_bytes=64 * 1024)
    assert all(f.get("clustered") == "id" for f in t._entry()["files"])
    assert {r.id for r in t.read().select("id").collect()} == set(range(100)) | {
        1000 + i for i in range(n_merges)
    }
