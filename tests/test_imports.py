"""Every module of the engine and every script under ``tools/`` imports
cleanly, so a deleted module that something still imports fails here, in
the fast tier, without a SparkSession."""

from __future__ import annotations

import importlib
import pathlib
import pkgutil
import subprocess
import sys

import delta_lake_spark

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_TOOLS = _ROOT / "tools"


def test_every_module_imports():
    failures: dict[str, str] = {}

    def record(name):
        # walk_packages imports each package to list its children; without
        # this hook it silently skips a package whose import fails
        failures[name] = repr(sys.exc_info()[1])

    names = [
        m.name
        for m in pkgutil.walk_packages(
            delta_lake_spark.__path__, "delta_lake_spark.", onerror=record
        )
    ]
    names += [f"tools.{p.stem}" for p in sorted(_TOOLS.glob("*.py"))]
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as exc:
            failures[name] = repr(exc)
    assert "delta_lake_spark.ops.ranking" in names
    assert not failures, failures


# Loads tables/log.py by file path with pyspark blocked, then commits and
# replays a 12-version log (one checkpoint) through a second, cold handle,
# and loses one commit race and rebases.
_SPARK_FREE_LOG = """
import importlib.util, sys
sys.modules["pyspark"] = None
spec = importlib.util.spec_from_file_location("table_log", sys.argv[1])
log = importlib.util.module_from_spec(spec)
spec.loader.exec_module(log)
t = log.TableLog(sys.argv[2])
files = []
for v in range(12):
    files.append({"path": f"c{v:06d}-x/part.parquet", "size": 1, "partition": {}})
    t._commit({"operation": "append", "read_version": v - 1 if v else None,
               "files": list(files)})
snap = log.TableLog(sys.argv[2])._entry()
assert (snap["version"], len(snap["files"])) == (11, 12), snap
assert t._checkpoint_versions() == [10]
winner = {"path": "c000012-w/part.parquet", "size": 1, "partition": {}}
log.TableLog(sys.argv[2])._commit({"operation": "append", "read_version": 11,
                                   "files": files + [winner]})
v = t._commit({"operation": "append", "read_version": 11,
               "files": files + [{**winner, "path": "c000012-x/part.parquet"}],
               "conflicts_with": log._never})
assert (v, len(log.TableLog(sys.argv[2])._entry()["files"])) == (13, 14)
"""


def test_commit_log_module_needs_no_pyspark(tmp_path):
    """``tables/log.py`` imports no pyspark and nothing from its package
    (whose ``__init__`` pulls pyspark in): the stream source's Python
    data-source workers use it without a SparkSession."""
    log_py = _ROOT / "delta_lake_spark" / "tables" / "log.py"
    out = subprocess.run(
        [sys.executable, "-c", _SPARK_FREE_LOG, str(log_py), str(tmp_path / "t")],
        cwd=_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
