"""Every module of the engine and every script under ``tools/`` imports
cleanly, so a deleted module that something still imports fails here, in
the fast tier, without a SparkSession."""

from __future__ import annotations

import importlib
import pathlib
import pkgutil
import sys

import delta_lake_spark

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


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
