"""In-memory spans around the engine's public calls, from outside the engine.

``install`` replaces the public functions and methods the benchmark traces
with thin wrappers and returns a callable that puts the originals back.  A
wrapper records a span only while ``Tracer.enabled`` is set, so one run can
alternate traced and untraced ops.  Nothing in the engine is edited: the
spans sit at the call boundaries a user of the library sees.

A span is (name, start, end, parent index, op id).  A layer's self time is
its spans' duration minus the part covered by their child spans; ops run on
one thread, so children never overlap and the subtraction is exact.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op_id: str | None = None
        self.spans: list[list[Any]] = []  # [name, start, end, parent, op_id]
        self._stack: list[int] = []
        # (op_id, counter name) -> value, for counts taken at the boundaries
        self.counts: dict[tuple[str | None, str], float] = defaultdict(float)
        # (table path, committed version) of every traced merge, resolved
        # to files rewritten after the op, off the op's clock
        self.merge_commits: list[tuple[str | None, str, int]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[(self.op_id, name)] += value

    def self_times(self) -> dict[str | None, dict[str, float]]:
        """op id -> span name -> summed self time (seconds)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, (name, start, end, _parent, op) in enumerate(self.spans):
            out[op][name] += (end - start) - child[i]
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        t0 = self.spans[0][1] if self.spans else 0.0
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": name, "start": round(start - t0, 6),
                    "end": round(end - t0, 6), "parent": parent, "op": op,
                }) + "\n")


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _wrap(tracer: Tracer, name: str, fn: Callable, after: Callable | None = None) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        tracer.count(f"{name}.calls")
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if after is not None:
            after(args, kwargs, out)
        return out

    return wrapper


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the traced public calls; returns the undo function."""
    from delta_lake_spark import quality
    from delta_lake_spark import tables as tables_pkg
    from delta_lake_spark.io import serving
    from delta_lake_spark.pipeline import medallion
    from delta_lake_spark.tables import incremental
    from delta_lake_spark.tables.managed import ManagedTable

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner: Any, attr: str, new: Any) -> None:
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    for step in ("run", "build_bronze", "build_silver", "validate_silver",
                 "build_gold", "refresh_gold", "ingest_orders_increment"):
        patch(medallion.MedallionPipeline, step,
              _wrap(tracer, f"pipeline.{step}", getattr(medallion.MedallionPipeline, step)))

    for fn in ("expect_or_quarantine", "split_by_expectations", "assert_unique",
               "assert_no_nulls", "assert_invariant", "assert_count_equals",
               "reconcile_sums", "assert_schema", "profile"):
        patch(quality, fn, _wrap(tracer, f"quality.{fn}", getattr(quality, fn)))

    def merged(args, _kwargs, version):
        tracer.merge_commits.append((tracer.op_id, args[0].path, version))

    patch(ManagedTable, "write", _wrap(tracer, "tables.write", ManagedTable.write))
    patch(ManagedTable, "merge", _wrap(tracer, "tables.merge", ManagedTable.merge, merged))
    patch(ManagedTable, "read", _wrap(tracer, "tables.read", ManagedTable.read))
    patch(ManagedTable, "scan", _wrap(tracer, "tables.read", ManagedTable.scan))

    plain_optimize = ManagedTable.optimize

    @functools.wraps(plain_optimize)
    def optimize(self, *args, **kwargs):
        if not tracer.enabled:
            return plain_optimize(self, *args, **kwargs)
        before = _tree_files(self.path)
        with tracer.span("tables.optimize"):
            out = plain_optimize(self, *args, **kwargs)
        after = _tree_files(self.path)
        tracer.count("tables.optimize.bytes_rewritten",
                     sum(s for p, s in after.items() if p not in before))
        return out

    patch(ManagedTable, "optimize", optimize)

    aja = _wrap(tracer, "tables.anti_join_append", incremental.anti_join_append)
    for owner in (incremental, tables_pkg, medallion):
        patch(owner, "anti_join_append", aja)

    def exported(_args, _kwargs, out):
        files = [out["script"]]
        if os.path.isdir(out["data"]):
            files += [os.path.join(out["data"], f) for f in os.listdir(out["data"])]
        else:
            files.append(out["data"])
        tracer.count("io.export.bytes", sum(os.path.getsize(f) for f in files))

    patch(serving, "export_for_copy",
          _wrap(tracer, "io.export_for_copy", serving.export_for_copy, exported))

    def undo() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo
