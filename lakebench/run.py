"""Lakehouse benchmark runner.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Lands seeded inputs, starts one local Spark
session, prepares the workload's lake, warms up, then runs the workload's
closed loop for ``--seconds`` (stopping at a round boundary) and checks
every op's output.  All files go under ``.lakebench_work/`` (removed at
exit) and ``.lakebench_out/`` (trace spans and the full report).

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from traced ops that alternate with untraced ones.  The line before
it is the full report: every metric, not-applicable ones as ``null``, the
run environment, and the input sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERY_FAMILIES = "qtdvsmp"

# layer -> which span names its self time sums
SELF_LAYERS = {
    **{f"pipeline.{step}": (lambda k, s=step: k == f"pipeline.{s}")
       for step in ("build_bronze", "build_silver", "validate_silver", "build_gold", "refresh_gold")},
    "quality": lambda k: k.startswith("quality."),
    **{f"tables.{t}": (lambda k, t=t: k == f"tables.{t}")
       for t in ("write", "merge", "anti_join_append", "optimize")},
    "tables.read.plan": lambda k: k == "tables.read",
    "tables.scan.exec": lambda k: k == "tables.scan.exec",
    "io.export_for_copy": lambda k: k == "io.export_for_copy",
    "queries.plan": lambda k: k.startswith("queries.") and k.endswith(".plan"),
    "queries.exec": lambda k: k.startswith("queries.") and k.endswith(".exec"),
    **{f"queries.{f}.exec": (lambda k, f=f: k == f"queries.{f}.exec") for f in QUERY_FAMILIES},
}

END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "op_cpu_p50_s": "s", "op_cpu_tail_s": "s",
    "error_rate": "ratio", "write_amp": "ratio", "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
# The end-to-end metrics BENCHMARK.json gates: the ones that apply to, and
# are never 0 on, every workload it keeps, and that repeat across runs.
# On a shared host the wall-clock op figures move with the CPU time other
# guests take (an upsert at 13% steal reads 50% slower): over ten seeds
# their interquartile range reached a third of the median, where an op's
# CPU seconds stayed under a tenth.  The op_tail figures, over a few
# samples a run, spread more than the medians.  peak_rss_mb is left out: the JVM grows its heap
# adaptively, and the peak moves by a third between runs of the same input.
GATED = ["setup_s", "op_cpu_p50_s"]
# The per-layer metrics BENCHMARK.json lists, with their units.  A layer
# that only some workloads run is listed by its share of op (or set-up)
# wall time, so it reads 0 where it does not run; absolute seconds are in
# the full report and the trace file.
PER_LAYER = {
    "session.start_s": "s", "trace.op_p50_s": "s", "trace.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "storage.bytes_read": "bytes", "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "tables.read.plan.share": "ratio", "tables.scan.exec.share": "ratio",
    "tables.scan.files_kept_ratio": "ratio",
    "tables.write.calls": "count", "tables.write.share": "ratio",
    "tables.merge.calls": "count", "tables.merge.share": "ratio",
    "tables.merge.files_rewritten": "count",
    "tables.anti_join_append.share": "ratio", "pipeline.refresh_gold.share": "ratio",
    "tables.log.versions": "count", "tables.log.tail_len": "count",
    "queries.plan.share": "ratio", "queries.exec.share": "ratio",
    "queries.q.exec.share": "ratio", "queries.t.exec.share": "ratio",
    "queries.d.exec.share": "ratio", "queries.v.exec.share": "ratio",
    "setup.pipeline.build_bronze.share": "ratio", "setup.pipeline.build_silver.share": "ratio",
    "setup.pipeline.build_gold.share": "ratio", "setup.quality.share": "ratio",
    "setup.tables.write.share": "ratio", "setup.tables.optimize.share": "ratio",
    "setup.io.export_for_copy.share": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is the smoke test's")
    return ap.parse_args(argv)


def tail(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile with at least ten
    samples beyond it.  Below 21 samples no percentile at or above the
    median has ten beyond it, and the maximum is reported instead."""
    s = sorted(lat)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def lake_bytes(spark, root: str) -> tuple[int, int]:
    """(bytes on disk under ``root``, bytes of live files in the head
    snapshots of every managed table under it)."""
    from delta_lake_spark.tables import ManagedTable

    disk = live = 0
    for d, dirs, files in os.walk(root):
        disk += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        if ManagedTable.is_managed_table(d):
            live += ManagedTable(spark, d).detail()["size_bytes"]
    return disk, live


class Runner:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = os.path.join(os.getcwd(), ".lakebench_work", f"{args.workload}-{os.getpid()}")
        self.out_dir = os.path.join(os.getcwd(), ".lakebench_out")
        self.spark = None
        self.gateway_proc = None

    def start_spark(self):
        from delta_lake_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.env = {
            "master": f"local[{cpus}]", "cpus": cpus, "shuffle_partitions": 2 * cpus,
            "driver_memory": "4g", "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "flush": "local filesystem, no forced fsync",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"lakebench-{self.args.workload}", cpus=cpus,
            shuffle_partitions=2 * cpus, driver_memory="4g",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        proc = self.gateway_proc
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort below
                proc.kill()
                proc.wait(timeout=30)

    def run(self) -> dict:
        from probes import JvmProbe, cpu_times, host_census, steal_share, tree_bytes, tree_cpu_s, written_since
        from tracer import Tracer, install
        from workloads import SIZES, WORKLOADS

        args = self.args
        census_start = host_census()
        tracer = Tracer()
        trace = bool(args.trace)
        undo = install(tracer) if trace else None
        tracer.op_id = "setup"
        tracer.enabled = trace

        with tracer.span("session.start"):
            session_s = self.start_spark()
        spark = self.spark
        probe = JvmProbe(spark)
        size = SIZES[args.workload][args.size]
        wl = WORKLOADS[args.workload](spark, self.work, args.seed, size, tracer)
        t0 = time.perf_counter()
        wl.setup()
        prep_s = time.perf_counter() - t0
        tracer.enabled = False

        # warm-up: the JVM's first pass over each plan shape compiles code
        t0 = time.perf_counter()
        warm_failures = []
        for r in range(wl.warmup_rounds):
            for op in wl.round(r):
                bad = op.check(op.run())
                if bad:
                    warm_failures.append(bad)
        warmup_s = time.perf_counter() - t0

        lat: list[float] = []
        cpu: list[float] = []
        lat_by_kind: dict[str, list[float]] = {}
        traced_lat: dict[str, list[float]] = {}
        untraced_lat: dict[str, list[float]] = {}
        seen: dict[str, int] = {}
        failures: list[str] = []
        bytes_written = user_bytes = 0
        per_op_counts: dict[str, dict[str, float]] = {}
        probe.reset_heap_peak()
        gc0 = probe.gc_ms()
        cpu0 = cpu_times()
        start = time.perf_counter()
        r = wl.warmup_rounds
        while time.perf_counter() - start < args.seconds:
            for op in wl.round(r):
                op_id = f"op-{len(lat) + len(failures)}"
                # alternate traced and untraced ops of each kind, starting
                # traced, so every kind is traced at least once
                traced = trace and seen.get(op.kind, 0) % 2 == 0
                seen[op.kind] = seen.get(op.kind, 0) + 1
                before = tree_bytes(wl.lake_root) if wl.writes else None
                if traced:
                    spark.sparkContext.setJobGroup(op_id, op.kind)
                    io0, g0 = probe.proc_io(), probe.gc_ms()
                tracer.op_id, tracer.enabled = op_id, traced
                cpu_start = tree_cpu_s()
                t = time.perf_counter()
                try:
                    try:
                        with tracer.span("op"):
                            out = op.run()
                        dt_op = time.perf_counter() - t
                        cpu_op = tree_cpu_s() - cpu_start
                    finally:
                        tracer.enabled = False
                        if traced:
                            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    bad = op.check(out)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    bad = f"{op.kind}: {type(e).__name__}: {e}"
                if bad:
                    failures.append(bad)
                    print(f"op {op_id} failed: {bad}", file=sys.stderr)
                    continue
                lat.append(dt_op)
                cpu.append(cpu_op)
                lat_by_kind.setdefault(op.kind, []).append(dt_op)
                if before is not None:
                    b, _n = written_since(before, tree_bytes(wl.lake_root))
                    bytes_written += b
                    user_bytes += op.user_bytes
                if trace:
                    (traced_lat if traced else untraced_lat).setdefault(op.kind, []).append(dt_op)
                if traced:
                    io1 = probe.proc_io()
                    jobs, stages, tasks = probe.job_group_counts(op_id)
                    c = {
                        "wall_s": dt_op, "spark.jobs": jobs, "spark.stages": stages,
                        "spark.tasks": tasks, "jvm.gc_s": (probe.gc_ms() - g0) / 1000.0,
                        "storage.bytes_written": io1["write_bytes"] - io0["write_bytes"],
                        "storage.bytes_read": io1["rchar"] - io0["rchar"],
                    }
                    if before is not None:
                        c["storage.files_written"] = _n
                    if op.trace_counts is not None:
                        c.update(op.trace_counts())
                    per_op_counts[op_id] = c
            r += 1
        measured_s = time.perf_counter() - start
        gc_s = (probe.gc_ms() - gc0) / 1000.0

        attempted = len(lat) + len(failures)
        e2e: dict[str, float | None] = {
            "setup_s": session_s + prep_s,
            "op_p50_s": statistics.median(lat) if lat else None,
            "op_tail_s": tail(lat)[0] if lat else None,
            "ops_per_s": len(lat) / sum(lat) if lat else None,
            "op_cpu_p50_s": statistics.median(cpu) if cpu else None,
            "op_cpu_tail_s": tail(cpu)[0] if cpu else None,
            "error_rate": len(failures) / attempted if attempted else None,
            "write_amp": bytes_written / user_bytes if wl.writes and user_bytes else None,
            "space_amp": None,
            "peak_rss_mb": probe.peak_rss_mb(),
        }
        if wl.lake_root and os.path.isdir(wl.lake_root):
            disk, live = lake_bytes(spark, wl.lake_root)
            e2e["space_amp"] = disk / live if live else None

        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size,
            "correct": not failures and not warm_failures,
            "attempted": attempted, "failed": len(failures),
            "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
            "op_tail_percentile": tail(lat)[1] if lat else None,
            "samples": len(lat), "rounds": r - wl.warmup_rounds, "measured_s": measured_s,
            "setup": {"session_start_s": session_s, "prep_s": prep_s, "warmup_s": warmup_s},
            "op_p50_by_kind_s": {k: statistics.median(v) for k, v in sorted(lat_by_kind.items())},
            "op_latencies_s": lat,
            "op_cpu_s": cpu,
            "inputs": wl.inputs, "env": {**self.env, "seed": args.seed},
            "host_start": census_start, "host_end": host_census(),
            "cpu_steal_share": steal_share(cpu0, cpu_times()),
            "failures": (warm_failures + failures)[:5],
        }
        if trace:
            report["per_layer"] = self.per_layer(
                wl, tracer, probe, per_op_counts, traced_lat, untraced_lat,
                session_s, session_s + prep_s, gc_s)
            report["self_time_violations"] = self.self_time_violations(tracer, per_op_counts)
            os.makedirs(self.out_dir, exist_ok=True)
            report["trace_file"] = os.path.join(
                self.out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(report["trace_file"])
            undo()
        return report

    @staticmethod
    def self_time_violations(tracer, per_op_counts) -> int:
        """Traced ops whose layer self times sum past the op's wall time."""
        bad = 0
        for op, names in tracer.self_times().items():
            if op in per_op_counts:
                inner = sum(v for k, v in names.items() if k != "op")
                bad += inner > per_op_counts[op]["wall_s"] + 1e-6
        return bad

    def per_layer(self, wl, tracer, probe, per_op_counts, traced_lat, untraced_lat,
                  session_s, setup_s, gc_s) -> dict:
        from delta_lake_spark.ops.advisor import maintenance_report
        from delta_lake_spark.tables import ManagedTable

        ops = sorted(per_op_counts)
        n = max(1, len(ops))
        op_wall = sum(per_op_counts[op]["wall_s"] for op in ops) or 1.0
        selfs = tracer.self_times()
        setup_selfs = selfs.get("setup", {})
        layer: dict[str, float] = {"session.start_s": session_s}

        for m, pred in SELF_LAYERS.items():
            name = f"{m}_s" if m.endswith((".plan", ".exec")) else f"{m}.self_s"
            total = sum(v for op in ops for k, v in selfs.get(op, {}).items() if pred(k))
            layer[name] = total / n
            layer[f"{m}.share"] = total / op_wall
            setup_total = sum(v for k, v in setup_selfs.items() if pred(k))
            layer[f"setup.{name}"] = setup_total
            layer[f"setup.{m}.share"] = setup_total / setup_s

        def count_sum(name: str) -> float:
            return sum(tracer.counts.get((op, name), 0.0) for op in ops) / n

        def op_sum(name: str) -> float:
            return sum(per_op_counts[op].get(name, 0.0) for op in ops) / n

        bad, rows = getattr(wl, "bad_orders", 0), wl.inputs.get("orders", 0)
        layer["quality.quarantined_rows"] = bad / rows if rows else 0.0
        for t in ("write", "merge"):
            layer[f"tables.{t}.calls"] = count_sum(f"tables.{t}.calls")
        rewritten = 0
        for op, path, version in tracer.merge_commits:
            if op in per_op_counts:
                hist = {h["version"]: h for h in ManagedTable(self.spark, path).history()}
                cur, prev = hist[version], hist.get(version - 1)
                added = cur.get("added_files") or 0
                removed = (prev["num_files"] if prev else 0) + added - cur["num_files"]
                rewritten += added + removed
        layer["tables.merge.files_rewritten"] = rewritten / n
        layer["tables.optimize.bytes_rewritten"] = count_sum("tables.optimize.bytes_rewritten")
        total = op_sum("tables.scan.files_total")
        layer["tables.scan.files_kept_ratio"] = op_sum("tables.scan.files_kept") / total if total else 0.0
        log = wl.log_table()
        if log and ManagedTable.is_managed_table(log):
            rep = maintenance_report(ManagedTable(self.spark, log))
            layer["tables.log.versions"] = rep["version"] + 1
            layer["tables.log.tail_len"] = rep["log_tail"]
        else:
            layer["tables.log.versions"] = layer["tables.log.tail_len"] = 0
        layer["io.export.bytes"] = count_sum("io.export.bytes")
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "jvm.gc_s",
                  "storage.bytes_written", "storage.bytes_read", "storage.files_written"):
            layer[k] = op_sum(k)
        layer["jvm.gc_total_s"] = gc_s
        layer["jvm.heap_peak_mb"] = probe.heap_peak_mb()
        layer["trace.ops"] = len(ops)
        traced_all = [x for v in traced_lat.values() for x in v]
        untraced_all = [x for v in untraced_lat.values() for x in v]
        layer["trace.op_p50_s"] = statistics.median(traced_all) if traced_all else 0.0
        layer["trace.untraced_op_p50_s"] = statistics.median(untraced_all) if untraced_all else 0.0
        # traced minus untraced median latency, per op kind (the kinds'
        # latencies differ, and the ones that occur once a round are only
        # traced), then the median over the kinds that have both
        diffs = [statistics.median(traced_lat[k]) - statistics.median(untraced_lat[k])
                 for k in traced_lat if k in untraced_lat]
        layer["trace.overhead_s"] = statistics.median(diffs) if diffs else 0.0
        return layer


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import delta_lake_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"lakebench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runner = Runner(args)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(runner.work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(runner.work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(runner.work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        report = runner.run()
    finally:
        runner.stop_spark()
        shutil.rmtree(runner.work, ignore_errors=True)
        parent = os.path.dirname(runner.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if args.trace:
        metrics = {k: {"value": report["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: report["end_to_end"][k] for k in GATED}
    os.makedirs(runner.out_dir, exist_ok=True)
    with open(os.path.join(runner.out_dir, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(report["correct"] and report.get("self_time_violations", 0) == 0),
        "attempted": report["attempted"], "failed": report["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
