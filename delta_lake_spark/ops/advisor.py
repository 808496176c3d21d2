"""Statistics-driven planning and maintenance advisors.

``join_advisor`` turns ``ManagedTable.analyze()`` statistics into a join
strategy recommendation — the decision a cost-based optimizer makes from
ANALYZE stats (broadcast vs shuffle, and whether the key distribution
calls for the hot-key salted path in :mod:`delta_lake_spark.ops.skew`).
Spark's AQE makes the broadcast decision at runtime from actual sizes;
this advisor makes it *ahead of submission* from table stats, which is
what you want when choosing between pipeline shapes (e.g. whether to
pre-bucket, or to schedule ``hot_key_salted_join``) before paying for a
run at 100 TB.

``maintenance_report`` inspects a table's commit log and file layout and
recommends the maintenance actions the table layer provides (OPTIMIZE for
small files, purge_deletes for deletion-vector debt, vacuum for
unreferenced files, cleanup_log for long log tails) — the advisory layer
over M1/M2 (SURVEY.md §2.11; Databricks' auto-tuner / predictive
optimization analog, built only on the public maintenance surface).
"""

from __future__ import annotations

import os
from typing import Any, Sequence

from delta_lake_spark.tables.managed import ManagedTable

# AQE's spark.sql.autoBroadcastJoinThreshold default is 10MB; at
# 128 GiB-executor scale a 32 MiB build side is still comfortably
# broadcastable, and parquet sizes understate in-memory size ~2-4x,
# so stay conservative by default.
BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024
TARGET_SHUFFLE_PARTITION_BYTES = 128 * 1024 * 1024


def _require_stats(t: ManagedTable, role: str) -> dict[str, Any]:
    s = t.statistics()
    if s is None:
        raise ValueError(
            f"{role} table at {t.path!r} has no statistics — run "
            "ManagedTable.analyze() first (one scan; approximate NDV via "
            "exact_distinct=False is fine for planning)"
        )
    return s


def _key_stats(
    stats: dict[str, Any], keys: Sequence[str], role: str, path: str
) -> tuple[int, int]:
    """(n_rows, ndv of the join key) from analyze stats.  For a composite
    key the NDV of the combination is unknown — bounded below by the max
    single-column NDV, which is the safe (skew-pessimistic) estimate."""
    cols = stats["columns"]
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(
            f"{role} table {path!r} statistics lack join key column(s) "
            f"{missing} — re-run analyze() covering them"
        )
    ndv = max(max(cols[k]["n_distinct"] for k in keys), 1)
    return int(stats["n_rows"]), ndv


def join_advisor(
    left: ManagedTable,
    right: ManagedTable,
    on: Sequence[str],
    broadcast_threshold_bytes: int = BROADCAST_THRESHOLD_BYTES,
    hot_rows_per_key: float = 1000.0,
    stale_commit_warning: int = 10,
) -> dict[str, Any]:
    """Recommend a join strategy for ``left ⋈ right on keys`` from table
    statistics.

    Decision ladder (mirrors what Catalyst+AQE would pick, plus the skew
    escape hatch Spark only partially covers):

    1. smaller side's live bytes <= threshold  → ``broadcast`` that side
       (BroadcastHashJoin: no shuffle of the big side at all);
    2. else if the probe side averages more than ``hot_rows_per_key`` rows
       per join key (rows/NDV — heavy repetition means some keys are far
       above even that average) → ``salted`` (use
       ``ops.skew.hot_key_salted_join``; AQE skew-join splits oversized
       *partitions*, but a single mega-key still lands in one task);
    3. else → ``sort_merge`` with a suggested shuffle-partition count
       sized so each partition stays near 128 MiB of input.

    Returns a dict with the strategy, the build side, reasons, and the
    raw estimates, so callers can log the decision next to the plan.
    """
    ls, rs = _require_stats(left, "left"), _require_stats(right, "right")
    l_rows, l_ndv = _key_stats(ls, on, "left", left.path)
    r_rows, r_ndv = _key_stats(rs, on, "right", right.path)
    l_bytes, r_bytes = int(ls["size_bytes"]), int(rs["size_bytes"])

    warnings = []
    for role, s in (("left", ls), ("right", rs)):
        if s["commits_since_analyze"] > stale_commit_warning:
            warnings.append(
                f"{role} statistics are {s['commits_since_analyze']} commits "
                "old — re-run analyze() before trusting size estimates"
            )

    out: dict[str, Any] = {
        "keys": list(on),
        "estimates": {
            "left": {"rows": l_rows, "bytes": l_bytes, "key_ndv": l_ndv},
            "right": {"rows": r_rows, "bytes": r_bytes, "key_ndv": r_ndv},
        },
        "warnings": warnings,
    }

    build, build_bytes = ("right", r_bytes) if r_bytes <= l_bytes else ("left", l_bytes)
    if build_bytes <= broadcast_threshold_bytes:
        out["strategy"] = "broadcast"
        out["build_side"] = build
        out["reason"] = (
            f"{build} side is ~{build_bytes} bytes on disk "
            f"(<= {broadcast_threshold_bytes}): broadcast it and avoid "
            "shuffling the large side entirely"
        )
        return out

    probe_rows, probe_ndv = (l_rows, l_ndv) if build == "right" else (r_rows, r_ndv)
    rows_per_key = probe_rows / max(probe_ndv, 1)
    if rows_per_key > hot_rows_per_key:
        out["strategy"] = "salted"
        out["reason"] = (
            f"probe side averages {rows_per_key:.0f} rows per join key "
            f"(> {hot_rows_per_key:.0f}) — heavy key repetition; use "
            "ops.skew.hot_key_salted_join so detected hot keys fan out "
            "across tasks instead of stalling one"
        )
        out["suggested"] = "hot_key_salted_join(large, small, on=keys)"
        return out

    n_part = max(
        32, -(-(l_bytes + r_bytes) // TARGET_SHUFFLE_PARTITION_BYTES)
    )
    out["strategy"] = "sort_merge"
    out["suggested_shuffle_partitions"] = int(n_part)
    out["reason"] = (
        "both sides exceed the broadcast threshold and the key "
        "distribution is even — shuffle hash/sort-merge join; size "
        f"spark.sql.shuffle.partitions ≈ {n_part} to keep partitions "
        f"near {TARGET_SHUFFLE_PARTITION_BYTES >> 20} MiB"
    )
    return out


def maintenance_report(
    t: ManagedTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_ratio: float = 0.5,
    dv_share_threshold: float = 0.05,
    log_tail_threshold: int = 50,
) -> dict[str, Any]:
    """Inspect a managed table and recommend maintenance actions.

    Checks (each maps to one engine maintenance primitive):

    - **small files**: files under ``small_file_ratio * target_file_bytes``;
      reported per partition when the table is partitioned so the
      recommendation is a *scoped* ``optimize(where=...)`` — at scale you
      never rewrite healthy partitions to fix one hot one;
    - **deletion-vector debt**: share of rows masked by merge-on-read DVs;
      past ``dv_share_threshold`` every read pays the anti-join, so
      ``purge_deletes()`` (materialize) is recommended;
    - **unreferenced data**: files on disk no retained snapshot references
      (vacuum candidates) — counted directly, no deletion performed;
    - **log tail**: commits since the newest checkpoint; past
      ``log_tail_threshold`` recommend ``cleanup_log()`` to bound
      metadata reads.

    Everything here is driver-side metadata (commit log + file listing) —
    no Spark job runs, so the report is safe to poll from a scheduler.
    """
    e = t._entry()
    files = e["files"]
    small_cut = int(target_file_bytes * small_file_ratio)
    recs: list[dict[str, Any]] = []

    # --- small files, scoped per partition when partitioned -------------
    pby = e.get("partition_by") or []
    small = [f for f in files if f["size"] < small_cut]
    per_partition: dict[tuple, int] = {}
    if pby:
        for f in small:
            key = tuple((c, (f.get("partition") or {}).get(c)) for c in pby)
            per_partition[key] = per_partition.get(key, 0) + 1
        for key, n in sorted(per_partition.items(), key=lambda kv: -kv[1]):
            if n >= 2:  # one small file per partition is irreducible
                recs.append(
                    {
                        "action": "optimize",
                        "where": [(c, "=", v) for c, v in key],
                        "reason": f"{n} files under {small_cut} bytes in this partition",
                    }
                )
    elif len(small) >= 2:
        recs.append(
            {
                "action": "optimize",
                "where": None,
                "reason": f"{len(small)} files under {small_cut} bytes",
            }
        )

    # --- deletion-vector debt ------------------------------------------
    dv_rows = sum(f.get("dv_rows", 0) for f in files)
    # file row counts are not in the log; approximate live rows from
    # analyze stats when present, else fall back to bytes-proportional
    stats = t.statistics()
    if dv_rows:
        live = (stats or {}).get("n_rows")
        share = dv_rows / max((live or 0) + dv_rows, 1)
        if share > dv_share_threshold:
            recs.append(
                {
                    "action": "purge_deletes",
                    "reason": (
                        f"{dv_rows} rows ({share:.1%}) masked by deletion "
                        "vectors — every read pays the DV anti-join"
                    ),
                }
            )

    # --- vacuum candidates ---------------------------------------------
    live_paths = {f["path"] for f in files}
    on_disk = {
        os.path.relpath(os.path.join(root, fn), t.path)
        for root, _dirs, fns in os.walk(t.path)
        for fn in fns
        if fn.endswith(".parquet")
    }
    unreferenced = sorted(on_disk - live_paths)
    if unreferenced:
        recs.append(
            {
                "action": "vacuum",
                "reason": (
                    f"{len(unreferenced)} data file(s) on disk referenced "
                    "only by historical snapshots — reclaim with "
                    "vacuum(retain_hours=...) once time-travel needs lapse"
                ),
            }
        )

    # --- log tail -------------------------------------------------------
    cps = t._checkpoint_versions()
    tail = e["version"] - (max(cps) if cps else 0)
    if tail > log_tail_threshold:
        recs.append(
            {
                "action": "cleanup_log",
                "reason": f"{tail} commits since the newest checkpoint",
            }
        )

    # --- stats freshness -------------------------------------------------
    if stats is None:
        recs.append(
            {"action": "analyze", "reason": "table has never been analyzed"}
        )
    elif stats["commits_since_analyze"] > log_tail_threshold:
        recs.append(
            {
                "action": "analyze",
                "reason": (
                    f"statistics are {stats['commits_since_analyze']} "
                    "commits old"
                ),
            }
        )

    return {
        "version": e["version"],
        "num_files": len(files),
        "num_small_files": len(small),
        "dv_rows": dv_rows,
        "unreferenced_files": len(unreferenced),
        "log_tail": tail,
        "recommendations": recs,
    }


def apply_maintenance(
    t: ManagedTable,
    report: dict[str, Any] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    vacuum_retain_hours: float = 168.0,
    log_retain_hours: float = 168.0,
) -> list[dict[str, Any]]:
    """Execute a :func:`maintenance_report`'s recommendations — the
    predictive-optimization loop closed: ``maintenance_report`` (pure
    metadata, schedulable) decides, ``apply_maintenance`` acts, each
    action through the table's own maintenance primitive.

    Retention-sensitive actions use conservative defaults (Delta's 168 h)
    rather than the report's thresholds — reclaiming history is the one
    thing a scheduler should never do aggressively by accident.  Returns
    the actions actually executed (with the versions/counts they
    produced) for the scheduler's audit log.
    """
    if report is None:
        report = maintenance_report(t, target_file_bytes=target_file_bytes)
    done: list[dict[str, Any]] = []
    for rec in report["recommendations"]:
        action = rec["action"]
        if action == "optimize":
            v = t.optimize(
                target_file_bytes=target_file_bytes, where=rec.get("where")
            )
            done.append({"action": action, "where": rec.get("where"), "version": v})
        elif action == "purge_deletes":
            done.append({"action": action, "version": t.purge_deletes()})
        elif action == "vacuum":
            done.append(
                {"action": action, "deleted": t.vacuum(vacuum_retain_hours)}
            )
        elif action == "cleanup_log":
            done.append(
                {"action": action, "removed": t.cleanup_log(log_retain_hours)}
            )
        elif action == "analyze":
            done.append(
                {"action": action, "version": t.analyze(exact_distinct=False)}
            )
    return done
