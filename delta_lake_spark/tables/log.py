"""The commit log of a managed table — Delta's transaction log, without Spark.

- **Commit log**: ``<root>/_log/<version>.json``, one JSON file per commit
  holding the commit's *delta* — ``add`` (new file records) and ``remove``
  (paths dropped from the snapshot) — exactly Delta's add/remove action
  model, so commit cost is O(changed files), not O(table files).  Every
  ``_CHECKPOINT_INTERVAL`` commits a ``<version>.checkpoint.json`` with the
  complete consolidated file list is also written (Delta's parquet
  checkpoint, in compacted JSON); reading any version loads the nearest
  checkpoint at-or-below it plus the delta tail — O(tail + snapshot), never
  O(all history).  Version 0 needs no checkpoint (its delta IS the full
  list).
- **Atomicity**: the log file is written to a temp name and hard-linked
  (``os.link``) into place — link is an atomic put-if-absent on POSIX
  (fails ``EEXIST``), so readers see either the old or the new version,
  never a torn one, and two writers racing the same version cannot both
  succeed.  One rule settles a lost race (Delta's optimistic concurrency,
  WriteSerializable level): the loser rebases its add/remove diff onto the
  winners unless one changed layout metadata, replaced a file the loser
  replaces, or added a file the loser should have read; otherwise it
  raises ``ConcurrentWriteError`` and the caller re-runs the operation.

No pyspark here (pyarrow only lazily): :class:`TableLog`, the base of
``ManagedTable``, is also the handle of the streaming source and sink in
Spark's Python data-source workers, which have no SparkSession.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
import uuid
from typing import Any, Callable

_LOG_DIR = "_log"
_REFS_DIR = os.path.join(_LOG_DIR, "refs")
_CHECKPOINT = ".checkpoint.json"

# Write a full-snapshot checkpoint every N commits; reads replay at most
# N-1 delta entries past a checkpoint.  Delta's default is 10 too.
_CHECKPOINT_INTERVAL = 10

# Snapshots one handle keeps; a committed version's content is immutable,
# so cached snapshots never go stale.
_SNAP_CACHE_SIZE = 4

# Table metadata every data file is written and validated under: a commit
# that lost the race rebases only if the winners left it unchanged.
_LAYOUT_KEYS = (
    "partition_by",
    "schema",
    "constraints",
    "generated",
    "identity",
    "defaults",
    "column_mapping",
    "cdf",
    "row_tracking",
)

# Table-level metadata a commit carries over from the snapshot it builds on
# unless the committing operation sets it.
_CARRIED_KEYS = _LAYOUT_KEYS + (
    "row_id_hwm",
    "auto_compact",
    "optimize_write",
    "stats",
    "clustering_by",
    "user_props",
)

# Link attempts of one commit that keeps losing the race (rebasing each time).
_COMMIT_ATTEMPTS = 10

# Operations that rewrite files without changing any row (Delta's
# ``dataChange=false``); purge_deletes and auto-compact commit as optimize.
_COMPACTION_OPS = ("optimize", "zorder")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first."""


class VacuumedVersionError(FileNotFoundError):
    """Time travel to a version whose data files were vacuumed away."""


def _rec_dvs(rec: dict[str, Any]) -> list[str]:
    return list(rec.get("dvs") or ())


def _never(rec: dict[str, Any]) -> bool:
    """``conflicts_with`` of a blind write or a compaction: no file another
    commit added holds a row it read."""
    return False


def _layout(snap: dict[str, Any]) -> dict[str, Any]:
    return {k: snap.get(k) or None for k in _LAYOUT_KEYS}


def _put_if_absent(final: str, doc: Any) -> bool:
    """Write ``doc`` as JSON at ``final`` unless that file exists; True when
    this call created it.  The temp file + ``link()`` makes it atomic: link
    fails with EEXIST where an exists()-then-rename check would race (POSIX
    rename silently overwrites, losing a commit)."""
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


class TableLog:
    """The commit log of the table rooted at ``path``: snapshots, commits,
    history, tags and the change classifier — all metadata, no Spark."""

    _TAG_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        # Reconstructed snapshots keyed by version, at most
        # _SNAP_CACHE_SIZE of them (see _cache).
        self._snap_cache: dict[int, dict[str, Any]] = {}

    @staticmethod
    def is_managed_table(path: str) -> bool:
        """Existence probe gating merge-vs-create, the reference's
        ``DeltaTable.isDeltaTable`` pattern (deltalake.ipynb:1786, :2933)."""
        log = os.path.join(os.path.abspath(path), _LOG_DIR)
        return os.path.isdir(log) and any(
            f.endswith(".json") for f in os.listdir(log)
        )

    # ------------------------------------------------------------------ #
    # log files
    # ------------------------------------------------------------------ #

    def _log_path(self, version: int, suffix: str = ".json") -> str:
        """The commit entry of ``version``, or with ``suffix=_CHECKPOINT``
        its checkpoint."""
        return os.path.join(self.path, _LOG_DIR, f"{version:08d}{suffix}")

    def _listing(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions), both sorted, from one
        listing of the log directory."""
        try:
            names = os.listdir(os.path.join(self.path, _LOG_DIR))
        except FileNotFoundError:
            return [], []
        commits: list[int] = []
        checkpoints: list[int] = []
        for f in names:
            if f.endswith(_CHECKPOINT):
                checkpoints.append(int(f[: -len(_CHECKPOINT)]))
            elif f.endswith(".json"):
                commits.append(int(f[:-5]))
        return sorted(commits), sorted(checkpoints)

    def _versions(self) -> list[int]:
        return self._listing()[0]

    def _checkpoint_versions(self) -> list[int]:
        return self._listing()[1]

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _raw_entry(self, version: int) -> dict[str, Any]:
        """The log entry exactly as committed — a delta (``add``/``remove``).
        Metadata-only consumers (``history``) use this to stay O(1) per
        version."""
        try:
            with open(self._log_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            vs = self._versions()
            if vs and version < vs[0]:
                raise VacuumedVersionError(
                    f"version {version} of {self.path} was removed by "
                    f"cleanup_log; earliest retained version is {vs[0]}"
                ) from None
            raise

    # ------------------------------------------------------------------ #
    # snapshots and commits
    # ------------------------------------------------------------------ #

    def _cache(self, version: int, snap: dict[str, Any]) -> dict[str, Any]:
        """Remember ``snap`` as the snapshot of ``version``, evicting the
        oldest entries past _SNAP_CACHE_SIZE; returns ``snap``."""
        self._snap_cache[version] = snap
        while len(self._snap_cache) > _SNAP_CACHE_SIZE:
            self._snap_cache.pop(next(iter(self._snap_cache)))
        return snap

    def _entry(self, version: "int | str | None" = None) -> dict[str, Any]:
        """The full snapshot at ``version``: the commit's metadata plus the
        materialized ``files`` list, reconstructed from the nearest
        checkpoint at-or-below plus the delta tail (O(tail), never O(all
        history)).  A string resolves as a tag name (see :meth:`tag`), so
        every version-taking surface (read/scan/schema/restore/clone/...)
        accepts tags uniformly."""
        if isinstance(version, str):
            version = self._resolve_version(version)
        listing = None
        if version is None:
            listing = self._listing()
            if not listing[0]:
                raise FileNotFoundError(f"not a managed table: {self.path}")
            version = listing[0][-1]
        cached = self._snap_cache.get(version)
        if cached is not None:
            return cached
        raw = self._raw_entry(version)
        checkpoints = (listing or self._listing())[1]
        start = max((c for c in checkpoints if c <= version), default=-1)
        files: dict[str, dict[str, Any]] = {}
        if start >= 0:
            with open(self._log_path(start, _CHECKPOINT)) as f:
                files = {rec["path"]: rec for rec in json.load(f)["files"]}
        for v in range(start + 1, version + 1):
            d = raw if v == version else self._raw_entry(v)
            for p in d.get("remove", ()):
                files.pop(p, None)
            for rec in d.get("add", ()):
                files[rec["path"]] = rec
        return self._cache(version, {**raw, "files": list(files.values())})

    def _commit(self, entry: dict[str, Any]) -> int:
        """Build the log entry of one operation and commit it — the only
        code that knows the entry format.

        ``entry`` holds the ``operation`` name, the fields the operation
        changes, and ``read_version``: the snapshot version the operation
        read (Delta's ``commitInfo.readVersion``; ``None`` when it found no
        table).  Everything else comes from that snapshot: ``files``
        defaults to its file list (a metadata-only commit passes none),
        ``partition_by``, ``schema`` and the table-level metadata keys carry
        over unless set, ``num_files`` is ``len(files)`` and
        ``added_files`` counts the added records whose path is new.

        The commit lands as ``read_version + 1`` (default: the head's)
        through a put-if-absent link.  A lost race raises
        :class:`ConcurrentWriteError` unless the entry holds
        ``conflicts_with`` — whether a file another commit added could hold
        a row the operation read — and :meth:`_check_winners` lets the
        commit rebase onto the head.  The log entry stores only the diff vs
        the read snapshot; a full checkpoint lands every
        ``_CHECKPOINT_INTERVAL`` commits."""
        os.makedirs(os.path.join(self.path, _LOG_DIR), exist_ok=True)
        read_version = (
            entry.pop("read_version")
            if "read_version" in entry
            else self.latest_version()
        )
        conflicts_with = entry.pop("conflicts_with", None)
        read_snap = {} if read_version is None else self._entry(read_version)
        prev = {f["path"]: f for f in read_snap.get("files", ())}
        new_files: list[dict[str, Any]] = (
            entry.pop("files") if "files" in entry else list(prev.values())
        )
        new_paths = {f["path"] for f in new_files}
        add = [f for f in new_files if prev.get(f["path"]) != f]
        remove = sorted(p for p in prev if p not in new_paths)
        op = entry
        snap = read_snap
        for _attempt in range(_COMMIT_ATTEMPTS):
            version = 0 if read_version is None else read_version + 1
            # layout, schema, CHECK constraints, generated-column exprs,
            # identity high-water, ... are table-level metadata: carry them
            # across commits unless the committing operation sets them
            entry = dict(op)
            for meta_key in _CARRIED_KEYS:
                if meta_key not in entry and snap.get(meta_key):
                    entry[meta_key] = snap[meta_key]
            entry.setdefault("partition_by", [])
            entry["add"] = add
            entry["remove"] = remove
            entry["num_files"] = len(new_files)
            entry["added_files"] = sum(1 for f in add if f["path"] not in prev)
            rt_assigned: list[dict[str, Any]] = []
            if entry.get("row_tracking"):
                # assign each NEW file its fresh-row-id base from the table's
                # monotone high-water mark (one footer num_rows metadata read
                # per added file; a re-recorded file — e.g. gaining a DV —
                # keeps the base it already owns).  Assignments roll back on a
                # lost commit race: the rebase carries the WINNER's hwm and
                # must re-assign, never reuse a stale range.
                import pyarrow.parquet as pq

                hwm = int(entry.get("row_id_hwm") or 0)
                for rec in add:
                    if "base_row_id" in rec:
                        continue
                    rec["base_row_id"] = hwm
                    rt_assigned.append(rec)
                    hwm += pq.ParquetFile(
                        os.path.join(self.path, rec["path"])
                    ).metadata.num_rows
                entry["row_id_hwm"] = hwm
            entry["version"] = version
            entry["timestamp"] = time.time()
            if _put_if_absent(self._log_path(version), entry):
                break
            for rec in rt_assigned:
                rec.pop("base_row_id", None)
            if conflicts_with is None:
                raise ConcurrentWriteError(f"version {version} already committed")
            head = self.latest_version()
            if head is None or head < version:
                continue  # no visible winner: retry the same version
            replay = self._check_winners(
                entry, read_snap, range(version, head + 1), conflicts_with
            )
            if replay is not None:
                return replay
            # rebase: the head's files, minus this commit's removes, plus
            # its adds and re-records
            snap = self._entry(head)
            replaced = set(remove) | {f["path"] for f in add}
            new_files = [
                f for f in snap["files"] if f["path"] not in replaced
            ] + add
            read_version = head
        else:
            raise ConcurrentWriteError(
                f"{op['operation']} lost {_COMMIT_ATTEMPTS} commit races "
                f"on {self.path}"
            )
        self._cache(version, {**entry, "files": new_files})
        if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
            # Checkpoints are derived data — racing writers may both try
            # this; first link wins, the loser's attempt is harmless.
            _put_if_absent(
                self._log_path(version, _CHECKPOINT),
                {"version": version, "files": new_files},
            )
        return version

    def _check_winners(
        self,
        entry: dict[str, Any],
        read_snap: dict[str, Any],
        winners: range,
        conflicts_with: Callable[[dict[str, Any]], bool],
    ) -> int | None:
        """Delta's optimistic-concurrency check of ``entry``, built on
        ``read_snap``, against the commits ``winners`` that took its
        version: the winner already holding ``entry``'s ``txn`` batch (a
        replay, nothing to write), else None when ``entry`` may rebase onto
        the head.  Raises :class:`ConcurrentWriteError` on a conflict."""
        txn = entry.get("txn")
        for v in winners if txn else ():
            w = self._raw_entry(v).get("txn") or {}
            if w.get("app") == txn["app"] and w["batch"] >= txn["batch"]:
                return v
        layout = _layout(read_snap)
        relayout = _layout(entry) != layout
        touched = set(entry["remove"]) | {f["path"] for f in entry["add"]}
        for v in winners:
            kind, added, removed, raw = self._commit_changes(v)
            data = added if kind == "data" else []
            if _layout(raw) != layout:
                why = "changed the table's layout metadata"
            elif touched & {f["path"] for f in removed}:
                why = "removed or re-recorded a file this commit replaces"
            elif data and relayout:
                why = "added files under the layout this commit changes"
            elif any(map(conflicts_with, data)):
                why = "added a file this operation should have read"
            else:
                continue
            raise ConcurrentWriteError(
                f"{entry['operation']} conflicts with version {v} "
                f"({raw['operation']}), which {why}"
            )
        return None

    # ------------------------------------------------------------------ #
    # history and retention
    # ------------------------------------------------------------------ #

    def last_txn_batch(self, app: str) -> int | None:
        """Newest committed batch id for ``app`` (Delta ``txn`` action
        analog) — the idempotent-writes marker shared by the streaming sink
        and batch ``txn_app``/``txn_batch`` writes.  Metadata-only;
        O(commits since that marker)."""
        for v in reversed(self._versions()):
            txn = self._raw_entry(v).get("txn")
            if txn and txn.get("app") == app:
                return int(txn.get("batch"))
        return None

    def version_at(self, timestamp: "float | str | Any") -> int:
        """The version a ``TIMESTAMP AS OF`` read resolves to: the latest
        commit at or before ``timestamp`` (epoch seconds, ISO string, or
        datetime).  Raises if the timestamp predates the first commit —
        Delta's behavior for an out-of-range timestamp."""
        if isinstance(timestamp, str):
            timestamp = datetime.datetime.fromisoformat(timestamp)
        if isinstance(timestamp, datetime.datetime):
            if timestamp.tzinfo is None:
                timestamp = timestamp.replace(
                    tzinfo=datetime.timezone.utc
                )
            timestamp = timestamp.timestamp()
        best: int | None = None
        for v in self._versions():
            if self._raw_entry(v)["timestamp"] <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before {timestamp}; the table's first "
                "commit is newer (Delta TIMESTAMP AS OF semantics)"
            )
        return best

    def history(self) -> list[dict[str, Any]]:
        """Commit history, latest first (Delta ``history()``,
        deltalake.ipynb:8760)."""
        out = []
        for v in reversed(self._versions()):
            e = self._raw_entry(v)  # metadata only — no snapshot replay
            out.append(
                {
                    "version": e["version"],
                    "operation": e["operation"],
                    "timestamp": e["timestamp"],
                    "num_files": e.get("num_files"),
                    "added_files": e.get("added_files"),
                    **(
                        {"operation_metrics": e["operation_metrics"]}
                        if e.get("operation_metrics") is not None
                        else {}
                    ),
                }
            )
        return out

    def cleanup_log(self, retain_hours: float = 0.0) -> int:
        """Delta's log-retention analog (``delta.logRetentionDuration``):
        delete commit-log entries no snapshot reconstruction needs.

        The deletion base is the NEWEST checkpoint whose commit is older
        than ``retain_hours``: every entry and checkpoint strictly below it
        goes (reconstruction of any version >= base reads the base
        checkpoint + the tail, never the deleted prefix).  ``history()``
        and time travel below the base stop working — a cleaned version
        raises a descriptive error, not a file-not-found.  Returns the
        number of log files removed.

        Complements :meth:`vacuum` (data files) — together they bound the
        table's metadata AND data footprint for long-lived tables with
        millions of commits.  Caveat (same as Delta's txn retention): a
        streaming sink's idempotence marker inside the deleted prefix is
        forgotten — keep ``retain_hours`` above any stream's max downtime."""
        cutoff = time.time() - retain_hours * 3600.0
        versions, checkpoints = self._listing()
        min_tag = min(self.tags().values(), default=None)
        # never clean past the oldest tagged version: its reconstruction
        # needs the base checkpoint + tail
        base = max(
            (
                c
                for c in checkpoints
                if self._raw_entry(c)["timestamp"] < cutoff
                and (min_tag is None or c <= min_tag)
            ),
            default=None,
        )
        if base is None:
            return 0
        doomed = [v for v in versions if v < base]
        for v in doomed:
            self._snap_cache.pop(v, None)
        paths = [self._log_path(v) for v in doomed] + [
            self._log_path(c, _CHECKPOINT) for c in checkpoints if c < base
        ]
        for p in paths:
            os.unlink(p)
        return len(paths)

    def column_mapping(self, version: int | None = None) -> dict[str, str]:
        """Logical -> physical column-name mapping (Delta column-mapping
        analog).  Identity (empty dict) until the first :meth:`rename_column`
        / :meth:`drop_column` enables mapping; afterwards data files keep
        their original (physical) column names and only the mapping + logical
        schema change — no file rewrites."""
        return dict(self._entry(version).get("column_mapping") or {})

    # ------------------------------------------------------------------ #
    # snapshot tags (Iceberg-style named refs): a tag pins a version by
    # name — reads resolve it, and BOTH retention paths honor it (vacuum
    # keeps a tagged snapshot's data files; cleanup_log keeps the log
    # prefix a tagged version needs).  Tags are log-side metadata files,
    # not commits: tagging is O(1) and invisible to readers/streams.
    # ------------------------------------------------------------------ #

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: latest) under ``name``.  Fails if the
        name exists (delete_tag first — tags don't silently move) or the
        version was already removed by :meth:`cleanup_log`."""
        if not self._TAG_NAME.match(name):
            raise ValueError(
                f"invalid tag name {name!r}: use letters/digits/._- "
                "(max 128 chars)"
            )
        v = self.latest_version() if version is None else int(version)
        if v is None:
            raise ValueError("cannot tag an empty table")
        if not os.path.exists(self._log_path(v)):
            raise ValueError(
                f"version {v} does not exist (or its log entry was "
                "removed by cleanup_log)"
            )
        refs = os.path.join(self.path, _REFS_DIR)
        os.makedirs(refs, exist_ok=True)
        if not _put_if_absent(
            os.path.join(refs, f"{name}.json"),
            {"name": name, "version": v, "timestamp": time.time()},
        ):
            raise ValueError(f"tag {name!r} already exists")
        return v

    def tags(self) -> dict[str, int]:
        """All tags as ``{name: version}``."""
        refs = os.path.join(self.path, _REFS_DIR)
        if not os.path.isdir(refs):
            return {}
        out: dict[str, int] = {}
        for fn in sorted(os.listdir(refs)):
            if fn.endswith(".json"):
                with open(os.path.join(refs, fn)) as f:
                    rec = json.load(f)
                out[rec["name"]] = int(rec["version"])
        return out

    def delete_tag(self, name: str) -> None:
        ref = os.path.join(self.path, _REFS_DIR, f"{name}.json")
        if not os.path.exists(ref):
            raise KeyError(f"no such tag: {name!r}")
        os.unlink(ref)

    def _resolve_version(self, version: "int | str | None") -> int | None:
        """Resolve a tag name to its pinned version (ints/None pass through)."""
        if isinstance(version, str):
            t = self.tags()
            if version not in t:
                raise KeyError(
                    f"no such tag: {version!r} (known: {sorted(t) or 'none'})"
                )
            return t[version]
        return version

    # ------------------------------------------------------------------ #
    # change classification
    # ------------------------------------------------------------------ #

    def _require_files_exist(self, recs: list[dict[str, Any]], what: str) -> None:
        """Driver-side existence probe for a historical read: a clear
        VacuumedVersionError at plan time (not a mid-execution Spark
        file-not-found) when ``recs`` name data or DV files removed by
        vacuum."""
        missing = [
            p
            for f in recs
            for p in [f["path"], *_rec_dvs(f)]
            if not os.path.exists(os.path.join(self.path, p))
        ]
        if missing:
            raise VacuumedVersionError(
                f"{what} needs {len(missing)} of {len(recs)} file(s) removed "
                f"by vacuum (e.g. {missing[0]}). Increase vacuum retain_hours "
                "to keep historical versions readable."
            )

    def _commit_changes(
        self, version: int
    ) -> "tuple[str, list[dict[str, Any]], list[dict[str, Any]], dict[str, Any]]":
        """How commit ``version`` changed the table's rows: the one rule
        every change reader (:meth:`changes`, :meth:`signed_changes`,
        :meth:`change_feed` and the stream source) follows, Delta's
        ``dataChange`` flag.  Metadata-only.

        Returns ``(kind, added, removed, raw)``: the records the commit
        added, the ``version - 1`` records of every path it removed or
        re-recorded (a re-record replaces the old record), and the raw log
        entry.  ``kind`` is ``"compaction"`` for an optimize/Z-order
        rewrite (same rows, new files); ``"none"`` when nothing was added
        or removed, or only existing files were re-recorded with unchanged
        deletion vectors (bloom filters, row-id bases); ``"data"``
        otherwise."""
        raw = self._raw_entry(version)
        added = raw.get("add") or []
        removed = set(raw.get("remove") or ())
        prev = (
            {f["path"]: f for f in self._entry(version - 1)["files"]}
            if version > 0 and (added or removed)
            else {}
        )
        if raw.get("operation") in _COMPACTION_OPS:
            kind = "compaction"
        elif not removed and all(
            f["path"] in prev and _rec_dvs(f) == _rec_dvs(prev[f["path"]])
            for f in added
        ):
            kind = "none"
        else:
            kind = "data"
        replaced = removed | {f["path"] for f in added}
        return kind, added, [prev[p] for p in sorted(replaced) if p in prev], raw

    def _cdf_slices(
        self, from_version: int, to_version: int
    ) -> "list[tuple[int, str | None, dict[str, Any]]]":
        """The files the change feed over ``(from_version, to_version]``
        reads, as ``(version, change_type, record)`` slices — one
        metadata-only plan for :meth:`change_feed` and the
        ``readChangeFeed`` stream.  Append and overwrite commits
        synthesize ``delete`` slices from their removed records (read with
        the deletion vectors they had) and ``insert`` slices from their
        added ones; delete/update/merge commits contribute their
        change-data sidecars, whose rows carry their own change type
        (``None`` here).  Commits that change no data contribute
        nothing; any other data-changing operation raises."""
        out: list[tuple[int, str | None, dict[str, Any]]] = []
        for v in range(from_version + 1, to_version + 1):
            kind, added, removed, raw = self._commit_changes(v)
            if kind != "data":
                continue
            op = raw.get("operation")
            if op in ("append", "streaming_append", "clone", "convert", "overwrite"):
                slices = [(v, "delete", rec) for rec in removed] + [
                    (v, "insert", rec) for rec in added
                ]
            elif op in ("delete", "update", "merge"):
                if raw.get("cdc_files") is None:
                    raise ValueError(
                        f"version {v} ({op}) of {self.path} carries no "
                        "materialized change data — enable_cdf() must be on "
                        "when DML runs; use changes() for computed CDC over "
                        "this range"
                    )
                slices = [(v, None, {"path": p}) for p in raw["cdc_files"]]
            else:
                raise ValueError(
                    f"the change feed does not cover operation {op!r} "
                    f"(version {v} of {self.path}); use changes() for the "
                    "computed diff"
                )
            self._require_files_exist(
                [rec for _v, _c, rec in slices], f"change feed (v{v})"
            )
            out += slices
        return out
