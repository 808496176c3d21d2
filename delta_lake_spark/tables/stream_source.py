"""Structured-Streaming SOURCE over managed tables — the analog of Delta's
streaming source (``spark.readStream.format("delta")``), built on Spark 4's
Python DataSource streaming API.

Offsets are TABLE VERSIONS: each micro-batch covers the commits in
``(start.version, end.version]``, and the checkpointed offset makes delivery
exactly-once across restarts — the commit log double-duties as the stream's
write-ahead log, exactly how Delta's own source works.

Semantics (Delta-parity):

- Commits are classified by ``TableLog._commit_changes``, the rule the
  batch change readers follow too: compaction (OPTIMIZE / Z-order) and
  re-records of existing files with unchanged deletion vectors (bloom
  filters, row-id bases) change no data and are silently skipped (Delta:
  ``dataChange=false``).
- Append commits stream their added files' live rows.
- Any other change (removed or rewritten files, new deletion vectors) makes
  the source RAISE by default — silently re-emitting rewritten rows would
  corrupt downstream aggregates.  ``skipChangeCommits=true`` opts into
  Delta's same-named behavior: those commits are skipped wholesale.
- ``readChangeFeed=true`` streams the change feed instead: the same
  ``(version, change_type, file)`` plan as ``ManagedTable.change_feed``
  and the same rows, deletion vectors applied.
- ``startingVersion`` begins the stream at a later commit (default: from
  version 0, i.e. the full table then the tail).

Scale notes: offset resolution and partition planning are driver-side log
reads (O(commits in the batch), JSON metadata only); each added file becomes
one input partition read executor-side via Arrow record batches, so a batch
with K new files fans out K-wide.  Partition-column values are recovered
from each file's own Hive-style path components (so files written under an
earlier partition spec read correctly), typed per the table schema.

Usage::

    register_managed_stream_source(spark)
    stream = (spark.readStream.format("managed_stream")
              .option("path", table_path).load())

Unsupported (clear errors, not silent misreads): column-mapped tables
(physical-name indirection) and versions whose files were vacuumed.
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from delta_lake_spark.tables.log import TableLog, _never, _rec_dvs
from delta_lake_spark.tables.managed import _CDC_COL, _CDC_VER, _DV_FILE, _DV_POS


@dataclass
class _FileSlice(InputPartition):
    path: str  # table-relative parquet path
    # CDF-mode fields: a literal change type stamped onto every row of the
    # file (None = the file carries its own _change_type column, i.e. a
    # -cdc- sidecar) and the commit version the slice belongs to.
    change_type: "str | None" = None
    commit_version: "int | None" = None
    # the record's deletion-vector sidecars: read() drops their positions
    dvs: tuple = ()


class ManagedTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        # Spark normalizes data-source option KEYS to lowercase before they
        # reach Python — read them case-insensitively
        opts = {k.lower(): v for k, v in options.items()}
        self.path = opts.get("path")
        if not self.path:
            raise ValueError("managed_stream source requires a path option")
        self.schema = schema
        self.skip_change_commits = (
            str(opts.get("skipchangecommits", "false")).lower() == "true"
        )
        self.starting_version = int(opts.get("startingversion", 0))
        # Rate limiting (Delta maxFilesPerTrigger analog, in commit units):
        # cap how many table VERSIONS one micro-batch may absorb, so a
        # stream catching up on a long backlog emits bounded batches instead
        # of one giant batch.  The Python stream API has no admission-control
        # hook (latestOffset takes no start offset), so the cap is tracked
        # reader-side from the last known position — see latestOffset for
        # the call-order contract that makes every trigger exactly capped.
        # With trigger=availableNow the wrapper captures ONE capped target
        # at query start, so a capped drain absorbs at most
        # maxVersionsPerTrigger versions per RUN (re-run to keep catching
        # up); processingTime triggers advance batch by batch.
        self.read_cdf = (
            str(opts.get("readchangefeed", "false")).lower() == "true"
        )
        if self.read_cdf and self.skip_change_commits:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are mutually "
                "exclusive: the change feed REPORTS changes, it never "
                "skips them"
            )
        raw_cap = opts.get("maxversionspertrigger")
        self.max_versions = int(raw_cap) if raw_cap is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError(
                f"maxVersionsPerTrigger must be >= 1, got {self.max_versions}"
            )
        self._last_end: int | None = None
        mapping = TableLog(self.path).column_mapping()
        if any(k != v for k, v in mapping.items()):
            raise ValueError(
                "managed_stream does not support column-mapped tables "
                f"(mapping {mapping}); clone/purge to plain names first"
            )

    # ----- offsets --------------------------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        self._last_end = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:  # noqa: N802
        latest = TableLog(self.path).latest_version()
        end = latest if latest is not None else -1
        # The cap's base is the last position this reader knows.  Call-order
        # facts (verified against Spark 4.1): on a FRESH start the first
        # latestOffset precedes initialOffset, so the base falls back to
        # startingVersion-1 (correct — there is no checkpoint to regress);
        # on a RESTART Spark replays the last planned batch through
        # partitions(start, end) BEFORE any latestOffset, which seeds
        # _last_end with the true checkpointed position.  Every trigger is
        # therefore exactly capped and offsets never move backwards.
        base = (
            self._last_end
            if self._last_end is not None
            else self.starting_version - 1
        )
        if self.max_versions is not None:
            end = min(end, base + self.max_versions)
        end = max(end, base)
        self._last_end = end
        return {"version": end}

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing to release

    # ----- planning -------------------------------------------------------

    def _appended_files(self, version: int) -> list[dict[str, Any]]:
        """Added-file records of one commit IF it is stream-consumable;
        [] for commits that change no data (and for change commits under
        skipChangeCommits); raise for other change commits."""
        kind, added, removed, _raw = TableLog(self.path)._commit_changes(
            version
        )
        if kind != "data" or (removed and self.skip_change_commits):
            return []
        if removed:
            raise ValueError(
                f"version {version} of {self.path} is not append-only "
                f"({len(removed)} file(s) removed or rewritten); set "
                "skipChangeCommits=true to skip change commits, or stream "
                "the change feed (readChangeFeed=true, the streaming "
                "ManagedTable.change_feed) instead"
            )
        return added

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # After a checkpoint restart the restored position arrives here, not
        # through initialOffset — record it so the NEXT trigger's cap is
        # relative to real progress.
        if self._last_end is None or int(end["version"]) > self._last_end:
            self._last_end = int(end["version"])
        mt = TableLog(self.path)
        if self.read_cdf:
            return [
                _FileSlice(rec["path"], change, v, tuple(_rec_dvs(rec)))
                for v, change, rec in mt._cdf_slices(
                    int(start["version"]), int(end["version"])
                )
            ]
        out: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            recs = self._appended_files(v)
            mt._require_files_exist(recs, f"stream of version {v}")
            out += [
                _FileSlice(rec["path"], dvs=tuple(_rec_dvs(rec))) for rec in recs
            ]
        return out

    # ----- execution ------------------------------------------------------

    def read(self, partition: _FileSlice) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        tbl = pq.read_table(os.path.join(self.path, partition.path))
        if partition.dvs:
            import numpy as np
            import pyarrow.compute as pc

            keep = np.ones(tbl.num_rows, dtype=bool)
            for p in partition.dvs:
                dv = pq.read_table(os.path.join(self.path, p))
                mine = dv.filter(pc.equal(dv[_DV_FILE], partition.path))
                keep[mine[_DV_POS].to_numpy()] = False
            tbl = tbl.filter(pa.array(keep))
        n = tbl.num_rows
        cols = []
        pv = _hive_values(partition.path)
        for field in target:
            if field.name == _CDC_COL and partition.change_type is not None:
                col = pa.array([partition.change_type] * n, type=pa.string()).cast(
                    field.type
                )
            elif field.name == _CDC_VER and partition.commit_version is not None:
                col = pa.array(
                    [partition.commit_version] * n, type=pa.int64()
                ).cast(field.type)
            elif field.name in pv:
                raw = pv[field.name]
                col = pa.array([raw] * n, type=pa.string()).cast(field.type)
            elif field.name in tbl.column_names:
                col = tbl.column(field.name).cast(field.type)
            else:  # schema-evolution: old file predates the column
                col = pa.nulls(n, type=field.type)
            cols.append(col)
        out = pa.table(cols, schema=target)
        yield from out.to_batches(max_chunksize=1 << 16)


def _hive_values(rel_path: str) -> dict[str, str | None]:
    """The decoded Hive ``col=value`` directory components of one file's
    table-relative path: its partition values under the layout it was
    written with, whatever the table's current spec."""
    found: dict[str, str | None] = {}
    for comp in rel_path.split("/")[:-1]:
        if "=" in comp:
            k, _, v = comp.partition("=")
            v = urllib.parse.unquote(v)
            found[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return found


class ManagedTableStreamSource(DataSource):
    """``spark.readStream.format("managed_stream")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "managed_stream"

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField

        opts = {k.lower(): v for k, v in self.options.items()}
        path = opts.get("path")
        if not path:
            raise ValueError("managed_stream source requires a path option")
        base = StructType.fromJson(TableLog(path)._entry()["schema"])
        if str(opts.get("readchangefeed", "false")).lower() == "true":
            return StructType(
                list(base.fields)
                + [
                    StructField(_CDC_COL, StringType()),
                    StructField(_CDC_VER, LongType()),
                ]
            )
        return base

    def streamReader(self, schema: StructType) -> ManagedTableStreamReader:  # noqa: N802
        return ManagedTableStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        if overwrite:
            raise ValueError(
                "managed_stream sink is append-only (no complete/update "
                "output mode); rebuild via batch write() instead"
            )
        return ManagedTableStreamWriter(schema, dict(self.options))


def register_managed_stream_source(spark) -> None:
    spark.dataSource.register(ManagedTableStreamSource)


# --------------------------------------------------------------------------
# Streaming SINK: exactly-once appends into a managed table
# --------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamWriter, WriterCommitMessage  # noqa: E402


@dataclass
class _StagedFile(WriterCommitMessage):
    # one message per task; each entry is (table-relative path, row count)
    files: "list[tuple[str, int]]"


class ManagedTableStreamWriter(DataSourceStreamWriter):
    """``writeStream.format("managed_stream")`` — append-only exactly-once
    sink.  Executors stage Arrow-written parquet shards under a per-batch
    directory; the driver-side ``commit`` registers them in the table log
    as ONE atomic commit stamped with ``{"txn": {app, batch}}``.  A
    replayed micro-batch (failure between sink commit and checkpoint
    advance) is detected by the txn stamp and skipped — the same
    idempotent-writes contract as Delta's streaming sink.

    Scope: append output mode on non-column-mapped tables; the incoming
    schema must equal the table schema (names + types).  Partitioned
    targets stage Hive-layout shards (one file per partition value per
    task — partition columns live in the directory name, not the file,
    exactly like batch writes).  Expectations gating and MERGE semantics
    belong to the ``foreachBatch`` path (``streaming/streams.py``), which
    keeps the full table API available per batch."""

    def __init__(self, schema: StructType, options: dict) -> None:
        opts = {k.lower(): v for k, v in options.items()}
        self.path = opts.get("path")
        if not self.path:
            raise ValueError("managed_stream sink requires a path option")
        self.app = opts.get("txnappid", "managed_stream")
        self.schema = schema
        mt = TableLog(self.path)
        if mt.latest_version() is None:
            raise ValueError(
                f"managed_stream sink target {self.path!r} does not exist; "
                "create it first (ManagedTable.write) so the schema and "
                "layout are explicit"
            )
        entry = mt._entry()
        self.partition_by: list[str] = entry.get("partition_by") or []
        mapping = mt.column_mapping()
        if any(k != v for k, v in mapping.items()):
            raise ValueError("managed_stream sink: column-mapped tables unsupported")
        # CHECK constraints, generated-column validation, and identity
        # allocation all run as Spark jobs / log metadata updates inside
        # the batch write path — the sink's executor-staged shards cannot
        # evaluate them, so admitting rows here would silently bypass the
        # table's guarantees (a constraint exists to NEVER admit a bad
        # row).  Route such tables to the foreachBatch path, which uses
        # the full table API per micro-batch.
        for kind in ("constraints", "generated", "identity", "defaults"):
            if entry.get(kind):
                raise ValueError(
                    f"managed_stream sink: target has {kind} metadata, "
                    "which the append sink cannot enforce; stream with "
                    "foreachBatch + ManagedTable.write/merge instead"
                )
        table_schema = StructType.fromJson(entry["schema"])
        if [
            (f.name, f.dataType) for f in schema.fields
        ] != [(f.name, f.dataType) for f in table_schema.fields]:
            raise ValueError(
                "stream schema != table schema\n"
                f"  stream: {schema.simpleString()}\n"
                f"  table:  {table_schema.simpleString()}"
            )
        self.staging = os.path.join(self.path, "_streaming_staging")

    # executor-side ---------------------------------------------------------
    def write(self, iterator) -> _StagedFile:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        pcols = self.partition_by
        data_fields = [f for f in self.schema.fields if f.name not in pcols]
        target = to_arrow_schema(StructType(data_fields))

        def hive_dir(row: dict) -> str:
            segs = []
            for c in pcols:
                v = row[c]
                segs.append(
                    f"{c}=__HIVE_DEFAULT_PARTITION__"
                    if v is None
                    else f"{c}={urllib.parse.quote(str(v), safe='')}"
                )
            return "/".join(segs)

        groups: dict[str, list[dict]] = {}
        for r in iterator:
            d = r.asDict()
            groups.setdefault(hive_dir(d) if pcols else "", []).append(
                {k: v for k, v in d.items() if k not in pcols} if pcols else d
            )
        staged: list[tuple[str, int]] = []
        for sub, rows in groups.items() or {"": []}.items():
            out_dir = os.path.join(self.staging, sub) if sub else self.staging
            os.makedirs(out_dir, exist_ok=True)
            name = f"part-{_uuid.uuid4().hex}.parquet"
            pq.write_table(pa.Table.from_pylist(rows, schema=target),
                           os.path.join(out_dir, name))
            rel = os.path.join("_streaming_staging", sub, name) if sub else                 os.path.join("_streaming_staging", name)
            staged.append((rel, len(rows)))
        return _StagedFile(staged)

    # driver-side -----------------------------------------------------------
    def commit(self, messages, batchId: int) -> None:  # noqa: N802
        from delta_lake_spark.tables.managed import _footer_stats

        staged = [
            f for m in messages if m is not None for f in m.files
        ]
        mt = TableLog(self.path)
        # the snapshot is read BEFORE the txn check: a replay twin that
        # commits this batch after the check is a winner _commit drops us for
        entry = mt._entry()
        last = mt.last_txn_batch(self.app)
        if last is not None and batchId <= last:
            # replayed batch: already durably committed — drop the re-staged
            # files and keep the log unchanged (exactly-once)
            self._drop_staged(staged)
            return
        pcols = self.partition_by
        if (entry.get("partition_by") or []) != pcols:
            # set_partitioning ran mid-stream: the staged shards follow
            # the OLD Hive layout and committing would also re-record
            # the stale spec as current, silently reverting the
            # evolution for every later writer.  Fail the batch; a
            # restart re-initializes the sink with the new spec.
            raise ValueError(
                "managed_stream sink: target partitioning changed "
                f"mid-stream (sink initialized with {pcols}, table now "
                f"{entry.get('partition_by') or []}); restart the "
                "stream so the sink re-initializes with the new spec"
            )
        records = [
            {
                "path": rel,
                "size": os.path.getsize(os.path.join(self.path, rel)),
                # raw (still-encoded) dir values, matching batch-write
                # records — decoding happens at prune/read time
                "partition": {
                    k: v
                    for seg in rel.split("/")[:-1]
                    if "=" in seg
                    for k, _, v in [seg.partition("=")]
                },
                "stats": _footer_stats(os.path.join(self.path, rel)),
            }
            for rel, rows in staged
            if rows
        ]
        mt._commit(
            {
                "operation": "streaming_append",
                "read_version": entry["version"],
                "conflicts_with": _never,
                "files": entry["files"] + records,
                "txn": {"app": self.app, "batch": int(batchId)},
            }
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N802
        self._drop_staged([f for m in messages if m is not None for f in m.files])

    def _drop_staged(self, staged: "list[tuple[str, int]]") -> None:
        for rel, _rows in staged:
            try:
                os.unlink(os.path.join(self.path, rel))
            except FileNotFoundError:
                pass
