"""Spark Python DataSource over the encoded table store.

``register_table_views`` (``operators/table.py``) exposes the store to
``spark.sql`` through a ``mapInArrow`` barrier Catalyst cannot push filters
through, and ``table_sql`` closes that gap only for SQL shapes its
conservative text analysis can prove safe. This module is the engine-native
answer: a **DataSourceV2 (Python Data Source API, Spark 4)** implementation,
so the encoded store becomes a first-class Catalyst relation —

    spark.dataSource.register(PandoraTableDataSource)
    df = spark.read.format("pandora_table").load(out_dir)

— and ``WHERE`` predicates of ANY query shape (joins, ORs elsewhere in the
plan, subqueries …) reach :meth:`DataSourceReader.pushFilters`, where they
become zone-map pruning at two levels:

* **file level (planning, driver)**: each live file's commit-log ``add``
  carries exact per-file stats (row count, per column null count, min and
  max); the store's driver-side file pruner (``operators/table.py``
  ``_plan_files``) drops whole files no conjunct can match, so they never
  become tasks. This is the planning-time contract of the reference's Delta
  reader (file skipping from log stats, ``DeltaLake.fs:176-444``), with the
  same log replay supplying the live file set (orphans and compacted-away
  files are invisible).
* **chunk level (executors)**: each surviving file's chunk META rows (per
  column null count, min and max) are read first and every chunk is judged
  by the same rule as the files (``_stats_may_match``); only the surviving
  chunks decode, column-pruned to the requested ``columns``. A chunk file
  is one parquet row group, so a pruned chunk's payload bytes are still
  read when another chunk of its file survives; a file with no surviving
  chunk reads none.

Pruning is strictly conservative: ``pushFilters`` returns EVERY filter as
residual, so Spark re-applies the full predicate on decoded rows — a zone map
can only skip chunks that provably contain no matching row, never change a
result. Column pruning: the Python Data Source API has no column-pruning
hook, so the projected column set is an explicit read option
(``.option("columns", "a,b,c")``) — :func:`read_encoded_table` wires it.

Options: ``path`` (load arg), ``columns`` (comma list), ``as_of`` (commit-log
index, same semantics as :func:`operators.table.decode_table`).

The format is also a **sink** (``df.write.format("pandora_table")`` — map-only
per-task encode, one atomic commit-log entry per save, append/overwrite modes;
options ``key_cols``, ``chunk_rows``), a **streaming source**
(``spark.readStream.format("pandora_table")`` — tails the commit log by
numbered index, exactly-once per appended row, compaction-rewrite entries
skipped via their ``dataChange: false`` tag), and a **streaming sink**
(``df.writeStream.format("pandora_table")`` — one atomic commit-log entry per
micro-batch carrying a ``txn`` idempotence line, so epoch replay after a
crash never duplicates rows; ``outputMode("complete")`` atomically replaces
the live file set each epoch — a materialized view inside the store).

Sink commits build their entry from the store's own builders (``log_header``
and one ``add_action`` per task marker) and land it through
``operators/encode.py``'s ``append_log_entry``, the one commit-log writer;
the stream source and the txn lookup walk its one reader, ``log_entries``.
An append (or a stream epoch) reads no file and claims the next index. An
overwrite names the files it replaces, so a concurrent commit that removed
one of them first makes it raise instead of landing over a table it did
not see.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

FORMAT_NAME = "pandora_table"


def _zone_specs(filters: list[Filter], logicals: dict[str, str]) -> list:
    """Translate supported pushed filters into picklable ``(op, column,
    value)`` pruning conjuncts (``operators/table.py``; value is None for
    the null tests); comparisons only on columns that carry a zone map."""
    from ..operators.table import _has_zone_map

    specs = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in logicals:
            continue
        c = attr[0]
        if not (_has_zone_map(logicals[c]) or isinstance(f, (IsNull, IsNotNull))):
            continue
        if isinstance(f, LessThan):
            specs.append(("lt", c, f.value))
        elif isinstance(f, LessThanOrEqual):
            specs.append(("le", c, f.value))
        elif isinstance(f, GreaterThan):
            specs.append(("gt", c, f.value))
        elif isinstance(f, GreaterThanOrEqual):
            specs.append(("ge", c, f.value))
        elif isinstance(f, EqualTo):
            specs.append(("eq", c, f.value))
        elif isinstance(f, In) and f.value:
            specs.append(("in", c, tuple(f.value)))
        elif isinstance(f, IsNull):
            specs.append(("isnull", c, None))
        elif isinstance(f, IsNotNull):
            specs.append(("notnull", c, None))
    return specs


class PandoraTableDataSource(DataSource):
    """``spark.read.format("pandora_table")`` over an encoded table dir."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _spec(self):
        from ..operators.table import read_table_spec

        path = self.options.get("path")
        if not path:
            raise ValueError("pandora_table requires a path: .load(<encoded dir>)")
        return path, read_table_spec(path)

    def schema(self) -> T.StructType:
        """The table's ORIGINAL shape: struct columns (split into flat lanes
        at encode) report as structs; the ``columns`` option accepts original
        names or individual flat leaf names (``s·leaf``)."""
        from ..operators.table import _read_plan

        _, spec = self._spec()
        cols_opt = self.options.get("columns")
        names = ([c.strip() for c in cols_opt.split(",") if c.strip()]
                 if cols_opt else None)
        return _read_plan(spec, names)[1]

    def reader(self, schema: T.StructType) -> "PandoraTableReader":
        path, spec = self._spec()
        as_of = self.options.get("as_of")
        return PandoraTableReader(
            path=path,
            spec_json=spec.to_json(),
            out_names=[f.name for f in schema.fields],
            as_of=int(as_of) if as_of is not None else None,
        )

    def _sink_spec(self, schema: T.StructType):
        """Shared batch/stream sink setup: resolve key columns and
        create/evolve the ``_schema.json`` sidecar BEFORE tasks run (the
        encode kernel splits struct columns into their lanes)."""
        from ..operators.table import _io, _prepare_spec, read_table_spec

        path = self.options.get("path")
        if not path:
            raise ValueError("pandora_table requires a path: .save(<encoded dir>)")
        io = _io(path, None)
        key_opt = self.options.get("key_cols")
        if key_opt:
            key_cols = [c.strip() for c in key_opt.split(",") if c.strip()]
        elif io.exists(io.join("_schema.json")):
            key_cols = read_table_spec(path).key_cols
        else:
            raise ValueError(
                "first write into a new dir needs .option('key_cols', 'a,b')"
            )
        spec = _prepare_spec(io, schema, key_cols)
        if spec.pds_col:
            # the DataSource task kernel stamps a fixed pds; writing into a
            # date-partitioned table through it would give every new file a
            # bogus partitionValues date and pds-pruned reads would silently
            # drop the rows — route such appends through encode_table, which
            # partitions by the table's own date column
            raise ValueError(
                f"table is date-partitioned on {spec.pds_col!r}; append with "
                "encode_table(..., pds_col=...) — the pandora_table sink "
                "does not route rows to date partitions"
            )
        return path, io, spec

    def writer(self, schema: T.StructType, overwrite: bool) -> "PandoraTableWriter":
        import uuid

        from ..operators.encode import committed_files
        from ..operators.table import DEFAULT_CHUNK_ROWS

        path, io, spec = self._sink_spec(schema)
        prev_live = committed_files(path, io) if overwrite else None
        return PandoraTableWriter(
            path=path,
            spec_json=spec.to_json(),
            run="w" + uuid.uuid4().hex[:10],
            chunk_rows=int(self.options.get("chunk_rows", DEFAULT_CHUNK_ROWS)),
            prev_live=prev_live or [],
        )

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> "PandoraTableStreamWriter":
        from ..operators.table import DEFAULT_CHUNK_ROWS

        path, _io_, spec = self._sink_spec(schema)
        return PandoraTableStreamWriter(
            path=path,
            spec_json=spec.to_json(),
            chunk_rows=int(self.options.get("chunk_rows", DEFAULT_CHUNK_ROWS)),
            app_id=self.options.get("app_id", "pandora-stream-sink"),
            overwrite=overwrite,
        )

    def streamReader(self, schema: T.StructType) -> "PandoraTableStreamReader":
        path, spec = self._spec()
        return PandoraTableStreamReader(
            path=path,
            spec_json=spec.to_json(),
            out_names=[f.name for f in schema.fields],
        )


class PandoraTableReader(DataSourceReader):
    def __init__(self, path: str, spec_json: str, out_names: list[str],
                 as_of: int | None):
        self._path = path
        self._spec_json = spec_json
        self._out_names = out_names
        self._as_of = as_of
        self._zone: list = []

    # -- planning (driver) --------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        from ..operators.table import TableSpec

        spec = TableSpec.from_json(self._spec_json)
        self._zone = _zone_specs(filters, spec.logicals)
        # everything is residual: zone maps prune chunks, Spark still applies
        # the exact predicate to every decoded row
        return iter(filters)

    def partitions(self) -> list[InputPartition]:
        """One log replay plans the read: the live files the pushed
        conjuncts do not rule out, each partition carrying the live DV file
        names at this version (executors load the bounded `_dv/` sidecars
        themselves, so only the NAMES ride the plan)."""
        from ..operators.encode import log_snapshot
        from ..operators.table import TableSpec, _io, _plan_files

        io = _io(self._path, None)
        snap = log_snapshot(self._path, io, as_of=self._as_of)
        dv_files = tuple(a["dvFile"] for a in (snap.dvs if snap else []))
        files = _plan_files(io, TableSpec.from_json(self._spec_json), snap,
                            self._zone)
        return [InputPartition((f, dv_files)) for f in files]

    # -- execution (executors) ----------------------------------------------

    def read(self, partition: InputPartition) -> Iterator[Any]:
        if partition is None:  # Spark probes once when partitions() is empty
            return
        fname, dv_files = partition.value
        yield from _decode_file_batches(
            self._path, self._spec_json, self._out_names, self._zone,
            fname, dv_files=list(dv_files),
        )


def _decode_file_batches(path: str, spec_json: str, names: list[str],
                         zone: list, fname: str,
                         dv_files: list[str] | None = None) -> Iterator[Any]:
    """Executor-side: one chunk file -> decoded Arrow batches (one per
    surviving chunk). The ``zone`` conjuncts judge each chunk on its META
    row, read before any payload column, so a file with no surviving chunk
    reads no payload byte; live deletion vectors (``dv_files``) are
    subtracted per chunk. Shared by the batch reader and the streaming
    reader (``zone=[]`` there)."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from ..operators.table import (
        TableSpec, _chunks_may_match, _decode_chunks, _io, _read_plan,
        load_dv_map,
    )

    spec = TableSpec.from_json(spec_json)
    lanes, out_struct = _read_plan(spec, names)

    io = _io(path, None)
    pf = pq.ParquetFile(io.open_input_file(io.join("data/" + fname)))
    keep = _chunks_may_match(pf, zone, spec.logicals) if zone else None
    if keep == []:
        return

    dv_map = (load_dv_map(io, [{"dvFile": f} for f in dv_files])
              if dv_files else {})
    present = set(pf.schema_arrow.names)
    want = ["n_rows"]
    if dv_map:
        want.append("chunk_id")
    want += [f"{lane}{side}" for lane in lanes
             for side in ("__valid", "__payload") if f"{lane}{side}" in present]
    tbl = pf.read(columns=want)
    if keep is not None and len(keep) < tbl.num_rows:
        tbl = tbl.take(keep)
    yield from _decode_chunks(tbl, spec, lanes, to_arrow_schema(out_struct),
                              dead=dv_map)


def _encode_partition_task(path: str, spec_json: str, chunk_rows: int,
                           run: str, iterator: Iterator[Any]) -> "_FileCommit":
    """Executor task shared by the batch and streaming sinks: drain one
    partition's Arrow batches into ONE published chunk file (the map-only
    :func:`operators.table.encode_table_scan` shape) and return its
    add-entry ingredients. Publication order (data file, then checkpoint
    marker, then — driver-side — the log entry) is the crash contract."""
    import json as _json
    from datetime import date

    from pyspark import TaskContext

    from ..operators.table import TableSpec, _encode_scan_partition, _io

    pid = TaskContext.get().partitionId()
    io = _io(path, None)
    if _encode_scan_partition(iterator, pid, io, TableSpec.from_json(spec_json),
                              chunk_rows, date(2026, 1, 1), run) is None:
        return _FileCommit()
    marker = io.join(f"_checkpoints/part-{run}-{pid:05d}.json")
    return _FileCommit(_json.loads(io.read_text(marker)))


@dataclass
class _FileCommit(WriterCommitMessage):
    """Per-task result: the marker of the chunk file this task published
    (None if its partition was empty), with the size/sha/stats the kernel
    recorded in flight — commit() builds the log entry from these, never
    re-reading data."""

    marker: dict | None = None

    @property
    def file_name(self) -> str | None:
        return self.marker["file_name"] if self.marker else None


def _sink_entry(path: str, spec_json: str, messages, removes: list[str],
                extra: list[dict] = ()) -> list[dict]:
    """One sink commit's log entry: the header, ``extra`` lines, an ``add``
    per task file (stamped with its ``modificationTime``) and a remove per
    file an overwrite replaces."""
    from ..operators.encode import add_action, log_header
    from ..operators.table import TableSpec, _io

    io = _io(path, None)
    return (log_header(TableSpec.from_json(spec_json)) + list(extra)
            + [add_action(m.marker, io=io) for m in messages
               if m is not None and m.marker]
            + [{"remove": {"path": f, "dataChange": True}} for f in removes])


class PandoraTableWriter(DataSourceArrowWriter):
    """``df.write.format("pandora_table")`` — each task is one encode unit
    (the map-only :func:`operators.table.encode_table_scan` shape: no
    shuffle; pre-partition/sort upstream for disjoint zone maps), and the
    driver-side ``commit`` publishes ONE atomic commit-log entry holding
    every task's add (plus, for ``mode("overwrite")``, a remove per
    previously-live file) — readers see the old table until the log entry
    lands, then the new one (`DeltaLake.fs:176-444` contract). Task retries
    are safe: the file name is deterministic per (run, partition) and
    publish is last-writer-wins, so a retried task replaces its own attempt.

    Schema changes follow the store's append-only evolution rules even under
    overwrite (the ``_schema.json`` sidecar is shared with time-traveling
    readers of pre-overwrite versions); an incompatible rewrite needs a
    fresh directory."""

    def __init__(self, path: str, spec_json: str, run: str,
                 chunk_rows: int, prev_live: list[str]):
        self._path = path
        self._spec_json = spec_json
        self._run = run
        self._chunk_rows = chunk_rows
        self._prev_live = prev_live

    def write(self, iterator: Iterator[Any]) -> _FileCommit:
        return _encode_partition_task(
            self._path, self._spec_json, self._chunk_rows, self._run, iterator
        )

    def commit(self, messages) -> None:
        from ..operators.encode import append_log_entry

        lines = _sink_entry(self._path, self._spec_json, messages,
                            self._prev_live)
        if len(lines) > 2:
            # an overwrite names the files it replaces: a concurrent commit
            # that removed one of them first makes this one raise
            append_log_entry(self._path, lines, reads=self._prev_live)

    def abort(self, messages) -> None:
        import posixpath

        from ..operators.table import _io

        io = _io(self._path, None)
        for m in messages:
            if m is not None and getattr(m, "file_name", None):
                try:
                    io.fs.delete_file(posixpath.join(io.join("data"),
                                                     m.file_name))
                except Exception:
                    pass  # vacuum() reclaims whatever abort could not reach


def _last_txn_version(path: str, app_id: str) -> int | None:
    """Highest committed streaming-epoch version for ``app_id`` per the
    commit log's ``txn`` lines (the Delta SetTransaction idempotence axis,
    ``DeltaLake.fs:176-444`` contract). None when the app never committed."""
    from ..operators.encode import log_entries

    # an app's txn versions are monotone in log order (each commit carries
    # its batchId), so the NEWEST entry with a txn line for this app is the
    # max — walk newest-first (a checkpoint's collapsed txn lines come last)
    # and stop at the first hit, keeping per-epoch commit cost
    # O(entries since the app's last commit), not O(log)
    for _, entry in log_entries(path, newest_first=True):
        txn = entry.get("txn")
        if txn and txn.get("appId") == app_id:
            return int(txn["version"])
    return None


class PandoraTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pandora_table")`` — exactly-once micro-batch
    appends into the encoded store.

    Each epoch's tasks blind-publish chunk files under a fresh run id; the
    driver folds every task's add into ONE atomic commit-log entry that also
    carries a ``{"txn": {appId, version=batchId}}`` line. On epoch replay
    (sink ahead of Spark's streaming checkpoint after a crash) the recorded
    txn version gates the commit: the duplicate attempt's files are deleted,
    nothing is re-logged, so downstream readers — including the
    ``pandora_table`` streaming *source* tailing the same log — see every
    input row exactly once. ``app_id`` defaults to a constant per sink dir;
    distinct concurrent queries into one store must set their own
    ``.option("app_id", ...)``.

    ``overwrite=True`` (complete output mode) additionally removes the
    previously-live file set in the same entry — the store then always holds
    exactly the latest materialized result, still time-travelable."""

    def __init__(self, path: str, spec_json: str, chunk_rows: int,
                 app_id: str, overwrite: bool):
        self._path = path
        self._spec_json = spec_json
        self._chunk_rows = chunk_rows
        self._app_id = app_id
        self._overwrite = overwrite

    def write(self, iterator: Iterator[Any]) -> _FileCommit:
        import uuid

        run = "se" + uuid.uuid4().hex[:10]
        return _encode_partition_task(
            self._path, self._spec_json, self._chunk_rows, run, iterator
        )

    def _drop_files(self, messages) -> None:
        import posixpath

        from ..operators.table import _io

        io = _io(self._path, None)
        for m in messages:
            if m is not None and getattr(m, "file_name", None):
                try:
                    io.fs.delete_file(
                        posixpath.join(io.join("data"), m.file_name)
                    )
                except Exception:
                    pass  # vacuum() reclaims stragglers

    def commit(self, messages, batchId: int) -> None:
        from ..operators.encode import append_log_entry, committed_files

        last = _last_txn_version(self._path, self._app_id)
        if last is not None and last >= batchId:
            # replayed epoch: the original commit stands; this attempt's
            # files are orphans — reclaim them now
            self._drop_files(messages)
            return
        prev_live = (committed_files(self._path) or []) if self._overwrite else []
        # the txn line makes even an empty epoch a commit: replay stays gated
        append_log_entry(
            self._path,
            _sink_entry(self._path, self._spec_json, messages, prev_live,
                        [{"txn": {"appId": self._app_id, "version": batchId}}]),
            reads=prev_live)

    def abort(self, messages, batchId: int) -> None:
        self._drop_files(messages)


class PandoraTableStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("pandora_table")`` — tail the commit log.

    The offset axis IS the numbered log index (the time-travel axis of
    ``log_versions``): each micro-batch covers the log entries in
    ``(start, end]`` and its partitions are the data files those entries
    *added with dataChange* — compaction's rewrite entries carry
    ``dataChange: false`` (``operators/table.py:compact_table``) and are
    skipped, so a tailing consumer sees every appended row exactly once and
    never re-sees rows a compaction merely moved. Deletion-vector commits
    (``{"dv": ...}``, metadata-only) likewise add nothing: the offset
    advances with zero rows — streams are append-only and soft deletes never
    retract already-emitted rows (Delta's ``skipChangeCommits`` analog).
    This is the streaming half
    of the reference's micro-batch loop (``README.md`` foreachBatch usage)
    turned inside out: the encoded store as an exactly-once *source*."""

    def __init__(self, path: str, spec_json: str, out_names: list[str]):
        self._path = path
        self._spec_json = spec_json
        self._out_names = out_names

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        from ..operators.encode import log_versions

        vs = log_versions(self._path)
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        from ..operators.encode import log_entries

        files = [e["add"]["path"] for _, e in log_entries(
                     self._path, after=int(start["version"]),
                     upto=int(end["version"]))
                 if "add" in e and e["add"].get("dataChange", True)]
        # a remove-only range (compaction) still needs one no-op partition:
        # Spark requires a non-empty partition set per planned batch
        return [InputPartition(f) for f in files] or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator[Any]:
        if partition.value is None:
            return
        yield from _decode_file_batches(
            self._path, self._spec_json, self._out_names, [], partition.value
        )

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's own streaming checkpoint


def register_table_datasource(spark) -> None:
    """Idempotently register the ``pandora_table`` format on this session."""
    # Python-data-source filter pushdown is gated off by default (Spark 4.1);
    # without it Spark refuses any reader implementing pushFilters
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PandoraTableDataSource)


def read_encoded_table(spark, out_dir: str, columns: list[str] | None = None,
                       as_of: int | None = None):
    """``spark.read.format("pandora_table")`` with the options wired."""
    register_table_datasource(spark)
    r = spark.read.format(FORMAT_NAME)
    if columns:
        r = r.option("columns", ",".join(columns))
    if as_of is not None:
        r = r.option("as_of", str(as_of))
    return r.load(out_dir)


def write_encoded_table(df, out_dir: str, key_cols: list[str] | None = None,
                        mode: str = "append",
                        chunk_rows: int | None = None) -> None:
    """``df.write.format("pandora_table")`` with the options wired. Each
    scan partition becomes one chunk file (map-only; repartition upstream to
    size files), committed atomically in one log entry."""
    register_table_datasource(df.sparkSession)
    w = df.write.format(FORMAT_NAME).mode(mode)
    if key_cols:
        w = w.option("key_cols", ",".join(key_cols))
    if chunk_rows is not None:
        w = w.option("chunk_rows", str(chunk_rows))
    w.save(out_dir)


def stream_encoded_table(spark, out_dir: str,
                         columns: list[str] | None = None):
    """``spark.readStream.format("pandora_table")`` — tail committed
    appends of the encoded store as an exactly-once streaming source."""
    register_table_datasource(spark)
    r = spark.readStream.format(FORMAT_NAME)
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(out_dir)


def stream_write_encoded_table(df, out_dir: str, checkpoint: str,
                               key_cols: list[str] | None = None,
                               app_id: str | None = None,
                               output_mode: str = "append",
                               chunk_rows: int | None = None):
    """``df.writeStream.format("pandora_table")`` with the options wired —
    returns the un-started :class:`DataStreamWriter` so callers pick the
    trigger. ``output_mode="complete"`` turns each epoch into an atomic
    replace-all (streaming materialized view inside the store)."""
    register_table_datasource(df.sparkSession)
    w = (
        df.writeStream.format(FORMAT_NAME)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if key_cols:
        w = w.option("key_cols", ",".join(key_cols))
    if app_id:
        w = w.option("app_id", app_id)
    if chunk_rows is not None:
        w = w.option("chunk_rows", str(chunk_rows))
    return w
