"""Token pipeline entry points, and the commit log every store shares.

A token table ``(doc_id, tokens, n_tok, source)`` is stored as a generic
table store (``table.py``) with the stored lanes ``doc_id``, ``tokens``
(``array<int>``, the GROUPED codec cascade) and ``source``:

    scan -> check n_tok == size(tokens), drop n_tok          # derived lane
         -> part_id = pmod(xxhash64(source, doc_id), n_parts) # salted spread
         -> anti-join against completed checkpoints           # resume
         -> groupBy(part_id).applyInArrow(encode partition)   # the only shuffle
         -> chunk parquet files + checkpoint markers -> commit log

``n_tok`` is not stored: it equals ``size(tokens)`` (checked at encode,
re-derived at decode), the correlated-column idea of *Corra* (VLDB 2024).
The key ``(source, doc_id)`` hashes both columns, so a source holding 50% of
rows spreads uniformly over all partitions (the salted repartition the north
rule asks for; AQE skew handling does not apply to grouped-map UDFs), and
sorts each part by source, then doc_id. A chunk holds at most
``DEFAULT_CHUNK_ROWS`` rows and ``DEFAULT_CHUNK_VALUES`` tokens.

The commit log (below) is the store's, and this module is its only reader
and writer: every other module replays it through :func:`log_snapshot` /
:func:`log_entries` and commits through :func:`append_log_entry`. All
chunk/checkpoint/commit-log I/O goes through
:class:`..functions.fsio.FsIO` resolved from the output URI, so
executors write to the real shared store (S3/HDFS/local). Each group
publishes its chunk file and then its checkpoint marker, so a failed job
leaves only whole-partition units; the next run re-encodes only the
remainder, and the driver commits every marked file in one log entry — the
reference's optimistic Delta-commit retry (A29,
``/root/reference/README.md:608-701``) re-expressed as idempotent
per-partition commits.
"""

from __future__ import annotations

import json
import posixpath
import uuid
from dataclasses import dataclass, field
from datetime import date
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.fsio import FsIO

DEFAULT_CHUNK_ROWS = 4096
# the one element cap of every table-store chunk, summed over its array and
# map lanes (table._chunk_boundaries); for a token chunk, its token count
DEFAULT_CHUNK_VALUES = 1 << 18
TOKEN_KEY = ["source", "doc_id"]


def _io(out_dir: str, io: FsIO | None) -> FsIO:
    return io if io is not None else FsIO.resolve(out_dir)


def completed_parts(out_dir: str, io: FsIO | None = None,
                    run: str = "r0") -> list[int]:
    """Part ids of ``run`` with a checkpoint marker (the resume identity —
    per run, so append runs into one dir never mask each other)."""
    io = _io(out_dir, io)
    prefix = f"part-{run}-"
    return sorted(
        int(f[len(prefix):-len(".json")])
        for f in io.listdir(io.join("_checkpoints"))
        if f.startswith(prefix) and f.endswith(".json")
    )


def part_id_frame(spark: SparkSession, parts: list[int]) -> DataFrame:
    """The completed part ids of a resumed encode as a one-column local
    frame, built from Arrow (see :func:`empty_frame`)."""
    return spark.createDataFrame(
        pa.table({"part_id": pa.array(parts, pa.int32())}), "part_id int")


def _token_lanes(df: DataFrame) -> DataFrame:
    """The stored lanes of a token frame. Fails the job on a row whose
    ``n_tok`` is not ``size(tokens)``: decode re-derives it from ``tokens``."""
    bad = F.col("n_tok") != F.size("tokens")
    msg = F.concat(F.lit("n_tok invariant violated at doc_id="), F.col("doc_id"))
    return (df.where(F.when(bad, F.raise_error(msg)).otherwise(F.lit(True)))
            .select("doc_id", "tokens", "source"))


def encode_tokens(df: DataFrame, out_dir: str, n_parts: int = 64,
                  pds: date | None = None,
                  fail_parts: set[int] | None = None,
                  io: FsIO | None = None) -> DataFrame:
    """Encode a token table (salted shuffle into ``n_parts`` groups);
    returns the manifest (:func:`read_manifest`).

    Resume: part ids with a checkpoint marker in ``out_dir/_checkpoints``
    are skipped; ``fail_parts`` injects failures for the resume tests (A29
    analog). ``io`` injects a custom filesystem (tests use a latency +
    no-rename wrapper); by default it resolves from ``out_dir`` via
    ``pyarrow.fs`` and is shipped to executors inside the kernel closure."""
    from .table import _encode_store

    _encode_store(_token_lanes(df), out_dir, TOKEN_KEY, n_parts,
                  DEFAULT_CHUNK_ROWS, pds, fail_parts, io, "r0")
    return read_manifest(df.sparkSession, out_dir, io)


def encode_tokens_scan(df: DataFrame, out_dir: str,
                       pds: date | None = None,
                       fail_parts: set[int] | None = None,
                       io: FsIO | None = None) -> DataFrame:
    """Map-only encode: each *scan partition* is an encode unit, with **no
    shuffle at all** (:func:`..operators.table.encode_table_scan`).

    For a curated Iceberg/parquet token table the input files already spread
    the corpus, so paying a full shuffle of every token byte buys nothing;
    :func:`encode_tokens` (salted shuffle) remains the path for skewed or
    hot-keyed sources, as the north rule's "explicit salted repartitioning
    for skewed sources" prescribes."""
    from .table import _encode_store

    _encode_store(_token_lanes(df), out_dir, TOKEN_KEY, None,
                  DEFAULT_CHUNK_ROWS, pds, fail_parts, io, "r0")
    return read_manifest(df.sparkSession, out_dir, io)


PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 1, "payloadFormat": 2}
_LAST_CHECKPOINT = "_last_checkpoint"


def log_header(spec) -> list[dict]:
    """The ``protocol`` and ``metaData`` lines that open every commit-log
    entry: the chunk schema of ``spec`` (the store's ``_schema.json``
    sidecar) and the ``pds`` partition column."""
    from .table import chunk_schema_for

    return [{"protocol": PROTOCOL},
            {"metaData": {"schemaString": chunk_schema_for(spec).json(),
                          "partitionColumns": ["pds"],
                          "format": {"provider": "parquet"}}}]


def add_action(marker: dict, pds: str | None = None, data_change: bool = True,
               io: FsIO | None = None) -> dict:
    """The log ``add`` of one chunk file, from the marker the encode kernel
    published for it: name, size and sha256 (hashed in flight, so a commit
    never re-reads data), its partition date and its per-file ``stats``.
    ``pds`` stands in for a marker that records no date (a compaction's
    merged file takes the date of the files it merged; no date, no
    ``partitionValues``); ``io`` stamps the file's ``modificationTime``."""
    add = {"path": marker["file_name"], "size": marker["file_size"],
           "sha256": marker["file_sha256"]}
    pds = marker.get("pds", pds)
    if pds:
        add["partitionValues"] = {"pds": pds}
    add["dataChange"] = data_change
    if io is not None:
        add["modificationTime"] = io.mtime_ms(io.join("data", marker["file_name"]))
    add["stats"] = marker["stats"]
    return {"add": add}


class CleanedLogError(ValueError):
    """A log read reached json files that ``checkpoint_log(clean=True)``
    deleted."""


def _checkpoint_pointer(io: FsIO) -> dict | None:
    pointer = posixpath.join(io.join("_log"), _LAST_CHECKPOINT)
    return json.loads(io.read_text(pointer)) if io.exists(pointer) else None


def _json_indices(io: FsIO) -> list[int]:
    return [int(f[:-5]) for f in io.listdir(io.join("_log")) if f.endswith(".json")]


def _next_index(io: FsIO) -> int:
    """One past the newest json index or checkpoint version: a commit never
    reuses an index a clean checkpoint covers."""
    ptr = _checkpoint_pointer(io)
    return max(_json_indices(io) + [-1 if ptr is None else int(ptr["version"])]) + 1


def log_entries(out_dir: str, io: FsIO | None = None, after: int | None = None,
                upto: int | None = None, newest_first: bool = False
                ) -> Iterator[tuple[int, dict]]:
    """The commit log as ``(index, entry)`` pairs, one per action line, in
    index order (``newest_first`` reverses the order of the files), up to
    index ``upto``. Files are read as the walk reaches them, so a walk that
    stops early reads only the files it passed.

    With ``after=None`` the walk is the table's state: when a checkpoint
    covers ``upto``, its collapsed entries (at its version) stand in for
    every json file it covers, so readers see checkpointed state even after
    ``checkpoint_log(clean=True)`` deleted those files. With ``after=N`` it
    is the raw json range ``(N, upto]`` (a change feed); a range reaching
    into json files a clean checkpoint deleted raises
    :class:`CleanedLogError`, as does a state walk to a version before such
    a checkpoint — never a silently incomplete log."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    lo = -1 if after is None else after
    idx = [i for i in _json_indices(io)
           if i > lo and (upto is None or i <= upto)]
    ptr = _checkpoint_pointer(io)
    ckpt_v = -1 if ptr is None else int(ptr["version"])
    from_ckpt = after is None and ptr is not None and (upto is None or upto >= ckpt_v)
    covered = ckpt_v if upto is None else min(upto, ckpt_v)
    if from_ckpt:
        idx = [i for i in idx if i > ckpt_v]
    elif lo < covered and lo + 1 not in idx:
        # indices are contiguous (every claim is the newest + 1), so the
        # range is whole iff its first json file survived
        raise CleanedLogError(
            f"reading log version(s) {lo + 1}..{covered} predates log "
            f"checkpoint {ckpt_v}, whose covered json files were cleaned")

    def ckpt_entries():
        for e in read_log_checkpoint(out_dir, io)[1]:
            yield ckpt_v, e

    if from_ckpt and not newest_first:
        yield from ckpt_entries()
    for i in (reversed(idx) if newest_first else idx):
        for line in io.read_text(posixpath.join(log_dir, f"{i:020d}.json")).splitlines():
            yield i, json.loads(line)
    if from_ckpt and newest_first:
        yield from ckpt_entries()


def read_commit_log(out_dir: str, io: FsIO | None = None) -> list[dict]:
    """Every committed entry, in order: the table's log as
    :func:`log_entries` replays it, so after a checkpoint its collapsed
    entries come first, in place of the json files it covers."""
    return [e for _, e in log_entries(out_dir, io)]


def append_log_entry(out_dir: str, lines, io: FsIO | None = None,
                     reads: list[str] | None = None,
                     base: "LogSnapshot | None" = None) -> str | None:
    """Commit one numbered log file — the only code that claims a ``_log``
    index — and return its path. The claim is optimistic:
    ``FsIO.create_exclusive`` of ``_log/<%020d>.json`` plays the role of the
    reference's upload-with-overwrite=false, and a lost claim (a concurrent
    committer took the index) tries again at a later one.

    ``lines`` is the entry, or a function of the current :class:`LogSnapshot`
    that plans it (None: nothing left to commit), called again after each
    lost claim so the plan sees what the winner committed.

    ``reads`` names the files this commit's removes or deletion-vector
    positions were planned from. Such a commit replays the log, checks that
    every file it read is still live, and claims ``snapshot.version + 1``;
    after a lost claim it checks again. A file a concurrent commit removed
    first is a conflict: ``ValueError``, and nothing is committed (the
    *Delta Lake* isolation rule).

    ``base`` is the snapshot a commit decoded its rows under, given by
    commits that write rows back (a copy-on-write rewrite, a DV update's
    replacement rows): those rows reflect ``base``'s deletion vectors, so a
    DV delete, update or restore committed since is a conflict too (the
    rewrite would undo the delete, or an update would land twice).

    A commit that reads no file (a plain append, a stream epoch) and plans
    no entry claims the next free index with no replay."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    io.makedirs(log_dir)
    replay = callable(lines) or bool(reads) or base is not None
    idx = -1
    while True:
        if replay:
            snap = log_snapshot(out_dir, io)
            gone = sorted(set(reads or ()) - set(snap.adds))
            if gone:
                raise ValueError(
                    f"commit conflict: {len(gone)} file(s) this commit read "
                    f"are no longer live (e.g. {gone[0]!r}); a concurrent "
                    "commit rewrote them, re-run the operation")
            if base is not None and snap.dvs != base.dvs:
                raise ValueError(
                    "commit conflict: a concurrent commit changed the "
                    "deletion vectors this commit's rows were read under, "
                    "re-run the operation")
            entry = lines(snap) if callable(lines) else lines
            if entry is None:
                return None
            nxt = snap.version + 1
        else:
            entry, nxt = lines, _next_index(io)
        idx = max(idx + 1, nxt)
        target = posixpath.join(log_dir, f"{idx:020d}.json")
        if io.create_exclusive(target, ("\n".join(json.dumps(e) for e in entry)
                                        + "\n").encode()):
            return target


def write_commit_log(out_dir: str, pds: date, io: FsIO | None = None) -> str | None:
    """Commit the encode's chunk files: every file in ``data/`` whose
    checkpoint marker its writer completed and that the log does not yet
    reference (as live or removed: a removed file's rows live on in its
    rewrite) becomes one ``add`` in ONE entry after a ``log_header`` — the
    A28/A29 analog of the reference's ``_delta_log`` writer
    (``DeltaLake.fs:176-444``).
    Each ``add`` carries the exact per-file ``stats`` its marker recorded;
    ``pds`` dates a marker that records no date of its own.

    The referenced set comes from :func:`log_snapshot`, so it includes
    what a checkpoint collapsed. A crash between a file's publish and its
    marker leaves an orphan that is never added (and never read — readers
    are log-gated) until the part's re-encode overwrites it. After a lost
    index claim (:func:`append_log_entry`) the entry is re-planned, so files
    the winner committed are dropped from it: re-running after a resume, or
    a racing encode into the same table, adds each file exactly once."""
    from .table import read_table_spec

    io = _io(out_dir, io)
    if not io.isdir(io.join("data")):
        return None
    ckpt_dir = io.join("_checkpoints")
    markers = {}
    for f in io.listdir(ckpt_dir):
        if f.startswith("part-") and f.endswith(".json"):
            st = json.loads(io.read_text(posixpath.join(ckpt_dir, f)))
            if "file_name" in st:
                markers[st["file_name"]] = st
    listed = set(listed_data_files(io))

    def plan(snap: LogSnapshot) -> list[dict] | None:
        new = [f for f in sorted(markers) if f in listed
               and f not in snap.adds and f not in snap.removes]
        if not new:
            return None
        return log_header(read_table_spec(out_dir, io)) + [
            add_action(markers[f], pds.isoformat(), io=io) for f in new]

    return append_log_entry(out_dir, plan, io)


def checkpoint_log(out_dir: str, io: FsIO | None = None,
                   clean: bool = False) -> dict:
    """Delta-style commit-log CHECKPOINT (``DeltaLake`` checkpoint contract;
    Delta writes one every 10 commits): collapse every entry with index <=
    the latest version V into one parquet snapshot
    ``_log/<V>.checkpoint.parquet`` plus a ``_log/_last_checkpoint`` pointer,
    so readers replay the checkpoint + only the json files AFTER it instead
    of the whole tail. At 100 TB a long-lived table accumulates 10^4-10^5
    commits; without this every reader's planning pass is O(log length).

    State collapsed: the last ``add`` per live path (adds minus removes),
    the latest ``metaData``, the latest ``txn`` per appId (the stream
    sink's idempotence axis survives checkpointing), and the surviving
    deletion-vector actions (``"v"``-stamped; a later ``dvRestore`` simply
    replaces state — :func:`committed_dv_actions`). The snapshot is one
    snappy parquet column of raw json lines — byte-faithful to the log
    format, ~10x smaller than the json tail it replaces.

    ``clean=True`` additionally deletes the json log files the checkpoint
    covers (Delta's log-retention cleanup). That forfeits time travel and
    CDF diffs to versions < V and is only safe when no streaming tail or
    as_of reader still needs them — the default keeps every json file, so
    the checkpoint is purely an accelerator."""
    import pyarrow.parquet as pq

    io = _io(out_dir, io)
    log_dir = io.join("_log")
    versions = log_versions(out_dir, io)
    if not versions:
        raise ValueError("no commit log to checkpoint")
    v = versions[-1]
    snap = log_snapshot(out_dir, io, as_of=v)
    lines = (([{"metaData": snap.meta}] if snap.meta else [])
             + [{"txn": snap.txns[a]} for a in sorted(snap.txns)]
             + [{"add": snap.adds[p]} for p in sorted(snap.adds)]
             + [{"remove": snap.removes[p]} for p in sorted(snap.removes)]
             + [{"dv": a} for a in snap.dvs])
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.table({"line": pa.array([json.dumps(e) for e in lines], pa.string())}),
        buf, compression="snappy",
    )
    name = f"{v:020d}.checkpoint.parquet"
    tag = uuid.uuid4().hex[:8]
    io.publish_bytes(posixpath.join(log_dir, name),
                     buf.getvalue().to_pybytes(), attempt_tag=tag)
    io.publish_bytes(posixpath.join(log_dir, _LAST_CHECKPOINT),
                     json.dumps({"version": v, "file": name}).encode(),
                     attempt_tag=tag)
    removed = 0
    if clean:
        for i in _json_indices(io):
            if i <= v:
                io.fs.delete_file(posixpath.join(log_dir, f"{i:020d}.json"))
                removed += 1
    return {"version": v, "entries": len(lines), "file": name,
            "cleaned_json_files": removed}


def read_log_checkpoint(out_dir: str, io: FsIO | None = None
                        ) -> tuple[int, list[dict]] | None:
    """(checkpoint version, collapsed entries) per ``_last_checkpoint``, or
    None when the log has never been checkpointed."""
    import pyarrow.parquet as pq

    io = _io(out_dir, io)
    d = _checkpoint_pointer(io)
    if d is None:
        return None
    tbl = pq.read_table(pa.BufferReader(
        io.read_bytes(posixpath.join(io.join("_log"), d["file"]))))
    return int(d["version"]), [json.loads(s) for s in tbl.column("line").to_pylist()]


@dataclass
class LogSnapshot:
    """The table state one replay of the commit log yields: the live
    ``add`` action per data file (with its ``stats`` when the writer
    recorded them), the live deletion-vector actions in commit order
    (``"v"``-stamped), the remove tombstones, the latest ``metaData``, the
    latest ``txn`` per appId, and the log ``version`` replayed to (-1 for
    an empty log)."""

    adds: dict[str, dict] = field(default_factory=dict)
    dvs: list[dict] = field(default_factory=list)
    removes: dict[str, dict] = field(default_factory=dict)
    meta: dict | None = None
    txns: dict[str, dict] = field(default_factory=dict)
    version: int = -1

    @property
    def files(self) -> list[str]:
        return sorted(self.adds)

    def apply(self, entry: dict, idx: int) -> None:
        self.version = idx
        if "add" in entry:
            self.adds[entry["add"]["path"]] = entry["add"]
            self.removes.pop(entry["add"]["path"], None)
        if "remove" in entry:
            self.removes[entry["remove"]["path"]] = entry["remove"]
            self.adds.pop(entry["remove"]["path"], None)
        if "metaData" in entry:
            self.meta = entry["metaData"]
        if "txn" in entry:
            self.txns[entry["txn"]["appId"]] = entry["txn"]
        if "dv" in entry:
            self.dvs.append(dict(entry["dv"], v=entry["dv"].get("v", idx)))
        if "dvRestore" in entry:
            # REPLACES the DV state (see committed_dv_actions)
            self.dvs = [dict(a) for a in entry["dvRestore"]["keep"]]


def log_snapshot(out_dir: str, io: FsIO | None = None,
                 as_of: int | None = None) -> LogSnapshot | None:
    """Replay the commit log once, or None when no log exists (pre-commit
    state: directory listing governs). Every reader plans from this one
    replay: :func:`committed_files` and :func:`committed_dv_actions` are
    views of it.

    ``as_of`` replays only log files with index <= ``as_of`` — time travel:
    the table exactly as some earlier commit left it (files removed *later*,
    e.g. by compaction, are still present at that version until vacuumed,
    which is why vacuum's retention window also bounds how far back
    time-travel reads stay valid).

    When the log has been checkpointed (:func:`checkpoint_log`) and the
    checkpoint covers the requested version, replay starts from the
    checkpoint's collapsed state and touches only the json files AFTER it —
    O(commits since checkpoint), not O(log). An ``as_of`` BEFORE the
    checkpoint replays the json files directly (they are retained unless
    the checkpoint was taken with ``clean=True``, which fails loudly)."""
    io = _io(out_dir, io)
    if not io.isdir(io.join("_log")):
        return None
    snap = LogSnapshot()
    for idx, entry in log_entries(out_dir, io, upto=as_of):
        snap.apply(entry, idx)
    return snap


def committed_files(out_dir: str, io: FsIO | None = None,
                    as_of: int | None = None) -> list[str] | None:
    """Live data-file basenames per the commit log (adds minus removes) at
    ``as_of``, or None when no log exists (see :func:`log_snapshot`). This
    is what makes readers log-gated: half-published crash leftovers and
    compacted-away files are invisible."""
    snap = log_snapshot(out_dir, io, as_of)
    return None if snap is None else snap.files


def committed_dv_actions(out_dir: str, io: FsIO | None = None,
                         as_of: int | None = None) -> list[dict]:
    """Live deletion-vector actions per the commit log, in commit order.

    A ``{"dv": {"dvFile": ..., "cardinality": N}}`` log action attaches a
    deletion vector (``_dv/<dvFile>``: chunk_id -> deleted row ordinals) to
    the table — merge-on-read DELETE, the Delta deletion-vector analog.
    DVs are keyed by *chunk id*, never by file path, so compaction (which
    moves chunk rows verbatim into new files) carries them untouched. A
    copy-on-write rewrite mints new chunk ids, so a DV commit names the
    files its positions point into (``append_log_entry``'s ``reads``) and
    conflicts with a rewrite of any of them that commits first. Readers
    union every live action's positions per chunk.

    ``{"dvRestore": {"asOf": V, "keep": [...]}}`` (written by
    :func:`..operators.table.restore_table`) REPLACES the DV state with the
    embedded ``keep`` list — the exact live actions at version V. Carrying
    the full target state (not a truncation predicate) makes restores
    compose in BOTH directions: restoring to a pre-delete version
    resurrects rows, and restoring forward again (undoing that restore)
    re-applies the vectors — a filter-only marker could never recover
    actions a sequential replay had already dropped. Each action carries
    ``"v"`` (its original commit index) so identity survives checkpoints,
    where the source file index is gone."""
    snap = log_snapshot(out_dir, io, as_of)
    return [] if snap is None else snap.dvs


def log_versions(out_dir: str, io: FsIO | None = None) -> list[int]:
    """Committed json log indices, in order (the time-travel axis)."""
    return _json_indices(_io(out_dir, io))


def vacuum(out_dir: str, io: FsIO | None = None,
           min_age_sec: float = 7 * 24 * 3600.0) -> list[str]:
    """Delete data files the commit log does not reference as live (orphans
    from crashes between publish and commit, and compacted-away sources).
    New readers are safe because every read resolves files through
    :func:`committed_files`; ``min_age_sec`` is the retention window for
    everyone ELSE in flight: readers whose plan listed files before a
    compaction commit still read the old ones, and **writers publish data
    files BEFORE their checkpoint marker and commit-log entry** — a
    zero-retention vacuum racing an in-flight encode would reclaim
    just-published files as "orphans". The default matches Delta's 7-day
    VACUUM retention; pass a smaller window only when no encode or
    long-running read can overlap (tests pass 0). Returns the deleted
    basenames; no-op when no log exists."""
    import time

    io = _io(out_dir, io)
    live = committed_files(out_dir, io)
    if live is None:
        return []
    data_dir = io.join("data")
    now_ms = time.time() * 1000
    doomed = [
        f for f in io.listdir(data_dir)
        if f.endswith(".parquet") and f not in set(live)
        and now_ms - io.mtime_ms(posixpath.join(data_dir, f)) >= min_age_sec * 1000
    ]
    for f in doomed:
        io.fs.delete_file(posixpath.join(data_dir, f))
    # deletion-vector sidecars age out under the same retention contract:
    # a `_dv/` file no live action references (restored-away, or orphaned by
    # a CoW rewrite then superseded) only serves pre-restore time travel —
    # exactly what vacuuming a data file already forfeits
    dv_dir = io.join("_dv")
    if io.isdir(dv_dir):
        live_dv = {a["dvFile"] for a in committed_dv_actions(out_dir, io)}
        for f in io.listdir(dv_dir):
            if (f.endswith(".json") and f not in live_dv
                    and now_ms - io.mtime_ms(posixpath.join(dv_dir, f))
                    >= min_age_sec * 1000):
                io.fs.delete_file(posixpath.join(dv_dir, f))
                doomed.append(f)
    return doomed


def read_manifest(spark: SparkSession, out_dir: str, io: FsIO | None = None) -> DataFrame:
    """One row per chunk of a token store, projected from the chunk meta
    columns (the scan reads no payload byte): lineage (``part_id``,
    ``chunk_seq``, ``chunk_id``, ``row_lo``/``row_hi``, ``n_rows``,
    ``pds``), the ``doc_id_min``/``doc_id_max`` zone map, and the
    ``tokens`` lane as ``values_*``: ``values_codec`` is its token stream's
    codec (the lane's codec name is ``<lengths>+<tokens>``), the sizes are
    the whole lane's, and ``n_values`` — the chunk's token count — is exact
    from the lane's raw size (4 bytes per row length and per token)."""
    from .table import read_table_chunks

    return read_table_chunks(spark, out_dir, io).select(
        "part_id", "chunk_seq", "chunk_id", "row_lo", "row_hi", "n_rows",
        F.expr("(tokens__raw - 4 * n_rows) div 4").alias("n_values"),
        F.col("doc_id__min").alias("doc_id_min"),
        F.col("doc_id__max").alias("doc_id_max"),
        "pds",
        F.element_at(F.split("tokens__codec", r"\+"), -1).alias("values_codec"),
        F.col("tokens__raw").alias("values_raw_bytes"),
        F.col("tokens__enc").alias("values_enc_bytes"),
    )


def listed_data_files(io: FsIO) -> list[str]:
    """The data directory listing: the files a reader sees in pre-commit
    state (no log yet)."""
    return sorted(f for f in io.listdir(io.join("data")) if f.endswith(".parquet"))


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of ``schema`` built on the driver from Arrow: a local
    relation, so ``collect`` starts no job and an aggregate over it one
    (a frame from a Python list is a parallelized RDD, and costs more)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def _read_live_chunks(spark: SparkSession, out_dir: str, io: FsIO,
                      schema: StructType, as_of: int | None = None,
                      files: list[str] | None = None) -> DataFrame:
    """Log-gated chunk-file scan: when a commit log exists, exactly the files
    it references as live (at ``as_of``) are read (half-published crash
    leftovers and compacted-away files are invisible); directory listing is
    the fallback for pre-commit state. ``files`` passes a live set the
    caller already planned (and possibly pruned). The DataFrame read itself
    goes through Spark's own Hadoop connectors (pass URIs for cluster
    stores), under the known chunk ``schema`` (nullable on read), so
    planning starts no footer-inference job."""
    live = committed_files(out_dir, io, as_of=as_of) if files is None else files
    if live is None:
        live = listed_data_files(io)
    relaxed = StructType([StructField(f.name, f.dataType, True)
                          for f in schema.fields])
    if not live:
        # no chunk files (empty input): empty frame with the chunk schema
        return empty_frame(spark, relaxed)
    base = out_dir.rstrip("/") + "/data/"
    return spark.read.schema(relaxed).parquet(*[base + f for f in live])
