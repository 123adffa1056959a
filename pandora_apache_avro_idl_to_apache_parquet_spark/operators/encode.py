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

The commit log (below) is the store's: all chunk/checkpoint/commit-log I/O
goes through :class:`..functions.fsio.FsIO` resolved from the output URI, so
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


def write_commit_log(out_dir: str, pds: date, io: FsIO | None = None) -> str | None:
    """Numbered-JSONL commit log — the A28/A29 analog of the reference's
    ``_delta_log`` writer (``/root/reference/.../Pandora/Databricks/
    DeltaLake.fs:176-444``): a ``_log/<%020d>.json`` file holding one
    ``protocol`` line, one ``metaData`` line (schema + partition column), and
    one ``add`` line per data file (path, size, sha256, partitionValues).

    Index discovery mirrors the reference's fold-max-plus-one over existing
    numeric filenames (``README.md:608-645``); the write is optimistic —
    ``FsIO.create_exclusive`` plays the role of the reference's upload-
    with-overwrite=false, and on collision (concurrent committer) the log is
    re-read so files the winner committed are dropped from our payload before
    the next index is tried. Only files not yet referenced by earlier log
    entries are added, so re-running after resume appends exactly the new
    files. ``metaData.schemaString`` is the chunk schema of the store's
    ``_schema.json`` sidecar, and each ``add`` carries the exact per-file
    ``stats`` its marker recorded.
    """
    from .table import chunk_schema_for, read_table_spec

    io = _io(out_dir, io)
    data_dir, log_dir = io.join("data"), io.join("_log")
    if not io.isdir(data_dir):
        return None
    io.makedirs(log_dir)

    def _scan_log() -> tuple[set[str], list[int]]:
        # "referenced" = ever added OR removed: neither may be re-added
        # (a removed file's data lives on in its compaction target). A
        # checkpoint's collapsed adds + remove tombstones stand in for any
        # json files checkpoint_log(clean=True) deleted, and its version
        # floors index allocation so new commits never reuse covered indices.
        referenced: set[str] = set()
        indices: list[int] = []
        ckpt = read_log_checkpoint(out_dir, io)
        if ckpt is not None:
            indices.append(ckpt[0])
            for entry in ckpt[1]:
                if "add" in entry:
                    referenced.add(entry["add"]["path"])
                if "remove" in entry:
                    referenced.add(entry["remove"]["path"])
        for f in io.listdir(log_dir):
            if not f.endswith(".json"):
                continue
            indices.append(int(f[:-5]))
            for line in io.read_text(posixpath.join(log_dir, f)).splitlines():
                entry = json.loads(line)
                if "add" in entry:
                    referenced.add(entry["add"]["path"])
                if "remove" in entry:
                    referenced.add(entry["remove"]["path"])
        return referenced, indices

    def _marker_index() -> dict[str, dict]:
        """file_name -> integrity info from the checkpoint markers (written
        executor-side, hashed in flight), so commit never re-reads data."""
        idx: dict[str, dict] = {}
        ckpt = io.join("_checkpoints")
        for f in io.listdir(ckpt):
            if f.startswith("part-") and f.endswith(".json"):
                st = json.loads(io.read_text(posixpath.join(ckpt, f)))
                if "file_name" in st:
                    idx[st["file_name"]] = st
        return idx

    def _build_payload(referenced: set[str]) -> str | None:
        # marker-gated adds: only files whose writer completed its checkpoint
        # marker are committed. A crash between file publish and marker
        # leaves an orphan that is never added (and never read — readers are
        # log-gated, see committed_files) until the part's re-encode
        # overwrites it; vacuum() reclaims anything unreferenced.
        markers = _marker_index()
        new_files = sorted(
            f for f in io.listdir(data_dir)
            if f.endswith(".parquet") and f not in referenced and f in markers
        )
        if not new_files:
            return None
        lines = [
            json.dumps({"protocol": PROTOCOL}),
            json.dumps(
                {
                    "metaData": {
                        "schemaString": chunk_schema_for(
                            read_table_spec(out_dir, io)).json(),
                        "partitionColumns": ["pds"],
                        "format": {"provider": "parquet"},
                    }
                }
            ),
        ]
        for f in new_files:
            path = posixpath.join(data_dir, f)
            info = markers[f]
            add = {
                "path": f,
                "size": info["file_size"],
                "sha256": info["file_sha256"],
                # date-partitioned encodes record each file's own partition
                # date in its marker; legacy markers fall back to the
                # run-level pds
                "partitionValues": {"pds": info.get("pds", pds.isoformat())},
                "dataChange": True,
                "modificationTime": io.mtime_ms(path),
                "stats": info["stats"],
            }
            lines.append(json.dumps({"add": add}))
        return "\n".join(lines) + "\n"

    referenced, indices = _scan_log()
    payload = _build_payload(referenced)
    if payload is None:
        return None
    idx = (max(indices) + 1) if indices else 0
    while True:  # optimistic retry on index collision (A29)
        target = posixpath.join(log_dir, f"{idx:020d}.json")
        if io.create_exclusive(target, payload.encode()):
            return target
        # a concurrent committer won this index: re-read the log so files
        # it committed are dropped from our payload (exactly-once — the
        # 'only files not yet referenced' invariant), then try next index
        referenced, indices = _scan_log()
        payload = _build_payload(referenced)
        if payload is None:
            return None
        idx = max(idx + 1, (max(indices) + 1) if indices else 0)


def read_commit_log(out_dir: str, io: FsIO | None = None) -> list[dict]:
    """All committed entries across the numbered log files, in order."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    entries: list[dict] = []
    for f in io.listdir(log_dir):
        if f.endswith(".json"):
            entries.extend(
                json.loads(line)
                for line in io.read_text(posixpath.join(log_dir, f)).splitlines()
            )
    return entries


_LAST_CHECKPOINT = "_last_checkpoint"


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
        for f in list(io.listdir(log_dir)):
            if f.endswith(".json") and int(f[:-5]) <= v:
                io.fs.delete_file(posixpath.join(log_dir, f))
                removed += 1
    return {"version": v, "entries": len(lines), "file": name,
            "cleaned_json_files": removed}


def read_log_checkpoint(out_dir: str, io: FsIO | None = None
                        ) -> tuple[int, list[dict]] | None:
    """(checkpoint version, collapsed entries) per ``_last_checkpoint``, or
    None when the log has never been checkpointed."""
    import pyarrow.parquet as pq

    io = _io(out_dir, io)
    log_dir = io.join("_log")
    pointer = posixpath.join(log_dir, _LAST_CHECKPOINT)
    if not io.exists(pointer):
        return None
    d = json.loads(io.read_text(pointer))
    tbl = pq.read_table(pa.BufferReader(
        io.read_bytes(posixpath.join(log_dir, d["file"]))))
    return int(d["version"]), [json.loads(s) for s in tbl.column("line").to_pylist()]


@dataclass
class LogSnapshot:
    """The table state one replay of the commit log yields: the live
    ``add`` action per data file (with its ``stats`` when the writer
    recorded them), the live deletion-vector actions in commit order
    (``"v"``-stamped), the remove tombstones, the latest ``metaData`` and
    the latest ``txn`` per appId."""

    adds: dict[str, dict] = field(default_factory=dict)
    dvs: list[dict] = field(default_factory=list)
    removes: dict[str, dict] = field(default_factory=dict)
    meta: dict | None = None
    txns: dict[str, dict] = field(default_factory=dict)

    @property
    def files(self) -> list[str]:
        return sorted(self.adds)

    def apply(self, entry: dict, idx: int) -> None:
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
    the checkpoint was taken with ``clean=True``)."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    if not io.isdir(log_dir):
        return None
    snap = LogSnapshot()
    start_after = -1
    ckpt = read_log_checkpoint(out_dir, io)
    if ckpt is not None and (as_of is None or as_of >= ckpt[0]):
        start_after = ckpt[0]
        for entry in ckpt[1]:
            snap.apply(entry, ckpt[0])
    elif ckpt is not None and as_of is not None and as_of < ckpt[0]:
        # pre-checkpoint time travel replays raw json; if checkpoint_log ran
        # with clean=True those files are gone — fail loudly, never return a
        # silently incomplete version
        json_idx = [int(f[:-5]) for f in io.listdir(log_dir)
                    if f.endswith(".json")]
        if not json_idx or min(json_idx) > 0:
            raise ValueError(
                f"time travel to version {as_of} predates log checkpoint "
                f"{ckpt[0]} and the covered json files were cleaned"
            )
    for f in sorted(io.listdir(log_dir)):
        if not f.endswith(".json"):
            continue
        idx = int(f[:-5])
        if idx <= start_after:
            continue
        if as_of is not None and idx > as_of:
            break
        for line in io.read_text(posixpath.join(log_dir, f)).splitlines():
            snap.apply(json.loads(line), idx)
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
    moves chunk rows verbatim into new files) carries them untouched, and a
    copy-on-write rewrite (which mints new chunk ids) orphans them
    harmlessly. Readers union every live action's positions per chunk.

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
    """Committed log indices, in order (the time-travel axis)."""
    io = _io(out_dir, io)
    d = io.join("_log")
    return sorted(int(f[:-5]) for f in io.listdir(d) if f.endswith(".json"))


def append_log_entry(out_dir: str, lines: list[dict], io: FsIO | None = None) -> str:
    """Append one numbered log file holding ``lines`` (e.g. compaction's
    add+remove set) with the same optimistic exclusive-create index protocol
    as :func:`write_commit_log`."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    io.makedirs(log_dir)
    payload = "\n".join(json.dumps(e) for e in lines) + "\n"
    indices = [int(f[:-5]) for f in io.listdir(log_dir) if f.endswith(".json")]
    ckpt = read_log_checkpoint(out_dir, io)
    if ckpt is not None:
        indices.append(ckpt[0])  # never reuse a checkpointed index
    idx = (max(indices) + 1) if indices else 0
    while True:
        target = posixpath.join(log_dir, f"{idx:020d}.json")
        if io.create_exclusive(target, payload.encode()):
            return target
        idx += 1


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
