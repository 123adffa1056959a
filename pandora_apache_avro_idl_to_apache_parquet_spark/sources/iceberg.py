"""Apache Iceberg v2 table front door — no Iceberg library, no JVM catalog.

The north-star workload "ingests an Iceberg table of pre-tokenized training
sequences"; this module makes that literal. The reader walks the real v2
metadata chain — ``version-hint.text`` → ``vN.metadata.json`` → snapshot →
manifest-list (Avro OCF) → manifests (Avro OCF) → live parquet data files —
using this repo's own full-surface Avro container decoder
(`.avro_binary.read_avro_container`), then hands the pruned file list to one
ordinary ``spark.read.parquet`` so the DATA scan stays fully distributed,
Catalyst-planned, and column-pruned. Only the metadata walk runs on the
driver, which is exactly Iceberg's own design: manifests are the scan plan.

Supported on read:
* snapshot selection — current, by ``snapshot_id``, or by
  ``as_of_ms`` (snapshot-log binary search, Iceberg time travel);
* partition pruning from manifest-entry partition values — identity AND
  hidden transforms (``days(ts)``, ``bucket(N, col)``,
  ``truncate(W, col)``; :func:`derive_partition_filter` maps a source-column
  constraint to the partition predicate) — BEFORE any data file opens;
* positional delete files (v2 merge-on-read): deletes subtract via a
  left-anti join on ``(_metadata.file_path, _metadata.row_index)`` — the
  exact contract Iceberg readers implement, and the small delete side
  broadcasts.

The writer emits the same layout (data parquet + manifest + manifest-list +
``vN.metadata.json`` + ``version-hint.text``), spec-shaped field names and
ids, so round-trips are self-contained in tests and benches; appends, all
three delete kinds, compaction, and schema evolution create real new
snapshots, and commits claim their metadata version through an optimistic
lock. Deviations from full spec compliance are documented inline (no
field-id column mapping inside parquet; bounds maps key by column name with
string-repr values; ``bucket`` hashes with deterministic md5, not murmur3;
``day`` partition values record as Avro logical dates) — the reader
tolerates real manifests that carry extra fields because the row decoder is
schema-driven (pinned by a hand-crafted foreign-manifest test).

Reference parity: the reference's lake layer is Delta (``DeltaLake.fs:176-444``,
one commit-log json per write); Iceberg's manifest chain is the other
mainstream lakehouse metadata design, re-derived here over the same Avro
machinery the reference builds its IDL walker on (``Avro.fs:405-541``).
"""

from __future__ import annotations

import itertools
import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.fsio import FsIO
from .avro_binary import read_avro_container, write_avro_container

# --------------------------------------------------------------- reader side


def _io(table_dir: str, io: FsIO | None) -> FsIO:
    return io if io is not None else FsIO.resolve(table_dir)


def current_metadata(table_dir: str, io: FsIO | None = None) -> dict:
    """Load the table's current ``vN.metadata.json``: honor
    ``version-hint.text`` when present (HadoopCatalog convention), else take
    the highest version file — both real-world discovery modes."""
    io = _io(table_dir, io)
    meta_dir = io.join("metadata")
    if not io.isdir(meta_dir):
        raise ValueError(f"not an Iceberg table (no metadata/ under {table_dir})")
    hint = posixpath.join(meta_dir, "version-hint.text")
    if io.exists(hint):
        v = int(io.read_text(hint).strip())
        return json.loads(io.read_text(posixpath.join(meta_dir, f"v{v}.metadata.json")))
    versions = sorted(
        int(f[1:].split(".")[0])
        for f in io.listdir(meta_dir)
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    if not versions:
        raise ValueError(f"no vN.metadata.json under {meta_dir}")
    return json.loads(
        io.read_text(posixpath.join(meta_dir, f"v{versions[-1]}.metadata.json"))
    )


def _select_snapshot(meta: dict, snapshot_id: int | None,
                     as_of_ms: int | None, ref: str | None = None) -> dict:
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError("Iceberg table has no snapshots")
    if ref is not None:
        refs = meta.get("refs", {})
        if ref not in refs:
            raise ValueError(f"ref {ref!r} not in table metadata "
                             f"(have: {sorted(refs)})")
        return _select_snapshot(meta, refs[ref]["snapshot-id"], None)
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    if as_of_ms is not None:
        # snapshot-log is ordered; take the last snapshot at-or-before
        log = meta.get("snapshot-log", [])
        live = [e for e in log if e["timestamp-ms"] <= as_of_ms]
        if not live:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return _select_snapshot(meta, live[-1]["snapshot-id"], None)
    cur = meta.get("current-snapshot-id")
    if cur is None:
        raise ValueError("Iceberg table metadata has no current-snapshot-id; "
                         "pass snapshot_id=, as_of_ms= or ref=")
    return _select_snapshot(meta, cur, None)


def _local_path(io: FsIO, table_dir: str, path: str) -> str:
    """Manifest/file paths are written fully qualified; resolve them under
    the table dir so a relocated (cloned/copied) table still reads — the
    same relative-path tolerance iceberg's own ``write.metadata`` modes
    need. Absolute paths that exist are used verbatim."""
    if io.exists(path):
        return path
    # fall back to basename-relative under the table layout
    for sub in ("metadata", "data"):
        cand = io.join(sub, posixpath.basename(path))
        if io.exists(cand):
            return cand
    raise FileNotFoundError(f"referenced file not found: {path}")


def _data_seq(entry: dict, manifest: dict) -> int:
    """An entry's data sequence number: explicit when recorded (0 included),
    else inherited from its manifest — which the spec allows only for ADDED
    (status 1) entries. A v1 manifest list records no numbers at all, so
    every file there is 0."""
    seq = entry.get("sequence_number")
    if seq is not None:
        return seq
    if entry.get("status", 1) == 1 or "sequence_number" not in manifest:
        return manifest.get("sequence_number", 0)
    raise ValueError(
        f"manifest entry for {entry['data_file'].get('file_path')} has status "
        f"{entry['status']} but no sequence_number; only ADDED entries inherit")


def scan_manifests(table_dir: str, snapshot_id: int | None = None,
                   as_of_ms: int | None = None,
                   partition_filter=None,
                   io: FsIO | None = None,
                   stats_filter: dict | None = None,
                   ref: str | None = None) -> dict:
    """Driver-side scan plan: walk the manifest chain and return
    ``{"data_files": [...], "delete_files": [...], "pruned_files": n,
    "snapshot": {...}}``. ``partition_filter`` is a Python predicate over
    the entry's partition dict (identity-transform values, e.g.
    ``lambda p: p["source"] == "src1"``) applied to DATA manifests' entries
    — file-level pruning before any parquet footer is touched, the Iceberg
    planning contract. ``stats_filter`` maps column name -> (lo, hi)
    inclusive bounds over the SOURCE column: files whose manifest-recorded
    min/max are disjoint with the range prune too (the spec's
    lower_bounds/upper_bounds tier); files lacking bounds are kept.
    Delete files are never pruned (a delete may target any file;
    correctness first)."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    snap = _select_snapshot(meta, snapshot_id, as_of_ms, ref)
    ml_path = _local_path(io, table_dir, snap["manifest-list"])
    _, manifests = read_avro_container(io.read_bytes(ml_path))
    sch = _snapshot_schema(meta, snap) if stats_filter else None

    def stats_keep(rec: dict) -> bool:
        lo_b = rec.get("lower_bounds") or {}
        hi_b = rec.get("upper_bounds") or {}
        for col, (lo, hi) in stats_filter.items():
            dt = sch[col].dataType
            f_lo = lo_b.get(col)
            f_hi = hi_b.get(col)
            if f_lo is not None and hi is not None \
                    and _bound_parse(dt, f_lo) > hi:
                return False
            if f_hi is not None and lo is not None \
                    and _bound_parse(dt, f_hi) < lo:
                return False
        return True

    data_files: list[dict] = []
    delete_files: list[dict] = []
    pruned = 0
    for m in manifests:
        m_path = _local_path(io, table_dir, m["manifest_path"])
        _, entries = read_avro_container(io.read_bytes(m_path))
        is_delete_manifest = m.get("content", 0) == 1
        for e in entries:
            if e.get("status", 1) == 2:  # DELETED entry: file left the table
                continue
            df_rec = dict(e["data_file"])
            # equality deletes apply only to files with a STRICTLY LOWER
            # data sequence number
            df_rec["_seq"] = _data_seq(e, m)
            part = df_rec.get("partition") or {}
            if is_delete_manifest or df_rec.get("content", 0) in (1, 2):
                delete_files.append(df_rec)
                continue
            if partition_filter is not None and not partition_filter(part):
                pruned += 1
                continue
            if stats_filter and not stats_keep(df_rec):
                pruned += 1
                continue
            data_files.append(df_rec)
    return {"data_files": data_files, "delete_files": delete_files,
            "pruned_files": pruned, "snapshot": snap, "metadata": meta}


def read_iceberg(spark: SparkSession, table_dir: str,
                 snapshot_id: int | None = None,
                 as_of_ms: int | None = None,
                 columns: list[str] | None = None,
                 partition_filter=None,
                 io: FsIO | None = None,
                 stats_filter: dict | None = None,
                 ref: str | None = None) -> DataFrame:
    """Read an Iceberg v2 table directory as a DataFrame.

    The metadata walk (snapshot → manifests → file list, partition pruning,
    delete-file discovery) is driver-side and tiny; the returned plan is a
    plain distributed parquet scan over exactly the live, pruned files —
    predicate pushdown / column pruning / AQE all apply as usual. Both v2
    merge-on-read delete kinds subtract without rewriting any data file:
    positional deletes via a broadcast left-anti join on ``(file, row
    ordinal)`` using Spark's ``_metadata`` columns; equality deletes via a
    left-anti join on the delete file's columns, applied ONLY to data files
    with a strictly lower sequence number (the spec's rule — a row
    re-inserted after the delete survives). A plan that prunes every file
    reads as an empty frame with the snapshot schema."""
    plan = scan_manifests(table_dir, snapshot_id, as_of_ms,
                          partition_filter, io, stats_filter=stats_filter,
                          ref=ref)
    io = _io(table_dir, io)
    pos_dels = [f for f in plan["delete_files"] if f.get("content", 0) == 1]
    eq_dels = [f for f in plan["delete_files"] if f.get("content", 0) == 2]
    # impose the SNAPSHOT's schema on every file (fully-nullable on read):
    # after schema evolution old files serve added columns as null, and a
    # time-travel read uses the schema its snapshot wrote under
    expected = T.StructType([
        T.StructField(f.name, f.dataType, True)
        for f in _snapshot_schema(plan["metadata"], plan["snapshot"]).fields
    ])
    if not plan["data_files"]:
        # every file pruned: nothing to scan, but the columns still resolve
        from ..operators.encode import empty_frame

        empty = empty_frame(spark, expected)
        return empty.select(*columns) if columns else empty

    pos_del_df = None
    if pos_dels:
        # positional delete files: (file_path, pos) parquet, tiny vs data
        pos_del_df = (
            spark.read.parquet(*[_local_path(io, table_dir, f["file_path"])
                                 for f in pos_dels])
            .select(
                F.regexp_replace("file_path", "^file:(//)?", "").alias("__del_file"),
                F.col("pos").alias("__del_pos"),
            )
        )

    def leg(files: list[dict], project: bool = True) -> DataFrame:
        d = spark.read.schema(expected).parquet(
            *[_local_path(io, table_dir, f["file_path"]) for f in files])
        if columns and project:
            d = d.select(*columns)
        if pos_del_df is None:
            return d
        keep = d.columns
        return (
            d.select(
                "*",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
                .alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            .join(
                F.broadcast(pos_del_df),
                (F.col("__file") == F.col("__del_file"))
                & (F.col("__pos") == F.col("__del_pos")),
                "left_anti",
            )
            .select(*keep)
        )

    if not eq_dels:
        return leg(plan["data_files"])
    # equality deletes: group data files by sequence number; each group
    # anti-joins only the delete files sequenced AFTER it (projection waits
    # until after the join — the equality column may not be in `columns`).
    # Delete files additionally group BY THEIR COLUMN SET (one footer read
    # each, driver-side): two deletes keyed on different columns must each
    # anti-join on their own keys — a combined read would null-fill the
    # minority schema and silently drop its deletes. Group counts are
    # bounded by snapshot count, so the union stays shallow.
    import pyarrow.parquet as _pq

    def eq_cols(f: dict) -> tuple:
        p = _local_path(io, table_dir, f["file_path"])
        return tuple(_pq.ParquetFile(p).schema_arrow.names)

    out = None
    for seq in sorted({f["_seq"] for f in plan["data_files"]}):
        d = leg([f for f in plan["data_files"] if f["_seq"] == seq],
                project=False)
        applicable = [f for f in eq_dels if f["_seq"] > seq]
        by_cols: dict[tuple, list] = {}
        for f in applicable:
            by_cols.setdefault(eq_cols(f), []).append(f)
        for cols_key, group in sorted(by_cols.items()):
            keys = spark.read.parquet(
                *[_local_path(io, table_dir, f["file_path"]) for f in group]
            ).distinct()
            missing = [c for c in keys.columns if c not in d.columns]
            if missing:
                raise ValueError(
                    f"equality-delete columns not in table schema: {missing}")
            d = d.join(F.broadcast(keys), keys.columns, "left_anti")
        out = d if out is None else out.unionByName(d)
    return out.select(*columns) if columns else out


# --------------------------------------------------------------- writer side
#
# Spec-shaped but deliberately minimal: identity partition transforms, empty
# column-stats maps, no parquet field-id mapping. Enough for this repo's
# reader (and any reader that, like it, tolerates absent optional fields) to
# plan correctly; the layout and names follow the v2 spec so the structure
# is recognizable and testable without any Iceberg dependency.

def _iceberg_type(dt: T.DataType) -> object:
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    raise ValueError(f"unsupported Iceberg schema type: {dt}")


def _iceberg_field_type(dt: T.DataType, ids) -> object:
    """Iceberg type of ``dt``; every list, at any depth, takes the next id
    of ``ids`` for its element and records its element nullability."""
    if isinstance(dt, T.ArrayType):
        eid = next(ids)
        return {"type": "list", "element-id": eid,
                "element-required": not dt.containsNull,
                "element": _iceberg_field_type(dt.elementType, ids)}
    return _iceberg_type(dt)


def _iceberg_schema_json(schema: T.StructType) -> dict:
    ids = itertools.count(len(schema.fields) + 1)  # element ids after field ids
    fields = [{"id": i, "name": f.name, "required": not f.nullable,
               "type": _iceberg_field_type(f.dataType, ids)}
              for i, f in enumerate(schema.fields, start=1)]
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _element_ids(t) -> list[int]:
    """List-element ids of a field type, nested lists included."""
    if isinstance(t, dict) and t.get("type") == "list":
        return [t.get("element-id", 0)] + _element_ids(t["element"])
    return []


def _max_column_id(sch: dict) -> int:
    """The largest field or list-element id a schema allocates (the
    ``last-column-id`` it implies)."""
    return max([0] + [i for f in sch["fields"]
                      for i in [f["id"]] + _element_ids(f["type"])])


def _avro_part_type(dt: T.DataType) -> object:
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.StringType):
        return "string"
    raise ValueError(f"unsupported partition column type: {dt}")


def _manifest_schemas(part_fields: list[tuple[str, object]]) -> tuple[dict, dict]:
    """(manifest-list schema, manifest schema) with the spec's field names.
    The partition record nests the identity-transform columns."""
    part_rec = {
        "type": "record", "name": "r102",
        "fields": [{"name": n, "type": ["null", t], "default": None}
                   for n, t in part_fields],
    }
    data_file = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part_rec},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            # per-file column bounds (the spec's lower_bounds/upper_bounds;
            # deviation: keyed by column NAME with string-repr values —
            # typed parse-back consults the table schema — instead of
            # field-id -> single-value-serialized bytes)
            {"name": "lower_bounds",
             "type": ["null", {"type": "map", "values": "string"}],
             "default": None},
            {"name": "upper_bounds",
             "type": ["null", {"type": "map", "values": "string"}],
             "default": None},
        ],
    }
    manifest_entry = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "data_file", "type": data_file},
        ],
    }
    manifest_file = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
            {"name": "min_sequence_number", "type": "long"},
            {"name": "added_snapshot_id", "type": "long"},
            {"name": "added_files_count", "type": "int"},
            {"name": "existing_files_count", "type": "int"},
            {"name": "deleted_files_count", "type": "int"},
            {"name": "added_rows_count", "type": "long"},
            {"name": "existing_rows_count", "type": "long"},
            {"name": "deleted_rows_count", "type": "long"},
        ],
    }
    return manifest_file, manifest_entry


# ----------------------------------------------- partition transforms
#
# Iceberg's HIDDEN PARTITIONING: a table partitions by a TRANSFORM of a
# source column (`days(ts)`, `bucket(16, id)`, `truncate(4, s)`), the data
# files keep only the source column, and planning prunes on the transform
# values recorded per file in the manifests. ``partition_by`` accepts the
# transform syntax everywhere a column name is accepted. Spec deviations,
# documented: `bucket` uses the repo's deterministic md5 hash (not
# murmur3 — cross-engine oracle parity beats byte-level bucket interop),
# and `day` values record as Avro logical dates, not epoch-day ints.

import re as _re


class _Transform:
    __slots__ = ("kind", "col", "param", "field")

    def __init__(self, kind: str, col: str, param: int | None, field: str):
        self.kind, self.col, self.param, self.field = kind, col, param, field

    @property
    def spec_name(self) -> str:  # the metadata "transform" string, per spec
        if self.kind == "identity":
            return "identity"
        if self.kind == "day":
            return "day"
        return f"{self.kind}[{self.param}]"


def _parse_transform(spec: str | None) -> _Transform | None:
    if spec is None:
        return None
    m = _re.fullmatch(r"days?\((\w+)\)", spec)
    if m:
        return _Transform("day", m.group(1), None, f"{m.group(1)}_day")
    m = _re.fullmatch(r"bucket\((\d+)\s*,\s*(\w+)\)", spec)
    if m:
        return _Transform("bucket", m.group(2), int(m.group(1)),
                          f"{m.group(2)}_bucket")
    m = _re.fullmatch(r"truncate\((\d+)\s*,\s*(\w+)\)", spec)
    if m:
        return _Transform("truncate", m.group(2), int(m.group(1)),
                          f"{m.group(2)}_trunc")
    return _Transform("identity", spec, None, spec)


def _spec_to_partition_by(meta: dict) -> str | None:
    """Reconstruct the ``partition_by`` string from the persisted partition
    spec (delete/compact commits must reuse the table's own transform)."""
    fields = meta["partition-specs"][0]["fields"]
    if not fields:
        return None
    f = fields[0]
    sid = f["source-id"]
    sch = _schema_by_id(meta)
    col = next(c["name"] for c in sch["fields"] if c["id"] == sid)
    t = f["transform"]
    if t == "identity":
        return col
    if t == "day":
        return f"days({col})"
    m = _re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
    if m:
        return f"{m.group(1)}({m.group(2)}, {col})"
    raise ValueError(f"unsupported partition transform {t!r}")


def _transform_expr(t: _Transform, df: DataFrame):
    """The Spark Column computing the transform value (dir naming only —
    never stored in the data files)."""
    from ..functions.hashing import spark_md5_long

    c = F.col(t.col)
    if t.kind == "identity":
        return c
    if t.kind == "day":
        return F.to_date(c)
    if t.kind == "bucket":
        return F.expr(
            f"pmod({spark_md5_long(f'cast({t.col} as string)')}, {t.param})"
        ).cast("int")
    dt = df.schema[t.col].dataType
    if isinstance(dt, T.StringType):
        return F.substring(c, 1, t.param)
    # integer-exact floor multiple: c - pmod(c, W) stays in long arithmetic
    # (a double-division floor() would round wrong past 2^53 and desync
    # from the driver twin transform_value)
    return (c - F.pmod(c, F.lit(t.param))).cast(dt)


def transform_value(t: _Transform, v):
    """Driver-side twin of :func:`_transform_expr` — MUST produce the same
    value for the same input (pinned by a test), so
    :func:`derive_partition_filter` can map source constraints to partition
    predicates."""
    import hashlib as _hl
    from datetime import date, datetime

    if v is None:
        return None
    if t.kind == "identity":
        return v
    if t.kind == "day":
        return v.date() if isinstance(v, datetime) else v
    if t.kind == "bucket":
        h = int(_hl.md5(str(v).encode()).hexdigest()[:15], 16)
        return h % t.param
    if isinstance(v, str):
        return v[: t.param]
    return (v // t.param) * t.param


ENGINE_PROPERTY = "pandora.writer"
"""Table property this engine stamps into the metadata it creates. Its
``bucket`` transform hashes with md5 (:func:`transform_value`), so only a
table carrying ``ENGINE_PROPERTY: ENGINE_NAME`` may be pruned by it."""
ENGINE_NAME = "pandora-columnar-md5-bucket"


def derive_partition_filter(table_dir: str, lo=None, hi=None, eq=None,
                            isin=None, io: FsIO | None = None):
    """HIDDEN partitioning's payoff: the caller constrains the SOURCE
    column (``eq=`` a value, or ``lo=``/``hi=`` an inclusive range) and the
    engine derives the partition-dict predicate for the table's transform —
    the user never names the partition field. Ranges work for identity /
    day / truncate (order-preserving transforms); ``bucket`` supports
    equality only (range over a hash is meaningless) and raises otherwise,
    and prunes only tables whose metadata carries this engine's
    :data:`ENGINE_PROPERTY` — another engine's buckets use another hash,
    so on such a table the predicate keeps every file."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    pb = _spec_to_partition_by(meta)
    if pb is None:
        raise ValueError("table is unpartitioned")
    t = _parse_transform(pb)
    if t.kind == "bucket" and (eq is not None or isin is not None) and (
            meta.get("properties", {}).get(ENGINE_PROPERTY) != ENGINE_NAME):
        # another engine computed these buckets (the spec's murmur3, not
        # this engine's md5): pruning by our hash would drop matching rows
        return lambda p: True
    if eq is not None:
        tv = transform_value(t, eq)
        return lambda p: p.get(t.field) == tv
    if isin is not None:
        tvs = {transform_value(t, v) for v in isin}
        return lambda p: p.get(t.field) in tvs
    if t.kind == "bucket":
        raise ValueError("bucket partitioning prunes equality only")
    tlo = transform_value(t, lo) if lo is not None else None
    thi = transform_value(t, hi) if hi is not None else None

    def pred(p: dict) -> bool:
        v = p.get(t.field)
        if v is None:
            return True  # null partition: cannot exclude
        return (tlo is None or v >= tlo) and (thi is None or v <= thi)

    return pred


def _bound_repr(v) -> str:
    from datetime import date, datetime

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (date, datetime)):
        return v.isoformat()
    return str(v)


def _bound_parse(dt: T.DataType, s: str):
    from datetime import date, datetime

    if isinstance(dt, (T.LongType, T.IntegerType)):
        return int(s)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(s)
    if isinstance(dt, T.DateType):
        return date.fromisoformat(s)
    if isinstance(dt, T.TimestampType):
        return datetime.fromisoformat(s)
    return s


def _footer_bounds(md) -> tuple[dict, dict]:
    """Per-file column min/max folded from the parquet footer's row-group
    statistics — free at write time (the footer is already in memory).
    Only top-level primitive columns participate (nested paths carry a
    dot); columns lacking stats are simply absent, which every consumer
    treats as 'cannot prune'."""
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if name not in lo or mn < lo[name]:
                lo[name] = mn
            if name not in hi or mx > hi[name]:
                hi[name] = mx
    return ({k: _bound_repr(v) for k, v in lo.items()},
            {k: _bound_repr(v) for k, v in hi.items()})


def _write_data_files(df: DataFrame, io: FsIO, table_dir: str,
                      partition_by: str | None, seq: int) -> list[dict]:
    """Write the snapshot's parquet data files under ``data/`` and return
    spec-shaped data_file records (partition values parsed back from the
    hive-style dirs Spark wrote — the values each FILE carries in its
    manifest entry, which is what drives planning-time pruning)."""
    import pyarrow.parquet as pq

    data_dir = io.join("data", f"s{seq}")
    t = _parse_transform(partition_by)
    if t:
        # partition through a STRING TWIN of the transform value: Spark's
        # partitionBy drops the partitioned column from the files, but an
        # Iceberg reader plans by explicit file paths (never directory
        # inference), so the source column must stay physical — this is
        # exactly what makes the partitioning "hidden". The twin only names
        # the dirs; the manifest entries carry the typed value.
        w = (df.withColumn("__pdir", _transform_expr(t, df).cast("string"))
             .write.mode("errorifexists").partitionBy("__pdir"))
    else:
        w = df.write.mode("errorifexists")
    w.parquet(data_dir)

    if t:
        src_dt = df.schema[t.col].dataType
        if t.kind == "day":
            part_dt: T.DataType = T.DateType()
        elif t.kind == "bucket":
            part_dt = T.IntegerType()
        else:
            part_dt = src_dt
    recs: list[dict] = []

    def walk(d: str, part_val):
        for name in sorted(io.listdir(d)):
            p = posixpath.join(d, name)
            if io.isdir(p):
                if "=" in name:
                    # Spark hive-escapes special chars in partition dir
                    # names (':' -> '%3A', ...); the manifest must record
                    # the TRUE value or pruning would compare escaped
                    # against unescaped and silently drop files
                    from urllib.parse import unquote
                    walk(p, unquote(name.split("=", 1)[1]))
                else:
                    walk(p, part_val)
            elif name.endswith(".parquet"):
                md = pq.ParquetFile(p).metadata
                part = {}
                if t:
                    v = part_val
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        v = None
                    elif isinstance(part_dt, T.DateType):
                        from datetime import date
                        v = date.fromisoformat(v)
                    elif isinstance(part_dt, (T.IntegerType, T.LongType)):
                        v = int(v)
                    part[t.field] = v
                lo, hi = _footer_bounds(md)
                recs.append({
                    "content": 0, "file_path": p, "file_format": "PARQUET",
                    "partition": part, "record_count": md.num_rows,
                    "file_size_in_bytes": io.size(p),
                    "lower_bounds": lo or None, "upper_bounds": hi or None,
                })

    walk(data_dir, None)
    return recs


def _schema_by_id(meta: dict) -> dict:
    """The current schema entry looked up BY ID, never by list index —
    foreign-written tables may carry sparse schema ids."""
    sid = meta["current-schema-id"]
    return next(s for s in meta["schemas"] if s["schema-id"] == sid)


def _type_shape(t) -> object:
    """A type with its id assignments stripped, for evolution comparison:
    element/field ids are allocation artifacts (they shift when columns are
    added), not type identity."""
    if isinstance(t, dict):
        # element nullability is not type identity either, just as a
        # field's ``required`` is not (tables written before it was
        # recorded say ``element-required: true`` for every list)
        return {k: _type_shape(v) for k, v in t.items()
                if k not in ("element-id", "field-id", "key-id", "value-id",
                             "element-required")}
    return t


def _evolve_schema(meta: dict, schema: T.StructType) -> dict:
    """Append-only schema evolution (the same contract as the encoded
    store's): a data commit may ADD nullable columns — a new schema entry
    lands in ``schemas`` with fresh field ids, ``current-schema-id``
    advances, and old data files serve the new columns as null (the reader
    imposes the snapshot's schema on every file). Dropping a column or
    changing a type rejects loudly."""
    cur = _schema_by_id(meta)
    cur_by_name = {f["name"]: f for f in cur["fields"]}
    new_json = _iceberg_schema_json(schema)
    for f in new_json["fields"]:
        old = cur_by_name.get(f["name"])
        if old is not None and _type_shape(old["type"]) != _type_shape(f["type"]):
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r}: "
                f"{old['type']} -> {f['type']}")
    new_names = {f["name"] for f in new_json["fields"]}
    dropped = [n for n in cur_by_name if n not in new_names]
    if dropped:
        raise ValueError(f"append may not drop columns: {dropped}")
    added = [f for f in new_json["fields"] if f["name"] not in cur_by_name]
    if not added:
        return meta
    # added columns are recorded OPTIONAL regardless of the incoming
    # frame's nullability: pre-evolution files serve them as null. Fresh
    # ids start above every id any schema allocated (a table written before
    # last-column-id counted element ids understates it)
    next_id = max([meta.get("last-column-id", 0)]
                  + [_max_column_id(sc) for sc in meta["schemas"]])
    ids = itertools.count(next_id + 1)
    dtypes = {f.name: f.dataType for f in schema.fields}
    # lists take fresh element ids too, at every depth
    fields = list(cur["fields"]) + [
        dict(f, id=next(ids), required=False,
             type=_iceberg_field_type(dtypes[f["name"]], ids))
        for f in added]
    meta = dict(meta)
    new_schema = {"type": "struct", "schema-id": len(meta["schemas"]),
                  "fields": fields}
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-column-id"] = max(next_id, _max_column_id(new_schema))
    return meta


def _commit_snapshot(io: FsIO, table_dir: str, schema: T.StructType,
                     partition_by: str | None,
                     new_entries: list[dict], manifest_content: int,
                     op: str, carry_prev: bool = True) -> dict:
    """Append one snapshot: write the new manifest, a manifest-list that
    carries every prior snapshot's manifests plus the new one, and the next
    ``vN.metadata.json`` + ``version-hint.text``. Timestamps derive from the
    version counter (nothing here needs wall-clock); manifest file names
    carry a per-attempt uuid."""
    meta_dir = io.join("metadata")
    io.makedirs(meta_dir)
    try:
        meta = current_metadata(table_dir, io)
        # claim PARENT+1, where parent is the version this commit's state
        # derived from (the hint) — NOT max(files)+1, which would silently
        # step over a concurrent writer's already-committed version instead
        # of tripping the optimistic lock below
        hint = posixpath.join(meta_dir, "version-hint.text")
        if io.exists(hint):
            version = int(io.read_text(hint).strip()) + 1
        else:
            version = 1 + max(
                int(f[1:].split(".")[0])
                for f in io.listdir(meta_dir)
                if f.startswith("v") and f.endswith(".metadata.json")
            )
        prev_snap = _select_snapshot(meta, meta.get("current-snapshot-id"), None)
        _, prev_manifests = read_avro_container(
            io.read_bytes(_local_path(io, table_dir, prev_snap["manifest-list"])))
        seq = meta["last-sequence-number"] + 1
    except ValueError:
        meta = None
        version = 1
        prev_manifests = []
        seq = 1
    snap_id = seq  # deterministic monotone ids
    ts = 1700000000000 + version  # deterministic pseudo-time, monotone in version

    t = _parse_transform(partition_by)
    part_fields = []
    if t:
        if t.kind == "day":
            at: object = {"type": "int", "logicalType": "date"}
        elif t.kind == "bucket":
            at = "int"
        else:
            at = _avro_part_type(schema[t.col].dataType)
        part_fields = [(t.field, at)]
    mf_schema, me_schema = _manifest_schemas(part_fields)

    # manifest and manifest-list names are unique per commit ATTEMPT (as in
    # Iceberg): both are written before the version claim below, so a name
    # derived from the sequence number alone would let a losing racer
    # overwrite the winner's already-committed files with its own
    attempt = uuid.uuid4().hex
    man_name = f"{attempt}-m{seq}-{manifest_content}.avro"
    man_path = posixpath.join(meta_dir, man_name)
    man_bytes = write_avro_container(None, me_schema, new_entries)
    io.publish_bytes(man_path, man_bytes, attempt_tag=attempt)

    rows = sum(e["data_file"]["record_count"] for e in new_entries)
    new_manifest = {
        "manifest_path": man_path, "manifest_length": len(man_bytes),
        "partition_spec_id": 0, "content": manifest_content,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(new_entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": rows, "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    manifests = [
        {k: m[k] for k in (f["name"] for f in mf_schema["fields"])}
        for m in (prev_manifests if carry_prev else [])
    ] + [new_manifest]
    ml_name = f"snap-{snap_id}-{attempt}.avro"
    ml_path = posixpath.join(meta_dir, ml_name)
    io.publish_bytes(ml_path, write_avro_container(None, mf_schema, manifests),
                     attempt_tag=attempt)

    snapshot = {
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": ts, "manifest-list": ml_path,
        "summary": {"operation": op},
    }
    if meta is not None and manifest_content == 0:
        meta = _evolve_schema(meta, schema)
    if meta is None:
        import hashlib
        h = hashlib.md5(table_dir.encode()).hexdigest()
        table_uuid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        sch = _iceberg_schema_json(schema)
        meta = {
            "format-version": 2, "table-uuid": table_uuid,
            "location": table_dir, "last-sequence-number": seq,
            "last-updated-ms": ts,
            "last-column-id": _max_column_id(sch),
            "current-schema-id": 0,
            "schemas": [sch],
            "default-spec-id": 0,
            "partition-specs": [{
                "spec-id": 0,
                "fields": ([
                    {"name": t.field, "transform": t.spec_name,
                     "source-id": [i + 1 for i, f in enumerate(schema.fields)
                                   if f.name == t.col][0],
                     "field-id": 1000}
                ] if t else []),
            }],
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "snapshots": [], "snapshot-log": [], "metadata-log": [],
            # names the writer, so readers know whose bucket hash it used
            "properties": {ENGINE_PROPERTY: ENGINE_NAME},
        }
    meta = dict(meta)
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = ts
    meta["current-snapshot-id"] = snap_id
    # each snapshot records the schema it wrote under (spec field): time
    # travel then reads old snapshots with their OWN schema
    snapshot["schema-id"] = meta["current-schema-id"]
    meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": ts, "snapshot-id": snap_id}
    ]
    # optimistic lock on the metadata version (HadoopCatalog's atomic-rename
    # contract; the reference's upload-with-overwrite=false, README.md:608-701):
    # two racing writers both derived state from version-1 — silently
    # clobbering would drop one's snapshot, so the loser FAILS LOUDLY and
    # must re-run its whole operation against the fresh state (its data
    # files are orphans, like a crashed commit's).
    if not io.create_exclusive(
        posixpath.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(meta, indent=1).encode(),
    ):
        raise RuntimeError(
            f"concurrent Iceberg commit: v{version}.metadata.json already "
            "exists — re-run the operation against the current table state")
    io.write_bytes(posixpath.join(meta_dir, "version-hint.text"),
                   str(version).encode())
    return {"snapshot_id": snap_id, "version": version,
            "files": len(new_entries), "rows": rows}


def write_iceberg(df: DataFrame, table_dir: str,
                  partition_by: str | None = None,
                  io: FsIO | None = None) -> dict:
    """Create an Iceberg v2 table from ``df`` (one snapshot). Identity
    partitioning on one column when ``partition_by`` is given — each data
    file's partition value lands in its manifest entry, so
    :func:`read_iceberg`'s ``partition_filter`` prunes files at plan time."""
    io = _io(table_dir, io)
    files = _write_data_files(df, io, table_dir, partition_by, seq=1)
    entries = [{"status": 1, "snapshot_id": 1, "sequence_number": 1,
                "data_file": f} for f in files]
    return _commit_snapshot(io, table_dir, df.schema, partition_by,
                            entries, manifest_content=0, op="append")


def append_iceberg(df: DataFrame, table_dir: str,
                   partition_by: str | None = None,
                   io: FsIO | None = None) -> dict:
    """Append a snapshot (new data files + manifest; prior manifests carry
    over in the new manifest-list, so old snapshots stay readable)."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    _evolve_schema(meta, df.schema)  # preflight: reject BEFORE writing files
    seq = meta["last-sequence-number"] + 1
    files = _write_data_files(df, io, table_dir, partition_by, seq=seq)
    entries = [{"status": 1, "snapshot_id": seq, "sequence_number": seq,
                "data_file": f} for f in files]
    return _commit_snapshot(io, table_dir, df.schema, partition_by,
                            entries, manifest_content=0, op="append")


def delete_iceberg_rows(spark: SparkSession, table_dir: str, condition,
                        io: FsIO | None = None) -> dict:
    """Iceberg v2 merge-on-read DELETE: write a positional delete file
    (parquet of ``(file_path, pos)`` — the spec's delete-file schema) plus a
    delete manifest in a new snapshot. No data file is rewritten; readers
    subtract. The probe is one distributed scan using Spark's ``_metadata``
    file/row-index columns."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    plan = scan_manifests(table_dir, io=io)
    paths = [_local_path(io, table_dir, f["file_path"])
             for f in plan["data_files"]]
    probe_schema = T.StructType([
        T.StructField(f.name, f.dataType, True)
        for f in _snapshot_schema(plan["metadata"], plan["snapshot"]).fields
    ])
    cur = spark.read.schema(probe_schema).parquet(*paths).select(
        "*",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
        .alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )
    hits = cur.filter(condition).select("file_path", "pos")
    seq = meta["last-sequence-number"] + 1
    del_dir = io.join("data", f"d{seq}")
    hits.coalesce(1).write.mode("errorifexists").parquet(del_dir)

    # partition spec must match the table's existing one; a positional
    # delete file is partition-agnostic, so its spec values are all-null
    spec_fields = meta["partition-specs"][0]["fields"]
    partition_by = _spec_to_partition_by(meta)
    null_part = {f["name"]: None for f in spec_fields}

    import pyarrow.parquet as pq
    recs = []
    n_rows = 0
    for name in sorted(io.listdir(del_dir)):
        if name.endswith(".parquet"):
            p = posixpath.join(del_dir, name)
            md = pq.ParquetFile(p).metadata
            n_rows += md.num_rows
            recs.append({
                "content": 1, "file_path": p, "file_format": "PARQUET",
                "partition": dict(null_part), "record_count": md.num_rows,
                "file_size_in_bytes": io.size(p),
                "lower_bounds": None, "upper_bounds": None,
            })
    entries = [{"status": 1, "snapshot_id": seq, "sequence_number": seq,
                "data_file": r} for r in recs]
    # reconstruct a minimal StructType for partition typing
    tbl_schema = _struct_from_iceberg(_schema_by_id(meta))
    res = _commit_snapshot(io, table_dir, tbl_schema, partition_by,
                           entries, manifest_content=1, op="delete")
    res["rows_deleted"] = n_rows
    return res


def equality_delete_iceberg(keys: DataFrame, table_dir: str,
                            io: FsIO | None = None) -> dict:
    """Iceberg v2 EQUALITY delete: ``keys``' rows name the doomed tuples by
    value (its columns are the equality columns — e.g. one ``doc_id``
    column deletes every current row carrying a listed id). One tiny parquet
    delete file + a delete manifest in a new snapshot; no probe scan at all
    (the defining advantage over positional deletes for key-addressed
    retractions — a streaming upsert's delete half). Readers apply it only
    to data files with a strictly lower sequence number, so rows appended
    AFTER this delete with the same key survive, per spec."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    tbl_schema = _struct_from_iceberg(_schema_by_id(meta))
    bad = [c for c in keys.columns
           if c not in {f.name for f in tbl_schema.fields}]
    if bad:
        raise ValueError(f"equality columns not in table schema: {bad}")
    seq = meta["last-sequence-number"] + 1
    del_dir = io.join("data", f"e{seq}")
    keys.distinct().coalesce(1).write.mode("errorifexists").parquet(del_dir)

    import pyarrow.parquet as pq
    spec_fields = meta["partition-specs"][0]["fields"]
    partition_by = _spec_to_partition_by(meta)
    null_part = {f["name"]: None for f in spec_fields}
    recs = []
    n_rows = 0
    for name in sorted(io.listdir(del_dir)):
        if name.endswith(".parquet"):
            p = posixpath.join(del_dir, name)
            md = pq.ParquetFile(p).metadata
            n_rows += md.num_rows
            recs.append({
                "content": 2, "file_path": p, "file_format": "PARQUET",
                "partition": dict(null_part), "record_count": md.num_rows,
                "file_size_in_bytes": io.size(p),
                "lower_bounds": None, "upper_bounds": None,
            })
    entries = [{"status": 1, "snapshot_id": seq, "sequence_number": seq,
                "data_file": r} for r in recs]
    res = _commit_snapshot(io, table_dir, tbl_schema, partition_by,
                           entries, manifest_content=1, op="delete")
    res["delete_keys"] = n_rows
    return res


def compact_iceberg(spark: SparkSession, table_dir: str,
                    io: FsIO | None = None) -> dict:
    """Iceberg ``rewrite_data_files`` + delete materialization in ONE
    ``replace`` snapshot: the current rows (all merge-on-read deletes
    applied) rewrite into one file per partition value, and the new
    manifest-list references ONLY the fresh manifest — every prior data
    file AND every delete file retires from the live view in the same
    atomic metadata swap. Time travel to pre-compaction snapshots is
    untouched (their manifest-lists still exist); the streaming source
    skips the snapshot entirely (``operation: replace`` — rows merely
    moved, re-emitting them would break exactly-once)."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    plan = scan_manifests(table_dir, io=io)
    tbl_schema = _struct_from_iceberg(_schema_by_id(meta))
    spec_fields = meta["partition-specs"][0]["fields"]
    partition_by = _spec_to_partition_by(meta)
    seq = meta["last-sequence-number"] + 1

    df = read_iceberg(spark, table_dir, io=io)  # deletes applied here
    t = _parse_transform(partition_by)
    df = df.repartition(_transform_expr(t, df)) if t else df.coalesce(1)
    files = _write_data_files(df, io, table_dir, partition_by, seq=seq)
    entries = [{"status": 1, "snapshot_id": seq, "sequence_number": seq,
                "data_file": f} for f in files]
    res = _commit_snapshot(io, table_dir, tbl_schema, partition_by,
                           entries, manifest_content=0, op="replace",
                           carry_prev=False)
    res.update({"files_before": len(plan["data_files"]),
                "delete_files_retired": len(plan["delete_files"])})
    return res


def export_table_to_iceberg(spark: SparkSession, store_dir: str,
                            iceberg_dir: str,
                            partition_by: str | None = None,
                            io: FsIO | None = None) -> dict:
    """Bridge the engine's two lake tiers: decode an encoded pandora_table
    store (codec'd chunks + commit log) and publish it as an Iceberg v2
    table — the interchange layout any external engine can plan. Deletion
    vectors/DML are materialized by the decode, so the export is the
    store's CURRENT logical state; ``partition_by`` accepts the same
    transform syntax as :func:`write_iceberg`."""
    from ..operators.table import decode_table

    return write_iceberg(decode_table(spark, store_dir), iceberg_dir,
                         partition_by=partition_by, io=io)


def _write_next_metadata(io: FsIO, meta: dict, what: str) -> int:
    """Commit a metadata-only change as the next version through the same
    optimistic parent+1 claim data commits use."""
    meta_dir = io.join("metadata")
    hint = posixpath.join(meta_dir, "version-hint.text")
    version = int(io.read_text(hint).strip()) + 1
    if not io.create_exclusive(
        posixpath.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(meta, indent=1).encode(),
    ):
        raise RuntimeError(
            f"concurrent Iceberg commit: v{version}.metadata.json already "
            f"exists — re-run {what} against the current table state")
    io.write_bytes(hint, str(version).encode())
    return version


def set_ref(table_dir: str, name: str, snapshot_id: int | None = None,
            kind: str = "tag", io: FsIO | None = None) -> dict:
    """Iceberg REFS — git-like named snapshot pointers (the spec's ``refs``
    map): a ``tag`` pins a snapshot forever (``expire_snapshots`` retains
    its target), a ``branch`` is a movable pointer (re-``set_ref`` to
    advance it). ``snapshot_id`` defaults to the current snapshot. Reads
    follow a ref with ``read_iceberg(..., ref=name)``."""
    if kind not in ("tag", "branch"):
        raise ValueError("ref kind must be 'tag' or 'branch'")
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    _select_snapshot(meta, sid, None)  # must exist
    meta = dict(meta)
    meta["refs"] = dict(meta.get("refs", {}))
    meta["refs"][name] = {"snapshot-id": sid, "type": kind}
    version = _write_next_metadata(io, meta, f"set_ref({name!r})")
    return {"ref": name, "snapshot_id": sid, "type": kind, "version": version}


def drop_ref(table_dir: str, name: str, io: FsIO | None = None) -> dict:
    """Remove a ref; its target snapshot becomes expirable again."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    refs = dict(meta.get("refs", {}))
    if name not in refs:
        raise ValueError(f"ref {name!r} not in table metadata")
    refs.pop(name)
    meta = dict(meta)
    meta["refs"] = refs
    version = _write_next_metadata(io, meta, f"drop_ref({name!r})")
    return {"ref": name, "version": version}


def expire_snapshots(table_dir: str, keep_last: int = 1,
                     io: FsIO | None = None) -> dict:
    """Iceberg ``expire_snapshots``: drop all but the last ``keep_last``
    snapshots from the table metadata (a new metadata version — the commit
    is the same optimistic vN claim) and delete the files ONLY they
    referenced: their manifest-lists, their manifests, and any data/delete
    file no surviving snapshot references. Time travel to an expired
    snapshot then fails loudly ("not in table metadata"), never returns a
    silently incomplete result — the same contract as the encoded store's
    cleaned log checkpoint."""
    io = _io(table_dir, io)
    meta = current_metadata(table_dir, io)
    snaps = meta.get("snapshots", [])
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # snapshots a ref points at are PROTECTED (a tag pins its snapshot)
    ref_ids = {r["snapshot-id"] for r in meta.get("refs", {}).values()}
    keep = [s for i, s in enumerate(snaps)
            if i >= len(snaps) - keep_last or s["snapshot-id"] in ref_ids]
    drop = [s for s in snaps if s not in keep]
    if not drop:
        return {"snapshots_expired": 0, "files_deleted": 0}

    def refs(snapshot: dict) -> tuple[set, set]:
        """(manifest paths, data-file paths) reachable from a snapshot."""
        ml = _local_path(io, table_dir, snapshot["manifest-list"])
        _, manifests = read_avro_container(io.read_bytes(ml))
        mans, files = {ml}, set()
        for m in manifests:
            mp = _local_path(io, table_dir, m["manifest_path"])
            mans.add(mp)
            _, entries = read_avro_container(io.read_bytes(mp))
            for e in entries:
                files.add(_local_path(io, table_dir,
                                      e["data_file"]["file_path"]))
        return mans, files

    live_m: set = set()
    live_f: set = set()
    for s in keep:
        m, f = refs(s)
        live_m |= m
        live_f |= f
    doomed: set = set()
    for s in drop:
        m, f = refs(s)
        doomed |= (m - live_m) | (f - live_f)

    keep_ids = {s["snapshot-id"] for s in keep}
    meta = dict(meta)
    meta["snapshots"] = keep
    meta["snapshot-log"] = [e for e in meta.get("snapshot-log", [])
                            if e["snapshot-id"] in keep_ids]
    version = _write_next_metadata(io, meta, "expire_snapshots")
    for p in sorted(doomed):  # only after the metadata swap is visible
        try:
            io.fs.delete_file(p)
        except Exception:
            pass  # a straggler is an orphan for remove_orphan_files
    return {"snapshots_expired": len(drop), "files_deleted": len(doomed),
            "version": version}


def remove_orphan_files(table_dir: str, io: FsIO | None = None,
                        min_age_sec: float = 86400.0) -> list[str]:
    """Delete files under ``data/`` that no retained snapshot references —
    the leftovers of crashed commits and of optimistic-concurrency losers
    (their data files were written before the metadata claim failed). Never
    touches ``metadata/``; returns the deleted paths.

    ``min_age_sec`` (default 1 day — Iceberg's ``older_than`` contract, and
    the same retention idea as the store's ``vacuum``) protects an
    IN-FLIGHT write: a concurrent appender's files are unreferenced until
    its metadata commit lands, and deleting them would let that commit
    succeed pointing at vanished files. Only files strictly older than the
    window are eligible; pass 0 only when no writer can be racing (tests)."""
    import time as _time

    io = _io(table_dir, io)
    cutoff_ms = (_time.time() - min_age_sec) * 1000.0
    meta = current_metadata(table_dir, io)
    live: set = set()
    for s in meta.get("snapshots", []):
        ml = _local_path(io, table_dir, s["manifest-list"])
        _, manifests = read_avro_container(io.read_bytes(ml))
        for m in manifests:
            mp = _local_path(io, table_dir, m["manifest_path"])
            _, entries = read_avro_container(io.read_bytes(mp))
            for e in entries:
                live.add(_local_path(io, table_dir,
                                     e["data_file"]["file_path"]))
    removed: list[str] = []
    data_dir = io.join("data")

    def walk(d: str):
        for name in sorted(io.listdir(d)):
            p = posixpath.join(d, name)
            if io.isdir(p):
                walk(p)
            elif (name.endswith(".parquet") and p not in live
                  and io.mtime_ms(p) < cutoff_ms):
                io.fs.delete_file(p)
                removed.append(p)

    if io.isdir(data_dir):
        walk(data_dir)
    return removed


# ------------------------------------------------------- streaming source
#
# `spark.readStream.format("pandora_iceberg")` — tail an Iceberg table's
# snapshot sequence. The offset axis is the SEQUENCE NUMBER: each micro-batch
# covers the data files whose manifest entries were added with a sequence in
# (start, end]. Delete snapshots (positional/equality) add no data files, so
# the offset advances with zero rows — streams are append-only and a delete
# never retracts already-emitted rows (the same contract as the encoded
# store's DV-only commits and Delta's skipChangeCommits). Exactly-once comes
# from Spark's streaming checkpoint owning the offset.


def _iceberg_stream_classes():
    """Late import: pyspark.sql.datasource exists only where Spark 4's
    Python DataSource API does; everything else in this module works
    without it."""
    from pyspark.sql.datasource import (
        DataSource, DataSourceStreamReader, InputPartition,
    )

    class IcebergSnapshotTailReader(DataSourceStreamReader):
        def __init__(self, path: str, schema: T.StructType):
            self._path = path
            self._schema = T.StructType([
                T.StructField(f.name, f.dataType, True)
                for f in schema.fields
            ])

        def initialOffset(self) -> dict:
            return {"seq": 0}

        def latestOffset(self) -> dict:
            return {"seq": current_metadata(self._path)["last-sequence-number"]}

        def partitions(self, start: dict, end: dict):
            lo, hi = int(start["seq"]), int(end["seq"])
            meta = current_metadata(self._path)
            io = _io(self._path, None)
            files: list[str] = []
            # iterate the SNAPSHOTS in range, not the final manifest-list:
            # only "append" snapshots emit (a "replace" snapshot — compaction
            # — re-adds every row under a fresh sequence number and MUST NOT
            # re-emit; a "delete" snapshot adds no data manifests). Each
            # append's new files are its manifest-list's entries carrying its
            # own sequence number.
            for s in meta.get("snapshots", []):
                seq = s.get("sequence-number", 0)
                if not (lo < seq <= hi):
                    continue
                if s.get("summary", {}).get("operation", "append") != "append":
                    continue
                ml = _local_path(io, self._path, s["manifest-list"])
                _, manifests = read_avro_container(io.read_bytes(ml))
                for m in manifests:
                    if m.get("content", 0) == 1:
                        continue
                    if m.get("sequence_number", 0) != seq:
                        continue  # carried over from an earlier snapshot
                    mp = _local_path(io, self._path, m["manifest_path"])
                    _, entries = read_avro_container(io.read_bytes(mp))
                    for e in entries:
                        if e.get("status", 1) == 2:
                            continue
                        e_seq = _data_seq(e, m)
                        rec = e["data_file"]
                        if e_seq == seq and rec.get("content", 0) == 0:
                            files.append(
                                _local_path(io, self._path, rec["file_path"]))
            # Spark requires >= 1 partition per planned batch
            return [InputPartition(f) for f in files] or [InputPartition(None)]

        def read(self, partition):
            if partition.value is None:
                return
            import pyarrow as pa
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import to_arrow_schema

            # pad every batch to the DECLARED schema: after append-only
            # schema evolution, pre-evolution files lack the added columns
            # and must serve them as null (exactly like the batch reader)
            target = to_arrow_schema(self._schema)
            for b in pq.ParquetFile(partition.value).iter_batches(65536):
                arrays = []
                for f in target:
                    if f.name in b.schema.names:
                        col = b.column(b.schema.names.index(f.name))
                        if col.type != f.type:
                            col = col.cast(f.type)
                        arrays.append(col)
                    else:
                        arrays.append(pa.nulls(b.num_rows, f.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=target)

        def commit(self, end: dict) -> None:
            pass  # progress lives in Spark's streaming checkpoint

    class PandoraIcebergDataSource(DataSource):
        """Streaming-only DataSource: batch reads go through
        :func:`read_iceberg` (whose delete handling and partition pruning a
        per-file reader cannot express)."""

        @classmethod
        def name(cls) -> str:
            return "pandora_iceberg"

        def schema(self) -> T.StructType:
            path = self.options.get("path")
            if not path:
                raise ValueError("pandora_iceberg requires .load(<table dir>)")
            meta = current_metadata(path)
            return _struct_from_iceberg(_schema_by_id(meta))

        def streamReader(self, schema: T.StructType):
            return IcebergSnapshotTailReader(self.options.get("path"), schema)

    return PandoraIcebergDataSource


def stream_iceberg(spark: SparkSession, table_dir: str) -> DataFrame:
    """``spark.readStream.format("pandora_iceberg")`` with registration
    wired: tail the table's append snapshots exactly once."""
    spark.dataSource.register(_iceberg_stream_classes())
    return spark.readStream.format("pandora_iceberg").load(table_dir)


def _snapshot_schema(meta: dict, snap: dict) -> T.StructType:
    sid = snap.get("schema-id", meta["current-schema-id"])
    sch = next(s for s in meta["schemas"] if s["schema-id"] == sid)
    return _struct_from_iceberg(sch)


_SPARK_OF_ICEBERG = {
    "long": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType(),
    "float": T.FloatType(), "string": T.StringType(),
    "boolean": T.BooleanType(), "binary": T.BinaryType(),
    "date": T.DateType(), "timestamptz": T.TimestampType(),
}


def _spark_type_from_iceberg(t) -> T.DataType:
    if isinstance(t, dict) and t.get("type") == "list":
        return T.ArrayType(_spark_type_from_iceberg(t["element"]),
                           not t.get("element-required", True))
    return _SPARK_OF_ICEBERG[t]


def _struct_from_iceberg(sch: dict) -> T.StructType:
    return T.StructType([
        T.StructField(f["name"], _spark_type_from_iceberg(f["type"]),
                      not f["required"])
        for f in sch["fields"]])
