"""Generic table encode/decode: ANY flat DataFrame -> per-column codec'd chunks.

This is the engine's one columnar store; the token pipeline (``encode.py``,
``decode.py``) is this store over the north rule's fixed
``(doc_id, tokens, n_tok, source)`` shape. It is the schema-driven
design the reference implies: its flattener emits one flat
extension table per nested record/array/map
(``/root/reference/.../Pandora/Apache/Parquet.fs:444-467, 880-946``), and each
such table's columns span the full Avro physical-type set — BOOLEAN, INT, LONG,
FLOAT, DOUBLE, BYTES, STRING, DATE, DECIMAL, TIMESTAMP_MS, TIME_MS
(``Parquet.fs:52-110``, mappings ``:534-621``). ``encode_table`` accepts any
DataFrame whose columns land in those types (run
:func:`..operators.nested.flatten_table` first for nested data — exactly the
reference's flatten-then-store contract) and writes per-column, per-chunk
auto-selected codec payloads; ``decode_table`` reproduces the input
bit-identically, nulls included.

Physical design:

* one salted shuffle (``part_id = pmod(xxhash64(*key_cols), n_parts)``) into a
  grouped-map Arrow kernel — or none in scan mode;
* each partition sorts by the key columns (zone maps ``key_min``/``key_max``
  per chunk), slices into chunks of at most ``chunk_rows`` rows and
  ``encode.DEFAULT_CHUNK_VALUES`` array/map elements, and encodes every
  column independently with the sampled cost model (``plans/cost.py``);
* lane mapping: int8/16/32, date32 and bool ride the int32 codec family;
  int64, timestamp and decimal(<=18) unscaled ride int64; decimal(19..38)
  rides TWO codec'd int64 word streams (lo/hi halves of the 128-bit unscaled
  value — hi is sign extension whenever the value fits 64 bits, so it RLEs to
  almost nothing); float32/float64 ride the same kernels as bit patterns;
  string/binary ride the FSST/dict string family. Every payload stays
  self-describing (``functions/codecs.py``).
* nulls: a per-column validity stream (int32 0/1, RLE-crushed by the cost
  model) plus a dense payload of the non-null values — Parquet's
  definition-level idea re-expressed in the engine's own codec family;
* chunk files carry one top-level column per (source column x
  {codec,nulls,raw,enc,valid,payload}) so BOTH the manifest scan and selective
  decode get parquet column pruning (read 2 of 40 columns -> scan 2 of 40);
* checkpoints, resume, FsIO publication, and the numbered-JSONL commit log
  live in ``encode.py`` — the ``_schema.json``
  sidecar plays the reference's Delta ``metaData.schemaString`` role
  (``DeltaLake.fs:176-444``) so a reader needs nothing but the output dir;
* table lifecycle: loads are run-namespaced appends (``run=``) with
  append-only schema evolution; reads are log-gated (the commit log's live
  file set, never a directory glob); ``compact_table`` merges small append
  files behind one atomic add+remove log entry and ``encode.vacuum``
  reclaims unreferenced files after a retention window.
"""

from __future__ import annotations

import base64
import json
import math
import operator
import posixpath
import uuid
import zlib
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from functools import reduce

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions import codecs as C
from ..functions.fsio import FsIO
from ..functions.hashing import klondike, sha256
from ..plans.cost import encode_values, select_str_codec, select_typed_codec
from .encode import (DEFAULT_CHUNK_VALUES, _io, add_action, append_log_entry,
                     committed_files, completed_parts, listed_data_files,
                     log_entries, log_header, log_snapshot, log_versions,
                     part_id_frame, write_commit_log)

DEFAULT_CHUNK_ROWS = 65536

# logical tags: recorded per column in chunk files + sidecar; decode needs
# nothing else. Grouped by codec lane.
_I32_LOGICALS = {"byte", "short", "int", "date", "bool"}
_I64_LOGICALS = {"long", "timestamp", "timestamp_ntz"}
_STR_LOGICALS = {"string", "binary"}


def _elem_lane(dt: T.DataType) -> str | None:
    """Element lane of an array<T> / map<string,T> column, or None."""
    for vt, name in ((T.IntegerType, "int"), (T.LongType, "long"),
                     (T.FloatType, "float"), (T.DoubleType, "double"),
                     (T.StringType, "string")):
        if isinstance(dt, vt):
            return name
    return None


def _logical_of(dt: T.DataType) -> str:
    if isinstance(dt, T.ByteType):
        return "byte"
    if isinstance(dt, T.ShortType):
        return "short"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp_ntz"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        if dt.precision > 38:
            # Deliberate hard boundary (round-4 decision, VERDICT r03 #9):
            # Spark's DecimalType itself tops out at precision 38, so a wider
            # lane could never be fed through a DataFrame column anyway; the
            # reference's arbitrary-precision DECIMAL (Parquet.fs:577-589) is
            # unreachable from the engine's declared (Spark-first) surface.
            # Widen by re-modeling as string/binary upstream if ever needed.
            raise ValueError(
                f"decimal precision {dt.precision} > 38 exceeds the "
                "decimal128 lane — Spark's DecimalType maximum; re-model "
                "wider values as string/binary upstream"
            )
        if dt.precision > 18:
            # two-word lane: lo/hi int64 halves of the 128-bit unscaled value,
            # each codec'd separately (hi is pure sign extension for values
            # that fit 64 bits, so it RLEs to almost nothing)
            return f"decimal128({dt.precision},{dt.scale})"
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        lane = _elem_lane(dt.elementType)
        if lane is None:
            raise ValueError(
                f"unsupported array element type {dt.elementType.simpleString()} — "
                "explode or flatten to extension tables first "
                "(operators.nested.flatten_table)"
            )
        return f"array<{lane}>"
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError(
                f"unsupported map key type {dt.keyType.simpleString()} — only "
                "string keys (the reference's MAP contract, Parquet.fs:86-98)"
            )
        lane = _elem_lane(dt.valueType)
        if lane is None:
            raise ValueError(
                f"unsupported map value type {dt.valueType.simpleString()} — explode "
                "to a {key,value} extension table first (operators.nested.flatten_table)"
            )
        return f"map<string,{lane}>"
    raise ValueError(
        f"unsupported column type {dt.simpleString()} — nested types must be "
        "flattened to extension tables first (operators.nested.flatten_table)"
    )


# ------------------------------------------------------ struct column lane
# A struct column rides the store as independent per-leaf lanes: the encode
# kernel splits ``s`` into ``s·__set`` (presence: struct non-null) plus one
# flat column per leaf ``s·leaf`` (nested structs chain the separator), each
# codec'd/zone-mapped like any scalar lane — the reference's
# flatten-to-columns instinct (Parquet.fs:768-878) applied INSIDE one table
# instead of across extension tables. The chunk decoder reassembles the
# original shape; presence decides struct-null vs struct-of-nulls. Both
# directions are Arrow code run inside the kernels
# (:func:`flatten_struct_arrow`, :func:`assemble_struct_arrow`), so every
# writer and reader shares them. ``·`` (U+00B7) keeps flat names parse-safe
# for the plain identifier paths the store uses internally.

_STRUCT_SEP = "·"
_STRUCT_SET = "__set"
_STRUCT_ELEM = "__elem"  # per-element presence lane of an array<struct> column


def _struct_col_type(tj: dict) -> T.DataType:
    """Parse a ``structs`` sidecar column type: a struct json or (round 5)
    an array<struct> json."""
    if tj.get("type") == "array":
        return T.ArrayType(T.StructType.fromJson(tj["elementType"]),
                           tj.get("containsNull", True))
    return T.StructType.fromJson(tj)


def _is_nested_lane_type(dt: T.DataType) -> bool:
    """Column types the struct-lane layer owns: struct<...> and
    array<struct<...>>."""
    return isinstance(dt, T.StructType) or (
        isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType)
    )


# array<struct> element-leaf lane types: each leaf of the element struct
# becomes one array<prim> lane; booleans ride int lanes (cast back on
# reassembly). Richer element leaves (date/timestamp/decimal/array/map) have no
# array lane — explode to extension tables (operators.nested.flatten_table).
_ELEM_LANE_OK = (T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
                 T.StringType)


def _elem_leaves(dt: T.StructType, prefix: str = "",
                 path: tuple = ()) -> list[tuple[str, T.DataType, tuple, str]]:
    """Leaves of an array<struct> ELEMENT struct: (relname, lane element
    type, field path, kind). kind 'set' lanes (nested-struct presence) and
    boolean 'value' lanes are int (0/1); everything else keeps its type."""
    out: list[tuple[str, T.DataType, tuple, str]] = []
    for f in dt.fields:
        nm = f"{prefix}{f.name}"
        p = path + (f.name,)
        if isinstance(f.dataType, T.StructType):
            out.append((f"{nm}{_STRUCT_SEP}{_STRUCT_SET}", T.IntegerType(),
                        p, "set"))
            out += _elem_leaves(f.dataType, prefix=f"{nm}{_STRUCT_SEP}",
                                path=p)
        elif isinstance(f.dataType, T.BooleanType):
            out.append((nm, T.IntegerType(), p, "bool"))
        elif isinstance(f.dataType, _ELEM_LANE_OK):
            out.append((nm, f.dataType, p, "value"))
        else:
            raise ValueError(
                f"array<struct> element field {nm!r} has type "
                f"{f.dataType.simpleString()}; element leaves must be "
                "int/long/float/double/string/boolean or nested structs of "
                "those — explode richer shapes to extension tables first "
                "(operators.nested.flatten_table)"
            )
    return out


def _validate_struct_names(name: str, dt: T.DataType) -> None:
    """Nested field names may not contain the lane separator or shadow the
    presence lanes — either would alias two flat lanes onto one name and
    corrupt the encoded layout silently."""
    if isinstance(dt, T.ArrayType):
        _validate_struct_names(name, dt.elementType)
        return
    for f in dt.fields:
        if _STRUCT_SEP in f.name or f.name in (_STRUCT_SET, _STRUCT_ELEM):
            raise ValueError(
                f"struct field {name}.{f.name!r} collides with the "
                f"struct-lane naming ({_STRUCT_SEP!r} separator / "
                f"{_STRUCT_SET!r}/{_STRUCT_ELEM!r} presence lanes)"
            )
        if _is_nested_lane_type(f.dataType):
            _validate_struct_names(f"{name}.{f.name}", f.dataType)


def relax_nullable(dt: T.DataType) -> T.DataType:
    """Recursively mark every nested field/element nullable. The struct
    lane's physical leaves are nullable by construction (presence decides
    struct-null), so every decoded/reassembled struct reports nullable
    children regardless of the source frame's nullability."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, relax_nullable(f.dataType), True)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(relax_nullable(dt.elementType), True)
    return dt


def _struct_leaf_fields(name: str, dt: T.DataType) -> list[T.StructField]:
    """Flat physical StructFields for one struct or array<struct> column
    (presence lane + one field per leaf, nested structs chained), in the
    order :func:`flatten_struct_arrow` emits them. Every lane is nullable;
    presence lanes of array elements hold 0/1 in every slot."""
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        out = [T.StructField(f"{name}{_STRUCT_SEP}{_STRUCT_ELEM}",
                             T.ArrayType(T.IntegerType(), False), True)]
        for rel, lane_t, _p, kind in _elem_leaves(dt.elementType):
            out.append(T.StructField(f"{name}{_STRUCT_SEP}{rel}",
                                     T.ArrayType(lane_t, kind != "set"), True))
        return out
    out = [T.StructField(f"{name}{_STRUCT_SEP}{_STRUCT_SET}",
                         T.BooleanType(), True)]
    for f in dt.fields:
        child = f"{name}{_STRUCT_SEP}{f.name}"
        if _is_nested_lane_type(f.dataType):
            out += _struct_leaf_fields(child, f.dataType)
        else:
            out.append(T.StructField(child, f.dataType, True))
    return out


def flatten_struct_schema(schema: T.StructType) -> tuple[T.StructType, dict]:
    """(flat physical schema, structs sidecar entry) for a possibly
    struct-bearing schema. No struct / array<struct> columns → (schema, {})."""
    has = [f for f in schema.fields if _is_nested_lane_type(f.dataType)]
    if not has:
        return schema, {}
    clash = [f.name for f in schema.fields if _STRUCT_SEP in f.name]
    if clash:
        raise ValueError(
            f"column names may not contain {_STRUCT_SEP!r} "
            f"(struct-lane separator): {clash}"
        )
    for f in has:
        _validate_struct_names(f.name, f.dataType)
    cols, order, fields = {}, [], []
    for f in schema.fields:
        order.append(f.name)
        if _is_nested_lane_type(f.dataType):
            cols[f.name] = f.dataType.jsonValue()
            fields += _struct_leaf_fields(f.name, f.dataType)
        else:
            fields.append(f)
    return T.StructType(fields), {"cols": cols, "order": order}


def flatten_struct_arrow(table: "pa.Table", structs: dict) -> "pa.Table":
    """Replace each struct / array<struct> column of an encode kernel's
    input with its presence lane + leaf lanes (the lanes
    :func:`flatten_struct_schema` names). Children under a NULL struct are
    masked to null, so a leaf lane never carries a value its struct hides."""
    if not structs.get("cols"):
        return table
    import pyarrow.compute as pc

    scols = {n: _struct_col_type(tj) for n, tj in structs["cols"].items()}

    def emit(arr: pa.Array, name: str, dt: T.DataType,
             names: list, arrays: list) -> None:
        if isinstance(dt, T.ArrayType):
            emit_array(arr, name, dt, names, arrays)
            return
        present = pc.is_valid(arr)
        names.append(f"{name}{_STRUCT_SEP}{_STRUCT_SET}")
        arrays.append(present)
        for f in dt.fields:
            child_name = f"{name}{_STRUCT_SEP}{f.name}"
            child = arr.field(f.name)
            child = pc.if_else(present, child, pa.scalar(None, child.type))
            if _is_nested_lane_type(f.dataType):
                emit(child, child_name, f.dataType, names, arrays)
            else:
                names.append(child_name)
                arrays.append(child)

    def emit_array(arr: pa.Array, name: str, dt: T.ArrayType,
                   names: list, arrays: list) -> None:
        # canonicalize: per-row lengths (0 at null rows) + compacted slots
        n = len(arr)
        if arr.type != pa.list_(arr.type.value_type):
            arr = arr.cast(pa.list_(arr.type.value_type))
        row_valid = arr.is_valid().to_numpy(zero_copy_only=False)
        validity = _validity_buffer(row_valid) if not row_valid.all() else None
        lengths = pc.fill_null(pc.list_value_length(arr), 0).to_numpy(
            zero_copy_only=False).astype(np.int32)
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lengths, out=offs[1:])
        obuf = pa.py_buffer(offs.tobytes())
        slots = arr.flatten()  # exactly the referenced element slots
        elem_valid = pc.is_valid(slots)

        def lane(vals: pa.Array) -> pa.Array:
            return pa.Array.from_buffers(
                pa.list_(vals.type), n, [validity, obuf],
                children=[vals.combine_chunks() if isinstance(
                    vals, pa.ChunkedArray) else vals],
            )

        names.append(f"{name}{_STRUCT_SEP}{_STRUCT_ELEM}")
        arrays.append(lane(elem_valid.cast(pa.int32())))
        for rel, _t, path, kind in _elem_leaves(dt.elementType):
            cur, present = slots, elem_valid
            for p in path[:-1]:
                cur = cur.field(p)
                present = pc.and_(present, pc.is_valid(cur))
            leaf = cur.field(path[-1])
            if kind == "set":
                vals = pc.and_(present, pc.is_valid(leaf)).cast(pa.int32())
            else:
                vals = pc.if_else(present, leaf, pa.scalar(None, leaf.type))
                if kind == "bool":
                    vals = vals.cast(pa.int32())
            names.append(f"{name}{_STRUCT_SEP}{rel}")
            arrays.append(lane(vals))

    names, arrays = [], []
    for i, nm in enumerate(table.column_names):
        col = table.column(i)
        if nm in scols:
            emit(col.combine_chunks(), nm, scols[nm], names, arrays)
        else:
            names.append(nm)
            arrays.append(col)
    return pa.table(arrays, names=names)


def assemble_struct_arrow(flat: dict, name: str, dt: T.DataType,
                          arrow_type) -> "pa.Array":
    """Reassemble one struct or array<struct> column from decoded flat-lane
    Arrow arrays (presence null or false ⇒ struct null; a chunk predating
    the column decodes its presence lane as null)."""
    import pyarrow.compute as pc

    if isinstance(dt, T.ArrayType):
        return _assemble_array_struct_arrow(flat, name, dt, arrow_type)
    children, child_names = [], []
    for f, sub in zip(dt.fields, arrow_type):
        child_name = f"{name}{_STRUCT_SEP}{f.name}"
        if _is_nested_lane_type(f.dataType):
            children.append(
                assemble_struct_arrow(flat, child_name, f.dataType, sub.type)
            )
        else:
            children.append(flat[child_name].cast(sub.type))
        child_names.append(f.name)
    present = flat[f"{name}{_STRUCT_SEP}{_STRUCT_SET}"]
    invalid = pc.invert(pc.fill_null(present, False))
    return pa.StructArray.from_arrays(
        children, names=child_names,
        mask=invalid.combine_chunks() if isinstance(
            invalid, pa.ChunkedArray) else invalid,
    )


def _assemble_array_struct_arrow(flat: dict, name: str, dt: T.ArrayType,
                                 arrow_type) -> "pa.Array":
    """array<struct> lanes → one ListArray<StructArray>: the ``__elem`` lane
    carries the list structure (row null = array null; value 0 = element
    null), leaf lanes carry slot values; every lane shares the same per-row
    lengths by construction."""
    import pyarrow.compute as pc

    def one(a):
        return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

    elem_lane = one(flat[f"{name}{_STRUCT_SEP}{_STRUCT_ELEM}"])
    n = len(elem_lane)
    row_valid = elem_lane.is_valid().to_numpy(zero_copy_only=False)
    validity = _validity_buffer(row_valid) if not row_valid.all() else None
    lengths = pc.fill_null(pc.list_value_length(elem_lane), 0).to_numpy(
        zero_copy_only=False).astype(np.int32)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    elem_ok = pc.equal(one(elem_lane.flatten()), 1)

    elem_arrow = arrow_type.value_type  # struct type of the element

    def build(sdt: T.StructType, prefix: str, sub_arrow, ok) -> pa.Array:
        children, names_ = [], []
        for f, sub in zip(sdt.fields, sub_arrow):
            nm = f"{prefix}{f.name}"
            if isinstance(f.dataType, T.StructType):
                set_vals = one(
                    one(flat[f"{name}{_STRUCT_SEP}{nm}{_STRUCT_SEP}"
                             f"{_STRUCT_SET}"]).flatten())
                inner_ok = pc.equal(set_vals, 1)
                children.append(
                    build(f.dataType, f"{nm}{_STRUCT_SEP}", sub.type, inner_ok)
                )
            else:
                vals = one(one(flat[f"{name}{_STRUCT_SEP}{nm}"]).flatten())
                children.append(vals.cast(sub.type))
            names_.append(f.name)
        return pa.StructArray.from_arrays(
            children, names=names_, mask=pc.invert(ok))

    struct_arr = build(dt.elementType, "", elem_arrow, elem_ok)
    out = pa.Array.from_buffers(
        pa.list_(struct_arr.type), n,
        [validity, pa.py_buffer(offs.tobytes())], children=[struct_arr],
    )
    return out if out.type == arrow_type else out.cast(arrow_type)


@dataclass
class TableSpec:
    """Source schema + key columns (+ optional per-chunk bloom columns),
    serialized to the ``_schema.json`` sidecar.

    ``structs`` records struct columns the encode boundary auto-flattened
    (``{"cols": {name: struct type json}, "order": [original col names]}``):
    ``schema`` is always the FLAT physical schema (each struct leaf is its
    own codec'd lane ``s·leaf`` plus a ``s·__set`` presence lane), and
    :func:`decode_table` reassembles the original shape from it."""

    schema: T.StructType
    key_cols: list[str]
    bloom_cols: list[str] = field(default_factory=list)
    #: the date column the table is PARTITIONED by (``encode_table(pds_col=…)``)
    #: — persisted so appends/DML keep routing rows to their date partitions
    pds_col: str | None = None
    structs: dict = field(default_factory=dict)

    @property
    def logicals(self) -> dict[str, str]:
        return {f.name: _logical_of(f.dataType) for f in self.schema.fields}

    def to_json(self) -> str:
        return json.dumps(
            {"schema": self.schema.jsonValue(), "key": self.key_cols,
             "bloom": self.bloom_cols, "pds_col": self.pds_col,
             "structs": self.structs,
             "logical": self.logicals}
        )

    @classmethod
    def from_json(cls, s: str) -> "TableSpec":
        d = json.loads(s)
        return cls(schema=T.StructType.fromJson(d["schema"]), key_cols=d["key"],
                   bloom_cols=d.get("bloom", []), pds_col=d.get("pds_col"),
                   structs=d.get("structs", {}))


def _meta_fields(spec: "TableSpec") -> list[T.StructField]:
    # key_min/key_max carry the FIRST key column's own type, so zone-map
    # range predicates compare in key semantics (a stringified "100" < "99"
    # would break numeric pruning) and push down into the parquet scan
    key_type = spec.schema[spec.key_cols[0]].dataType
    return [
        T.StructField("run", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("chunk_seq", T.IntegerType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("row_lo", T.LongType(), False),
        T.StructField("row_hi", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("key_min", key_type, False),
        T.StructField("key_max", key_type, False),
        T.StructField("sha", T.BinaryType(), False),
        T.StructField("pds", T.DateType(), False),
    ]


def _has_zone_map(logical: str) -> bool:
    """Array and map lanes have no value order, so no ``__min``/``__max``."""
    return not logical.startswith(("array<", "map<"))


def chunk_schema_for(spec: TableSpec) -> T.StructType:
    """Chunk-file schema: meta columns + 6 top-level columns per source column
    (top-level so parquet prunes both manifest scans and selective decodes),
    plus a typed zone map for every column with a value order."""
    fields = _meta_fields(spec)
    logicals = spec.logicals
    for f in spec.schema.fields:
        fields += [
            T.StructField(f"{f.name}__codec", T.StringType(), False),
            T.StructField(f"{f.name}__nulls", T.LongType(), False),
            T.StructField(f"{f.name}__raw", T.LongType(), False),
            T.StructField(f"{f.name}__enc", T.LongType(), False),
        ]
        if _has_zone_map(logicals[f.name]):
            # per-column typed zone map (None when the chunk is all-null):
            # lets chunk_filter prune on ANY column, not just the sort key
            fields += [T.StructField(f"{f.name}__min", f.dataType, True),
                       T.StructField(f"{f.name}__max", f.dataType, True)]
        fields += [
            T.StructField(f"{f.name}__valid", T.BinaryType(), True),
            T.StructField(f"{f.name}__payload", T.BinaryType(), False),
        ]
        if f.name in spec.bloom_cols:
            # per-chunk bloom filter words (point-lookup pruning on columns
            # the key sort can't zone-map tightly); None = all-null chunk
            fields.append(T.StructField(f"{f.name}__bloom", T.BinaryType(), True))
    return T.StructType(fields)


# -------------------------------------------------- per-chunk bloom filters
# min/max zone maps prune range predicates on the SORT key tightly, but a
# point lookup on an unsorted high-cardinality column (every chunk spans
# nearly the full value range) prunes nothing. A small per-chunk bloom
# (4096 bits = 66 int64 words per column-chunk) answers "value definitely
# absent" per chunk, so a point lookup decodes only the handful of chunks
# that may contain it. Words hold 63 bits (sign bit unused) so the probe
# predicate's conv(hex(substring(...))) word extraction never overflows a
# signed int64; the predicate is a plain expression over the chunk scan and
# composes with zone maps in `chunk_filter`. Internal to the store (both
# build and probe are this module), so the hash is md5 of the value's
# canonical string — no cross-engine contract needed.

_CHUNK_BLOOM_BITS = 4096
_CHUNK_BLOOM_K = 3
_CHUNK_BLOOM_WORD = 63
_BLOOMABLE = {"byte", "short", "int", "long", "string", "date", "bool"}


def _bloom_positions_of(canon: str) -> list[int]:
    """Kirsch-Mitzenmacher double hashing from one md5."""
    import hashlib as _hashlib

    d = _hashlib.md5(canon.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [((h1 + i * h2) % (1 << 61)) % _CHUNK_BLOOM_BITS
            for i in range(_CHUNK_BLOOM_K)]


def _chunk_bloom(arr: pa.Array) -> bytes | None:
    """Bloom words for one column-chunk (canonical string per value; nulls
    skipped; all-null chunk -> None = 'prune nothing' conservative)."""
    import pyarrow.compute as pc

    vals = pc.cast(arr.drop_null(), pa.string()).to_pylist()
    if not vals:
        return None
    n_words = -(-_CHUNK_BLOOM_BITS // _CHUNK_BLOOM_WORD)
    words = np.zeros(n_words, dtype=np.int64)
    for v in vals:
        for p in _bloom_positions_of(v):
            w, b = divmod(p, _CHUNK_BLOOM_WORD)
            words[w] |= np.int64(1) << np.int64(b)
    return words.astype(">i8").tobytes()


def _canon_probe(value) -> str:
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def bloom_value_predicate(column: str, value) -> "F.Column":
    """``chunk_filter`` fragment: TRUE iff the chunk's bloom MAY contain
    ``value`` (missing/None bloom keeps the chunk — provably conservative,
    exactly like the DataSource's residual-filter contract)."""
    checks = []
    for p in _bloom_positions_of(_canon_probe(value)):
        w, b = divmod(p, _CHUNK_BLOOM_WORD)
        word = (
            f"cast(conv(hex(substring({column}__bloom, {8 * w + 1}, 8)), 16, 10) "
            f"as bigint)"
        )
        checks.append(
            f"(({word}) & shiftleft(cast(1 as bigint), {b})) != 0"
        )
    return F.expr(
        f"({column}__bloom IS NULL) OR ({' AND '.join(checks)})"
    )


def _prepare_spec(io: FsIO, df_schema: T.StructType,
                  key_cols: list[str],
                  bloom_cols: list[str] | None = None,
                  pds_col: str | None = None) -> TableSpec:
    """Create or evolve the ``_schema.json`` sidecar (append-only schema
    evolution, the reference's Delta ``metaData`` schema-evolve contract,
    ``DeltaLake.fs:176-444``): new columns may be ADDED if nullable; existing
    columns must keep name+type; key columns are immutable. Old chunk files
    simply lack the new columns' payloads and decode as nulls.

    ``df_schema`` is the frame's original shape; the spec records its flat
    physical schema (:func:`flatten_struct_schema`). An existing struct
    column's shape is immutable (its leaves are its flat type); NEW struct
    columns may be appended."""
    if "part_id" in df_schema.fieldNames():
        raise ValueError("'part_id' is a reserved column name")
    for k in key_cols:
        if k not in df_schema.fieldNames():
            raise ValueError(f"key column {k!r} not in DataFrame")
        if isinstance(df_schema[k].dataType, T.StructType):
            raise ValueError(f"key column {k!r} may not be a struct")
    df_schema, structs = flatten_struct_schema(df_schema)
    new_spec = TableSpec(schema=df_schema, key_cols=list(key_cols),
                         bloom_cols=list(bloom_cols or []), pds_col=pds_col,
                         structs=structs)
    logicals = new_spec.logicals  # validates every column type is supported
    for b in new_spec.bloom_cols:
        if b not in logicals:
            raise ValueError(f"bloom column {b!r} not in schema")
        if logicals[b] not in _BLOOMABLE:
            raise ValueError(
                f"bloom column {b!r} has logical {logicals[b]!r}; only "
                f"{sorted(_BLOOMABLE)} canonicalize stably for bloom probes"
            )
    sidecar = io.join("_schema.json")
    if not io.exists(sidecar):
        io.makedirs(io.base)
        io.publish_bytes(sidecar, new_spec.to_json().encode(),
                         attempt_tag=uuid.uuid4().hex[:8])
        return new_spec

    old = TableSpec.from_json(io.read_text(sidecar))
    if pds_col is not None and old.pds_col != pds_col:
        raise ValueError(
            f"partition column is immutable: encoded with {old.pds_col!r}, "
            f"got {pds_col!r}"
        )
    if old.key_cols != list(key_cols):
        raise ValueError(
            f"key columns are immutable: encoded with {old.key_cols}, got {list(key_cols)}"
        )
    if bloom_cols is not None and list(bloom_cols) != old.bloom_cols:
        raise ValueError(
            f"bloom columns are immutable: encoded with {old.bloom_cols}, "
            f"got {list(bloom_cols)}"
        )
    old_fields = {f.name: f for f in old.schema.fields}
    new_fields = {f.name: f for f in df_schema.fields}
    missing = [n for n in old_fields if n not in new_fields]
    if missing:
        raise ValueError(f"schema evolution is append-only; missing columns {missing}")
    for name, f in old_fields.items():
        if new_fields[name].dataType != f.dataType:
            raise ValueError(
                f"column {name!r} type change "
                f"{f.dataType.simpleString()} -> {new_fields[name].dataType.simpleString()}"
            )
    # struct-lane evolution: an existing struct column's shape is immutable
    # (its leaves ARE its flat type); new struct columns may be appended
    old_structs = old.structs or {"cols": {}, "order": []}
    new_structs = structs or {"cols": {}, "order": []}
    for name, tj in old_structs.get("cols", {}).items():
        if name in new_structs.get("cols", {}) and \
                new_structs["cols"][name] != tj:
            raise ValueError(f"struct column {name!r} shape change is not "
                             "supported (append a new column instead)")
    merged_structs = old_structs
    added_struct_cols = {
        n: tj for n, tj in new_structs.get("cols", {}).items()
        if n not in old_structs.get("cols", {})
    }
    if added_struct_cols:
        merged_structs = {
            "cols": {**old_structs.get("cols", {}), **added_struct_cols},
            "order": old_structs.get("order", [])
            + [n for n in new_structs.get("order", [])
               if n not in old_structs.get("order", [])],
        }
    added = [f for f in df_schema.fields if f.name not in old_fields]
    if not added and not added_struct_cols:
        return old
    bad = [f.name for f in added if not f.nullable]
    if bad:
        raise ValueError(f"new columns must be nullable (old chunks decode them as null): {bad}")
    merged = TableSpec(
        schema=T.StructType(list(old.schema.fields) + added),
        key_cols=list(key_cols), bloom_cols=old.bloom_cols,
        pds_col=old.pds_col,
        structs=merged_structs if merged_structs.get("cols") else {},
    )
    io.publish_bytes(sidecar, merged.to_json().encode(),
                     attempt_tag=uuid.uuid4().hex[:8])
    return merged


# ------------------------------------------------------------ column kernels


def _decimal_words(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Dense decimal128 array -> (lo, hi) int64 word streams (little-endian
    two's-complement halves of the 128-bit unscaled value)."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    raw = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                        count=2 * (arr.offset + n))[2 * arr.offset:]
    return np.ascontiguousarray(raw[0::2]), np.ascontiguousarray(raw[1::2])


def _words_to_decimal(lo: np.ndarray, hi: np.ndarray, ptype: pa.DataType,
                      validity: pa.Buffer | None) -> pa.Array:
    pairs = np.empty((len(lo), 2), np.int64)
    pairs[:, 0] = lo
    pairs[:, 1] = hi
    return pa.Array.from_buffers(
        ptype, len(lo), [validity, pa.py_buffer(pairs.tobytes())]
    )


def _decimal_lo_words(arr: pa.Array) -> np.ndarray:
    """Dense decimal128 array -> int64 unscaled values (vectorized buffer
    view; precision <= 18 guarantees the high word is sign extension)."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, np.int64)
    raw = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                        count=2 * (arr.offset + n))[2 * arr.offset:]
    lo, hi = raw[0::2], raw[1::2]
    if not np.array_equal(hi, lo >> 63):
        raise ValueError("decimal values overflow the int64 unscaled lane")
    return np.ascontiguousarray(lo)


def _int64_to_decimal(v: np.ndarray, ptype: pa.DataType,
                      validity: pa.Buffer | None) -> pa.Array:
    pairs = np.empty((len(v), 2), np.int64)
    pairs[:, 0] = v
    pairs[:, 1] = v >> 63
    return pa.Array.from_buffers(
        ptype, len(v), [validity, pa.py_buffer(pairs.tobytes())]
    )


# Numeric element lanes of array<T> and map<string,T> columns. Both nested
# kinds ride three streams: row lengths, a second stream (an array's
# element validity, empty when no element is null; a map's keys, a string
# stream) and the element stream (a string or typed stream).
_NUM_LANES = {
    "int": (pa.int32(), np.int32, 4),
    "long": (pa.int64(), np.int64, 8),
    "float": (pa.float32(), np.float32, 4),
    "double": (pa.float64(), np.float64, 8),
}


def _nested_lane(logical: str) -> tuple[bool, str] | None:
    """(is_map, element lane) of an array<T> / map<string,T> logical."""
    for prefix in ("array<", "map<string,"):
        if logical.startswith(prefix):
            return prefix != "array<", logical[len(prefix):-1]
    return None


def _encode_elems(flat: pa.Array, lengths: np.ndarray, lane: str,
                  grouped: bool) -> tuple[bytes, int]:
    """A nested column's element stream -> (payload, raw lane bytes). int32
    elements ride the GROUPED adaptive cascade when ``grouped`` (no element
    nulls): a token store's ``tokens``."""
    if lane == "string":
        el, blob = C.bytes_to_blob(flat)
        return select_str_codec(el, blob), 4 * len(el) + len(blob)
    lane_pa, lane_np, width = _NUM_LANES[lane]
    values = np.ascontiguousarray(
        flat.cast(lane_pa).to_numpy(zero_copy_only=False), dtype=lane_np
    )
    if lane_np is np.int32 and grouped:
        return encode_values(values, lengths), width * len(values)
    return select_typed_codec(values), width * len(values)


def _encode_column(arr: pa.Array, logical: str) -> tuple[bytes | None, bytes, int, int, str]:
    """One column chunk -> (valid_payload | None, payload, n_nulls, raw_bytes,
    codec_name).

    ``raw_bytes`` is the uncompressed lane footprint (lane width x rows, or
    blob + offsets for byte lanes) — the denominator of the compression ratio.
    Array and map lanes store a composite payload: length-prefixed
    row-lengths stream, length-prefixed second stream, element stream (see
    ``_NUM_LANES``).
    """
    import struct as _struct

    n = len(arr)
    n_nulls = arr.null_count
    if n_nulls:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        valid_payload = select_typed_codec(valid.astype(np.int32))
        dense = arr.drop_null()
    else:
        valid_payload = None
        dense = arr

    nested = _nested_lane(logical)
    if nested is not None:
        is_map, lane = nested
        dense = dense.combine_chunks() if isinstance(dense, pa.ChunkedArray) else dense
        # lengths straight from the (slice-adjusted) offsets buffer: there
        # is no list_value_length kernel for maps in this pyarrow
        lengths = np.diff(dense.offsets.to_numpy(zero_copy_only=False)).astype(np.int32)
        lp = select_typed_codec(lengths)
        raw = 4 * n
        if is_map:
            flat = dense.items
            if flat.null_count:
                raise ValueError("null values inside map columns are not supported")
            kl, kblob = C.bytes_to_blob(dense.keys)
            sp = select_str_codec(kl, kblob)
            raw += 4 * len(kl) + len(kblob)
        else:
            flat = dense.flatten()
            # Interior nulls (nullable elements — the array<struct> leaf
            # lanes produce them for null elements / null fields) ride the
            # element-validity stream; the value stream stores non-nulls only.
            sp = b""
            if flat.null_count:
                sp = select_typed_codec(
                    flat.is_valid().to_numpy(zero_copy_only=False).astype(np.int32))
                flat = flat.drop_null()
        vp, vraw = _encode_elems(flat, lengths, lane, grouped=is_map or not sp)
        payload = (_struct.pack("<Q", len(lp)) + lp
                   + _struct.pack("<Q", len(sp)) + sp + vp)
        segs = (lp, sp, vp) if is_map else (lp, vp)
        name = "+".join(C.payload_codec_name(p) for p in segs)
        return valid_payload, payload, n_nulls, raw + vraw, name

    if logical in _STR_LOGICALS:
        lengths, blob = C.bytes_to_blob(dense)
        payload = select_str_codec(lengths, blob)
        raw = len(blob) + 4 * n
    elif logical in _I32_LOGICALS:
        vals = dense.cast(pa.int32()).to_numpy(zero_copy_only=False)
        payload = select_typed_codec(np.ascontiguousarray(vals, dtype=np.int32))
        raw = 4 * n
    elif logical in _I64_LOGICALS:
        vals = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
        payload = select_typed_codec(np.ascontiguousarray(vals, dtype=np.int64))
        raw = 8 * n
    elif logical.startswith("decimal128"):
        lo, hi = _decimal_words(dense)
        lp = select_typed_codec(lo)
        hp = select_typed_codec(hi)
        payload = _struct.pack("<Q", len(lp)) + lp + hp
        name = f"{C.payload_codec_name(lp)}+{C.payload_codec_name(hp)}"
        return valid_payload, payload, n_nulls, 16 * n, name
    elif logical.startswith("decimal"):
        payload = select_typed_codec(_decimal_lo_words(dense))
        raw = 8 * n
    elif logical == "float":
        vals = dense.to_numpy(zero_copy_only=False)
        payload = select_typed_codec(np.ascontiguousarray(vals, dtype=np.float32))
        raw = 4 * n
    elif logical == "double":
        vals = dense.to_numpy(zero_copy_only=False)
        payload = select_typed_codec(np.ascontiguousarray(vals, dtype=np.float64))
        raw = 8 * n
    else:
        raise ValueError(f"unknown logical type {logical!r}")
    return valid_payload, payload, n_nulls, raw, C.payload_codec_name(payload)


def _min_max(arr: pa.Array):
    """(min, max) of the non-null values in Spark's order, or (None, None)
    when empty/all-null. Spark orders NaN above every other float, but
    ``pc.min_max`` skips it: a float chunk holding a NaN records it as its
    max, and one holding only NaNs as its min too."""
    import pyarrow.compute as pc

    if arr.null_count == len(arr):
        return None, None
    mm = pc.min_max(arr)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_floating(arr.type):
        n_nan = pc.sum(pc.is_nan(arr)).as_py() or 0
        if n_nan:
            hi = math.nan
            if n_nan == len(arr) - arr.null_count:
                lo = math.nan
    return lo, hi


def _validity_buffer(mask: np.ndarray) -> pa.Buffer:
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def _scatter(dense: np.ndarray, mask: np.ndarray | None) -> np.ndarray:
    """Non-null values -> one slot per ``mask`` position, zeros at nulls."""
    if mask is None:
        return dense
    full = np.zeros(len(mask), dtype=dense.dtype)
    full[mask] = dense
    return full


def _offsets(lengths: np.ndarray, mask: np.ndarray | None) -> pa.Buffer:
    """Lengths of the non-null rows -> int32 offsets (null rows span 0)."""
    lengths = _scatter(lengths, mask)
    offs = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    return pa.py_buffer(offs.tobytes())


def _decode_elems(vbuf: bytes, lengths: np.ndarray, lane: str,
                  elem_mask: np.ndarray | None) -> pa.Array:
    """Inverse of :func:`_encode_elems`: the element child array, its
    validity from ``elem_mask`` (None: no null element)."""
    ebuf = None if elem_mask is None else _validity_buffer(elem_mask)
    if lane == "string":
        el, blob = C.decode_strings(vbuf)
        if elem_mask is None:
            return C.blob_to_strings(el, blob)
        el = _scatter(el, elem_mask)
        return pa.Array.from_buffers(
            pa.string(), len(el), [ebuf, _offsets(el, None), pa.py_buffer(blob)])
    lane_pa, lane_np, _w = _NUM_LANES[lane]
    if C.payload_codec_name(vbuf) == "grouped":
        values = C.decode_int32_grouped(vbuf, lengths)
    else:
        values = C.decode_typed(vbuf)
    values = _scatter(np.ascontiguousarray(values, dtype=lane_np), elem_mask)
    return pa.Array.from_buffers(lane_pa, len(values), [ebuf, pa.py_buffer(values.tobytes())])


def _decode_column(valid_payload: bytes | None, payload: bytes, logical: str,
                   n: int, target: pa.DataType) -> pa.Array:
    """Inverse of :func:`_encode_column`: rebuild the arrow column (validity
    included) at its original type."""
    if valid_payload is not None:
        mask = C.decode_int32(valid_payload).astype(bool)
        validity = _validity_buffer(mask)
    else:
        mask = None
        validity = None

    nested = _nested_lane(logical)
    if nested is not None:
        import struct as _struct

        is_map, lane = nested
        (llen,) = _struct.unpack_from("<Q", payload, 0)
        lengths = C.decode_int32(payload[8 : 8 + llen])
        rest = payload[8 + llen :]
        (slen,) = _struct.unpack_from("<Q", rest, 0)
        second, vbuf = rest[8 : 8 + slen], rest[8 + slen :]
        elem_mask = None
        if not is_map and slen:
            elem_mask = C.decode_int32(second).astype(bool)
        child = _decode_elems(vbuf, lengths, lane, elem_mask)
        if is_map:
            map_t = pa.map_(pa.string(), child.type)
            child = pa.StructArray.from_arrays(
                [C.blob_to_strings(*C.decode_strings(second)), child],
                fields=[pa.field("key", pa.string(), nullable=False),
                        pa.field("value", child.type)],
            )
        arr = pa.Array.from_buffers(
            map_t if is_map else pa.list_(child.type), n,
            [validity, _offsets(lengths, mask)], children=[child],
        )
        return arr if arr.type == target else arr.cast(target)

    if logical in _STR_LOGICALS:
        lengths, blob = C.decode_strings(payload)  # nulls span 0 bytes
        arrow_type = pa.string() if logical == "string" else pa.binary()
        arr = pa.Array.from_buffers(
            arrow_type, n, [validity, _offsets(lengths, mask), pa.py_buffer(blob)]
        )
        return arr if arr.type == target else arr.cast(target)

    if logical.startswith("decimal128"):
        import struct as _struct

        (llen,) = _struct.unpack_from("<Q", payload, 0)
        lo = _scatter(C.decode_typed(payload[8 : 8 + llen]), mask)
        hi = _scatter(C.decode_typed(payload[8 + llen :]), mask)
        return _words_to_decimal(lo, hi, target, validity)

    dense = _scatter(C.decode_typed(payload), mask)
    if logical.startswith("decimal"):
        return _int64_to_decimal(dense, target, validity)
    arr = pa.Array.from_buffers(pa.from_numpy_dtype(dense.dtype), n,
                                [validity, pa.py_buffer(dense.tobytes())])
    return arr if arr.type == target else arr.cast(target)


# ------------------------------------------------------- per-file log stats
# Every table-store ``add`` action carries exact per-file statistics, as
# Delta's add action does (``DeltaLake.fs:176-444``): ``numRecords``, per
# column ``nullCount``, ``minValues`` and ``maxValues``, plus the file's
# ``chunkIds`` (so a deletion vector on a chunk that is no longer live is
# not subtracted). They are folds of the chunk zone maps in Spark's value
# order, so the driver answers ``table_stats`` (and the DataSource prunes
# whole files) with exactly what a Spark aggregate over the chunk stat
# columns would give.
# A column absent from ``nullCount`` is null in every row of the file (the
# file predates it); one absent from ``minValues`` has no ordered value.

_EPOCH = datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=timezone.utc)
_MICRO = timedelta(microseconds=1)


def _stat_to_json(v):
    """One JSON value per logical type, exact and never truncated: floats
    keep NaN/±inf as strings, binary is base64, timestamps are epoch
    microseconds, decimals their exact string."""
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, datetime):
        return (v - (_EPOCH_UTC if v.tzinfo else _EPOCH)) // _MICRO
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def _stat_from_json(j, logical: str):
    if logical in ("float", "double"):
        return float(j)
    if logical == "binary":
        return base64.b64decode(j)
    if logical == "date":
        return date.fromisoformat(j)
    if logical == "timestamp":
        return _EPOCH_UTC + j * _MICRO
    if logical == "timestamp_ntz":
        return _EPOCH + j * _MICRO
    if logical.startswith("decimal"):
        return Decimal(j)
    return j


def _order_key(v):
    # Spark orders NaN above every other float
    return (1, 0.0) if isinstance(v, float) and v != v else (0, v)


def _fold_extreme(acc: dict, col: str, v, pick) -> None:
    if v is not None:
        cur = acc.get(col)
        acc[col] = v if cur is None else pick(cur, v, key=_order_key)


@dataclass
class _FileStats:
    """Decoded per-file stats (see the section comment)."""

    n_rows: int = 0
    nulls: dict = field(default_factory=dict)
    mins: dict = field(default_factory=dict)
    maxs: dict = field(default_factory=dict)
    chunk_ids: list = field(default_factory=list)

    def null_count(self, col: str) -> int:
        return self.nulls.get(col, self.n_rows)

    @classmethod
    def of_chunks(cls, rows: list[dict], names: list[str]) -> "_FileStats":
        """Fold chunk rows (``n_rows``, ``chunk_id``, ``<c>__nulls``,
        ``<c>__min``, ``<c>__max``) of one file; a null ``__nulls`` cell (a
        column promoted into a compacted file) counts every row null."""
        out = cls()
        for r in rows:
            n = r["n_rows"]
            out.n_rows += n
            out.chunk_ids.append(r["chunk_id"])
            for c in names:
                nl = r.get(f"{c}__nulls")
                out.nulls[c] = out.nulls.get(c, 0) + (n if nl is None else nl)
                _fold_extreme(out.mins, c, r.get(f"{c}__min"), min)
                _fold_extreme(out.maxs, c, r.get(f"{c}__max"), max)
        return out

    @classmethod
    def merge(cls, parts: list["_FileStats"]) -> "_FileStats":
        out = cls(n_rows=sum(p.n_rows for p in parts),
                  chunk_ids=[c for p in parts for c in p.chunk_ids])
        for c in {c for p in parts for c in p.nulls}:
            out.nulls[c] = sum(p.null_count(c) for p in parts)
        for p in parts:
            for c, v in p.mins.items():
                _fold_extreme(out.mins, c, v, min)
            for c, v in p.maxs.items():
                _fold_extreme(out.maxs, c, v, max)
        return out

    def to_json(self) -> dict:
        return {"numRecords": self.n_rows, "nullCount": self.nulls,
                "minValues": {c: _stat_to_json(v) for c, v in self.mins.items()},
                "maxValues": {c: _stat_to_json(v) for c, v in self.maxs.items()},
                "chunkIds": self.chunk_ids}

    @classmethod
    def from_json(cls, d: dict, logicals: dict) -> "_FileStats":
        return cls(
            n_rows=d["numRecords"], nulls=dict(d["nullCount"]),
            mins={c: _stat_from_json(v, logicals[c])
                  for c, v in d["minValues"].items() if c in logicals},
            maxs={c: _stat_from_json(v, logicals[c])
                  for c, v in d["maxValues"].items() if c in logicals},
            chunk_ids=list(d["chunkIds"]))


def _read_file_stats(io: FsIO, fname: str, spec: TableSpec) -> _FileStats:
    """Stats of a file whose log ``add`` has none (written before the log
    carried them): fold its chunk stat columns, read with pyarrow (meta
    columns only, no payload byte)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(io.open_input_file(io.join("data/" + fname)))
    present = set(pf.schema_arrow.names)
    names = [f.name for f in spec.schema.fields if f"{f.name}__nulls" in present]
    return _FileStats.of_chunks(_chunk_stat_rows(pf, names), names)


def _chunk_stat_rows(pf, names: list[str]) -> list[dict]:
    """One dict per chunk of the open chunk file ``pf``: ``n_rows``,
    ``chunk_id`` and the stat columns of ``names`` the file has."""
    present = set(pf.schema_arrow.names)
    cols = ["n_rows", "chunk_id"] + [
        f"{c}__{k}" for c in names for k in ("nulls", "min", "max")
        if f"{c}__{k}" in present]
    return pf.read(columns=cols).to_pylist()


def _live_file_stats(io: FsIO, spec: TableSpec, snap,
                     files: list[str]) -> dict[str, _FileStats]:
    adds = snap.adds if snap is not None else {}
    logicals = spec.logicals
    return {
        f: (_FileStats.from_json(adds[f]["stats"], logicals)
            if "stats" in adds.get(f, {}) else _read_file_stats(io, f, spec))
        for f in files
    }


# Pruning conjuncts are structured ``(op, column, literal)`` triples — op in
# lt/le/gt/ge/eq/in/isnull/notnull, each the test a ROW must pass, as the
# DataSource's pushed filters give them — never a Column: a chunk-meta
# predicate such as ``key_min > 5`` is not monotone under a file's
# min-of-chunk-mins, so evaluating arbitrary ``chunk_filter`` Columns on
# file stats would drop matching files. Every zone-map-pruned read states
# its predicate this way, and two evaluators decide it: ``_stats_may_match``
# in Python (files at planning, DataSource chunks on executors) and
# ``zone_filter``, the one ``chunk_filter`` renderer for Spark chunk scans.
# Only this module names the zone columns.


def _comparable(stat, lit):
    """(stat, lit) as Spark would compare them, or TypeError when the pair
    is not provably compared the same way in Python and in Spark."""
    if isinstance(stat, bool) or isinstance(lit, bool):
        if isinstance(stat, bool) and isinstance(lit, bool):
            return stat, lit
        raise TypeError
    num = (int, float, Decimal)
    if isinstance(stat, num) and isinstance(lit, num):
        if isinstance(stat, float) or isinstance(lit, float):
            # Spark widens to double and orders a NaN stat above every
            # value; a NaN literal never prunes
            if lit != lit:
                raise TypeError
            return _order_key(float(stat)), _order_key(float(lit))
        return stat, lit
    if isinstance(stat, datetime) or isinstance(lit, datetime):
        # only instants compare alike: a naive literal's zone is the
        # session's in Spark and unknown here
        if (isinstance(stat, datetime) and isinstance(lit, datetime)
                and stat.tzinfo is not None and lit.tzinfo is not None):
            return stat, lit
        raise TypeError
    if type(stat) is type(lit):
        return stat, lit
    raise TypeError


def _range_may_hold(op: str, lit, lo, hi) -> bool:
    if op == "in":  # some listed non-null value may be equal to a row's
        return any(_range_may_hold("eq", v, lo, hi)
                   for v in lit if v is not None)
    if op == "eq":
        return (_range_may_hold("le", lit, lo, hi)
                and _range_may_hold("ge", lit, lo, hi))
    try:
        if op in ("lt", "le"):
            a, b = _comparable(lo, lit)
            return a < b if op == "lt" else a <= b
        if op in ("gt", "ge"):
            a, b = _comparable(hi, lit)
            return a > b if op == "gt" else a >= b
    except TypeError:
        pass
    return True


def _stats_may_match(fs: _FileStats, conjuncts: list, logicals: dict) -> bool:
    """False only when some conjunct provably holds for no row of the file
    (or chunk) whose stats ``fs`` are."""
    for op, col, lit in conjuncts:
        if col not in logicals:
            continue
        nulls = fs.null_count(col)
        if op == "isnull":
            if nulls == 0:
                return False
            continue
        if nulls >= fs.n_rows:
            return False  # every row null: no comparison or notnull holds
        if op == "notnull":
            continue
        if logicals[col] in ("float", "double") and op in ("gt", "ge"):
            # NaN rows pass > and >=; stores written before chunk zone maps
            # recorded NaN as the max hold file stats that leave them out
            continue
        lo, hi = fs.mins.get(col), fs.maxs.get(col)
        if lo is not None and hi is not None and not _range_may_hold(op, lit, lo, hi):
            return False
    return True


def _chunks_may_match(pf, conjuncts: list, logicals: dict) -> list[int]:
    """Row indices of the chunks of the open chunk file ``pf`` that the
    conjuncts do not rule out, each chunk judged by :func:`_stats_may_match`
    on its own stat columns (a column the file predates is all null)."""
    names = sorted({c for _, c, _ in conjuncts if c in logicals})
    return [i for i, r in enumerate(_chunk_stat_rows(pf, names))
            if _stats_may_match(_FileStats.of_chunks([r], names), conjuncts,
                                logicals)]


def zone_filter(conjuncts: list):
    """The conjuncts as a ``chunk_filter`` Column over the chunk zone
    columns, for Spark chunk scans: TRUE unless some conjunct provably
    holds for no row of the chunk. Spark orders NaN as the rows do and a
    NULL stat (an all-null chunk, or a column the file predates) fails
    every comparison; a chunk without ``__nulls`` counts every row null.
    A literal may be a Column (taken as is)."""
    return reduce(operator.and_, [_zone_term(*c) for c in conjuncts],
                  F.lit(True))


_ZONE_CMP = {"lt": ("min", operator.lt), "le": ("min", operator.le),
             "gt": ("max", operator.gt), "ge": ("max", operator.ge)}


def _zone_term(op: str, c: str, v):
    if op == "in":
        return reduce(operator.or_, [_zone_term("eq", c, x) for x in v
                                     if x is not None], F.lit(False))
    if op == "eq":
        return _zone_term("le", c, v) & _zone_term("ge", c, v)
    nulls = F.coalesce(F.col(f"{c}__nulls"), F.col("n_rows"))
    if op == "isnull":
        return nulls > 0
    if op == "notnull":
        return F.col("n_rows") > nulls
    side, cmp = _ZONE_CMP[op]
    return cmp(F.col(f"{c}__{side}"), v if isinstance(v, Column) else F.lit(v))


def _plan_files(io: FsIO, spec: TableSpec, snap,
                prune: list | None = None) -> list[str]:
    """The live files of ``snap`` (directory listing without a log) that
    the ``prune`` conjuncts do not rule out. ``decode_table`` and the reads
    built on it pass none: their chunk filters prune inside the scan."""
    files = snap.files if snap is not None else listed_data_files(io)
    if prune and files:
        stats = _live_file_stats(io, spec, snap, files)
        files = [f for f in files
                 if _stats_may_match(stats[f], prune, spec.logicals)]
    return files


# ------------------------------------------------------------- encode driver


def _chunk_boundaries(elems: np.ndarray, max_rows: int,
                      max_values: int) -> list[tuple[int, int]]:
    """Greedy row ranges of at most ``max_rows`` rows and ``max_values``
    elements (``elems`` per row); a single huge row still gets its own
    chunk."""
    n = len(elems)
    cum = np.concatenate(([0], np.cumsum(elems)))
    bounds = []
    lo = 0
    while lo < n:
        # furthest hi with cum[hi] - cum[lo] <= max_values
        hi_vals = int(np.searchsorted(cum, cum[lo] + max_values, side="right")) - 1
        hi = max(lo + 1, min(lo + max_rows, n, hi_vals))
        bounds.append((lo, hi))
        lo = hi
    return bounds


def _publish_chunk_file(io: FsIO, chunks: pa.Table, path: str, tag: str,
                        spec: TableSpec) -> tuple[int, str]:
    """Publish one chunk file; returns its (size, sha256). Payload and
    validity columns are stored uncompressed (they are codec output) and
    without parquet statistics, which would only copy payload prefixes into
    the footer. Float zone columns carry none either: the parquet writer
    skips NaN, so a footer max could rule out a chunk whose max is NaN."""
    payload_cols = [f.name for f in spec.schema.fields]
    return io.publish_parquet(
        chunks, path, attempt_tag=tag,
        compression={f"{c}__payload": "NONE" for c in payload_cols}
        | {f"{c}__valid": "NONE" for c in payload_cols}
        | {"__default__": "SNAPPY"},
        use_dictionary=False,
        write_statistics=[
            f.name for f in chunk_schema_for(spec).fields
            if not f.name.endswith(("__payload", "__valid")) and f.name != "sha"
            and not isinstance(f.dataType, (T.FloatType, T.DoubleType))
        ],
    )


def _encode_table_partition(table: pa.Table, io: FsIO, spec: TableSpec,
                            chunk_rows: int, pds: date,
                            fail_parts=None, run: str = "r0",
                            marker_dir: str = "_checkpoints",
                            sort_cols: list[str] | None = None,
                            pds_from_col: bool = False) -> pa.Table:
    """Grouped-map kernel: one part_id's rows -> one chunk parquet file,
    then its checkpoint marker (a crash between the two leaves an orphan
    the marker-gated commit never adds). ``table`` holds the rows in the
    table's original shape plus the ``part_id`` helper column (and
    ``__pds`` with ``pds_from_col``). ``run`` namespaces files/markers so
    append runs into one table dir never collide with earlier runs' parts.

    ``marker_dir`` defaults to the resume/commit checkpoint dir; rewrite jobs
    (:func:`delete_where` / :func:`merge_table`) pass ``"_rewrites"`` so their
    files are NEVER auto-committed by ``write_commit_log``'s marker gate — a
    rewrite becomes visible only through its own single add+remove log entry,
    and a crash before that entry leaves pure orphans for ``vacuum``."""
    import time

    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    t_start = time.perf_counter()
    part_id = int(table.column("part_id")[0].as_py())
    if fail_parts and part_id in fail_parts:
        raise RuntimeError(f"injected failure for part {part_id}")
    if pds_from_col:
        # date-partitioned encode (encode_table's pds_col): every row of the
        # group shares one partition date, carried in the helper column
        pds = table.column("__pds")[0].as_py()
    logicals = spec.logicals
    payload_cols = [f.name for f in spec.schema.fields]
    # struct columns arrive in their original shape: split them into their
    # flat lanes, in the spec's column order
    table = flatten_struct_arrow(table, spec.structs).select(payload_cols)

    # ``sort_cols`` (recluster_table) re-orders rows physically WITHOUT
    # changing key semantics: key_min/key_max below then fall back from the
    # positional first/last (valid only under key order) to a true min/max
    # scan, so key-range pruning stays correct under any layout.
    key_sorted = sort_cols is None or list(sort_cols) == list(spec.key_cols)
    order = sort_cols or spec.key_cols
    table = table.take(
        pc.sort_indices(table, sort_keys=[(k, "ascending") for k in order])
    )
    n = table.num_rows
    key0 = table.column(spec.key_cols[0])
    if key0.null_count:
        raise ValueError(f"key column {spec.key_cols[0]!r} contains nulls")

    t_kernel0 = time.perf_counter()
    rows: list[dict] = []
    # per-row element count summed over the array and map lanes: a chunk
    # holds at most chunk_rows rows AND DEFAULT_CHUNK_VALUES elements
    elems = np.zeros(n, np.int64)
    for name in payload_cols:
        if logicals[name].startswith(("array<", "map<")):
            offs = table.column(name).combine_chunks().offsets
            elems += np.diff(offs.to_numpy(zero_copy_only=False))
    for seq, (lo, hi) in enumerate(_chunk_boundaries(elems, chunk_rows,
                                                     DEFAULT_CHUNK_VALUES)):
        key_mm = (
            (key0[lo].as_py(), key0[hi - 1].as_py()) if key_sorted
            else _min_max(key0.slice(lo, hi - lo))
        )
        row: dict = {
            "run": run,
            "part_id": part_id,
            "chunk_seq": seq,
            "row_lo": lo,
            "row_hi": hi,
            "n_rows": hi - lo,
            "key_min": key_mm[0],
            "key_max": key_mm[1],
            "pds": pds,
        }
        hasher_parts = []
        for name in payload_cols:
            arr = table.column(name).slice(lo, hi - lo).combine_chunks()
            valid_payload, payload, n_nulls, raw, codec_name = _encode_column(
                arr, logicals[name])
            row[f"{name}__codec"] = codec_name
            row[f"{name}__nulls"] = n_nulls
            row[f"{name}__raw"] = raw
            row[f"{name}__enc"] = len(payload) + (len(valid_payload) if valid_payload else 0)
            if _has_zone_map(logicals[name]):
                row[f"{name}__min"], row[f"{name}__max"] = _min_max(arr)
            row[f"{name}__valid"] = valid_payload
            row[f"{name}__payload"] = payload
            if name in spec.bloom_cols:
                row[f"{name}__bloom"] = _chunk_bloom(arr)
            hasher_parts.append(payload)
            if valid_payload:
                hasher_parts.append(valid_payload)
        sha = sha256(b"".join(hasher_parts))
        row["sha"] = sha
        row["chunk_id"] = klondike(f"{run}:{part_id}:{seq}:".encode() + sha)
        rows.append(row)

    kernel_sec = time.perf_counter() - t_kernel0

    chunk_schema = to_arrow_schema(chunk_schema_for(spec))
    out = pa.Table.from_pylist(rows, schema=chunk_schema)

    data_dir, ckpt_dir = io.join("data"), io.join(marker_dir)
    io.makedirs(data_dir)
    io.makedirs(ckpt_dir)
    tag = uuid.uuid4().hex[:8]
    file_name = f"part-{run}-{part_id:05d}.parquet"
    t_write0 = time.perf_counter()
    file_size, file_sha = _publish_chunk_file(
        io, out, posixpath.join(data_dir, file_name), tag, spec)
    stats = {
        "run": run,
        "part_id": part_id,
        "pds": pds.isoformat(),
        "n_chunks": len(rows),
        "n_rows": n,
        "enc_bytes": sum(r[f"{c}__enc"] for r in rows for c in payload_cols),
        "raw_bytes": sum(r[f"{c}__raw"] for r in rows for c in payload_cols),
        "kernel_sec": round(kernel_sec, 4),
        "write_sec": round(time.perf_counter() - t_write0, 4),
        "total_sec": round(time.perf_counter() - t_start, 4),
        "file_name": file_name,
        "file_size": file_size,
        "file_sha256": file_sha,
        "status": "done",
        "stats": _FileStats.of_chunks(rows, payload_cols).to_json(),
    }
    io.publish_bytes(
        posixpath.join(ckpt_dir, f"part-{run}-{part_id:05d}.json"),
        json.dumps(stats).encode(),
        attempt_tag=tag,
    )
    return out.drop_columns(
        [f"{c}__payload" for c in payload_cols] + [f"{c}__valid" for c in payload_cols]
    )


def _encode_scan_partition(batches, pid: int, io: FsIO, spec: TableSpec,
                           chunk_rows: int, pds: date, run: str,
                           fail_parts=None) -> pa.Table | None:
    """Map-only encode unit: one scan partition's Arrow batches, as part
    ``pid``, -> one chunk file (:func:`_encode_table_partition`'s result),
    or None when the partition holds no row."""
    collected = [b for b in batches if b.num_rows]
    if not collected:
        return None
    table = pa.Table.from_batches(collected)
    table = table.append_column(
        "part_id", pa.array(np.full(table.num_rows, pid, np.int32))
    )
    return _encode_table_partition(table, io, spec, chunk_rows, pds,
                                   fail_parts=fail_parts, run=run)


def _encode_store(df: DataFrame, out_dir: str, key_cols: list[str],
                  n_parts: int | None, chunk_rows: int, pds: date | None,
                  fail_parts: set[int] | None, io: FsIO | None, run: str,
                  bloom_cols: list[str] | None = None,
                  pds_col: str | None = None) -> None:
    """The encode job behind :func:`encode_table` (salted shuffle into
    ``n_parts`` groups) and :func:`encode_table_scan` (``n_parts=None``:
    each scan partition is an encode unit, no shuffle): chunk files and
    their checkpoint markers, then one commit-log entry. Part ids with a
    marker of ``run`` are skipped (resume)."""
    spark = df.sparkSession
    pds = pds or date(2026, 1, 1)
    io = _io(out_dir, io)
    spec = _prepare_spec(io, df.schema, list(key_cols), bloom_cols, pds_col)
    done = completed_parts(out_dir, io, run)
    full = chunk_schema_for(spec)
    manifest_struct = T.StructType(
        [f for f in full.fields
         if not (f.name.endswith("__payload") or f.name.endswith("__valid"))]
    )

    if n_parts is None:
        def gen(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            if pid in done:
                return
            out = _encode_scan_partition(batches, pid, io, spec, chunk_rows,
                                         pds, run, fail_parts=fail_parts)
            if out is not None:
                yield from out.to_batches()

        result = df.mapInArrow(gen, schema=manifest_struct)
    else:
        # appends into a date-partitioned table inherit its partition column
        pds_col = pds_col or spec.pds_col
        salt = F.pmod(F.xxhash64(*key_cols), F.lit(n_parts)).cast("int")
        if pds_col is not None:
            if not isinstance(df.schema[pds_col].dataType, T.DateType):
                raise ValueError(f"pds_col {pds_col!r} must be a date column")
            raw = [r[0] for r in df.select(pds_col).distinct().collect()]
            if any(d is None for d in raw):
                raise ValueError(f"pds_col {pds_col!r} contains nulls")
            dates = sorted(raw)
            date_idx = spark.createDataFrame(
                [(d, i) for i, d in enumerate(dates)], f"{pds_col} date, __didx int"
            )
            keyed = (
                df.join(F.broadcast(date_idx), pds_col)
                .withColumn("part_id", (F.col("__didx") * n_parts + salt).cast("int"))
                .withColumn("__pds", F.col(pds_col))
                .drop("__didx")
            )
        else:
            keyed = df.withColumn("part_id", salt)
        if done:
            keyed = keyed.join(F.broadcast(part_id_frame(spark, done)),
                               "part_id", "left_anti")

        def kernel(table: pa.Table) -> pa.Table:
            return _encode_table_partition(table, io, spec, chunk_rows, pds,
                                           fail_parts=fail_parts, run=run,
                                           pds_from_col=pds_col is not None)

        result = keyed.groupBy("part_id").applyInArrow(kernel, schema=manifest_struct)
    result.write.format("noop").mode("overwrite").save()
    write_commit_log(out_dir, pds, io)


def encode_table(df: DataFrame, out_dir: str, key_cols: list[str],
                 n_parts: int = 64, chunk_rows: int = DEFAULT_CHUNK_ROWS,
                 pds: date | None = None,
                 fail_parts: set[int] | None = None,
                 io: FsIO | None = None,
                 run: str = "r0",
                 bloom_cols: list[str] | None = None,
                 pds_col: str | None = None) -> DataFrame:
    """Encode any supported-typed DataFrame; returns the manifest (long form).

    Plan: salted shuffle on ``xxhash64(*key_cols)``, anti-join completed
    checkpoints (resume), one grouped-map Arrow kernel, commit log at the
    end. ``key_cols`` provide the salt, the intra-chunk sort order, and the
    ``key_min/key_max`` zone maps.

    ``run`` is the append identity: a second load into the same dir uses a
    new run id (its files/markers are namespaced ``part-<run>-``), and may
    carry an evolved schema — appended columns must be nullable; earlier
    runs' chunks decode them as null (:func:`_prepare_spec`).

    ``pds_col`` (a non-null ``date`` column) turns on DATE-PARTITIONED
    layout — the reference's ``partitionColumns=["pj_pds"]`` contract
    (``DeltaLake.fs:288``): rows group by (date, salt), each file/chunk
    carries its own date as ``pds`` (commit-log ``partitionValues``, chunk
    zone column), so date-range reads prune whole files via
    ``chunk_filter`` on ``pds`` exactly like Hive/Delta partition pruning.
    The distinct-date set is collected to the driver (bounded — dates are a
    partition key, not data); ``n_parts`` becomes parts PER DATE.
    """
    _encode_store(df, out_dir, key_cols, n_parts, chunk_rows, pds,
                  fail_parts, io, run, bloom_cols, pds_col)
    return read_table_manifest(df.sparkSession, out_dir, io)


def encode_table_scan(df: DataFrame, out_dir: str, key_cols: list[str],
                      chunk_rows: int = DEFAULT_CHUNK_ROWS,
                      pds: date | None = None,
                      fail_parts: set[int] | None = None,
                      io: FsIO | None = None,
                      run: str = "r0") -> DataFrame:
    """Map-only generic encode: each *scan partition* is the encode unit —
    scan → ``mapInArrow`` → chunk files, **no shuffle at all**, for curated
    inputs whose files already spread the data; :func:`encode_table`
    (salted shuffle) remains the path for skewed or hot-keyed sources.

    Resume: partition ids are the encode identity. Spark's file-split
    planning is deterministic for a static input + fixed reader conf, so a
    restart maps rows to the same partition ids; partitions with a
    checkpoint marker short-circuit (their input is re-scanned but neither
    re-encoded nor re-written)."""
    _encode_store(df, out_dir, key_cols, None, chunk_rows, pds,
                  fail_parts, io, run)
    return read_table_manifest(df.sparkSession, out_dir, io)


def compact_table(out_dir: str, io: FsIO | None = None,
                  max_group_bytes: int = 128 << 20) -> dict:
    """Merge committed chunk files into fewer, larger files (the
    many-small-appends antidote — object-store listings and scan planning
    degrade with file count long before data size hurts).

    Chunk ROWS are moved verbatim (payloads untouched — compaction is pure
    file regrouping, no re-encode); files are greedily grouped under
    ``max_group_bytes`` within one partition date, and each merged file
    carries its group's date. The swap is committed as ONE log entry holding the
    new ``add``s and the old ``remove``s, so log-gated readers switch
    atomically; old files stay on disk (still referenced by nothing) until
    :func:`..operators.encode.vacuum` reclaims them. Pre-evolution files
    promote to the current chunk schema during the merge (missing payload
    cells become null — exactly what decode already expects).

    Driver-side merge by design: the files being compacted are SMALL (that
    is the problem being fixed); each group is bounded by ``max_group_bytes``
    and streamed through one pyarrow read+write.
    """
    import pyarrow.parquet as pq

    io = _io(out_dir, io)
    spec = read_table_spec(out_dir, io)
    snap = log_snapshot(out_dir, io)
    if snap is None:
        raise ValueError("compact_table requires a committed table (no _log found)")
    live = snap.files
    by_pds: dict[str | None, list[str]] = {}
    for f in live:
        by_pds.setdefault(snap.adds[f].get("partitionValues", {}).get("pds"), []).append(f)
    groups: list[tuple[str | None, list[str]]] = []
    for pds, files in by_pds.items():
        cur: list[str] = []
        cur_bytes = 0
        for f in files:
            fsize = snap.adds[f]["size"]
            if cur and cur_bytes + fsize > max_group_bytes:
                groups.append((pds, cur))
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += fsize
        if cur:
            groups.append((pds, cur))
    if all(len(g) <= 1 for _, g in groups):
        return {"files_before": len(live), "files_after": len(live), "log": None}

    from pyspark.sql.pandas.types import to_arrow_schema

    chunk_schema = chunk_schema_for(spec)
    arrow_schema = to_arrow_schema(
        T.StructType([T.StructField(f.name, f.dataType, True) for f in chunk_schema.fields])
    )
    data_dir = io.join("data")
    tag = uuid.uuid4().hex[:8]
    entries = log_header(spec)
    new_files = 0
    merged_away = [f for _, g in groups if len(g) > 1 for f in g]
    stats = _live_file_stats(io, spec, snap, merged_away)
    for i, (pds, group) in enumerate(groups):
        if len(group) <= 1:
            continue  # singleton stays as-is (still live, not removed)
        tables = [
            pq.read_table(io.open_input_file(posixpath.join(data_dir, f)))
            for f in group
        ]
        merged = _promote_to(tables, arrow_schema)
        name = f"part-compact{tag}-{i:05d}.parquet"
        size, sha = _publish_chunk_file(
            io, merged, posixpath.join(data_dir, name), tag, spec)
        new_files += 1
        # chunk rows move verbatim, so the merged file's stats are the
        # fold of its sources'
        entries.append(add_action(
            {"file_name": name, "file_size": size, "file_sha256": sha,
             "stats": _FileStats.merge([stats[f] for f in group]).to_json()},
            pds=pds, data_change=False))
        entries += [{"remove": {"path": f, "dataChange": False}} for f in group]
    log = append_log_entry(out_dir, entries, io, reads=merged_away)
    after = len(committed_files(out_dir, io))
    return {"files_before": len(live), "files_after": after, "log": log}


def _promote_to(tables: list[pa.Table], arrow_schema: pa.Schema) -> pa.Table:
    """Concat chunk tables onto the current chunk schema: columns a file
    predates (schema evolution) fill with nulls."""
    normed = []
    for t in tables:
        cols = []
        for field in arrow_schema:
            if field.name in t.column_names:
                cols.append(t.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(t.num_rows, field.type))
        normed.append(pa.Table.from_arrays(cols, schema=arrow_schema))
    return pa.concat_tables(normed)


# ------------------------------------------------------------- decode driver


def read_table_spec(out_dir: str, io: FsIO | None = None) -> TableSpec:
    """The store's ``_schema.json`` sidecar. A directory without one (such
    as a token store written before token stores became table stores) is
    refused: nothing else says how to read its chunk files."""
    io = _io(out_dir, io)
    sidecar = io.join("_schema.json")
    if not io.exists(sidecar):
        raise ValueError(
            f"{out_dir!r} has no _schema.json sidecar, so it is not a store "
            "this engine can read; re-encode it from its source"
        )
    return TableSpec.from_json(io.read_text(sidecar))


def read_table_chunks(spark: SparkSession, out_dir: str,
                      io: FsIO | None = None,
                      as_of: int | None = None) -> DataFrame:
    """Log-gated chunk-file scan under the sidecar's CURRENT chunk schema
    (passed explicitly, not footer-sampled): the commit log's live file set
    governs what is read (orphans/compacted files invisible; directory
    fallback pre-commit), and chunk files written before a schema evolution
    simply lack the new columns' stat/payload columns and surface them as
    nulls — no mergeSchema footer pass over every file."""
    from .encode import _read_live_chunks

    io = _io(out_dir, io)
    schema = chunk_schema_for(read_table_spec(out_dir, io))
    return _read_live_chunks(spark, out_dir, io, schema, as_of=as_of)


def read_table_manifest(spark: SparkSession, out_dir: str,
                        io: FsIO | None = None,
                        as_of: int | None = None) -> DataFrame:
    """Long-form manifest: one row per (chunk, column) with codec/size/null
    stats. Only meta + small stat columns are referenced, so the parquet scan
    never touches payload bytes (top-level column pruning). ``as_of`` scopes
    the manifest to the live set at that commit-log index, so it always
    describes the same version a time-traveled data read sees."""
    spec = read_table_spec(out_dir, io)
    chunks = read_table_chunks(spark, out_dir, io, as_of=as_of)
    meta = [f.name for f in _meta_fields(spec) if f.name != "sha"]
    def _stat(name: str, which: str):
        # typed per column in the chunk files; stringified here so the long
        # form has one homogeneous struct type across columns. Binary stats
        # hex-encode (a raw cast would produce invalid UTF-8 strings).
        if not _has_zone_map(spec.logicals[name]):
            return F.lit(None).cast("string").alias(f"{which}_value")
        col = F.col(f"{name}__{which}")
        if spec.logicals[name] == "binary":
            return F.hex(col).alias(f"{which}_value")
        return col.cast("string").alias(f"{which}_value")

    per_col = [
        F.struct(
            F.lit(f.name).alias("column"),
            F.lit(spec.logicals[f.name]).alias("logical"),
            F.col(f"{f.name}__codec").alias("codec"),
            F.col(f"{f.name}__nulls").alias("n_nulls"),
            F.col(f"{f.name}__raw").alias("raw_bytes"),
            F.col(f"{f.name}__enc").alias("enc_bytes"),
            _stat(f.name, "min"),
            _stat(f.name, "max"),
        )
        for f in spec.schema.fields
    ]
    return (
        chunks.select(*meta, F.explode(F.array(*per_col)).alias("c"))
        .select(*meta, "c.*")
    )


def _read_plan(spec: TableSpec,
               columns: list[str] | None = None) -> tuple[list[str], T.StructType]:
    """(flat lanes to decode, output schema) of a read of ``columns``:
    original column names (a struct column comes back reassembled, every
    nested field nullable — :func:`relax_nullable`) or flat lane names
    (``s·leaf``). ``None`` reads the original shape: the recorded
    declaration order, then any later-appended flat columns."""
    fields = {f.name: f for f in spec.schema.fields}
    structs = spec.structs or {}
    scols = {n: relax_nullable(_struct_col_type(tj))
             for n, tj in structs.get("cols", {}).items()}
    leaves = {n: [f.name for f in _struct_leaf_fields(n, dt)]
              for n, dt in scols.items()}
    if columns is None:
        covered = {lane for ls in leaves.values() for lane in ls}
        order = structs.get("order", [])
        names = order + [n for n in fields if n not in covered and n not in order]
    else:
        names = list(dict.fromkeys(columns))
        missing = [c for c in names if c not in fields and c not in scols]
        if missing:
            raise ValueError(f"columns not in encoded table: {missing}")
    lanes = [lane for n in names for lane in leaves.get(n, [n])]
    out = T.StructType(
        [T.StructField(n, scols[n] if n in scols else fields[n].dataType, True)
         for n in names])
    return list(dict.fromkeys(lanes)), out


def _decode_chunks(chunks, spec: TableSpec, lanes: list[str], out: pa.Schema,
                   meta_cols: list[str] | tuple = (), dead: dict | None = None):
    """One batch of chunk rows -> one ``out`` RecordBatch per chunk: the
    flat ``lanes`` decode (a lane the chunk predates decodes all-null),
    struct columns reassemble, the trailing ``meta_cols`` repeat per row
    (``__pos`` is the in-chunk ordinal, assigned BEFORE the deletion-vector
    filter so DV deletes address original positions), and the positions
    ``dead`` lists under the chunk's ``chunk_id`` drop. ``chunks`` (a
    RecordBatch or Table) carries ``n_rows``, each lane's
    ``__valid``/``__payload`` (a file predating a lane lacks them), the
    meta columns and, with ``dead``, ``chunk_id``. Every reader of the
    store decodes through here."""
    from pyspark.sql.pandas.types import to_arrow_schema

    logicals = spec.logicals
    lane_types = to_arrow_schema(T.StructType(
        [T.StructField(lane, spec.schema[lane].dataType, True) for lane in lanes]))
    scols = {n: _struct_col_type(tj)
             for n, tj in (spec.structs or {}).get("cols", {}).items()}
    n_data = len(out) - len(meta_cols)
    cols = dict(zip(chunks.schema.names, chunks.columns))
    for i in range(chunks.num_rows):  # iterates CHUNKS, not rows
        n = int(cols["n_rows"][i].as_py())
        flat = {}
        for lane in lanes:
            pcol, vcol = cols.get(f"{lane}__payload"), cols.get(f"{lane}__valid")
            pl = pcol[i].as_py() if pcol is not None else None
            if pl is None:
                flat[lane] = pa.nulls(n, lane_types.field(lane).type)
            else:
                flat[lane] = _decode_column(
                    vcol[i].as_py() if vcol is not None else None, pl,
                    logicals[lane], n, lane_types.field(lane).type)
        arrays = []
        for k, f in enumerate(out):
            if k >= n_data:
                arrays.append(
                    pa.array(np.arange(n, dtype=np.int64)) if f.name == "__pos"
                    else pa.repeat(cols[f.name][i].cast(f.type), n))
            elif f.name in scols:
                arrays.append(
                    assemble_struct_arrow(flat, f.name, scols[f.name], f.type))
            else:
                arrays.append(flat[f.name])
        drop = dead.get(cols["chunk_id"][i].as_py()) if dead else None
        if drop is not None:
            keep = np.ones(n, dtype=bool)
            keep[drop] = False
            mask = pa.array(keep)
            arrays = [a.filter(mask) for a in arrays]
        yield pa.RecordBatch.from_arrays(arrays, schema=out)


def decode_table(spark: SparkSession, out_dir: str,
                 columns: list[str] | None = None,
                 io: FsIO | None = None,
                 chunk_filter=None,
                 as_of: int | None = None,
                 meta_cols: list[str] | None = None) -> DataFrame:
    """Decode chunk files back to the source table, bit-identically.

    ``columns`` selects a subset — only those payload/validity columns are
    read (parquet column pruning at the chunk scan) and decoded; the plan is a
    shuffle-free ``mapInArrow`` either way.
    ``chunk_filter`` (a Column over the chunk meta fields, e.g. a
    :func:`zone_filter` zone-map predicate) prunes whole chunks at the
    parquet scan before any payload is decoded (a chunk file is one
    parquet row group, so a pruned chunk's payload bytes are still read
    when the file is). ``as_of`` time-travels to the
    table as of that commit-log index (appends/compactions after it are
    invisible; schema-on-read under the CURRENT sidecar schema, so columns
    added later decode as null at old versions).

    ``meta_cols`` appends chunk-level ROW PROVENANCE columns, replicated per
    decoded row: any chunk meta field (``run``, ``part_id``, ``chunk_id``,
    ``chunk_seq``, ...) plus the synthetic ``__src_file`` (basename of the
    chunk parquet file the row lives in — the copy-on-write rewrite unit
    :func:`delete_where`/:func:`merge_table` operate on). ``chunk_filter``
    may reference them too.

    Struct columns (split into flat lanes at encode) reassemble here: pass
    the ORIGINAL struct name in ``columns`` to get the struct back (its
    leaves decode selectively); pass a flat leaf name (``s·leaf``) to read
    just that lane. ``chunk_filter`` predicates address the flat lanes
    (each leaf has its own zone map).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from .encode import _read_live_chunks

    spec = read_table_spec(out_dir, io)
    lanes, out_struct = _read_plan(spec, columns)
    meta_cols = list(meta_cols or [])
    chunk_fields = {f.name: f for f in chunk_schema_for(spec).fields}
    for m in meta_cols:
        if m in spec.schema.fieldNames() or m in (spec.structs or {}).get("cols", {}):
            raise ValueError(f"meta column {m!r} collides with a table column")
        if m not in ("__src_file", "__pos") and (
            m not in chunk_fields or m.endswith(("__payload", "__valid"))
        ):
            raise ValueError(f"unknown meta column {m!r}")
    _synth_types = {"__src_file": T.StringType(), "__pos": T.LongType()}
    out_struct = T.StructType(out_struct.fields + [
        T.StructField(m, _synth_types.get(m) or chunk_fields[m].dataType, True)
        for m in meta_cols
    ])
    arrow_out = to_arrow_schema(out_struct)

    # one log replay plans the read: the live files and, for merge-on-read
    # deletes, the DV state at this version, packed per chunk id
    _riod = _io(out_dir, io)
    snap = log_snapshot(out_dir, _riod, as_of)
    dv_packed = _dv_packed_map(_riod, snap.dvs if snap is not None else [])

    select_cols = ["n_rows"]
    if dv_packed and "chunk_id" not in meta_cols:
        select_cols.append("chunk_id")
    for lane in lanes:
        select_cols += [f"{lane}__valid", f"{lane}__payload"]
    select_cols += [m for m in meta_cols if m != "__pos"]

    def gen(it):
        dead = {cid: np.frombuffer(zlib.decompress(pk), dtype="<u4")
                for cid, pk in dv_packed.items()}
        for batch in it:
            yield from _decode_chunks(batch, spec, lanes, arrow_out,
                                      meta_cols, dead)

    chunks = _read_live_chunks(spark, out_dir, _riod, chunk_schema_for(spec),
                               files=_plan_files(_riod, spec, snap))
    if "__src_file" in meta_cols:
        chunks = chunks.withColumn(
            "__src_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
    if chunk_filter is not None:
        chunks = chunks.filter(chunk_filter)
    return chunks.select(*select_cols).mapInArrow(gen, schema=out_struct)


def register_table_views(spark: SparkSession, out_dir: str, name: str,
                         io: FsIO | None = None,
                         as_of: int | None = None) -> None:
    """Expose an encoded table to ``spark.sql``: temp views ``<name>``
    (decoded rows — Catalyst sees a normal relation, so joins/aggregations/
    window functions over the encoded store are plain SQL) and
    ``<name>_manifest`` (long-form chunk/codec/zone-map stats). This view
    decodes EVERY column (``mapInArrow`` is a projection barrier — Catalyst
    cannot prune through it); for per-query column pruning + zone-map chunk
    filters from a SQL string, use :func:`table_sql`, or pass ``columns``/
    ``chunk_filter`` to :func:`decode_table` directly."""
    decode_table(spark, out_dir, io=io, as_of=as_of).createOrReplaceTempView(name)
    read_table_manifest(spark, out_dir, io, as_of=as_of).createOrReplaceTempView(
        f"{name}_manifest"
    )


# ----------------------------------------------------- pruned SQL surface
# ``register_table_views`` decodes EVERY column for every query because
# ``mapInArrow`` is a projection/predicate barrier: Catalyst cannot push the
# SQL's column set or filters through it into the chunk scan. ``table_sql``
# closes that gap per query, before the barrier exists: it inspects the SQL
# text, registers a view decoding only the referenced columns, and turns
# provably-safe WHERE conjuncts into zone-map chunk filters — the reference's
# Delta reader-side pruning contract (``DeltaLake.fs:176-444``) applied to
# an ad-hoc SQL string.


def _strip_sql_noise(sql: str) -> str:
    """Remove comments; collapse whitespace (string literals kept)."""
    import re

    s = re.sub(r"--[^\n]*", " ", sql)
    s = re.sub(r"/\*.*?\*/", " ", s, flags=re.S)
    return re.sub(r"\s+", " ", s).strip()


def referenced_table_columns(sql: str, spec: TableSpec) -> list[str] | None:
    """Encoded-table columns the SQL can possibly reference, by identifier
    intersection over the de-commented, de-stringed text. Returns ``None``
    for "all" (a ``SELECT *`` / ``alias.*`` appears); over-approximation is
    safe (an extra column decodes needlessly), under-approximation cannot
    happen for valid SQL because every column use is a bare identifier
    token. With zero matches (e.g. ``SELECT count(*)``), the cheapest
    decodable unit — the first key column — is used for row counts."""
    import re

    s = _strip_sql_noise(sql)
    no_str = re.sub(r"'(?:[^']|'')*'", " ", s)
    # a star selection (SELECT *, t.*, "..., *") forces all columns;
    # count(*) does not match (the "(" intervenes between count and *)
    if re.search(r"(?i)(?:\bselect|,)\s*(?:[a-z_]\w*\s*\.\s*)?\*", no_str):
        return None
    toks = {t.lower() for t in re.findall(r"[A-Za-z_]\w*", no_str)}
    cols = [f.name for f in spec.schema.fields if f.name.lower() in toks]
    return cols or [spec.key_cols[0]]


_SQL_LIT = r"(?:(?:date|timestamp)\s*'[^']*'|'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
_SQL_OPS = {"<": "lt", "<=": "le", ">": "gt", ">=": "ge", "=": "eq"}


def _zone_lit(tok: str, dt: T.DataType):
    import re

    t = tok.strip()
    m = re.match(r"(?i)(?:date|timestamp)\s*'([^']*)'", t)
    if m:
        return F.lit(m.group(1)).cast(dt)
    if t.startswith("'"):
        v = F.lit(t[1:-1].replace("''", "'"))
        return v.cast(dt) if isinstance(
            dt, (T.DateType, T.TimestampType, T.TimestampNTZType)) else v
    # numeric literals stay untyped: Spark's numeric promotion compares
    # exactly; casting 5.5 to an int column's type would mis-prune `<`
    return F.lit(float(t) if "." in t or "e" in t.lower() else int(t))


def zone_map_filter_for_sql(sql: str, spec: TableSpec, view_name: str):
    """Chunk-filter Column derived from the SQL's WHERE clause, or ``None``.

    Only provably-safe extractions prune (a wrong prune is a wrong answer,
    not a missed optimization, so every gate errs toward ``None``):

    * single SELECT, no JOIN, FROM exactly ``view_name`` — the WHERE can
      only constrain this table;
    * the WHERE clause contains no OR/NOT/CASE/IN/EXISTS/LIKE — every
      top-level AND conjunct is then individually necessary;
    * only conjuncts that ENTIRELY match ``col op literal`` or
      ``col BETWEEN a AND b`` on an encoded column participate; anything
      else is ignored (Spark still applies the full residual WHERE on the
      decoded rows — zone maps prune chunks, never rows).

    All-null chunks carry NULL stats and are pruned by SQL null semantics —
    correct, since their rows cannot satisfy any comparison; chunks predating
    an evolved column likewise decode it as all-null.
    """
    import re

    s = _strip_sql_noise(sql)
    if len(re.findall(r"(?i)\bselect\b", s)) != 1 or re.search(r"(?i)\bjoin\b", s):
        return None
    m_from = re.search(r"(?i)\bfrom\s+([a-z_][\w.]*)", s)
    if not m_from or m_from.group(1).lower() != view_name.lower():
        return None
    m_where = re.search(
        r"(?i)\bwhere\b(.*?)(?:\bgroup by\b|\border by\b|\blimit\b|\bhaving\b|\bwindow\b|$)",
        s,
    )
    if not m_where:
        return None
    clause = m_where.group(1)
    if re.search(r"(?i)\b(or|not|case|in|exists|like)\b", clause):
        return None

    logicals = spec.logicals
    dtypes = {f.name.lower(): f for f in spec.schema.fields
              if _has_zone_map(logicals[f.name])}
    conds: list[tuple] = []

    def grab_between(m):
        conds.append(("between", m.group(1), m.group(2), m.group(3)))
        return " "

    clause = re.sub(
        rf"(?i)\b([a-z_]\w*)\s+between\s+({_SQL_LIT})\s+and\s+({_SQL_LIT})",
        grab_between,
        clause,
    )
    cmp_full = re.compile(rf"(?i)([a-z_]\w*)\s*(>=|<=|=|<|>)\s*({_SQL_LIT})")
    for frag in re.split(r"(?i)\band\b", clause):
        frag = frag.strip()
        while frag.startswith("(") and frag.endswith(")"):
            frag = frag[1:-1].strip()
        frag = frag.strip("() ").strip()
        if not frag:
            continue
        m = cmp_full.fullmatch(frag)
        if m:
            conds.append(("cmp", m.group(1), m.group(2), m.group(3)))

    conjuncts = []
    for cond in conds:
        field = dtypes.get(cond[1].lower())
        if field is None:
            continue
        if cond[0] == "between":
            conjuncts += [("ge", field.name, _zone_lit(cond[2], field.dataType)),
                          ("le", field.name, _zone_lit(cond[3], field.dataType))]
        else:
            conjuncts.append((_SQL_OPS[cond[2]], field.name,
                              _zone_lit(cond[3], field.dataType)))
    return zone_filter(conjuncts) if conjuncts else None


def table_sql(spark: SparkSession, out_dir: str, sql: str, name: str,
              io: FsIO | None = None, as_of: int | None = None) -> DataFrame:
    """Run ``sql`` against the encoded table exposed as view ``name``,
    decoding ONLY the columns the SQL references and zone-map-pruning chunks
    from its safe WHERE conjuncts. The chunk scan's ReadSchema then carries
    just the referenced payload/validity streams (parquet top-level column
    pruning) and the chunk filter lands in ``PushedFilters`` — the engine's
    ``decode_table(columns=…, chunk_filter=…)`` fast path, reachable from a
    plain SQL string. Also registers ``<name>_manifest``."""
    spec = read_table_spec(out_dir, io)
    cols = referenced_table_columns(sql, spec)
    cf = zone_map_filter_for_sql(sql, spec, name)
    decode_table(spark, out_dir, columns=cols, io=io, chunk_filter=cf,
                 as_of=as_of).createOrReplaceTempView(name)
    read_table_manifest(spark, out_dir, io, as_of=as_of).createOrReplaceTempView(
        f"{name}_manifest"
    )
    return spark.sql(sql)


def lookup_key_range(spark: SparkSession, out_dir: str, lo, hi,
                     columns: list[str] | None = None,
                     io: FsIO | None = None) -> DataFrame:
    """Selective decode of rows whose FIRST key column lies in ``[lo, hi]``.

    Chunk pruning via that column's zone map (equal to the chunk's
    ``key_min``/``key_max`` on key-sorted and reclustered layouts alike): a
    chunk can overlap the range only if its max is ``>= lo`` and its min
    ``<= hi``. The predicate lands in the parquet scan (``PushedFilters``)
    and only surviving chunks are decoded; a pruned chunk's payload bytes
    are still read when another chunk of its file survives (a chunk file
    is one parquet row group) — ``decode.lookup_docs``'s point-lookup idea
    generalized to any key type.
    """
    spec = read_table_spec(out_dir, io)
    k0 = spec.key_cols[0]
    if columns is not None and k0 not in columns:
        columns = [k0] + list(columns)
    pruned = zone_filter([("ge", k0, lo), ("le", k0, hi)])
    dec = decode_table(spark, out_dir, columns=columns, io=io, chunk_filter=pruned)
    return dec.filter(F.col(k0).between(F.lit(lo), F.lit(hi)))


def lookup_value(spark: SparkSession, out_dir: str, column: str, value,
                 columns: list[str] | None = None,
                 io: FsIO | None = None) -> DataFrame:
    """Point lookup ``column = value`` on ANY column with chunk pruning.

    Prunes with both available structures and the exact filter last:
    * the typed per-column min/max zone map (tight when ``column`` is the
      sort key, loose otherwise);
    * the per-chunk bloom filter when the table was encoded with ``column``
      in ``bloom_cols`` — the structure that actually prunes point lookups
      on unsorted high-cardinality columns, where every chunk's min/max
      spans nearly the full range.
    Both prune conservatively (an all-null chunk, whose stats are NULL,
    holds no match; a missing bloom keeps the chunk); surviving chunks
    decode only the requested ``columns``.
    """
    spec = read_table_spec(out_dir, io)
    if columns is not None and column not in columns:
        columns = [column] + list(columns)
    pred = zone_filter([("eq", column, value)])
    if column in spec.bloom_cols:
        pred = pred & bloom_value_predicate(column, value)
    dec = decode_table(spark, out_dir, columns=columns, io=io, chunk_filter=pred)
    return dec.filter(F.col(column) == F.lit(value))


def column_range_filter(name: str, lo, hi):
    """Chunk-filter Column pruning on ANY encoded column's typed zone map:
    a chunk can hold a value in ``[lo, hi]`` only if its min/max overlap the
    range (all-null chunks have NULL stats and are pruned by null semantics).
    Pass to :func:`decode_table` as ``chunk_filter``; combine with ``&``/``|``
    for conjunctive predicates. The caller applies the residual row filter
    after decode (zone maps prune chunks, not rows). A ``None`` bound leaves
    that side of the range open."""
    return zone_filter([(op, name, v) for op, v in (("ge", lo), ("le", hi))
                        if v is not None])


# ----------------------------------------------- metadata-only statistics


def table_stats(spark: SparkSession, out_dir: str,
                columns: list[str] | None = None,
                io: FsIO | None = None,
                as_of: int | None = None) -> DataFrame:
    """Exact per-column statistics WITHOUT reading any data file.

    Total rows, null count, min and max per column, folded on the driver
    from the per-file stats in the commit log (themselves folds of the
    chunk zone maps) — the same answer a full decode + aggregate gives,
    because chunk stats are computed from the actual values at encode time
    (never truncated the way parquet footer string stats can be). No Spark
    job runs: the result is a projection over a local relation. Files whose
    log ``add`` predates per-file stats fold their chunk stat columns
    instead, read with pyarrow.

    Schema-evolved chunks predate added columns entirely and count as
    all-null. Output: one row per column ``(column, n_rows, n_nulls,
    min_value, max_value)`` with min/max stringified by Spark's own cast
    (binary hex-encoded), the :func:`read_table_manifest` convention, so
    the row type is homogeneous across columns.

    Deletion vectors (:func:`dv_delete_where`): ``n_rows`` stays EXACT — the
    DV cardinalities of the live files' chunks (the file stats list their
    chunk ids) subtract. ``n_nulls``/``min``/``max`` remain the chunks'
    physical stats, i.e. valid-but-possibly-loose bounds once rows are
    soft-deleted (the Delta convention: file stats are physical; a CoW
    rewrite or compaction of the affected files re-tightens them).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    spec = read_table_spec(out_dir, io)
    fields = [f for f in spec.schema.fields if columns is None or f.name in columns]
    if columns is not None:
        missing = set(columns) - {f.name for f in fields}
        if missing:
            raise ValueError(f"columns not in encoded table: {sorted(missing)}")
        fields.sort(key=lambda f: columns.index(f.name))
    io = _io(out_dir, io)
    snap = log_snapshot(out_dir, io, as_of)
    tot = _FileStats.merge(list(
        _live_file_stats(io, spec, snap, _plan_files(io, spec, snap)).values()))
    n_rows = None  # a sum over zero chunks is null
    if tot.chunk_ids:
        dvm = load_dv_map(io, snap.dvs if snap is not None else [])
        n_rows = tot.n_rows - sum(len(dvm[c]) for c in tot.chunk_ids if c in dvm)
    # one row per column; row i holds column i's typed min/max in its own
    # pair of cells, so Spark's own cast/hex stringifies them as a plain
    # projection over a local relation (no job)
    typed = T.StructType(
        [T.StructField("column", T.StringType(), False),
         T.StructField("n_rows", T.LongType(), True),
         T.StructField("n_nulls", T.LongType(), True)]
        + [T.StructField(f"{f.name}__{w}", f.dataType, True)
           for f in fields for w in ("mn", "mx")])
    data = {"column": [f.name for f in fields],
            "n_rows": [n_rows] * len(fields),
            "n_nulls": [tot.null_count(f.name) if tot.chunk_ids else None
                        for f in fields]}
    for i, f in enumerate(fields):
        for w, ext in (("mn", tot.mins), ("mx", tot.maxs)):
            data[f"{f.name}__{w}"] = [ext.get(f.name) if j == i else None
                                      for j in range(len(fields))]
    local = spark.createDataFrame(
        pa.Table.from_pydict(data, schema=to_arrow_schema(typed)), typed)

    def _s(which: str):
        cells = [F.hex(F.col(f"{f.name}__{which}"))
                 if spec.logicals[f.name] == "binary"
                 else F.col(f"{f.name}__{which}").cast("string")
                 for f in fields]
        return F.coalesce(*cells) if cells else F.lit(None).cast("string")

    return local.select("column", "n_rows", "n_nulls",
                        _s("mn").alias("min_value"), _s("mx").alias("max_value"))


# ------------------------------------------- row-level DELETE / MERGE (CoW)


def _dml_target(out_dir: str, io: FsIO | None, what: str
                ) -> tuple[FsIO, TableSpec]:
    """The io and spec of the committed table a row-level DML rewrites."""
    io = _io(out_dir, io)
    if log_snapshot(out_dir, io) is None:
        raise ValueError(f"{what} requires a committed table (no _log found)")
    return io, read_table_spec(out_dir, io)


def _file_pds(snap, f: str, default: date) -> date:
    """A live file's partition date from its ``add`` record — the date a
    rewrite must PRESERVE so date-partitioned (``pds_col``) tables keep
    pruning correctly after DML (a compaction's merged file carries the
    date of the files it merged)."""
    v = snap.adds.get(f, {}).get("partitionValues", {}).get("pds")
    return date.fromisoformat(v) if v else default


def _rewrite_job(survivors: DataFrame, io: FsIO, spec: TableSpec,
                 chunk_rows: int, pds: date, run: str,
                 sort_cols: list[str] | None = None,
                 pds_from_col: bool = False) -> list[dict]:
    """Run the grouped encode kernel for a copy-on-write rewrite and return
    the ``add`` log dicts for every file it published. Markers go to
    ``_rewrites/`` (not ``_checkpoints/``) so ``write_commit_log``'s marker
    gate can never auto-commit a rewrite file: the rewrite becomes visible
    only through its caller's single add+remove log entry, and a crash
    before that entry leaves pure orphans for ``vacuum``."""
    full = chunk_schema_for(spec)
    manifest_struct = T.StructType(
        [f for f in full.fields
         if not (f.name.endswith("__payload") or f.name.endswith("__valid"))]
    )

    def kernel(table: pa.Table) -> pa.Table:
        return _encode_table_partition(table, io, spec, chunk_rows, pds,
                                       run=run, marker_dir="_rewrites",
                                       sort_cols=sort_cols,
                                       pds_from_col=pds_from_col)

    (survivors.groupBy("part_id").applyInArrow(kernel, manifest_struct)
     .write.format("noop").mode("overwrite").save())
    rw = io.join("_rewrites")
    prefix = f"part-{run}-"
    # each marker records its file's own partition date: a DML rewrite of a
    # date-partitioned file keeps ITS date
    return [add_action(json.loads(io.read_text(posixpath.join(rw, f))),
                       pds.isoformat())
            for f in io.listdir(rw)
            if f.startswith(prefix) and f.endswith(".json")]


def _cow_commit(spark: SparkSession, out_dir: str, io: FsIO, spec: TableSpec,
                matched: list[str], rewrite, run: str, chunk_rows: int,
                pds: date, inserts: DataFrame | None = None
                ) -> tuple[list[dict], str]:
    """The copy-on-write tail of every row-level DML: decode only the
    ``matched`` files (``__src_file`` provenance), let ``rewrite`` turn
    their rows into the rows that stay (``__src_file`` kept), give each
    file's rows one part id and that file's own partition date, add the
    already-routed ``inserts``, encode, and commit the new files' adds with
    the matched files' removes as ONE log entry — readers switch
    atomically. The entry names the matched files as read, and the
    snapshot they were decoded under, so a concurrent commit that rewrote
    one of them, or changed the deletion vectors, first makes this one
    raise instead of resurrecting rows. Returns (adds, log path)."""
    new_rows = inserts
    snap = None
    if matched:
        snap = log_snapshot(out_dir, io)
        part_map = spark.createDataFrame(
            [(f, i, _file_pds(snap, f, pds)) for i, f in enumerate(matched)],
            "__src_file string, part_id int, __pds date",
        )
        dec = decode_table(spark, out_dir, io=io, meta_cols=["__src_file"],
                           chunk_filter=F.col("__src_file").isin(matched))
        kept = (rewrite(dec).join(F.broadcast(part_map), "__src_file")
                .drop("__src_file"))
        new_rows = kept if inserts is None else kept.unionByName(inserts)
    adds = _rewrite_job(new_rows, io, spec, chunk_rows, pds, run,
                        pds_from_col=True)
    log = append_log_entry(
        out_dir,
        log_header(spec) + adds
        + [{"remove": {"path": f, "dataChange": True}} for f in matched],
        io, reads=matched, base=snap,
    )
    return adds, log


DML_MAX_MATCHED_FILES = 1_000_000
"""Cap on DML detect-phase matched files returned to the driver.

The matched-file list must reach the driver (it IS the copy-on-write
rewrite plan), but an unbounded `.collect()` of per-file hit rows is a
driver-OOM hazard when a broad predicate matches most of a 100-TB table
(VERDICT r04 item 3). The detect pass now (a) drops the per-file counts
(total comes from one scalar aggregate), and (b) fails fast past this cap
with guidance to partition the DML by predicate instead."""


def _dml_matched_files(filtered: DataFrame) -> tuple[list[str], int]:
    """Detect-phase fold: (sorted matched ``__src_file`` names, matched-row
    count). One distributed aggregate for the scalars, then a distinct
    file-name collect gated by :data:`DML_MAX_MATCHED_FILES` — never a
    per-file count row set."""
    slim = filtered.select("__src_file").localCheckpoint(eager=False)
    stats = slim.agg(
        F.count("*").alias("n"),
        F.countDistinct("__src_file").alias("nf"),
    ).first()
    n_rows, n_files = int(stats["n"]), int(stats["nf"])
    if n_files > DML_MAX_MATCHED_FILES:
        raise ValueError(
            f"DML predicate matches {n_files} files "
            f"(> DML_MAX_MATCHED_FILES={DML_MAX_MATCHED_FILES}); split the "
            "statement by a partition predicate (pds / key range) so each "
            "rewrite plan stays driver-sized"
        )
    matched = sorted(
        r["__src_file"] for r in slim.distinct().collect()
    )
    return matched, n_rows


def delete_where(spark: SparkSession, out_dir: str, condition,
                 io: FsIO | None = None,
                 chunk_rows: int = DEFAULT_CHUNK_ROWS,
                 pds: date | None = None,
                 condition_cols: list[str] | None = None,
                 chunk_filter=None) -> dict:
    """Row-level DELETE with copy-on-write file rewrite + ONE atomic commit
    (the Delta ``DELETE FROM`` contract over the reference's commit-log
    protocol, ``DeltaLake.fs:176-444``).

    ``condition`` is a Column over the table's source columns; rows where it
    evaluates TRUE are deleted (FALSE *or NULL* rows survive — SQL DELETE
    semantics). Two passes, both distributed:

    1. *Detect*: decode (optionally only ``condition_cols``, and only chunks
       passing ``chunk_filter`` — zone maps / blooms prune here) with
       ``__src_file`` row provenance; one tiny aggregate yields the matched
       file set + deleted-row count.
    2. *Rewrite*: only matched files' chunks re-decode; survivors re-encode
       grouped per original file (the CoW unit, so untouched files are never
       rewritten). One ``append_log_entry`` holds the new adds AND the old
       files' removes — log-gated readers switch atomically, ``as_of``
       versions before the entry still see the pre-delete rows until
       ``vacuum`` reclaims them.
    """
    io, spec = _dml_target(out_dir, io, "delete_where")
    probe = decode_table(spark, out_dir, columns=condition_cols, io=io,
                         chunk_filter=chunk_filter, meta_cols=["__src_file"])
    matched, n_deleted = _dml_matched_files(probe.filter(condition))
    if not matched:
        return {"rows_deleted": 0, "files_rewritten": 0,
                "files_removed": 0, "log": None}
    adds, log = _cow_commit(
        spark, out_dir, io, spec, matched,
        lambda dec: dec.filter(~F.coalesce(condition, F.lit(False))),
        f"dw{uuid.uuid4().hex[:8]}", chunk_rows, pds or date(2026, 1, 1))
    return {"rows_deleted": n_deleted, "files_rewritten": len(adds),
            "files_removed": len(matched), "log": log}


# ------------------------------------- deletion vectors (merge-on-read DELETE)
# The CoW `delete_where` rewrites every matched file — right for broad
# predicates, wasteful for sparse ones (a GDPR delete of 1e3 rows spread over
# 1e4 multi-GB files would rewrite terabytes). A deletion vector instead
# records the doomed rows' ordinals per CHUNK in a `_dv/` sidecar and commits
# one metadata-only `{"dv": ...}` log action; every reader
# (`decode_table`, SQL views, the DataSource) subtracts them at decode time.
# Keying by chunk_id (content-addressed, globally unique) — never file path —
# means compaction (verbatim chunk moves) carries DVs untouched and CoW
# rewrites (fresh chunk ids) orphan them harmlessly. Delta's deletion-vector
# feature, re-derived over this store's chunk model.

DV_MAX_DELETED_ROWS = 4_000_000
"""Driver-size guard: a DV delete collects (chunk_id, ordinals) to the
driver. Past this many matched rows the predicate is not 'sparse' — use the
copy-on-write :func:`delete_where`, which never materializes row ids."""


def _pack_positions(pos: np.ndarray) -> str:
    return base64.b64encode(
        zlib.compress(np.asarray(pos, dtype="<u4").tobytes())
    ).decode("ascii")


def _unpack_positions(b64: str) -> np.ndarray:
    return np.frombuffer(zlib.decompress(base64.b64decode(b64)), dtype="<u4")


def load_dv_map(io: FsIO, actions: list[dict]) -> dict[str, np.ndarray]:
    """Union the live DV actions' per-chunk deleted ordinals. Disjointness
    holds by construction (a delete's probe decode already excludes earlier
    DV rows), so cardinalities are additive; union1d also tolerates replayed
    duplicates."""
    out: dict[str, np.ndarray] = {}
    for a in actions:
        d = json.loads(io.read_text(io.join("_dv/" + a["dvFile"])))
        for cid, b64 in d["chunks"].items():
            pos = _unpack_positions(b64)
            out[cid] = np.union1d(out[cid], pos) if cid in out else pos
    return out


def _dv_packed_map(io: FsIO, actions: list[dict]) -> dict[str, bytes]:
    """zlib-packed positions per chunk — the task-closure form (compressed
    so a wide DV state doesn't bloat task serialization)."""
    return {cid: zlib.compress(np.asarray(pos, dtype="<u4").tobytes())
            for cid, pos in load_dv_map(io, actions).items()}


def _dv_mark(spark: SparkSession, out_dir: str, io: FsIO, condition,
             condition_cols: list[str] | None, chunk_filter,
             kind: str) -> dict | None:
    """The merge-on-read half of a DV delete or update (``kind``): one
    probe (selective decode of ``condition_cols``, ``chunk_filter``
    pruning) finds the matched rows' (file, chunk_id, pre-DV ordinal),
    capped at :data:`DV_MAX_DELETED_ROWS`; the positions per chunk publish
    to ``_dv/dv-<uuid>.json``. None when nothing matches, else the row
    count, the chunk ids, the ``{"dv": ...}`` log action and the files the
    chunks live in — the commit names them as read, because a concurrent
    copy-on-write rewrite of one of them (fresh chunk ids) would orphan
    these positions."""
    probe = decode_table(spark, out_dir, columns=condition_cols, io=io,
                         chunk_filter=chunk_filter,
                         meta_cols=["__src_file", "chunk_id", "__pos"])
    hits = (probe.filter(condition).select("__src_file", "chunk_id", "__pos")
            .localCheckpoint(eager=False))
    total = hits.count()
    if total == 0:
        return None
    if total > DV_MAX_DELETED_ROWS:
        raise ValueError(
            f"predicate matches {total} rows "
            f"(> DV_MAX_DELETED_ROWS={DV_MAX_DELETED_ROWS}); this is a broad "
            f"{kind} — use the copy-on-write {kind}_where instead"
        )
    rows = (
        hits.groupBy("__src_file", "chunk_id")
        .agg(F.sort_array(F.collect_list("__pos")).alias("pos"))
        .collect()
    )
    chunks = {r["chunk_id"]: _pack_positions(np.asarray(r["pos"]))
              for r in rows}
    name = f"dv-{uuid.uuid4().hex[:12]}.json"
    io.makedirs(io.join("_dv"))
    io.publish_bytes(
        io.join("_dv/" + name),
        json.dumps({"chunks": chunks, "cardinality": total}).encode(),
        attempt_tag=name[3:15],
    )
    return {"rows": total, "chunks": sorted(chunks), "dv_file": name,
            "action": {"dv": {"dvFile": name, "cardinality": total}},
            "files": sorted({r["__src_file"] for r in rows})}


def dv_delete_where(spark: SparkSession, out_dir: str, condition,
                    io: FsIO | None = None,
                    condition_cols: list[str] | None = None,
                    chunk_filter=None) -> dict:
    """Row-level DELETE as a deletion vector: no data file is rewritten.

    One distributed probe (selective decode of ``condition_cols``, zone
    maps/blooms prune via ``chunk_filter``) finds matched rows' (chunk_id,
    in-chunk ordinal); ordinals are pre-DV physical positions, so repeated
    DV deletes compose (the probe never re-matches an already-deleted row).
    The positions publish to ``_dv/dv-<uuid>.json`` and ONE metadata-only
    log action makes them visible atomically — ``as_of`` reads before it
    still see the rows, :func:`restore_table` resurrects them via
    ``dvRestore``, and any later CoW rewrite of a file materializes the
    deletes (survivor decode is DV-filtered) and retires its vectors.
    """
    io, spec = _dml_target(out_dir, io, "dv_delete_where")
    mark = _dv_mark(spark, out_dir, io, condition, condition_cols,
                    chunk_filter, "delete")
    if mark is None:
        return {"rows_deleted": 0, "chunks_touched": 0,
                "dv_file": None, "log": None}
    log = append_log_entry(out_dir, log_header(spec) + [mark["action"]], io,
                           reads=mark["files"])
    return {"rows_deleted": mark["rows"], "chunks_touched": len(mark["chunks"]),
            "dv_file": mark["dv_file"], "log": log}


def dv_update_where(spark: SparkSession, out_dir: str, condition,
                    assignments: dict, io: FsIO | None = None,
                    chunk_rows: int = DEFAULT_CHUNK_ROWS,
                    pds: date | None = None,
                    condition_cols: list[str] | None = None,
                    chunk_filter=None,
                    update_parts: int = 8) -> dict:
    """Row-level UPDATE as merge-on-read: DV-mark the old rows, append the
    updated rows as fresh files, ONE atomic log commit — no existing data
    file is rewritten (Delta's DV-backed UPDATE shape, vs the copy-on-write
    :func:`update_where` which rewrites every matched file in place).

    Semantics differ from the CoW path in one liberating way: because the
    updated rows RELOCATE into fresh files (own zone maps, own
    ``partitionValues``), *any* column may be assigned — including the key
    columns and the partition column ``pds_col`` (rows re-route to their new
    date's files via the same per-(date, salt) routing merge inserts use).
    The in-place CoW paths must reject both, since there the row keeps its
    file and the file keeps its placement metadata.

    Two distributed passes over DV-filtered decodes, so repeated MoR updates
    compose (an already-superseded row never re-matches):

    1. *Probe*: selective decode of ``condition_cols`` (``chunk_filter``
       prunes via zone maps/blooms) yields matched (chunk_id, physical
       ordinal); bounded by ``DV_MAX_DELETED_ROWS`` — past it the predicate
       is not sparse, use :func:`update_where`.
    2. *Rewrite rows, not files*: only the touched chunks decode in full;
       ``condition`` re-applies (it must be DETERMINISTIC over the row — the
       same contract the CoW rewrite's in-place ``F.when`` relies on) and
       ``assignments`` (column → Column over the PRE-update row, SQL UPDATE
       semantics) produce the replacement rows, encoded append-style.

    The commit carries the new files' adds AND the ``{"dv": ...}`` action
    atomically: readers see either the old rows or (new rows + vectors),
    never both. A DV commit that lands between the probe and this commit
    makes it raise, since the replacement rows were read without it (two
    racing updates of one row would each re-add it). ``as_of`` before the
    commit sees pre-update rows;
    :func:`restore_table` undoes both halves (``dvRestore`` + file removes);
    a later compaction carries the vectors (chunk-id-keyed) verbatim.
    """
    io, spec = _dml_target(out_dir, io, "dv_update_where")
    orig_fields = _read_plan(spec)[1].fields
    bad = sorted(set(assignments) - {f.name for f in orig_fields})
    if bad:
        raise ValueError(f"assigned columns not in table: {bad}")
    pds = pds or date(2026, 1, 1)
    base = log_snapshot(out_dir, io)
    mark = _dv_mark(spark, out_dir, io, condition, condition_cols,
                    chunk_filter, "update")
    if mark is None:
        return {"rows_updated": 0, "chunks_touched": 0, "files_added": 0,
                "dv_file": None, "log": None}

    # replacement rows: full decode of ONLY the touched chunks (no other
    # chunk is decoded), condition re-applied, assignments
    # evaluated against the pre-update row, routed like merge inserts
    run = f"du{uuid.uuid4().hex[:8]}"
    dec = decode_table(spark, out_dir, io=io,
                       chunk_filter=F.col("chunk_id").isin(mark["chunks"]))
    updated = dec.filter(condition).select(
        *[
            assignments[f.name].cast(f.dataType).alias(f.name)
            if f.name in assignments else F.col(f.name)
            for f in orig_fields
        ]
    )
    routed = _route_inserts(spark, updated, spec, update_parts, pds, 0,
                            out_dir, io)
    adds = _rewrite_job(routed, io, spec, chunk_rows, pds, run,
                        pds_from_col=True)
    log = append_log_entry(out_dir, log_header(spec) + adds + [mark["action"]],
                           io, reads=mark["files"], base=base)
    return {"rows_updated": mark["rows"], "chunks_touched": len(mark["chunks"]),
            "files_added": len(adds), "dv_file": mark["dv_file"], "log": log}


def _route_inserts(spark: SparkSession, src: DataFrame, spec: TableSpec,
                   insert_parts: int, pds: date, part_offset: int,
                   out_dir: str, io: FsIO) -> DataFrame:
    """Assign fresh part ids + partition dates to merge-insert rows: fresh
    key-hashed files, routed per (date, salt) when the table is
    date-partitioned (pruning stays correct after a merge)."""
    keys = spec.key_cols
    insert_salt = (F.pmod(F.xxhash64(*keys), F.lit(insert_parts))
                   + F.lit(part_offset)).cast("int")
    if spec.pds_col:
        raw = [r[0] for r in src.select(spec.pds_col).distinct().collect()]
        if any(d is None for d in raw):
            raise ValueError(
                f"pds_col {spec.pds_col!r} contains nulls in the merge source")
        date_idx = spark.createDataFrame(
            [(d, i) for i, d in enumerate(sorted(raw))],
            f"{spec.pds_col} date, __didx int",
        )
        return (
            src.join(F.broadcast(date_idx), spec.pds_col)
            .withColumn("part_id",
                        (insert_salt + F.col("__didx") * insert_parts).cast("int"))
            .withColumn("__pds", F.col(spec.pds_col))
            .drop("__didx")
        )
    return (src.withColumn("part_id", insert_salt)
            .withColumn("__pds", F.lit(pds)))


def merge_table(spark: SparkSession, out_dir: str, source: DataFrame,
                io: FsIO | None = None,
                chunk_rows: int = DEFAULT_CHUNK_ROWS,
                pds: date | None = None,
                insert_parts: int = 8,
                when_matched_update: dict | None = None,
                when_matched_delete: bool = False,
                when_matched_condition=None,
                when_not_matched_condition=None) -> dict:
    """Delta ``MERGE`` keyed on the table's ``key_cols``, committed as ONE
    atomic log entry.

    Default (no clause arguments): upsert — whenMatchedUpdateAll +
    whenNotMatchedInsertAll. Every target row whose key tuple appears in
    ``source`` is replaced by the source rows carrying that key; source
    rows with unseen keys insert. ``source`` must carry exactly the encoded
    schema (same names + types).

    Clause mode (round 5 — the full MERGE surface):

    * ``when_matched_update`` — dict of column → Column expression applied
      to matched target rows IN PLACE (they stay in their files); exprs
      address the aliased join: ``F.col("t.x")`` is the pre-merge target
      value, ``F.col("s.y")`` the source value. Key columns cannot be
      assigned.
    * ``when_matched_delete=True`` — matched target rows are deleted
      (mutually exclusive with ``when_matched_update``).
    * ``when_matched_condition`` — Column over the t/s join gating the
      matched action; matched rows failing it pass through UNCHANGED.
    * ``when_not_matched_condition`` — Column over the source (alias
      ``s``) gating inserts; pass ``F.lit(False)`` for a matched-only
      merge. In clause mode the source may carry EXTRA columns for the
      conditions; inserts project the table's columns and require them all.

    Plan: key-only provenance decode finds the matched file set (the
    source's key side is the small one — AQE broadcasts it); matched files
    rewrite grouped per original file, inserts encode into
    ``insert_parts`` fresh key-hashed files, and adds + removes land in one
    ``append_log_entry`` so readers switch atomically. Untouched files are
    never rewritten.
    """
    io, spec = _dml_target(out_dir, io, "merge_table")
    keys = spec.key_cols
    clause_mode = (when_matched_update is not None or when_matched_delete
                   or when_matched_condition is not None
                   or when_not_matched_condition is not None)
    if clause_mode:
        return _merge_with_clauses(
            spark, out_dir, source, io, spec, chunk_rows,
            pds or date(2026, 1, 1), insert_parts,
            when_matched_update, when_matched_delete,
            when_matched_condition, when_not_matched_condition,
        )
    # the source arrives in the table's ORIGINAL shape; its struct columns
    # compare as their physical lanes, so shape mismatches surface as
    # flat-lane name/type diffs
    want = {f.name: f.dataType for f in spec.schema.fields}
    got = {f.name: f.dataType
           for f in flatten_struct_schema(source.schema)[0].fields}
    if got != want:
        raise ValueError(
            f"merge source schema must match the encoded table: want {want}, got {got}"
        )
    pds = pds or date(2026, 1, 1)
    src = source.select(*_read_plan(spec)[1].fieldNames())
    src_keys = src.select(*keys).distinct()

    probe = decode_table(spark, out_dir, columns=list(keys), io=io,
                         meta_cols=["__src_file"])
    matched, n_replaced = _dml_matched_files(
        probe.join(src_keys, list(keys), "left_semi")
    )

    # rewritten files each keep THEIR OWN partition date; inserts route by
    # the table's persisted partition column when it has one (fresh files
    # per (date, salt)), else they stamp the call's pds — date-partitioned
    # tables keep pruning correctly after a merge either way
    inserts = _route_inserts(spark, src, spec, insert_parts, pds,
                             len(matched), out_dir, io)
    adds, log = _cow_commit(
        spark, out_dir, io, spec, matched,
        lambda dec: dec.join(src_keys, list(keys), "left_anti"),
        f"mg{uuid.uuid4().hex[:8]}", chunk_rows, pds, inserts)
    return {"rows_replaced": n_replaced, "files_rewritten": len(adds),
            "files_removed": len(matched), "log": log}


def _merge_with_clauses(spark: SparkSession, out_dir: str, source: DataFrame,
                        io: FsIO, spec: TableSpec, chunk_rows: int,
                        pds: date, insert_parts: int,
                        upd: dict | None, delete: bool,
                        m_cond, i_cond) -> dict:
    """Clause-mode MERGE body (see :func:`merge_table`): matched rows are
    transformed IN PLACE inside their files (update) or dropped (delete),
    unmatched-by-target source rows insert under ``i_cond``; one atomic
    add+remove log entry either way."""
    if upd is not None and delete:
        raise ValueError(
            "choose ONE matched action: when_matched_update or when_matched_delete")
    if m_cond is not None and upd is None and not delete:
        raise ValueError("when_matched_condition requires a matched action")
    keys = spec.key_cols
    orig_cols = _read_plan(spec)[1].fieldNames()
    if upd is not None:
        bad = [c for c in upd if c in keys]
        if bad:
            raise ValueError(f"key columns cannot be assigned: {bad}")
        if spec.pds_col and spec.pds_col in upd:
            # same in-place hazard as update_where: the matched row stays in
            # its file, whose partitionValues date would go stale
            raise ValueError(
                f"partition column {spec.pds_col!r} cannot be assigned by "
                "when_matched_update (rows keep their file's partition "
                "date); delete + re-insert, or dv_update_where"
            )
        unknown = [c for c in upd if c not in orig_cols]
        if unknown:
            raise ValueError(f"assignments target unknown columns: {unknown}")
    missing_keys = [k for k in keys if k not in source.columns]
    if missing_keys:
        raise ValueError(f"merge source lacks key columns {missing_keys}")

    s = source.alias("s")
    src_keys = source.select(*keys).distinct()
    probe = decode_table(spark, out_dir, columns=list(keys), io=io,
                         meta_cols=["__src_file"])
    have_matched_action = upd is not None or delete
    if have_matched_action:
        # Delta MERGE semantics: a target row matching multiple source rows
        # is an error (the action would be ambiguous/nondeterministic)
        dup = (source.groupBy(*keys).count()
               .filter(F.col("count") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "merge source has duplicate key tuples; a matched action "
                "must see at most ONE source row per target row")
        matched, n_matched = _dml_matched_files(
            probe.join(src_keys, list(keys), "left_semi"))
    else:
        matched, n_matched = [], 0

    inserts_src = s.join(probe.select(*keys).distinct(), list(keys),
                         "left_anti")
    if i_cond is not None:
        inserts_src = inserts_src.filter(i_cond)
    missing = [c for c in orig_cols if c not in source.columns]
    inserts = None
    if missing:
        if inserts_src.limit(1).count() > 0:
            raise ValueError(
                f"merge source lacks table columns {missing} needed for "
                "inserts; pass when_not_matched_condition=F.lit(False) for "
                "a matched-only merge")
    else:
        ins = inserts_src.select(*orig_cols)
        want = {f.name: f.dataType for f in spec.schema.fields}
        got = {f.name: f.dataType
               for f in flatten_struct_schema(ins.schema)[0].fields}
        if got != want:
            raise ValueError(
                f"merge insert schema must match the encoded table: "
                f"want {want}, got {got}")
        inserts = _route_inserts(spark, ins, spec, insert_parts, pds,
                                 len(matched), out_dir, io)

    if not matched and inserts is None:
        return {"rows_matched": 0, "rows_deleted": 0, "rows_updated": 0,
                "files_rewritten": 0, "files_removed": 0, "log": None}
    n_action = 0

    def rewrite(dec: DataFrame) -> DataFrame:
        nonlocal n_action
        t = dec.alias("t")
        join_cond = F.col(f"t.{keys[0]}").eqNullSafe(F.col(f"s.{keys[0]}"))
        for k in keys[1:]:
            join_cond = join_cond & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        joined = t.join(s, join_cond, "left")
        matched_flag = F.col(f"s.{keys[0]}").isNotNull()
        cond = F.lit(True) if m_cond is None else m_cond
        hit = matched_flag & F.coalesce(cond.cast("boolean"), F.lit(False))
        n_action = joined.filter(hit).count()
        if delete:
            return joined.filter(~hit).select(
                *[F.col(f"t.{c}").alias(c) for c in orig_cols],
                F.col("t.__src_file").alias("__src_file"),
            )
        exprs = []
        for c in orig_cols:
            tgt_dt = dec.schema[c].dataType
            if c in upd:
                exprs.append(
                    F.when(hit, upd[c].cast(tgt_dt))
                    .otherwise(F.col(f"t.{c}")).alias(c))
            else:
                exprs.append(F.col(f"t.{c}").alias(c))
        return joined.select(*exprs, F.col("t.__src_file").alias("__src_file"))

    adds, log = _cow_commit(spark, out_dir, io, spec, matched, rewrite,
                            f"mg{uuid.uuid4().hex[:8]}", chunk_rows, pds,
                            inserts)
    return {"rows_matched": n_matched,
            "rows_deleted": n_action if delete else 0,
            "rows_updated": 0 if delete else n_action,
            "files_rewritten": len(adds), "files_removed": len(matched),
            "log": log}


def update_where(spark: SparkSession, out_dir: str, condition,
                 assignments: dict, io: FsIO | None = None,
                 chunk_rows: int = DEFAULT_CHUNK_ROWS,
                 pds: date | None = None,
                 condition_cols: list[str] | None = None,
                 chunk_filter=None) -> dict:
    """Row-level UPDATE (Delta ``UPDATE ... SET ... WHERE ...``) — the third
    leg of the DML triple, same copy-on-write + single-atomic-entry protocol
    as :func:`delete_where`.

    ``assignments`` maps column name → Column expression over the source
    columns (evaluated against the PRE-update row, SQL UPDATE semantics, so
    ``{"a": col("b"), "b": col("a")}`` swaps). Rows where ``condition`` is
    TRUE get the assignments applied; FALSE/NULL rows pass through verbatim.
    Key columns cannot be assigned (they define chunk placement + zone
    order; re-keying is a DELETE + MERGE). Only files holding matches are
    rewritten; every surviving byte of untouched files is untouched.
    """
    io, spec = _dml_target(out_dir, io, "update_where")
    # assignments address the table's ORIGINAL shape: a struct column is
    # assigned as a whole (produce the full struct value); leaf-level
    # assignment composes naturally via F.struct over the PRE-update row.
    # Cast targets are the decoded types (structs fully nullable)
    orig_fields = _read_plan(spec)[1].fields
    bad = sorted(set(assignments) - {f.name for f in orig_fields})
    if bad:
        raise ValueError(f"assigned columns not in table: {bad}")
    keyed = sorted(set(assignments) & set(spec.key_cols))
    if keyed:
        raise ValueError(
            f"key columns cannot be assigned (delete+merge to re-key): {keyed}"
        )
    if spec.pds_col and spec.pds_col in assignments:
        # the CoW rewrite keeps each file's partitionValues date — assigning
        # the partition column in place would desync it from the rows and
        # silently break pds chunk_filter pruning. The merge-on-read
        # dv_update_where relocates rows, so it CAN re-partition them.
        raise ValueError(
            f"partition column {spec.pds_col!r} cannot be assigned in place "
            "(rows keep their file's partition date); use dv_update_where, "
            "which re-routes updated rows to their new date's files"
        )
    probe = decode_table(spark, out_dir, columns=condition_cols, io=io,
                         chunk_filter=chunk_filter, meta_cols=["__src_file"])
    matched, n_updated = _dml_matched_files(probe.filter(condition))
    if not matched:
        return {"rows_updated": 0, "files_rewritten": 0,
                "files_removed": 0, "log": None}
    hit = F.coalesce(condition, F.lit(False))
    adds, log = _cow_commit(
        spark, out_dir, io, spec, matched,
        lambda dec: dec.select(
            *[
                F.when(hit, assignments[f.name]).otherwise(F.col(f.name))
                .cast(f.dataType).alias(f.name)
                if f.name in assignments else F.col(f.name)
                for f in orig_fields
            ],
            "__src_file",
        ),
        f"up{uuid.uuid4().hex[:8]}", chunk_rows, pds or date(2026, 1, 1))
    return {"rows_updated": n_updated, "files_rewritten": len(adds),
            "files_removed": len(matched), "log": log}


def recluster_table(spark: SparkSession, out_dir: str, by: list[str],
                    io: FsIO | None = None, n_parts: int = 8,
                    chunk_rows: int = DEFAULT_CHUNK_ROWS,
                    pds: date | None = None,
                    rel_err: float = 0.01) -> dict:
    """Physically re-layout the live table clustered by ``by`` (Delta
    ``OPTIMIZE ... ZORDER BY`` / ``CLUSTER BY`` analog): files are
    range-bucketed on ``by[0]`` (sampled quantile boundaries — the same idea
    as ``repartitionByRange``) and every chunk is sorted by ``by``, so the
    per-column zone maps on the ``by`` columns become tight and
    :func:`column_range_filter` pruning on them does real work. To z-order
    recluster on two dimensions, materialize ``clustering.zorder_key`` as a
    column at encode time and recluster ``by=["zkey"]``.

    METADATA SEMANTICS ARE UNTOUCHED: the table's key columns, schema, and
    sidecar stay exactly as encoded — this is a pure physical rewrite.
    ``key_min``/``key_max`` remain the true per-chunk min/max of the first
    key column (the encode kernel switches from positional endpoints to a
    real min/max scan when the sort order differs), so key-range pruning
    stays CORRECT, merely looser than on a key-sorted layout. Rows move as a
    whole-table rewrite committed as ONE atomic add+remove log entry;
    ``as_of`` versions before it still read the old layout, and a crash
    before the entry leaves only orphan files for :func:`..operators.encode.vacuum`.

    ``by[0]`` must be a non-null numeric/date column (quantile bucketing);
    remaining ``by`` columns refine the within-chunk sort only.
    """
    io = _io(out_dir, io)
    snap = log_snapshot(out_dir, io)
    if snap is None:
        raise ValueError("recluster_table requires a committed table (no _log found)")
    live = snap.files
    spec = read_table_spec(out_dir, io)
    names = {f.name for f in spec.schema.fields}
    missing = sorted(set(by) - names)
    if not by or missing:
        raise ValueError(f"cluster columns not in table: {missing or by}")
    live_pds = sorted({a["partitionValues"]["pds"] for a in snap.adds.values()
                       if "partitionValues" in a})
    if len(live_pds) > 1:
        raise ValueError(
            "recluster_table does not support date-partitioned tables "
            f"(live files span {len(live_pds)} pds partitions — quantile "
            "buckets would merge dates and break partition pruning)"
        )
    # a single-date table keeps ITS date through the rewrite
    pds = pds or (date.fromisoformat(live_pds[0]) if live_pds
                  else date(2026, 1, 1))

    dec = decode_table(spark, out_dir, io=io)
    probs = [i / n_parts for i in range(1, n_parts)]
    bounds = sorted(set(
        dec.select(F.col(by[0]).cast("double").alias("__c"))
        .approxQuantile("__c", probs, rel_err)
    )) if n_parts > 1 else []
    part_expr = F.lit(0)
    for b in bounds:
        part_expr = part_expr + F.when(F.col(by[0]) > F.lit(b), 1).otherwise(0)
    run = f"rc{uuid.uuid4().hex[:8]}"
    clustered = dec.withColumn("part_id", part_expr.cast("int"))
    adds = _rewrite_job(clustered, io, spec, chunk_rows, pds, run,
                        sort_cols=list(by))
    log = append_log_entry(
        out_dir,
        log_header(spec) + adds
        + [{"remove": {"path": f, "dataChange": True}} for f in live],
        io, reads=live,
    )
    return {"files_before": len(live), "files_after": len(adds),
            "buckets": len(bounds) + 1, "log": log}


def table_diff(spark: SparkSession, out_dir: str,
               from_version: int, to_version: int | None = None,
               io: FsIO | None = None) -> DataFrame:
    """Change data feed between two commit-log versions: the decoded rows
    with a ``_change_type`` column (``insert`` / ``delete``; an updated row
    appears as its old image deleted + new image inserted — the Delta CDF
    convention without per-row tracking columns).

    Fast path (the common append-only case): when no file was REMOVED in
    ``(from_version, to_version]``, the diff is exactly the rows of the
    files ADDED in that range — a pruned decode of just those files, no
    comparison pass at all. General path (deletes / updates / merges in
    range): multiset difference of the two version reads
    (``exceptAll`` both ways — exact, order-independent); compaction
    rewrites (``dataChange: false``) are content-neutral and correctly
    produce an empty diff.
    """
    io = _io(out_dir, io)
    versions = log_versions(out_dir, io)
    if to_version is None:
        to_version = max(versions)
    if from_version not in versions or to_version not in versions:
        raise ValueError(f"versions must be committed indices {versions}")
    if from_version > to_version:
        raise ValueError("from_version must be <= to_version")

    # replay only the in-range entries to classify the change shape
    removed = False
    data_change_adds: list[str] = []
    for _, entry in log_entries(out_dir, io, after=from_version,
                                upto=to_version):
        if "add" in entry and entry["add"].get("dataChange", True):
            data_change_adds.append(entry["add"]["path"])
        if "remove" in entry and entry["remove"].get("dataChange", True):
            removed = True
        if "dv" in entry or "dvRestore" in entry:
            # a deletion vector (or its restore) changed existing files'
            # visible rows: the range is not append-only
            removed = True

    live_now = set(committed_files(out_dir, io, as_of=to_version))
    if not removed and all(f in live_now for f in data_change_adds):
        # append-only range with every added file still live: the diff IS
        # those files (log-tail contract, same axis the streaming source
        # reads) — a pruned decode, no comparison pass. dataChange:false
        # adds are compaction rewrites of pre-range rows and excluded; an
        # in-range add later compacted away falls through to the exact path.
        if not data_change_adds:
            return decode_table(spark, out_dir, io=io,
                                as_of=to_version).limit(0).withColumn(
                "_change_type", F.lit("insert"))
        dec = decode_table(spark, out_dir, io=io, as_of=to_version,
                           meta_cols=["__src_file"],
                           chunk_filter=F.col("__src_file").isin(data_change_adds))
        return dec.drop("__src_file").withColumn("_change_type", F.lit("insert"))

    old = decode_table(spark, out_dir, io=io, as_of=from_version)
    new = decode_table(spark, out_dir, io=io, as_of=to_version)
    return (
        new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        .unionByName(old.exceptAll(new).withColumn("_change_type", F.lit("delete")))
    )


def check_table_integrity(spark: SparkSession, out_dir: str,
                          io: FsIO | None = None,
                          as_of: int | None = None) -> DataFrame:
    """fsck for the encoded store: recompute each chunk's content hash over
    its payload+validity bytes and compare to the ``sha`` written at encode
    time (A23's SHA-256 contract, Hash.fs:9-37 — the same bytes the commit
    log's per-file sha256 covers at file granularity). Returns ONE ROW PER
    BAD CHUNK (``run, part_id, chunk_seq, chunk_id, reason``); a healthy
    table returns 0 rows.

    Shape: a map-only scan of the chunk files — payload bytes stream through
    Arrow batches, nothing decodes and nothing shuffles. The per-row Python
    loop is manifest-scale (one row per ≤ chunk_rows data rows), not
    data-scale. Columns appended by schema evolution after a chunk was
    written surface as NULL payloads and are skipped — exactly the byte set
    the original hash covered.
    """
    import hashlib as _hashlib

    spec = read_table_spec(out_dir, io)
    payload_cols = [f.name for f in spec.schema.fields]
    sel = ["run", "part_id", "chunk_seq", "chunk_id", "sha"]
    sel += [f"{c}__payload" for c in payload_cols]
    sel += [f"{c}__valid" for c in payload_cols]
    chunks = read_table_chunks(spark, out_dir, io, as_of=as_of).select(*sel)
    out_schema = T.StructType(
        [
            T.StructField("run", T.StringType(), False),
            T.StructField("part_id", T.IntegerType(), False),
            T.StructField("chunk_seq", T.IntegerType(), False),
            T.StructField("chunk_id", T.StringType(), False),
            T.StructField("reason", T.StringType(), False),
        ]
    )

    def audit(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            bad = {k: [] for k in
                   ("run", "part_id", "chunk_seq", "chunk_id", "reason")}
            for i in range(t.num_rows):
                parts = []
                for c in payload_cols:
                    p = t.column(f"{c}__payload")[i].as_py()
                    if p is None:
                        continue  # column appended after this chunk's encode
                    parts.append(p)
                    v = t.column(f"{c}__valid")[i].as_py()
                    if v is not None:
                        parts.append(v)
                calc = _hashlib.sha256(b"".join(parts)).digest()
                stored = t.column("sha")[i].as_py()
                if calc != stored:
                    bad["run"].append(t.column("run")[i].as_py())
                    bad["part_id"].append(t.column("part_id")[i].as_py())
                    bad["chunk_seq"].append(t.column("chunk_seq")[i].as_py())
                    bad["chunk_id"].append(t.column("chunk_id")[i].as_py())
                    bad["reason"].append("sha mismatch: payload bytes differ "
                                         "from encode-time content hash")
            yield pa.RecordBatch.from_pydict(
                bad,
                schema=pa.schema(
                    [
                        pa.field("run", pa.string()),
                        pa.field("part_id", pa.int32()),
                        pa.field("chunk_seq", pa.int32()),
                        pa.field("chunk_id", pa.string()),
                        pa.field("reason", pa.string()),
                    ]
                ),
            )

    return chunks.mapInArrow(audit, schema=out_schema)


def validate_table(spark: SparkSession, out_dir: str,
                   unique: list[str] | None = None,
                   not_null: list[str] | None = None,
                   checks: dict[str, "F.Column"] | None = None,
                   check_cols: list[str] | None = None,
                   io: FsIO | None = None) -> DataFrame:
    """Constraint audit over the encoded store: one row per constraint with
    its violation count (``constraint, n_bad``) — the data-quality gate a
    warehouse runs after loads.

    * ``not_null`` columns are answered from the chunk zone maps ALONE
      (:func:`table_stats` null counts — zero payload read);
    * ``unique`` (a composite key) decodes only the key columns and counts
      surplus rows per duplicated key (``Σ (cnt − 1)``);
    * ``checks`` maps constraint name → boolean Column over the source
      columns; rows where the predicate is FALSE or NULL count as
      violations (SQL CHECK semantics). ``check_cols`` limits the decode to
      the referenced columns.
    All pieces are lazy DataFrames unioned by name — the audit is one job.
    """
    frames: list[DataFrame] = []
    if not_null:
        frames.append(
            table_stats(spark, out_dir, columns=list(not_null), io=io)
            .select(
                F.concat(F.lit("not_null("), F.col("column"), F.lit(")"))
                .alias("constraint"),
                F.col("n_nulls").alias("n_bad"),
            )
        )
    if unique:
        dup = (
            decode_table(spark, out_dir, columns=list(unique), io=io)
            .groupBy(*unique)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
        )
        frames.append(
            dup.agg(
                F.lit(f"unique({', '.join(unique)})").alias("constraint"),
                F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n_bad"),
            )
        )
    for name, cond in (checks or {}).items():
        dec = decode_table(spark, out_dir, columns=check_cols, io=io)
        frames.append(
            dec.agg(
                F.lit(f"check({name})").alias("constraint"),
                F.sum(
                    F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
                ).alias("n_bad"),
            )
        )
    if not frames:
        raise ValueError("validate_table: no constraints given")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def restore_table(out_dir: str, version: int, io: FsIO | None = None) -> dict:
    """Delta ``RESTORE TABLE ... TO VERSION`` analog: ONE metadata-only log
    entry returns the live file set to exactly what commit ``version`` left
    — files live then but removed since are RE-ADDED (their original add
    records, still on disk because :func:`..operators.encode.vacuum` hasn't
    reclaimed them), files added since are REMOVED. Deletion-vector state
    rolls back too: a ``dvRestore`` action carrying the target version's
    exact live DV set replaces the current one — rows soft-deleted since
    resurrect, and a later forward-restore re-applies them (embedded state
    makes restore self-inverse). No data byte moves;
    history is preserved (``as_of`` reads of intermediate versions still
    work, and the restore itself is a new version that can be restored
    away). Raises if any needed file has already been vacuumed, and on a
    concurrent commit that removed a file live when the restore was
    planned (the entry names every such file as read)."""
    io = _io(out_dir, io)
    cur_snap = log_snapshot(out_dir, io)
    old_snap = log_snapshot(out_dir, io, as_of=version)
    if cur_snap is None or old_snap is None:
        raise ValueError("restore_table requires a committed table (no _log found)")
    cur, old = cur_snap.files, old_snap.files
    dv_target = old_snap.dvs
    dv_changed = cur_snap.dvs != dv_target
    re_add = sorted(set(old) - set(cur))
    remove = sorted(set(cur) - set(old))
    data_dir = io.join("data")
    gone = [f for f in re_add
            if not io.exists(posixpath.join(data_dir, f))]
    if gone:
        raise ValueError(
            f"cannot restore to version {version}: {len(gone)} file(s) already "
            f"vacuumed (e.g. {gone[0]!r})"
        )
    dv_gone = [a["dvFile"] for a in dv_target
               if not io.exists(io.join("_dv/" + a["dvFile"]))]
    if dv_gone:
        raise ValueError(
            f"cannot restore to version {version}: deletion-vector file(s) "
            f"already vacuumed (e.g. {dv_gone[0]!r})"
        )
    if not re_add and not remove and not dv_changed:
        return {"restored_to": version, "files_readded": 0,
                "files_removed": 0, "log": None}
    spec = read_table_spec(out_dir, io)
    log = append_log_entry(
        out_dir,
        log_header(spec)
        + [{"add": dict(old_snap.adds[f], dataChange=True)} for f in re_add]
        + [{"remove": {"path": f, "dataChange": True}} for f in remove]
        + ([{"dvRestore": {"asOf": version, "keep": dv_target}}]
           if dv_changed else []),
        io, reads=cur,
    )
    return {"restored_to": version, "files_readded": len(re_add),
            "files_removed": len(remove), "log": log}


def clone_table(src_dir: str, dst_dir: str, as_of: int | None = None,
                src_io: FsIO | None = None,
                dst_io: FsIO | None = None) -> dict:
    """DEEP CLONE: physically copy the live data files of ``src_dir`` (at
    ``as_of``, default latest) plus the schema sidecar into a fresh table
    dir and commit them as the clone's version 0 — the snapshot/export/
    backup primitive (Delta ``CREATE TABLE ... DEEP CLONE``). The clone's
    history is independent: mutations, compaction and vacuum on either side
    never touch the other. File bytes stream through FsIO (works across
    filesystems); sizes/hashes are carried from the source's add records —
    commit never re-reads what it just wrote."""
    src_io = _io(src_dir, src_io)
    dst_io = _io(dst_dir, dst_io)
    snap = log_snapshot(src_dir, src_io, as_of=as_of)
    if snap is None:
        raise ValueError("clone_table requires a committed source (no _log found)")
    if log_snapshot(dst_dir, dst_io) is not None:
        raise ValueError(f"clone destination {dst_dir!r} already has a table")
    live = snap.files
    spec = read_table_spec(src_dir, src_io)
    dst_io.makedirs(dst_io.join("data"))
    tag = uuid.uuid4().hex[:8]
    dst_io.publish_bytes(dst_io.join("_schema.json"),
                         spec.to_json().encode(), attempt_tag=tag)
    src_data, dst_data = src_io.join("data"), dst_io.join("data")
    for f in live:
        data = src_io.open_input_file(posixpath.join(src_data, f)).read()
        dst_io.publish_bytes(posixpath.join(dst_data, f), data, attempt_tag=tag)
    # deletion-vector state travels with the clone: copy the live dv files
    # and re-commit their actions in the clone's version 0
    dv_actions = snap.dvs
    if dv_actions:
        dst_io.makedirs(dst_io.join("_dv"))
        for a in dv_actions:
            dst_io.publish_bytes(
                posixpath.join(dst_io.join("_dv"), a["dvFile"]),
                src_io.read_text(
                    posixpath.join(src_io.join("_dv"), a["dvFile"])).encode(),
                attempt_tag=tag,
            )
    log = append_log_entry(
        dst_dir,
        log_header(spec)
        + [{"add": dict(snap.adds[f], dataChange=True)} for f in live]
        + [{"dv": {"dvFile": a["dvFile"], "cardinality": a["cardinality"]}}
           for a in dv_actions],
        dst_io,
    )
    return {"files_cloned": len(live), "log": log}
