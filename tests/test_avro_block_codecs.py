"""Snappy and zstandard Object Container File blocks: both the row decoder
(`read_avro_container`) and the columnar one (`decode_container_columnar`)
read containers whose blocks were compressed by hand here, and a snappy
block whose trailing CRC32 does not match its data is refused."""

import io
import json
import zlib

import pyarrow as pa
import pytest

from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_binary import (
    MAGIC,
    _Codec,
    _write_bytes,
    _write_varint,
    read_avro_container,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_columnar import (
    decode_container_columnar,
)

SCHEMA = {"type": "record", "name": "D", "fields": [
    {"name": "doc_id", "type": "long"},
    {"name": "lang", "type": ["null", "string"]},
    {"name": "words", "type": {"type": "array", "items": "string"}},
]}
RECS = [{"doc_id": i, "lang": None if i % 4 == 0 else "en",
         "words": [f"w{j}" for j in range(i % 5)]} for i in range(300)]
SYNC = bytes(range(100, 116))


def _snappy(raw: bytes) -> bytes:
    return (pa.Codec("snappy").compress(raw, asbytes=True)
            + zlib.crc32(raw).to_bytes(4, "big"))


def _zstd(raw: bytes) -> bytes:
    # a streamed frame, as Avro's Java writer emits: no content size in the
    # frame header, so the reader cannot ask for the size up front
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as s:
        s.write(raw)
    return sink.getvalue().to_pybytes()


def _container(codec: str, compress, blocks) -> bytes:
    """An OCF with ``blocks`` (lists of records), each block's serialized
    records passed through ``compress``."""
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(SCHEMA), "avro.codec": codec}
    _write_varint(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v.encode())
    _write_varint(out, 0)
    out.write(SYNC)
    wr = _Codec().writer(SCHEMA)
    for recs in blocks:
        body = io.BytesIO()
        for r in recs:
            wr(body, r)
        payload = compress(body.getvalue())
        _write_varint(out, len(recs))
        _write_varint(out, len(payload))
        out.write(payload)
        out.write(SYNC)
    return out.getvalue()


@pytest.mark.parametrize("codec,compress", [("snappy", _snappy),
                                            ("zstandard", _zstd)])
def test_compressed_blocks_decode(codec, compress):
    data = _container(codec, compress, [RECS[:100], RECS[100:250], RECS[250:]])
    schema, recs = read_avro_container(data)
    assert schema == SCHEMA and recs == RECS

    _, batches = decode_container_columnar(data)
    tbl = pa.Table.from_batches(list(batches))
    assert tbl.to_pylist() == RECS


def test_snappy_crc_mismatch_is_refused():
    def bad_crc(raw):
        good = _snappy(raw)
        return good[:-4] + (int.from_bytes(good[-4:], "big") ^ 1).to_bytes(4, "big")

    data = _container("snappy", bad_crc, [RECS[:50]])
    with pytest.raises(ValueError, match="CRC32"):
        read_avro_container(data)
    with pytest.raises(ValueError, match="CRC32"):
        list(decode_container_columnar(data)[1])


def test_truncated_snappy_block_is_refused():
    data = _container("snappy", lambda raw: _snappy(raw)[:3], [RECS[:50]])
    with pytest.raises(ValueError):
        read_avro_container(data)


def test_unknown_codec_is_refused():
    data = _container("lzma", lambda raw: raw, [RECS[:5]])
    with pytest.raises(ValueError, match="unsupported avro codec"):
        read_avro_container(data)
