"""Golden-output tests — the direct analog of the reference's markdown golden
suite (``Unit.Tests/Tests/Tables/EqualsMarkdownTests.fs`` diffing
``test/tab/*.md``): deterministic fixtures rendered to markdown and compared
byte-for-byte against checked-in goldens, regenerable with
``python -m tests.test_goldens`` (run as a module).

Covered: the token store's chunk physical schema, the codec-choice table for
the seeded fixture (the auto-selection provenance — the engine's analog of
the reference's Transformation tags), and the payload bytes of every
numeric codec, selector and string selector on seeded streams.
"""

import hashlib
import json
import os

import numpy as np
import pytest

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def manifest_schema_md() -> str:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import TOKEN_KEY
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        TableSpec,
        chunk_schema_for,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.schema import TOKENS_SCHEMA
    from pyspark.sql import types as T

    lanes = T.StructType([f for f in TOKENS_SCHEMA.fields if f.name != "n_tok"])
    chunks = chunk_schema_for(TableSpec(schema=lanes, key_cols=TOKEN_KEY))
    lines = ["# token store chunk table physical schema", "",
             "| column | type | nullable | payload |", "|---|---|---|---|"]
    for f in chunks.fields:
        payload = f.name.endswith(("__payload", "__valid"))
        lines.append(
            f"| {f.name} | {f.dataType.simpleString()} | {str(f.nullable).lower()} "
            f"| {str(payload).lower()} |"
        )
    return "\n".join(lines) + "\n"


def codec_choices_md(spark) -> str:
    """Codec-choice histogram for the seeded 3000-row fixture at 8 parts."""
    import tempfile

    from pyspark.sql import functions as F

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import encode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        read_table_chunks,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    out = tempfile.mkdtemp(prefix="golden_enc_")
    df = synthesize_tokens(spark, 3000, seed=42)
    encode_tokens(df, out, n_parts=8)
    chunks = read_table_chunks(spark, out)
    lines = ["# codec choices — seeded fixture (3000 rows, seed 42, 8 parts)", ""]
    for col in ("doc_id", "tokens", "source"):
        lines += [f"## {col}", "", "| codec | n_chunks |", "|---|---|"]
        rows = (
            chunks.groupBy(f"{col}__codec")
            .agg(F.count("*").alias("n"))
            .orderBy(f"{col}__codec")
            .collect()
        )
        for r in rows:
            lines.append(f"| {r[f'{col}__codec']} | {r['n']} |")
        lines.append("")
    return "\n".join(lines) + "\n"


def test_manifest_schema_golden():
    with open(os.path.join(GOLDEN_DIR, "manifest_schema.md")) as fh:
        assert manifest_schema_md() == fh.read()


def test_codec_choices_golden(spark):
    with open(os.path.join(GOLDEN_DIR, "codec_choices.md")) as fh:
        assert codec_choices_md(spark) == fh.read()


def test_manifest_scan_prunes_payloads(spark, tmp_path):
    """The manifest read must never touch payload bytes: the parquet ReadSchema
    of the pruned scan excludes every *_payload column (Catalyst column
    pruning doing what the reference gets from separate control files)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        encode_tokens,
        read_manifest,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    out = str(tmp_path / "enc")
    encode_tokens(synthesize_tokens(spark, 300, seed=1), out, n_parts=2)
    plan = read_manifest(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert "_payload" not in plan, "payload columns leaked into the manifest scan"


# --------------------------------------------------------- codec payloads

_DTYPES = ("int32", "int64", "float32", "float64")
_SMALL = [3, -1, 7, 7, 7, 1 << 20, 0, 5]
_SMALL_LENGTHS = [3, 0, 5]
_SMALL_STRS = ["ab", "", "abab", "é", "ab"]


def _sha(buf) -> str | None:
    return None if buf is None else hashlib.sha256(buf).hexdigest()


def _typed_family(C, dtype: str) -> list[int]:
    """The codecs ``encode_typed`` takes for a lane dtype."""
    fam = list(C.INT_CODECS)
    if dtype in ("int64", "float64"):
        fam.append(C.GCD)
    if dtype.startswith("float"):
        fam.append(C.ALP)
    return fam


def payload_cases() -> dict:
    """(dtype, case) -> array: the ``INT_CASES`` shapes cast to every lane
    dtype, plus full-width 64-bit streams as int64 and as float64 bits."""
    from codec_cases import INT_CASES

    rng = np.random.default_rng(13)
    wide = {
        "wide64": rng.integers(-(2**63), 2**63 - 1, 2000, dtype=np.int64, endpoint=True),
        "stride64": rng.integers(18000, 20500, 2000) * 86_400_000_000,
        "extremes64": np.array([-(2**63), 2**63 - 1, 0, -1], np.int64),
    }
    cases = {(dt, name): a.astype(dt) for dt in _DTYPES for name, a in INT_CASES.items()}
    for name, a in wide.items():
        cases[("int64", name)] = a
        cases[("float64", name)] = a.view(np.float64)
    return cases


def _row_lengths(rng, n: int) -> np.ndarray:
    cuts = np.sort(rng.integers(0, n + 1, n // 100))
    return np.diff(np.concatenate(([0], cuts, [n]))).astype(np.int64)


def _grouped_cases() -> dict:
    """name -> (values, lengths): each int32 case cut into seeded rows, plus
    a stream of statistically mixed rows (the GROUPED cascade's case)."""
    from codec_cases import INT_CASES

    rng = np.random.default_rng(7)
    out = {name: (a, _row_lengths(rng, len(a))) for name, a in INT_CASES.items()}
    rows = []
    for i in range(400):
        n = int(rng.integers(0, 300))
        rows.append([np.full(n, 9), rng.integers(0, 256, n),
                     50_000 + rng.integers(0, 500, n), rng.integers(0, 32_000, n),
                     rng.integers(-(2**31), 2**31 - 1, n)][i % 5].astype(np.int32))
    out["mixed"] = (np.concatenate(rows), np.array([len(r) for r in rows], np.int64))
    return out


def codec_payloads() -> dict:
    """sha256 of every numeric payload ``encode_typed`` writes per dtype x
    case x codec (None where inapplicable), of what the selectors write on
    the same cases, and a few small payloads as hex with their inputs."""
    from codec_cases import STR_CASES

    from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C
    from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import (
        encode_values,
        select_str_codec,
        select_typed_codec,
    )

    cases = payload_cases()
    typed, selected = {}, {}
    for (dt, name), a in cases.items():
        for codec in _typed_family(C, dt):
            typed[f"{dt}/{name}/{C.CODEC_NAMES[codec]}"] = _sha(C.encode_typed(a, codec))
        selected[f"{dt}/{name}"] = _sha(select_typed_codec(a))
    grouped = {name: _sha(encode_values(v, l)) for name, (v, l) in _grouped_cases().items()}
    strs = {name: list(v) for name, v in STR_CASES.items()}
    strs.update({f"digits/{name}": a.astype(str).tolist()
                 for (dt, name), a in cases.items() if dt == "int32"})
    str_sel = {name: _sha(select_str_codec(*C.strings_to_blob(np.array(v, dtype=object))))
               for name, v in strs.items()}
    hexes = {}
    for dt in _DTYPES:
        for codec in _typed_family(C, dt):
            buf = C.encode_typed(np.array(_SMALL, dt), codec)
            hexes[f"{dt}/small/{C.CODEC_NAMES[codec]}"] = None if buf is None else buf.hex()
    hexes["grouped"] = C.encode_int32_grouped(np.array(_SMALL, np.int32),
                                              np.array(_SMALL_LENGTHS, np.int64)).hex()
    for codec in C.STR_CODECS:
        blob = C.strings_to_blob(np.array(_SMALL_STRS, dtype=object))
        hexes[f"strings/{C.CODEC_NAMES[codec]}"] = C.encode_strings(*blob, codec).hex()
    return {"encode_typed": typed, "select_typed_codec": selected,
            "encode_values": grouped, "select_str_codec": str_sel, "hex": hexes,
            "hex_inputs": {"typed": _SMALL, "grouped_lengths": _SMALL_LENGTHS,
                           "strings": _SMALL_STRS}}


def _delta_overflows_32(a: np.ndarray) -> bool:
    """A 32-bit lane whose consecutive diffs leave int32 (DELTA wraps them)."""
    if a.itemsize != 4 or len(a) < 2:
        return False
    d = np.diff(a.view(np.int32).astype(np.int64))
    return d.max() > 2**31 - 1 or d.min() < -(2**31)


def test_codec_payloads_golden():
    """Every numeric payload is byte-identical to the pinned one. The one
    allowed difference: DELTA on a 32-bit lane whose diffs overflow int32
    was inapplicable (None) and now wraps mod 2^32 and must round-trip."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C

    with open(os.path.join(GOLDEN_DIR, "codec_payloads.json")) as fh:
        want = json.load(fh)
    got = codec_payloads()
    cases = payload_cases()
    cases.update({(dt, "small"): np.array(_SMALL, dt) for dt in _DTYPES})
    for section in ("encode_typed", "hex"):
        for key, pinned in want[section].items():
            if pinned is None and got[section][key] is not None:
                dt, name, codec = key.split("/")
                a = cases[(dt, name)]
                assert codec == "delta" and _delta_overflows_32(a), key
                out = C.decode_typed(C.encode_typed(a, C.DELTA))
                assert out.dtype == a.dtype
                assert np.array_equal(out.view(np.int32), a.view(np.int32)), key
                got[section][key] = None
    for section in want:
        assert got[section] == want[section], section
    inputs = want["hex_inputs"]
    for key, payload in want["hex"].items():
        if payload is None:
            continue
        buf = bytes.fromhex(payload)
        if key.startswith("strings/"):
            strs = C.blob_to_strings(*C.decode_strings(buf)).to_pylist()
            assert strs == inputs["strings"], key
        elif key == "grouped":
            lengths = np.array(inputs["grouped_lengths"], np.int64)
            assert C.decode_int32_grouped(buf, lengths).tolist() == inputs["typed"]
        else:
            out = C.decode_typed(buf)
            assert out.dtype == key.split("/")[0] and out.tolist() == inputs["typed"], key


def write_codec_payloads() -> None:
    with open(os.path.join(GOLDEN_DIR, "codec_payloads.json"), "w") as fh:
        json.dump(codec_payloads(), fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    import sys

    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(__file__))  # codec_cases, as under pytest
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    write_codec_payloads()
    spark = get_spark(app="regen-goldens", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    with open(os.path.join(GOLDEN_DIR, "manifest_schema.md"), "w") as fh:
        fh.write(manifest_schema_md())
    with open(os.path.join(GOLDEN_DIR, "codec_choices.md"), "w") as fh:
        fh.write(codec_choices_md(spark))
    print("goldens regenerated under", GOLDEN_DIR)


def test_decode_plan_is_shuffle_free(spark, tmp_path):
    """Decode must be a straight scan -> mapInArrow pipeline: no Exchange in
    the executed plan (chunks are self-describing, so no repartitioning is
    ever needed to reassemble them)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import decode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import encode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    out = str(tmp_path / "enc")
    encode_tokens(synthesize_tokens(spark, 200, seed=3), out, n_parts=2)
    plan = decode_tokens(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"decode plan shuffles:\n{plan}"
