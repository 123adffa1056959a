"""Golden-output tests — the direct analog of the reference's markdown golden
suite (``Unit.Tests/Tests/Tables/EqualsMarkdownTests.fs`` diffing
``test/tab/*.md``): deterministic fixtures rendered to markdown and compared
byte-for-byte against checked-in goldens, regenerable with
``python -m tests.test_goldens`` (run as a module).

Covered: the token store's chunk physical schema, and the codec-choice table for
the seeded fixture (the auto-selection provenance — the engine's analog of
the reference's Transformation tags).
"""

import os

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


if __name__ == "__main__":
    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark

    os.makedirs(GOLDEN_DIR, exist_ok=True)
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
