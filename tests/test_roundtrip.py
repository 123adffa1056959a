"""Round-trip + size-regression + resume tests (SURVEY.md §5 items 2, 3, 5).

The north-rule invariant: decode(encode(table)) is bit-identical per row on
``tokens`` (and doc_id/source), at compressed size ≤ the reference encoder
stand-in (plain Parquet+Snappy of the same table, cf. the reference's single
static codec at ``/root/reference/.../Parquet.fs:1374``).
"""

import glob
import os

import pytest

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import (
    decode_tokens,
    verify_roundtrip,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    completed_parts,
    encode_tokens,
    read_manifest,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import (
    scan_tokens,
    synthesize_tokens,
)

N_ROWS = 3_000


@pytest.fixture(scope="module")
def token_df(spark):
    return synthesize_tokens(spark, N_ROWS, seed=42)


@pytest.fixture(scope="module")
def encoded(spark, token_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    manifest = encode_tokens(token_df, out, n_parts=16)
    return out, manifest


def test_synth_deterministic_and_invariant(spark, token_df):
    # partition-invariance: different parallelism, same bits
    import pyspark.sql.functions as F

    a = synthesize_tokens(spark, 500, seed=42, parallelism=2)
    b = synthesize_tokens(spark, 500, seed=42, parallelism=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    bad = token_df.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_roundtrip_bit_identical(spark, token_df, encoded):
    out, _ = encoded
    decoded = decode_tokens(spark, out)
    assert decoded.count() == N_ROWS
    assert verify_roundtrip(token_df, decoded).count() == 0


def test_size_regression_vs_parquet_snappy(spark, token_df, encoded, tmp_path):
    out, manifest = encoded
    base = str(tmp_path / "snappy_baseline")
    token_df.write.mode("overwrite").parquet(base)
    snappy_bytes = sum(os.path.getsize(f) for f in glob.glob(base + "/*.parquet"))
    ours = sum(os.path.getsize(f) for f in glob.glob(out + "/data/*.parquet"))
    assert ours <= snappy_bytes, f"{ours} > {snappy_bytes}"


def test_manifest_consistency(spark, token_df, encoded):
    import pyspark.sql.functions as F

    out, manifest = encoded
    m = read_manifest(spark, out)
    agg = m.agg(
        F.sum("n_rows").alias("rows"),
        F.sum("n_values").alias("vals"),
        F.countDistinct("chunk_id").alias("chunks"),
        F.count("*").alias("cnt"),
    ).first()
    assert agg["rows"] == N_ROWS
    assert agg["vals"] == token_df.selectExpr("sum(n_tok)").first()[0]
    assert agg["chunks"] == agg["cnt"]  # chunk ids unique
    # row ranges per part are contiguous, non-overlapping
    per_part = (
        m.groupBy("part_id")
        .agg(F.sum("n_rows").alias("s"), F.max("row_hi").alias("hi"), F.min("row_lo").alias("lo"))
        .filter((F.col("s") != F.col("hi")) | (F.col("lo") != 0))
        .count()
    )
    assert per_part == 0


def test_resume_after_injected_failure(spark, token_df, tmp_path):
    """A29 analog: kill mid-job, rerun, no duplicate or missing chunks."""
    out = str(tmp_path / "resume")
    with pytest.raises(Exception):
        encode_tokens(token_df, out, n_parts=8, fail_parts={5, 6})
    done_first = completed_parts(out)
    assert 0 < len(done_first) < 8
    # resume without failure injection: only remaining parts encode
    manifest = encode_tokens(token_df, out, n_parts=8)
    assert sorted(completed_parts(out)) == list(range(8))
    decoded = decode_tokens(spark, out)
    assert decoded.count() == N_ROWS
    assert verify_roundtrip(token_df, decoded).count() == 0
    # no duplicates
    assert decoded.select("doc_id").distinct().count() == N_ROWS


def test_scan_tokens_validates_schema(spark, tmp_path):
    good = str(tmp_path / "good")
    synthesize_tokens(spark, 50).write.parquet(good)
    assert scan_tokens(spark, good).count() == 50
    bad = str(tmp_path / "bad")
    spark.range(10).write.parquet(bad)
    with pytest.raises(ValueError):
        scan_tokens(spark, bad)


def test_commit_log_protocol(spark, token_df, encoded):
    """A28/A29 analog: numbered JSONL log lists every data file exactly once,
    append-only across resumed runs, optimistic index collision-safe."""
    import json
    from datetime import date

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        read_commit_log,
        write_commit_log,
    )

    out, _ = encoded
    entries = read_commit_log(out)
    kinds = [next(iter(e)) for e in entries]
    assert kinds.count("protocol") == 1 and kinds.count("metaData") == 1
    adds = [e["add"] for e in entries if "add" in e]
    files = sorted(f for f in os.listdir(os.path.join(out, "data")) if f.endswith(".parquet"))
    assert sorted(a["path"] for a in adds) == files
    for a in adds:
        assert a["size"] == os.path.getsize(os.path.join(out, "data", a["path"]))
        assert len(a["sha256"]) == 64
        assert a["partitionValues"]["pds"] == "2026-01-01"
    # idempotent: nothing new to commit -> no new log file
    assert write_commit_log(out, date(2026, 1, 1)) is None
    assert read_commit_log(out) == entries


def test_encode_refuses_n_tok_that_is_not_the_token_count(spark, token_df, tmp_path):
    """``n_tok`` is not stored (decode derives it from ``tokens``), so
    encode fails on a row whose ``n_tok`` disagrees, and commits nothing."""
    import pyspark.sql.functions as F

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        log_versions,
    )

    out = str(tmp_path / "bad_n_tok")
    one = token_df.orderBy("doc_id").first()["doc_id"]
    bad = token_df.withColumn(
        "n_tok", F.when(F.col("doc_id") == one, F.col("n_tok") + 1)
        .otherwise(F.col("n_tok")))
    with pytest.raises(Exception, match=f"n_tok invariant violated at doc_id={one}"):
        encode_tokens(bad, out, n_parts=4)
    assert log_versions(out) == []
    assert completed_parts(out) == []


def test_store_without_sidecar_is_refused(spark, tmp_path):
    """A directory holding only a commit log (e.g. a token store written
    before token stores were table stores) has no ``_schema.json``: every
    reader refuses it and says to re-encode."""
    import json

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        decode_table,
    )

    out = tmp_path / "no_sidecar"
    (out / "_log").mkdir(parents=True)
    (out / "_log" / f"{0:020d}.json").write_text(
        json.dumps({"protocol": {"minReaderVersion": 1}}) + "\n")
    for read in (decode_tokens, decode_table, read_manifest):
        with pytest.raises(ValueError, match="_schema.json.*re-encode"):
            read(spark, str(out))
