"""Commit-log checkpointing (round 5): `checkpoint_log` collapses the log
tail into one parquet snapshot the way Delta's 10-commit checkpoints do
(DeltaLake checkpoint contract), so reader planning is O(commits since
checkpoint) instead of O(log). Covers: read equivalence before/after, time
travel on both sides of the checkpoint, append-after-checkpoint, txn
idempotence lookup through the checkpoint, clean=True retention semantics,
and the pre-checkpoint time-travel guard after cleaning."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    checkpoint_log,
    committed_files,
    log_versions,
    read_log_checkpoint,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
)


@pytest.fixture()
def out_dir():
    out = tempfile.mkdtemp(prefix="log_ckpt_")
    shutil.rmtree(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _append(spark, out_dir, lo, hi, run):
    df = spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 5).alias("grp"))
    encode_table(df, out_dir, key_cols=["id"], n_parts=2, run=run)


def test_checkpoint_read_equivalence_and_tail_replay(spark, out_dir):
    for i in range(4):
        _append(spark, out_dir, i * 100, (i + 1) * 100, run=f"r{i}")
    before = committed_files(out_dir)
    info = checkpoint_log(out_dir)
    assert info["version"] == log_versions(out_dir)[-1]
    assert committed_files(out_dir) == before  # pure accelerator
    v_ckpt = info["version"]
    # appends after the checkpoint replay as tail on top of it
    _append(spark, out_dir, 400, 450, run="r4")
    got = decode_table(spark, out_dir)
    assert got.count() == 450
    assert set(committed_files(out_dir)) > set(before)
    # time travel: at the checkpoint version and before it
    assert committed_files(out_dir, as_of=v_ckpt) == before
    early = committed_files(out_dir, as_of=log_versions(out_dir)[0])
    assert 0 < len(early) < len(before)
    # the snapshot itself holds the collapsed state
    v, entries = read_log_checkpoint(out_dir)
    assert v == v_ckpt
    assert {e["add"]["path"] for e in entries if "add" in e} == set(before)


def test_checkpoint_after_compaction_keeps_only_live(spark, out_dir):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        compact_table,
    )

    for i in range(3):
        _append(spark, out_dir, i * 100, (i + 1) * 100, run=f"r{i}")
    compact_table(out_dir)
    live = committed_files(out_dir)
    info = checkpoint_log(out_dir)
    _, entries = read_log_checkpoint(out_dir)
    adds = [e for e in entries if "add" in e]
    assert {e["add"]["path"] for e in adds} == set(live)
    assert info["entries"] >= len(adds)
    assert decode_table(spark, out_dir).count() == 300


def test_clean_retention_and_time_travel_guard(spark, out_dir):
    for i in range(3):
        _append(spark, out_dir, i * 10, (i + 1) * 10, run=f"r{i}")
    v0 = log_versions(out_dir)[0]
    info = checkpoint_log(out_dir, clean=True)
    assert info["cleaned_json_files"] == 3
    assert log_versions(out_dir) == []  # json gone, checkpoint governs
    assert decode_table(spark, out_dir).count() == 30
    # current reads fine; pre-checkpoint time travel must fail loudly
    with pytest.raises(ValueError, match="predates log checkpoint"):
        committed_files(out_dir, as_of=v0)
    # and the table keeps working for appends + reads after cleaning
    _append(spark, out_dir, 30, 40, run="r3")
    assert decode_table(spark, out_dir).count() == 40


def test_txn_lookup_survives_clean_checkpoint(spark, out_dir, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        _last_txn_version, register_table_datasource, stream_encoded_table,
        stream_write_encoded_table,
    )

    register_table_datasource(spark)
    src = str(tmp_path / "src")
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") % 3).alias("g"))
    (df.write.format("pandora_table").option("key_cols", "id")
       .mode("overwrite").save(src))
    ckpt = str(tmp_path / "ckpt")
    q = stream_write_encoded_table(
        stream_encoded_table(spark, src), out_dir, ckpt, key_cols=["id"],
        app_id="ckpt-app",
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    last = _last_txn_version(out_dir, "ckpt-app")
    assert last is not None
    checkpoint_log(out_dir, clean=True)
    # the collapsed txn line still gates epoch replay
    assert _last_txn_version(out_dir, "ckpt-app") == last


def test_second_checkpoint_after_clean_keeps_checkpointed_files(tmp_path):
    """A checkpoint taken after ``clean=True`` deleted the covered json
    files replays from the earlier checkpoint, so the files it holds stay
    live (a json-only replay would collapse the table to the tail)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        append_log_entry,
    )

    out = str(tmp_path / "t")
    append_log_entry(out, [{"add": {"path": "a.parquet"}},
                           {"add": {"path": "b.parquet"}}])
    checkpoint_log(out, clean=True)
    append_log_entry(out, [{"add": {"path": "c.parquet"}}])
    checkpoint_log(out)
    assert committed_files(out) == ["a.parquet", "b.parquet", "c.parquet"]


def test_reads_reaching_behind_a_clean_checkpoint_raise_after_a_kept_one(tmp_path):
    """a@0, a clean checkpoint at 0, c@1, d@2, a kept checkpoint at 2: the
    json file of version 0 is gone, so time travel to version 1 and a raw
    range starting at or before 0 are incomplete and raise, even though
    json files at or below the latest checkpoint's version remain."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        CleanedLogError,
        append_log_entry,
        log_entries,
    )

    out = str(tmp_path / "t")
    append_log_entry(out, [{"add": {"path": "a.parquet"}}])
    checkpoint_log(out, clean=True)
    append_log_entry(out, [{"add": {"path": "c.parquet"}}])
    append_log_entry(out, [{"add": {"path": "d.parquet"}}])
    checkpoint_log(out)
    assert committed_files(out) == ["a.parquet", "c.parquet", "d.parquet"]
    assert committed_files(out, as_of=2) == ["a.parquet", "c.parquet", "d.parquet"]
    with pytest.raises(CleanedLogError):
        committed_files(out, as_of=1)
    with pytest.raises(CleanedLogError):
        list(log_entries(out, after=-1, upto=1))
    assert [i for i, _ in log_entries(out, after=0)] == [1, 2]
