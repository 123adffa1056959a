"""Concurrent committers: two encode runs racing into ONE table dir must
both land (optimistic index retry on the exclusive-create commit log —
A29's upload-with-overwrite=false contract under a real race, not just the
injected-collision adapter test); a losing Iceberg commit must leave the
winner's snapshot files untouched."""

import threading

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    log_versions,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
    append_iceberg,
    current_metadata,
    delete_iceberg_rows,
    read_iceberg,
    write_iceberg,
)


def test_two_racing_appends_both_commit(spark, tmp_path):
    out = str(tmp_path / "tbl")
    lo = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    hi = spark.range(4000, 8000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # seed the dir (schema sidecar) so the racers contend only on the log
    encode_table(lo.limit(0), out, key_cols=["k"], n_parts=1, run="seed")

    errs: list[Exception] = []

    def run(df, run_id):
        try:
            encode_table(df, out, key_cols=["k"], n_parts=4,
                         chunk_rows=512, run=run_id)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=run, args=(lo, "ra"))
    t2 = threading.Thread(target=run, args=(hi, "rb"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    # every row from both racers is present exactly once
    dec = decode_table(spark, out)
    assert dec.count() == 8000
    assert dec.select(F.count_distinct("k")).collect()[0][0] == 8000
    assert dec.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(8000))
    # exactly-once adds: every published file appears in the log ONCE.
    # (One entry total is legal — the marker-gated commit of whichever racer
    # reaches the log first sweeps up every completed, uncommitted file, and
    # the loser then finds nothing new to add.)
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        read_commit_log,
    )

    adds = [e["add"]["path"] for e in read_commit_log(out) if "add" in e]
    assert len(adds) == len(set(adds)) == 8  # 4 parts per racer, no double-add
    assert len(log_versions(out)) >= 1


class _RaceAt(FsIO):
    """Local FsIO that runs ``race()`` once, just before its first call of
    the method named ``at`` (``publish_bytes``: the commit's first manifest
    write; ``create_exclusive``: its metadata-version claim)."""

    def __init__(self, base, at, race):
        inner = FsIO.resolve(base)
        super().__init__(inner.fs, inner.base)
        self._at, self._race = at, race

    def _maybe_race(self, name):
        if name == self._at and self._race is not None:
            race, self._race = self._race, None
            race()

    def publish_bytes(self, path, data, attempt_tag):
        self._maybe_race("publish_bytes")
        return super().publish_bytes(path, data, attempt_tag)

    def create_exclusive(self, path, data):
        self._maybe_race("create_exclusive")
        return super().create_exclusive(path, data)


@pytest.mark.parametrize("race_at", ["publish_bytes", "create_exclusive"])
def test_losing_iceberg_delete_leaves_winning_append_intact(spark, tmp_path,
                                                            race_at):
    """An append commits while a delete is between reading the table state
    and claiming its metadata version. The delete must fail its claim, and
    none of its manifest files may overwrite the append's: the winning
    snapshot reads back every row, the appended ones included, with nothing
    deleted."""
    d = str(tmp_path / "ice")
    write_iceberg(spark.range(0, 100).select(F.col("id").alias("k")), d)
    won = {}

    def race():
        won.update(append_iceberg(
            spark.range(100, 150).select(F.col("id").alias("k")), d))

    with pytest.raises(RuntimeError, match="concurrent Iceberg commit"):
        delete_iceberg_rows(spark, d, F.col("k") < 10, io=_RaceAt(d, race_at, race))
    assert current_metadata(d)["current-snapshot-id"] == won["snapshot_id"]
    for snap in (None, won["snapshot_id"]):
        got = read_iceberg(spark, d, snapshot_id=snap)
        assert sorted(r.k for r in got.collect()) == list(range(150))
