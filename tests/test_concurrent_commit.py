"""Concurrent committers: two encode runs racing into ONE table dir must
both land (optimistic index retry on the exclusive-create commit log —
A29's upload-with-overwrite=false contract under a real race, not just the
injected-collision adapter test); a losing Iceberg commit must leave the
winner's snapshot files untouched.

Store fault matrix: a racer that rewrites a file commits just before a
store commit claims its log index (``_RaceAt(at="create_exclusive")``).
Pure appends both land; every commit path that removes the rewritten file,
or attaches deletion-vector positions to it, raises, and committed reads
show exactly the winner's state. A DV delete racing a rewrite of its file
makes the rewrite raise too."""

import threading

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    log_versions,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    compact_table,
    decode_table,
    delete_where,
    dv_delete_where,
    dv_update_where,
    encode_table,
    merge_table,
    restore_table,
    update_where,
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

    def __reduce__(self):
        # executors (the encode kernel's closure) get the plain store io
        return FsIO, (self.fs, self.base, self.atomic_rename)


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


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("v"))


def _two_file_store(spark, out):
    """Keys 0..199 in one file (run ``a``, log version 0), 200..399 in
    another (run ``b``)."""
    for run, lo in (("a", 0), ("b", 200)):
        encode_table(_kv(spark, lo, lo + 200), out, key_cols=["k"], n_parts=1,
                     run=run)


def _rows(spark, out):
    return sorted(tuple(r) for r in decode_table(spark, out).select("k", "v")
                  .collect())


def _without(*keys, hi=400):
    return [(k, 2 * k) for k in range(hi) if k not in keys]


_LOSERS = {
    "encode_table": lambda spark, out, io: encode_table(
        _kv(spark, 400, 450), out, key_cols=["k"], n_parts=1, run="c", io=io),
    "compact_table": lambda spark, out, io: compact_table(out, io=io),
    "delete_where": lambda spark, out, io: delete_where(
        spark, out, F.col("k") == 7, io=io),
    "update_where": lambda spark, out, io: update_where(
        spark, out, F.col("k") == 7, {"v": F.lit(-1)}, io=io),
    "merge_upsert": lambda spark, out, io: merge_table(
        spark, out, _kv(spark, 7, 8).withColumn("v", F.lit(-1).cast("long")),
        io=io),
    "merge_clauses": lambda spark, out, io: merge_table(
        spark, out, _kv(spark, 7, 8), io=io, when_matched_delete=True),
    "dv_delete_where": lambda spark, out, io: dv_delete_where(
        spark, out, F.col("k") == 7, io=io),
    "dv_update_where": lambda spark, out, io: dv_update_where(
        spark, out, F.col("k") == 7, {"v": F.lit(-1)}, io=io),
    "restore_table": lambda spark, out, io: restore_table(out, 0, io=io),
}


@pytest.mark.parametrize("path", sorted(_LOSERS))
def test_store_commit_path_under_a_racing_rewrite(spark, tmp_path, path):
    """A copy-on-write delete of k == 5 rewrites the first file and commits
    just before ``path`` claims its log index. Without the live-file check
    a CoW delete of another key in that file (or a compaction) landed too
    and resurrected the rewritten file's rows next to their rewrite, and a
    deletion vector pointed into chunk ids that no longer exist, so its
    delete was silently lost. Each now raises and reads show the winner's
    state; an append reads no file and lands next to the winner."""
    out = str(tmp_path / "tbl")
    _two_file_store(spark, out)
    io = _RaceAt(out, "create_exclusive",
                 lambda: delete_where(spark, out, F.col("k") == 5))
    if path == "encode_table":
        # a pure append reads no file: both commits land, no row twice
        _LOSERS[path](spark, out, io)
        assert _rows(spark, out) == _without(5, hi=450)
        return
    with pytest.raises(ValueError, match="commit conflict"):
        _LOSERS[path](spark, out, io)
    assert _rows(spark, out) == _without(5)


@pytest.mark.parametrize("path", ["compact_table", "delete_where",
                                  "update_where", "merge_upsert",
                                  "merge_clauses", "dv_update_where"])
def test_commit_path_under_a_racing_deletion_vector(spark, tmp_path, path):
    """A DV delete of k == 5 commits just before ``path`` claims its log
    index. A rewrite decoded its rows before that delete and mints new
    chunk ids, so landing it would bring k == 5 back (a DV update would
    re-add the rows it replaced): it raises. Compaction moves chunks with
    their ids, so the vector still applies and both land."""
    out = str(tmp_path / "tbl")
    _two_file_store(spark, out)
    io = _RaceAt(out, "create_exclusive",
                 lambda: dv_delete_where(spark, out, F.col("k") == 5))
    if path == "compact_table":
        _LOSERS[path](spark, out, io)
    else:
        with pytest.raises(ValueError, match="commit conflict"):
            _LOSERS[path](spark, out, io)
    assert _rows(spark, out) == _without(5)


def test_two_appends_racing_for_one_claim_both_land(spark, tmp_path):
    """The racer appends just before the loser's claim: the loser loses the
    index, re-plans from the log the winner left, and every row of both
    lands exactly once (the winner may sweep the loser's marked files into
    its own entry)."""
    out = str(tmp_path / "tbl")
    _two_file_store(spark, out)
    io = _RaceAt(out, "create_exclusive", lambda: encode_table(
        _kv(spark, 450, 500), out, key_cols=["k"], n_parts=1, run="d"))
    _LOSERS["encode_table"](spark, out, io)
    assert _rows(spark, out) == _without(hi=500)


def test_datasource_overwrite_under_a_racing_rewrite(spark, tmp_path):
    """``mode("overwrite")`` plans the files it replaces before its tasks
    run and commits after them. A compaction (driver-free, so it can run
    inside the write's own task) rewrites both files in between: the
    overwrite's commit raises and the table keeps the compacted rows."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        write_encoded_table,
    )

    out = str(tmp_path / "tbl")
    _two_file_store(spark, out)

    def compact_then_pass(batches):
        from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
            compact_table,
        )

        compact_table(out)
        yield from batches

    new = _kv(spark, 1000, 1010).coalesce(1).mapInArrow(compact_then_pass,
                                                        "k long, v long")
    with pytest.raises(Exception, match="commit conflict"):
        write_encoded_table(new, out, mode="overwrite")
    assert _rows(spark, out) == _without()
    assert len(log_versions(out)) == 3  # the two appends and the compaction
