"""Deletion vectors: merge-on-read DELETE over the encoded store
(`dv_delete_where`) — the Delta deletion-vector contract re-derived over this
store's content-addressed chunk model (reference commit-log protocol:
DeltaLake.fs:176-444; DVs key by chunk_id, never file path, so compaction
carries them and copy-on-write rewrites orphan them harmlessly).

Covered: soft-delete visibility through every reader (decode_table, the
pandora_table DataSource, table_stats), zero data-file rewrites, position
composition across repeated DV deletes, as_of / restore_table resurrection,
checkpoint survival, compaction carry-over, CoW materialization, clone
carry-over, CDF non-append-only demotion, and the broad-delete guard."""

from datetime import date

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    checkpoint_log,
    committed_dv_actions,
    committed_files,
    log_versions,
    vacuum,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    DV_MAX_DELETED_ROWS,
    clone_table,
    compact_table,
    decode_table,
    delete_where,
    dv_delete_where,
    dv_update_where,
    encode_table,
    load_dv_map,
    merge_table,
    restore_table,
    table_diff,
    table_stats,
    update_where,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
    read_encoded_table,
    stream_encoded_table,
    write_encoded_table,
)


def _mk(spark, out, n=5000, parts=4):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("int").alias("grp"),
        (F.col("id") * 1.5).alias("amt"),
        F.concat(F.lit("s"), (F.col("id") % 11).cast("string")).alias("tag"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=parts, chunk_rows=512)
    return df


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ------------------------------------------------------------ core contract


def test_dv_delete_soft_deletes_without_rewriting_files(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    files_before = committed_files(out)
    res = dv_delete_where(spark, out, F.col("k") % 100 == 3,
                          condition_cols=["k"])
    assert res["rows_deleted"] == 50
    assert res["chunks_touched"] >= 1
    assert res["dv_file"].startswith("dv-")
    # metadata-only: the live data-file set is IDENTICAL
    assert committed_files(out) == files_before
    dec = decode_table(spark, out)
    assert dec.count() == 5000 - 50
    assert dec.filter(F.col("k") % 100 == 3).count() == 0
    # untouched rows bit-identical
    assert _rows(dec) == _rows(df.filter(F.col("k") % 100 != 3))


def test_dv_positions_compose_across_repeated_deletes(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    dv_delete_where(spark, out, F.col("k") < 100, condition_cols=["k"])
    # second delete probes the DV-filtered view: already-deleted rows never
    # re-match, and new ordinals still address PHYSICAL positions
    res2 = dv_delete_where(spark, out, F.col("k") < 300, condition_cols=["k"])
    assert res2["rows_deleted"] == 200
    dec = decode_table(spark, out, columns=["k"])
    assert dec.count() == 5000 - 300
    assert dec.agg(F.min("k")).collect()[0][0] == 300
    # per-chunk unions in the reader map are duplicate-free
    io = FsIO.resolve(out)
    m = load_dv_map(io, committed_dv_actions(out, io))
    assert sum(len(v) for v in m.values()) == 300


def test_dv_delete_noop_and_guard(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "t")
    _mk(spark, out)
    res = dv_delete_where(spark, out, F.col("k") < 0, condition_cols=["k"])
    assert res == {"rows_deleted": 0, "chunks_touched": 0,
                   "dv_file": None, "log": None}
    assert committed_dv_actions(out) == []
    # broad predicates are rejected toward the CoW path
    import pandora_apache_avro_idl_to_apache_parquet_spark.operators.table as tbl
    monkeypatch.setattr(tbl, "DV_MAX_DELETED_ROWS", 10)
    with pytest.raises(ValueError, match="copy-on-write"):
        dv_delete_where(spark, out, F.col("k") < 100, condition_cols=["k"])
    assert DV_MAX_DELETED_ROWS > 10  # module constant untouched elsewhere


def test_dv_respected_by_datasource_and_stats(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    dv_delete_where(spark, out, F.col("grp") == 5, condition_cols=["grp"])
    exp = df.filter(F.col("grp") != 5)
    # pandora_table DataSource subtracts DVs on executors
    ds = read_encoded_table(spark, out)
    assert _rows(ds.select(*df.columns)) == _rows(exp)
    # metadata-only stats: n_rows EXACT under DVs (cardinality subtraction)
    got = {r["column"]: r for r in table_stats(spark, out).collect()}
    assert got["k"]["n_rows"] == exp.count()


# -------------------------------------------------- time travel and restore


def test_dv_as_of_and_restore_resurrect_rows(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_delete_where(spark, out, F.col("k") < 500, condition_cols=["k"])
    assert decode_table(spark, out).count() == 4500
    # reads pinned before the DV commit still see every row
    assert decode_table(spark, out, as_of=v0).count() == 5000
    assert read_encoded_table(spark, out, as_of=v0).count() == 5000
    # restore to the pre-delete version resurrects via dvRestore
    res = restore_table(out, v0)
    assert res["log"] is not None
    assert committed_dv_actions(out) == []
    assert decode_table(spark, out).count() == 5000
    # and the restore is itself versioned: as_of of the deleted state works
    assert decode_table(spark, out, as_of=v0 + 1).count() == 4500


def test_dv_restore_is_self_inverse(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_delete_where(spark, out, F.col("k") < 500, condition_cols=["k"])
    v1 = log_versions(out)[-1]
    restore_table(out, v0)  # resurrect the 500 rows
    assert decode_table(spark, out).count() == 5000
    # restoring FORWARD to the post-delete version re-applies the vectors —
    # dvRestore carries the full target state, not a truncation filter
    restore_table(out, v1)
    assert len(committed_dv_actions(out)) == 1
    assert decode_table(spark, out).count() == 4500
    assert decode_table(spark, out).agg(F.min("k")).collect()[0][0] == 500


def test_dv_survives_cleaned_checkpoint(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    dv_delete_where(spark, out, F.col("k") < 200, condition_cols=["k"])
    checkpoint_log(out, clean=True)  # json tail gone; snapshot only
    acts = committed_dv_actions(out)
    assert len(acts) == 1 and acts[0]["cardinality"] == 200
    assert decode_table(spark, out).count() == 4800


def test_dv_restore_composes_across_checkpoint(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_delete_where(spark, out, F.col("k") < 200, condition_cols=["k"])
    checkpoint_log(out)  # json tail retained: pre-checkpoint replay works
    # head reads recover the action (with its "v" stamp) FROM the snapshot;
    # a dvRestore committed AFTER the checkpoint still truncates it
    restore_table(out, v0)
    assert committed_dv_actions(out) == []
    assert decode_table(spark, out).count() == 5000


def test_vacuum_reclaims_restored_away_dv_files(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_delete_where(spark, out, F.col("k") < 100, condition_cols=["k"])
    v1 = log_versions(out)[-1]
    restore_table(out, v0)  # the DV is now unreferenced by the live state
    removed = vacuum(out, min_age_sec=0)
    assert any(f.startswith("dv-") for f in removed)
    assert decode_table(spark, out).count() == 5000  # live reads unaffected
    # forward restore needs the vacuumed DV file: fails loudly, like data
    with pytest.raises(ValueError, match="deletion-vector"):
        restore_table(out, v1)


# ------------------------------------------- physical-layout interactions


def test_compaction_carries_dvs_verbatim(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out, parts=6)
    dv_delete_where(spark, out, F.col("k") % 10 == 7, condition_cols=["k"])
    res = compact_table(out)
    assert res["files_after"] < res["files_before"]
    # chunk ids moved verbatim -> the same DVs still subtract
    dec = decode_table(spark, out)
    assert dec.count() == 4500
    assert _rows(dec) == _rows(df.filter(F.col("k") % 10 != 7))
    vacuum(out, min_age_sec=0)  # reclaims compacted-away files, never _dv
    assert decode_table(spark, out).count() == 4500


def test_cow_rewrite_materializes_dv_deletes(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    dv_delete_where(spark, out, F.col("k") % 10 == 1, condition_cols=["k"])
    # CoW DELETE decodes survivors DV-filtered, so the rewrite bakes the
    # soft deletes into the new chunks (whose fresh ids orphan the DVs)
    delete_where(spark, out, F.col("k") % 10 == 2, condition_cols=["k"])
    dec = decode_table(spark, out)
    exp = df.filter((F.col("k") % 10 != 1) & (F.col("k") % 10 != 2))
    assert _rows(dec) == _rows(exp)
    # stats agree even though the original DV action is now orphaned
    got = {r["column"]: r for r in table_stats(spark, out).collect()}
    assert got["k"]["n_rows"] == exp.count()


def test_clone_carries_dv_state(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = _mk(spark, src)
    dv_delete_where(spark, src, F.col("grp") == 9, condition_cols=["grp"])
    clone_table(src, dst)
    assert len(committed_dv_actions(dst)) == 1
    assert _rows(decode_table(spark, dst)) == _rows(df.filter(F.col("grp") != 9))


# --------------------------------------------------------------------- CDF


def test_dv_range_demotes_diff_to_exact_and_yields_deletes(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_delete_where(spark, out, F.col("k") < 10, condition_cols=["k"])
    v1 = log_versions(out)[-1]
    d = table_diff(spark, out, from_version=v0, to_version=v1)
    by = {r["_change_type"]: r["n"]
          for r in d.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert by == {"delete": 10}


# ----------------------------------------------------------- streaming tail


def test_stream_tail_skips_dv_only_commits(spark, tmp_path):
    """A DV commit adds no data files: the streaming source's offset
    advances past it with zero rows (streams are append-only — soft deletes
    never retract already-emitted rows; Delta's skipChangeCommits analog)
    and later appends still arrive exactly once."""
    out, ckpt, sink = (str(tmp_path / d) for d in ("t", "ckpt", "sink"))
    _mk(spark, out, n=1000, parts=2)

    def drain():
        q = (stream_encoded_table(spark, out)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(sink)

    assert drain().count() == 1000
    dv_delete_where(spark, out, F.col("k") < 100, condition_cols=["k"])
    assert drain().count() == 1000  # dv-only commit: no new rows, no error
    write_encoded_table(
        spark.range(5000, 5100).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("int").alias("grp"),
            (F.col("id") * 1.5).alias("amt"),
            F.concat(F.lit("s"), (F.col("id") % 11).cast("string")).alias("tag"),
        ).repartition(1),
        out,
    )
    assert drain().count() == 1100  # appends after the DV arrive exactly once


# ------------------------------------------------------------ __pos metacol


def test_pos_meta_col_is_physical_ordinal(spark, tmp_path):
    out = str(tmp_path / "t")
    _mk(spark, out, n=2000, parts=2)
    dec = decode_table(spark, out, columns=["k"],
                       meta_cols=["chunk_id", "__pos"])
    # per chunk: dense 0..n-1 BEFORE any DV filter
    agg = (dec.groupBy("chunk_id")
           .agg(F.count("*").alias("n"), F.min("__pos").alias("lo"),
                F.max("__pos").alias("hi")).collect())
    for r in agg:
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1)
    dv_delete_where(spark, out, F.col("k") % 512 == 0, condition_cols=["k"])
    dec2 = decode_table(spark, out, columns=["k"],
                        meta_cols=["chunk_id", "__pos"])
    # after the DV, position 0 of affected chunks is gone: ordinals are
    # PHYSICAL (stable), not re-densified
    assert dec2.filter(F.col("__pos") == 0).count() < dec.filter(
        F.col("__pos") == 0).count()


# ------------------------------------------------- merge-on-read UPDATE (DV)


def test_dv_update_rewrites_rows_not_files(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    files_before = committed_files(out)
    res = dv_update_where(spark, out, F.col("k") % 100 == 3,
                          {"amt": F.col("amt") * 10, "tag": F.lit("upd")},
                          condition_cols=["k"])
    assert res["rows_updated"] == 50
    assert res["files_added"] >= 1
    assert res["dv_file"].startswith("dv-")
    # merge-on-read: every pre-update file is STILL live (no removes), the
    # updated rows live in fresh appended files
    after = committed_files(out)
    assert set(files_before) <= set(after)
    assert len(after) == len(files_before) + res["files_added"]
    hit = F.col("k") % 100 == 3
    exp = df.select(
        "k", "grp",
        F.when(hit, F.col("amt") * 10).otherwise(F.col("amt")).alias("amt"),
        F.when(hit, F.lit("upd")).otherwise(F.col("tag")).alias("tag"),
    )
    dec = decode_table(spark, out)
    assert dec.count() == 5000
    assert _rows(dec.select("k", "grp", "amt", "tag")) == _rows(exp)


def test_dv_update_composes_with_further_dml(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    dv_update_where(spark, out, F.col("k") < 100,
                    {"grp": F.lit(999).cast("int")}, condition_cols=["k"])
    # a second MoR pass probes the post-update view: the new value matches
    res = dv_update_where(spark, out, F.col("grp") == 999,
                          {"amt": F.lit(0.0)}, condition_cols=["grp"])
    assert res["rows_updated"] == 100
    dec = decode_table(spark, out)
    assert dec.count() == 5000
    assert dec.filter(F.col("grp") == 999).count() == 100
    assert dec.filter((F.col("grp") == 999) & (F.col("amt") != 0.0)).count() == 0
    # and a DV delete of the relocated rows sees exactly them
    dv_delete_where(spark, out, F.col("grp") == 999, condition_cols=["grp"])
    assert _rows(decode_table(spark, out).select("k")) == _rows(
        df.filter(F.col("k") >= 100).select("k"))


def test_dv_update_noop_and_broad_guard(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "t")
    _mk(spark, out)
    res = dv_update_where(spark, out, F.col("k") < 0, {"amt": F.lit(0.0)},
                          condition_cols=["k"])
    assert res["rows_updated"] == 0 and res["log"] is None
    assert committed_dv_actions(out) == []
    import pandora_apache_avro_idl_to_apache_parquet_spark.operators.table as tbl
    monkeypatch.setattr(tbl, "DV_MAX_DELETED_ROWS", 10)
    with pytest.raises(ValueError, match="copy-on-write update_where"):
        dv_update_where(spark, out, F.col("k") < 100, {"amt": F.lit(0.0)},
                        condition_cols=["k"])
    with pytest.raises(ValueError, match="not in table"):
        dv_update_where(spark, out, F.col("k") < 0, {"nope": F.lit(1)})


def test_dv_update_can_reassign_key_and_partition_columns(spark, tmp_path):
    """The MoR update RELOCATES rows into fresh files, so the placement
    metadata the in-place CoW paths must freeze (key columns, pds_col) is
    legitimately assignable: relocated rows re-route to their new date's
    files and partition pruning stays exact."""
    out = str(tmp_path / "t")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.to_date(F.lit("2024-01-01")).alias("day"),
        (F.col("id") * 2.0).alias("v"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=256,
                 pds_col="day")
    res = dv_update_where(
        spark, out, F.col("k") < 50,
        {"day": F.to_date(F.lit("2024-02-01")), "k": F.col("k") + 10000},
        condition_cols=["k"])
    assert res["rows_updated"] == 50
    # pds chunk pruning finds the moved rows under their NEW date only
    feb = decode_table(spark, out,
                       chunk_filter=F.col("pds") == "2024-02-01")
    assert feb.count() == 50
    assert feb.agg(F.min("k")).collect()[0][0] == 10000
    jan = decode_table(spark, out,
                       chunk_filter=F.col("pds") == "2024-01-01")
    assert jan.filter(F.col("k") < 50).count() == 0
    assert decode_table(spark, out).count() == 2000


def test_cow_paths_reject_partition_column_assignment(spark, tmp_path):
    out = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.to_date(F.lit("2024-01-01")).alias("day"),
        (F.col("id") * 2.0).alias("v"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=1, pds_col="day")
    with pytest.raises(ValueError, match="cannot be assigned in place"):
        update_where(spark, out, F.col("k") < 10,
                     {"day": F.to_date(F.lit("2024-02-01"))})
    src = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="when_matched_update"):
        merge_table(spark, out, src,
                    when_matched_update={"day": F.to_date(F.lit("2024-02-01"))})


def test_dv_update_as_of_and_restore(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _mk(spark, out)
    v0 = log_versions(out)[-1]
    dv_update_where(spark, out, F.col("k") < 20, {"amt": F.lit(-1.0)},
                    condition_cols=["k"])
    assert decode_table(spark, out).filter(F.col("amt") == -1.0).count() == 20
    # pinned reads before the commit see the original values
    assert decode_table(spark, out, as_of=v0).filter(
        F.col("amt") == -1.0).count() == 0
    # restore undoes BOTH halves: vectors drop, appended files go
    restore_table(out, v0)
    assert committed_dv_actions(out) == []
    dec = decode_table(spark, out)
    assert dec.count() == 5000
    assert _rows(dec) == _rows(df)


# ------------------------------------------------- both readers on structs


def _struct_rows(spark, lo, hi):
    """id + struct s{a, b} (null every 7th) + array<struct{x, ok}> tags
    (null every 11th, a null element in slot 1)."""
    return spark.range(lo, hi).select(
        F.col("id"),
        F.when(F.col("id") % 7 != 0, F.struct(
            (F.col("id") % 5).cast("int").alias("a"),
            F.concat(F.lit("v"), F.col("id")).alias("b"),
        )).alias("s"),
        F.when(F.col("id") % 11 != 0, F.transform(
            F.sequence(F.lit(0), F.col("id") % 3),
            lambda i: F.when(i != 1, F.struct(
                (F.col("id") * 10 + i).alias("x"),
                (i % 2 == 0).alias("ok"),
            )))).alias("tags"),
    )


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r.id)


def test_struct_table_readers_agree_under_dvs(spark, tmp_path):
    """decode_table and the pandora_table DataSource decode through one
    chunk decoder: on a struct + array<struct> table whose second run
    appends a struct column (the first run's chunks predate it), both
    readers give the same schema and rows after a DV delete, and at the
    pre-delete version."""
    out = str(tmp_path / "t")
    encode_table(_struct_rows(spark, 0, 300), out, key_cols=["id"],
                 n_parts=2, chunk_rows=64)
    encode_table(
        _struct_rows(spark, 300, 400).withColumn(
            "meta", F.struct(F.lit("n").alias("tag"))),
        out, key_cols=["id"], n_parts=2, chunk_rows=64, run="r1")
    v0 = log_versions(out)[-1]
    cond = (F.col("s.a") == 2) | (F.col("id") % 50 == 0)
    res = dv_delete_where(spark, out, cond)
    assert res["rows_deleted"] > 0

    pre = _by_id(decode_table(spark, out, as_of=v0))
    assert len(pre) == 400
    assert pre[0].meta is None and pre[399].meta.tag == "n"
    for got in (decode_table(spark, out, as_of=v0),
                read_encoded_table(spark, out, as_of=v0)):
        assert got.columns == ["id", "s", "tags", "meta"]
        assert _by_id(got) == pre

    dec = decode_table(spark, out)
    ds = read_encoded_table(spark, out)
    assert dec.schema == ds.schema
    want = _by_id(decode_table(spark, out, as_of=v0)
                  .filter(~F.coalesce(cond, F.lit(False))))
    assert len(want) == 400 - res["rows_deleted"]
    assert _by_id(dec) == want
    assert _by_id(ds) == want
    # selective reads of a struct column agree too
    cols = ["tags", "id"]
    assert (_by_id(decode_table(spark, out, columns=cols))
            == _by_id(read_encoded_table(spark, out, columns=cols)))
