"""Generic table encode/decode (operators/table.py): the schema-driven
generalization of the token pipeline to the reference's full physical-type set
(``/root/reference/.../Pandora/Apache/Parquet.fs:52-110``). Covers: bit-exact
roundtrip over every supported dtype incl. null scatter, edge values (NaN,
-0.0, inf, int extremes, multi-byte UTF-8, high-byte binary, decimal bounds),
selective decode with column pruning, resume after injected failure, commit
log on the generic chunk schema, object-store FsIO, and rejection of
unsupported shapes."""

import shutil
import tempfile
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import object_store_like_io
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    completed_parts,
    read_commit_log,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
    read_table_manifest,
    read_table_spec,
)

ALL_TYPES = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BinaryType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("bo", T.BooleanType(), True),
        T.StructField("dt", T.DateType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("dec", T.DecimalType(12, 2), True),
        T.StructField("dw", T.DecimalType(38, 4), True),
        T.StructField("sh", T.ShortType(), True),
        T.StructField("by", T.ByteType(), True),
    ]
)


def _all_type_rows():
    edge = [
        (1, 42, "héllo é✓", b"\xff\x00\xc0", 1.5, float("nan"), True,
         date(2020, 1, 1), datetime(2021, 3, 4, 5, 6, 7, 123456),
         Decimal("123.45"), Decimal("1234567890123456789012345678901234.5678"),
         7, 1),
        (2, None, None, None, None, None, None, None, None, None, None, None,
         None),
        (3, -(2**31), "", b"", -0.0, float("inf"), False, date(1969, 12, 31),
         datetime(1970, 1, 1), Decimal("-9999999999.99"),
         Decimal("-9999999999999999999999999999999999.9999"), -32768, -128),
        (4, 2**31 - 1, "dup", b"dup", 3.25, -1e300, True, date(2262, 1, 1),
         datetime(2200, 1, 1, 23, 59, 59), Decimal("0.00"), Decimal("0.0001"),
         32767, 127),
    ]
    bulk = [
        (10 + k, k % 5, f"w{k % 3}" * (k % 4), bytes([k % 7, 0xC3]),
         float(k), k * 1.1, k % 2 == 0, date(2020, 1, 1 + k % 20),
         datetime(2021, 1, 1, k % 24), Decimal(k) / 4,
         # unscaled value straddles the 64-bit word boundary -> hi word live
         Decimal(2**64 + k) * Decimal("0.0001"),
         k % 100, k % 100 - 50)
        for k in range(500)
    ]
    return edge + bulk


def _roundtrip(spark, df, key=("id",), **kw):
    out = tempfile.mkdtemp(prefix="tbl_rt_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=list(key), **kw)
        a = df.toPandas().sort_values(list(key), ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values(list(key), ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
        return out
    except Exception:
        shutil.rmtree(out, ignore_errors=True)
        raise


def test_all_types_bit_exact_roundtrip(spark):
    df = spark.createDataFrame(_all_type_rows(), ALL_TYPES)
    out = _roundtrip(spark, df, n_parts=4, chunk_rows=100)
    try:
        man = read_table_manifest(spark, out).toPandas()
        # every column of every chunk got a codec and stats
        assert set(man["column"]) == {f.name for f in ALL_TYPES.fields}
        assert (man["enc_bytes"] > 0).all()
        assert set(man["logical"]) >= {"long", "int", "string", "binary",
                                       "bool", "date", "timestamp_ntz"}
        # low-cardinality and sorted columns got non-plain codecs
        by_col = man.groupby("column")["codec"].agg(set)
        assert by_col["id"] <= {"delta", "for", "bitpack"}
        assert "plain" not in by_col["bo"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_null_extremes_roundtrip(spark):
    schema = T.StructType(
        [T.StructField("id", T.IntegerType(), False),
         T.StructField("all_null", T.StringType(), True),
         T.StructField("no_null", T.LongType(), True),
         T.StructField("sparse", T.DoubleType(), True)]
    )
    rows = [(k, None, k * 3, float(k) if k % 50 == 0 else None) for k in range(300)]
    df = spark.createDataFrame(rows, schema)
    out = _roundtrip(spark, df, key=("id",), n_parts=2, chunk_rows=64)
    try:
        man = read_table_manifest(spark, out).toPandas()
        nn = man.groupby("column")["n_nulls"].sum()
        assert nn["all_null"] == 300 and nn["no_null"] == 0 and nn["sparse"] == 294
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_selective_decode_prunes_payload_columns(spark):
    df = spark.createDataFrame(_all_type_rows(), ALL_TYPES)
    out = _roundtrip(spark, df, n_parts=2, chunk_rows=200)
    try:
        sub = decode_table(spark, out, columns=["s", "id"])
        a = df.select("s", "id").toPandas().sort_values("id", ignore_index=True)
        b = sub.toPandas().sort_values("id", ignore_index=True)
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        # plan hygiene: the parquet scan reads only the requested payloads
        spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
        try:
            plan = sub._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        assert "ReadSchema" in plan
        read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
        assert "s__payload" in read_schema and "id__payload" in read_schema
        assert "dec__payload" not in read_schema and "ts__payload" not in read_schema
        # decode is a shuffle-free mapInArrow over the chunk scan
        assert "Exchange" not in plan
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_after_injected_failure(spark):
    df = spark.createDataFrame(_all_type_rows(), ALL_TYPES)
    out = tempfile.mkdtemp(prefix="tbl_resume_")
    shutil.rmtree(out)
    try:
        with pytest.raises(Exception):
            encode_table(df, out, key_cols=["id"], n_parts=4, fail_parts={2})
        done_first = completed_parts(out)
        assert 2 not in done_first and len(done_first) < 4
        encode_table(df, out, key_cols=["id"], n_parts=4)
        assert completed_parts(out) == [0, 1, 2, 3]
        a = df.toPandas().sort_values("id", ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values("id", ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
        # commit log: generic chunk schema recorded, every data file added once
        entries = read_commit_log(out)
        adds = [e["add"]["path"] for e in entries if "add" in e]
        assert sorted(adds) == sorted(set(adds)) and len(adds) == 4
        metas = [e for e in entries if "metaData" in e]
        assert "id__payload" in metas[0]["metaData"]["schemaString"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_object_store_io_end_to_end(spark):
    df = spark.createDataFrame(_all_type_rows()[:50], ALL_TYPES)
    out = tempfile.mkdtemp(prefix="tbl_objstore_")
    shutil.rmtree(out)
    io = object_store_like_io(out)
    try:
        encode_table(df, out, key_cols=["id"], n_parts=2, io=io)
        a = df.toPandas().sort_values("id", ignore_index=True)
        b = decode_table(spark, out, io=io).toPandas().sort_values("id", ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_unsupported_shapes_rejected(spark):
    # map<string,int> is a supported lane since round 3; deep map values and
    # non-string keys still reject toward the flatten path
    deep = spark.createDataFrame(
        [(1, {"a": [2]})], "id int, m map<string,array<int>>"
    )
    with pytest.raises(ValueError, match="flatten"):
        encode_table(deep, "/tmp/never", key_cols=["id"])
    intkey = spark.createDataFrame([(1, {2: "v"})], "id int, m map<int,string>")
    with pytest.raises(ValueError, match="string keys"):
        encode_table(intkey, "/tmp/never", key_cols=["id"])
    # struct<...> is a supported lane since round 4 (auto-flattened to
    # per-leaf columns); a struct KEY still rejects
    structy = spark.createDataFrame([(1, (2, "x"))], "id int, s struct<a:int,b:string>")
    with pytest.raises(ValueError, match="may not be a struct"):
        encode_table(structy, "/tmp/never", key_cols=["s"])
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import _logical_of

    with pytest.raises(ValueError, match="precision"):
        _logical_of(T.DecimalType(40, 2))  # beyond decimal128
    # the exact boundary (round-4 decision: 38 = Spark's own DecimalType
    # maximum, so >38 is a documented hard rejection, not a missing lane)
    assert _logical_of(T.DecimalType(38, 0)) == "decimal128(38,0)"
    with pytest.raises(ValueError, match="Spark's DecimalType maximum"):
        _logical_of(T.DecimalType(39, 0))
    assert _logical_of(T.DecimalType(28, 2)) == "decimal128(28,2)"
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="key column"):
        encode_table(df, "/tmp/never", key_cols=["nope"])


def test_flattened_avro_table_encodes(spark):
    """The full reference story: .avsc schema -> flatten -> generic encode ->
    bit-identical decode (schema-driven end to end, no hand-built schema)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators import nested
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_schema import (
        avsc_to_struct,
    )

    avsc = """
    {"type": "record", "name": "Doc", "namespace": "t",
     "fields": [
       {"name": "doc_id", "type": "string"},
       {"name": "meta", "type": {"type": "record", "name": "Meta",
          "fields": [{"name": "lang", "type": "string"},
                     {"name": "n", "type": "long"}]}},
       {"name": "words", "type": {"type": "array", "items": "string"}}
     ]}
    """
    info = avsc_to_struct(avsc)
    rows = [(f"d{k}", (f"l{k % 3}", k * 10), [f"w{j}" for j in range(k % 5)])
            for k in range(200)]
    df = spark.createDataFrame(rows, info.struct)
    tables = nested.flatten_table(df, root_name=info.name,
                                  uid_expr=F.xxhash64("doc_id"))
    words = tables["Doc.Words"]
    out = tempfile.mkdtemp(prefix="tbl_avro_")
    shutil.rmtree(out)
    try:
        encode_table(words, out, key_cols=["pj_pid", "pj_pos"], n_parts=2)
        a = words.toPandas().sort_values(["pj_pid", "pj_pos"], ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values(
            ["pj_pid", "pj_pos"], ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_lookup_key_range_typed_zone_maps(spark):
    """Typed key_min/key_max: numeric range pruning must compare as numbers
    (stringified zone maps would order '100' < '99' and prune wrong chunks),
    the predicate must reach the parquet scan, and boundary rows must be
    exact at chunk edges."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        lookup_key_range,
        read_table_chunks,
    )

    df = spark.range(0, 3000).selectExpr(
        "id AS k", "cast(id % 97 as int) AS v", "cast(id as string) AS s"
    )
    out = tempfile.mkdtemp(prefix="tbl_range_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["k"], n_parts=3, chunk_rows=200)
        # zone-map columns carry the key's own type
        chunks = read_table_chunks(spark, out)
        assert dict(chunks.dtypes)["key_min"] == "bigint"
        # 90..1105 spans chunk boundaries in every partition
        got = lookup_key_range(spark, out, 90, 1105).toPandas().sort_values(
            "k", ignore_index=True)
        exp = df.filter("k between 90 and 1105").toPandas().sort_values(
            "k", ignore_index=True)
        pd.testing.assert_frame_equal(exp, got[exp.columns], check_exact=True)
        # the zone-map predicate (on the key column's own zone map, equal
        # to key_min/key_max) is pushed into the parquet scan
        plan = lookup_key_range(spark, out, 90, 1105)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "PushedFilters" in plan
        pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
        assert ("GreaterThanOrEqual(k__max,90)" in pushed
                and "LessThanOrEqual(k__min,1105)" in pushed)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_column_zone_maps_prune_any_column(spark):
    """Per-column typed min/max: pruning on a NON-key column via
    column_range_filter skips chunks whose stats exclude the range, and the
    pruned decode + residual filter returns exactly the right rows."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        column_range_filter,
        read_table_chunks,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import decode_table

    # v correlates with k, so k-sorted chunks have narrow v ranges -> prunable
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "id * 10 + cast(id % 3 as long) AS v",
        "cast(id % 5 as int) AS tag"
    )
    out = tempfile.mkdtemp(prefix="tbl_colzm_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=100)
        chunks = read_table_chunks(spark, out)
        assert dict(chunks.dtypes)["v__min"] == "bigint"
        n_chunks = chunks.count()
        n_hit = chunks.filter(column_range_filter("v", 5000, 5400)).count()
        assert 0 < n_hit < n_chunks  # pruning actually skipped chunks
        dec = decode_table(
            spark, out, columns=["k", "v"],
            chunk_filter=column_range_filter("v", 5000, 5400),
        ).filter("v between 5000 and 5400")
        exp = df.select("k", "v").filter("v between 5000 and 5400").toPandas()
        got = dec.toPandas()
        pd.testing.assert_frame_equal(
            exp.sort_values("k", ignore_index=True),
            got.sort_values("k", ignore_index=True),
            check_exact=True,
        )
        # manifest long form stringifies the typed stats
        man = read_table_manifest(spark, out).toPandas()
        vman = man[man["column"] == "v"]
        assert (vman["min_value"].astype("int64") <= vman["max_value"].astype("int64")).all()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_scan_mode_shuffle_free_roundtrip(spark):
    """Map-only encode: no Exchange in the plan, same decode contract."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table_scan,
    )

    df = spark.createDataFrame(_all_type_rows(), ALL_TYPES).repartition(3)
    out = tempfile.mkdtemp(prefix="tbl_scan_")
    shutil.rmtree(out)
    try:
        src = df.cache()
        src.count()
        encode_table_scan(src, out, key_cols=["id"], chunk_rows=128)
        a = src.toPandas().sort_values("id", ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values("id", ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
        src.unpersist()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_scan_mode_resume_after_failure(spark):
    """Scan-mode resume: partition ids are the encode identity; after an
    injected failure the rerun short-circuits completed partitions and the
    decode is exact."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table_scan,
    )

    df = spark.createDataFrame(_all_type_rows(), ALL_TYPES).repartition(4).cache()
    df.count()
    out = tempfile.mkdtemp(prefix="tbl_scanres_")
    shutil.rmtree(out)
    try:
        with pytest.raises(Exception):
            encode_table_scan(df, out, key_cols=["id"], fail_parts={1})
        done = completed_parts(out)
        assert 1 not in done and len(done) < 4
        encode_table_scan(df, out, key_cols=["id"])
        assert completed_parts(out) == [0, 1, 2, 3]
        a = df.toPandas().sort_values("id", ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values("id", ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
        df.unpersist()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_null_key_rejected(spark):
    df = spark.createDataFrame([(1,), (None,)], "k int")
    out = tempfile.mkdtemp(prefix="tbl_nullkey_")
    shutil.rmtree(out)
    try:
        with pytest.raises(Exception, match="contains nulls"):
            encode_table(df, out, key_cols=["k"], n_parts=1)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_append_runs_and_schema_evolution(spark):
    """Append-only schema evolution across runs (the reference's Delta
    metaData schema-evolve contract): run r1 appends rows AND a new nullable
    column into the same dir; r0's chunks decode the new column as null;
    evolution guards reject type changes, drops, non-nullable adds, and key
    changes."""
    from pyspark.sql import types as T

    v1 = spark.createDataFrame(
        [(k, f"s{k}") for k in range(100)], "k long, s string")
    v2 = spark.createDataFrame(
        [(100 + k, f"t{k}", float(k)) for k in range(50)],
        T.StructType([
            T.StructField("k", T.LongType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]),
    )
    out = tempfile.mkdtemp(prefix="tbl_evo_")
    shutil.rmtree(out)
    try:
        encode_table(v1, out, key_cols=["k"], n_parts=2, run="r0")
        encode_table(v2, out, key_cols=["k"], n_parts=2, run="r1")
        assert completed_parts(out, run="r0") == [0, 1]
        assert completed_parts(out, run="r1") == [0, 1]
        spec = read_table_spec(out)
        assert [f.name for f in spec.schema.fields] == ["k", "s", "score"]

        dec = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        assert len(dec) == 150
        assert dec[dec["k"] < 100]["score"].isna().all()
        got_new = dec[dec["k"] >= 100].reset_index(drop=True)
        exp_new = v2.toPandas().sort_values("k", ignore_index=True)
        pd.testing.assert_frame_equal(exp_new, got_new[exp_new.columns], check_exact=True)
        # manifest distinguishes the runs; r0 rows have null stats for score
        man = read_table_manifest(spark, out).toPandas()
        assert set(man["run"]) == {"r0", "r1"}
        r0_score = man[(man["run"] == "r0") & (man["column"] == "score")]
        assert r0_score["codec"].isna().all()

        # guards
        with pytest.raises(ValueError, match="type change"):
            encode_table(
                spark.createDataFrame([(1, 2, 1.0)], "k long, s int, score double"),
                out, key_cols=["k"], run="r2")
        with pytest.raises(ValueError, match="append-only"):
            encode_table(spark.createDataFrame([(1,)], "k long"),
                         out, key_cols=["k"], run="r2")
        with pytest.raises(ValueError, match="immutable"):
            encode_table(v1, out, key_cols=["s"], run="r2")
        nn = T.StructType([
            T.StructField("k", T.LongType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("extra", T.LongType(), False),
        ])
        with pytest.raises(ValueError, match="nullable"):
            encode_table(spark.createDataFrame([(1, "a", 1.0, 2)], nn),
                         out, key_cols=["k"], run="r2")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compaction_and_log_gated_reads(spark):
    """compact_table merges small append-run files behind ONE atomic log
    entry; decode is identical before/after; vacuum reclaims the removed
    files; stray (never-committed) parquet files in data/ are invisible to
    log-gated readers."""
    import glob
    import os

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        read_commit_log,
        vacuum,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import compact_table

    out = tempfile.mkdtemp(prefix="tbl_compact_")
    shutil.rmtree(out)
    try:
        for r in range(3):
            df = spark.range(r * 100, (r + 1) * 100).selectExpr(
                "id AS k", "cast(id % 7 as int) AS v")
            encode_table(df, out, key_cols=["k"], n_parts=2, run=f"r{r}")
        before = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        n_files_before = len(glob.glob(out + "/data/*.parquet"))
        assert n_files_before == 6

        res = compact_table(out)
        assert res["files_after"] < res["files_before"] == 6
        after = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        pd.testing.assert_frame_equal(before, after, check_exact=True)
        # removed files still on disk until vacuum, but invisible to readers
        assert len(glob.glob(out + "/data/*.parquet")) > res["files_after"]
        removed = vacuum(out, min_age_sec=0)
        assert len(removed) == 6
        assert len(glob.glob(out + "/data/*.parquet")) == res["files_after"]
        again = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        pd.testing.assert_frame_equal(before, again, check_exact=True)
        entries = read_commit_log(out)
        assert sum(1 for e in entries if "remove" in e) == 6

        # orphan injection: a stray file no log entry references is ignored
        stray = os.path.join(out, "data", "part-stray-99999.parquet")
        shutil.copyfile(glob.glob(out + "/data/*.parquet")[0], stray)
        still = decode_table(spark, out).toPandas()
        assert len(still) == len(before)
        # retention window (default 7d also covers in-flight writers,
        # whose file publish precedes the commit): a young orphan survives
        assert vacuum(out) == []
        assert vacuum(out, min_age_sec=3600) == []
        assert vacuum(out, min_age_sec=0) == ["part-stray-99999.parquet"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_time_travel_reads(spark):
    """as_of replays the commit log up to an index: each append run is a
    version; a later compaction's file swap is invisible at old versions
    (until vacuum passes its retention)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import log_versions
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import compact_table

    out = tempfile.mkdtemp(prefix="tbl_tt_")
    shutil.rmtree(out)
    try:
        for r in range(3):
            df = spark.range(r * 100, (r + 1) * 100).selectExpr(
                "id AS k", "cast(id % 5 as int) AS v")
            encode_table(df, out, key_cols=["k"], n_parts=2, run=f"r{r}")
        versions = log_versions(out)
        assert len(versions) == 3
        # version i holds exactly runs 0..i
        for i, ver in enumerate(versions):
            n = decode_table(spark, out, as_of=ver).count()
            assert n == (i + 1) * 100
        compact_table(out)
        v_compact = log_versions(out)[-1]
        # current and pre-compaction views agree on content
        cur = decode_table(spark, out, as_of=v_compact).toPandas().sort_values(
            "k", ignore_index=True)
        old = decode_table(spark, out, as_of=versions[-1]).toPandas().sort_values(
            "k", ignore_index=True)
        pd.testing.assert_frame_equal(cur, old, check_exact=True)
        assert decode_table(spark, out, as_of=versions[0]).count() == 100
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compaction_preserves_evolved_schema(spark):
    """Pre-evolution files promote to the current chunk schema during the
    merge; old rows' evolved columns stay null after compaction."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import vacuum
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import compact_table

    out = tempfile.mkdtemp(prefix="tbl_compact_evo_")
    shutil.rmtree(out)
    try:
        v1 = spark.createDataFrame([(k, f"s{k}") for k in range(80)], "k long, s string")
        from pyspark.sql import types as T
        v2 = spark.createDataFrame(
            [(100 + k, f"t{k}", float(k)) for k in range(40)],
            T.StructType([T.StructField("k", T.LongType(), True),
                          T.StructField("s", T.StringType(), True),
                          T.StructField("score", T.DoubleType(), True)]))
        encode_table(v1, out, key_cols=["k"], n_parts=2, run="r0")
        encode_table(v2, out, key_cols=["k"], n_parts=2, run="r1")
        before = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        compact_table(out)
        vacuum(out, min_age_sec=0)
        after = decode_table(spark, out).toPandas().sort_values("k", ignore_index=True)
        pd.testing.assert_frame_equal(before, after, check_exact=True)
        assert after[after["k"] < 100]["score"].isna().all()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_table_size_beats_parquet_snappy(spark):
    """Size gate for the generic path: the encoded chunk files (ALP for
    decimal doubles, GCD for quantized timestamps, dict/delta/bitpack for the
    rest, payload columns free of parquet stats/dictionary bloat) must beat
    a Parquet+Snappy write of the same lineitem projection."""
    import glob
    import os

    proj = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus", "l_shipdate")
    base_dir = tempfile.mkdtemp(prefix="tbl_szbase_")
    out = tempfile.mkdtemp(prefix="tbl_szenc_")
    shutil.rmtree(out)
    try:
        proj.write.mode("overwrite").option("compression", "snappy").parquet(base_dir)
        base = sum(os.path.getsize(f) for f in glob.glob(base_dir + "/*.parquet"))
        encode_table(proj, out, key_cols=["l_orderkey", "l_linenumber"], n_parts=8)
        enc = sum(os.path.getsize(f) for f in glob.glob(out + "/data/*.parquet"))
        assert enc < base, f"encoded {enc} >= parquet+snappy {base}"
        # the decimal-double and quantized-timestamp lanes engaged
        man = read_table_manifest(spark, out).toPandas()
        codecs_by_col = man.groupby("column")["codec"].agg(set)
        assert codecs_by_col["l_extendedprice"] == {"alp"}
        assert codecs_by_col["l_quantity"] == {"alp"}
        assert "gcd" in codecs_by_col["l_shipdate"]
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_array_lanes_roundtrip(spark):
    """Array columns (token-pipeline layout generalized): float embeddings
    bit-exact, int arrays through the GROUPED cascade, null rows, empty
    arrays; string-element arrays rejected with the flatten hint."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = tempfile.mkdtemp(prefix="tbl_arr_")
    shutil.rmtree(out)
    try:
        encode_table(emb, out, key_cols=["vec_id"], n_parts=2, chunk_rows=100)
        a = emb.toPandas().sort_values("vec_id", ignore_index=True)
        b = decode_table(spark, out).toPandas().sort_values("vec_id", ignore_index=True)
        a["embedding"] = a["embedding"].apply(tuple)
        b = b[a.columns].copy()
        b["embedding"] = b["embedding"].apply(tuple)
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        man = read_table_manifest(spark, out).toPandas()
        assert (man[man["column"] == "embedding"]["logical"] == "array<float>").all()
    finally:
        shutil.rmtree(out, ignore_errors=True)

    rows = [(1, [1, 2, 3], [1.5]), (2, None, None), (3, [], []),
            (4, [0] * 50, [0.0] * 4), (5, list(range(1000)), [1e300, -0.0])]
    df = spark.createDataFrame(rows, "k int, xs array<int>, ds array<double>")
    out2 = tempfile.mkdtemp(prefix="tbl_arr2_")
    shutil.rmtree(out2)
    try:
        encode_table(df, out2, key_cols=["k"], n_parts=1)
        got = {r["k"]: (r["xs"], r["ds"]) for r in decode_table(spark, out2).collect()}
        exp = {k: (xs, ds) for k, xs, ds in rows}
        assert got == exp
    finally:
        shutil.rmtree(out2, ignore_errors=True)

    # string-element arrays: elements ride the FSST/dict string stream
    srows = [(1, ["héllo", "wörld", ""]), (2, None), (3, []),
             (4, ["dup"] * 30), (5, [f"w{i}" for i in range(200)])]
    sdf = spark.createDataFrame(srows, "k int, ws array<string>")
    out3 = tempfile.mkdtemp(prefix="tbl_arr3_")
    shutil.rmtree(out3)
    try:
        encode_table(sdf, out3, key_cols=["k"], n_parts=1)
        got = {r["k"]: r["ws"] for r in decode_table(spark, out3).collect()}
        assert got == {k: ws for k, ws in srows}
    finally:
        shutil.rmtree(out3, ignore_errors=True)


def test_union_data_flatten_encode_roundtrip(spark):
    """A8/A17 end-to-end WITH DATA: heterogeneous sources dispatch into a
    general-union struct (as_union), the union column flattens to a child
    extension table of nullable typeN branches, that table encodes through
    the generic columnar path, and the decoded branches reconstruct every
    original value exactly (reference: union synthesis Avro.fs:627-788 +
    runtime dispatch popuUnion Parquet.fs:1041-1193)."""
    from pyspark.sql import types as T

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators import nested
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_schema import as_union

    u = T.StructType(
        [T.StructField("type0", T.LongType(), True),
         T.StructField("type1", T.StringType(), True)]
    )
    ints = spark.createDataFrame([(k, k * 7) for k in range(100)], "id int, v long")
    strs = spark.createDataFrame(
        [(100 + k, f"s{k} é") for k in range(50)], "id int, v string")
    merged = as_union(ints, "v", u).unionByName(as_union(strs, "v", u))
    tables = nested.flatten_table(merged, root_name="U", uid_expr=F.xxhash64("id"))
    child = tables["U.V"]
    assert {"type0", "type1"} <= set(child.columns)

    out = tempfile.mkdtemp(prefix="tbl_union_")
    shutil.rmtree(out)
    try:
        encode_table(child, out, key_cols=["pj_pid"], n_parts=2)
        dec = decode_table(spark, out)
        root = tables["U"].select("pj_uid", "id")
        joined = dec.join(root, dec.pj_pid == root.pj_uid).select("id", "type0", "type1")
        got = {r["id"]: (r["type0"], r["type1"]) for r in joined.collect()}
        exp = {k: (k * 7, None) for k in range(100)}
        exp |= {100 + k: (None, f"s{k} é") for k in range(50)}
        assert got == exp
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_sql_views_over_encoded_table(spark):
    """spark.sql over the encoded store: register views and run plain SQL
    (aggregation + manifest introspection) against them."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        register_table_views,
    )

    df = spark.range(0, 500).selectExpr(
        "id AS k", "cast(id % 7 as int) AS v", "concat('g', id % 3) AS grp")
    out = tempfile.mkdtemp(prefix="tbl_sql_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["k"], n_parts=2)
        register_table_views(spark, out, "enc_tbl")
        got = {
            r["grp"]: (r["n"], r["sv"])
            for r in spark.sql(
                "SELECT grp, count(*) AS n, sum(v) AS sv FROM enc_tbl "
                "GROUP BY grp ORDER BY grp").collect()
        }
        exp = {
            r["grp"]: (r["n"], r["sv"])
            for r in df.groupBy("grp").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")).collect()
        }
        assert got == exp
        man = spark.sql(
            "SELECT count(DISTINCT column) AS c FROM enc_tbl_manifest").first()
        assert man["c"] == 3
    finally:
        spark.catalog.dropTempView("enc_tbl")
        spark.catalog.dropTempView("enc_tbl_manifest")
        shutil.rmtree(out, ignore_errors=True)


def test_sidecar_spec_roundtrip(spark):
    df = spark.createDataFrame(_all_type_rows()[:10], ALL_TYPES)
    out = tempfile.mkdtemp(prefix="tbl_spec_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["id"], n_parts=1)
        spec = read_table_spec(out)
        assert spec.schema == ALL_TYPES
        assert spec.key_cols == ["id"]
        assert spec.logicals["dec"] == "decimal(12,2)"
        assert spec.logicals["dw"] == "decimal128(38,4)"
    finally:
        shutil.rmtree(out, ignore_errors=True)


from hypothesis import given, settings
from hypothesis import strategies as hyp_st


@settings(max_examples=30, deadline=None)
@given(
    hyp_st.lists(
        hyp_st.one_of(
            hyp_st.none(),
            hyp_st.integers(min_value=-(2**100), max_value=2**100),
        ),
        min_size=0,
        max_size=400,
    )
)
def test_decimal128_kernel_roundtrip_property(unscaled):
    """Two-word lane property: ANY decimal128 unscaled value in +-2^100
    (straddling the int64 word boundary both ways), with arbitrary nulls,
    survives _encode_column/_decode_column bit-exactly."""
    import pyarrow as pa

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        _decode_column,
        _encode_column,
    )

    ptype = pa.decimal128(38, 4)
    vals = [None if u is None else Decimal(u).scaleb(-4) for u in unscaled]
    arr = pa.array(vals, type=ptype)
    valid_payload, payload, n_nulls, raw, name = _encode_column(
        arr, "decimal128(38,4)"
    )
    assert n_nulls == sum(v is None for v in vals)
    assert raw == 16 * len(vals)
    out = _decode_column(valid_payload, payload, "decimal128(38,4)", len(vals), ptype)
    assert out.equals(arr)


def test_table_sql_prunes_columns_and_pushes_zone_filters(spark):
    """table_sql's done-criteria: (1) the chunk scan's ReadSchema carries
    ONLY the referenced columns' payload/validity streams; (2) safe WHERE
    conjuncts land as zone-map filters in PushedFilters; (3) results equal
    the direct DataFrame computation."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import table_sql

    df = spark.range(2000).selectExpr(
        "id AS k",
        "cast(id % 11 as int) AS a",
        "cast(id % 7 as double) AS b",
        "concat('s', id % 5) AS s",
        "cast(id % 3 as int) AS unused",
    )
    out = tempfile.mkdtemp(prefix="tbl_sql_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["k"], n_parts=4, chunk_rows=128)
        res = table_sql(
            spark, out,
            "SELECT s, count(*) AS n, sum(b) AS sb FROM t "
            "WHERE k BETWEEN 100 AND 300 AND a >= 3 GROUP BY s",
            name="t",
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # (1) column pruning through the SQL surface: only k/a/b/s streams
        for col in ("k", "a", "b", "s"):
            assert f"{col}__payload" in plan
        assert "unused__payload" not in plan, plan
        # (2) zone-map predicates reached the parquet scan
        assert "PushedFilters" in plan
        assert "k__max" in plan and "k__min" in plan
        assert "a__max" in plan
        # (3) values correct vs direct computation
        got = {r["s"]: (r["n"], r["sb"]) for r in res.collect()}
        exp = {
            r["s"]: (r["n"], r["sb"])
            for r in df.filter("k BETWEEN 100 AND 300 AND a >= 3")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("b").alias("sb"))
            .collect()
        }
        assert got == exp
    finally:
        spark.catalog.dropTempView("t")
        spark.catalog.dropTempView("t_manifest")
        shutil.rmtree(out, ignore_errors=True)


def test_table_sql_safety_gates(spark):
    """Extraction refuses anything not provably safe: OR / CASE / JOIN /
    expression arithmetic never produce a chunk filter (a wrong prune is a
    wrong answer); SELECT * decodes all columns; count(*)-only decodes just
    the key column."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        TableSpec,
        referenced_table_columns,
        table_sql,
        zone_map_filter_for_sql,
    )

    spec = TableSpec(
        schema=T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("a", T.IntegerType(), True),
            T.StructField("b", T.DoubleType(), True),
        ]),
        key_cols=["k"],
    )
    # unsafe shapes -> no filter
    for sql in [
        "SELECT a FROM t WHERE a > 5 OR b < 2",
        "SELECT a FROM t WHERE NOT (a > 5)",
        "SELECT CASE WHEN a > 5 THEN 1 ELSE 0 END FROM t",
        "SELECT a FROM t JOIN u ON t.k = u.k WHERE a > 5",
        "SELECT a FROM other WHERE a > 5",
        "SELECT a FROM t WHERE a IN (1, 2)",
        "SELECT a FROM t",
    ]:
        assert zone_map_filter_for_sql(sql, spec, "t") is None, sql
    # expression conjuncts are ignored; plain conjuncts still prune
    f = zone_map_filter_for_sql(
        "SELECT a FROM t WHERE b - a > 5 AND a >= 3", spec, "t")
    assert f is not None and "a__max" in str(f) and "b__" not in str(f)
    # column referencing
    assert referenced_table_columns("SELECT * FROM t WHERE a > 1", spec) is None
    assert referenced_table_columns("SELECT count(*) AS n FROM t", spec) == ["k"]
    assert referenced_table_columns(
        "SELECT a, sum(b) FROM t GROUP BY a", spec) == ["a", "b"]
    # end-to-end: an OR query still answers correctly (no pruning, residual
    # WHERE applies on decoded rows)
    df = spark.range(500).selectExpr("id AS k", "cast(id % 11 as int) AS a",
                                     "cast(id % 7 as double) AS b")
    out = tempfile.mkdtemp(prefix="tbl_sql_gate_")
    shutil.rmtree(out)
    try:
        encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=64)
        n = table_sql(
            spark, out,
            "SELECT count(*) AS n FROM g WHERE a > 8 OR b < 1", name="g"
        ).first()["n"]
        assert n == df.filter("a > 8 OR b < 1").count()
    finally:
        spark.catalog.dropTempView("g")
        spark.catalog.dropTempView("g_manifest")
        shutil.rmtree(out, ignore_errors=True)


def test_map_lane_roundtrip(spark, tmp_path):
    """map<string,T> columns: three codec'd streams (entry lengths + keys +
    values), null maps via the validity stream, variable entry counts,
    string and numeric value lanes — bit-exact through encode/decode and
    stable under selective decode."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        decode_table,
        encode_table,
    )

    out = str(tmp_path / "tbl")
    df = spark.range(800).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(
            F.when(F.col("id") % 3 == 0, F.expr("map()")).otherwise(
                F.expr("map('a', cast(id as string), 'b', repeat('x', cast(id % 7 as int)))")
            )
        ).alias("ms"),
        F.expr("map('n', id, 'sq', id * id)").alias("ml"),
        F.expr("map('h', cast(id as double) / 3.0)").alias("md"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=128)

    def canon(rows):
        return sorted(
            (r.k,
             None if r.ms is None else sorted(r.ms.items()),
             sorted(r.ml.items()),
             sorted(r.md.items()))
            for r in rows
        )

    assert canon(decode_table(spark, out).collect()) == canon(df.collect())
    # selective decode of just one map column
    sel = decode_table(spark, out, columns=["k", "ml"])
    assert sel.columns == ["k", "ml"]
    got = {r.k: sorted(r.ml.items()) for r in sel.collect()}
    assert got[5] == [("n", 5), ("sq", 25)]


def test_map_lane_rejects_bad_shapes(spark, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table,
    )

    df = spark.range(5).select(
        F.col("id").alias("k"),
        F.expr("map(id, 'v')").alias("m"),  # non-string key
    )
    with pytest.raises(ValueError):
        encode_table(df, str(tmp_path / "x"), key_cols=["k"])
