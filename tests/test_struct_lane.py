"""Struct column lane (round 4): encode_table auto-flattens struct columns
into per-leaf codec'd lanes (+ a presence lane) and decode_table reassembles
the original shape — bit-identical, selectively decodable, zone-prunable per
leaf, evolvable."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
    flatten_struct_schema,
    read_table_spec,
)


@pytest.fixture()
def out_dir():
    out = tempfile.mkdtemp(prefix="struct_lane_")
    shutil.rmtree(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _df(spark, lo=0, hi=1000):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.when(F.col("id") % 7 != 0, F.struct(
            (F.col("id") % 5).cast("int").alias("a"),
            F.concat(F.lit("v"), F.col("id")).alias("b"),
            F.when(F.col("id") % 3 == 0, F.struct(
                (F.col("id") * 2).alias("x"),
            )).alias("inner"),
        )).alias("s"),
        (F.col("id") % 3).alias("grp"),
    )


def test_struct_roundtrip_bit_identical(spark, out_dir):
    df = _df(spark)
    encode_table(df, out_dir, key_cols=["id"], n_parts=4)
    back = decode_table(spark, out_dir).orderBy("id")
    assert [f.name for f in back.schema.fields] == ["id", "s", "grp"]
    assert back.schema["s"].dataType.simpleString() == (
        "struct<a:int,b:string,inner:struct<x:bigint>>"
    )
    assert back.collect() == _df(spark).orderBy("id").collect()


def test_struct_null_vs_struct_of_nulls(spark, out_dir):
    """Presence lane distinguishes a NULL struct from a struct whose every
    leaf is null."""
    rows = [(1, None), (2, (None, None)), (3, ("x", 9))]
    df = spark.createDataFrame(
        rows, "id long, s struct<a:string,b:long>"
    )
    encode_table(df, out_dir, key_cols=["id"], n_parts=2)
    got = {r.id: r.s for r in decode_table(spark, out_dir).collect()}
    assert got[1] is None
    assert got[2] is not None and got[2].a is None and got[2].b is None
    assert got[3].a == "x" and got[3].b == 9


def test_struct_selective_decode_and_leaf_lane(spark, out_dir):
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=4)
    only_s = decode_table(spark, out_dir, columns=["s"])
    assert [f.name for f in only_s.schema.fields] == ["s"]
    leaf = decode_table(spark, out_dir, columns=["s·a", "id"]).orderBy("id")
    assert [f.name for f in leaf.schema.fields] == ["s·a", "id"]
    want = {r.id: (r.s.a if r.s else None) for r in _df(spark).collect()}
    assert {r.id: r["s·a"] for r in leaf.collect()} == want


def test_struct_leaf_zone_pruning(spark, out_dir):
    """Each leaf is a first-class lane: a chunk_filter on its zone map prunes
    like any scalar column."""
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=4,
                 chunk_rows=100)
    pruned = decode_table(
        spark, out_dir, columns=["id", "s"],
        chunk_filter=(F.col("key_min") <= 50) & (F.col("key_max") >= 50),
    )
    assert 0 < pruned.count() < 1000
    rows = {r.id for r in pruned.collect()}
    assert 50 in rows


def test_struct_schema_evolution_appends_struct(spark, out_dir):
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).alias("grp"))
    encode_table(base, out_dir, key_cols=["id"], n_parts=2)
    evolved = spark.range(100, 150).select(
        F.col("id"), (F.col("id") % 3).alias("grp"),
        F.struct(F.lit("n").alias("tag")).alias("meta"),
    )
    encode_table(evolved, out_dir, key_cols=["id"], n_parts=2, run="r1")
    got = decode_table(spark, out_dir).orderBy("id").collect()
    assert len(got) == 150
    # old rows decode the appended struct as null (presence lane is null)
    assert got[0].meta is None
    assert got[149].meta.tag == "n"
    # shape is recorded in the sidecar
    spec = read_table_spec(out_dir)
    assert "meta" in spec.structs["cols"]


def test_struct_shape_immutable(spark, out_dir):
    df = spark.range(0, 10).select(
        F.col("id"), F.struct(F.lit(1).alias("a")).alias("s"))
    encode_table(df, out_dir, key_cols=["id"], n_parts=1)
    changed = spark.range(10, 20).select(
        F.col("id"),
        F.struct(F.lit(1).alias("a"), F.lit("y").alias("b")).alias("s"),
    )
    with pytest.raises(ValueError, match="shape change"):
        encode_table(changed, out_dir, key_cols=["id"], n_parts=1, run="r1")


def test_struct_leaf_payload_pruning(spark, out_dir):
    """Selective leaf decode must push column pruning into the chunk scan:
    asking for one leaf reads that leaf's payload stream only — the other
    leaves' payloads never leave parquet."""
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=2)
    leaf = decode_table(spark, out_dir, columns=["id", "s·a"])
    plan = leaf._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    line = scan[0]
    assert "s·a__payload" in line
    assert "s·b__payload" not in line and "s·inner·x__payload" not in line


def test_struct_dml_roundtrip(spark, out_dir):
    """DELETE / UPDATE / MERGE on a struct table: conditions and assignments
    address the ORIGINAL shape (s.a), the copy-on-write rewrite re-splits
    the struct into its physical lanes."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where, merge_table, update_where,
    )

    encode_table(_df(spark, 0, 200), out_dir, key_cols=["id"], n_parts=2)

    # DELETE rows via a struct-leaf predicate
    res = delete_where(spark, out_dir, F.col("s.a") == 4)
    assert res["rows_deleted"] > 0
    back = decode_table(spark, out_dir)
    assert back.filter(F.col("s.a") == 4).count() == 0
    expect = _df(spark, 0, 200).filter(
        ~F.coalesce(F.col("s.a") == 4, F.lit(False)))
    assert back.count() == expect.count()

    # UPDATE a whole struct from its pre-update value
    res = update_where(
        spark, out_dir, F.col("s.a") == 1,
        {"s": F.struct(
            (F.col("s.a") + 10).alias("a"),
            F.concat(F.col("s.b"), F.lit("!")).alias("b"),
            F.col("s.inner").alias("inner"),
        )},
    )
    assert res["rows_updated"] > 0
    back = decode_table(spark, out_dir)
    assert back.filter(F.col("s.a") == 1).count() == 0
    assert back.filter(F.col("s.a") == 11).count() == res["rows_updated"]
    assert back.filter(F.col("s.a") == 11).filter(
        ~F.col("s.b").endswith("!")).count() == 0

    # MERGE a source in the original (struct) shape: replace + insert
    source = _df(spark, 195, 210).withColumn(
        "s", F.when(F.col("s").isNotNull(), F.struct(
            F.lit(99).cast("int").alias("a"),
            F.lit("merged").alias("b"),
            F.col("s.inner").alias("inner"),
        )))
    res = merge_table(spark, out_dir, source)
    back = decode_table(spark, out_dir).cache()
    assert back.filter(F.col("id") >= 200).count() == 10  # inserts landed
    merged = back.filter((F.col("id") >= 195) & F.col("s").isNotNull())
    assert merged.filter(F.col("s.b") != "merged").count() == 0
    # a wrong-shaped source still rejects
    bad = spark.range(0, 3).select(
        F.col("id"), F.struct(F.lit(1).alias("zz")).alias("s"),
        F.lit(0).cast("long").alias("grp"))
    with pytest.raises(ValueError, match="must match"):
        merge_table(spark, out_dir, bad)
    back.unpersist()


def test_struct_recluster_roundtrip(spark, out_dir):
    """recluster_table re-encodes the decoded (original-shape) frame: the
    encode kernel splits the struct itself, so the rows come back equal."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        recluster_table,
    )

    encode_table(_df(spark, 0, 200), out_dir, key_cols=["id"], n_parts=2)
    res = recluster_table(spark, out_dir, by=["grp"], n_parts=2)
    assert res["files_after"] >= 1
    back = decode_table(spark, out_dir).orderBy("id")
    assert back.collect() == _df(spark, 0, 200).orderBy("id").collect()


def test_struct_through_datasource(spark, out_dir):
    """The pandora_table DataSource serves struct tables in their ORIGINAL
    shape on read (s is a struct, s.a addressable in SQL) and accepts
    struct frames on write (sink splits them to the physical lanes)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        register_table_datasource,
    )

    register_table_datasource(spark)
    df = _df(spark, 0, 300)
    # write path: struct frame straight through df.write.format(...)
    (df.write.format("pandora_table").option("key_cols", "id")
       .mode("overwrite").save(out_dir))
    back = (
        spark.read.format("pandora_table").load(out_dir)
    )
    assert back.schema["s"].dataType.simpleString() == (
        "struct<a:int,b:string,inner:struct<x:bigint>>"
    )
    assert back.orderBy("id").collect() == df.orderBy("id").collect()
    # SQL over struct fields + scalar filter pushdown still works
    back.createOrReplaceTempView("struct_ds")
    got = spark.sql(
        "SELECT id, s.a AS a FROM struct_ds WHERE id BETWEEN 10 AND 20 "
        "AND s.a IS NOT NULL ORDER BY id"
    ).collect()
    want = [
        (r.id, r.s.a) for r in df.orderBy("id").collect()
        if 10 <= r.id <= 20 and r.s is not None
    ]
    assert [(r.id, r.a) for r in got] == want
    # columns option: original struct name and a single flat leaf both serve
    only_s = (spark.read.format("pandora_table")
              .option("columns", "id,s").load(out_dir))
    assert [f.name for f in only_s.schema.fields] == ["id", "s"]
    leaf = (spark.read.format("pandora_table")
            .option("columns", "id,s·a").load(out_dir))
    assert leaf.columns == ["id", "s·a"]
    assert leaf.count() == 300


def test_struct_through_streaming_source_and_sink(spark, out_dir, tmp_path):
    """Struct columns ride BOTH streaming faces: the commit-log tail serves
    the original shape, and the stream sink re-splits it — store → stream →
    store, decoded result equal to the source frame."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        register_table_datasource, stream_encoded_table,
        stream_write_encoded_table,
    )

    register_table_datasource(spark)
    df = _df(spark, 0, 200)
    (df.write.format("pandora_table").option("key_cols", "id")
       .mode("overwrite").save(out_dir))
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_encoded_table(spark, out_dir)
    assert stream.schema["s"].dataType.simpleString() == (
        "struct<a:int,b:string,inner:struct<x:bigint>>"
    )
    q = stream_write_encoded_table(
        stream, dst, ckpt, key_cols=["id"], app_id="struct-relay",
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    back = decode_table(spark, dst).orderBy("id")
    assert back.collect() == df.orderBy("id").collect()


def test_struct_key_col_rejected_and_separator_collision(spark, out_dir):
    df = spark.range(0, 10).select(
        F.col("id"), F.struct(F.lit(1).alias("a")).alias("s"))
    with pytest.raises(ValueError, match="may not be a struct"):
        encode_table(df, out_dir, key_cols=["s"], n_parts=1)
    clash = df.withColumnRenamed("id", "x·y")
    with pytest.raises(ValueError, match="separator"):
        flatten_struct_schema(clash.schema)


def test_struct_field_name_collisions_reject(spark):
    """A nested field named '__set' (or containing the separator) would
    alias two flat lanes onto one name — both reject up front."""
    shadow = spark.range(0, 3).select(
        F.col("id"),
        F.struct(F.lit(True).alias("__set"), F.lit(1).alias("a")).alias("s"),
    )
    with pytest.raises(ValueError, match="collides"):
        flatten_struct_schema(shadow.schema)
    sep = spark.range(0, 3).select(
        F.col("id"), F.struct(F.lit(1).alias("a·b")).alias("s"))
    with pytest.raises(ValueError, match="collides"):
        flatten_struct_schema(sep.schema)
