"""array<struct<...>> column lane (round 5, VERDICT r04 #6): encode_table
auto-flattens an array-of-struct column into per-leaf ARRAY lanes (+ a
``·__elem`` per-element presence lane) and decode_table reassembles the
original shape in Arrow — bit-identical, selectively
decodable, DML-able, served through the DataSource and both streaming faces.
The reference handles array-of-record as a first-class rewrite (A5,
Avro.fs:221-290); this is the in-store analog. Also covers the round-5
kernel extension underneath it: interior nulls in plain array<T> lanes."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
    flatten_struct_schema,
    read_table_spec,
)


@pytest.fixture()
def out_dir():
    out = tempfile.mkdtemp(prefix="array_struct_lane_")
    shutil.rmtree(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _df(spark, lo=0, hi=300):
    """id + array<struct{a long, b string, ok boolean, inner struct{x double}}>
    exercising: null arrays (id%11), empty arrays (id%7), null elements
    (every 3rd slot), null fields, null inner structs, bool leaves."""
    return spark.range(lo, hi).select(
        F.col("id"),
        F.when(
            F.col("id") % 11 != 0,
            F.when(F.col("id") % 7 == 0, F.array().cast(
                "array<struct<a:long,b:string,ok:boolean,"
                "inner:struct<x:double>>>"))
            .otherwise(F.transform(
                F.sequence(F.lit(0), F.col("id") % 4),
                lambda i: F.when(i % 3 != 2, F.struct(
                    F.when(i % 2 == 0, F.col("id") * 10 + i).alias("a"),
                    F.concat(F.lit("t"), i).alias("b"),
                    (i % 2 == 0).alias("ok"),
                    F.when(i % 2 == 1, F.struct(
                        (F.col("id") / 2.0).alias("x"))).alias("inner"),
                )))),
        ).alias("tags"),
        (F.col("id") % 3).alias("grp"),
    )


def test_array_struct_roundtrip_bit_identical(spark, out_dir):
    df = _df(spark)
    encode_table(df, out_dir, key_cols=["id"], n_parts=4)
    back = decode_table(spark, out_dir).orderBy("id")
    assert [f.name for f in back.schema.fields] == ["id", "tags", "grp"]
    assert back.schema["tags"].dataType.simpleString() == (
        "array<struct<a:bigint,b:string,ok:boolean,inner:struct<x:double>>>"
    )
    assert back.collect() == _df(spark).orderBy("id").collect()


def test_null_vs_empty_vs_null_element(spark, out_dir):
    elem = "array<struct<a:long,b:string>>"
    rows = [(1, None), (2, []), (3, [None]), (4, [(None, "x")]), (5, [(7, None)])]
    df = spark.createDataFrame(rows, f"id long, s {elem}")
    encode_table(df, out_dir, key_cols=["id"], n_parts=2)
    got = {r.id: r.s for r in decode_table(spark, out_dir).collect()}
    assert got[1] is None
    assert got[2] == []
    assert got[3] == [None]
    assert got[4][0].a is None and got[4][0].b == "x"
    assert got[5][0].a == 7 and got[5][0].b is None


def test_interior_nulls_in_plain_array_lanes(spark, out_dir):
    """The kernel extension under the struct lane: plain array<T> columns
    now accept interior nulls (previously a hard reject)."""
    rows = [
        (1, [1, None, 3], ["a", None], [1.5, None]),
        (2, None, None, None),
        (3, [], [], []),
        (4, [None], [None, "z"], [2.5]),
    ]
    df = spark.createDataFrame(
        rows, "id long, xs array<bigint>, ss array<string>, ds array<double>")
    encode_table(df, out_dir, key_cols=["id"], n_parts=1)
    back = decode_table(spark, out_dir).orderBy("id")
    assert back.collect() == df.orderBy("id").collect()


def test_array_struct_selective_decode_and_leaf_lane(spark, out_dir):
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=4)
    only = decode_table(spark, out_dir, columns=["tags"])
    assert [f.name for f in only.schema.fields] == ["tags"]
    leaf = decode_table(spark, out_dir, columns=["tags·a", "id"]).orderBy("id")
    assert [f.name for f in leaf.schema.fields] == ["tags·a", "id"]
    want = {
        r.id: ([None if e is None else e.a for e in r.tags]
               if r.tags is not None else None)
        for r in _df(spark).collect()
    }
    assert {r.id: r["tags·a"] for r in leaf.collect()} == want


def test_array_struct_leaf_payload_pruning(spark, out_dir):
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=2)
    leaf = decode_table(spark, out_dir, columns=["id", "tags·a"])
    plan = leaf._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    line = scan[0]
    assert "tags·a__payload" in line
    assert "tags·b__payload" not in line
    assert "tags·inner·x__payload" not in line


def test_array_struct_decode_is_one_map_in_arrow(spark, out_dir):
    """Reassembly happens inside the chunk decoder: the executed plan is the
    chunk scan and one MapInArrow, with no arrays_zip/transform projection
    over the flat lanes."""
    encode_table(_df(spark), out_dir, key_cols=["id"], n_parts=2)
    plan = decode_table(spark, out_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "arrays_zip" not in plan and "transform" not in plan, plan


def test_array_struct_schema_evolution(spark, out_dir):
    base = spark.range(0, 100).select(F.col("id"))
    encode_table(base, out_dir, key_cols=["id"], n_parts=2)
    evolved = spark.range(100, 150).select(
        F.col("id"),
        F.array(F.struct(F.lit("n").alias("tag"))).alias("meta"),
    )
    encode_table(evolved, out_dir, key_cols=["id"], n_parts=2, run="r1")
    got = decode_table(spark, out_dir).orderBy("id").collect()
    assert len(got) == 150
    assert got[0].meta is None  # old rows: appended array decodes null
    assert got[149].meta[0].tag == "n"
    spec = read_table_spec(out_dir)
    assert spec.structs["cols"]["meta"]["type"] == "array"


def test_array_struct_dml(spark, out_dir):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where, update_where,
    )

    encode_table(_df(spark, 0, 200), out_dir, key_cols=["id"], n_parts=2)
    # DELETE rows whose array contains an element with b == "t3" (only
    # id%4==3 rows have a 4th slot, so plenty of matched AND surviving rows)
    cond = F.exists(F.col("tags"),
                    lambda x: x["b"] == F.lit("t3"))
    res = delete_where(spark, out_dir, cond)
    assert res["rows_deleted"] > 0
    back = decode_table(spark, out_dir)
    assert back.filter(F.coalesce(cond, F.lit(False))).count() == 0
    expect = _df(spark, 0, 200).filter(~F.coalesce(cond, F.lit(False)))
    assert back.count() == expect.count()

    # UPDATE: rewrite the array in place (append marker to every b)
    upd = update_where(
        spark, out_dir, F.col("tags").isNotNull() & (F.size("tags") > 0),
        {"tags": F.transform(
            F.col("tags"),
            lambda x: F.when(x.isNotNull(), F.struct(
                x["a"].alias("a"),
                F.concat(x["b"], F.lit("!")).alias("b"),
                x["ok"].alias("ok"),
                x["inner"].alias("inner"),
            )))},
    )
    assert upd["rows_updated"] > 0
    back = decode_table(spark, out_dir)
    bad = back.filter(
        F.exists(F.col("tags"),
                 lambda x: x.isNotNull() & ~x["b"].endswith("!")))
    assert bad.count() == 0


def test_array_struct_through_datasource(spark, out_dir):
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        register_table_datasource,
    )

    register_table_datasource(spark)
    df = _df(spark, 0, 150)
    (df.write.format("pandora_table").option("key_cols", "id")
       .mode("overwrite").save(out_dir))
    back = spark.read.format("pandora_table").load(out_dir)
    assert back.schema["tags"].dataType.simpleString() == (
        "array<struct<a:bigint,b:string,ok:boolean,inner:struct<x:double>>>"
    )
    assert back.orderBy("id").collect() == df.orderBy("id").collect()
    back.createOrReplaceTempView("asl_ds")
    got = spark.sql(
        "SELECT id, size(tags) AS n FROM asl_ds "
        "WHERE tags IS NOT NULL AND id < 30 ORDER BY id"
    ).collect()
    want = [(r.id, len(r.tags)) for r in df.orderBy("id").collect()
            if r.tags is not None and r.id < 30]
    assert [(r.id, r.n) for r in got] == want


def test_array_struct_through_streaming_source_and_sink(spark, out_dir, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        register_table_datasource, stream_encoded_table,
        stream_write_encoded_table,
    )

    register_table_datasource(spark)
    df = _df(spark, 0, 120)
    (df.write.format("pandora_table").option("key_cols", "id")
       .mode("overwrite").save(out_dir))
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_encoded_table(spark, out_dir)
    q = stream_write_encoded_table(
        stream, dst, ckpt, key_cols=["id"], app_id="asl-relay",
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    back = decode_table(spark, dst).orderBy("id")
    assert back.collect() == df.orderBy("id").collect()


def test_struct_containing_array_struct(spark, out_dir):
    """Nesting composes: a struct field that is itself array<struct> chains
    through both lanes."""
    rows = [
        (1, ((([(5, "p")]),))),
        (2, None),
        (3, ((None,))),
    ]
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("s", T.StructType([
            T.StructField("kids", T.ArrayType(T.StructType([
                T.StructField("a", T.LongType(), True),
                T.StructField("b", T.StringType(), True),
            ]), True), True),
        ]), True),
    ])
    df = spark.createDataFrame(rows, schema)
    encode_table(df, out_dir, key_cols=["id"], n_parts=1)
    got = {r.id: r.s for r in decode_table(spark, out_dir).collect()}
    assert got[1].kids[0].a == 5 and got[1].kids[0].b == "p"
    assert got[2] is None
    assert got[3].kids is None


def test_element_leaf_type_rejections(spark, out_dir):
    # array inside an array<struct> element: no lane — must explode first
    df = spark.range(0, 3).select(
        F.col("id"),
        F.array(F.struct(F.array(F.lit(1)).alias("xs"))).alias("s"),
    )
    with pytest.raises(ValueError, match="element leaves must be"):
        flatten_struct_schema(df.schema)
    # timestamp leaf: same rejection
    df2 = spark.range(0, 3).select(
        F.col("id"),
        F.array(F.struct(F.current_timestamp().alias("ts"))).alias("s"),
    )
    with pytest.raises(ValueError, match="element leaves must be"):
        flatten_struct_schema(df2.schema)


def test_elem_lane_name_collision_rejects(spark):
    shadow = spark.range(0, 3).select(
        F.col("id"),
        F.array(F.struct(F.lit(1).alias("__elem"))).alias("s"),
    )
    with pytest.raises(ValueError, match="collides"):
        flatten_struct_schema(shadow.schema)
