"""pandora_table Python DataSource: Catalyst-integrated reads of the encoded
store — filter pushdown into zone maps (file-level at planning, chunk-level on
executors), the columns option, as_of, schema evolution, and correctness vs
decode_table."""

import shutil
import tempfile
from datetime import date

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
)

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    committed_files,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
    encode_table_scan,
    read_table_spec,
    zone_filter,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
    PandoraTableDataSource,
    _decode_file_batches,
    read_encoded_table,
    register_table_datasource,
)


def _mkdir():
    out = tempfile.mkdtemp(prefix="tbl_ds_")
    shutil.rmtree(out)
    return out


@pytest.fixture(scope="module")
def store(spark):
    """Range-partitioned scan-mode encode: 4 files with DISJOINT id ranges,
    so planning-time file pruning is observable."""
    df = spark.range(20000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("d"), F.col("id")).alias("tag"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") * 1.5).alias("val"),
    )
    out = _mkdir()
    encode_table_scan(df.repartitionByRange(4, "id").sortWithinPartitions("id"),
                      out, key_cols=["id"])
    yield out, df
    shutil.rmtree(out, ignore_errors=True)


def test_datasource_full_read_matches_decode_table(spark, store):
    out, df = store
    ds = read_encoded_table(spark, out).orderBy("id")
    assert ds.collect() == df.orderBy("id").collect()
    assert ds.schema == decode_table(spark, out).schema


def test_datasource_columns_option_prunes_schema(spark, store):
    out, df = store
    ds = read_encoded_table(spark, out, columns=["grp", "val"])
    assert [f.name for f in ds.schema.fields] == ["grp", "val"]
    got = {r["grp"]: r["n"] for r in
           ds.groupBy("grp").agg(F.count("val").alias("n")).collect()}
    want = {r["grp"]: r["n"] for r in
            df.groupBy("grp").agg(F.count("val").alias("n")).collect()}
    assert got == want
    with pytest.raises(Exception, match="columns not in encoded table"):
        read_encoded_table(spark, out, columns=["nope"]).count()


def test_datasource_where_results_exact(spark, store):
    out, df = store
    register_table_datasource(spark)
    read_encoded_table(spark, out).createOrReplaceTempView("ds_t")
    got = spark.sql(
        "SELECT grp, count(*) AS n FROM ds_t "
        "WHERE id >= 17000 AND val IS NOT NULL GROUP BY grp ORDER BY grp"
    ).collect()
    want = (
        df.where("id >= 17000 AND val IS NOT NULL")
        .groupBy("grp").agg(F.count("*").alias("n")).orderBy("grp").collect()
    )
    assert got == want


def _reader_for(out, filters):
    src = PandoraTableDataSource(options={"path": out})
    reader = src.reader(src.schema())
    residual = list(reader.pushFilters(filters))
    return reader, residual


def test_pushdown_prunes_files_at_planning(store):
    out, _ = store
    reader, residual = _reader_for(out, [GreaterThanOrEqual(("id",), 19000)])
    assert len(residual) == 1  # everything stays residual (Spark re-applies)
    # ids are range-partitioned across 4 files; >= 19000 lives in ONE file
    assert len(reader.partitions()) == 1
    full, _ = _reader_for(out, [])
    assert len(full.partitions()) == 4


@pytest.mark.parametrize(
    "flt,nfiles",
    [
        (LessThan(("id",), 3000), 1),
        (EqualTo(("id",), 12345), 1),
        (In(("id",), (100, 200)), 1),
        (In(("id",), (100, 19999)), 2),  # a file stays if it may hold some listed value
        (IsNotNull(("id",)), 4),
        (EqualTo(("tag",), "zzz"), 0),  # string stats prune: "zzz" > max tag
    ],
)
def test_pushdown_file_pruning_cases(store, flt, nfiles):
    out, _ = store
    reader, _ = _reader_for(out, [flt])
    assert len(reader.partitions()) == nfiles


def test_pushdown_null_tests(spark, store):
    out, df = store
    register_table_datasource(spark)
    ds = read_encoded_table(spark, out)
    assert ds.where("val IS NULL").count() == df.where("val IS NULL").count()
    # grp is never null -> IsNull can prune every file at planning
    reader, _ = _reader_for(out, [IsNull(("grp",))])
    assert len(reader.partitions()) == 0
    assert ds.where("grp IS NULL").count() == 0


def test_pushed_array_comparison_is_residual_only(spark):
    """Spark pushes `xs = array(...)` to the reader; array lanes have no
    zone map, so the comparison must not reach the chunk filter (it used to
    fail the read) and the residual filter answers it."""
    out = _mkdir()
    try:
        df = spark.range(50).select(
            F.col("id"), F.array(F.col("id").cast("int"), F.lit(1)).alias("xs"))
        encode_table(df, out, key_cols=["id"], n_parts=2)
        got = read_encoded_table(spark, out).where("xs = array(3, 1)")
        assert [r.id for r in got.collect()] == [3]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_datasource_as_of_and_schema_evolution(spark):
    """Append a second run adding a column; as_of sees version 0; a filter on
    the new column prunes the pre-evolution file entirely."""
    base = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("a"))
    out = _mkdir()
    try:
        encode_table(base, out, key_cols=["id"], n_parts=1)
        evolved = spark.range(100, 200).select(
            F.col("id"), (F.col("id") * 2).alias("a"),
            F.when(F.col("id").isNotNull(),
                   F.concat(F.lit("x"), F.col("id"))).alias("b"),  # nullable
        )
        encode_table(evolved, out, key_cols=["id"], n_parts=1, run="r1")

        ds = read_encoded_table(spark, out)
        assert ds.count() == 200
        # old rows surface the evolved column as null
        assert ds.where("b IS NULL").count() == 100
        # planning: b IS NOT NULL can only match the post-evolution file
        reader, _ = _reader_for(out, [IsNotNull(("b",))])
        assert len(reader.partitions()) == 1
        reader2, _ = _reader_for(out, [EqualTo(("b",), "x150")])
        assert len(reader2.partitions()) == 1
        assert ds.where("b = 'x150'").count() == 1

        v0 = read_encoded_table(spark, out, as_of=0)
        assert v0.count() == 100 and "b" in [f.name for f in v0.schema.fields]
        assert v0.where("b IS NOT NULL").count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_datasource_join_shape_pushdown(spark, store):
    """Predicates reach the scan through arbitrary plan shapes (here a join),
    which the table_sql text path refuses — the DataSource's advantage."""
    out, df = store
    register_table_datasource(spark)
    read_encoded_table(spark, out).createOrReplaceTempView("ds_big")
    dim = spark.createDataFrame([(0, "even7"), (3, "three")], "grp long, name string")
    dim.createOrReplaceTempView("ds_dim")
    got = spark.sql(
        "SELECT d.name, count(*) AS n FROM ds_big b JOIN ds_dim d USING (grp) "
        "WHERE b.id < 1000 GROUP BY d.name ORDER BY d.name"
    ).collect()
    want = (
        df.where("id < 1000").join(dim, "grp")
        .groupBy("name").agg(F.count("*").alias("n")).orderBy("name").collect()
    )
    assert got == want


@pytest.fixture(scope="module")
def parity_store(spark):
    """2 files of 25-row chunks over ids 0..399: a ``long`` key, a
    ``double`` holding NaN (every 10th row of the first file, and the last
    chunk all NaN) and nulls, a ``string`` with nulls and a ``date``."""
    df = spark.range(400).select(
        F.col("id"),
        F.when(((F.col("id") % 10 == 0) & (F.col("id") < 200))
               | (F.col("id") >= 375), F.lit(float("nan")))
        .when(F.col("id") % 7 == 3, None)
        .otherwise(F.col("id").cast("double")).alias("v"),
        F.when(F.col("id") % 11 == 4, None)
        .otherwise(F.format_string("s%04d", F.col("id"))).alias("s"),
        F.date_add(F.lit("2026-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
    )
    out = _mkdir()
    encode_table_scan(df.repartitionByRange(2, "id").sortWithinPartitions("id"),
                      out, key_cols=["id"], chunk_rows=25)
    yield out, df
    shutil.rmtree(out, ignore_errors=True)


_NAN = float("nan")
_PARITY = [
    ("id < 100", [("lt", "id", 100)]),
    ("id <= 100", [("le", "id", 100)]),
    ("id > 300", [("gt", "id", 300)]),
    ("id >= 300", [("ge", "id", 300)]),
    ("id = 150", [("eq", "id", 150)]),
    ("id BETWEEN 120 AND 180", [("ge", "id", 120), ("le", "id", 180)]),
    ("id IN (5, 395)", [("in", "id", (5, 395))]),
    ("v < 100", [("lt", "v", 100.0)]),
    ("v <= 100", [("le", "v", 100.0)]),
    ("v > 300", [("gt", "v", 300.0)]),
    ("v >= 300", [("ge", "v", 300.0)]),
    ("v = 150", [("eq", "v", 150.0)]),
    ("v BETWEEN 120 AND 180", [("ge", "v", 120.0), ("le", "v", 180.0)]),
    ("v < double('NaN')", [("lt", "v", _NAN)]),
    ("v <= double('NaN')", [("le", "v", _NAN)]),
    ("v > double('NaN')", [("gt", "v", _NAN)]),
    ("v >= double('NaN')", [("ge", "v", _NAN)]),
    ("v = double('NaN')", [("eq", "v", _NAN)]),
    ("v IN (double('NaN'), 5.0)", [("in", "v", (_NAN, 5.0))]),
    ("v IN (5.0, NULL)", [("in", "v", (5.0, None))]),
    ("s < 's0100'", [("lt", "s", "s0100")]),
    ("s = 's0150'", [("eq", "s", "s0150")]),
    ("s >= 's0300'", [("ge", "s", "s0300")]),
    ("s IN ('s0005', NULL)", [("in", "s", ("s0005", None))]),
    ("d < date'2026-02-01'", [("lt", "d", date(2026, 2, 1))]),
    ("d = date'2026-06-01'", [("eq", "d", date(2026, 6, 1))]),
    ("d >= date'2026-12-01'", [("ge", "d", date(2026, 12, 1))]),
    ("v IS NULL", [("isnull", "v", None)]),
    ("v IS NOT NULL", [("notnull", "v", None)]),
    ("s IS NULL", [("isnull", "s", None)]),
    ("s IS NOT NULL", [("notnull", "s", None)]),
]


def test_pushdown_parity_matrix(spark, parity_store):
    """Every pruned read answers like the unpruned source: the DataSource
    (file and chunk tiers, judged in Python) and ``decode_table`` with the
    same conjuncts rendered by ``zone_filter`` (judged by Spark)."""
    out, df = parity_store
    ds = read_encoded_table(spark, out)
    wrong = []
    for pred, conjuncts in _PARITY:
        want = df.where(pred).count()
        got = (ds.where(pred).count(),
               decode_table(spark, out, chunk_filter=zone_filter(conjuncts))
               .where(pred).count())
        if got != (want, want):
            wrong.append((pred, want, got))
    assert not wrong, wrong

    # the chunk tier prunes: a selective key range decodes fewer chunks
    spec_json = read_table_spec(out).to_json()
    files = committed_files(out)
    assert len(files) == 2

    def n_chunks(zone):
        return sum(1 for f in files
                   for _ in _decode_file_batches(out, spec_json, ["id"], zone, f))

    pruned = n_chunks([("ge", "id", 120), ("le", "id", 180)])
    assert 0 < pruned < n_chunks([]) == 16
