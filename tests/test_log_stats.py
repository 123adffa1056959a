"""Per-file stats in the table store's commit log, and the driver-side
planning built on them.

Every table-store ``add`` action carries exact per-file stats (row count,
per column null count, min and max, and the file's chunk ids). The driver
answers ``table_stats`` from them without a Spark job, and the DataSource
drops whole files from them at planning. Covered here:

* ``table_stats`` equals the Spark aggregate over the chunk stat columns
  (the pre-log-stats implementation, kept below as the reference) on typed,
  schema-evolved and DV-carrying tables, and starts 0 jobs;
* the DataSource plans only the files a pushed key range can match;
* a log without ``stats`` (written before they existed) reads and plans the
  same on every path, and ``checkpoint_log`` keeps the stats;
* a caller's ``chunk_filter`` is never evaluated on file stats.

Job counts come from ``statusTracker()`` job groups, never from timings."""

import datetime as dt
import json
import os
import shutil
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, LessThanOrEqual

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    checkpoint_log,
    committed_dv_actions,
    log_snapshot,
    read_log_checkpoint,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    compact_table,
    decode_table,
    delete_where,
    dv_delete_where,
    encode_table,
    load_dv_map,
    lookup_key_range,
    lookup_value,
    read_table_chunks,
    read_table_spec,
    table_sql,
    table_stats,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
    PandoraTableDataSource,
    read_encoded_table,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO


def _jobs(spark, name, fn):
    """(result of ``fn()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"log-stats-{name}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_stats(spark, out, columns=None):
    """The Spark scan + aggregate over the chunk stat columns that answered
    ``table_stats`` before the log carried per-file stats."""
    spec = read_table_spec(out)
    fields = [f for f in spec.schema.fields if columns is None or f.name in columns]
    if columns is not None:
        fields.sort(key=lambda f: columns.index(f.name))
    chunks = read_table_chunks(spark, out)
    dvm = load_dv_map(FsIO.resolve(out), committed_dv_actions(out))
    rows_expr = F.col("n_rows")
    if dvm:
        dv_counts = spark.createDataFrame(
            [(cid, len(pos)) for cid, pos in dvm.items()],
            "chunk_id string, __dvk long")
        chunks = chunks.join(F.broadcast(dv_counts), "chunk_id", "left")
        rows_expr = F.col("n_rows") - F.coalesce(F.col("__dvk"), F.lit(0))
    aggs = [F.sum(rows_expr).alias("__rows")]
    for f in fields:
        aggs += [F.sum(F.coalesce(F.col(f"{f.name}__nulls"), F.col("n_rows")))
                 .alias(f"{f.name}__tn"),
                 F.min(f"{f.name}__min").alias(f"{f.name}__mn"),
                 F.max(f"{f.name}__max").alias(f"{f.name}__mx")]

    def _s(name, which):
        col = F.col(f"{name}__{which}")
        if spec.logicals[name] == "binary":
            return F.hex(col)
        return col.cast("string")

    per_col = [F.struct(F.lit(f.name).alias("column"),
                        F.col("__rows").alias("n_rows"),
                        F.col(f"{f.name}__tn").alias("n_nulls"),
                        _s(f.name, "mn").alias("min_value"),
                        _s(f.name, "mx").alias("max_value"))
               for f in fields]
    return [tuple(r) for r in chunks.agg(*aggs)
            .select(F.explode(F.array(*per_col)).alias("s")).select("s.*")
            .collect()]


def _stats_rows(spark, out, columns=None):
    return [tuple(r) for r in table_stats(spark, out, columns=columns).collect()]


TYPED = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("i", T.IntegerType(), True),
    T.StructField("f", T.FloatType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("dec", T.DecimalType(10, 2), True),
    T.StructField("wide", T.DecimalType(25, 3), True),
    T.StructField("s", T.StringType(), True),
    T.StructField("b", T.BinaryType(), True),
    T.StructField("day", T.DateType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("flag", T.BooleanType(), True),
])


def _typed_rows(n=96):
    """Chunks of 4 rows per part: keys < 16 are null in every nullable
    column (all-null chunks), keys 16..31 hold NaN doubles (all-NaN
    chunks), and the rest mix values, including ±inf and NaN."""
    rows = []
    for k in range(n):
        if k < 16:
            rows.append((k,) + (None,) * 10)
            continue
        d = (float("nan") if k < 32 else
             float("inf") if k == 40 else float("-inf") if k == 41 else
             float("nan") if k % 7 == 0 else (k - 50) * 0.25)
        rows.append((
            k, k * 3 - 100, float(k) / 8, d,
            Decimal(k * 7 - 300) / 100, Decimal(k) * Decimal("123456789012.345"),
            f"s{k % 13:03d}é", bytes([k % 256, 255 - k % 256, 0]),
            dt.date(2020, 1, 1) + dt.timedelta(days=k * 11),
            dt.datetime(2021, 3, 4, 5, 6, 7) + dt.timedelta(seconds=k * 3601,
                                                            microseconds=k),
            k % 3 == 0,
        ))
    return rows


@pytest.fixture(scope="module")
def typed_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("log_stats") / "typed")
    df = spark.createDataFrame(_typed_rows(), TYPED)
    encode_table(df, out, key_cols=["k"], n_parts=3, chunk_rows=4)
    return out


def test_add_actions_carry_file_stats(typed_store):
    snap = log_snapshot(typed_store)
    assert snap.adds
    for add in snap.adds.values():
        st = add["stats"]
        assert st["numRecords"] > 0 and st["chunkIds"]
        assert set(st["nullCount"]) == {f.name for f in TYPED.fields}


def test_table_stats_is_a_driver_fold_equal_to_the_spark_aggregate(spark, typed_store):
    want = _spark_stats(spark, typed_store)
    got, jobs = _jobs(spark, "typed", lambda: _stats_rows(spark, typed_store))
    assert jobs == 0
    assert got == want
    sub = ["ts", "b", "k"]
    assert _stats_rows(spark, typed_store, sub) == _spark_stats(spark, typed_store, sub)


def test_table_stats_schema_evolved(spark, tmp_path):
    out = str(tmp_path / "evo")
    encode_table(spark.range(40).select(F.col("id").alias("k")), out,
                 key_cols=["k"], n_parts=2, chunk_rows=8)
    df2 = spark.range(40, 90).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 > 0, (F.col("id") * 0.5)).alias("extra"),
        F.when(F.col("id") > 60, F.concat(F.lit("v"), F.col("id").cast("string")))
        .alias("txt"))
    encode_table(df2, out, key_cols=["k"], n_parts=2, chunk_rows=8, run="r1")
    got, jobs = _jobs(spark, "evolved", lambda: _stats_rows(spark, out))
    assert jobs == 0
    assert got == _spark_stats(spark, out)
    # compaction promotes old files onto the evolved schema
    compact_table(out)
    assert _stats_rows(spark, out) == _spark_stats(spark, out) == got


def test_table_stats_with_dvs_compaction_and_cow(spark, tmp_path):
    out = str(tmp_path / "dv")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"),
        (F.col("id") * 1.5).alias("amt"))
    encode_table(df, out, key_cols=["k"], n_parts=4, chunk_rows=128)
    dv_delete_where(spark, out, F.col("g") == 3)
    assert _stats_rows(spark, out) == _spark_stats(spark, out)
    assert _stats_rows(spark, out)[0][1] == 2000 - len(range(3, 2000, 7))
    compact_table(out)
    assert _stats_rows(spark, out) == _spark_stats(spark, out)
    # a CoW rewrite mints new chunk ids: the DVs on the old ones are orphaned
    # and must not be subtracted again
    delete_where(spark, out, F.col("k") < 100)
    assert committed_dv_actions(out)  # still live in the log, but orphaned
    got, jobs = _jobs(spark, "dv", lambda: _stats_rows(spark, out))
    assert jobs == 0
    assert got == _spark_stats(spark, out)
    assert got[0][1] == decode_table(spark, out).count()


@pytest.fixture(scope="module")
def ranged_store(spark, tmp_path_factory):
    """Two appended runs over disjoint key ranges, so whole files prune."""
    out = str(tmp_path_factory.mktemp("log_stats") / "ranged")
    for run, lo in (("r0", 0), ("r1", 10_000)):
        df = spark.range(lo, lo + 600).select(
            F.col("id").alias("k"), (F.col("id") % 50).alias("p"),
            F.concat(F.lit("t"), (F.col("id") % 9).cast("string")).alias("tag"),
            F.col("id").cast("double").alias("x"))
        encode_table(df, out, key_cols=["k"], n_parts=3, chunk_rows=64,
                     run=run, bloom_cols=["p"])
    return out


def _strip_stats(src, dst):
    shutil.copytree(src, dst)
    log_dir = os.path.join(dst, "_log")
    for f in os.listdir(log_dir):
        if f.endswith(".json"):
            p = os.path.join(log_dir, f)
            lines = []
            for line in open(p).read().splitlines():
                e = json.loads(line)
                if "add" in e:
                    e["add"].pop("stats", None)
                lines.append(json.dumps(e))
            open(p, "w").write("\n".join(lines) + "\n")


def _answers(spark, out):
    def agg(df):
        return tuple(df.agg(F.count("*"), F.sum("x"), F.min("tag")).collect()[0])

    return {
        "stats": _stats_rows(spark, out),
        "decode": agg(decode_table(spark, out)),
        "key_range": agg(lookup_key_range(spark, out, 10_100, 10_300)),
        "key_miss": agg(lookup_key_range(spark, out, 700, 900)),
        "value": agg(lookup_value(spark, out, "p", 7)),
        "value_str": agg(lookup_value(spark, out, "tag", "t4")),
        "sql": [tuple(r) for r in table_sql(
            spark, out, "SELECT tag, count(*) AS n FROM li WHERE k >= 550 "
            "AND k < 10050 GROUP BY tag ORDER BY tag", "li").collect()],
        "pushdown": agg(read_encoded_table(spark, out).where(
            F.col("k").between(10_500, 20_000) & F.col("tag").isNotNull())),
    }


def test_log_without_stats_reads_the_same(spark, ranged_store, tmp_path):
    old = str(tmp_path / "old")
    _strip_stats(ranged_store, old)
    assert all("stats" not in a for a in log_snapshot(old).adds.values())
    assert _answers(spark, old) == _answers(spark, ranged_store)


def _planned(out, filters):
    """The files the DataSource plans to read under the pushed ``filters``."""
    src = PandoraTableDataSource(options={"path": out})
    reader = src.reader(src.schema())
    list(reader.pushFilters(filters))
    return sorted(p.value[0] for p in reader.partitions())


def test_datasource_plans_only_the_matching_run(ranged_store, tmp_path):
    in_r1 = [GreaterThanOrEqual(("k",), 10_100), LessThanOrEqual(("k",), 10_130)]
    got = _planned(ranged_store, in_r1)
    assert got and all(f.startswith("part-r1-") for f in got)
    assert _planned(ranged_store, [LessThan(("k",), 0)]) == []
    assert len(_planned(ranged_store, [])) == 6
    old = str(tmp_path / "old")
    _strip_stats(ranged_store, old)
    assert _planned(old, in_r1) == got
    assert _planned(old, [LessThan(("k",), 0)]) == []


def test_checkpoint_keeps_stats(spark, ranged_store, tmp_path):
    out = str(tmp_path / "ckpt")
    shutil.copytree(ranged_store, out)
    before = _stats_rows(spark, out)
    checkpoint_log(out, clean=True)
    adds = [e["add"] for e in read_log_checkpoint(out)[1] if "add" in e]
    assert adds and all("stats" in a for a in adds)
    assert _stats_rows(spark, out) == before
    assert _answers(spark, out) == _answers(spark, ranged_store)


def test_chunk_filter_column_is_never_evaluated_on_file_stats(spark, ranged_store):
    """``key_min > v`` is not monotone under a file's min of chunk mins: a
    file whose smallest key is below ``v`` still holds chunks whose
    ``key_min`` is above it, and those must be read."""
    v = 10_300
    chunks = read_table_chunks(spark, ranged_store).select("chunk_id", "key_min")
    keep = {r["chunk_id"] for r in chunks.collect() if r["key_min"] > v}
    assert keep
    full = decode_table(spark, ranged_store, meta_cols=["chunk_id"])
    want = sorted(r["k"] for r in full.collect() if r["chunk_id"] in keep)
    got = decode_table(spark, ranged_store, chunk_filter=F.col("key_min") > v)
    assert sorted(r["k"] for r in got.collect()) == want


# ------------------------------------------------ driver-built local frames


def test_driver_built_frames_come_from_arrow(spark, tmp_path):
    """The empty chunk frame of an empty store, the empty frame of a fully
    pruned Iceberg plan and a resumed encode's completed-part frame are
    local relations: collecting one starts no job, an aggregate over one
    starts one (a frame from a Python list is a parallelized RDD: 2)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        encode_tokens,
        part_id_frame,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import (
        synthesize_tokens,
    )

    def count(df):
        return df.agg(F.count(F.lit(1))).collect()[0][0]

    store = str(tmp_path / "empty_store")
    encode_tokens(synthesize_tokens(spark, 10).limit(0), store, n_parts=2)
    chunks = read_table_chunks(spark, store)
    assert _jobs(spark, "empty-chunks", chunks.collect) == ([], 0)
    assert _jobs(spark, "empty-chunks-agg", lambda: count(chunks)) == (0, 1)

    ice = str(tmp_path / "ice")
    write_iceberg(spark.range(20).select(F.col("id").alias("doc_id"),
                                         (F.col("id") % 2).alias("p")),
                  ice, partition_by="p")
    pruned = read_iceberg(spark, ice, partition_filter=lambda p: False)
    assert _jobs(spark, "empty-plan", pruned.collect) == ([], 0)
    assert _jobs(spark, "empty-plan-agg", lambda: count(pruned)) == (0, 1)

    done = part_id_frame(spark, [3, 1, 2])
    assert done.schema.simpleString() == "struct<part_id:int>"
    rows, jobs = _jobs(spark, "done", done.collect)
    assert sorted(r[0] for r in rows) == [1, 2, 3] and jobs == 0


# ------------------------------------------------------- NaN in zone maps


def test_nan_rows_survive_every_pruned_read(spark, tmp_path):
    """Spark orders NaN above every double, so ``d > 5`` holds for NaN
    rows. A chunk holding a NaN records it as its max (and an all-NaN chunk
    as its min too); otherwise the SQL zone map, a ``chunk_filter`` and the
    DataSource pushdown all drop those rows."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        column_range_filter,
    )

    out = str(tmp_path / "nan")
    # one part, 4-row chunks: chunk 0 is all NaN, the others half NaN
    rows = [(k, float("nan") if k < 4 or k % 2 else float(k % 5))
            for k in range(16)]
    encode_table(spark.createDataFrame(rows, "k long, d double"), out,
                 key_cols=["k"], n_parts=1, chunk_rows=4)
    want = sum(1 for _, d in rows if d != d or d > 5)
    assert decode_table(spark, out).where("d > 5").count() == want == 10
    got_sql = table_sql(spark, out, "SELECT count(*) AS n FROM t WHERE d > 5", "t")
    assert got_sql.first()["n"] == want
    pruned = decode_table(spark, out,
                          chunk_filter=column_range_filter("d", 5.0, None))
    assert pruned.where("d > 5").count() == want
    for op in (">", ">="):
        assert read_encoded_table(spark, out).where(f"d {op} 5").count() == want
    assert read_encoded_table(spark, out).where("d < 5").count() == 6
