"""Task shape of the token pipeline: token-store reads plan without a Spark
job, path listing runs in at most one task per core, and scans and
shuffles below the 128 MB / 64 MB split sizes still spread over the cores
(``session.get_spark`` explains why they are not sized by bytes).

Every count comes from ``sparkContext.statusTracker()`` job groups and stage
infos, never from timings. The input is an Iceberg token table with more
than 32 data files, so Spark lists its paths in a distributed job."""

import os

import pytest

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import decode_tokens
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    encode_tokens,
    read_manifest,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import read_table_chunks
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import write_iceberg
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import (
    scan_tokens,
    synthesize_tokens,
)

N_FILES = 40  # above spark.sql.sources.parallelPartitionDiscovery.threshold (32)
N_PARTS = 8


def _tree_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


class _Group:
    """Run a block under its own job group and record, once the listener bus
    has drained, every stage that ran: ``stages`` maps its id to its task
    count, ``shuffle_read`` to the shuffle bytes it read."""

    def __init__(self, spark, name):
        self.sc, self.name = spark.sparkContext, f"task-shape-{name}"

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        self.jobs = sorted(st.getJobIdsForGroup(self.name))
        store = self.sc._jsc.sc().statusStore()
        self.stages, self.shuffle_read = {}, {}
        for j in self.jobs:
            for s in st.getJobInfo(j).stageIds:
                info = st.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    self.stages[s] = info.numTasks
                    self.shuffle_read[s] = store.lastStageAttempt(s).shuffleReadBytes()


@pytest.fixture(scope="module")
def shape(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("task_shape")
    ice, out = str(d / "ice"), str(d / "store")
    # one data file per generator partition (unpartitioned table)
    write_iceberg(synthesize_tokens(spark, 3000, seed=5, parallelism=N_FILES), ice)
    got = {"ice_bytes": _tree_bytes(os.path.join(ice, "data"))}

    with _Group(spark, "scan") as g:
        src = scan_tokens(spark, ice)
    got["scan"] = g
    with _Group(spark, "encode") as g:
        encode_tokens(src, out, n_parts=N_PARTS)
    got["encode"] = g
    got["store_bytes"] = _tree_bytes(os.path.join(out, "data"))
    got["store_files"] = len([f for f in os.listdir(os.path.join(out, "data"))
                              if f.endswith(".parquet")])
    with _Group(spark, "plan") as g:
        for df in (read_manifest(spark, out), read_table_chunks(spark, out),
                   decode_tokens(spark, out)):
            df.schema
    got["plan"] = g
    with _Group(spark, "decode") as g:
        decode_tokens(spark, out).write.format("noop").mode("overwrite").save()
    got["decode"] = g
    return got


def test_fixture_shape(shape):
    assert shape["ice_bytes"] < 64 << 20
    assert shape["store_bytes"] < 128 << 20
    assert 1 < shape["store_files"] <= 32


def test_token_store_reads_plan_without_jobs(shape):
    assert shape["plan"].jobs == []


def test_listing_job_bounded_by_default_parallelism(spark, shape):
    g = shape["scan"]
    assert g.jobs, "a scan of more than 32 paths lists them in a Spark job"
    assert max(g.stages.values()) <= spark.sparkContext.defaultParallelism


def test_decode_small_store_spreads_over_cores(shape):
    tasks = list(shape["decode"].stages.values())
    assert len(tasks) == 1
    assert 1 < tasks[0] <= shape["store_files"]


def test_encode_small_shuffle_spreads_over_reducers(spark, shape):
    g = shape["encode"]
    # the grouped-map stage is the one stage that reads the shuffle
    reducers = [s for s, b in g.shuffle_read.items() if b > 0]
    assert len(reducers) == 1
    assert 0 < g.shuffle_read[reducers[0]] < 64 << 20
    assert 1 < g.stages[reducers[0]] <= spark.sparkContext.defaultParallelism
