"""SparkSession builder tuned for the engine.

Local defaults mirror what a 1000-executor cluster deployment would set:
AQE on (runtime re-plan + skew-join splitting), Arrow execution on (every
UDF in this engine is Arrow-vectorized), shuffle partitions sized to cores.

A Python task used to carry a fixed cost of about 0.2 CPU-s before any user
code ran (4-vCPU Xeon VM, CPython 3.11, PySpark 4.1). Nearly all of it was
PySpark's per-task ``importlib.invalidate_caches()``: before CPython 3.13,
every ``zipimporter`` on the worker's path re-reads its whole archive
directory at once (about a dozen importers into ``pyspark.zip``, two into
the spark-core jar). On small inputs that cost, not the vectorized kernels,
dominated an op's CPU time. The engine package now makes that reload lazy
in each worker, as CPython 3.13 does (``_zipimport``), the first time the
worker unpickles an engine UDF; so the cost is paid once per worker, for
its first task, and a reused worker's later tasks pay under 1 ms. A task
still costs a scheduling round trip and a worker hand-off, so the engine
also cuts the tasks and jobs that buy no parallelism:

* a scan of more than 32 paths (an Iceberg plan) lists them in at most
  ``cores`` tasks, not one task per path;
* token-store and table-store reads pass their known chunk schema, so
  planning them starts no footer-inference job.

Scan splits and shuffle reducers stay sized to the cores. Sizing them by
bytes (``files.minPartitionNum=1``, AQE ``parallelismFirst=false``) nearly
halved tokens-iceberg's CPU per op, but an input below cores x 128 MB (a
shuffle below cores x 64 MB) then runs on fewer tasks than cores, and on a
4-core session a token pipeline inside that band lost 7-17 % of its wall
time (decode of an 86 MB store on one task instead of four, encode of an
even 126 MB shuffle on three reducers instead of four).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: allocator tuning inherited by the JVM and its Python workers: the system
#: Arrow pool and high glibc mmap/trim thresholds stop the constant
#: mmap/munmap + madvise churn of jemalloc-style purging, which on this
#: sandbox's discard-mounted ext4 + 32 worker processes showed up as >90%
#: kernel time (TLB-shootdown storms). Harmless elsewhere.
_ALLOCATOR_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def get_spark(app: str = "pandora-token-columnar", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or re-tune) the engine's session. ``master`` defaults to
    ``SPARK_GRAFT_MASTER``, else ``local[SPARK_GRAFT_CPUS]``;
    ``shuffle_partitions`` defaults to the core count. The core count also
    bounds the tasks that list a scan's paths (see the module docstring)."""
    for k, v in _ALLOCATOR_ENV.items():
        os.environ.setdefault(k, v)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n = (os.cpu_count() or 32) if cores == "*" else int(cores)
    sp = shuffle_partitions or n
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill dirs on tmpfs when available: this sandbox's disk is
    # discard-mounted ext4, and the TRIM issued when a JVM deletes its shuffle
    # files at exit poisons subsequent jobs with kernel time; tmpfs deletes
    # are free (a real cluster would point spark.local.dir at local NVMe)
    if os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in _ALLOCATOR_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    return b.getOrCreate()
