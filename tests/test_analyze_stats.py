"""ANALYZE TABLE stats (round 5, `operators.stats`): persisted md5-HLL NDV
register state. The load-bearing invariant is register purity — an
incremental refresh over appended files merges to EXACTLY the registers a
full recompute produces — plus the removes-force-full fallback (HLL cannot
subtract deletions) and per-version idempotence."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.stats import (
    analyze_table,
    ndv_estimates,
    read_column_stats,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    encode_table,
)


@pytest.fixture()
def out_dir():
    out = tempfile.mkdtemp(prefix="analyze_stats_")
    shutil.rmtree(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 37).alias("cat"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("u"), F.col("id") % 211)).alias("tag"),
    )


COLS = ["id", "cat", "tag"]


def test_incremental_equals_full_recompute(spark, out_dir):
    encode_table(_df(spark, 0, 2000), out_dir, key_cols=["id"], n_parts=2)
    doc0 = analyze_table(spark, out_dir, columns=COLS)
    assert doc0["mode"] == "full"
    encode_table(_df(spark, 2000, 3000), out_dir, key_cols=["id"],
                 n_parts=2, run="r1")
    inc = analyze_table(spark, out_dir, columns=COLS)
    assert inc["mode"] == "incremental"
    # ground truth: full recompute in a twin store with identical content
    twin = out_dir + "_twin"
    try:
        encode_table(_df(spark, 0, 2000), twin, key_cols=["id"], n_parts=2)
        encode_table(_df(spark, 2000, 3000), twin, key_cols=["id"],
                     n_parts=2, run="r1")
        full = analyze_table(spark, twin, columns=COLS, incremental=False)
        assert inc["columns"] == full["columns"]  # register-exact
    finally:
        shutil.rmtree(twin, ignore_errors=True)
    # and the served estimates line up with a direct distinct count's scale
    est = {r.col_name: r.ndv_est for r in ndv_estimates(spark, out_dir).collect()}
    assert abs(est["cat"] - 37) / 37 < 0.15
    assert abs(est["id"] - 3000) / 3000 < 0.15


def test_removes_force_full_recompute(spark, out_dir):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where,
    )

    encode_table(_df(spark, 0, 1000), out_dir, key_cols=["id"], n_parts=2)
    analyze_table(spark, out_dir, columns=COLS)
    delete_where(spark, out_dir, F.col("id") < 100)
    doc = analyze_table(spark, out_dir, columns=COLS)
    assert doc["mode"] == "full"
    est = {r.col_name: r.ndv_est for r in ndv_estimates(spark, out_dir).collect()}
    assert abs(est["id"] - 900) / 900 < 0.15  # deletions actually left


def test_dv_deletes_force_full_recompute(spark, out_dir):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        dv_delete_where,
    )

    encode_table(_df(spark, 0, 1000), out_dir, key_cols=["id"], n_parts=2)
    analyze_table(spark, out_dir, columns=COLS)
    # a DV commit changes visible rows WITHOUT adds/removes: the gap is not
    # append-only, so the refresh must re-fold (decode is DV-filtered)
    dv_delete_where(spark, out_dir, F.col("id") < 100, condition_cols=["id"])
    doc = analyze_table(spark, out_dir, columns=COLS)
    assert doc["mode"] == "full"
    est = {r.col_name: r.ndv_est for r in ndv_estimates(spark, out_dir).collect()}
    assert abs(est["id"] - 900) / 900 < 0.15  # soft deletes actually left


def test_idempotent_per_version_and_column_set_change(spark, out_dir):
    encode_table(_df(spark, 0, 500), out_dir, key_cols=["id"], n_parts=1)
    d1 = analyze_table(spark, out_dir, columns=COLS)
    d2 = analyze_table(spark, out_dir, columns=COLS)
    assert d1 == d2 == read_column_stats(out_dir)
    with pytest.raises(ValueError, match="not in encoded table"):
        analyze_table(spark, out_dir, columns=["nope"])


@pytest.mark.parametrize("clean", [False, True])
def test_refresh_across_a_log_checkpoint(spark, out_dir, clean):
    """A checkpoint that keeps its json files leaves the appended gap
    readable, so the refresh stays incremental; one that deleted them hides
    what the gap did, so the refresh recomputes in full."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        checkpoint_log,
    )

    encode_table(_df(spark, 0, 1000), out_dir, key_cols=["id"], n_parts=2)
    analyze_table(spark, out_dir, columns=COLS)
    encode_table(_df(spark, 1000, 1500), out_dir, key_cols=["id"], n_parts=2,
                 run="r1")
    checkpoint_log(out_dir, clean=clean)
    doc = analyze_table(spark, out_dir, columns=COLS)
    assert doc["mode"] == ("full" if clean else "incremental")
    est = {r.col_name: r.ndv_est for r in ndv_estimates(spark, out_dir).collect()}
    assert abs(est["id"] - 1500) / 1500 < 0.15


def test_refresh_whose_base_predates_a_clean_checkpoint_recomputes(spark, out_dir):
    """The stats base is at version 0; version 1's json file is cleaned by
    a checkpoint at 1, and a later checkpoint at 2 keeps version 2's. The
    gap (0, 2] is incomplete, so the refresh recomputes in full instead of
    folding in version 2's files alone (missing version 1's ids)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        checkpoint_log,
    )

    encode_table(_df(spark, 0, 1000), out_dir, key_cols=["id"], n_parts=2)
    analyze_table(spark, out_dir, columns=COLS)
    encode_table(_df(spark, 1000, 2000), out_dir, key_cols=["id"], n_parts=2,
                 run="r1")
    checkpoint_log(out_dir, clean=True)
    encode_table(_df(spark, 2000, 2500), out_dir, key_cols=["id"], n_parts=2,
                 run="r2")
    checkpoint_log(out_dir)
    doc = analyze_table(spark, out_dir, columns=COLS)
    assert doc["mode"] == "full"
    est = {r.col_name: r.ndv_est for r in ndv_estimates(spark, out_dir).collect()}
    assert abs(est["id"] - 2500) / 2500 < 0.15
