"""store-churn: small commits beside reads. A seeded op cycle appends to an
append-only store that a streaming materialized view tails, mutates a
second store through deletion vectors, MERGE, copy-on-write DELETE and
periodic compaction + log checkpoints, and appends to / deletes from an
Iceberg table. Reads of current state are interleaved and checked against
a shadow model (pandas state, DuckDB aggregates)."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import datagen
from . import harness as H

BASE_ROWS = 2000
BATCH = 100
WINDOW = 5  # ids touched by one DV delete / DV update / CoW delete
CYCLE = ("append", "dv_delete", "ice_append", "read_m", "dv_update", "merge",
         "ice_delete", "read_i", "delete", "read_mv")
MAINTAIN_EVERY = 8  # mutable-store commits between compaction + checkpoint
COMMITS = ("append", "dv_delete", "dv_update", "merge", "delete", "compact",
           "checkpoint", "ice_append", "ice_delete")
READS = ("read_m", "read_i", "read_mv")


def stage(ctx: H.Ctx, d: str) -> dict:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import encode_table
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import write_iceberg
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        write_encoded_table,
    )

    rng = np.random.default_rng(ctx.seed)
    n = ctx.n(BASE_ROWS, 50)
    base = datagen.churn_rows(rng, 0, n)
    st = {"dir": d, "A": os.path.join(d, "append"), "M": os.path.join(d, "mut"),
          "I": os.path.join(d, "ice"), "MV": os.path.join(d, "mv"),
          "ckpt": os.path.join(d, "mv_ckpt"), "rng": rng,
          "next": {"A": 10**6, "M": n, "I": 2 * 10**6},
          "a": base.copy(), "m": base.copy(), "i": base.copy(),
          "k": 0, "m_commits": 0, "q": None}
    sdf = ctx.spark.createDataFrame(base)
    write_encoded_table(sdf.coalesce(1), st["A"], key_cols=["id"])
    encode_table(sdf, st["M"], key_cols=["id"], n_parts=2)
    write_iceberg(sdf, st["I"])
    return st


def warm(ctx: H.Ctx, st: dict) -> None:
    """Start (or resume) the materialized view and read each state once."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        stream_encoded_table,
        stream_write_encoded_table,
    )

    view = (stream_encoded_table(ctx.spark, st["A"]).groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")))
    st["q"] = stream_write_encoded_table(
        view, st["MV"], st["ckpt"], key_cols=["grp"], app_id="perfbench-mv",
        output_mode="complete").start()
    st["q"].processAllAvailable()
    for kind in READS:
        _read(ctx.spark, st, kind)


def close(ctx: H.Ctx, st: dict) -> None:
    if st.get("q") is not None:
        st["q"].stop()
        st["q"] = None


def prepare(ctx: H.Ctx, st: dict) -> None:
    """Nothing: the shadow model is built as the ops commit."""


def _agg(df):
    r = df.agg(F.count(F.lit(1)), F.sum("val"), F.sum("amt")).collect()[0]
    return (int(r[0]), int(r[1] or 0), float(r[2] or 0.0))


def _shadow_agg(pdf: pd.DataFrame):
    import duckdb

    con = duckdb.connect()
    con.register("t", pdf)
    r = con.execute("SELECT count(*), coalesce(sum(val), 0), "
                    "coalesce(sum(amt), 0) FROM t").fetchone()
    return (int(r[0]), int(r[1]), float(r[2]))


def _shadow_mv(pdf: pd.DataFrame):
    import duckdb

    con = duckdb.connect()
    con.register("t", pdf)
    return [tuple(r) for r in con.execute(
        "SELECT grp, count(*), sum(val) FROM t GROUP BY 1 ORDER BY 1").fetchall()]


def _read(spark, st: dict, kind: str):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import decode_table
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import read_iceberg

    if kind == "read_m":
        return _agg(decode_table(spark, st["M"]))
    if kind == "read_i":
        return _agg(read_iceberg(spark, st["I"]))
    rows = decode_table(spark, st["MV"]).orderBy("grp").collect()
    return [(r["grp"], int(r["n"]), int(r["s"])) for r in rows]


def _same(got, want) -> bool:
    if isinstance(want, list):
        return got == want
    return (got[0] == want[0] and got[1] == want[1]
            and math.isclose(got[2], want[2], rel_tol=1e-9, abs_tol=1e-6))


def _window(rng, ids: np.ndarray) -> tuple[int, int]:
    a = int(ids[rng.integers(0, len(ids))]) if len(ids) else 0
    return a, a + WINDOW - 1


def _next_op(st: dict) -> str:
    if st["m_commits"] and st["m_commits"] % MAINTAIN_EVERY == 0 \
            and st.get("maintained") != st["m_commits"]:
        st["maintained"] = st["m_commits"]
        st["pending"] = ["checkpoint"]
        return "compact"
    if st.get("pending"):
        return st["pending"].pop()
    op = CYCLE[st["k"] % len(CYCLE)]
    st["k"] += 1
    return op


def _plan(ctx: H.Ctx, st: dict, op: str):
    """Build one op's inputs (untimed): returns (callable, shadow update,
    user rows committed)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import checkpoint_log
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        compact_table,
        delete_where,
        dv_delete_where,
        dv_update_where,
        merge_table,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        append_iceberg,
        delete_iceberg_rows,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        write_encoded_table,
    )

    spark, rng = ctx.spark, st["rng"]

    def new_rows(store: str, n: int) -> pd.DataFrame:
        lo = st["next"][store]
        st["next"][store] += n
        return datagen.churn_rows(rng, lo, n)

    if op == "append":
        batch = new_rows("A", BATCH)
        sdf = spark.createDataFrame(batch).coalesce(1)

        def shadow():
            st["a"] = pd.concat([st["a"], batch], ignore_index=True)
        return (lambda: write_encoded_table(sdf, st["A"])), shadow, BATCH
    if op == "ice_append":
        batch = new_rows("I", BATCH)
        sdf = spark.createDataFrame(batch).coalesce(1)

        def shadow():
            st["i"] = pd.concat([st["i"], batch], ignore_index=True)
        return (lambda: append_iceberg(sdf, st["I"])), shadow, BATCH
    if op == "ice_delete":
        lo, hi = _window(rng, st["i"]["id"].to_numpy())
        cond = F.col("id").between(lo, hi)

        def shadow():
            st["i"] = st["i"][~st["i"]["id"].between(lo, hi)]
        return (lambda: delete_iceberg_rows(spark, st["I"], cond)), shadow, 0
    if op == "compact":
        return (lambda: compact_table(st["M"])), None, 0
    if op == "checkpoint":
        return (lambda: checkpoint_log(st["M"])), None, 0

    m = st["m"]
    lo, hi = _window(rng, m["id"].to_numpy())
    cond = F.col("id").between(lo, hi)
    hit = m["id"].between(lo, hi)
    if op == "dv_delete":
        def shadow():
            st["m"] = m[~hit]
            st["dv_rows"] = st.get("dv_rows", 0) + int(hit.sum())
        return (lambda: dv_delete_where(spark, st["M"], cond,
                                        condition_cols=["id"])), shadow, 0
    if op == "delete":
        def shadow():
            st["m"] = m[~hit]
        return (lambda: delete_where(spark, st["M"], cond,
                                     condition_cols=["id"])), shadow, 0
    if op == "dv_update":
        v = int(rng.integers(0, 1000))

        def shadow():
            st["m"] = m.assign(val=np.where(hit, v, m["val"]))
        return (lambda: dv_update_where(spark, st["M"], cond, {"val": F.lit(v)},
                                        condition_cols=["id"])), shadow, int(hit.sum())
    # merge: upsert a few existing keys and a few new ones
    old = m.sample(n=min(3, len(m)), random_state=int(rng.integers(0, 2**31)))
    src = pd.concat([datagen.churn_rows(rng, 0, len(old)).assign(id=old["id"].to_numpy()),
                     new_rows("M", 3)], ignore_index=True)
    sdf = spark.createDataFrame(src)

    def shadow():
        st["m"] = pd.concat([m[~m["id"].isin(src["id"])], src], ignore_index=True)
    return (lambda: merge_table(spark, st["M"], sdf)), shadow, len(src)


def run(ctx: H.Ctx, st: dict, deadline: float) -> dict:
    tr, spark, ops = ctx.tracer, ctx.spark, ctx.ops
    p = {"ms": {}, "cpu_s": 0.0, "commit_cpu_ms": [], "rows": 0,
         "t0": time.perf_counter()}
    layer_of = {"ice_append": "sources.iceberg", "ice_delete": "sources.iceberg",
                "read_i": "sources.iceberg", "append": "sources.table_source"}
    while time.perf_counter() < deadline or st["k"] < len(CYCLE):
        op = _next_op(st)
        if op in READS:
            want = (_shadow_mv(st["a"]) if op == "read_mv" else
                    _shadow_agg(st["m"] if op == "read_m" else st["i"]))

            def read(op=op):
                with tr.span(op, layer_of.get(op, "operators.table")):
                    return _read(spark, st, op)

            t0 = time.perf_counter()
            if ops.run(op, read, check=lambda g, w=want: _same(g, w)) is not None:
                p["ms"].setdefault(op, []).append((time.perf_counter() - t0) * 1e3)
                p["cpu_s"] += ops.last_cpu_s
            continue
        fn, shadow, rows = _plan(ctx, st, op)

        def commit(fn=fn, op=op):
            with tr.span(op, layer_of.get(op, "operators.table")):
                fn()
            return True

        t0 = time.perf_counter()
        ok = ops.run(op, commit) is not None
        ms = (time.perf_counter() - t0) * 1e3
        if ok:
            p["ms"].setdefault(op, []).append(ms)
            p["cpu_s"] += ops.last_cpu_s
            p["commit_cpu_ms"].append(ops.last_cpu_s * 1e3)
            p["rows"] += rows
            if shadow:
                shadow()
        if op in ("dv_delete", "delete", "dv_update", "merge"):
            st["m_commits"] += 1
        if op == "append":
            def refresh():
                with tr.span("mv_refresh", "sources.table_source"):
                    st["q"].processAllAvailable()
                    return True

            t0 = time.perf_counter()
            if ops.run("mv_refresh", refresh) is not None:
                p["ms"].setdefault("mv_refresh", []).append(
                    (time.perf_counter() - t0) * 1e3)
    p["wall_s"] = time.perf_counter() - p["t0"]
    return p


def summary(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, dict]:
    commits = [v for k in COMMITS for v in p["ms"].get(k, [])]
    reads = [v for k in READS for v in p["ms"].get(k, [])]
    if not commits or not reads:
        return {}, {}
    e2e = {"rows_per_cpu_s": p["rows"] / p["cpu_s"],
           "op_cpu_ms_p50": statistics.median(p["commit_cpu_ms"])}
    ice = p["ms"].get("ice_append", []) + p["ms"].get("ice_delete", [])
    layer = {
        "wall.rows_per_s": p["rows"] / p["wall_s"],
        "wall.op_ms_p50": statistics.median(commits),
        "commit_ms_p50": statistics.median(commits),
        "commit_ms_p90": H.pct(commits, 90),
        "churn_read_ms_p50": statistics.median(reads),
        # bytes the pass added under the run dir (all stores, the MV and its
        # checkpoint) per raw byte of rows committed
        "write_amp": p["fsio.bytes_written"] / max(p["rows"] * datagen.CHURN_ROW_BYTES, 1),
        "table.dv_rows": st.get("dv_rows", 0),
        "table.log_entries": sum(1 for f in os.listdir(os.path.join(st["M"], "_log"))
                                 if f.endswith(".json")),
    }
    if ice:
        layer["iceberg.commit_ms_p50"] = statistics.median(ice)
    if p["ms"].get("mv_refresh"):
        layer["table_source.mv_refresh_ms_p50"] = statistics.median(p["ms"]["mv_refresh"])
    for k in COMMITS:
        if p["ms"].get(k) and not k.startswith("ice_"):
            layer[f"table.op_ms_p50.{k}"] = statistics.median(p["ms"][k])
    return e2e, layer


def probe(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, list[str]]:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import committed_files

    xs = []
    for _ in range(5):
        with ctx.tracer.span("committed_files", "operators.table"):
            t0 = time.perf_counter()
            committed_files(st["M"])
            xs.append((time.perf_counter() - t0) * 1e3)
    return {"table.log_replay_ms": statistics.median(xs)}, []
