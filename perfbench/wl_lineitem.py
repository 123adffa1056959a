"""lineitem-store: the generic table store on typed lanes. Each round of
the timed pass runs ``encode_table`` over a replicated ``lineitem`` into a
fresh store, a full ``decode_table`` scan, then one seeded pruned read of
each kind: key range, bloom point lookup, ``table_sql`` aggregate,
DataSource pushdown and metadata-only ``table_stats``. Rounds repeat until
the clock runs out. Every answer is checked against DuckDB over the staged
input."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import datagen
from . import harness as H
from . import replay

BASE_ROWS = 15000
COPIES = 4  # 60k rows: encode + scan take a quarter of a run, reads the rest
N_PARTS = 4
WARM_ROUNDS = 2
KINDS = ("key_range", "bloom", "sql", "pushdown", "stats")
SPAN_LAYER = {"key_range": "operators.table", "bloom": "operators.table",
              "sql": "operators.table", "pushdown": "sources.table_source",
              "stats": "operators.table"}


def stage(ctx: H.Ctx, d: str) -> dict:
    os.makedirs(d, exist_ok=True)
    tbl = datagen.lineitem(ctx.seed, ctx.n(BASE_ROWS, 400), COPIES)
    path = os.path.join(d, "lineitem.parquet")
    pq.write_table(tbl, path)
    return {"dir": d, "src": path, "tbl": tbl, "iter": 0}


def _close(a, b) -> bool:
    return math.isclose(float(a or 0), float(b or 0), rel_tol=1e-9, abs_tol=1e-6)


def prepare(ctx: H.Ctx, st: dict) -> None:
    """Seeded read list and the DuckDB answer to each read."""
    import duckdb

    li = st["tbl"]  # noqa: F841  (DuckDB scans the local by name)
    con = duckdb.connect()
    con.register("li", li)
    rng = np.random.default_rng(ctx.seed + 1)
    kmax = int(con.execute("SELECT max(l_orderkey) FROM li").fetchone()[0])
    reads = []
    for i in range(400):
        kind = KINDS[i % len(KINDS)]
        lo = int(rng.integers(0, kmax))
        hi = lo + int(rng.integers(5, 200))
        pk = int(rng.integers(1, 20001))
        if kind in ("key_range", "pushdown"):
            want = con.execute(
                "SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM li "
                "WHERE l_orderkey BETWEEN ? AND ?", [lo, hi]).fetchone()
        elif kind == "bloom":
            want = con.execute(
                "SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM li "
                "WHERE l_partkey = ?", [pk]).fetchone()
        elif kind == "sql":
            want = con.execute(
                "SELECT l_returnflag, count(*), sum(l_quantity) FROM li "
                "WHERE l_orderkey BETWEEN ? AND ? GROUP BY 1 ORDER BY 1",
                [lo, hi]).fetchall()
        else:
            want = con.execute(
                "SELECT count(*), min(l_orderkey), max(l_orderkey), "
                "min(l_quantity), max(l_quantity) FROM li").fetchone()
        reads.append((kind, lo, hi, pk, want))
    st["reads"], st["next_read"] = reads, 0
    st["full"] = con.execute(
        "SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM li").fetchone()
    st["rows"] = li.num_rows


def warm(ctx: H.Ctx, st: dict) -> None:
    """Untimed, checked rounds: the first use of each path in a session
    (worker imports, DataSource registration, first Python plan) costs up to
    several times a steady one, and the second round is still slower than
    the ones after it."""
    for _ in range(WARM_ROUNDS):
        run(ctx, st, 0.0)


def _agg3(df):
    r = df.agg(F.count(F.lit(1)), F.sum("l_quantity"),
               F.sum("l_extendedprice")).collect()[0]
    return tuple(r)


def _eq3(got, want) -> bool:
    return got[0] == want[0] and _close(got[1], want[1]) and _close(got[2], want[2])


def _read(spark, store: str, kind: str, lo: int, hi: int, pk: int):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        lookup_key_range,
        lookup_value,
        table_sql,
        table_stats,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        read_encoded_table,
    )

    if kind == "key_range":
        return _agg3(lookup_key_range(spark, store, lo, hi))
    if kind == "bloom":
        return _agg3(lookup_value(spark, store, "l_partkey", pk))
    if kind == "sql":
        rows = table_sql(
            spark, store,
            "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM li "
            f"WHERE l_orderkey BETWEEN {lo} AND {hi} GROUP BY l_returnflag "
            "ORDER BY l_returnflag", "li").collect()
        return [tuple(r) for r in rows]
    if kind == "pushdown":
        return _agg3(read_encoded_table(spark, store)
                     .where(F.col("l_orderkey").between(lo, hi)))
    rows = {r["column"]: r for r in
            table_stats(spark, store, columns=["l_orderkey", "l_quantity"]).collect()}
    return rows


def _check(kind: str, got, want) -> bool:
    if kind in ("key_range", "pushdown", "bloom"):
        return _eq3(got, want)
    if kind == "sql":
        return len(got) == len(want) and all(
            g[0] == w[0] and g[1] == w[1] and _close(g[2], w[2])
            for g, w in zip(got, want))
    ok, lo_k, hi_k, lo_q, hi_q = want[0], want[1], want[2], want[3], want[4]
    k, q = got["l_orderkey"], got["l_quantity"]
    return (int(k["n_rows"]) == ok and int(k["min_value"]) == lo_k
            and int(k["max_value"]) == hi_k
            and _close(q["min_value"], lo_q) and _close(q["max_value"], hi_q))


def run(ctx: H.Ctx, st: dict, deadline: float) -> dict:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        decode_table,
        encode_table,
    )

    tr, spark, ops = ctx.tracer, ctx.spark, ctx.ops
    p = {"enc_s": [], "scan_s": [], "read_ms": {k: [] for k in KINDS},
         "enc_cpu": [], "scan_cpu": [], "read_cpu_ms": {k: [] for k in KINDS}}
    # one round: encode a fresh store, scan it whole, one read of each kind
    while not p["scan_s"] or time.perf_counter() < deadline:
        store = os.path.join(st["dir"], f"store{st['iter']}")
        st["iter"] += 1

        def encode():
            with tr.span("encode_table", "operators.table", rows=st["rows"]):
                src = spark.read.parquet(st["src"])
                return encode_table(src, store, key_cols=["l_orderkey"],
                                    n_parts=N_PARTS, bloom_cols=["l_partkey"])

        def scan():
            with tr.span("decode_table", "operators.table", rows=st["rows"]):
                return _agg3(decode_table(spark, store))

        t0 = time.perf_counter()
        manifest = ops.run("encode", encode)
        t1 = time.perf_counter()
        enc_cpu = ops.last_cpu_s
        if manifest is None or ops.run(
                "scan", scan, check=lambda g: _eq3(g, st["full"])) is None:
            if time.perf_counter() >= deadline:
                break
            continue
        p["enc_s"].append(t1 - t0)
        p["scan_s"].append(time.perf_counter() - t1)
        p["enc_cpu"].append(enc_cpu)
        p["scan_cpu"].append(ops.last_cpu_s)
        p["store"], p["manifest"] = store, manifest
        for _ in KINDS:
            kind, lo, hi, pk, want = st["reads"][st["next_read"] % len(st["reads"])]
            st["next_read"] += 1

            def read():
                with tr.span(f"read.{kind}", SPAN_LAYER[kind]):
                    return _read(spark, store, kind, lo, hi, pk)

            t0 = time.perf_counter()
            if ops.run(kind, read, check=lambda g: _check(kind, g, want)) is not None:
                p["read_ms"][kind].append((time.perf_counter() - t0) * 1e3)
                p["read_cpu_ms"][kind].append(ops.last_cpu_s * 1e3)
    return p


def summary(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, dict]:
    reads = [v for vs in p["read_ms"].values() for v in vs]
    if not reads or not p["scan_s"]:
        return {}, {}
    rows = st["rows"]
    stored = H.parquet_bytes(os.path.join(p["store"], "data"))
    if not stored:
        stored = H.tree_bytes(p["store"])[1]
    enc_s, scan_s = statistics.median(p["enc_s"]), statistics.median(p["scan_s"])
    # kinds differ several-fold in latency and a run holds few reads of
    # each: the geometric mean of the per-kind medians lets every kind's
    # samples count, where one median of the mixture follows whichever
    # kind sits in the middle
    e2e = {"rows_per_cpu_s": 2 * rows / (statistics.median(p["enc_cpu"])
                                         + statistics.median(p["scan_cpu"])),
           "op_cpu_ms_p50": statistics.geometric_mean(
               statistics.median(v) for v in p["read_cpu_ms"].values() if v)}
    layer = {
        "wall.rows_per_s": 2 * rows / (enc_s + scan_s),
        "wall.op_ms_p50": statistics.geometric_mean(
            statistics.median(v) for v in p["read_ms"].values() if v),
        "table_encode_rows_per_s": rows / enc_s,
        "table_scan_rows_per_s": rows / scan_s,
        "table_bytes_per_row": stored / rows,
        "lookup_ms_p50": statistics.median(reads),
        "lookup_ms_p90": H.pct(reads, 90),
        "table.encode_s": enc_s,
        "table.decode_s": scan_s,
        "table_source.sql_ms_p50": statistics.median(p["read_ms"]["pushdown"] or [0]),
    }
    for k, vs in p["read_ms"].items():
        if vs:
            layer[f"table.lookup_ms_p50.{k}"] = statistics.median(vs)
    return e2e, layer


def probe(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, list[str]]:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import committed_files
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import DEFAULT_CHUNK_ROWS

    tr, m, missing = ctx.tracer, {}, []
    stages = replay.marker_stage_sums(p["store"])
    if stages is None:
        missing += ["table.kernel_s_sum", "table.write_s_sum"]
    else:
        m["table.kernel_s_sum"] = stages["kernel_s_sum"]
        m["table.write_s_sum"] = stages["write_s_sum"]
    try:
        rows = p["manifest"].select("codec", "enc_bytes").collect()
        m.update({f"codecs.mix.{k}": v for k, v in
                  replay.codec_mix(rows, "codec", "enc_bytes").items()})
    except Exception:  # manifest columns are the engine's to rename
        missing.append("codecs.mix.*")
    xs = []
    for _ in range(5):
        with tr.span("committed_files", "operators.table"):
            t0 = time.perf_counter()
            committed_files(p["store"])
            xs.append((time.perf_counter() - t0) * 1e3)
    m["table.log_replay_ms"] = statistics.median(xs)
    with tr.span("typed_cost_replay", "plans.cost"):
        m.update(replay.typed_cost_replay(st["tbl"].slice(0, 4 * DEFAULT_CHUNK_ROWS),
                                          DEFAULT_CHUNK_ROWS))
    return m, missing


def event_metrics(spans: list[dict], per: dict) -> dict:
    """Input bytes each read kind scans, as a share of a full decode scan."""
    def bytes_of(name):
        return [H.sum_groups(per, H.descendant_span_ids(spans, s["id"]))["input_bytes"]
                for s in spans if s["name"] == name]

    full = bytes_of("decode_table")
    if not full or not full[0]:
        return {}
    return {f"table.scan_bytes_frac.{k}": statistics.median(b) / full[0]
            for k in KINDS if (b := bytes_of(f"read.{k}"))}
