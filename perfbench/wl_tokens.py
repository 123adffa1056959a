"""tokens-iceberg: the north-star pipeline. Set-up stages a synthetic token
table as an Iceberg v2 table partitioned by ``source``; each timed op is
``scan_tokens`` -> ``encode_tokens`` (salted shuffle) -> ``decode_tokens``,
with the decode forced by the checksum aggregate that verifies it."""

from __future__ import annotations

import glob
import os
import statistics
import time

from pyspark.sql import functions as F

from . import harness as H
from . import replay

ROWS = 6000  # ~3M tokens: a few pipeline ops per run
N_PARTS = 8
WARM_OPS = 4


def _digest(df):
    """count, token total and an order-free per-row checksum."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tok").alias("tok"),
        F.sum(F.size("tokens")).alias("tok2"),
        F.sum(F.shiftright(F.xxhash64("doc_id", "tokens", "source"), 24)).alias("h"),
    ).collect()[0]
    return (int(r["n"]), int(r["tok"] or 0), int(r["tok2"] or 0), int(r["h"] or 0))


def stage(ctx: H.Ctx, d: str) -> dict:
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import write_iceberg
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    ice = os.path.join(d, "ice")
    # two generator partitions: at most two data files per source partition
    df = synthesize_tokens(ctx.spark, ctx.n(ROWS, 50), seed=ctx.seed,
                           parallelism=2)
    write_iceberg(df, ice, partition_by="source")
    return {"dir": d, "ice": ice, "iter": 0}


def prepare(ctx: H.Ctx, st: dict) -> None:
    """Reference digest from the staged data files, read by Spark's own
    parquet reader rather than the engine's Iceberg walk."""
    raw = (ctx.spark.read.option("recursiveFileLookup", "true")
           .parquet(os.path.join(st["ice"], "data")))
    st["want"] = _digest(raw)
    st["rows"], st["tokens"] = st["want"][0], st["want"][1]


def warm(ctx: H.Ctx, st: dict) -> None:
    """Untimed, checked pipeline ops: the first in a session pays worker
    imports and plan compilation, and the JVM's JIT keeps compiling for the
    next few, each using less CPU than the one before."""
    for _ in range(WARM_OPS):
        run(ctx, st, 0.0)


def run(ctx: H.Ctx, st: dict, deadline: float) -> dict:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import decode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import encode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import scan_tokens

    tr, spark = ctx.tracer, ctx.spark
    enc_s, dec_s, it_s, cpu_s, outs = [], [], [], [], []
    while not it_s or time.perf_counter() < deadline:
        out = os.path.join(st["dir"], f"enc{st['iter']}")
        st["iter"] += 1
        times = {}

        def pipeline():
            t0 = time.perf_counter()
            with tr.span("pipeline", "bench"):
                with tr.span("scan_tokens", "sources.tokens"):
                    src = scan_tokens(spark, st["ice"])
                with tr.span("encode_tokens", "operators.encode",
                             rows=st["rows"]):
                    st["manifest"] = encode_tokens(src, out, n_parts=N_PARTS)
                t1 = time.perf_counter()
                with tr.span("decode_tokens", "operators.decode",
                             rows=st["rows"]):
                    got = _digest(decode_tokens(spark, out))
                t2 = time.perf_counter()
            times.update(enc=t1 - t0, dec=t2 - t1)
            return got

        if ctx.ops.run("pipeline", pipeline, check=lambda g: g == st["want"]):
            enc_s.append(times["enc"])
            dec_s.append(times["dec"])
            it_s.append(times["enc"] + times["dec"])
            cpu_s.append(ctx.ops.last_cpu_s)
            outs.append(out)
        elif time.perf_counter() >= deadline:
            break
    return {"enc_s": enc_s, "dec_s": dec_s, "it_s": it_s, "cpu_s": cpu_s,
            "outs": outs}


def summary(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, dict]:
    if not p["it_s"]:
        return {}, {}
    bpt = H.parquet_bytes(os.path.join(p["outs"][0], "data")) / st["tokens"]
    e2e = {
        "rows_per_cpu_s": st["rows"] / statistics.median(p["cpu_s"]),
        "op_cpu_ms_p50": statistics.median(p["cpu_s"]) * 1e3,
    }
    layer = {
        "wall.rows_per_s": st["rows"] / statistics.median(p["it_s"]),
        "wall.op_ms_p50": statistics.median(p["it_s"]) * 1e3,
        "encode_tok_per_s": st["tokens"] / statistics.median(p["enc_s"]),
        "decode_tok_per_s": st["tokens"] / statistics.median(p["dec_s"]),
        "bytes_per_token": bpt,
        "encode.wall_s": statistics.median(p["enc_s"]),
        "decode.wall_s": statistics.median(p["dec_s"]),
    }
    return e2e, layer


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _pull_count(batches):
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_arrays([pa.array([b.num_rows], pa.int64())],
                                         names=["n"])


def probe(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, list[str]]:
    """Traced-run layer replays and marker reads; returns (metrics,
    names reported missing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators import encode as E
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        read_iceberg,
        scan_manifests,
    )

    tr, spark, m, missing = ctx.tracer, ctx.spark, {}, []
    plan_s = []
    for _ in range(5):
        with tr.span("scan_manifests", "sources.iceberg"):
            t0 = time.perf_counter()
            plan = scan_manifests(st["ice"])
            plan_s.append(time.perf_counter() - t0)
    m["iceberg.plan_s"] = statistics.median(plan_s)
    m["iceberg.files_planned"] = len(plan["data_files"])
    meta = os.path.join(st["ice"], "metadata")
    m["iceberg.manifests"] = sum(1 for f in os.listdir(meta)
                                 if f.endswith(".avro") and not f.startswith("snap-"))
    with tr.span("read_iceberg", "sources.iceberg"):
        m["iceberg.scan_s"] = _noop(read_iceberg(spark, st["ice"]))

    out = p["outs"][-1]
    stages = replay.marker_stage_sums(out)
    if stages is None:
        missing += ["encode.kernel_s_sum", "encode.write_s_sum", "encode.arrow_s_sum"]
    else:
        m.update({f"encode.{k}": v for k, v in stages.items()})

    # the decode input as Spark stores it: payload columns of the chunk files
    try:
        chunks = spark.read.parquet(os.path.join(out, "data"))
        pay = chunks.select([c for c in chunks.columns if c.endswith("_payload")])
        with tr.span("payload_scan", "operators.decode"):
            m["decode.scan_s"] = _noop(pay)
        with tr.span("payload_pull", "operators.decode"):
            m["decode.transfer_s"] = _noop(pay.mapInArrow(_pull_count, "n long"))
        m["decode.tok_per_chunk"] = st["tokens"] / max(chunks.count(), 1)
    except Exception:  # the chunk layout is the engine's to change
        missing += ["decode.scan_s", "decode.transfer_s", "decode.tok_per_chunk"]

    try:
        rows = st["manifest"].select("values_codec", "values_enc_bytes").collect()
        m.update({f"codecs.mix.{k}": v for k, v in
                  replay.codec_mix(rows, "values_codec", "values_enc_bytes").items()})
    except Exception:  # manifest columns are the engine's to rename
        missing.append("codecs.mix.*")

    # cost-model replay on chunks cut from the staged source at the
    # engine's default caps
    files = sorted(glob.glob(os.path.join(st["ice"], "data", "**", "*.parquet"),
                             recursive=True))
    toks = pa.concat_arrays([
        c for f in files
        for c in pq.read_table(f, columns=["tokens"]).column("tokens").chunks])
    values = toks.flatten().to_numpy(zero_copy_only=False)
    lengths = (toks.offsets.to_numpy()[1:] - toks.offsets.to_numpy()[:-1])
    chunks = replay.cut_token_chunks(values, lengths, E.DEFAULT_CHUNK_ROWS,
                                     E.DEFAULT_CHUNK_VALUES, limit_values=1 << 20)
    with tr.span("cost_replay", "plans.cost"):
        m.update(replay.token_cost_replay(chunks))

    # operators.{text,dedup,sampling}: the curate workload (run by hand,
    # not in BENCHMARK.json, see DESIGN.md) replayed once on its seeded corpus
    from . import wl_curate

    cur = wl_curate.stage(ctx, os.path.join(st["dir"], "curate"))
    wl_curate.prepare(ctx, cur)
    wl_curate.warm(ctx, cur)
    # its wall.* figures would overwrite this workload's own
    m.update((k, v) for k, v in
             wl_curate.summary(ctx, cur, wl_curate.run(ctx, cur, 0.0))[1].items()
             if not k.startswith("wall."))
    m.update(wl_curate.probe(ctx, cur, {})[0])
    return m, missing


def event_metrics(spans: list[dict], per: dict) -> dict:
    """Shuffle bytes per encode and the driver tail: last encode task's
    finish to ``encode_tokens`` returning (commit log + manifest read)."""
    enc = [s for s in spans if s["name"] == "encode_tokens"]
    shuffle, tails = 0, []
    for s in enc:
        tot = H.sum_groups(per, H.descendant_span_ids(spans, s["id"]))
        shuffle += tot["shuffle_bytes"]
        if tot["last_finish_ms"]:
            tails.append(s["epoch_end"] - tot["last_finish_ms"] / 1e3)
    return {"encode.shuffle_bytes": shuffle / max(len(enc), 1),
            "encode.driver_tail_s": statistics.median(tails) if tails else 0.0}
