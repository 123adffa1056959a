#!/usr/bin/env python3
"""The repo benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload tokens-iceberg --seed 1 --seconds 8 --trace 0

Prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer
metrics (``--trace 1``). Traced runs also write every span to
``.perfbench_out/<workload>-seed<seed>.trace.json``. ``perfbench/DESIGN.md``
says what each workload loads and bypasses.

All data, Spark local dirs, temp files and the event log live under
``.perfbench_work/`` in the checkout and are deleted after timing.
``PERFBENCH_SCALE`` (default 1) scales every input size; the tests use it
for tiny smoke runs.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3


WORKLOADS = {"tokens-iceberg": "wl_tokens", "lineitem-store": "wl_lineitem",
             "store-churn": "wl_churn", "curate": "wl_curate"}


def _isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work`` before anything starts."""
    from perfbench import harness as H

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = H.DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>; the
    # launcher JVM that spark-submit starts first takes SPARK_LAUNCHER_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'wh')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _restart_traced(ctx, wl, st, event_log_dir):
    """Replace the session with one that writes the Spark event log."""
    from perfbench import harness as H

    if hasattr(wl, "close"):
        wl.close(ctx, st)
    ctx.spark.stop()
    ctx.spark = H.start_spark(event_log_dir)
    H.warm_up(ctx.spark)
    wl.warm(ctx, st)


def _pass(ctx, wl, st, seconds: float) -> tuple[dict, list[dict]]:
    """One timed closed-loop pass; returns its records and its spans."""
    from perfbench import harness as H

    before = len(ctx.tracer.spans)
    files0, bytes0 = H.tree_bytes(st["dir"])
    with ctx.tracer.span("pass", "bench"):
        p = wl.run(ctx, st, time.perf_counter() + seconds)
    files1, bytes1 = H.tree_bytes(st["dir"])
    p["fsio.files_written"], p["fsio.bytes_written"] = files1 - files0, bytes1 - bytes0
    if len(ctx.tracer.spans) == before:
        return p, []
    ids = H.descendant_span_ids(ctx.tracer.spans, ctx.tracer.spans[-1]["id"])
    return p, [s for s in ctx.tracer.spans if s["id"] in ids]


def _trace_metrics(ctx, wl, st, p_plain, p_traced, spans, event_dir):
    """Per-layer metrics of a traced run: the workload's own, self time
    per layer, tracing overhead, replays, the job floor and event-log task
    metrics of the traced pass. Returns (metrics, names missing)."""
    from perfbench import harness as H
    from perfbench import replay

    _, plain = wl.summary(ctx, st, p_plain)
    e2e_traced, m = wl.summary(ctx, st, p_traced)
    m["fsio.files_written"] = p_traced["fsio.files_written"]
    m["fsio.bytes_written"] = p_traced["fsio.bytes_written"]
    m.update({f"self_s.{k}": v for k, v in ctx.tracer.self_times(spans).items()})
    if plain and m.get("wall.op_ms_p50"):
        m["trace.overhead_frac"] = m["wall.op_ms_p50"] / plain["wall.op_ms_p50"] - 1
    missing = ["replays: no successful op in the traced pass"]
    if e2e_traced:
        probe, missing = wl.probe(ctx, st, p_traced)
        m.update(probe)
    with ctx.tracer.span("job_floor", "spark"):
        m["spark.job_floor_ms"] = H.job_floor_ms(ctx.spark)
    with ctx.tracer.span("fsio_replay", "functions.fsio"):
        m.update(replay.fsio_replay(os.path.join(st["dir"], "fsio")))
    if hasattr(wl, "close"):
        wl.close(ctx, st)
    ctx.spark.stop()
    ctx.spark = None
    per = H.read_event_log(event_dir)
    tot = H.sum_groups(per, {s["id"] for s in spans})
    m.update({"spark.executor_cpu_s": tot["cpu_s"], "spark.gc_s": tot["gc_s"],
              "spark.shuffle_bytes": tot["shuffle_bytes"],
              "spark.tasks": tot["tasks"]})
    if hasattr(wl, "event_metrics"):
        m.update(wl.event_metrics(spans, per))
    return m, missing


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import pandora_apache_avro_idl_to_apache_parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found next to perfbench/: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")

    # a SIGTERM unwinds like an error, so the clean-up below stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    _isolate(work)
    from perfbench import harness as H

    scale = float(os.environ.get("PERFBENCH_SCALE", "1"))
    ctx = H.Ctx(work, args.seed, scale, H.Tracer(False, run_id, lambda: ctx.spark))
    st = None
    try:
        with H.RssSampler() as rss:
            # set-up = JVM launch, Python-worker warm-up and the workload's
            # first use of its read paths, paid once, plus the median of
            # SETUP_ROUNDS identical stagings of the inputs; each part is
            # timed in wall and in CPU seconds of the process tree
            def stamp():
                return time.perf_counter(), H.tree_cpu_s()

            def since(s0):
                s1 = stamp()
                return s1[0] - s0[0], s1[1] - s0[1]

            s0 = stamp()
            ctx.spark = H.start_spark()
            once = [since(s0)]
            s0 = stamp()
            H.warm_up(ctx.spark)
            once.append(since(s0))
            rounds = []
            for i in range(SETUP_ROUNDS):
                s0 = stamp()
                st = wl.stage(ctx, os.path.join(work, f"r{i}"))
                rounds.append(since(s0))
            t0 = time.perf_counter()
            wl.prepare(ctx, st)
            prep_s = time.perf_counter() - t0
            s0 = stamp()
            wl.warm(ctx, st)
            once.append(since(s0))
            print(f"perfbench: launch, warm-up, first use "
                  f"{[round(x[0], 2) for x in once]}s wall "
                  f"{[round(x[1], 2) for x in once]}s CPU, stagings "
                  f"{[round(r[0], 2) for r in rounds]}s wall "
                  f"{[round(r[1], 2) for r in rounds]}s CPU, prepare {prep_s:.2f}s",
                  file=sys.stderr)
            if not args.trace:
                timed_from = len(ctx.ops.intervals)
                p, _ = _pass(ctx, wl, st, args.seconds)
                e2e, _ = wl.summary(ctx, st, p)
                # CPU seconds, like the other times of record (DESIGN.md)
                e2e["setup_s"] = (sum(x[1] for x in once)
                                  + statistics.median(r[1] for r in rounds))
                e2e["peak_rss_mb"] = rss.op_peak_mb(ctx.ops.intervals[timed_from:])
            else:
                p_plain, _ = _pass(ctx, wl, st, args.seconds / 2)
                event_dir = os.path.join(work, "eventlog")
                _restart_traced(ctx, wl, st, event_dir)
                ctx.tracer.enabled = True
                p_traced, spans = _pass(ctx, wl, st, args.seconds / 2)
                layer, missing = _trace_metrics(ctx, wl, st, p_plain, p_traced,
                                                spans, event_dir)
    finally:
        try:
            if ctx.spark is not None:
                if st is not None and hasattr(wl, "close"):
                    wl.close(ctx, st)
                ctx.spark.stop()
        finally:
            # the JVM and the Python workers end here, not after this
            # process: nothing the run started may outlive it
            killed = H.end_processes()
            if killed:
                print(f"perfbench: killed processes left running: {killed}",
                      file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)

    ops = ctx.ops
    if args.trace:
        layer["failed_ops_frac"] = ops.failed / max(ops.attempted, 1)
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench_out",
                         f"{args.workload}-seed{args.seed}.trace.json"),
            {"metrics": layer, "missing": missing, "errors": ops.errors})
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        # a metric with no successful op behind it reads 0
        metrics = {m["name"]: {"value": float(e2e.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    for kind, ms in sorted(ops.lat_ms.items()):
        print(f"perfbench: {kind}: n={len(ms)} p50={statistics.median(ms):.1f}ms "
              f"min={min(ms):.1f} max={max(ms):.1f}", file=sys.stderr)
    for err in ops.errors[:20]:
        print(f"perfbench: failed op: {err}", file=sys.stderr)
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
