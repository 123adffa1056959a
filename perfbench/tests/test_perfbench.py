"""Tests of the benchmark itself: tiny smoke runs print every metric of
BENCHMARK.json with its unit and leave no process running, a corrupted
decode counts as a failed op, and a directory without the engine exits
non-zero without a result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = {"PERFBENCH_SCALE": "0.05"}


def _session_pids(sid: int) -> list[int]:
    """Processes still alive (not zombies) in session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[3]) == sid and rest[0] not in ("Z", "X"):
            out.append(int(d))
    return out


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: float = 1.0):
    """Run the benchmark in a session of its own; the result carries the
    processes of that session still alive right after it exited."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "3", "--seconds", str(seconds), "--trace", str(trace)],
            cwd=cwd, env={**os.environ, **TINY}, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, start_new_session=True) as p:
        try:
            stdout, stderr = p.communicate(timeout=300)
        finally:
            left = _session_pids(p.pid)
            for pid in left:
                os.kill(pid, 9)
    return subprocess.CompletedProcess(p.args, p.returncode, stdout, stderr), left


def _result(run) -> dict:
    proc, left = run
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not left, f"processes outlived the run: {left}"
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def _check_metrics(res: dict, wanted: list[dict]) -> None:
    got = res["metrics"]
    assert set(got) == {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert math.isfinite(got[m["name"]]["value"]), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]]
                         + ["curate", "store-churn"])  # the hand-run two
def test_smoke_prints_every_end_to_end_metric(workload):
    res = _result(_run(workload, trace=0))
    assert res["correct"] and res["failed"] == 0, res
    _check_metrics(res, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


def test_smoke_traced_prints_every_per_layer_metric_and_spans():
    res = _result(_run("tokens-iceberg", trace=1, seconds=2.0))
    assert res["correct"], res
    _check_metrics(res, SPEC["per_layer"])
    trace = json.load(open(os.path.join(
        ROOT, ".perfbench_out", "tokens-iceberg-seed3.trace.json")))
    ids = {s["id"] for s in trace["spans"]}
    assert all(s["parent"] in ids for s in trace["spans"] if s["parent"])
    layers = {s["layer"] for s in trace["spans"]}
    assert {"sources.tokens", "operators.encode", "operators.decode",
            "sources.iceberg", "plans.cost", "functions.fsio", "spark"} <= layers
    for name in ("encode_tok_per_s", "decode_tok_per_s", "bytes_per_token",
                 "curate_docs_per_s", "dedup.lsh_pairs_s",
                 "spark.job_floor_ms", "self_s.operators.encode"):
        assert res["metrics"][name]["value"] > 0, name


def test_corrupted_decode_counts_as_failed(monkeypatch):
    """A decode that returns one token wrong in ~1% of rows must fail its
    op, not pass."""
    from pyspark.sql import functions as F

    sys.path.insert(0, ROOT)
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators import decode
    from perfbench import run

    real = decode.decode_tokens

    def corrupted(spark, out_dir):
        return real(spark, out_dir).withColumn("tokens", F.expr(
            "CASE WHEN n_tok > 0 AND pmod(xxhash64(doc_id), 97) = 0 "
            "THEN transform(tokens, x -> x + 1) ELSE tokens END"))

    monkeypatch.setattr(decode, "decode_tokens", corrupted)
    saved = dict(os.environ)
    os.environ.update(TINY)
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "tokens-iceberg", "--seed", "5",
                           "--seconds", "1", "--trace", "0"])
    finally:
        os.environ.clear()
        os.environ.update(saved)
    assert rc == 0
    res = json.loads(out.getvalue().strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["failed"] == res["attempted"], res


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, left = _run("tokens-iceberg", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0 and not left
    assert '"metrics"' not in proc.stdout
