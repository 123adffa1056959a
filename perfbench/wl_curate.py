"""curate: the ``curate_corpus`` composition over a seeded ``documents``
corpus. One op keeps the documents that score >= 0.5 on ``quality_score``,
are the canonical member of their near-duplicate cluster
(``lsh_candidate_pairs`` -> ``connected_components``) and survive
``decontaminate`` against the probe set ``doc_id % 37 == 0``, then draws
``stratified_sample``. The stage constants are the registry's, so the
answer is checked against the registry's own DuckDB oracle SQL; the seed
varies the corpus."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import datagen
from . import harness as H

DOCS = 1000


def stage(ctx: H.Ctx, d: str) -> dict:
    os.makedirs(d, exist_ok=True)
    tbl = datagen.documents(ctx.seed, ctx.n(DOCS, 60))
    path = os.path.join(d, "documents.parquet")
    pq.write_table(tbl, path)
    return {"dir": d, "src": path, "tbl": tbl}


def prepare(ctx: H.Ctx, st: dict) -> None:
    """The registry's oracle SQL for ``curate_corpus``, run by DuckDB."""
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    con.register("documents", st["tbl"])
    sql = __spark_entry__.oracle_sql()["curate_corpus"]
    st["want"] = sorted(int(r[0]) for r in con.execute(sql).fetchall())
    st["rows"] = st["tbl"].num_rows


def _stages(docs):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.dedup import (
        connected_components,
        decontaminate,
        lsh_candidate_pairs,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.text import quality_score

    good = quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id")
    pairs = lsh_candidate_pairs(docs)
    clusters = connected_components(pairs)
    decon = decontaminate(docs, docs.where(F.col("doc_id") % 37 == 0), k=8)
    return good, pairs, clusters, decon


def _curate(docs):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.sampling import (
        stratified_sample,
    )

    good, _pairs, cc, decon = _stages(docs)
    non_canonical = cc.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    kept = (docs.join(good, "doc_id", "left_semi")
            .join(non_canonical, "doc_id", "left_anti")
            .join(decon.select("doc_id"), "doc_id", "left_semi"))
    return stratified_sample(kept, "source", "doc_id", rates={"src0": 1.0},
                             default_rate=0.5, seed=11).select("doc_id", "source", "lang")


def warm(ctx: H.Ctx, st: dict) -> None:
    """One untimed composition: the first one in a session costs about
    twice a steady one (plan caches, worker imports)."""
    _curate(ctx.spark.read.parquet(st["src"])).collect()


def run(ctx: H.Ctx, st: dict, deadline: float) -> dict:
    tr, spark = ctx.tracer, ctx.spark
    op_s, cpu_s = [], []
    while not op_s or time.perf_counter() < deadline:
        def curate():
            with tr.span("curate_corpus", "bench", rows=st["rows"]):
                docs = spark.read.parquet(st["src"])
                return sorted(int(r[0]) for r in _curate(docs).select("doc_id").collect())

        t0 = time.perf_counter()
        if ctx.ops.run("curate", curate, check=lambda g: g == st["want"]) is not None:
            op_s.append(time.perf_counter() - t0)
            cpu_s.append(ctx.ops.last_cpu_s)
        elif time.perf_counter() >= deadline:
            break
    return {"op_s": op_s, "cpu_s": cpu_s}


def summary(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, dict]:
    if not p["op_s"]:
        return {}, {}
    med, cpu = statistics.median(p["op_s"]), statistics.median(p["cpu_s"])
    e2e = {"rows_per_cpu_s": st["rows"] / cpu, "op_cpu_ms_p50": cpu * 1e3}
    return e2e, {"curate_docs_per_s": st["rows"] / med,
                 "wall.rows_per_s": st["rows"] / med, "wall.op_ms_p50": med * 1e3}


def _forced(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe(ctx: H.Ctx, st: dict, p: dict) -> tuple[dict, list[str]]:
    """Each stage forced alone, so its share of an op shows."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.dedup import (
        connected_components,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.sampling import (
        stratified_sample,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.text import quality_score

    tr, spark, m = ctx.tracer, ctx.spark, {}
    docs = spark.read.parquet(st["src"])
    good, pairs, _cc, decon = _stages(docs)
    with tr.span("quality_score", "operators.text"):
        m["text.quality_s"] = _forced(quality_score(docs))
    with tr.span("lsh_candidate_pairs", "operators.dedup"):
        m["dedup.lsh_pairs_s"] = _forced(pairs)
    staged = os.path.join(st["dir"], "pairs")
    pairs.write.parquet(staged)
    staged_pairs = spark.read.parquet(staged)
    m["dedup.pairs"] = staged_pairs.count()
    with tr.span("connected_components", "operators.dedup"):
        # the label rounds run inside the call (lineage is cut each round)
        t0 = time.perf_counter()
        _forced(connected_components(staged_pairs))
        m["dedup.components_s"] = time.perf_counter() - t0
    with tr.span("decontaminate", "operators.dedup"):
        m["dedup.decontaminate_s"] = _forced(decon)
    with tr.span("stratified_sample", "operators.sampling"):
        m["sampling.stratified_s"] = _forced(stratified_sample(
            docs, "source", "doc_id", rates={"src0": 1.0}, default_rate=0.5, seed=11))
    return m, []
