"""Regenerate PLANS.md: formatted executed plans of the engine's core
pipelines with the properties we rely on called out. Run after plan-affecting
changes: ``python scripts/dump_plans.py``."""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

HEADER = """# PLANS — executed-plan review of the core pipelines

Regenerate with `python scripts/dump_plans.py`. Each section lists the
physical plan (`explain formatted`) and the property the engine depends on;
tests in `tests/test_goldens.py` assert the starred (*) properties.

"""


def main() -> None:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import (
        decode_tokens,
        decode_values_only,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        TOKEN_KEY,
        encode_tokens,
        read_manifest,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    spark = get_spark(app="dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="plans_enc_")
    src = synthesize_tokens(spark, 500, seed=5)
    encode_tokens(src, out, n_parts=4)

    from pyspark.sql import functions as F

    salted = src.withColumn(
        "part_id", F.pmod(F.xxhash64(*TOKEN_KEY), F.lit(4)).cast("int"))

    def fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    sections = [
        (
            "Encode (scan → salted hash partition → grouped-map kernel)",
            "ONE Exchange total (hashpartitioning on part_id); the grouped-map\n"
            "kernel (FlatMapGroupsInPandas) sits directly on it — no second\n"
            "shuffle, no sort exchange, no collect.",
            salted.groupBy("part_id").applyInArrow(
                lambda t: t.slice(0, 0).select(["part_id"]), schema="part_id int"
            ),
        ),
        (
            "Manifest read (payload-pruned chunk scan)",
            "* ReadSchema excludes every `*_payload` binary column — reading\n"
            "the manifest never touches encoded bytes.",
            read_manifest(spark, out),
        ),
        (
            "Decode (chunk scan → mapInArrow)",
            "* No Exchange anywhere: chunks are self-describing, so decode is\n"
            "scan → Arrow eval, embarrassingly parallel.",
            decode_tokens(spark, out),
        ),
        (
            "Values-only decode (column-pruned)",
            "ReadSchema carries only the tokens lane's payload; the string\n"
            "payload columns are pruned at the parquet scan.",
            decode_values_only(spark, out),
        ),
    ]

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        decode_table,
        encode_table,
        read_table_manifest,
    )

    tbl_out = tempfile.mkdtemp(prefix="plans_tbl_")
    import shutil as _sh

    _sh.rmtree(tbl_out)
    typed = spark.range(200).selectExpr(
        "id", "cast(id % 7 as int) AS grp", "cast(id as string) AS name",
        "cast(id * 1.5 as double) AS score",
        "timestamp_ntz'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
    )
    encode_table(typed, tbl_out, key_cols=["id"], n_parts=4)
    struct_out = tempfile.mkdtemp(prefix="plans_struct_")
    _sh.rmtree(struct_out)
    nested = spark.range(200).selectExpr(
        "id", "named_struct('a', cast(id % 5 as int), 'b', cast(id as string)) AS s",
        "transform(sequence(0, cast(id % 3 as int)), i -> "
        "named_struct('x', id * 10 + i, 'ok', i % 2 = 0)) AS tags",
    )
    encode_table(nested, struct_out, key_cols=["id"], n_parts=2)
    sections += [
        (
            "Generic table decode, selective (chunk scan → mapInArrow)",
            "* No Exchange; ReadSchema carries only the requested columns'\n"
            "payload/validity bytes (top-level per-column chunk columns), so\n"
            "decoding 2 of 5 columns scans 2 of 5 payload streams.",
            decode_table(spark, tbl_out, columns=["grp", "id"]),
        ),
        (
            "Struct table decode (chunk scan → one mapInArrow)",
            "* Struct and array<struct> columns reassemble inside the chunk\n"
            "decoder: the plan is the chunk scan and ONE MapInArrow, with no\n"
            "Project of `arrays_zip`/`transform` over flat lanes after it.",
            decode_table(spark, struct_out),
        ),
        (
            "Generic table manifest (payload-pruned long-form stats)",
            "ReadSchema excludes every `__payload`/`__valid` binary column.",
            read_table_manifest(spark, tbl_out),
        ),
    ]

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators import (
        dedup,
        flatten,
        similarity,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = synthesize_tokens(spark, 500, seed=5)
    sections += [
        (
            "ANN brute-force top-k (bounded partial top-k, no Window)",
            "* No Window node: scoring is map-only against the broadcast query\n"
            "set, MapInPandas keeps ≤ queries·k rows per partition, and the\n"
            "final exact top-k is a collect_list/array_sort/slice aggregate.",
            similarity.brute_force_topk(emb, n_queries=5, k=3),
        ),
        (
            "IVF assign (map-side argmax over one broadcast centroid row)",
            "* No Window, no per-vector hash shuffle: the argmax cell is an\n"
            "array_max over a transform of the broadcast centroid array.",
            similarity.ivf_assign(emb, n_cells=4),
        ),
        (
            "Embedding near-pairs (banded sign-LSH candidates + exact verify)",
            "* No CartesianProduct / NestedLoop join: candidates come from a\n"
            "(table, code) bucket equi-join with an oversized-bucket cap, and\n"
            "only candidates pay the exact cosine.",
            similarity.embedding_near_pairs(emb, threshold=0.45, n_tables=4, planes=6),
        ),
        (
            "Token offsets (two-phase bucketed prefix sum)",
            "* No SinglePartition exchange: per-bucket totals fold into\n"
            "broadcast base offsets; the running sum is partitioned by bucket.",
            flatten.token_offsets(toks),
        ),
        (
            "SimHash (map-side aggregate, shuffle-free)",
            "* No Exchange before the output: the fingerprint is one aggregate\n"
            "over the per-word hash array per row.",
            dedup.with_simhash(docs).select("doc_id", "simhash"),
        ),
    ]
    from pandora_apache_avro_idl_to_apache_parquet_spark.queries import (
        q_dedup_ngram_jaccard,
        q_q3_top_revenue,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        PandoraTableDataSource,
        read_encoded_table,
    )
    from pyspark.sql.datasource import GreaterThanOrEqual

    src_ds = PandoraTableDataSource(options={"path": tbl_out})
    rdr = src_ds.reader(src_ds.schema())
    list(rdr.pushFilters([GreaterThanOrEqual(("id",), 10**9)]))
    n_after = len(rdr.partitions())
    sections += [
        (
            "Q3 top-10 (TakeOrderedAndProject, no single-partition Window)",
            "* No Window with an empty partition spec: the top-10 is a\n"
            "TakeOrderedAndProject (per-partition bounded heap + driver merge\n"
            "of 10-row partials); ranks are numbered AFTER the limit, over 10\n"
            "rows only.",
            q_q3_top_revenue(spark, sf),
        ),
        (
            "LSH-gated exact Jaccard (sub-quadratic candidates, exact verify on pairs)",
            "* No CartesianProduct and no full inverted-index self-join: the\n"
            "pair generator is the banded MinHash bucket equi-join (capped\n"
            "buckets); only those candidates pay the exact\n"
            "array_intersect/array_union verify.",
            q_dedup_ngram_jaccard(spark, sf),
        ),
        (
            "pandora_table DataSource scan (Catalyst relation + zone pruning)",
            "The encoded store as a BatchScan: the WHERE reaches the Python\n"
            "reader's pushFilters (kept residual — Filter re-applies exactly),\n"
            "and zone maps prune at planning: with `id >= 10^9` the reader\n"
            f"plans {n_after} of 4 files into tasks (footer-stat probe, no\n"
            "data read). Chunk-level zone filters drop remaining chunks\n"
            "executor-side before payload decode.",
            read_encoded_table(spark, tbl_out, columns=["id", "grp"]).where(
                "id >= 150"
            ),
        ),
    ]

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.packing import (
        pack_sequences,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.sampling import (
        shuffle_rank,
        stratified_sample,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.temporal import (
        asof_join,
        hypertable_rollup,
        range_join,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    snaps = (
        ev.groupBy("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").alias("n_day"))
        .select("user_id", (F.col("day") + F.expr("interval 1 hour")).alias("ts"),
                "n_day")
    )
    win = (
        ev.select("user_id", F.date_trunc("DAY", "ts").alias("day")).distinct()
        .select("user_id", (F.col("day") + F.expr("interval 12 hours")).alias("s"),
                (F.col("day") + F.expr("interval 42 hours")).alias("e"))
    )
    ntok = docs.selectExpr("doc_id", "n_chars div 5 AS n_tok")
    sections += [
        (
            "Stratified sample (map-only codegen Filter, no shuffle)",
            "* No Exchange: the per-stratum keep decision is an md5-derived\n"
            "fraction compared to a map-literal rate inside one\n"
            "WholeStageCodegen Filter.",
            stratified_sample(docs, "source", "doc_id",
                              rates={"src0": 1.0}, default_rate=0.1),
        ),
        (
            "Global shuffle rank (two-phase, bucket-partitioned Window)",
            "* No SinglePartition exchange: hex-prefix buckets are\n"
            "order-preserving, per-bucket bases broadcast back, and the\n"
            "row_number Window is partitioned BY BUCKET.",
            shuffle_rank(docs.select("doc_id"), "doc_id", seed=11),
        ),
        (
            "Sequence packing (two-phase offsets + executor-local span explode)",
            "* No SinglePartition exchange; the span→sequence fan-out is a\n"
            "Generate (explode) directly over the offset projection.",
            pack_sequences(ntok, seq_len=512, seed=13),
        ),
        (
            "As-of join (tagged union + carry-forward, one key shuffle)",
            "* No range/nested-loop join: both sides union into one stream,\n"
            "a single hashpartitioning(user_id) exchange feeds the\n"
            "carry-forward Window partitioned by key.",
            asof_join(ev.select("event_id", "user_id", "ts"), snaps,
                      key="user_id", ts="ts"),
        ),
        (
            "Range join (interval bucket explode → hash equi-join)",
            "* No BroadcastNestedLoopJoin / CartesianProduct: intervals\n"
            "explode into 1-day bucket keys and the containment predicate is\n"
            "re-applied after a plain hash join on (bucket, key).",
            range_join(ev.select("event_id", "user_id", "ts"), win,
                       key="user_id", ts="ts", start="s", end="e",
                       bucket="1 day"),
        ),
        (
            "Hypertable rollup (all granularities in one Expand + one shuffle)",
            "Hourly and daily rollups share a single Expand → partial\n"
            "HashAggregate → ONE exchange → final aggregate; no per-\n"
            "granularity re-scan.",
            hypertable_rollup(ev, ts="ts", dims=["event_type"],
                              aggs=["count(*) AS n"],
                              granularities=["1 hour", "1 day"]),
        ),
    ]

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        read_iceberg, write_iceberg,
    )

    ice_dir = tempfile.mkdtemp(prefix="plans_ice_")
    write_iceberg(docs.select("doc_id", "source", "n_chars"), ice_dir,
                  partition_by="source")
    sections += [
        (
            "Iceberg ingest (manifest-planned file list → pushdown parquet scan)",
            "* The metadata walk (snapshot → manifests → pruned file list)\n"
            "is driver-side; the DATA scan is an ordinary parquet relation:\n"
            "the filter lands in PushedFilters and the projection in\n"
            "ReadSchema — the Iceberg front door costs Catalyst nothing.",
            read_iceberg(spark, ice_dir)
            .filter(F.col("doc_id") > 100).select("doc_id"),
        ),
    ]

    parts = [HEADER]
    for title, note, df in sections:
        parts.append(f"## {title}\n\n{note}\n\n```\n{fmt(df).strip()}\n```\n")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(parts))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
