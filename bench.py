"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints two JSON lines: the per-query detail, then
a compact headline (total seconds, encode and decode tokens/sec, bytes/token,
cpus) as the last line.

Two parts:
1. the engine headline — encode throughput (tokens/sec) + compressed
   bytes/token on a deterministic synthetic token table sized to the sf, with
   a decode + bit-identical spot total; this is the BASELINE.json metric;
2. per-query wall times for the breadth operators over the sf-dir tables.

Run directly: ``python bench.py`` (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Queries timed per-round (a representative slice of the registry; the full
# registry is correctness-gated separately via oracle_sql).
BENCH_QUERIES = [
    "tokens_explode",
    "token_stats_by_source",
    "dict_cardinality",
    "table_encode_roundtrip",
    "table_selective_stats",
    "table_q1",
    "table_embeddings_roundtrip",
    "table_time_travel",
    "table_sql_agg",
    "table_datasource_sql",
    "table_bloom_lookup",
    "table_delete_where",
    "table_dv_delete",
    "table_merge_upsert",
    "table_stats_pushdown",
    "table_update_where",
    "table_changes_feed",
    "table_zorder_range",
    "avro_flatten",
    "avro_binary_flatten",
    "q1_pricing_summary",
    "q3_top_revenue",
    "window_running_total",
    "events_sessionize",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "sketch_hll_distinct",
    "sketch_hll_merge",
    "sketch_histogram_quantile",
    "sketch_grouped_quantile",
    "sketch_cms_frequency",
    "sketch_bloom_membership",
    "skew_salted_join",
    "decontaminate_bloom",
    "streaming_dedup",
    "interleave_mix",
    "asof_join",
    "hypertable_rollup",
    "decontaminate",
    "text_quality",
    "multimodal_features",
    "sample_stratified",
    "shuffle_global_rank",
    "pack_sequences",
    "streaming_sessionize",
    "text_bm25_search",
    "grouped_topk",
    "dedup_fuzzy_levenshtein",
    "events_funnel",
    "table_incremental_agg",
    "table_recluster_range",
    "ann_kmeans_train",
    "streaming_materialized_agg",
    "events_gap_fill",
    "events_moving_avg",
    "pivot_event_counts",
    "multimodal_frame_sample",
    "table_partition_pruning",
    "curate_corpus",
    "table_validate_constraints",
    "table_integrity_audit",
    "table_map_roundtrip",
    "correlated_subquery",
    "bucketed_join",
    "graph_pagerank",
    "asof_join_forward",
    "table_restore",
    "table_clone_snapshot",
    "sketch_hll_intersect",
    "ntile_quartiles",
    "csv_source_scan",
    "json_source_scan",
    "sample_weighted_topk",
    "events_sliding_window",
    # round 4
    "table_stream_write",
    "avdl_flatten",
    "quota_sample",
    "table_struct_roundtrip",
    "table_compact_stable",
    # round 5
    "table_array_struct_roundtrip",
    "manifest_codec_invariant",
    "table_log_checkpoint",
    "table_merge_clauses",
    "table_analyze_ndv",
    "dedup_duplicate_spans",
    "text_repetition_filter",
    "hybrid_search_rrf",
    "table_dv_update",
    "iceberg_scan_agg",
    "iceberg_partition_pruning",
    "iceberg_mor_delete",
    "iceberg_encode_roundtrip",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import decode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import encode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.queries import QUERIES
    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens

    sf = _sf_from_dir(SF_DIR)
    spark = get_spark(app="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # stage the derived token table once per sf_dir (tmpfs when available):
    # breadth-query timings then measure the operators, not the md5
    # oracle-parity derivation re-run inside every token query
    from pandora_apache_avro_idl_to_apache_parquet_spark.queries import stage_derived_tokens

    stage_base = "/dev/shm/pandora_staged" if os.access("/dev/shm", os.W_OK) else os.path.join(
        tempfile.gettempdir(), "pandora_staged"
    )
    os.environ["PANDORA_STAGED_TOKENS_DIR"] = stage_base
    t0 = time.perf_counter()
    stage_derived_tokens(spark, SF_DIR)
    timings["stage_tokens"] = round(time.perf_counter() - t0, 3)

    # ---- headline: encode throughput on synthetic tokens sized to sf ----
    # Best-of-2: the sandbox host has measured 3x run-to-run variance
    # (steal time, page-fault stalls — BENCH/BASELINE.md "host pathology"),
    # so a single-shot timing can misattribute a bad host window to the
    # engine. All runs are reported alongside the best.
    n_rows = max(int(1_000_000 * sf), 10_000) if sf > 0 else 100_000
    src = synthesize_tokens(spark, n_rows, seed=42).cache()
    n_tokens = src.selectExpr("sum(n_tok)").first()[0]
    enc_runs, enc_dirs = [], []
    for _ in range(2):
        d = tempfile.mkdtemp(prefix="bench_enc_")
        enc_dirs.append(d)
        t0 = time.perf_counter()
        encode_tokens(src, d, n_parts=max(CPUS * 3, 24))
        enc_runs.append(time.perf_counter() - t0)
    enc_sec = min(enc_runs)
    out = enc_dirs[0]
    enc_bytes = sum(os.path.getsize(f) for f in glob.glob(out + "/data/*.parquet"))
    timings["encode_tokens"] = round(enc_sec, 3)

    # untimed warm-up decode: warms the page cache over the chunk files
    n_dec = decode_tokens(spark, out).selectExpr("sum(n_tok)").first()[0]
    assert n_dec == n_tokens, f"decode token total {n_dec} != {n_tokens}"

    dec_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        n_dec = decode_tokens(spark, out).selectExpr("sum(n_tok)").first()[0]
        dec_runs.append(time.perf_counter() - t0)
        assert n_dec == n_tokens, f"decode token total {n_dec} != {n_tokens}"
    dec_sec = min(dec_runs)
    timings["decode_tokens"] = round(dec_sec, 3)
    src.unpersist()

    # ---- breadth queries over the sf-dir tables ----
    for name in BENCH_QUERIES:
        fn = QUERIES[name][0]
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    # the per-query detail first: the last stdout line is the headline and
    # stays short enough for a log tail to parse
    print(json.dumps({"queries": timings, "sf": sf, "encode_rows": n_rows,
                      "encode_tokens": int(n_tokens),
                      "encode_runs_sec": [round(s, 3) for s in enc_runs],
                      "decode_runs_sec": [round(s, 3) for s in dec_runs]}))
    print(
        json.dumps(
            {
                "metric": "encode tokens/sec + breadth query wall time",
                "value": total,
                "unit": "sec",
                "tokens_per_sec": int(n_tokens / enc_sec),
                "decode_tokens_per_sec": int(n_tokens / dec_sec),
                "bytes_per_token": round(enc_bytes / n_tokens, 4),
                "cpus": CPUS,
            }
        )
    )
    spark.stop()
    # cleanup last: deletes trigger TRIM storms on discard-mounted filesystems
    # and must never overlap a timed section
    for d in enc_dirs:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
