"""spark-submit entry point: the production encode job.

    zip -r engine.zip pandora_apache_avro_idl_to_apache_parquet_spark
    spark-submit --master <cluster> --py-files engine.zip jobs/encode_job.py \
        --input /path/to/iceberg_or_parquet_tokens --out /path/to/encoded \
        --n-parts 4096

With ``--synth N`` the job generates the deterministic FIXTURES.md F1 table
instead of reading an input (used by the scaling benchmark so both cluster
sizes see bit-identical input). Prints one JSON line of metrics; exit 0 iff
the optional ``--verify`` round-trip holds.

On a real cluster the same file is submitted unchanged: ``--n-parts`` should
be ~3× total executor cores; resume after failure is automatic (completed
part_ids are skipped via the checkpoint markers).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="token table path (parquet dir or table name)")
    p.add_argument("--synth", type=int, help="synthesize N rows instead of reading input")
    p.add_argument("--stage-dir", help="with --synth: write the synthetic table to this "
                   "parquet dir first (untimed) and encode from the scan, so the timed "
                   "section measures encode of a stored table, not generation")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--stage-only", action="store_true",
                   help="with --synth/--stage-dir: write the staged table and exit")
    p.add_argument("--out", required=True)
    p.add_argument("--n-parts", type=int, default=64)
    p.add_argument("--mode", choices=["shuffle", "scan"], default="shuffle",
                   help="shuffle: salted repartition (skew-safe default); "
                   "scan: map-only, encode partitions as scanned (no shuffle "
                   "— for already-distributed inputs)")
    p.add_argument("--repeat", type=int, default=1,
                   help="encode the input N times in THIS JVM (distinct out "
                   "dirs) and report per-iteration metrics; steady-state = "
                   "best post-first iteration. Long-lived executors/workers "
                   "amortize memory fault-in exactly like a long production "
                   "job; one-shot timing charges cold-start to throughput")
    p.add_argument("--verify", action="store_true", help="decode + bit-identical check")
    args = p.parse_args()

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import (
        decode_tokens,
        verify_roundtrip,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import encode_tokens
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import (
        scan_tokens,
        synthesize_tokens,
    )

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if args.synth:
        src = synthesize_tokens(spark, args.synth, seed=args.seed)
        if args.stage_dir:
            src.write.mode("overwrite").parquet(args.stage_dir)
            if args.stage_only:
                print(json.dumps({"staged": args.stage_dir, "rows": args.synth}))
                spark.stop()
                return 0
            src = scan_tokens(spark, args.stage_dir)
    elif args.input:
        src = scan_tokens(spark, args.input)
    else:
        p.error("need --input or --synth")

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        encode_tokens_scan,
    )

    def one_encode(out_dir: str) -> float:
        t0 = time.perf_counter()
        if args.mode == "scan":
            encode_tokens_scan(src, out_dir)
        else:
            encode_tokens(src, out_dir, n_parts=args.n_parts)
        return time.perf_counter() - t0

    n_tokens = src.selectExpr("sum(n_tok)").first()[0] or 0
    if args.repeat > 1:
        iters = [one_encode(f"{args.out}_i{r}") for r in range(args.repeat)]
        enc_sec = min(iters[1:])  # steady-state: cold fault-in paid in iter 0
        out_for_stats = f"{args.out}_i{args.repeat - 1}"
    else:
        iters = [one_encode(args.out)]
        enc_sec = iters[0]
        out_for_stats = args.out
    enc_bytes = sum(os.path.getsize(f) for f in glob.glob(out_for_stats + "/data/*.parquet"))

    bad = 0
    if args.verify:
        bad = verify_roundtrip(src, decode_tokens(spark, out_for_stats)).count()

    # per-stage attribution from the checkpoint markers: kernel_sec is pure
    # numpy codec time inside the encode UDF, write_sec the chunk-file
    # publication, the remainder of total_sec is Arrow exchange + assembly.
    # Summed across partitions these separate "the kernels got slower"
    # (memory-bandwidth/steal contention) from "Spark overhead grew".
    markers = []
    for f in glob.glob(os.path.join(out_for_stats, "_checkpoints", "part-*.json")):
        with open(f) as fh:
            markers.append(json.load(fh))
    attrib = {}
    if markers:
        attrib = {k: round(sum(m[s] for m in markers), 3) for k, s in (
            ("kernel_sec_sum", "kernel_sec"), ("write_sec_sum", "write_sec"),
            ("group_sec_sum", "total_sec"))}
        attrib["arrow_sec_sum"] = round(
            attrib["group_sec_sum"] - attrib["kernel_sec_sum"] - attrib["write_sec_sum"], 3
        )

    print(
        json.dumps(
            {
                "n_tokens": int(n_tokens),
                "encode_sec": round(enc_sec, 3),
                "tokens_per_sec": int(n_tokens / enc_sec) if enc_sec else 0,
                "enc_bytes": enc_bytes,
                "bytes_per_token": round(enc_bytes / n_tokens, 4) if n_tokens else 0.0,
                "roundtrip_bad_rows": bad,
                "iters_encode_sec": [round(x, 3) for x in iters],
                "parallelism": spark.sparkContext.defaultParallelism,
                **attrib,
            }
        )
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
