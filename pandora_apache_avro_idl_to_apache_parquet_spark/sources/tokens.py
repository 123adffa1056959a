"""Token-table source: schema-validated scan + deterministic synthetic generator.

``scan_tokens`` is the engine's A1/A21 analog (schema-first ingest,
``/root/reference/.../Pandora/Apache/Avro.fs:27-145, 858-905``): it validates the
fixed input shape from ``BASELINE.json#input_hint`` instead of walking an Avro
schema, because the north-rule input is a single known table.

``synthesize_tokens`` generates the FIXTURES.md F1 table *distributed and
partition-invariant*: every cell is a pure vectorized hash of (seed, row id), so
the same (seed, n_rows) yields bit-identical rows regardless of parallelism —
the property the reference gets from golden fixtures we get from counter-based
generation. Five value modes exercise each codec: constant runs (RLE), small
range (bit-pack), narrow band (FOR), Zipf vocab (dict), full-range uniform
(plain fallback). ``source`` is Zipf-skewed (one value ~50% of rows) to exercise
salted repartitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..schema import TOKENS_SCHEMA

SOURCES = np.array(
    ["web", "code", "books", "wiki", "news", "forum", "social", "papers", "legal",
     "patents", "chat", "mail", "docs", "recipes", "subs", "lyrics", "reviews",
     "qa", "manuals", "misc"]
)
# Zipf-ish pmf with source[0] holding ~50% of rows
_W = 1.0 / np.arange(1, len(SOURCES) + 1) ** 1.6
_W[0] = _W[1:].sum()
_PMF = _W / _W.sum()
_CDF = np.cumsum(_PMF)

MAX_LEN = 4096
VOCAB = 32000


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the per-cell counter-based PRNG."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _gen_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    ids = ids.astype(np.uint64)
    h_src = _splitmix64(ids * np.uint64(3) + np.uint64(seed))
    h_len = _splitmix64(ids * np.uint64(5) + np.uint64(seed + 1))
    h_val = _splitmix64(ids * np.uint64(7) + np.uint64(seed + 2))

    src_idx = np.searchsorted(_CDF, _u01(h_src), side="right").clip(0, len(SOURCES) - 1)
    # log-normal-ish lengths in 1..MAX_LEN
    u = _u01(h_len)
    n_tok = np.minimum(np.exp(u * np.log(MAX_LEN)).astype(np.int64), MAX_LEN).astype(np.int32)
    # forced edge rows at fixed ids: empty, single, max-length
    n_tok = np.where(ids == 0, 0, n_tok)
    n_tok = np.where(ids == 1, 1, n_tok)
    n_tok = np.where(ids == 2, MAX_LEN, n_tok)

    total = int(n_tok.sum())
    # flattened per-value randomness: f(row_base, position), partition-invariant
    base = np.repeat(h_val, n_tok)
    pos = np.arange(total, dtype=np.uint64)
    row_start = np.repeat(np.cumsum(n_tok.astype(np.int64)) - n_tok, n_tok).astype(np.uint64)
    pos -= row_start  # position within row
    hv = _splitmix64(base + pos * np.uint64(0x9E3779B1))
    mode = np.repeat((ids % np.uint64(5)).astype(np.int64), n_tok)

    vals = np.empty(total, dtype=np.int64)
    m0 = mode == 0  # constant runs of 64 -> RLE
    hr = _splitmix64(base[m0] + (pos[m0] >> np.uint64(6)) * np.uint64(0x85EBCA77))
    vals[m0] = (hr % np.uint64(100)).astype(np.int64)
    m1 = mode == 1  # small-range uniform -> bit-pack
    vals[m1] = (hv[m1] % np.uint64(256)).astype(np.int64)
    m2 = mode == 2  # narrow band -> frame-of-reference
    vals[m2] = 50_000 + (hv[m2] % np.uint64(500)).astype(np.int64)
    m3 = mode == 3  # log-uniform over 32k vocab -> dict
    vals[m3] = np.exp(_u01(hv[m3]) * np.log(VOCAB)).astype(np.int64) - 1
    m4 = mode == 4  # full-range uniform -> plain/bitpack fallback
    vals[m4] = (hv[m4] % np.uint64(2**31)).astype(np.int64)
    vals32 = vals.astype(np.int32)

    srcs = SOURCES[src_idx]
    doc_id = pd.Series(srcs, dtype="object") + "-" + pd.Series(ids.astype(np.int64)).astype(str).str.zfill(12)
    tokens = np.split(vals32, np.cumsum(n_tok.astype(np.int64))[:-1]) if len(ids) else []
    return pd.DataFrame(
        {"doc_id": doc_id.to_numpy(), "tokens": tokens, "n_tok": n_tok,
         "source": srcs}
    )


def synthesize_tokens(spark: SparkSession, n_rows: int, seed: int = 42,
                      parallelism: int | None = None) -> DataFrame:
    """Distributed deterministic token table of exactly ``n_rows`` rows."""
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield _gen_batch(pdf["id"].to_numpy(), seed)

    return (
        spark.range(0, n_rows, numPartitions=parallelism)
        .mapInPandas(gen, schema=TOKENS_SCHEMA)
    )


def scan_tokens(spark: SparkSession, path: str) -> DataFrame:
    """Schema-validated scan of a token table: an Iceberg v2 table directory
    (detected by its ``metadata/`` chain; read through
    `.iceberg.read_iceberg`'s manifest walk — the north star's literal
    input), a plain parquet dir, or a catalog table name."""
    if "/" in path:
        # detect through FsIO so object-store URIs (s3://...) route to the
        # Iceberg walk too, not only local paths
        from ..functions.fsio import FsIO

        try:
            io = FsIO.resolve(path)
            is_iceberg = io.isdir(io.join("metadata"))
        except Exception:
            is_iceberg = False
        if is_iceberg:
            from .iceberg import read_iceberg

            df = read_iceberg(spark, path)
        else:
            df = spark.read.parquet(path)
    else:
        df = spark.read.table(path)
    want = {f.name: f.dataType.simpleString() for f in TOKENS_SCHEMA.fields}
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = {k: v for k, v in want.items() if have.get(k) != v}
    if missing:
        raise ValueError(f"token table at {path} missing/mistyped columns: {missing}; have {have}")
    return df.select(*want)
