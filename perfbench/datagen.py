"""Seeded input generators. The same seed gives bit-identical inputs; the
engine receives only the generated tables, never the seed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

WORDS = np.array(
    ["a", "the", "of", "and", "to", "in", "is", "data", "table", "query",
     "spark", "column", "row", "scan", "sort", "hash", "join", "group",
     "filter", "window", "stream", "batch", "value", "key", "part", "line",
     "order", "customer", "vector", "merge", "fast", "slow", "big", "small",
     "agg", "index", "page", "block", "chunk", "codec", "token", "model",
     "train", "eval", "shard", "cache", "log", "commit", "delta", "iceberg"]
)


def lineitem(seed: int, n_base: int, copies: int) -> pa.Table:
    """A TPC-H-shaped ``lineitem``: ``n_base`` generated rows replicated
    ``copies`` times with shifted order keys (the sf0.1 -> sf1 scheme of
    ``scripts/bench_store_sf1.py``). Keys ascend, so key-range reads prune;
    ``l_partkey`` is unsorted, so point reads on it need the bloom tier."""
    rng = np.random.default_rng(seed)
    n = n_base
    okey = np.sort(rng.integers(0, n // 4, n)).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.integers(90000, 200000, n) / 100.0, 2)
    base = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1992-01-01")
                       + rng.integers(0, 2500, n).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    })
    shift = n // 4
    parts = []
    for k in range(copies):
        p = base.copy()
        p["l_orderkey"] = p["l_orderkey"] + k * shift
        parts.append(p)
    return pa.Table.from_pandas(pd.concat(parts, ignore_index=True),
                                preserve_index=False)


def _rare_words(n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(letters[(i * 7 + j * 11) % 26] for j in range(3 + i % 6))
                     + letters[i % 26] + letters[(i // 26) % 26] for i in range(n)])


RARE = _rare_words(4000)


def documents(seed: int, n: int) -> pa.Table:
    """A ``documents`` corpus in the schema of the repo's test data: common
    words mixed with a 4000-word rare vocabulary (so unrelated documents
    seldom share a 3-gram), five sources (``src0`` dominant), and about one
    document in eight a near-copy of an earlier one, so the MinHash-LSH
    stage finds clusters."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = str(RARE[rng.integers(0, len(RARE))])
        else:
            k = int(rng.integers(8, 90))
            common = rng.random(k) < 0.4
            words = np.where(common, WORDS[rng.zipf(1.3, k).clip(1, len(WORDS)) - 1],
                             RARE[rng.integers(0, len(RARE), k)]).tolist()
        texts.append(" ".join(words))
    src = np.array(["src0", "src1", "src2", "src3", "src4"])[
        np.minimum(rng.geometric(0.5, n) - 1, 4)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]),
        "source": pa.array(src),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


CHURN_GROUPS = np.array(["g0", "g1", "g2", "g3", "g4"])


def churn_rows(rng: np.random.Generator, lo: int, n: int) -> pd.DataFrame:
    """``n`` rows with ids ``lo .. lo+n-1`` for the store-churn workload."""
    return pd.DataFrame({
        "id": np.arange(lo, lo + n, dtype=np.int64),
        "grp": CHURN_GROUPS[rng.integers(0, len(CHURN_GROUPS), n)],
        "val": rng.integers(0, 1000, n).astype(np.int64),
        "amt": np.round(rng.integers(0, 100000, n) / 100.0, 2),
    })


#: raw bytes of one churn row: two int64, one float64, a two-char string
CHURN_ROW_BYTES = 8 + 8 + 8 + 2
