"""Decode pipeline: token store -> token table, plus round-trip verification.

A token store is a table store (see ``encode.py``), so every decode here is
:func:`..operators.table.decode_table` over its stored lanes — a
shuffle-free ``mapInArrow`` over the log-gated chunk scan — with ``n_tok``
re-derived as ``size(tokens)``.

``verify_roundtrip`` enforces the north-rule invariant: per-row token-array
equality between source and decode(encode(source)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .table import decode_table, zone_filter

_LANES = ["doc_id", "tokens", "source"]


def _with_n_tok(df: DataFrame) -> DataFrame:
    """The token table's columns, ``n_tok`` re-derived from ``tokens``."""
    return df.select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")


def decode_tokens(spark: SparkSession, out_dir: str) -> DataFrame:
    return _with_n_tok(decode_table(spark, out_dir, columns=_LANES))


def decode_values_only(spark: SparkSession, out_dir: str) -> DataFrame:
    """Column-pruned decode: only the ``tokens`` lane is read and decoded —
    the doc_id/source string payloads never leave parquet (their columns are
    pruned at the scan). The intra-format analog of Catalyst's column
    pruning, for token-statistics workloads that don't need identities."""
    dec = decode_table(spark, out_dir, columns=["tokens"])
    return dec.select("tokens", F.size("tokens").alias("n_tok"))


def lookup_docs(spark: SparkSession, out_dir: str, doc_ids: list[str]) -> DataFrame:
    """Selective decode: fetch specific documents without scanning every chunk.

    Chunk pruning via the per-chunk ``doc_id`` zone map: a chunk can
    contain a wanted doc only if some id lies within its min/max. The
    predicate lands in the parquet scan (PushedFilters on the min/max
    columns) and only surviving chunks are decoded (a chunk file is one
    parquet row group, so a pruned chunk's payload bytes are still read
    when another chunk of its file survives) — the point-lookup path the
    reference's one-file-per-table layout cannot offer.
    """
    hit = zone_filter([("in", "doc_id", doc_ids)])
    decoded = decode_table(spark, out_dir, columns=_LANES, chunk_filter=hit)
    return _with_n_tok(decoded).filter(F.col("doc_id").isin(doc_ids))


def verify_roundtrip(src: DataFrame, decoded: DataFrame) -> DataFrame:
    """Rows violating the bit-identical invariant (empty DataFrame == pass).

    Full outer join on doc_id: catches missing rows, duplicate rows, and any
    per-row array/source mismatch.
    """
    a = src.select(
        F.col("doc_id"),
        F.col("tokens").alias("src_tokens"),
        F.col("source").alias("src_source"),
    )
    b = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("dec_tokens"),
        F.col("source").alias("dec_source"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    return joined.filter(
        F.col("src_tokens").isNull()
        | F.col("dec_tokens").isNull()
        | (F.col("src_tokens") != F.col("dec_tokens"))
        | (F.col("src_source") != F.col("dec_source"))
    )
