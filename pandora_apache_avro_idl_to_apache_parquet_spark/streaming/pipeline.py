"""Structured Streaming surface of the encode engine.

The reference's only streaming construct is a pull-based console loop
(``/root/reference/demo/avroidl2parquet.fsx:191-420``, A30): generate n events,
flatten, upload, repeat until a key press. Its Spark re-expression is
``foreachBatch`` — each micro-batch runs the same batch encode pipeline into a
batch-scoped output directory, so the store's per-partition checkpoint/resume
semantics apply within every batch, and Spark's
own streaming checkpoint replaces the reference's monotonic Delta-commit-index
discovery (A29, ``README.md:608-701``).

Also provided: an event-time windowed aggregation with a watermark
(``token_window_counts``) — the streaming analog of the manifest's per-source
statistics, demonstrating late-data handling the reference has no notion of.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.encode import encode_tokens
from ..schema import TOKENS_SCHEMA


def read_token_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of token-table parquet drops (schema-validated)."""
    reader = spark.readStream.schema(TOKENS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def dedup_stream(stream: DataFrame, keys: list[str],
                 watermark_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication on ``keys`` with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key seen
    within the watermark horizon and evicts it once the event-time
    watermark passes — O(distinct keys in window) state, not O(stream) —
    which is the only safe shape for an unbounded stream (a bare
    ``dropDuplicates`` on a stream accumulates state forever). Exactly-once
    emission of the first arrival per key comes from the streaming
    checkpoint, mirroring the batch `dedup.exact_duplicates` contract.

    Watermarks require TIMESTAMP (LTZ); an NTZ event-time column is cast
    through the session timezone, which `session.get_spark` pins to UTC so
    the instant is unambiguous."""
    return (
        stream.withColumn(watermark_col, F.col(watermark_col).cast("timestamp"))
        .withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def _encode_batches(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                    encode, available_now: bool):
    """Run ``encode(batch_df, batch_dir)`` on every non-empty micro-batch,
    into ``out_dir/batch=<id>``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        encode(batch_df, os.path.join(out_dir, f"batch={batch_id}"))

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def encode_stream(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                  n_parts: int = 64, available_now: bool = False):
    """Encode a token stream micro-batch-wise via foreachBatch.

    Each batch encodes into ``out_dir/batch=<id>`` — batch-scoped so the
    engine's own part-level checkpoint markers never collide across batches;
    exactly-once delivery comes from Spark's streaming checkpoint (a replayed
    batch re-encodes into the same directory and the part markers make the
    replay idempotent, the A29 optimistic-retry analog).
    """
    return _encode_batches(
        stream, out_dir, checkpoint_dir,
        lambda df, d: encode_tokens(df, d, n_parts=n_parts), available_now)


def encode_table_stream(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                        key_cols: list[str], n_parts: int = 64,
                        available_now: bool = False):
    """Generic-table analog of :func:`encode_stream`: every micro-batch runs
    :func:`..operators.table.encode_table` into ``out_dir/batch=<id>`` —
    same batch-scoped checkpoint isolation, same idempotent-replay contract,
    for ANY supported flat schema (the stream's schema is recorded per batch
    dir in its ``_schema.json`` sidecar)."""
    from ..operators.table import encode_table

    return _encode_batches(
        stream, out_dir, checkpoint_dir,
        lambda df, d: encode_table(df, d, key_cols=key_cols, n_parts=n_parts),
        available_now)


def token_window_counts(stream: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours",
                        ts_col: str = "event_time") -> DataFrame:
    """Event-time tumbling-window token statistics with late-data watermark.

    Input must carry an ``event_time`` timestamp column (a batch token table
    has none — the caller stamps arrival or parses it from doc_id).
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "source",
            "n_docs",
            "n_tokens",
        )
    )


def decoded_batches_dir(out_dir: str) -> list[str]:
    """Batch output dirs written by ``encode_stream`` (sorted by batch id).

    Listed through :class:`..functions.fsio.FsIO` so the streaming surface
    works against the same cluster stores as the batch encode."""
    from ..functions.fsio import FsIO

    io = FsIO.resolve(out_dir)
    return [
        os.path.join(out_dir, d)
        for d in sorted(
            (d for d in io.listdir(io.base) if d.startswith("batch=")),
            key=lambda d: int(d.split("=", 1)[1]),
        )
    ]
