"""Driver-contract query registry: Spark builders + DuckDB oracle SQL, paired.

Every operator family from SURVEY.md §2 (encode pipeline, flatten/explode,
relational coverage, dedup, similarity search, text analysis, multimodal
plumbing) gets a named query over the driver's parquet tables plus — where
SQL-expressible — an ANSI-SQL oracle DuckDB runs on the same tables. Column
names AND dtypes are aligned pair-by-pair because the driver hash-compares
values after sorting columns by name.

Cross-engine determinism rules used throughout:
* hashes are md5-prefix integers (identical in both engines; see
  ``functions.hashing``);
* float scores are computed with the same double-precision expression shape in
  both engines and rounded to 4 decimals *before* any filter/rank, so
  threshold and ordering decisions are identical;
* timestamps stay TIMESTAMP_NTZ end-to-end (the driver's parquet is ntz);
  epoch arithmetic uses microsecond diffs from a fixed anchor, never
  session-timezone-dependent ``unix_timestamp``.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .functions.hashing import duck_md5_int, duck_md5_long, spark_md5_int, spark_md5_long
from .operators import dedup, flatten, multimodal, similarity, sketches, text
from .operators.decode import decode_tokens
from .operators.encode import completed_parts, encode_tokens, read_manifest

# --------------------------------------------------------------------- tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------- derived token table (F1)
# The driver testdata has no (doc_id, tokens, ...) table, so token-pipeline
# queries derive one deterministically from `documents`: tokens = md5-int of
# each word. Both engines produce bit-identical arrays.

_WORDS = "filter(split(text, ' '), w -> w <> '')"
_DUCK_WORDS = "list_filter(string_split(text, ' '), w -> w <> '')"


def _staged_tokens_path(sf_dir: str) -> str | None:
    base = os.environ.get("PANDORA_STAGED_TOKENS_DIR")
    if not base:
        return None
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(base, key)


def stage_derived_tokens(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the derived token table once per sf_dir under
    ``$PANDORA_STAGED_TOKENS_DIR`` so benchmark timings measure the operators,
    not the md5 oracle-parity derivation re-run per query. Content is
    identical to the lazy derivation, so oracle parity is unaffected."""
    d = _staged_tokens_path(sf_dir)
    if d is None:
        raise RuntimeError("PANDORA_STAGED_TOKENS_DIR not set")
    if not os.path.isdir(d):
        _derive_tokens(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def derived_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _staged_tokens_path(sf_dir)
    if staged and os.path.isdir(staged):
        return spark.read.parquet(staged)
    return _derive_tokens(spark, sf_dir)


def _derive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.expr("source || '-' || lpad(cast(doc_id as string), 12, '0')").alias("doc_id"),
        F.expr(f"transform({_WORDS}, w -> {spark_md5_int('w')})").alias("tokens"),
        F.expr(f"cast(size({_WORDS}) as int)").alias("n_tok"),
        F.col("source"),
    )


DUCK_TOKS = f"""
toks AS (
  SELECT source || '-' || lpad(doc_id::VARCHAR, 12, '0') AS doc_id,
         list_transform({_DUCK_WORDS}, w -> {duck_md5_int('w')}) AS tokens,
         len({_DUCK_WORDS})::INTEGER AS n_tok,
         source
  FROM documents
)
"""

# Exploded-token view shared by several oracles (DuckDB 1.0 has no WITH
# ORDINALITY, so positions come from an unnested generate_series).
DUCK_TOK_ROWS = (
    "tok_idx AS (SELECT doc_id, source, n_tok, tokens, "
    "unnest(generate_series(1, len(tokens))) AS i FROM toks), "
    "tok_rows AS (SELECT doc_id, (i - 1)::INTEGER AS pos, tokens[i] AS token, "
    "source, n_tok FROM tok_idx)"
)


# ------------------------------------------------------------- encode cache
# Three queries (roundtrip, manifest stats, codec histogram) share one encode
# run per sf_dir; the output lives in a content-keyed temp dir and is reused
# when its checkpoint markers are complete (idempotent, like the engine's own
# resume path).

_ENCODE_PARTS = 8
_FORMAT_TAG = "v9"  # bump to bust the /tmp encode cache on payload-affecting changes


def _encode_dir(spark: SparkSession, sf_dir: str) -> str:
    key = hashlib.md5(f"{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_enc_{key}")

    if sorted(completed_parts(out)) != list(range(_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        encode_tokens(derived_tokens(spark, sf_dir), out, n_parts=_ENCODE_PARTS)
    return out


# ------------------------------------------------------------------ queries


def q_tokens_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flatten.flatten_tokens(derived_tokens(spark, sf_dir))


O_TOKENS_EXPLODE = f"""
WITH {DUCK_TOKS}, {DUCK_TOK_ROWS}
SELECT doc_id, pos, token FROM tok_rows
"""


def q_tokens_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode → decode → explode: the north-rule bit-identical invariant,
    verified against an engine that never saw the codecs."""
    out = _encode_dir(spark, sf_dir)
    return flatten.flatten_tokens(decode_tokens(spark, out))


O_TOKENS_ROUNDTRIP = O_TOKENS_EXPLODE


def q_iceberg_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE NORTH STAR, end to end and literal: "ingests an Iceberg table of
    pre-tokenized training sequences" → per-column lightweight-compression
    encode → decode bit-identical. The token table (doc_id, tokens:
    array<int>, n_tok, source — the input_hint shape exactly) is staged as a
    REAL Iceberg v2 layout; the pipeline reads it back through the manifest
    chain (`sources/iceberg.read_iceberg`), encodes through the flagship
    codec path, decodes, and explodes — the oracle derives the same tokens
    from `documents` having seen neither Iceberg nor the codecs."""
    from .sources.iceberg import read_iceberg, write_iceberg

    key = hashlib.md5(
        f"icetok1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    ice = os.path.join(tempfile.gettempdir(), f"pandora_engine_icetok_{key}")
    if not os.path.exists(os.path.join(ice, "metadata", "version-hint.text")):
        shutil.rmtree(ice, ignore_errors=True)
        write_iceberg(derived_tokens(spark, sf_dir), ice,
                      partition_by="source")
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_iceenc_{key}")
    if sorted(completed_parts(out)) != list(range(_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        encode_tokens(read_iceberg(spark, ice), out, n_parts=_ENCODE_PARTS)
    return flatten.flatten_tokens(decode_tokens(spark, out))


O_ICEBERG_ENCODE_ROUNDTRIP = O_TOKENS_EXPLODE


def q_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _encode_dir(spark, sf_dir)
    return read_manifest(spark, out).agg(
        F.sum("n_rows").alias("total_rows"),
        F.sum("n_values").alias("total_values"),
        F.min("doc_id_min").alias("first_doc"),
        F.max("doc_id_max").alias("last_doc"),
    )


O_MANIFEST_STATS = f"""
WITH {DUCK_TOKS}
SELECT count(*)::BIGINT AS total_rows,
       sum(n_tok)::BIGINT AS total_values,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM toks
"""


def q_manifest_codec_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard driver signal for the codec-selection path (VERDICT r04 #4,
    retiring the oracle-less ``manifest_codecs``): accounting invariants over
    the raw encoded chunk files. For each of the three lanes (``doc_id``,
    ``source``, ``tokens``) the chunk's ``__enc`` bytes must equal the
    physical payload blob bytes actually written; every chosen codec name
    (each ``+``-joined stream of a composite lane) must come from the
    registry (`functions.codecs.CODEC_NAMES`); and no lane may lose to PLAIN
    by more than its fixed headers — the cost model always includes PLAIN
    as a candidate, so a worse choice is a selection bug, not taste.
    total_rows / total_values tie the same files to the source corpus, so
    the DuckDB oracle pins real values, not just tautologies."""
    from .functions import codecs

    out = _encode_dir(spark, sf_dir)
    raw = spark.read.parquet(os.path.join(out, "data"))
    known = sorted(set(codecs.CODEC_NAMES.values()))
    per_stream_eq = []
    per_stream_known = []
    per_stream_within = []
    for s in ("doc_id", "source", "tokens"):
        per_stream_eq.append(
            F.sum(F.length(F.col(f"{s}__payload"))) == F.sum(F.col(f"{s}__enc"))
        )
        names_known = F.forall(F.split(F.col(f"{s}__codec"), r"\+"),
                               lambda c: c.isin(known))
        per_stream_known.append(
            F.max(F.when(names_known, 0).otherwise(1)) == F.lit(0)
        )
        # PLAIN is enc = raw + 13-byte header (+ tiny codec tables) per
        # stream, plus 16 bytes of stream lengths in a composite lane; 64
        # bytes of slack bounds every legitimate header in the format.
        per_stream_within.append(
            F.max(
                F.when(F.col(f"{s}__enc") > F.col(f"{s}__raw") + 64, 1)
                .otherwise(0)
            )
            == F.lit(0)
        )

    def _all(exprs):
        acc = exprs[0]
        for e in exprs[1:]:
            acc = acc & e
        return acc

    return raw.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.sum(F.expr("(tokens__raw - 4 * n_rows) div 4")).cast("long")
        .alias("total_values"),
        _all(per_stream_eq).cast("long").alias("payload_bytes_match"),
        _all(per_stream_known).cast("long").alias("codecs_known"),
        _all(per_stream_within).cast("long").alias("enc_within_plain"),
    )


O_MANIFEST_CODEC_INVARIANT = f"""
WITH {DUCK_TOKS}
SELECT count(*)::BIGINT AS total_rows,
       sum(n_tok)::BIGINT AS total_values,
       1::BIGINT AS payload_bytes_match,
       1::BIGINT AS codecs_known,
       1::BIGINT AS enc_within_plain
FROM toks
"""


def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flatten.token_stats_by_source(derived_tokens(spark, sf_dir))


O_TOKEN_STATS_BY_SOURCE = f"""
WITH {DUCK_TOKS}
SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       min(n_tok) AS min_len, max(n_tok) AS max_len,
       round(avg(n_tok), 4) AS avg_len
FROM toks GROUP BY source ORDER BY source
"""


def q_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flatten.token_offsets(derived_tokens(spark, sf_dir))


O_TOKEN_OFFSETS = f"""
WITH {DUCK_TOKS}
SELECT doc_id, n_tok,
       coalesce(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS offset
FROM toks
"""


def q_dict_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flatten.dictionary_cardinality(derived_tokens(spark, sf_dir))


O_DICT_CARDINALITY = f"""
WITH {DUCK_TOKS}, {DUCK_TOK_ROWS}
SELECT source, count(DISTINCT token)::BIGINT AS n_distinct_tokens
FROM tok_rows GROUP BY source ORDER BY source
"""


def q_values_only_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned decode path: token histogram moments computed from the
    tokens lane alone (string payloads never read)."""
    from .operators.decode import decode_values_only

    out = _encode_dir(spark, sf_dir)
    df = decode_values_only(spark, out)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_tok").alias("n_values"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, t) -> a + t)")).alias("token_sum"),
        F.max(F.expr("array_max(tokens)")).alias("max_token"),
    )


O_VALUES_ONLY_STATS = f"""
WITH {DUCK_TOKS}
SELECT count(*)::BIGINT AS n_rows, sum(n_tok)::BIGINT AS n_values,
       sum(coalesce(list_sum(tokens), 0))::BIGINT AS token_sum,
       max(list_max(tokens)) AS max_token
FROM toks
"""


def q_doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective decode (point lookup): fetch five specific documents through
    the chunks' doc_id zone map — chunks outside the range
    are pruned at the parquet scan and never decoded
    (``operators/decode.py:lookup_docs``)."""
    from .operators.decode import lookup_docs

    out = _encode_dir(spark, sf_dir)
    ids = [
        r["doc_id"]
        for r in derived_tokens(spark, sf_dir)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    ]
    return (
        lookup_docs(spark, out, ids)
        .select(
            "doc_id",
            "n_tok",
            F.expr("aggregate(tokens, 0L, (a, t) -> a + t)").alias("token_sum"),
            "source",
        )
        .orderBy("doc_id")
    )


O_DOC_LOOKUP = f"""
WITH {DUCK_TOKS}
SELECT doc_id, n_tok, coalesce(list_sum(tokens), 0)::BIGINT AS token_sum, source
FROM toks ORDER BY doc_id LIMIT 5
"""


def q_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dtype chunk round-trip: int64 (ids, epoch-µs timestamps), float64
    and UTF-8 string columns of ``events`` pass through auto-selected codecs
    (``plans.cost.select_typed_codec`` / ``select_str_codec``) and back inside
    one Arrow ``mapInPandas`` — the reference's LONG/TIMESTAMP_MS/DOUBLE/
    STRING physical types (``/root/reference/.../Parquet.fs:52-110,534-621``)
    exercised end-to-end. The oracle is the identity projection in DuckDB, so
    any non-bit-identical decode fails the hash compare. The string column is
    salted with multi-byte UTF-8 to force the FSST escape path."""
    import numpy as np
    import pandas as pd

    from .functions import codecs as C
    from .plans.cost import select_str_codec, select_typed_codec

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)").alias("ts_us"),
        "value",
        F.expr("event_type || ' é✓'").alias("tag"),
    )
    schema = ev.schema

    def rt(batches):
        for pdf in batches:
            out = {}
            for col in ("event_id", "user_id", "ts_us"):
                out[col] = C.decode_typed(
                    select_typed_codec(pdf[col].to_numpy(np.int64))
                )
            out["value"] = C.decode_typed(
                select_typed_codec(pdf["value"].to_numpy(np.float64))
            )
            lens, blob = C.strings_to_blob(pdf["tag"])
            d_lens, d_blob = C.decode_strings(select_str_codec(lens, blob))
            out["tag"] = C.blob_to_strings(d_lens, d_blob).to_pandas()
            yield pd.DataFrame(out)

    return ev.mapInPandas(rt, schema=schema)


O_TYPED_ROUNDTRIP = """
SELECT event_id, user_id,
       date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us,
       value, event_type || ' é✓' AS tag
FROM events
"""


# ----------------------------------------------- generic table encode (A9+)
# The schema-driven generalization of the encode engine (operators/table.py):
# ANY flat table — here a lineitem projection spanning long/int/double/string/
# timestamp/date/bool plus a nullable column — is per-column chunk-encoded
# with auto-selected codecs and decoded bit-identically. Three queries share
# one encode run per sf_dir (cached like _encode_dir).


def _table_encode_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        (F.col("l_quantity") > 25).alias("bulky"),
        F.expr("nullif(l_returnflag, 'N')").alias("flag_n"),
        # decimal128 lane: integer-exact arithmetic (no float rounding) whose
        # unscaled value (x 10^4) exceeds int64, so the hi word is live
        F.expr(
            "cast(cast(l_orderkey as decimal(20,0)) * 100000000000000"
            " + l_linenumber as decimal(25,4))"
        ).alias("wide_dec"),
    )


_TABLE_ENCODE_PARTS = 8


def _bloom_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Separate cached encode with per-chunk blooms on the unsorted
    l_partkey column (the shared store's schema stays untouched so its
    round-trip oracles keep their column set)."""
    from .operators.table import encode_table

    key = hashlib.md5(
        f"tblbloom1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_tblb_{key}")
    if completed_parts(out) != list(range(_TABLE_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
            ),
            out,
            key_cols=["l_orderkey", "l_linenumber"],
            n_parts=_TABLE_ENCODE_PARTS,
            bloom_cols=["l_partkey"],
        )
    return out


def q_table_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on an UNSORTED column of the encoded store: the
    key-sorted chunks' l_partkey min/max spans prune nothing, so the
    per-chunk bloom filter does the work — only chunks whose bloom admits
    the value decode. Result = the plain SQL filter."""
    from .operators.table import lookup_value

    out = _bloom_table_dir(spark, sf_dir)
    return (
        lookup_value(spark, out, "l_partkey", 42)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


O_TABLE_BLOOM_LOOKUP = """
SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
FROM lineitem WHERE l_partkey = 42
ORDER BY l_orderkey, l_linenumber
"""


def _zorder_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cached encode clustered by a Morton key over (l_partkey, l_suppkey):
    chunks cover small rectangles of that 2-D space, so BOTH columns' zone
    maps prune a 2-D range predicate (a key-sorted layout prunes neither)."""
    from .operators.clustering import zorder_bounds, zorder_key
    from .operators.table import encode_table

    key = hashlib.md5(
        f"tblz1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_tblz_{key}")
    if completed_parts(out) != list(range(_TABLE_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        base = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_extendedprice",
        )
        bounds = zorder_bounds(base, ["l_partkey", "l_suppkey"])
        encode_table(
            base.withColumn("zkey", zorder_key(bounds)),
            out,
            key_cols=["zkey", "l_orderkey", "l_linenumber"],
            n_parts=_TABLE_ENCODE_PARTS,
        )
    return out


def q_table_zorder_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range query over the z-ordered store (Delta ``OPTIMIZE ZORDER
    BY`` layout): chunk pruning via BOTH columns' zone maps
    (``column_range_filter`` conjunction), then the exact row filter —
    result = the plain SQL 2-D predicate."""
    from .operators.table import column_range_filter, decode_table

    out = _zorder_table_dir(spark, sf_dir)
    pred = (column_range_filter("l_partkey", 100, 300)
            & column_range_filter("l_suppkey", 10, 40))
    return (
        decode_table(
            spark, out,
            columns=["l_orderkey", "l_linenumber", "l_partkey",
                     "l_suppkey", "l_extendedprice"],
            chunk_filter=pred,
        )
        .filter(F.col("l_partkey").between(100, 300)
                & F.col("l_suppkey").between(10, 40))
    )


O_TABLE_ZORDER_RANGE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
"""


def _mutable_table_dir(spark: SparkSession, sf_dir: str, kind: str,
                       extra_cols: list[str] | None = None) -> str:
    """Cached encode that a row-level op (DELETE / MERGE) mutates exactly
    once: the commit-log length is the 'already mutated' marker (encode
    leaves one entry; the rewrite's atomic add+remove entry makes two), so
    bench / oracle re-runs read the post-mutation table without rewriting
    it again."""
    from .operators.table import encode_table

    key = hashlib.md5(
        f"tblmut1:{kind}:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_tblm_{kind}_{key}")
    if completed_parts(out) != list(range(_TABLE_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_returnflag", *(extra_cols or []),
            ),
            out,
            key_cols=["l_orderkey", "l_linenumber"],
            n_parts=_TABLE_ENCODE_PARTS,
        )
    return out


def q_table_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on the encoded store (Delta ``DELETE FROM``,
    DeltaLake.fs:176-444): copy-on-write rewrite of only the files holding
    matches, ONE atomic add+remove commit entry, untouched files never
    rewritten. The decoded survivor set = the plain SQL anti-filter."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, delete_where

    out = _mutable_table_dir(spark, sf_dir, "del")
    if len(log_versions(out)) < 2:
        delete_where(spark, out, F.col("l_quantity") > 45.0,
                     condition_cols=["l_quantity"])
    return decode_table(spark, out)


O_TABLE_DELETE_WHERE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem WHERE NOT (l_quantity > 45.0)
"""


def q_table_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (Delta's DV feature over
    this store's chunk model; commit protocol DeltaLake.fs:176-444): two
    sequential sparse deletes record matched rows' (chunk_id, ordinal) in
    ``_dv/`` sidecars + one metadata-only log action each — ZERO data files
    rewritten (asserted), every reader subtracts at decode. Ordinals are
    physical, so the second delete composes with the first. Survivors =
    the conjunctive SQL anti-filter."""
    from .operators.encode import committed_files, log_versions
    from .operators.table import decode_table, dv_delete_where

    out = _mutable_table_dir(spark, sf_dir, "dvd")
    if len(log_versions(out)) < 3:
        before = committed_files(out)
        dv_delete_where(spark, out, F.col("l_orderkey") % 97 == 13,
                        condition_cols=["l_orderkey"])
        dv_delete_where(
            spark, out,
            (F.col("l_orderkey") % 97 == 14) | (F.col("l_quantity") > 49.0),
            condition_cols=["l_orderkey", "l_quantity"],
        )
        if committed_files(out) != before:  # merge-on-read invariant
            raise AssertionError("dv_delete_where rewrote data files")
    return decode_table(spark, out)


O_TABLE_DV_DELETE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE NOT (l_orderkey % 97 = 13)
  AND NOT (l_orderkey % 97 = 14 OR l_quantity > 49.0)
"""


def q_table_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors (`dv_update_where` — the
    DV-backed half of Delta UPDATE over the commit protocol,
    DeltaLake.fs:176-444): the old rows DV-mark, the updated rows append as
    fresh files, ONE atomic adds+dv commit — ZERO pre-update files removed
    (asserted). Two sequential sparse updates compose: the second's
    predicate matches the FIRST's assigned values (probe runs over the
    DV-filtered view). Result = the nested CASE WHEN in SQL."""
    from .operators.encode import committed_files, log_versions
    from .operators.table import decode_table, dv_update_where

    out = _mutable_table_dir(spark, sf_dir, "dvu")
    # EACH update guards on its own log version (not one <3 check for the
    # pair): a crash between the two commits must not re-apply update 1 —
    # its predicate would re-match the relocated rows and double the price
    # AGAIN, permanently poisoning the cached table against the oracle
    before = set(committed_files(out))
    if len(log_versions(out)) < 2:
        dv_update_where(
            spark, out, F.col("l_orderkey") % 97 == 13,
            {"l_extendedprice": F.col("l_extendedprice") * 2,
             "l_returnflag": F.lit("X")},
            condition_cols=["l_orderkey"],
        )
    if len(log_versions(out)) < 3:
        dv_update_where(
            spark, out,
            (F.col("l_returnflag") == "X") & (F.col("l_quantity") > 25.0),
            {"l_quantity": F.lit(0.0)},
            condition_cols=["l_returnflag", "l_quantity"],
        )
        if not before <= set(committed_files(out)):  # merge-on-read invariant
            raise AssertionError("dv_update_where removed pre-update files")
    return decode_table(spark, out)


O_TABLE_DV_UPDATE = """
WITH u1 AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         CASE WHEN l_orderkey % 97 = 13
              THEN l_extendedprice * 2 ELSE l_extendedprice
         END AS l_extendedprice,
         CASE WHEN l_orderkey % 97 = 13 THEN 'X' ELSE l_returnflag
         END AS l_returnflag
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag = 'X' AND l_quantity > 25.0
            THEN 0.0 ELSE l_quantity
       END AS l_quantity,
       l_extendedprice, l_returnflag
FROM u1
"""


def q_table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (Delta ``MERGE`` whenMatchedUpdateAll + whenNotMatchedInsertAll)
    keyed on (l_orderkey, l_linenumber): line-1 rows get a doubled price
    (updates), line-7 rows re-keyed past the key space insert as new rows;
    ONE atomic commit entry. Decoded table = anti-join ∪ source in SQL."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, merge_table

    out = _mutable_table_dir(spark, sf_dir, "mrg")
    if len(log_versions(out)) < 2:
        base = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag",
        )
        updates = base.filter(F.col("l_linenumber") == 1).withColumn(
            "l_extendedprice", F.col("l_extendedprice") * 2
        )
        inserts = base.filter(F.col("l_linenumber") == 7).withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(100000000).cast("long")
        )
        merge_table(spark, out, updates.unionByName(inserts))
    return decode_table(spark, out)


O_TABLE_MERGE_UPSERT = """
WITH src AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * 2 AS l_extendedprice, l_returnflag
  FROM lineitem WHERE l_linenumber = 1
  UNION ALL
  SELECT l_orderkey + 100000000, l_linenumber, l_quantity,
         l_extendedprice, l_returnflag
  FROM lineitem WHERE l_linenumber = 7
)
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem t
WHERE NOT EXISTS (SELECT 1 FROM src s
                  WHERE s.l_orderkey = t.l_orderkey
                    AND s.l_linenumber = t.l_linenumber)
UNION ALL
SELECT * FROM src
"""


def q_table_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (Delta ``UPDATE ... SET ... WHERE``): assignments
    evaluate against the PRE-update row (SQL UPDATE semantics); only files
    holding matches rewrite (copy-on-write), ONE atomic commit entry. The
    decoded table = the CASE WHEN projection in SQL."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, update_where

    out = _mutable_table_dir(spark, sf_dir, "upd")
    if len(log_versions(out)) < 2:
        update_where(
            spark, out, F.col("l_returnflag") == "A",
            {"l_quantity": F.col("l_quantity") + 100.0,
             "l_returnflag": F.lit("X")},
            condition_cols=["l_returnflag"],
        )
    return decode_table(spark, out)


O_TABLE_UPDATE_WHERE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag = 'A' THEN l_quantity + 100.0
            ELSE l_quantity END AS l_quantity,
       l_extendedprice,
       CASE WHEN l_returnflag = 'A' THEN 'X'
            ELSE l_returnflag END AS l_returnflag
FROM lineitem
"""


def q_table_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two table versions (Delta CDF): an UPDATE in
    the range surfaces as its old row image (``delete``) plus its new image
    (``insert``) — the exact multiset diff of the two version reads; an
    append-only range takes the no-comparison fast path (pytest-proven)."""
    from .operators.encode import log_versions
    from .operators.table import table_diff, update_where

    out = _mutable_table_dir(spark, sf_dir, "cdf")
    if len(log_versions(out)) < 2:
        update_where(
            spark, out, F.col("l_linenumber") == 4,
            {"l_extendedprice": F.col("l_extendedprice") * 2},
            condition_cols=["l_linenumber"],
        )
    return table_diff(spark, out, 0, 1)


O_TABLE_CHANGES_FEED = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
       'delete' AS _change_type
FROM lineitem WHERE l_linenumber = 4
UNION ALL
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice * 2, l_returnflag,
       'insert' AS _change_type
FROM lineitem WHERE l_linenumber = 4
"""


def q_table_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map<string,string> column through the encoded store: the map rides
    three codec'd streams (entry lengths + keys + values — the reference's
    MAP contract kept as a COLUMN instead of exploding to a child table,
    Parquet.fs:948-1039). Variable sizes and NULL maps exercise the
    validity stream; the decoded map explodes to (event_id, key, value)
    rows so the driver hash can canonicalize it."""
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tblmap1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_map_{key}")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            F.when(
                F.col("event_id") % 5 == 0,
                F.expr("map('type', event_type, 'user', cast(user_id as string), 'flag', 'x')"),
            ).otherwise(
                F.expr("map('type', event_type, 'user', cast(user_id as string))")
            )
        ).alias("props_map"),
    )
    if not completed_parts(out):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(ev, out, key_cols=["event_id"],
                     n_parts=_TABLE_ENCODE_PARTS)
    dec = decode_table(spark, out)
    return dec.select("event_id", F.explode("props_map").alias("key", "value"))


O_TABLE_MAP_ROUNDTRIP = """
WITH base AS (
  SELECT event_id, event_type, user_id FROM events WHERE event_id % 97 <> 0
)
SELECT event_id, 'type' AS key, event_type AS value FROM base
UNION ALL
SELECT event_id, 'user', user_id::VARCHAR FROM base
UNION ALL
SELECT event_id, 'flag', 'x' FROM base WHERE event_id % 5 = 0
"""


def q_table_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct<...> column through the encoded store (round 4): the struct
    rides as independent per-leaf codec'd lanes plus a presence lane
    (``flatten_struct_arrow`` in the encode kernel — the reference's
    flatten-to-columns contract, Parquet.fs:768-878, applied INSIDE one
    table); the chunk decoder reassembles the original shape. Exercises a NULL struct (presence
    false ⇒ whole struct null), a null leaf inside a non-null struct, and
    a nested inner struct; the decoded struct projects back to flat
    columns so the driver hash can canonicalize it."""
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tblstruct1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_struct_{key}")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 101 == 0, F.lit(None)).otherwise(
            F.struct(
                F.col("event_type").alias("etype"),
                F.when(F.col("event_id") % 7 == 0, F.lit(None))
                .otherwise(F.col("user_id")).alias("uid"),
                F.struct(F.col("value").alias("val")).alias("inner"),
            )
        ).alias("ctx"),
    )
    if not completed_parts(out):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(ev, out, key_cols=["event_id"],
                     n_parts=_TABLE_ENCODE_PARTS)
    dec = decode_table(spark, out)
    # nulls coalesce to sentinels ONLY in the compare projection (the
    # driver's value hash can't hold NaN); a sentinel appearing at all
    # proves decode returned the null correctly
    return dec.select(
        "event_id",
        F.coalesce(F.col("ctx.etype"), F.lit("<null>")).alias("etype"),
        F.coalesce(F.col("ctx.uid"), F.lit(-1)).alias("uid"),
        F.coalesce(F.col("ctx.inner.val"), F.lit(-1.0)).alias("val"),
    )


O_TABLE_STRUCT_ROUNDTRIP = """
SELECT event_id,
       CASE WHEN event_id % 101 = 0 THEN '<null>' ELSE event_type END AS etype,
       CASE WHEN event_id % 101 = 0 OR event_id % 7 = 0
            THEN -1 ELSE user_id END AS uid,
       CASE WHEN event_id % 101 = 0 THEN -1.0 ELSE value END AS val
FROM events
"""


def q_table_array_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<struct<...>> column through the encoded store (round 5, the
    in-store analog of the reference's first-class array-of-record rewrite
    A5, Avro.fs:221-290): the column rides as per-leaf ARRAY lanes plus a
    per-element presence lane; the chunk decoder reassembles it in Arrow.
    Exercises NULL arrays, empty arrays, null elements, null leaf values, a
    boolean leaf (int lane), and a nested inner struct. The decoded array
    posexplodes back to scalar rows (the driver hash can't hold list
    cells); sentinels only in the compare projection."""
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tblarrstruct1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_arrstruct_{key}")

    def elem(j: int):
        e = F.col("event_id") + F.lit(j)
        return F.when(e % 5 == 0, F.lit(None)).otherwise(F.struct(
            F.concat(F.col("event_type"), F.lit(f"-{j}")).alias("tag"),
            F.when(e % 7 == 0, F.lit(None))
            .otherwise(F.col("user_id") * 10 + j).alias("v"),
            (e % 2 == 0).alias("ok"),
            F.struct((F.col("value") + j).alias("val")).alias("inner"),
        ))

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.slice(F.array(elem(1), elem(2), elem(3)), F.lit(1),
                    (F.col("event_id") % 4).cast("int"))
        ).alias("tags"),
    )
    if not completed_parts(out):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(ev, out, key_cols=["event_id"],
                     n_parts=_TABLE_ENCODE_PARTS)
    dec = decode_table(spark, out)
    ex = dec.select("event_id", F.posexplode_outer("tags"))
    return ex.select(
        "event_id",
        F.coalesce(F.col("pos"), F.lit(-1)).alias("pos"),
        F.coalesce(F.col("col.tag"), F.lit("<null>")).alias("tag"),
        F.coalesce(F.col("col.v"), F.lit(-1)).alias("v"),
        F.coalesce(F.col("col.ok").cast("int"), F.lit(-1)).alias("ok"),
        F.coalesce(F.round(F.col("col.inner.val"), 6), F.lit(-1.0)).alias("val"),
    )


O_TABLE_ARRAY_STRUCT_ROUNDTRIP = """
WITH n AS (
  SELECT event_id, event_type, user_id, value,
         CASE WHEN event_id % 13 = 0 THEN -1
              ELSE (event_id % 4)::INT END AS n
  FROM events
), expanded AS (
  SELECT event_id, event_type, user_id, value,
         unnest(generate_series(1, n)) AS j
  FROM n WHERE n > 0
)
SELECT event_id,
       (j - 1)::INT AS pos,
       CASE WHEN (event_id + j) % 5 = 0 THEN '<null>'
            ELSE event_type || '-' || j END AS tag,
       CASE WHEN (event_id + j) % 5 = 0 OR (event_id + j) % 7 = 0 THEN -1
            ELSE user_id * 10 + j END AS v,
       CASE WHEN (event_id + j) % 5 = 0 THEN -1
            ELSE ((event_id + j) % 2 = 0)::INT END AS ok,
       CASE WHEN (event_id + j) % 5 = 0 THEN -1.0
            ELSE round(value + j, 6) END AS val
FROM expanded
UNION ALL
SELECT event_id, -1 AS pos, '<null>' AS tag, -1 AS v, -1 AS ok, -1.0 AS val
FROM n WHERE n <= 0
"""


def q_table_compact_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style file compaction is content-neutral: two append runs
    leave 16 small chunk files; ``compact_table`` regroups them into few
    large ones behind ONE atomic add+remove log entry (chunk rows move
    verbatim — no re-encode). The decoded table must equal the union of
    both appends exactly; a row lost or duplicated in the swap fails
    rows/hash."""
    from .operators.encode import log_versions
    from .operators.table import compact_table, decode_table, encode_table

    key = hashlib.md5(
        f"tblcompact1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_compact_{key}")
    # log length is the 'already compacted' marker: two appends + one swap
    if len(log_versions(out)) < 3:
        shutil.rmtree(out, ignore_errors=True)
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag",
        )
        encode_table(li.filter(F.col("l_orderkey") % 2 == 0), out,
                     key_cols=["l_orderkey", "l_linenumber"], n_parts=8)
        encode_table(li.filter(F.col("l_orderkey") % 2 == 1), out,
                     key_cols=["l_orderkey", "l_linenumber"], n_parts=8,
                     run="r1")
        res = compact_table(out, max_group_bytes=1 << 30)
        if res.get("files_after", 99) >= res.get("files_before", 0):
            raise RuntimeError(f"compaction did not reduce file count: {res}")
    return decode_table(spark, out)


O_TABLE_COMPACT_STABLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
"""


def q_table_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log CHECKPOINT (round 5 — the Delta 10-commit checkpoint
    contract, `DeltaLake.fs:176-444` family): three appends build a log
    tail, `checkpoint_log` collapses it into one parquet snapshot (+
    `_last_checkpoint` pointer), a FOURTH append lands after it, and the
    read resolves files as checkpoint-state + post-checkpoint tail. The
    decoded table must equal the plain SQL over the source — a file lost or
    duplicated across the checkpoint boundary fails rows/hash."""
    from .operators.encode import checkpoint_log, read_log_checkpoint
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tbllogckpt1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_logckpt_{key}")
    if read_log_checkpoint(out) is None:
        shutil.rmtree(out, ignore_errors=True)
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        )
        for k in range(3):
            encode_table(li.filter(F.col("l_orderkey") % 4 == k), out,
                         key_cols=["l_orderkey", "l_linenumber"], n_parts=4,
                         run=f"r{k}")
        checkpoint_log(out)
        encode_table(li.filter(F.col("l_orderkey") % 4 == 3), out,
                     key_cols=["l_orderkey", "l_linenumber"], n_parts=4,
                     run="r3")
    return decode_table(spark, out)


O_TABLE_LOG_CHECKPOINT = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
"""


def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (round 5): duplicate-word fraction +
    top-2-gram fraction per document with the keep verdict — the
    within-document repetition family the length/stopword `text_quality`
    rules cannot see. Oracle recomputes both fractions exactly."""
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


O_TEXT_REPETITION_FILTER = """
WITH arr AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
  FROM documents
), base AS (
  SELECT doc_id, len(w)::INT AS n_words,
         round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 6) AS dup_word_frac,
         w
  FROM arr WHERE len(w) >= 2
), g2 AS (
  SELECT doc_id, n_words, dup_word_frac, w[i] || ' ' || w[i+1] AS g
  FROM base, unnest(generate_series(1, len(w) - 1)) AS t(i)
), cnt AS (
  SELECT doc_id, n_words, dup_word_frac, g, count(*) AS c
  FROM g2 GROUP BY ALL
)
SELECT doc_id, n_words, dup_word_frac,
       round(max(c)::DOUBLE / sum(c), 6) AS top_2gram_frac,
       (min(dup_word_frac) < 0.60
        AND round(max(c)::DOUBLE / sum(c), 6) < 0.20)::INT AS keep
FROM cnt GROUP BY doc_id, n_words, dup_word_frac
"""


def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (round 5 — Lee et al. 2022's duplicated
    token spans, the pass doc-level MinHash/SimHash cannot see): maximal
    per-document spans of 12-token windows that occur verbatim in >= 2
    distinct documents. Spark hashes grams to 64-bit md5 pre-shuffle; the
    DuckDB oracle recomputes on the raw gram strings — a hash collision,
    a window off-by-one, or a wrong island merge all fail the row hash."""
    return dedup.duplicate_spans(
        _t(spark, sf_dir, "documents"), n=12, min_docs=2)


O_DEDUP_DUPLICATE_SPANS = """
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 12
), grams AS (
  SELECT doc_id, i AS start, array_to_string(w[i+1:i+12], ' ') AS g
  FROM arr, unnest(generate_series(0, len(w) - 12)) AS t(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, start FROM grams SEMI JOIN dup USING (g)
), isl AS (
  SELECT doc_id, start,
         CASE WHEN start <= lag(start) OVER w + 12 THEN 0 ELSE 1 END AS ni
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start)
), gids AS (
  SELECT doc_id, start,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM isl
)
SELECT doc_id, min(start)::INT AS span_start, (max(start) + 12)::INT AS span_end,
       count(*)::BIGINT AS n_windows
FROM gids GROUP BY doc_id, gid
"""


def q_table_analyze_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE (round 5): per-column NDV register state persisted to
    the `_stats/` sidecar by `operators.stats.analyze_table`, then served
    WITHOUT reading data — ndv from the stored md5-HLL registers (exactly
    the estimate a direct pass produces; register purity), row/null counts
    from the zone maps alone. The oracle recomputes everything from the raw
    table: exact counts plus the identical HLL estimate in DuckDB SQL."""
    from .operators.stats import analyze_table, ndv_estimates
    from .operators.table import table_stats

    out = _table_encode_dir(spark, sf_dir)
    cols = ["l_orderkey", "l_returnflag", "flag_n", "ship_date"]
    analyze_table(spark, out, columns=cols)  # idempotent per log version
    est = ndv_estimates(spark, out)
    counts = (
        table_stats(spark, out, columns=cols)
        .select(F.col("column").alias("col_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_nulls").cast("long").alias("n_nulls"))
    )
    return counts.join(est, "col_name").select(
        "col_name", "n_rows", "n_nulls", "ndv_est")


def _ndv_oracle_sql() -> str:
    specs = [
        ("l_orderkey", "l_orderkey"),
        ("l_returnflag", "l_returnflag"),
        ("flag_n", "nullif(l_returnflag, 'N')"),
        ("ship_date", "(l_shipdate::DATE)"),
    ]
    stacked = "\n  UNION ALL ".join(
        f"SELECT '{n}' AS col_name, ({e})::VARCHAR AS val FROM lineitem"
        for n, e in specs
    )
    counts = "\n  UNION ALL ".join(
        f"SELECT '{n}' AS col_name, count(*)::BIGINT AS n_rows, "
        f"(count(*) - count({e}))::BIGINT AS n_nulls FROM lineitem"
        for n, e in specs
    )
    hll = sketches.hll_distinct_sql("stacked_nn", ["col_name"], "val",
                                    p=8, out_name="ndv_est")
    return f"""
WITH stacked AS ({stacked}),
stacked_nn AS (SELECT * FROM stacked WHERE val IS NOT NULL),
counts AS ({counts})
SELECT c.col_name, c.n_rows, c.n_nulls, e.ndv_est
FROM counts c JOIN ({hll}) e USING (col_name)
"""


O_TABLE_ANALYZE_NDV = _ndv_oracle_sql()


def q_table_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clause-mode MERGE (round 5 — the full Delta MERGE surface beyond the
    round-3 upsert): a conditional in-place matched UPDATE (assignments
    address the t/s aliased join), then a conditional matched DELETE whose
    predicate sees the POST-update values, both with inserts gated off.
    The oracle recomputes the composition in plain SQL — any row updated
    under the wrong condition, deleted wrongly, or duplicated by the
    copy-on-write rewrite fails rows/hash."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, encode_table, merge_table

    key = hashlib.md5(
        f"tblmgcl1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_mgcl_{key}")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    if len(log_versions(out)) < 3:
        shutil.rmtree(out, ignore_errors=True)
        encode_table(ev, out, key_cols=["event_id"],
                     n_parts=_TABLE_ENCODE_PARTS)
        upd_src = (ev.filter(F.col("event_id") % 3 == 0)
                   .select("event_id", (F.col("value") + 1000).alias("nv")))
        merge_table(
            spark, out, upd_src,
            when_matched_update={"value": F.col("s.nv")},
            when_matched_condition=F.col("t.event_type") == "click",
            when_not_matched_condition=F.lit(False),
        )
        del_src = ev.filter(F.col("event_id") % 7 == 0).select("event_id")
        merge_table(
            spark, out, del_src,
            when_matched_delete=True,
            when_matched_condition=F.col("t.value") > 1000,
            when_not_matched_condition=F.lit(False),
        )
    dec = decode_table(spark, out)
    return dec.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value"), 6).alias("val"),
    )


O_TABLE_MERGE_CLAUSES = """
WITH upd AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_id % 3 = 0 AND event_type = 'click'
              THEN value + 1000 ELSE value END AS v
  FROM events)
SELECT event_id, user_id, event_type, round(v, 6) AS val
FROM upd
WHERE NOT (event_id % 7 = 0 AND v > 1000)
"""


def q_table_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-style constraint audit over the encoded store: NOT NULL
    answered from zone maps alone (no payload read), UNIQUE decodes only the
    key columns, CHECK predicates count FALSE-or-NULL rows (SQL CHECK
    semantics). The oracle recomputes each violation count directly."""
    from .operators.table import validate_table

    out = _table_encode_dir(spark, sf_dir)
    return validate_table(
        spark, out,
        unique=["l_orderkey", "l_linenumber"],
        not_null=["l_quantity", "flag_n"],
        checks={"qty_le_30": F.col("l_quantity") <= 30.0},
        check_cols=["l_quantity"],
    )


O_TABLE_VALIDATE_CONSTRAINTS = """
SELECT 'not_null(l_quantity)' AS "constraint", 0::BIGINT AS n_bad
UNION ALL
SELECT 'not_null(flag_n)',
       count(*) FILTER (WHERE l_returnflag = 'N')::BIGINT FROM lineitem
UNION ALL
SELECT 'unique(l_orderkey, l_linenumber)',
       (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT FROM lineitem
UNION ALL
SELECT 'check(qty_le_30)',
       count(*) FILTER (WHERE NOT (l_quantity <= 30.0))::BIGINT FROM lineitem
"""


def q_table_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fsck over the encoded store: recompute every chunk's payload content
    hash and compare to the encode-time sha — a healthy table yields ZERO
    rows (the oracle is the empty relation with the same shape). Corruption
    detection (a flipped payload byte) is pytest-proven."""
    from .operators.table import check_table_integrity

    out = _table_encode_dir(spark, sf_dir)
    return check_table_integrity(spark, out)


O_TABLE_INTEGRITY_AUDIT = """
SELECT '' AS run, 0::INTEGER AS part_id, 0::INTEGER AS chunk_seq,
       '' AS chunk_id, '' AS reason
WHERE 1 = 0
"""


def q_table_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive/Delta-style DATE PARTITION PRUNING (the reference's
    ``partitionColumns=["pj_pds"]``, DeltaLake.fs:288): events encode with
    ``pds_col=date(ts)`` — every file/chunk carries its own partition date
    in the commit log and the ``pds`` zone column — and a one-week read
    prunes all other dates' files before any payload byte is touched.
    Result = the plain SQL date-range filter."""
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tblpds1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_pds_{key}")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.to_date("ts").alias("day"),
    )
    if not completed_parts(out):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(ev, out, key_cols=["event_id"], n_parts=1,
                     pds_col="day")
    lo, hi = "2024-01-08", "2024-01-14"
    return (
        decode_table(
            spark, out,
            chunk_filter=F.col("pds").between(lo, hi),
        )
        .filter(F.col("day").between(lo, hi))
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


O_TABLE_PARTITION_PRUNING = """
SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events
WHERE ts::DATE BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1, 2
"""


def q_table_recluster_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE/CLUSTER BY analog: the table is encoded key-sorted on
    (l_orderkey, l_linenumber) — useless for l_partkey ranges — then
    physically re-laid-out with ``recluster_table(by=["l_partkey"])``
    (quantile range buckets + within-chunk sort, ONE atomic swap entry,
    key/schema metadata untouched). The l_partkey zone maps become tight, so
    ``column_range_filter`` pruning does real work; result = the plain SQL
    range predicate."""
    from .operators.encode import log_versions
    from .operators.table import (
        column_range_filter, decode_table, recluster_table,
    )

    out = _mutable_table_dir(spark, sf_dir, "rcl", extra_cols=["l_partkey"])
    if len(log_versions(out)) < 2:
        recluster_table(spark, out, ["l_partkey", "l_orderkey"],
                        n_parts=_TABLE_ENCODE_PARTS)
    return (
        decode_table(
            spark, out,
            columns=["l_orderkey", "l_linenumber", "l_partkey",
                     "l_extendedprice"],
            chunk_filter=column_range_filter("l_partkey", 500, 700),
        )
        .filter(F.col("l_partkey").between(500, 700))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
    )


O_TABLE_RECLUSTER_RANGE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
FROM lineitem WHERE l_partkey BETWEEN 500 AND 700
"""


def q_table_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the change feed: the
    per-returnflag SUM/COUNT state built once from the v0 snapshot, then
    refreshed with the SIGNED aggregate of the v0→latest CDF (an UPDATE nets
    to its value change, a DELETE subtracts) — never re-scanning the table.
    Must equal the direct aggregate over the final state (the oracle)."""
    from .operators.encode import log_versions
    from .operators.incremental import incremental_sum
    from .operators.table import delete_where, update_where

    out = _mutable_table_dir(spark, sf_dir, "inc")
    if len(log_versions(out)) < 2:
        update_where(
            spark, out, F.col("l_linenumber") == 2,
            {"l_extendedprice": F.col("l_extendedprice") + 1000.0},
            condition_cols=["l_linenumber"],
        )
    if len(log_versions(out)) < 3:
        delete_where(spark, out, F.col("l_quantity") > 49.0,
                     condition_cols=["l_quantity"])
    inc = incremental_sum(
        spark, out, ["l_returnflag"], ["l_extendedprice", "l_quantity"],
        from_version=0,
    )
    return inc.select(
        "l_returnflag",
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        "n_rows",
    )


O_TABLE_INCREMENTAL_AGG = """
WITH final AS (
  SELECT l_returnflag, l_quantity,
         CASE WHEN l_linenumber = 2 THEN l_extendedprice + 1000.0
              ELSE l_extendedprice END AS l_extendedprice
  FROM lineitem
  WHERE NOT (l_quantity > 49.0)
)
SELECT l_returnflag, round(sum(l_extendedprice), 2) AS sum_price,
       round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_rows
FROM final GROUP BY l_returnflag
"""


def q_table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE analog: a DELETE is rolled back by ONE metadata-only
    log entry re-adding the pre-delete files and removing the rewrite —
    no data byte moves, intermediate versions stay time-travelable. The
    restored table must equal the original (the plain SQL table)."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, delete_where, restore_table

    out = _mutable_table_dir(spark, sf_dir, "rst")
    if len(log_versions(out)) < 2:
        delete_where(spark, out, F.col("l_quantity") > 30.0,
                     condition_cols=["l_quantity"])
    if len(log_versions(out)) < 3:
        restore_table(out, 0)
    return decode_table(spark, out)


O_TABLE_RESTORE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
"""


def q_table_clone_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP CLONE of the restore fixture at its POST-DELETE version (v1)
    into an independent table dir: the clone's decode must equal the
    deleted-state SQL even though the source has since been restored —
    clone history is physically independent of the source's."""
    from .operators.encode import log_versions
    from .operators.table import clone_table, decode_table

    src = _mutable_table_dir(spark, sf_dir, "rst")
    q_table_restore(spark, sf_dir)  # ensure delete(v1) + restore(v2) exist
    key = hashlib.md5(
        f"tblcln1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    dst = os.path.join(tempfile.gettempdir(), f"pandora_engine_cln_{key}")
    if not log_versions(dst):
        shutil.rmtree(dst, ignore_errors=True)
        clone_table(src, dst, as_of=1)
    return decode_table(spark, dst)


O_TABLE_CLONE_SNAPSHOT = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem WHERE NOT (l_quantity > 30.0)
"""


def q_table_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only statistics: count / null-count / exact min & max per
    column answered from the chunk zone maps alone — the plan is a stat-column
    parquet scan + one aggregate, NO payload read, NO decode kernel
    (pytest asserts the executed plan). At 100 TB this is the ~1e-5-of-data
    path for ``SELECT count(*), min(x), max(x)``."""
    from .operators.table import table_stats

    out = _table_encode_dir(spark, sf_dir)
    return table_stats(
        spark, out,
        columns=["l_orderkey", "l_quantity", "l_returnflag", "ship_date", "flag_n"],
    ).withColumnRenamed("column", "col_name")


O_TABLE_STATS_PUSHDOWN = """
SELECT 'l_orderkey' AS col_name, count(*) AS n_rows, 0::BIGINT AS n_nulls,
       min(l_orderkey)::VARCHAR AS min_value, max(l_orderkey)::VARCHAR AS max_value
FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*), 0::BIGINT,
       min(l_quantity)::VARCHAR, max(l_quantity)::VARCHAR FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), 0::BIGINT,
       min(l_returnflag), max(l_returnflag) FROM lineitem
UNION ALL
SELECT 'ship_date', count(*), 0::BIGINT,
       min(l_shipdate::DATE)::VARCHAR, max(l_shipdate::DATE)::VARCHAR FROM lineitem
UNION ALL
SELECT 'flag_n', count(*), count(*) FILTER (WHERE l_returnflag = 'N'),
       min(nullif(l_returnflag, 'N')), max(nullif(l_returnflag, 'N')) FROM lineitem
"""


def _table_encode_dir(spark: SparkSession, sf_dir: str) -> str:
    from .operators.table import encode_table

    key = hashlib.md5(
        f"tbl9:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_tbl_{key}")
    if completed_parts(out) != list(range(_TABLE_ENCODE_PARTS)):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(
            _table_encode_input(spark, sf_dir), out,
            key_cols=["l_orderkey", "l_linenumber"],
            n_parts=_TABLE_ENCODE_PARTS,
        )
    return out


def q_table_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode_table → decode_table over every supported dtype lane; the final
    projection converts timestamp/date to engine-neutral forms (epoch micros /
    ISO string) so the DuckDB identity oracle hash-compares exactly."""
    from .operators.table import decode_table

    out = _table_encode_dir(spark, sf_dir)
    dec = decode_table(spark, out)
    return dec.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', l_shipdate)"
        ).alias("ship_us"),
        F.date_format("ship_date", "yyyy-MM-dd").alias("ship_day"),
        "bulky",
        "flag_n",
        F.col("wide_dec").cast("string").alias("wide_dec"),
    )


O_TABLE_ENCODE_ROUNDTRIP = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       l_discount, l_tax, l_returnflag, l_linestatus,
       date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', l_shipdate) AS ship_us,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
       l_quantity > 25 AS bulky,
       nullif(l_returnflag, 'N') AS flag_n,
       CAST(CAST(CAST(l_orderkey AS DECIMAL(20,0)) * 100000000000000
            + l_linenumber AS DECIMAL(25,4)) AS VARCHAR) AS wide_dec
FROM lineitem
"""


def q_table_selective_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective decode: only 2 of 10 encoded columns' payloads are read
    (parquet top-level column pruning) and decoded, then aggregated."""
    from .operators.table import decode_table

    out = _table_encode_dir(spark, sf_dir)
    dec = decode_table(spark, out, columns=["l_returnflag", "l_quantity"])
    return dec.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


O_TABLE_SELECTIVE_STATS = """
SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_table_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column manifest rollup (row/null counts) verified against an engine
    that never saw the encoder — null accounting must agree with SQL."""
    from .operators.table import read_table_manifest

    out = _table_encode_dir(spark, sf_dir)
    return (
        read_table_manifest(spark, out)
        .groupBy(F.col("column").alias("col_name"))
        .agg(
            F.sum("n_rows").alias("total_rows"),
            F.sum("n_nulls").alias("total_nulls"),
        )
    )


def q_table_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 served FROM THE ENCODED STORE: selective decode of the 7
    needed columns (of 13 encoded — the other payload streams are pruned at
    the parquet scan) feeding the same aggregation as q1_pricing_summary.
    The oracle runs Q1 on the raw table, so any decode error, null slip or
    dtype drift surfaces as a hash mismatch — the 'user can run every query
    on the encoded store' claim, verified."""
    from .operators.table import decode_table

    out = _table_encode_dir(spark, sf_dir)
    dec = decode_table(
        spark, out,
        columns=["l_returnflag", "l_linestatus", "l_quantity",
                 "l_extendedprice", "l_discount", "ship_date"],
    )
    return (
        dec.filter(F.col("ship_date") <= F.lit("1998-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.expr("l_extendedprice * (1 - l_discount)")), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_table_embeddings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-lane roundtrip: the embeddings table (array<float> column)
    encodes through the generalized token layout — per-chunk lengths stream
    + flattened element stream — and decodes bit-identically. The decoded
    arrays are posexploded to ``(vec_id, pos, value, label)`` rows so the
    compare canonicalizes scalar cells only (raw list cells are unhashable
    in a pandas sort); element-level bit-exactness is preserved — the
    float32→double cast is exact in both engines."""
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"emb1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_emb_{key}")
    if completed_parts(out) != list(range(4)):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(_t(spark, sf_dir, "embeddings"), out,
                     key_cols=["vec_id"], n_parts=4)
    dec = decode_table(spark, out)
    return dec.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "value")
    ).select(
        "vec_id", "pos", F.col("value").cast("double").alias("value"), "label"
    )


O_TABLE_EMBEDDINGS_ROUNDTRIP = """
WITH idx AS (
  SELECT vec_id, label, embedding,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
)
SELECT vec_id, (i - 1)::INTEGER AS pos, embedding[i]::DOUBLE AS value, label
FROM idx
"""


def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as_of correctness gate: two append runs (even orderkeys, then odd)
    into one encoded dir; reading as_of the FIRST commit must reproduce
    exactly the even-key subset — the oracle is that subset in SQL, so a
    version leak in either direction fails the row/hash compare."""
    from .operators.encode import log_versions
    from .operators.table import decode_table, encode_table

    key = hashlib.md5(
        f"tt1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_tt_{key}")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    if (completed_parts(out, run="even") != list(range(4))
            or completed_parts(out, run="odd") != list(range(4))):
        shutil.rmtree(out, ignore_errors=True)
        encode_table(li.filter("l_orderkey % 2 = 0"), out,
                     key_cols=["l_orderkey", "l_linenumber"], n_parts=4, run="even")
        encode_table(li.filter("l_orderkey % 2 = 1"), out,
                     key_cols=["l_orderkey", "l_linenumber"], n_parts=4, run="odd")
    v0 = log_versions(out)[0]
    return decode_table(spark, out, as_of=v0)


O_TABLE_TIME_TRAVEL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_orderkey % 2 = 0
"""


def q_table_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql over the encoded store, column-pruned: ``table_sql``
    inspects the SQL and decodes only the 3 referenced columns (of 13
    encoded — the other payload streams never leave the parquet scan);
    the oracle runs the same SQL on the raw table."""
    from .operators.table import table_sql

    out = _table_encode_dir(spark, sf_dir)
    return table_sql(
        spark, out,
        """
        SELECT l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 6) AS avg_disc
        FROM encoded_lineitem GROUP BY l_linestatus
        """,
        name="encoded_lineitem",
    )


O_TABLE_SQL_AGG = """
SELECT l_linestatus, count(*)::BIGINT AS n,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 6) AS avg_disc
FROM lineitem GROUP BY l_linestatus
"""


def q_table_sql_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL WHERE → zone-map chunk pruning: ``table_sql`` turns the safe
    conjuncts (key BETWEEN, quantity >=) into chunk filters on the typed
    min/max stats, so pruned chunks are never decoded;
    Spark still applies the full residual WHERE on decoded rows. The oracle
    runs the same predicate on the raw table — a pruning bug in either
    direction (over- or under-prune) fails rows/hash."""
    from .operators.table import table_sql

    out = _table_encode_dir(spark, sf_dir)
    return table_sql(
        spark, out,
        """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM encoded_lineitem_w
        WHERE l_orderkey BETWEEN 5000 AND 20000 AND l_quantity >= 10
        GROUP BY l_returnflag
        """,
        name="encoded_lineitem_w",
    )


O_TABLE_SQL_WHERE = """
SELECT l_returnflag, count(*)::BIGINT AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_orderkey BETWEEN 5000 AND 20000 AND l_quantity >= 10
GROUP BY l_returnflag
"""


def q_table_datasource_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoded store as a first-class Catalyst relation: the
    ``pandora_table`` Python DataSource (``sources/table_source.py``) serves
    ``spark.sql`` with the WHERE reaching ``pushFilters`` — zone-map file
    pruning at planning, chunk pruning on executors — for ANY plan shape,
    not just the conjunctive forms ``table_sql``'s text analysis can prove
    safe. Column pruning via the ``columns`` read option (3 of 13 payload
    streams read). Oracle: the same predicate+agg on the raw table, so an
    over- or under-prune in either zone level fails rows/hash."""
    from .sources.table_source import read_encoded_table

    out = _table_encode_dir(spark, sf_dir)
    read_encoded_table(
        spark, out, columns=["l_orderkey", "l_quantity", "l_returnflag"],
    ).createOrReplaceTempView("ds_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty,
               min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        FROM ds_lineitem
        WHERE l_orderkey BETWEEN 12000 AND 42000 AND l_quantity < 45
        GROUP BY l_returnflag
        """
    )


O_TABLE_DATASOURCE_SQL = """
SELECT l_returnflag, count(*)::BIGINT AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
FROM lineitem
WHERE l_orderkey BETWEEN 12000 AND 42000 AND l_quantity < 45
GROUP BY l_returnflag
"""


def _dstr_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Orders loaded through ``df.write.format("pandora_table")`` in TWO
    commits (even/odd keys) — the shared fixture for the streaming-source
    queries (commit-log tail = two micro-batches)."""
    import tempfile

    from .operators.encode import log_versions
    from .sources.table_source import write_encoded_table

    key = hashlib.md5(
        f"dstr1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"pandora_engine_dstr_{key}")
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    if len(log_versions(out)) < 2:
        shutil.rmtree(out, ignore_errors=True)
        write_encoded_table(od.filter("o_orderkey % 2 = 0").repartition(4),
                            out, key_cols=["o_orderkey"])
        write_encoded_table(od.filter("o_orderkey % 2 = 1").repartition(4),
                            out)
    return out


def q_streaming_materialized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: the store's commit-log tail feeds a
    STREAMING groupBy — Spark's state store IS the incrementally maintained
    aggregate (each micro-batch merges partial sums into state; complete
    output mode publishes the view) — and the final view must equal the
    batch aggregate over the whole table. The batch analog of this contract
    is ``incremental_sum`` over the CDF; here Spark manages the state.

    Round 4: the view PUBLISHES through the streaming *sink*
    (``writeStream.format("pandora_table")``, complete mode) into a second
    encoded store — each epoch atomically swaps the MV's live file set — and
    the returned rows are decoded back from that store, so the whole
    store → stream → aggregate → store loop is inside the engine."""
    from .operators.table import decode_table
    from .sources.table_source import (
        stream_encoded_table,
        stream_write_encoded_table,
    )

    out = _dstr_table_dir(spark, sf_dir)
    mv_dir, ckpt = out + "_mv", out + "_mv_ckpt"
    shutil.rmtree(mv_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    view = (
        stream_encoded_table(spark, out)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("o_totalprice").alias("sum_price_raw"))
    )
    # state-partition sizing: the aggregate holds 3 groups — the session
    # default (32) would commit 32 state-store partitions per epoch for 3
    # rows of state; the stream's shuffle-partition count is pinned into
    # the checkpoint at first batch, so set it only around .start()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = stream_write_encoded_table(
            view, mv_dir, ckpt, key_cols=["o_orderstatus"],
            app_id="mv-orderstatus", output_mode="complete",
        ).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.processAllAvailable()
    q.stop()
    return decode_table(spark, mv_dir).select(
        "o_orderstatus", "n", F.round("sum_price_raw", 2).alias("sum_price")
    )


O_STREAMING_MATERIALIZED = """
SELECT o_orderstatus, count(*)::BIGINT AS n,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY o_orderstatus
"""


def q_table_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write path + streaming source end-to-end: orders loads through
    ``df.write.format("pandora_table")`` in TWO commits (low/high keys), then
    ``spark.readStream.format("pandora_table")`` tails the commit log into a
    parquet sink — exactly-once per appended row — and the sink's aggregate
    must equal the batch answer on the raw table. A duplicated or dropped
    row in either the writer's atomic commit or the stream's offset
    accounting fails rows/hash."""
    import tempfile

    from .sources.table_source import stream_encoded_table

    out = _dstr_table_dir(spark, sf_dir)
    sink = tempfile.mkdtemp(prefix="pandora_dstr_sink_")
    ckpt = tempfile.mkdtemp(prefix="pandora_dstr_ckpt_")
    q = (stream_encoded_table(spark, out)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    q.stop()
    return (
        spark.read.parquet(sink)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("o_orderkey").alias("n_keys"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


O_TABLE_DATASOURCE_STREAM = """
SELECT o_orderstatus, count(*)::BIGINT AS n,
       count(DISTINCT o_orderkey)::BIGINT AS n_keys,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY o_orderstatus
"""


def q_table_lookup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned range scan: chunks whose typed key_min/key_max zone map
    excludes [5000, 6000] are pruned at the parquet scan (PushedFilters);
    only surviving chunks' payloads are decoded."""
    from .operators.table import lookup_key_range

    out = _table_encode_dir(spark, sf_dir)
    return lookup_key_range(
        spark, out, 5000, 6000,
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
    )


O_TABLE_LOOKUP_RANGE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_orderkey BETWEEN 5000 AND 6000
"""


O_TABLE_MANIFEST_STATS = """
WITH cols(col_name) AS (
  SELECT unnest(['l_orderkey','l_linenumber','l_quantity','l_extendedprice',
                 'l_discount','l_tax','l_returnflag','l_linestatus',
                 'l_shipdate','ship_date','bulky','flag_n','wide_dec'])
)
SELECT col_name,
       (SELECT count(*) FROM lineitem)::BIGINT AS total_rows,
       CASE WHEN col_name = 'flag_n'
            THEN (SELECT count(*) FILTER (WHERE l_returnflag = 'N') FROM lineitem)
            ELSE 0 END::BIGINT AS total_nulls
FROM cols
"""


# ------------------------------------------------------ relational coverage


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.expr("cast(l_shipdate as date) <= date '1998-09-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.expr("l_extendedprice * (1 - l_discount)")), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate::DATE <= DATE '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.expr("l_extendedprice * (1 - l_discount)")), 2).alias("revenue"))
    )
    # top-10 via orderBy+limit — Spark plans TakeOrderedAndProject (bounded
    # per-partition top-k, merged on one reducer), so the full O(|orders|)
    # aggregate never funnels through a single-partition Window; the rank
    # window then numbers only the 10 surviving rows.
    top = joined.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "l_orderkey", "revenue")
        .orderBy("rank")
    )


O_Q3 = """
WITH rev AS (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY l_orderkey
), r AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey)::INTEGER AS rank FROM rev
)
SELECT rank, l_orderkey, revenue FROM r WHERE rank <= 10 ORDER BY rank
"""


def q_join_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


O_JOIN_REGION_ROLLUP = """
SELECT r_name, n_name, count(*)::BIGINT AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


O_WINDOW_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders WHERE o_custkey < 100
ORDER BY o_custkey, o_orderkey
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


O_TOPK_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY round(o_totalprice, 2) DESC, o_orderkey LIMIT 15
"""


def q_setop_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") < 25).select("p_type")
    large = part.filter(F.col("p_size") >= 25).select("p_type")
    both = small.intersect(large).select(F.lit("both").alias("side"), "p_type")
    only_small = small.subtract(large).select(F.lit("small_only").alias("side"), "p_type")
    return both.union(only_small).orderBy("side", "p_type")


O_SETOP_PART_TYPES = """
SELECT 'both' AS side, p_type FROM
  (SELECT p_type FROM part WHERE p_size < 25 INTERSECT SELECT p_type FROM part WHERE p_size >= 25)
UNION ALL
SELECT 'small_only' AS side, p_type FROM
  (SELECT p_type FROM part WHERE p_size < 25 EXCEPT SELECT p_type FROM part WHERE p_size >= 25)
ORDER BY side, p_type
"""


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return with_orders.crossJoin(without)


O_SEMI_ANTI_CUSTOMERS = """
SELECT
  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders))::BIGINT AS n_with_orders,
  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))::BIGINT AS n_without_orders
"""


def q_cube_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


O_CUBE_ORDER_FLAGS = """
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("hour", "event_type")
    )


O_EVENTS_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n_events, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""

_ANCHOR = "1970-01-01 00:00:00"
_SESSION_GAP_US = 30 * 60 * 1_000_000


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows in batch: a >30-min gap per user starts a new session
    (lag + cumulative-sum window — the batch formulation of
    ``applyInPandasWithState`` sessionization)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "us", F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(w)) > _SESSION_GAP_US, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            (F.max("session_idx") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


O_EVENTS_SESSIONIZE = f"""
WITH ev AS (
  SELECT user_id, event_id, date_diff('microsecond', TIMESTAMP '{_ANCHOR}', ts) AS us
  FROM events
), flagged AS (
  SELECT user_id,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY user_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id, (max(session_idx) + 1)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
"""


def q_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based median/p90) per order priority."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


O_MEDIAN_ORDER_VALUE = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
       count(*)::BIGINT AS n_orders
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_users_above_own_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape: per user, how many of their events exceed
    their own average value (decorrelated into a window aggregate)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id")
    return (
        # round-before-filter determinism rule: the windowed mean is rounded to
        # 9 decimals identically in both engines so a value within one ulp of
        # its group mean can never flip the comparison
        ev.withColumn("user_avg", F.round(F.avg("value").over(w), 9))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("value") > F.col("user_avg"), 1).otherwise(0)).alias(
                "n_above_avg"
            ),
        )
        .orderBy("user_id")
    )


O_USERS_ABOVE_OWN_AVG = """
WITH w AS (
  SELECT user_id, value, round(avg(value) OVER (PARTITION BY user_id), 9) AS user_avg
  FROM events WHERE user_id < 100
)
SELECT user_id, count(*)::BIGINT AS n_events,
       sum(CASE WHEN value > user_avg THEN 1 ELSE 0 END)::BIGINT AS n_above_avg
FROM w GROUP BY user_id ORDER BY user_id
"""


def q_scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.length("o_orderpriority").alias("prio_len"),
        F.expr("substring(o_orderpriority, 1, 3)").alias("prio_pre"),
        F.expr(spark_md5_long("cast(o_orderkey as string)")).alias("key_hash"),
    ).orderBy("o_orderkey")


O_SCALAR_KITCHEN_SINK = f"""
SELECT o_orderkey, year(o_orderdate)::INTEGER AS yr, month(o_orderdate)::INTEGER AS mo,
       upper(o_orderstatus) AS status_uc, length(o_orderpriority)::INTEGER AS prio_len,
       substr(o_orderpriority, 1, 3) AS prio_pre,
       {duck_md5_long("o_orderkey::VARCHAR")} AS key_hash
FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey
"""


# ------------------------------------------------------------------- dedup


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


O_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*)::BIGINT AS n_copies
FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY content_hash
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


def _o_dedup_minhash() -> str:
    n_perms, n_bands, k = dedup.DEFAULT_PERMS, dedup.DEFAULT_BANDS, 3
    r = n_perms // n_bands
    grams = (
        f"list_transform(generate_series(1, greatest(len({_DUCK_WORDS}) - {k - 1}, 1)), "
        f"i -> array_to_string(list_slice({_DUCK_WORDS}, i, i + {k - 1}), ' '))"
    )
    mh_cols = ", ".join(
        f"list_min(list_transform(hbase, h -> ({a} * h + {b}) % {dedup.MH_MOD})) AS mh{p}"
        for p, (a, b) in enumerate(dedup.MH_COEFFS[:n_perms])
    )
    buckets = ", ".join(
        duck_md5_long(
            "array_to_string(["
            + ", ".join(f"mh{b * r + i}" for i in range(r))
            + "], ',')"
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct({grams}) AS shingles FROM documents
), hb AS (
  SELECT doc_id,
         list_transform(shingles, s -> ({duck_md5_long('s')} % {dedup.MH_MOD})) AS hbase
  FROM sh
), sig AS (
  SELECT doc_id, {mh_cols} FROM hb
), bl AS (
  SELECT doc_id, [{buckets}] AS bs FROM sig
), bidx AS (
  SELECT doc_id, bs, unnest(generate_series(1, {n_bands})) AS i FROM bl
), bands AS (
  SELECT doc_id, (i - 1)::INTEGER AS band, bs[i] AS bucket FROM bidx
), sizes AS (
  SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
JOIN sizes s ON s.band = a.band AND s.bucket = a.bucket AND s.n <= 1000
ORDER BY doc_a, doc_b
"""


def _staged_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate-pair set, staged once per (tag, sf_dir) to a
    /tmp parquet and reused by every consumer (`dedup_clusters`,
    `curate_corpus`). The pair generator is md5-deterministic, so the staged
    set is byte-identical to a fresh computation — this is the
    share-the-expensive-intermediate discipline a 100-TB pipeline would use
    (compute pairs once, fan out to clustering + curation), not a
    measurement shortcut: `dedup_minhash_lsh` still computes pairs raw."""
    key = hashlib.md5(
        f"{_FORMAT_TAG}:lshpairs:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_lsh_{key}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        dedup.lsh_candidate_pairs(
            _t(spark, sf_dir, "documents")
        ).write.mode("overwrite").parquet(d)
    return spark.read.parquet(d)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH candidate pairs -> connected components
    (iterative min-label propagation, one node-keyed shuffle join per round).
    The oracle computes the same fixpoint as a recursive-CTE transitive
    closure — min reachable doc id — which is unique, so the iterative Spark
    algorithm and the set-based SQL must agree exactly."""
    return dedup.connected_components(_staged_lsh_pairs(spark, sf_dir))


def _o_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_o_dedup_minhash()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc_id, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.doc_id
)
SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup.with_simhash(_t(spark, sf_dir, "documents"))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    )


O_DEDUP_SIMHASH = f"""
WITH words AS (
  SELECT doc_id, {duck_md5_long("u.w")} AS h
  FROM documents, UNNEST({_DUCK_WORDS}) AS u(w)
), votes AS (
  SELECT doc_id, bits.b, sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM words, (SELECT unnest(generate_series(0, 31)) AS b) bits
  GROUP BY doc_id, bits.b
)
SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-gated exact Jaccard — the production near-dup verifier shape.

    Candidates come from the sub-quadratic MinHash-LSH generator; exact
    n-gram Jaccard runs on those pairs only (two id-keyed joins +
    ``array_intersect``), never on the full co-shingled cross product. The
    oracle mirrors the gating exactly (candidate CTE ∩ exact Jaccard), so
    the probabilistic recall is deterministic and hash-checked. The
    unconstrained inverted-index path stays oracled as
    ``dedup_ngram_jaccard_exact`` — the small-n baseline whose DF² row
    blow-up is what this query avoids at 100 TB.
    """
    return dedup.ngram_jaccard_pairs_lsh(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.2,
        candidates=_staged_lsh_pairs(spark, sf_dir),
    )


def _o_dedup_jaccard_lsh() -> str:
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(len({_DUCK_WORDS}) - 2, 1)), "
        f"i -> array_to_string(list_slice({_DUCK_WORDS}, i, i + 2), ' ')))"
    )
    return f"""
WITH cand AS ({_o_dedup_minhash()}),
jsh AS (
  SELECT doc_id, {grams} AS shingles FROM documents
), scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles))::BIGINT AS common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand c
  JOIN jsh sa ON sa.doc_id = c.doc_a
  JOIN jsh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, common,
       round(common / (na + nb - common)::DOUBLE, 6) AS jaccard
FROM scored WHERE round(common / (na + nb - common)::DOUBLE, 6) >= 0.2
ORDER BY doc_a, doc_b
"""


def q_dedup_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.2)


O_DEDUP_NGRAM_JACCARD_EXACT = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len({_DUCK_WORDS}) - 2, 1)),
                       i -> array_to_string(list_slice({_DUCK_WORDS}, i, i + 2), ' '))) AS shingles
  FROM documents
), ex0 AS (
  SELECT doc_id, len(shingles)::INTEGER AS n_sh, u.s AS sh FROM sh, UNNEST(shingles) AS u(s)
), rare AS (
  SELECT sh FROM ex0 GROUP BY sh HAVING count(*) <= 1000
), ex AS (
  SELECT ex0.* FROM ex0 JOIN rare USING (sh)
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*)::BIGINT AS common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, common, round(common / (na + nb - common)::DOUBLE, 6) AS jaccard
FROM common WHERE round(common / (na + nb - common)::DOUBLE, 6) >= 0.2
ORDER BY doc_a, doc_b
"""


_DUCK_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)


def _duck_cos(a: str, b: str) -> str:
    return _DUCK_COS.format(a=f"({a})::DOUBLE[]", b=f"({b})::DOUBLE[]")


_EMB_TABLES, _EMB_PLANES, _EMB_CAP, _EMB_THRESH = 4, 6, 1000, 0.45


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH candidates + exact cosine verify (the scale path; the
    oracle mirrors the same algorithm — candidate semantics included — like
    ``dedup_minhash_lsh``)."""
    return similarity.embedding_near_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=_EMB_THRESH,
        n_tables=_EMB_TABLES,
        planes=_EMB_PLANES,
        max_bucket=_EMB_CAP,
    )


def _o_dedup_embedding_cosine() -> str:
    band_exprs = ", ".join(
        _duck_lsh_bucket("embedding", _EMB_PLANES, key_prefix=f"{t}:")
        for t in range(_EMB_TABLES)
    )
    return f"""
WITH bl AS (
  SELECT vec_id, [{band_exprs}] AS bs FROM embeddings
), bidx AS (
  SELECT vec_id, bs, unnest(generate_series(1, {_EMB_TABLES})) AS i FROM bl
), codes AS (
  SELECT vec_id, (i - 1)::INTEGER AS tbl, bs[i] AS code FROM bidx
), sizes AS (
  SELECT tbl, code, count(*) AS n FROM codes GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM codes a
  JOIN codes b ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
  JOIN sizes s ON s.tbl = a.tbl AND s.code = a.code AND s.n <= {_EMB_CAP}
)
SELECT vec_a, vec_b, round({_duck_cos('ea.embedding', 'eb.embedding')}, 4) AS cos
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE round({_duck_cos('ea.embedding', 'eb.embedding')}, 4) >= {_EMB_THRESH}
ORDER BY vec_a, vec_b
"""


# -------------------------------------------------------- similarity search


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


O_ANN_BRUTEFORCE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 10
), scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round({_duck_cos('q.qe', 'e.embedding')}, 4) AS score
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)::INTEGER AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def _duck_lsh_bucket(col: str, n_planes: int, key_prefix: str = "") -> str:
    parts = []
    for p in range(n_planes):
        w = duck_md5_long(f"'{key_prefix}{p}/' || i::VARCHAR")
        proj = (
            f"list_sum(list_transform(generate_series(0, len({col}) - 1), "
            f"i -> ({col})[i + 1]::DOUBLE * (CASE WHEN {w} % 2 = 1 THEN 1.0 ELSE -1.0 END)))"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucketed_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5, n_planes=4
    )


def _o_ann_lsh() -> str:
    b = _duck_lsh_bucket("embedding", 4)
    return f"""
WITH be AS (
  SELECT vec_id, embedding, {b} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket AS qbucket FROM be ORDER BY vec_id LIMIT 10
), scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round({_duck_cos('q.qe', 'e.embedding')}, 4) AS score
  FROM be e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)::INTEGER AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_assign(_t(spark, sf_dir, "embeddings"), n_cells=8)


O_ANN_IVF = f"""
WITH c AS (
  SELECT vec_id AS cell, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8
), scored AS (
  SELECT e.vec_id, c.cell, round({_duck_cos('e.embedding', 'c.ce')}, 4) AS cell_score
  FROM embeddings e, c
), r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_score DESC, cell)::INTEGER AS rn
  FROM scored
)
SELECT vec_id, cell, cell_score FROM r WHERE rn = 1 ORDER BY vec_id
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5, n_cells=8, n_probe=2
    )


def _o_ann_ivf_topk() -> str:
    cos = _duck_cos("e.embedding", "c.ce")
    qcos = _duck_cos("p.qe", "a.embedding")
    return f"""
WITH c AS (
  SELECT vec_id AS cell, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8
), scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell, round({cos}, 4) AS s
  FROM embeddings e, c
), asg AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM scored_cells) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 10
), probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT q.query_id, q.qe, sc.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY sc.s DESC, sc.cell) AS rn
    FROM q JOIN scored_cells sc ON sc.vec_id = q.query_id) WHERE rn <= 2
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, round({qcos}, 4) AS score
  FROM asg a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)::INTEGER AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


# ------------------------------------------------- product quantization ANN

_PQ_M, _PQ_CODES, _PQ_DSUB, _PQ_SHORT = 4, 16, 16, 50


def _duck_l2sub(a: str, b: str, s: str, dsub: int = _PQ_DSUB) -> str:
    d = f"(({a})[{s} * {dsub} + i]::DOUBLE - ({b})[{s} * {dsub} + i]::DOUBLE)"
    return f"list_sum(list_transform(generate_series(1, {dsub}), i -> {d} * {d}))"


_DUCK_PQ_ENC = f"""
cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS code, embedding AS ce
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_CODES})
), sp AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
subd AS (
  SELECT e.vec_id, sp.s, cb.code,
         round({_duck_l2sub('e.embedding', 'cb.ce', 'sp.s')}, 4) AS d
  FROM embeddings e, sp, cb
), enc AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
    FROM subd) WHERE rn = 1
)"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: every vector compressed to 4 codes over a 16-entry
    codebook (map-only against ONE broadcast codebook row), exploded to
    (vec_id, s, code) for the hash compare."""
    out = similarity.pq_encode(
        _t(spark, sf_dir, "embeddings"), m=_PQ_M, n_codes=_PQ_CODES, dim=64
    )
    return (
        out.select("vec_id", F.posexplode("codes").alias("s", "code"))
        .orderBy("vec_id", "s")
    )


O_PQ_ENCODE = f"""
WITH {_DUCK_PQ_ENC}
SELECT vec_id, s::INTEGER AS s, code::INTEGER AS code FROM enc ORDER BY vec_id, s
"""


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: approximate distances against the
    reconstructed codebook subvectors shortlist 50 candidates per query,
    exact cosine re-ranks the shortlist to the final 5."""
    return similarity.pq_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5,
        m=_PQ_M, n_codes=_PQ_CODES, shortlist=_PQ_SHORT, dim=64,
    )


def _o_pq_topk() -> str:
    return f"""
WITH {_DUCK_PQ_ENC},
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 10),
ad AS (
  SELECT q.query_id, en.vec_id AS neighbor_id,
         -round(sum({_duck_l2sub('q.qe', 'cb.ce', 'en.s')}), 4) AS ascore
  FROM q, enc en JOIN cb ON cb.code = en.code
  WHERE en.vec_id <> q.query_id
  GROUP BY 1, 2
), sl AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, neighbor_id) AS rn
    FROM ad) WHERE rn <= {_PQ_SHORT}
), rer AS (
  SELECT sl.query_id, sl.neighbor_id,
         round({_duck_cos('q.qe', 'e.embedding')}, 4) AS score
  FROM sl JOIN q USING (query_id) JOIN embeddings e ON e.vec_id = sl.neighbor_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)::INTEGER AS rank
  FROM rer
)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


# ------------------------------------------------------------ text analysis


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_t(spark, sf_dir, "documents"))


_DUCK_WLEN_SUM = f"list_sum(list_transform({_DUCK_WORDS}, w -> length(w)))"
_DUCK_STOP = ", ".join(f"'{w}'" for w in text.STOPWORDS)

O_TEXT_QUALITY = f"""
WITH stats AS (
  SELECT doc_id,
         len({_DUCK_WORDS})::INTEGER AS n_words,
         round(coalesce({_DUCK_WLEN_SUM}, 0) / greatest(len({_DUCK_WORDS}), 1)::DOUBLE, 4) AS avg_word_len,
         round(len(list_filter({_DUCK_WORDS}, w -> list_contains([{_DUCK_STOP}], w))) / greatest(len({_DUCK_WORDS}), 1)::DOUBLE, 4) AS stopword_ratio,
         round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / greatest(length(text), 1)::DOUBLE, 4) AS punct_ratio
  FROM documents
)
SELECT doc_id, n_words, avg_word_len, stopword_ratio, punct_ratio,
       round(least(1.0, n_words / 64.0) * 0.25
             + (CASE WHEN avg_word_len BETWEEN 2.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
             + least(stopword_ratio * 2.0, 0.25)
             + greatest(0.25 - punct_ratio, 0.0), 4) AS quality
FROM stats ORDER BY doc_id
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_t(spark, sf_dir, "documents"))


def _o_text_langid() -> str:
    score_cols = []
    langs = sorted(text.LANG_MARKERS)
    for lang in langs:
        lst = ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter({_DUCK_WORDS}, w -> list_contains([{lst}], lower(w))))::INTEGER AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(f"WHEN score_{l} = {best} THEN '{l}'" for l in langs) + " END"
    return f"""
WITH scored AS (SELECT doc_id, {', '.join(score_cols)} FROM documents)
SELECT doc_id, {pred} AS predicted_lang, ({best})::INTEGER AS score
FROM scored ORDER BY doc_id
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(_t(spark, sf_dir, "documents"))


O_TEXT_TOKEN_COUNTS = f"""
SELECT doc_id,
       len({_DUCK_WORDS})::INTEGER AS n_ws_tokens,
       len(regexp_extract_all(text, '{text.TOKEN_REGEX}', 0))::INTEGER AS n_bpe_tokens,
       length(text)::INTEGER AS n_bytes
FROM documents ORDER BY doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.document_fingerprint(_t(spark, sf_dir, "documents"), k=4)


O_TEXT_FINGERPRINT = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, greatest(len({_DUCK_WORDS}) - 3, 1)),
                          i -> array_to_string(list_slice({_DUCK_WORDS}, i, i + 3), ' ')),
           g -> {duck_md5_long('g')}) AS hashes
  FROM documents
)
SELECT doc_id, list_min(hashes)::BIGINT AS fp_min, list_max(hashes)::BIGINT AS fp_max
FROM g ORDER BY doc_id
"""


def q_ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=4, 2 unrolled iterations) over the
    embedding corpus — the trainer behind the IVF coarse quantizer. Each
    round: map-side argmin against ONE broadcast centroid row (corpus never
    shuffles), then a k·dim-cell mean update; distances and centroid
    components round to 6 before any decision so the SQL oracle (the same
    two iterations unrolled as CTEs) agrees bit-for-bit."""
    from .operators.similarity import kmeans_train

    return kmeans_train(_t(spark, sf_dir, "embeddings"), k=4, n_iter=2)


def _o_kmeans() -> str:
    def d(ve: str, ce: str) -> str:
        return (
            f"round(list_sum(list_transform(generate_series(1, len({ve})), "
            f"i -> (({ve})[i] - ({ce})[i]) * (({ve})[i] - ({ce})[i]))), 6)"
        )

    def assign(name: str, cents: str) -> str:
        return f"""
{name} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT v.vec_id, c.cid, {d('v.ve', 'c.ce')} AS dist,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d('v.ve', 'c.ce')}, c.cid) AS rn
    FROM v CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    def update(name: str, assigned: str) -> str:
        return f"""
{name} AS (
  SELECT cid, list(m ORDER BY i) AS ce FROM (
    SELECT cid, i, round(avg(ve[i]), 6) AS m FROM (
      SELECT a.cid, v.ve, unnest(generate_series(1, len(v.ve))) AS i
      FROM {assigned} a JOIN v USING (vec_id)
    ) GROUP BY cid, i
  ) GROUP BY cid
)"""

    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings
),
c0 AS (SELECT vec_id::INTEGER AS cid, ve AS ce FROM v WHERE vec_id < 4),
{assign('a1', 'c0')},
{update('c1', 'a1')},
{assign('a2', 'c1')},
{update('c2', 'a2')},
{assign('a3', 'c2')}
SELECT vec_id, cid, dist FROM a3
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) windows: 2-hour windows sliding by 1 hour — every
    event lands in exactly two windows (`F.window(ts, '2 hours', '1 hour')`,
    the overlap shape tumbling can't express). The oracle derives each
    event's two candidate hour-aligned starts and re-aggregates."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "event_type", "n", "sum_value",
        )
    )


O_EVENTS_SLIDING_WINDOW = """
WITH cand AS (
  SELECT event_type, value,
         date_trunc('hour', ts) - INTERVAL (i) HOUR AS wstart
  FROM events, (SELECT unnest([0, 1]) AS i)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM cand GROUP BY wstart, event_type
"""


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily per-user series with carry-forward interpolation
    (TimescaleDB ``time_bucket_gapfill`` + ``locf``): dense (user, day)
    grid from a broadcast bounds row × per-key executor-local sequence
    explode; the fill is a per-key running ``last(ignorenulls)`` window —
    parallel across users, no global sort."""
    from .operators.temporal import gap_fill

    out = gap_fill(_t(spark, sf_dir, "events"), "user_id", "ts", "value",
                   granule="day")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        # pre-first-observation buckets are NULL (no back-fill); project the
        # -1.0 sentinel because the driver's value hash cannot canonicalize
        # NaN cells (NaN != NaN under its tuple compare)
        F.coalesce("v_fill", F.lit(-1.0)).alias("v_fill"),
        "n_obs",
    )


O_EVENTS_GAP_FILL = """
WITH b AS (
  SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
  FROM events
),
days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket FROM b),
keys AS (SELECT DISTINCT user_id FROM events),
dense AS (SELECT user_id, bucket FROM keys CROSS JOIN days),
obs AS (
  SELECT user_id, date_trunc('day', ts) AS bucket,
         round(avg(value), 4) AS v_obs, count(*)::BIGINT AS n_obs
  FROM events GROUP BY 1, 2
)
SELECT user_id, strftime(bucket, '%Y-%m-%d') AS day,
       coalesce(last_value(v_obs IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS v_fill,
       coalesce(n_obs, 0)::BIGINT AS n_obs
FROM dense LEFT JOIN obs USING (user_id, bucket)
"""


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE moving aggregate (1-hour trailing avg per user): the
    window frame is an interval over the epoch-second ORDER BY, not a row
    count — peers at the same second are included in both engines, so
    results are tie-deterministic. Per-user windows parallelize across
    users; at 100 TB a hot user would take the grouped-topk shard
    treatment."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value",
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp'{_ANCHOR}', ts) div 1000000"
        ).alias("epoch_s"),
    )
    w = (
        Window.partitionBy("user_id").orderBy("epoch_s")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "epoch_s",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    )


O_EVENTS_MOVING_AVG = f"""
SELECT event_id, user_id, epoch_s,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 4) AS mov_avg
FROM (
  SELECT event_id, user_id, value,
         date_diff('microsecond', TIMESTAMP '{_ANCHOR}', ts) // 1000000 AS epoch_s
  FROM events
)
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long → wide): per-user event counts, one column per event
    type. Spark's ``pivot`` with an EXPLICIT value list plans a single
    groupBy with pivot aggregates (no second values-discovery job, no
    driver collect) — the explicit list is the 100-TB habit."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


O_PIVOT_EVENT_COUNTS = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
       count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
       count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view
FROM events GROUP BY user_id
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: 4 evenly spaced
    32-byte windows per payload via mapInPandas, one row per frame — the
    seek-offset math and per-frame fan-out a real decoder plugs into
    (``decode_media_stub`` marks the spot). Deterministic fake frames = the
    raw byte windows, so the oracle reproduces them with ``substr``."""
    from .operators.multimodal import documents_as_media, frame_sample

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return frame_sample(media, n_frames=4, width=32)


O_MULTIMODAL_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, text, length(text)::BIGINT AS n FROM documents
),
f AS (
  SELECT media_id, unnest(generate_series(0, 3)) AS i, text, n FROM m
)
SELECT media_id, i::INTEGER AS frame_idx,
       (i * (greatest(n - 32, 0) // 3))::BIGINT AS off,
       substr(text, (i * (greatest(n - 32, 0) // 3))::INTEGER + 1, 32) AS frame_text
FROM f
"""


# ------------------------------------------------- search / ranking operators


def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term query over the inverted index: the query-term
    filter runs map-side (shuffle ∝ the query's posting lists, not the
    corpus), document length rides through the explode (no join back), idf
    and corpus stats broadcast, and the final rank is
    TakeOrderedAndProject — never a global window. Score rounded to 4
    decimals BEFORE ranking so both engines break ties on doc_id."""
    from .operators.search import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["vector", "merge", "spark"], k=10
    )


O_TEXT_BM25 = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
  FROM documents
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(len(ws)) AS avgdl FROM words),
tok AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM words),
tf AS (
  SELECT doc_id, term, any_value(dl) AS dl, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ('vector', 'merge', 'spark')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_terms,
         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, n_terms, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (round 5): reciprocal-rank fusion of the lexical
    BM25 top-50 (3-term query over documents) with the semantic cosine
    top-50 (query = embedding 0 over the aligned embeddings table) —
    1/(60+rank) per list, summed, top-10. Both legs and the fusion are
    recomputed verbatim in the DuckDB oracle."""
    from .operators.search import bm25_topk, rrf_fuse

    lex = bm25_topk(
        _t(spark, sf_dir, "documents"), ["vector", "merge", "spark"], k=50)
    lex_r = lex.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), "doc_id")).alias("rank"),
    )
    sem = (
        similarity.brute_force_topk(
            _t(spark, sf_dir, "embeddings"), n_queries=1, k=50)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex_r, sem], id_col="doc_id", k=10)


O_HYBRID_SEARCH_RRF = f"""
WITH words AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
  FROM documents
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(len(ws)) AS avgdl FROM words),
tok AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM words),
tf AS (
  SELECT doc_id, term, any_value(dl) AS dl, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ('vector', 'merge', 'spark')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sem_scored AS (
  SELECT e.vec_id AS doc_id, round({{COS}}, 4) AS score
  FROM embeddings e, q WHERE e.vec_id <> 0
),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM sem_scored ORDER BY score DESC, doc_id LIMIT 50
),
contribs AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM lex
  UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM sem
)
SELECT doc_id, round(sum(c), 6) AS rrf, count(*)::BIGINT AS n_lists
FROM contribs GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10
"""
O_HYBRID_SEARCH_RRF = O_HYBRID_SEARCH_RRF.replace(
    "{COS}", _duck_cos("q.qe", "e.embedding"))


def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 documents per source by (n_chars DESC, doc_id): two-phase rank —
    (group, md5-shard) then group over the ≤ shards·k survivors — so a hot
    group parallelizes across shards instead of landing on one window task.
    The oracle is the single-window definition; the two phases must agree
    with it exactly."""
    from .operators.search import grouped_topk

    return grouped_topk(
        _t(spark, sf_dir, "documents"), "source", "n_chars", 3, "doc_id"
    ).select("source", "doc_id", "n_chars", "rnk")


O_GROUPED_TOPK = """
SELECT source, doc_id, n_chars, rnk::INTEGER AS rnk FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents) t
WHERE rnk <= 3
"""


def q_dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy dedup: (text prefix, length bucket) blocking keys, exact
    ``levenshtein`` on capped heads inside each block — character-level edits
    that set-based MinHash/SimHash miss. Shuffle key = block; oversized
    blocks dropped pre-join (boilerplate guard). Oracle = the identical
    block-join + edit-distance definition in SQL."""
    from .operators.dedup import fuzzy_levenshtein_pairs

    return fuzzy_levenshtein_pairs(_t(spark, sf_dir, "documents"))


O_DEDUP_FUZZY_LEVENSHTEIN = """
WITH d AS (
  SELECT doc_id, substr(lower(text), 1, 16) AS bp,
         (length(text) // 64)::BIGINT AS bl,
         substr(lower(text), 1, 200) AS head
  FROM documents
),
ok AS (SELECT bp, bl FROM d GROUP BY bp, bl HAVING count(*) <= 200),
dd AS (SELECT d.* FROM d JOIN ok USING (bp, bl))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head)::INTEGER AS dist
FROM dd a JOIN dd b ON a.bp = b.bp AND a.bl = b.bl AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 20
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each stage is the per-user
    min(ts) of the stage event STRICTLY AFTER the previous stage's timestamp
    (classic sequential-conversion semantics). Every step is a key-partitioned
    aggregate or user_id join — partial aggregation applies, no window, no
    driver loop. Output: one row per stage with the surviving user count."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n_users"))
    return stage(v, "1_view").unionByName(stage(c, "2_click")).unionByName(
        stage(p, "3_purchase"))


O_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT '1_view' AS stage, count(*)::BIGINT AS n_users FROM v
UNION ALL SELECT '2_click', count(*)::BIGINT FROM c
UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM p
"""


# ------------------------------------------ sampling / data-mix operators


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling (the data-mix recipe): three named
    sources keep 100/50/25%, everything else 10%, every choice derived from
    md5(seed:doc_id) — the oracle recomputes the SAME hash in DuckDB, so the
    exact kept-set (not just counts) must agree. Map-only Filter: no
    shuffle, no RNG state, stable under repartitioning."""
    from .operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "source", "doc_id",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1, seed=7,
    )
    return out.select("doc_id", "source")


O_SAMPLE_STRATIFIED = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5('7:' || doc_id), 1, 8))::BIGINT / 4294967296.0 <
      CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                  WHEN 'src2' THEN 0.25 ELSE 0.1 END
"""


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute per-source caps (at most 7 docs per source), survivors
    chosen by the deterministic md5 order — the oracle recomputes the same
    per-stratum rank, so the exact kept-set must agree. Top-K-per-group
    window shape: parallel across strata, no global sort."""
    from .operators.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents")
    return quota_sample(docs, "source", "doc_id", quota=7, seed=5).select(
        "doc_id", "source")


O_QUOTA_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('5:' || doc_id), 1, 8))::BIGINT
                    / 4294967296.0, doc_id) AS rn
  FROM documents) WHERE rn <= 7
"""


def q_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): top-50
    documents by ``u^(1/n_chars)`` with the deterministic md5 uniform —
    longer docs win proportionally more often, every engine picks the
    IDENTICAL set (rank key rounded to 9 before the top-k; ties on
    doc_id). Plan is map-only scoring + TakeOrderedAndProject."""
    from .operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "n_chars", "doc_id", k=50, seed=13) \
        .select("doc_id", "source", "es_key")


O_SAMPLE_WEIGHTED_TOPK = """
SELECT doc_id, source,
       round(pow(('0x' || substr(md5('13:' || doc_id), 1, 8))::BIGINT
                 / 4294967296.0, 1.0 / n_chars), 9) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id
LIMIT 50
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing manifest at seq_len=512 over the seeded
    md5 stream order: every (sequence, document) incidence with its token
    slice. The oracle recomputes the whole layout with a window prefix sum,
    so any drift in the two-phase offsets, the span fan-out, or a boundary
    slice fails the hash compare."""
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr("n_chars div 5").alias("n_tok"))
    return pack_sequences(docs, seq_len=512, seed=13)


O_PACK_SEQUENCES = """
WITH ord AS (
  SELECT doc_id, (n_chars // 5)::BIGINT AS n,
         md5('13:' || doc_id) || ':' || doc_id AS ok
  FROM documents WHERE n_chars // 5 >= 1
), offs AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY ok
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
  FROM ord
), expl AS (
  SELECT doc_id, n, off,
         unnest(generate_series(off // 512, (off + n - 1) // 512)) AS seq_id
  FROM offs
)
SELECT doc_id, seq_id::BIGINT AS seq_id,
       (greatest(off, seq_id * 512) - off)::BIGINT AS doc_begin,
       (least(off + n, (seq_id + 1) * 512)
        - greatest(off, seq_id * 512))::BIGINT AS slice_len,
       (greatest(off, seq_id * 512) - seq_id * 512)::BIGINT AS seq_begin
FROM expl
"""


def q_shuffle_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle position for every document — two-phase
    (bucket counts → driver prefix sum → bucket-partitioned ranks), never a
    single-partition Window. The oracle computes the same permutation with a
    bare row_number over the md5 order, so any off-by-one in the base
    offsets or bucket boundary fails the hash compare."""
    from .operators.sampling import shuffle_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_rank(docs, "doc_id", seed=11).select("doc_id", "pos")


O_SHUFFLE_GLOBAL_RANK = """
SELECT doc_id,
       (row_number() OVER (ORDER BY md5('11:' || doc_id), doc_id) - 1)::BIGINT AS pos
FROM documents
"""


def q_upsample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer up-weighting (epochs-per-source as row multiplicity):
    weight = n_chars % 4 repeats each doc 0-3 times with a copy index;
    weight-0 docs drop. Pure explode projection — rows multiply on their
    executors, nothing shuffles."""
    from .operators.sampling import upsample_by_weight

    docs = _t(spark, sf_dir, "documents").withColumn(
        "weight", (F.col("n_chars") % 4).cast("int"))
    return upsample_by_weight(docs, "weight").select(
        "doc_id", "weight", "copy_idx")


O_UPSAMPLE_WEIGHTED = """
SELECT doc_id, (n_chars % 4)::INTEGER AS weight,
       unnest(generate_series(1::BIGINT, (n_chars % 4)::BIGINT)) AS copy_idx
FROM documents
WHERE (n_chars % 4) >= 1
"""


def q_interleave_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional interleaving of four sources at 1:2:3:4
    — each row's exact-integer stride key ((2i-1)·lcm/w over the md5
    within-source order) defines the mix order; the oracle recomputes the
    identical keys, so rank, stride scaling and the dropped-strata rule
    all hash-check."""
    from .operators.sampling import interleave_mix

    docs = _t(spark, sf_dir, "documents")
    out = interleave_mix(
        docs, "source", "doc_id",
        weights={"src0": 1, "src1": 2, "src2": 3, "src3": 4}, seed=42,
    )
    return out.select("doc_id", "source", "mix_key")


O_INTERLEAVE_MIX = """
WITH w AS (
  SELECT * FROM (VALUES ('src0', 1), ('src1', 2), ('src2', 3), ('src3', 4))
         AS t(source, wt)
), r AS (
  SELECT d.doc_id, d.source, w.wt,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY ('0x' || substr(md5('42:' || d.doc_id), 1, 8))::BIGINT
                    / 4294967296.0, d.doc_id) AS rn
  FROM documents d JOIN w USING (source)
)
SELECT doc_id, source, ((2 * rn - 1) * (12 // wt))::BIGINT AS mix_key FROM r
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic 1/37 slice of the corpus
    plays the eval set; every document sharing an 8-gram with it (including
    the slice itself) drops. The oracle recomputes the same shingle-hash
    overlap, so the exact surviving set must agree."""
    from .operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, benchmark, k=8).select("doc_id", "source")


O_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_DUCK_WORDS}) - 7, 1)),
           i -> array_to_string(list_slice({_DUCK_WORDS}, i, i + 7), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, {duck_md5_long('u.s')} AS h
  FROM sh, UNNEST(shingles) AS u(s)
), bsh AS (
  SELECT DISTINCT h FROM ex WHERE doc_id % 37 = 0
), bad AS (
  SELECT DISTINCT doc_id FROM ex JOIN bsh USING (h)
)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PageRank (2 unrolled iterations, d=0.85) over the
    supplier→part supply graph derived from lineitem. Each iteration = one
    edge⋈rank join + one destination groupBy (map-side partials, nothing
    quadratic); per-iteration sums round to 12 dp so the unrolled-CTE
    oracle holds bit-identical state. The iterative-graph-analytics row
    next to connected_components."""
    from .operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        F.pmod(F.col("l_partkey"), F.lit(200)).cast("long").alias("dst"),
    )
    out = pagerank(edges, n_iter=2, damping=0.85)
    return out.select("node", F.round("pr", 9).alias("pr"))


def _o_pagerank() -> str:
    def step(prev: str, name: str) -> str:
        return f"""
c_{name} AS (
  SELECT e.dst, round(sum(p.pr / o.outdeg), 12) AS s
  FROM edges e JOIN {prev} p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
{name} AS (
  SELECT n.node,
         round((1.0 - 0.85) / (SELECT cnt FROM nn)
               + 0.85 * coalesce(c.s, 0.0), 12) AS pr
  FROM nodes n LEFT JOIN c_{name} c ON n.node = c.dst
)"""

    return f"""
WITH edges AS (
  SELECT DISTINCT l_suppkey::BIGINT AS src, (l_partkey % 200)::BIGINT AS dst
  FROM lineitem
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*)::BIGINT AS cnt FROM nodes),
outdeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / (SELECT cnt FROM nn) AS pr FROM nodes),
{step('pr0', 'pr1')},
{step('pr1', 'pr2')}
SELECT node, round(pr, 9) AS pr FROM pr2
"""


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders + customer saved as BUCKETED tables (8 buckets on the join
    key, sorted within buckets): both sides hash-place rows at WRITE time,
    so the join needs no Exchange at read time — the co-located-join lever
    a 100-TB star schema is laid out around."""
    key = hashlib.md5(
        f"bkt1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    wh = os.path.join(tempfile.gettempdir(), f"pandora_engine_wh_{key}")
    o_name, c_name = f"bkt_orders_{key}", f"bkt_customer_{key}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{wh}/bktdb'")
    exists = {t.name for t in spark.catalog.listTables("bktdb")}
    # the session catalog is in-memory: a table written by an earlier
    # PROCESS leaves its location on disk but not in this catalog — clear
    # the orphan location so saveAsTable can manage it fresh
    for name in (o_name, c_name):
        loc = os.path.join(wh, "bktdb", name)
        if name not in exists and os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)
    if o_name not in exists:
        (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
         .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .mode("overwrite").saveAsTable(f"bktdb.{o_name}"))
    if c_name not in exists:
        (_t(spark, sf_dir, "customer")
         .select("c_custkey", "c_name", "c_mktsegment")
         .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .mode("overwrite").saveAsTable(f"bktdb.{c_name}"))
    return f"bktdb.{o_name}", f"bktdb.{c_name}"


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED bucketed join: both tables bucketed 8-ways on the join
    key at write time, so the per-segment revenue rollup joins with ZERO
    shuffle of either side (the plan-hygiene pytest asserts no Exchange
    below the join). At 100 TB this is the difference between re-shuffling
    two fact tables per query and never shuffling them at all."""
    o_name, c_name = _bucketed_tables(spark, sf_dir)
    o, c = spark.table(o_name), spark.table(c_name)
    # MERGE hint: at test scale the dimension fits a broadcast, which would
    # bypass the bucket layout; force the sort-merge plan the 100-TB shape
    # uses so the zero-Exchange property is what actually executes
    j = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


O_BUCKETED_JOIN = """
SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_csv_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source coverage: orders staged to CSV once (headered), read back
    with an EXPLICIT schema (never inferSchema — a second full scan at
    100 TB), aggregated per status. The oracle aggregates the parquet view
    directly, so the gate proves the CSV round-trip is value-exact
    (numeric text formatting, date parsing)."""
    key = hashlib.md5(
        f"csv1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_csv_{key}")
    if not os.path.isdir(d):
        _t(spark, sf_dir, "orders").write.mode("overwrite").option(
            "header", "true").csv(d + ".tmp")
        os.rename(d + ".tmp", d)
    schema = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    o = spark.read.schema(schema).option("header", "true").csv(d)
    return (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
             F.min(F.to_date("o_orderdate")).cast("string").alias("first_day"))
    )


O_CSV_SOURCE_SCAN = """
SELECT o_orderstatus, count(*)::BIGINT AS n,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderdate::DATE)::VARCHAR AS first_day
FROM orders GROUP BY o_orderstatus
"""


def q_json_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source coverage: documents staged to line-delimited JSON once,
    read back with an explicit schema (UTF-8 text payloads round-trip
    through JSON string escaping), per-source length stats. Oracle =
    the parquet view, so escaping fidelity is what the hash proves."""
    key = hashlib.md5(
        f"jsonl1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_jsonl_{key}")
    if not os.path.isdir(d):
        _t(spark, sf_dir, "documents").write.mode("overwrite").json(d + ".tmp")
        os.rename(d + ".tmp", d)
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    docs = spark.read.schema(schema).json(d)
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.length("text")).alias("total_chars"),
             # 40-bit hashes: the per-source SUM stays far inside int64
             F.expr(f"sum({spark_md5_long('text', nibbles=10)})")
             .alias("text_hash_sum"))
    )


O_JSON_SOURCE_SCAN = f"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       sum({duck_md5_long('text', nibbles=10)})::BIGINT AS text_hash_sum
FROM documents GROUP BY source
"""


def _iceberg_docs_dir(spark: SparkSession, sf_dir: str, kind: str,
                      partition_by: str = "lang") -> str:
    """Documents staged once per (kind, sf_dir) as a REAL Iceberg v2 layout
    (metadata json + Avro manifest chain + partitioned parquet), written by
    the repo's own spec-shaped writer. `kind` separates the read-only scan
    tables from the one the MoR-delete query mutates."""
    from .sources.iceberg import write_iceberg

    key = hashlib.md5(
        f"ice1:{kind}:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_ice_{kind}_{key}")
    if not os.path.exists(os.path.join(d, "metadata", "version-hint.text")):
        shutil.rmtree(d, ignore_errors=True)
        write_iceberg(_t(spark, sf_dir, "documents"), d,
                      partition_by=partition_by)
    return d


def q_iceberg_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 INGEST (the north star's literal input: "ingests an
    Iceberg table") — the reader walks version-hint → vN.metadata.json →
    snapshot → manifest-list/manifest Avro OCF (decoded by the repo's own
    Avro container decoder, Avro.fs:405-541 parity) and hands the live file
    list to one distributed parquet scan. Aggregate = plain SQL over the
    same rows, so the gate proves the metadata walk loses/duplicates
    nothing."""
    from .sources.iceberg import read_iceberg

    docs = read_iceberg(spark, _iceberg_docs_dir(spark, sf_dir, "scan"))
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.min("doc_id").alias("min_doc"),
             F.max("doc_id").alias("max_doc"))
    )


O_ICEBERG_SCAN_AGG = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents GROUP BY lang
"""


def q_iceberg_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PLAN-TIME partition pruning: the manifest entries carry each
    file's identity-transform partition value, so a two-language read drops
    every other language's files before any parquet footer opens (asserted —
    the plan must report pruned files). Result = the SQL language filter."""
    from .sources.iceberg import read_iceberg, scan_manifests

    d = _iceberg_docs_dir(spark, sf_dir, "scan")
    keep = ("en", "zh")
    plan = scan_manifests(d, partition_filter=lambda p: p["lang"] in keep)
    if plan["pruned_files"] == 0:
        raise AssertionError("expected manifest-level partition pruning")
    docs = read_iceberg(spark, d,
                        partition_filter=lambda p: p["lang"] in keep)
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
    )


O_ICEBERG_PARTITION_PRUNING = """
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents WHERE lang IN ('en', 'zh') GROUP BY lang, source
"""


def q_iceberg_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ DELETE: a positional delete file
    ((file_path, pos) parquet + delete manifest in a new snapshot) subtracts
    rows with ZERO data files rewritten (asserted — the live data-file set
    must be byte-identical before/after); readers anti-join on Spark's
    ``_metadata`` file/row-index columns. Survivors = the SQL anti-filter."""
    from .sources.iceberg import (
        current_metadata, delete_iceberg_rows, read_iceberg, scan_manifests,
    )

    d = _iceberg_docs_dir(spark, sf_dir, "del")
    if current_metadata(d)["current-snapshot-id"] < 2:
        before = {f["file_path"] for f in scan_manifests(d)["data_files"]}
        delete_iceberg_rows(spark, d, F.col("doc_id") % 13 == 0)
        after = {f["file_path"] for f in scan_manifests(d)["data_files"]}
        if before != after:  # merge-on-read invariant
            raise AssertionError("positional delete rewrote data files")
    return read_iceberg(spark, d).select("doc_id", "lang", "source", "n_chars")


O_ICEBERG_MOR_DELETE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE NOT (doc_id % 13 = 0)
"""


def q_iceberg_snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SNAPSHOT-TAIL STREAMING: `pandora_iceberg` readStream's
    offset axis is the table's sequence number — each micro-batch is the
    data files added in (start, end], delete snapshots advance with zero
    rows. The table stages in TWO append snapshots (odd/even doc ids); the
    drained sink's aggregate must equal the batch SQL — a duplicated or
    dropped row in the offset accounting fails rows/hash."""
    import tempfile

    from .sources.iceberg import append_iceberg, current_metadata, write_iceberg
    from .sources.iceberg import stream_iceberg

    key = hashlib.md5(
        f"icestr1:{_FORMAT_TAG}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_icestr_{key}")
    docs = _t(spark, sf_dir, "documents")
    if not os.path.exists(os.path.join(d, "metadata", "version-hint.text")):
        shutil.rmtree(d, ignore_errors=True)
        write_iceberg(docs.filter(F.col("doc_id") % 2 == 0), d,
                      partition_by="lang")
    if current_metadata(d)["current-snapshot-id"] < 2:
        append_iceberg(docs.filter(F.col("doc_id") % 2 == 1), d,
                       partition_by="lang")
    sink = tempfile.mkdtemp(prefix="pandora_icestr_sink_")
    ckpt = tempfile.mkdtemp(prefix="pandora_icestr_ckpt_")
    q = (stream_iceberg(spark, d)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    q.stop()
    return (
        spark.read.parquet(sink)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.count_distinct("doc_id").alias("n_keys"),
             F.sum("n_chars").alias("total_chars"))
    )


O_ICEBERG_SNAPSHOT_STREAM = """
SELECT lang, count(*)::BIGINT AS n_docs,
       count(DISTINCT doc_id)::BIGINT AS n_keys,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY lang
"""


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SQL surface with a CORRELATED scalar subquery (every order
    above its customer's own average) — Catalyst decorrelates it into an
    aggregate + join (no per-row re-execution, unlike a naive interpreter);
    written as SQL text to exercise the spark.sql front door rather than
    the DataFrame builder."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders o
        WHERE o_totalprice > 1.5 * (
          SELECT avg(o_totalprice) FROM v_orders i
          WHERE i.o_custkey = o.o_custkey
        )
    """)


O_CORRELATED_SUBQUERY = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the composed pipeline every stage above
    exists for: keep documents that (1) score ≥ 0.5 on the heuristic quality
    filter, (2) are the canonical representative of their near-dup cluster
    (or belong to none — MinHash-LSH pairs → min-label components), and
    (3) survive benchmark decontamination; then draw the deterministic
    per-source stratified sample from the survivors. Each stage is the
    already-oracled operator run on the full corpus; the composition is
    set intersection, so the oracle reuses each stage's SQL verbatim.
    Scale: the stages share the corpus scan shape and each is individually
    100-TB-safe (capped LSH, broadcast decontamination, map-only filters);
    the intersection is three semi/anti joins on doc_id."""
    from .operators.dedup import connected_components, decontaminate
    from .operators.sampling import stratified_sample
    from .operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    good = quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id")
    # the LSH pair set is shared with dedup_clusters via the staged
    # intermediate (computed once per sf_dir, md5-deterministic)
    clusters = connected_components(_staged_lsh_pairs(spark, sf_dir))
    non_canonical = clusters.filter(
        F.col("doc_id") != F.col("component_id")
    ).select("doc_id")
    decon_kept = decontaminate(
        docs, docs.where(F.col("doc_id") % 37 == 0), k=8
    ).select("doc_id")
    kept = (
        docs.join(good, "doc_id", "left_semi")
        .join(non_canonical, "doc_id", "left_anti")
        .join(decon_kept, "doc_id", "left_semi")
    )
    return stratified_sample(
        kept, "source", "doc_id", rates={"src0": 1.0}, default_rate=0.5,
        seed=11,
    ).select("doc_id", "source", "lang")


def _o_curate_corpus() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_o_dedup_minhash()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc_id, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.doc_id
),
non_canonical AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY doc_id
  ) WHERE doc_id <> component_id
),
good AS (
  SELECT doc_id FROM ({O_TEXT_QUALITY}) WHERE quality >= 0.5
),
decon_kept AS (
  SELECT doc_id FROM ({O_DECONTAMINATE})
)
SELECT doc_id, source, lang FROM documents
WHERE doc_id IN (SELECT doc_id FROM good)
  AND doc_id NOT IN (SELECT doc_id FROM non_canonical)
  AND doc_id IN (SELECT doc_id FROM decon_kept)
  AND ('0x' || substr(md5('11:' || doc_id), 1, 8))::BIGINT / 4294967296.0 <
      CASE source WHEN 'src0' THEN 1.0 ELSE 0.5 END
"""


# --------------------------------------------------- temporal operators


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event attaches its user's latest daily snapshot
    at-or-before the event time (snapshots publish at 01:00, so first-hour
    events of a user's first active day exercise the NULL path). Engine
    side is the union + carry-forward composition (ONE key shuffle, no
    range explosion); DuckDB verifies with its native ASOF LEFT JOIN."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    snaps = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").alias("n_day"))
        .select(
            "user_id",
            (F.col("day") + F.expr("interval 1 hour")).alias("ts"),
            "n_day",
        )
    )
    out = asof_join(ev, snaps, key="user_id", ts="ts", value_cols=["n_day"])
    return out.select(
        "event_id",
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)")
        .alias("us"),
        # no-match -> -1: NULL would canonicalize to NaN (never hash-equal)
        # and float-ify the column; -1 keeps the null path visible AND int64
        F.coalesce("n_day_asof", F.lit(-1)).cast("long").alias("n_day_asof"),
    )


O_ASOF_JOIN = f"""
WITH r AS (
  SELECT user_id, date_trunc('day', ts) + INTERVAL 1 HOUR AS rts,
         count(*)::BIGINT AS n_day
  FROM events GROUP BY user_id, date_trunc('day', ts)
)
SELECT e.event_id, e.user_id,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}', e.ts) AS us,
       coalesce(r.n_day, -1)::BIGINT AS n_day_asof
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.rts
"""


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: every event attaches its user's NEXT daily snapshot
    at-or-after the event time (the look-ahead mirror of `asof_join` —
    same union + carry machinery over the reversed time order, still ONE
    key shuffle). Last-day events past the final snapshot exercise the
    no-match path; DuckDB verifies with ASOF LEFT JOIN on `<=`."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    snaps = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").alias("n_day"))
        .select(
            "user_id",
            (F.col("day") + F.expr("interval 1 hour")).alias("ts"),
            "n_day",
        )
    )
    out = asof_join(ev, snaps, key="user_id", ts="ts",
                    value_cols=["n_day"], direction="forward")
    return out.select(
        "event_id",
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)")
        .alias("us"),
        F.coalesce("n_day_asof", F.lit(-1)).cast("long").alias("n_day_fwd"),
    )


O_ASOF_JOIN_FORWARD = f"""
WITH r AS (
  SELECT user_id, date_trunc('day', ts) + INTERVAL 1 HOUR AS rts,
         count(*)::BIGINT AS n_day
  FROM events GROUP BY user_id, date_trunc('day', ts)
)
SELECT e.event_id, e.user_id,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}', e.ts) AS us,
       coalesce(r.n_day, -1)::BIGINT AS n_day_fwd
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts <= r.rts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join planned as an equi-join: per-user 30-hour
    activity windows (opening daily at 12:00, so consecutive windows
    overlap and events can match twice) joined to the events inside them.
    The engine buckets intervals into 1-day join keys and re-applies the
    exact predicate; the oracle is the plain inequality join DuckDB can
    afford at this scale."""
    from .operators.temporal import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    windows = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .distinct()
        .select(
            "user_id",
            (F.col("day") + F.expr("interval 12 hours")).alias("w_start"),
            (F.col("day") + F.expr("interval 42 hours")).alias("w_end"),
        )
    )
    out = range_join(ev, windows, key="user_id", ts="ts",
                     start="w_start", end="w_end", bucket="1 day")
    return out.select(
        "event_id",
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)")
        .alias("us"),
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', w_start)"
        ).alias("w_start_us"),
    )


O_RANGE_JOIN = f"""
WITH w AS (
  SELECT DISTINCT user_id,
         date_trunc('day', ts) + INTERVAL 12 HOUR AS w_start,
         date_trunc('day', ts) + INTERVAL 42 HOUR AS w_end
  FROM events
)
SELECT e.event_id, e.user_id,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}', e.ts) AS us,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}', w.w_start) AS w_start_us
FROM events e JOIN w
  ON e.user_id = w.user_id AND w.w_start <= e.ts AND e.ts < w.w_end
"""


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup: hourly AND daily per-event-type stats
    in one pass (GROUPING SETS over precomputed buckets — one shuffle,
    map-side partials). The oracle is the equivalent UNION ALL of two
    plain rollups."""
    from .operators.temporal import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev, ts="ts", dims=["event_type"],
        aggs=["count(*) AS n", "min(value) AS vmin", "max(value) AS vmax"],
        granularities=["1 hour", "1 day"],
    )
    return out.select(
        "granularity",
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', bucket_start)"
        ).alias("bucket_us"),
        "event_type",
        "n",
        "vmin",
        "vmax",
    )


O_HYPERTABLE_ROLLUP = f"""
SELECT '1 hour' AS granularity,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}',
                 date_trunc('hour', ts)) AS bucket_us,
       event_type, count(*)::BIGINT AS n, min(value) AS vmin,
       max(value) AS vmax
FROM events GROUP BY date_trunc('hour', ts), event_type
UNION ALL
SELECT '1 day', date_diff('microsecond', TIMESTAMP '{_ANCHOR}',
                          date_trunc('day', ts)),
       event_type, count(*)::BIGINT, min(value), max(value)
FROM events GROUP BY date_trunc('day', ts), event_type
"""


# ------------------------------------------- nested flatten + JSON scalars


def q_nested_flatten_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the generic flatten-to-extension-tables machinery (operators/
    nested.py, the reference's A14/A15 contract) end-to-end: nest documents
    into (struct meta, array words), flatten into parent + child tables with
    lineage, then recombine via the ``child.pj_pid = parent.pj_uid`` join —
    the exact join contract the reference documents (README.md:95-102)."""
    from .operators import nested

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct("lang", "source").alias("meta"),
        F.expr(_WORDS).alias("words"),
    )
    tables = nested.flatten_table(
        docs, root_name="Doc", uid_expr=spark_md5_long("cast(doc_id as string)")
    )
    root, words = tables["Doc"], tables["Doc.Words"]
    return (
        words.join(root.select("pj_uid", "doc_id"), words.pj_pid == root.pj_uid)
        .select("doc_id", F.col("pj_pos").alias("pos"), F.col("item").alias("word"))
        .orderBy("doc_id", "pos")
    )


O_NESTED_FLATTEN_WORDS = f"""
WITH w AS (
  SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
), idx AS (
  SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i FROM w
)
SELECT doc_id, (i - 1)::INTEGER AS pos, words[i] AS word FROM idx
ORDER BY doc_id, pos
"""


_DOC_AVSC = """
{"type": "record", "name": "Doc", "namespace": "engine.test",
 "fields": [
   {"name": "doc_id", "type": "long"},
   {"name": "meta", "type": {"type": "record", "name": "Meta",
      "fields": [{"name": "lang", "type": "string"},
                 {"name": "source", "type": "string"}]}},
   {"name": "words", "type": {"type": "array", "items": "string"}}
 ]}
"""


def q_avro_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema front door end-to-end (A1–A3 + A14/A15): an Avro ``.avsc`` JSON
    schema is parsed into a StructType (``sources/avro_schema.py``, the
    reference's ``Avro.fs:27-145`` walk), the documents table is conformed to
    it, flattened into extension tables, and the word child table is
    recombined with root + nested-record metadata via the
    ``child.pj_pid = parent.pj_uid`` contract."""
    from .operators import nested
    from .sources.avro_schema import avsc_to_struct, conform

    info = avsc_to_struct(_DOC_AVSC)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct("lang", "source").alias("meta"),
        F.expr(_WORDS).alias("words"),
    )
    conformed = conform(docs, info.struct)
    tables = nested.flatten_table(
        conformed, root_name=info.name, uid_expr=spark_md5_long("cast(doc_id as string)")
    )
    root, meta, words = tables["Doc"], tables["Doc.Meta"], tables["Doc.Words"]
    return (
        words.join(root.select("pj_uid", "doc_id"), words.pj_pid == root.pj_uid)
        .join(
            meta.select(F.col("pj_pid").alias("meta_pid"), "lang"),
            F.col("pj_pid") == F.col("meta_pid"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("pj_pos").alias("pos"),
            F.col("item").alias("word"),
        )
        .orderBy("doc_id", "pos")
    )


_DOC_AVDL = """
@namespace("engine.test")
protocol DocFeed {
  record Meta {
    string lang;
    string source;
  }
  record Doc {
    long doc_id;
    engine.test.Meta meta;
    array<string> words = [];
  }
}
"""


def q_avdl_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro **IDL** front door end-to-end: the schema arrives as authored
    ``.avdl`` protocol source (``sources/avro_idl.py`` — parity-plus over the
    reference, whose corpus ships ``.avdl`` but consumes compiled ``.avsc``),
    is compiled to canonical Avro-JSON, then runs the exact ``avro_flatten``
    pipeline (conform → flatten → recombine via ``pj_pid = pj_uid``). Same
    oracle as ``avro_flatten``: the two front doors must be indistinguishable
    downstream."""
    from .operators import nested
    from .sources.avro_idl import avdl_schema, parse_avdl_text
    from .sources.avro_schema import avsc_to_struct, conform

    proto = parse_avdl_text(_DOC_AVDL)
    info = avsc_to_struct(avdl_schema(proto, "Doc"))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct("lang", "source").alias("meta"),
        F.expr(_WORDS).alias("words"),
    )
    conformed = conform(docs, info.struct)
    tables = nested.flatten_table(
        conformed, root_name=info.name,
        uid_expr=spark_md5_long("cast(doc_id as string)"),
    )
    root, meta, words = tables["Doc"], tables["Doc.Meta"], tables["Doc.Words"]
    return (
        words.join(root.select("pj_uid", "doc_id"), words.pj_pid == root.pj_uid)
        .join(
            meta.select(F.col("pj_pid").alias("meta_pid"), "lang"),
            F.col("pj_pid") == F.col("meta_pid"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("pj_pos").alias("pos"),
            F.col("item").alias("word"),
        )
        .orderBy("doc_id", "pos")
    )


def q_avro_binary_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro *binary* ingestion end-to-end (A21 complete, ``Avro.fs:858-905``):
    documents are serialized into real ``.avro`` Object Container Files
    (fixture, cached per sf_dir), read back generically through
    ``sources.avro_binary.read_avro`` (binaryFile scan → per-file decode →
    rows under the ``.avsc``-derived struct), and the word arrays are
    exploded. The oracle recomputes the same rows from the parquet source,
    so any byte-level codec defect surfaces as a value mismatch."""
    from .sources.avro_binary import read_avro, write_avro_container

    key = hashlib.md5(
        f"avrobin1:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"pandora_engine_avro_{key}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        schema = {
            "type": "record", "name": "DocBin", "fields": [
                {"name": "doc_id", "type": "long"},
                {"name": "lang", "type": "string"},
                {"name": "words", "type": {"type": "array", "items": "string"}},
            ],
        }
        # Containers are written PARTITION-SIDE (no driver collect): rows
        # route to 4 hash partitions on doc_id % 4, and each task writes the
        # container(s) for the part values it holds. Works in local mode
        # (shared FS); on a cluster, point ``d`` at shared storage.
        def _write_parts(it):
            buckets: dict[int, list[dict]] = {}
            for r in it:
                buckets.setdefault(r["part"], []).append(
                    {"doc_id": r["doc_id"], "lang": r["lang"],
                     "words": [w for w in r["text"].split(" ") if w]}
                )
            for part, recs in buckets.items():
                recs.sort(key=lambda rec: rec["doc_id"])
                write_avro_container(
                    os.path.join(d, f"part-{part}.avro"), schema, recs,
                    codec="deflate",
                )

        (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "lang", "text",
                    (F.col("doc_id") % 4).alias("part"))
            .repartition(4, "part")
            .foreachPartition(_write_parts)
        )
        with open(done, "w") as fh:
            fh.write("ok")
    df, _info = read_avro(spark, d)
    return df.select(
        "doc_id", "lang", F.posexplode("words").alias("pos", "word")
    ).orderBy("doc_id", "pos")


O_AVRO_BINARY_FLATTEN = f"""
WITH w AS (
  SELECT doc_id, lang, {_DUCK_WORDS} AS words FROM documents
), idx AS (
  SELECT doc_id, lang, words, unnest(generate_series(1, len(words))) AS i FROM w
)
SELECT doc_id, lang, (i - 1)::INTEGER AS pos, words[i] AS word FROM idx
ORDER BY doc_id, pos
"""


O_AVRO_FLATTEN = f"""
WITH w AS (
  SELECT doc_id, lang, {_DUCK_WORDS} AS words FROM documents
), idx AS (
  SELECT doc_id, lang, words, unnest(generate_series(1, len(words))) AS i FROM w
)
SELECT doc_id, lang, (i - 1)::INTEGER AS pos, words[i] AS word FROM idx
ORDER BY doc_id, pos
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (A22/A26 analog) + aggregation over events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


O_JSON_PROPS_STATS = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k,
       min(json_extract(props, '$.k')::INTEGER) AS min_k,
       max(json_extract(props, '$.k')::INTEGER) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------- streaming


def q_streaming_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface: drop the derived token table as parquet
    files, consume with a file-source stream (availableNow), encode each
    micro-batch via foreachBatch, decode every batch output and return
    per-source totals. Rows-only check (streaming execution is not
    SQL-expressible), but totals must equal the batch derivation's."""
    from .operators.decode import decode_tokens
    from .streaming.pipeline import decoded_batches_dir, encode_stream, read_token_stream

    # content-keyed work dir (like _encode_dir): repeated driver rounds reuse
    # a completed run instead of accumulating unbounded /tmp state
    key = hashlib.md5(f"{_FORMAT_TAG}:stream:{os.path.abspath(sf_dir)}".encode()).hexdigest()[:10]
    work = os.path.join(tempfile.gettempdir(), f"pandora_engine_stream_{key}")
    src_dir, out_dir, ckpt = f"{work}/drops", f"{work}/enc", f"{work}/ckpt"
    done_marker = f"{work}/_done"
    if not os.path.exists(done_marker):
        shutil.rmtree(work, ignore_errors=True)
        derived_tokens(spark, sf_dir).write.parquet(src_dir)
        stream = read_token_stream(spark, src_dir)
        q = encode_stream(stream, out_dir, ckpt, n_parts=4, available_now=True)
        q.awaitTermination(300)
        with open(done_marker, "w") as fh:
            fh.write("ok")

    decoded = None
    for b in decoded_batches_dir(out_dir):
        d = decode_tokens(spark, b)
        decoded = d if decoded is None else decoded.union(d)
    return (
        decoded.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("source")
    )


O_STREAMING_ENCODE = f"""
WITH {DUCK_TOKS}
SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
FROM toks GROUP BY source ORDER BY source
"""


def q_table_stream_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming *sink* end-to-end (`DataSourceStreamWriter`,
    ``DeltaLake.fs:176-444`` write-side contract): the events table drops as
    3 parquet files consumed one-per-micro-batch
    (``maxFilesPerTrigger=1`` → ≥3 epochs, each its own atomic commit-log
    entry with a ``txn`` idempotence line), streamed into the encoded store
    via ``writeStream.format("pandora_table")``, then decoded back whole.
    The oracle recomputes the same rows from the parquet source, so a
    dropped, duplicated, or corrupted epoch surfaces as a hash mismatch."""
    from .operators.table import decode_table
    from .sources.table_source import stream_write_encoded_table

    key = hashlib.md5(
        f"{_FORMAT_TAG}:swrite:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:10]
    work = os.path.join(tempfile.gettempdir(), f"pandora_engine_swrite_{key}")
    drops, store, ckpt = f"{work}/drops", f"{work}/store", f"{work}/ckpt"
    done = f"{work}/_done"
    if not os.path.exists(done):
        shutil.rmtree(work, ignore_errors=True)
        ev = _t(spark, sf_dir, "events")
        ev.repartition(3, "event_id").write.parquet(drops)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drops)
        )
        q = (
            stream_write_encoded_table(
                stream, store, ckpt, key_cols=["event_id"],
                app_id="swrite-oracle",
            )
            .trigger(availableNow=True)
            .start()
        )
        # the _done marker is permanent (/tmp cache): write it ONLY if the
        # stream actually finished — a timeout must leave no marker, so the
        # next run rebuilds instead of serving a partial store forever
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise RuntimeError("table_stream_write fixture stream timed out")
        with open(done, "w") as fh:
            fh.write("ok")
    return decode_table(spark, store).select(
        "event_id", "user_id", "event_type", "value",
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', ts)"
        ).alias("ts_us"),
    ).orderBy("event_id")


O_TABLE_STREAM_WRITE = f"""
SELECT event_id, user_id, event_type, value,
       date_diff('microsecond', TIMESTAMP '{_ANCHOR}', ts) AS ts_us
FROM events ORDER BY event_id
"""


_SESSION_STREAM_SEQ = itertools.count()


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState with
    event-time timeouts) over the events table, run to completion with
    availableNow. With all events in ONE batch plus the final
    watermark-only batch, the emitted set is exactly derivable in SQL:
    every non-final session per user closes by data-split, and a user's
    final session closes iff its end + gap precedes the terminal watermark
    (global max ts − 1 h) — so the full stateful machinery (Arrow kernel,
    gap splits, timeout firing, exactly-once emission) is hash-checked
    against a batch window derivation."""
    from .streaming.stateful import sessionize_stream

    ev_path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(ev_path).schema
    # the file stream source needs a directory; glob-pin it to the events
    # file so sibling tables in sf_dir are not swept in
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    sess = sessionize_stream(stream, gap_sec=1800, watermark="1 hour")
    name = f"pandora_stream_sessions_{next(_SESSION_STREAM_SEQ)}"
    q = (
        sess.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id",
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', session_start)"
        ).alias("start_us"),
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz '{_ANCHOR}', session_end)"
        ).alias("end_us"),
        "n_events",
    )


O_STREAMING_SESSIONIZE = f"""
WITH ev AS (
  SELECT user_id,
         date_diff('microsecond', TIMESTAMP '{_ANCHOR}', ts) AS us
  FROM events
), flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM ev
), sess AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) AS sidx
  FROM flagged
), agg AS (
  SELECT user_id, sidx, min(us) AS start_us, max(us) AS end_us,
         count(*)::BIGINT AS n_events
  FROM sess GROUP BY user_id, sidx
), mx AS (SELECT max(us) AS m FROM ev)
SELECT user_id, start_us, end_us, n_events
FROM agg, mx
WHERE sidx < (SELECT max(sidx) FROM agg a2 WHERE a2.user_id = agg.user_id)
   OR end_us + 1800000000 < m - 3600000000
"""


# -------------------------------------------------------------- multimodal


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_feature_summary(_t(spark, sf_dir, "documents"))


_FEAT_SUM = " + ".join(
    f"(('0x' || substr(sha256(text), {2 * i + 1}, 2))::INTEGER / 256.0)"
    for i in range(multimodal.FEATURE_DIM)
)

O_MULTIMODAL_FEATURES = f"""
SELECT doc_id AS media_id, length(text)::BIGINT AS n_bytes, sha256(text) AS sha,
       round({_FEAT_SUM}, 4) AS feat_sum
FROM documents ORDER BY media_id
"""


# ------------------------------------------------------------------ sketches
# Approximate-analytics sketches re-derived from md5 so both engines compute
# the identical registers/bins/counters (engine-native HLL/GK sketches hash
# differently and can never hash-match; see operators/sketches.py docstring).


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct l_orderkey per returnflag (m=256 registers): the
    bias-corrected estimator lands within ~7% of the ~11k true cardinality
    while shuffling at most 256 rows per group."""
    return sketches.hll_distinct(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_orderkey", p=8
    )


O_SKETCH_HLL = sketches.hll_distinct_sql("lineitem", ["l_returnflag"], "l_orderkey", p=8)


def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated-sketch pattern: per-(returnflag, shipdate-month) HLL
    partials merge by register max into per-returnflag estimates. The
    oracle is the DIRECT single-pass HLL — merge must reproduce it exactly,
    which is the whole point of mergeable sketch state."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_trunc("month", F.col("l_shipdate"))
    )
    partials = sketches.hll_partial(
        li, ["l_returnflag", "ship_month"], "l_orderkey", p=8
    )
    return sketches.hll_merge(partials, ["l_returnflag"], p=8)


def q_sketch_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-algebra: |A∩B| ≈ hll(A) + hll(B) − hll(A∪B) (inclusion–
    exclusion over mergeable sketches — the cardinality-overlap question
    'how many customers have BOTH open and fulfilled orders' answered from
    three sketch-sized aggregates, never a distinct-join). All three
    estimates ride ONE tagged union scan; the oracle recomputes the same
    registers."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.lit("a").alias("tag"), "o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.lit("b").alias("tag"), "o_custkey")
    ab = o.filter(F.col("o_orderstatus").isin("O", "F")).select(
        F.lit("ab").alias("tag"), "o_custkey")
    est = sketches.hll_distinct(
        a.unionByName(b).unionByName(ab), ["tag"], "o_custkey", p=8
    )
    m = {t: F.max(F.when(F.col("tag") == t, F.col("est_distinct"))) for t in
         ("a", "b", "ab")}
    return est.agg(
        m["a"].alias("est_open"),
        m["b"].alias("est_fulfilled"),
        m["ab"].alias("est_union"),
        F.round(m["a"] + m["b"] - m["ab"], 4).alias("est_intersect"),
    )


def _o_hll_intersect() -> str:
    inner = sketches.hll_distinct_sql("tagged", ["tag"], "o_custkey", p=8)
    return f"""
WITH tagged AS (
  SELECT 'a' AS tag, o_custkey FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT 'b', o_custkey FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT 'ab', o_custkey FROM orders WHERE o_orderstatus IN ('O', 'F')
),
est AS ({inner})
SELECT max(CASE WHEN tag = 'a' THEN est_distinct END) AS est_open,
       max(CASE WHEN tag = 'b' THEN est_distinct END) AS est_fulfilled,
       max(CASE WHEN tag = 'ab' THEN est_distinct END) AS est_union,
       round(max(CASE WHEN tag = 'a' THEN est_distinct END)
             + max(CASE WHEN tag = 'b' THEN est_distinct END)
             - max(CASE WHEN tag = 'ab' THEN est_distinct END), 4)
         AS est_intersect
FROM est
"""


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking coverage: order-value quartiles WITHIN each order
    priority (partitioned window — parallel across priorities, never the
    global single-partition NTILE), rolled up to (priority, quartile)
    stats. Ties broken on o_orderkey so bucket boundaries are
    cross-engine deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


O_NTILE_QUARTILES = """
SELECT o_orderpriority,
       ntile::INTEGER AS quartile,
       count(*)::BIGINT AS n,
       round(avg(o_totalprice), 2) AS avg_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey) AS ntile
  FROM orders
) GROUP BY o_orderpriority, ntile
"""


def q_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of l_extendedprice (128 bins): deterministic
    approximate percentiles with error ≤ one bin width, no data-sized
    window anywhere (the cumulative sum runs over ≤128 bin rows)."""
    return sketches.histogram_quantile(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice",
        [0.1, 0.5, 0.9, 0.99], n_bins=128,
    )


O_SKETCH_QUANTILE = sketches.histogram_quantile_sql(
    "lineitem", "l_extendedprice", [0.1, 0.5, 0.9, 0.99], n_bins=128
)


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for every l_partkey (4x256 counters —
    ~2k keys forced through 1k cells so the overestimate bound is exercised);
    output carries exact_cnt alongside so cms_est >= exact_cnt is visible."""
    return sketches.cms_frequency(
        _t(spark, sf_dir, "lineitem"), "l_partkey", width=256, depth=4
    )


O_SKETCH_CMS = sketches.cms_frequency_sql("lineitem", "l_partkey", width=256, depth=4)


def q_sketch_grouped_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram quantiles: median and p95 of l_extendedprice per
    returnflag — bins and cumulative windows are sketch-sized PER GROUP and
    run in parallel across groups."""
    return sketches.histogram_quantile(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", [0.5, 0.95],
        n_bins=64, group_cols=["l_returnflag"],
    )


O_SKETCH_GROUPED_QUANTILE = sketches.histogram_quantile_sql(
    "lineitem", "l_extendedprice", [0.5, 0.95], n_bins=64,
    group_cols=["l_returnflag"],
)


_BLOOM_BITS, _BLOOM_K = 1 << 12, 3


def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership: custkeys of finished orders pack into a 4 Ki-bit
    word map; every customer probes it map-side. is_member rides alongside
    so the no-false-negative guarantee (maybe >= is) and the FP sliver
    (~1/3 of true non-members at this load factor) are both visible in the
    hash-compared output."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    bloom = sketches.bloom_build(orders, "o_custkey", n_bits=_BLOOM_BITS,
                                 n_hashes=_BLOOM_K)
    probed = sketches.bloom_probe(cust, "c_custkey", bloom,
                                  n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K)
    members = (
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
        .withColumn("__m", F.lit(True))
    )
    return (
        probed.join(members, "c_custkey", "left")
        .select(
            "c_custkey",
            "maybe_member",
            F.coalesce(F.col("__m"), F.lit(False)).alias("is_member"),
        )
        .orderBy("c_custkey")
    )


def _o_sketch_bloom() -> str:
    ctes = sketches.bloom_sql_ctes(
        "SELECT o_custkey AS v FROM orders WHERE o_orderstatus = 'F'",
        n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K,
    )
    probes = " UNION ALL ".join(
        f"SELECT c_custkey, {p} AS p FROM customer"
        for p in sketches._bloom_positions(
            "c_custkey", _BLOOM_BITS, _BLOOM_K, 42, spark=False
        )
    )
    return f"""
WITH {ctes},
pr AS ({probes}),
chk AS (
  SELECT pr.c_custkey,
         bool_and((coalesce(w.bits, 0) & (1::BIGINT << (pr.p % 63)::INTEGER)) <> 0)
           AS maybe_member
  FROM pr LEFT JOIN bwords w ON w.word = pr.p // 63
  GROUP BY pr.c_custkey
)
SELECT c.c_custkey, chk.maybe_member,
       (c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
         AS is_member
FROM customer c JOIN chk USING (c_custkey) ORDER BY c_custkey
"""


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-gated decontaminate: identical surviving set to
    `decontaminate` (exact verify removes bloom false positives — shared
    oracle), but the eval set travels as a fixed-size bitset instead of a
    raw hash broadcast, and only bloom survivors pay the exact join."""
    from .operators.dedup import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 37 == 0)
    return decontaminate_bloom(docs, benchmark, k=8).select("doc_id", "source")


# ------------------------------------------------------------ skew handling


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust salted join: lineitem joins orders on a salted
    (orderkey, md5-salt) key — a hot orderkey spreads across 16 reducers —
    then aggregates revenue per priority. Output is provably identical to
    the unsalted join, which is exactly what the oracle runs."""
    from .operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        li, orders, on="l_orderkey",
        row_key=["l_orderkey", "l_linenumber"], n_salt=16,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


O_SKEW_SALTED_JOIN = """
SELECT o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark over the events
    stream keeps O(keys-in-window) state; run to completion with
    availableNow the surviving set is exactly the batch distinct, which the
    oracle computes."""
    from .streaming.pipeline import dedup_stream

    ev_path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(ev_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ded = dedup_stream(stream, ["user_id", "event_type"])
    name = f"pandora_stream_dedup_{next(_SESSION_STREAM_SEQ)}"
    q = (
        ded.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


O_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
"""


# ---------------------------------------------------------------- registry

QUERIES: dict[str, tuple] = {
    # engine core (columnar encode pipeline)
    "tokens_explode": (q_tokens_explode, O_TOKENS_EXPLODE),
    "tokens_roundtrip": (q_tokens_roundtrip, O_TOKENS_ROUNDTRIP),
    "manifest_stats": (q_manifest_stats, O_MANIFEST_STATS),
    "manifest_codec_invariant": (q_manifest_codec_invariant, O_MANIFEST_CODEC_INVARIANT),
    "token_stats_by_source": (q_token_stats_by_source, O_TOKEN_STATS_BY_SOURCE),
    "token_offsets": (q_token_offsets, O_TOKEN_OFFSETS),
    "dict_cardinality": (q_dict_cardinality, O_DICT_CARDINALITY),
    "values_only_stats": (q_values_only_stats, O_VALUES_ONLY_STATS),
    "typed_roundtrip": (q_typed_roundtrip, O_TYPED_ROUNDTRIP),
    "table_encode_roundtrip": (q_table_encode_roundtrip, O_TABLE_ENCODE_ROUNDTRIP),
    "table_selective_stats": (q_table_selective_stats, O_TABLE_SELECTIVE_STATS),
    "table_manifest_stats": (q_table_manifest_stats, O_TABLE_MANIFEST_STATS),
    "table_lookup_range": (q_table_lookup_range, O_TABLE_LOOKUP_RANGE),
    "table_bloom_lookup": (q_table_bloom_lookup, O_TABLE_BLOOM_LOOKUP),
    "table_delete_where": (q_table_delete_where, O_TABLE_DELETE_WHERE),
    "table_dv_delete": (q_table_dv_delete, O_TABLE_DV_DELETE),
    "table_dv_update": (q_table_dv_update, O_TABLE_DV_UPDATE),
    "table_merge_upsert": (q_table_merge_upsert, O_TABLE_MERGE_UPSERT),
    "table_update_where": (q_table_update_where, O_TABLE_UPDATE_WHERE),
    "table_changes_feed": (q_table_changes_feed, O_TABLE_CHANGES_FEED),
    "table_incremental_agg": (q_table_incremental_agg, O_TABLE_INCREMENTAL_AGG),
    "table_recluster_range": (q_table_recluster_range, O_TABLE_RECLUSTER_RANGE),
    "table_partition_pruning": (
        q_table_partition_pruning, O_TABLE_PARTITION_PRUNING,
    ),
    "table_validate_constraints": (
        q_table_validate_constraints, O_TABLE_VALIDATE_CONSTRAINTS,
    ),
    "table_map_roundtrip": (q_table_map_roundtrip, O_TABLE_MAP_ROUNDTRIP),
    "table_struct_roundtrip": (q_table_struct_roundtrip, O_TABLE_STRUCT_ROUNDTRIP),
    "table_array_struct_roundtrip": (
        q_table_array_struct_roundtrip, O_TABLE_ARRAY_STRUCT_ROUNDTRIP),
    "table_compact_stable": (q_table_compact_stable, O_TABLE_COMPACT_STABLE),
    "table_log_checkpoint": (q_table_log_checkpoint, O_TABLE_LOG_CHECKPOINT),
    "table_merge_clauses": (q_table_merge_clauses, O_TABLE_MERGE_CLAUSES),
    "table_analyze_ndv": (q_table_analyze_ndv, O_TABLE_ANALYZE_NDV),
    "dedup_duplicate_spans": (q_dedup_duplicate_spans, O_DEDUP_DUPLICATE_SPANS),
    "text_repetition_filter": (q_text_repetition_filter, O_TEXT_REPETITION_FILTER),
    "hybrid_search_rrf": (q_hybrid_search_rrf, O_HYBRID_SEARCH_RRF),
    "table_restore": (q_table_restore, O_TABLE_RESTORE),
    "table_clone_snapshot": (q_table_clone_snapshot, O_TABLE_CLONE_SNAPSHOT),
    "table_integrity_audit": (q_table_integrity_audit, O_TABLE_INTEGRITY_AUDIT),
    "table_zorder_range": (q_table_zorder_range, O_TABLE_ZORDER_RANGE),
    "table_stats_pushdown": (q_table_stats_pushdown, O_TABLE_STATS_PUSHDOWN),
    "table_q1": (q_table_q1, O_Q1),
    "table_sql_agg": (q_table_sql_agg, O_TABLE_SQL_AGG),
    "table_sql_where": (q_table_sql_where, O_TABLE_SQL_WHERE),
    "table_datasource_sql": (q_table_datasource_sql, O_TABLE_DATASOURCE_SQL),
    "table_datasource_stream": (q_table_datasource_stream, O_TABLE_DATASOURCE_STREAM),
    "streaming_materialized_agg": (
        q_streaming_materialized_agg, O_STREAMING_MATERIALIZED,
    ),
    "table_embeddings_roundtrip": (q_table_embeddings_roundtrip, O_TABLE_EMBEDDINGS_ROUNDTRIP),
    "table_time_travel": (q_table_time_travel, O_TABLE_TIME_TRAVEL),
    "doc_lookup": (q_doc_lookup, O_DOC_LOOKUP),
    # relational coverage
    "q1_pricing_summary": (q_q1_pricing_summary, O_Q1),
    "q3_top_revenue": (q_q3_top_revenue, O_Q3),
    "join_region_rollup": (q_join_region_rollup, O_JOIN_REGION_ROLLUP),
    "window_running_total": (q_window_running_total, O_WINDOW_RUNNING_TOTAL),
    "topk_orders": (q_topk_orders, O_TOPK_ORDERS),
    "setop_part_types": (q_setop_part_types, O_SETOP_PART_TYPES),
    "semi_anti_customers": (q_semi_anti_customers, O_SEMI_ANTI_CUSTOMERS),
    "correlated_subquery": (q_correlated_subquery, O_CORRELATED_SUBQUERY),
    "bucketed_join": (q_bucketed_join, O_BUCKETED_JOIN),
    "csv_source_scan": (q_csv_source_scan, O_CSV_SOURCE_SCAN),
    "json_source_scan": (q_json_source_scan, O_JSON_SOURCE_SCAN),
    # Iceberg v2 front door (round 5): metadata-chain ingest, plan-time
    # partition pruning, positional merge-on-read delete
    "iceberg_scan_agg": (q_iceberg_scan_agg, O_ICEBERG_SCAN_AGG),
    "iceberg_partition_pruning": (
        q_iceberg_partition_pruning, O_ICEBERG_PARTITION_PRUNING,
    ),
    "iceberg_mor_delete": (q_iceberg_mor_delete, O_ICEBERG_MOR_DELETE),
    "iceberg_encode_roundtrip": (
        q_iceberg_encode_roundtrip, O_ICEBERG_ENCODE_ROUNDTRIP,
    ),
    "iceberg_snapshot_stream": (
        q_iceberg_snapshot_stream, O_ICEBERG_SNAPSHOT_STREAM,
    ),
    "graph_pagerank": (q_graph_pagerank, _o_pagerank()),
    "cube_order_flags": (q_cube_order_flags, O_CUBE_ORDER_FLAGS),
    "events_tumbling_1h": (q_events_tumbling_1h, O_EVENTS_TUMBLING),
    "events_sessionize": (q_events_sessionize, O_EVENTS_SESSIONIZE),
    "events_sliding_window": (q_events_sliding_window, O_EVENTS_SLIDING_WINDOW),
    "events_gap_fill": (q_events_gap_fill, O_EVENTS_GAP_FILL),
    "events_moving_avg": (q_events_moving_avg, O_EVENTS_MOVING_AVG),
    "pivot_event_counts": (q_pivot_event_counts, O_PIVOT_EVENT_COUNTS),
    "scalar_kitchen_sink": (q_scalar_kitchen_sink, O_SCALAR_KITCHEN_SINK),
    "median_order_value": (q_median_order_value, O_MEDIAN_ORDER_VALUE),
    "users_above_own_avg": (q_users_above_own_avg, O_USERS_ABOVE_OWN_AVG),
    # dedup
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, _o_dedup_minhash()),
    "dedup_clusters": (q_dedup_clusters, _o_dedup_clusters()),
    "dedup_simhash": (q_dedup_simhash, O_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, _o_dedup_jaccard_lsh()),
    "dedup_ngram_jaccard_exact": (
        q_dedup_ngram_jaccard_exact,
        O_DEDUP_NGRAM_JACCARD_EXACT,
    ),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, _o_dedup_embedding_cosine()),
    # similarity search
    "ann_bruteforce_topk": (q_ann_bruteforce_topk, O_ANN_BRUTEFORCE),
    "ann_lsh_topk": (q_ann_lsh_topk, _o_ann_lsh()),
    "ann_ivf_assign": (q_ann_ivf_assign, O_ANN_IVF),
    "ann_ivf_topk": (q_ann_ivf_topk, _o_ann_ivf_topk()),
    "ann_pq_encode": (q_pq_encode, O_PQ_ENCODE),
    "ann_pq_topk": (q_pq_topk, _o_pq_topk()),
    "ann_kmeans_train": (q_ann_kmeans_train, _o_kmeans()),
    # text analysis
    "text_quality": (q_text_quality, O_TEXT_QUALITY),
    "text_bm25_search": (q_text_bm25_search, O_TEXT_BM25),
    "grouped_topk": (q_grouped_topk, O_GROUPED_TOPK),
    "dedup_fuzzy_levenshtein": (
        q_dedup_fuzzy_levenshtein, O_DEDUP_FUZZY_LEVENSHTEIN,
    ),
    "events_funnel": (q_events_funnel, O_EVENTS_FUNNEL),
    "text_langid": (q_text_langid, _o_text_langid()),
    "text_token_counts": (q_text_token_counts, O_TEXT_TOKEN_COUNTS),
    "text_fingerprint": (q_text_fingerprint, O_TEXT_FINGERPRINT),
    # sampling / data-mix
    "sample_stratified": (q_sample_stratified, O_SAMPLE_STRATIFIED),
    "quota_sample": (q_quota_sample, O_QUOTA_SAMPLE),
    "shuffle_global_rank": (q_shuffle_global_rank, O_SHUFFLE_GLOBAL_RANK),
    "upsample_weighted": (q_upsample_weighted, O_UPSAMPLE_WEIGHTED),
    "sample_weighted_topk": (q_sample_weighted_topk, O_SAMPLE_WEIGHTED_TOPK),
    "pack_sequences": (q_pack_sequences, O_PACK_SEQUENCES),
    "interleave_mix": (q_interleave_mix, O_INTERLEAVE_MIX),
    "decontaminate": (q_decontaminate, O_DECONTAMINATE),
    "curate_corpus": (q_curate_corpus, _o_curate_corpus()),
    # approximate sketches
    "sketch_hll_distinct": (q_sketch_hll, O_SKETCH_HLL),
    "sketch_hll_merge": (q_sketch_hll_merge, O_SKETCH_HLL),
    "sketch_hll_intersect": (q_sketch_hll_intersect, _o_hll_intersect()),
    "ntile_quartiles": (q_ntile_quartiles, O_NTILE_QUARTILES),
    "sketch_histogram_quantile": (q_sketch_quantile, O_SKETCH_QUANTILE),
    "sketch_cms_frequency": (q_sketch_cms, O_SKETCH_CMS),
    "sketch_grouped_quantile": (q_sketch_grouped_quantile, O_SKETCH_GROUPED_QUANTILE),
    "sketch_bloom_membership": (q_sketch_bloom, _o_sketch_bloom()),
    "decontaminate_bloom": (q_decontaminate_bloom, O_DECONTAMINATE),
    # temporal operators
    "asof_join": (q_asof_join, O_ASOF_JOIN),
    "asof_join_forward": (q_asof_join_forward, O_ASOF_JOIN_FORWARD),
    "range_join": (q_range_join, O_RANGE_JOIN),
    "hypertable_rollup": (q_hypertable_rollup, O_HYPERTABLE_ROLLUP),
    # streaming (oracled: stream totals must equal the batch derivation)
    "streaming_encode": (q_streaming_encode, O_STREAMING_ENCODE),
    "table_stream_write": (q_table_stream_write, O_TABLE_STREAM_WRITE),
    "streaming_sessionize": (q_streaming_sessionize, O_STREAMING_SESSIONIZE),
    "streaming_dedup": (q_streaming_dedup, O_STREAMING_DEDUP),
    # skew handling
    "skew_salted_join": (q_skew_salted_join, O_SKEW_SALTED_JOIN),
    # nested flatten + JSON scalars
    "nested_flatten_words": (q_nested_flatten_words, O_NESTED_FLATTEN_WORDS),
    "avro_flatten": (q_avro_flatten, O_AVRO_FLATTEN),
    "avdl_flatten": (q_avdl_flatten, O_AVRO_FLATTEN),
    "avro_binary_flatten": (q_avro_binary_flatten, O_AVRO_BINARY_FLATTEN),
    "json_props_stats": (q_json_props_stats, O_JSON_PROPS_STATS),
    # multimodal plumbing
    "multimodal_features": (q_multimodal_features, O_MULTIMODAL_FEATURES),
    "multimodal_frame_sample": (
        q_multimodal_frame_sample, O_MULTIMODAL_FRAME_SAMPLE,
    ),
}

# ------------------------------------------------------- driver 50-slot window
#
# The driver's correctness harness emits CORRECTNESS rows for exactly the
# first 50 registry entries.  All 116 previously-registered queries are
# driver-green as of r04; the round-5 window leads with the two NEW queries
# (rotation debt 0 after the r05 run), then refreshes the STALEST coverage —
# every r02-green entry and the 17 oldest r03-green entries — plus the
# load-bearing regulars for continuous hard signal.  Everything else keeps
# its relative order after the window.  `scripts/coverage_ledger.py`
# verifies rotation debt is zero.
# Round 5 retired `manifest_codecs` for the oracled `manifest_codec_invariant`.
_DRIVER_WINDOW: list[str] = [
    # -- never driver-run (new round-5 queries) ---------------------------
    "manifest_codec_invariant",
    "table_array_struct_roundtrip",
    "table_log_checkpoint",
    "table_merge_clauses",
    "table_analyze_ndv",
    "dedup_duplicate_spans",
    "text_repetition_filter",
    "hybrid_search_rrf",
    "table_dv_delete",
    "table_dv_update",
    "iceberg_scan_agg",
    "iceberg_partition_pruning",
    "iceberg_mor_delete",
    "iceberg_encode_roundtrip",
    "iceberg_snapshot_stream",
    # -- stalest coverage: last green in r02 (19; text_fingerprint yielded
    # its slot to table_dv_delete — the text tier stays covered via
    # text_quality / text_langid / text_token_counts) ----------------------
    # (events_tumbling_1h yielded its slot to an iceberg query — windowed
    # event aggregation stays covered via events_sliding_window in recent
    # rounds and events_sessionize below)
    "events_sessionize",
    "scalar_kitchen_sink",
    # (median_order_value yielded its slot to iceberg_encode_roundtrip —
    # the relational-agg tier stays covered via scalar_kitchen_sink /
    # users_above_own_avg and the r03-green correlated_subquery)
    "users_above_own_avg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    # (dedup_simhash yielded its slot to an iceberg query — the dedup tier
    # stays covered via exact / minhash_lsh / clusters / ngram_jaccard)
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    # (ann_bruteforce_topk and ann_ivf_assign yielded their slots to
    # table_dv_update and an iceberg query — the ANN tier stays covered via
    # ann_lsh_topk / ann_ivf_topk, whose plan contains the assign stage)
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_langid",
    # (text_token_counts yielded its slot to iceberg_snapshot_stream — the
    # text tier stays covered via text_quality / text_langid here and the
    # r5-new text_repetition_filter above)
    "streaming_encode",
    "nested_flatten_words",
    "avro_flatten",
    "json_props_stats",
    "multimodal_features",
    # -- stalest r03 entries (14; tokens_explode, manifest_stats and
    # token_stats_by_source yielded their slots to new round-5 queries —
    # those paths stay covered via tokens_roundtrip / manifest_codec_invariant;
    # token_offsets, dict_cardinality, values_only_stats likewise) -----------
    "typed_roundtrip",
    "table_selective_stats",
    "table_manifest_stats",
    "table_lookup_range",
    "table_bloom_lookup",
    "table_delete_where",
    "table_update_where",
    "table_incremental_agg",
    "table_recluster_range",
    "table_partition_pruning",
    "table_validate_constraints",
    # -- load-bearing regulars (keep continuous hard signal) --------------
    "tokens_roundtrip",
    "table_encode_roundtrip",
    "table_merge_upsert",
    "table_changes_feed",
    "table_datasource_sql",
    "table_datasource_stream",
    "streaming_materialized_agg",
]

assert len(_DRIVER_WINDOW) <= 50, "driver correctness window is 50 slots"
assert len(set(_DRIVER_WINDOW)) == len(_DRIVER_WINDOW)
_missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
assert not _missing, f"window names not in registry: {_missing}"
# Round 5: every registry entry now carries an oracle (`manifest_codecs`
# was retired in favor of the oracled `manifest_codec_invariant`).
_DEMOTED: list[str] = []
QUERIES = (
    {name: QUERIES[name] for name in _DRIVER_WINDOW}
    | {
        name: spec
        for name, spec in QUERIES.items()
        if name not in _DRIVER_WINDOW and name not in _DEMOTED
    }
    | {name: QUERIES[name] for name in _DEMOTED}
)
