"""The token input table's schema.

The input shape is fixed by ``BASELINE.json#input_hint``:
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``. A
token store keeps it as a table store (``operators/table.py``): the chunk
table is the engine's flatten-to-extension-tables output — the Spark
re-expression of the reference's per-FQDN child tables with ``pj_*``
lineage columns (``/root/reference/.../Pandora/Apache/Parquet.fs:444-467``):
each chunk row carries deterministic lineage (``chunk_id``/``part_id``/
``row_lo``..) instead of random GUID ``pj_uid``s, and one self-describing
encoded payload per logical column instead of exploded one-row-per-item
children (``Parquet.fs:880-946``). ``n_tok`` is not stored; decode derives
it from ``tokens``.
"""

from __future__ import annotations

from pyspark.sql import types as T

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)
