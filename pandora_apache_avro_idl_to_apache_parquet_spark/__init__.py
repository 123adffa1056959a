"""pandora_apache_avro_idl_to_apache_parquet_spark — a from-scratch PySpark-native
per-column lightweight-compression engine for Iceberg-style tables of pre-tokenized
training sequences.

Capabilities re-expressed Spark-first from the reference library
``PandoraJewelry/Pandora.Apache.Avro.IDL.To.Apache.Parquet`` (F#, surveyed in
SURVEY.md): schema-driven flatten-to-extension-tables (token arrays -> typed value
chunks + offsets), a chunk manifest that makes every encoded file independently
round-trippable (analog of the reference's six ``pj_*`` system columns,
``Parquet.fs:444-467``, and its Delta ``_delta_log`` commit rows,
``DeltaLake.fs:176-444``), plus the training-data-pipeline operators a 100 TB
corpus needs: dedup, similarity search, text analysis, multimodal plumbing.

Everything is DataFrame + Arrow-vectorized pandas UDFs; zero per-row Python in any
hot path.
"""

__version__ = "0.1.0"

# in a Spark Python worker (first engine UDF unpickled), stop PySpark's
# per-task importlib.invalidate_caches() from re-reading every zip directory
# on sys.path; a no-op on the driver and on CPython >= 3.13 (see _zipimport)
from . import _zipimport

_zipimport.install()
