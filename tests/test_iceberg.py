"""Iceberg v2 front door (`sources/iceberg.py`) — reader/writer pair built on
this repo's own Avro OCF machinery, no Iceberg library.

Covered: snapshot round-trip, plan-time partition pruning from manifest
entries, append + time travel (by snapshot id and by timestamp), positional
merge-on-read deletes (subtraction, composition, older snapshots untouched,
zero data-file rewrites), the pre-tokenized-sequence schema (array<int>
tokens — the north-star input shape), metadata-layout shape checks, and the
error paths (not-a-table, unknown snapshot, missing current snapshot), and
the fully-pruned scan (an empty frame, not an error)."""

import json
import os
import posixpath

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_binary import (
    read_avro_container,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
    append_iceberg,
    current_metadata,
    delete_iceberg_rows,
    read_iceberg,
    scan_manifests,
    write_iceberg,
)


def _docs(spark, n=2000, shift=0):
    return spark.range(n).select(
        (F.col("id") + shift).alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
        ((F.col("id") + shift) * 1.5).alias("v"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_roundtrip_unpartitioned(spark, tmp_path):
    d = str(tmp_path / "t")
    df = _docs(spark)
    res = write_iceberg(df, d)
    assert res == {"snapshot_id": 1, "version": 1,
                   "files": res["files"], "rows": 2000}
    got = read_iceberg(spark, d)
    assert got.columns == df.columns
    assert _rows(got) == _rows(df)
    # column projection stays a plain parquet scan
    assert read_iceberg(spark, d, columns=["doc_id"]).columns == ["doc_id"]


def test_partition_pruning_from_manifest_entries(spark, tmp_path):
    d = str(tmp_path / "t")
    df = _docs(spark)
    write_iceberg(df, d, partition_by="source")
    plan_all = scan_manifests(d)
    plan = scan_manifests(d, partition_filter=lambda p: p["source"] == "src2")
    # pruning happened at PLAN time, against manifest partition values
    assert plan["pruned_files"] > 0
    assert len(plan["data_files"]) < len(plan_all["data_files"])
    assert all(f["partition"]["source"] == "src2" for f in plan["data_files"])
    got = read_iceberg(spark, d,
                       partition_filter=lambda p: p["source"] == "src2")
    assert _rows(got) == _rows(df.filter(F.col("source") == "src2"))
    # the partition column survives in the data files (string-twin layout)
    assert "source" in got.columns


def test_append_and_time_travel(spark, tmp_path):
    d = str(tmp_path / "t")
    write_iceberg(_docs(spark), d, partition_by="source")
    append_iceberg(_docs(spark, shift=2000), d, partition_by="source")
    assert read_iceberg(spark, d).count() == 4000
    assert read_iceberg(spark, d, snapshot_id=1).count() == 2000
    meta = current_metadata(d)
    log = meta["snapshot-log"]
    assert [e["snapshot-id"] for e in log] == [1, 2]
    # as-of the first snapshot's timestamp: the append is invisible
    assert read_iceberg(spark, d, as_of_ms=log[0]["timestamp-ms"]).count() == 2000
    with pytest.raises(ValueError, match="not in table"):
        read_iceberg(spark, d, snapshot_id=99)
    with pytest.raises(ValueError, match="at or before"):
        read_iceberg(spark, d, as_of_ms=1)


def test_positional_delete_merge_on_read(spark, tmp_path):
    d = str(tmp_path / "t")
    df = _docs(spark)
    write_iceberg(df, d, partition_by="source")
    files_before = {f["file_path"] for f in scan_manifests(d)["data_files"]}
    res = delete_iceberg_rows(spark, d, F.col("doc_id") % 10 == 3)
    assert res["rows_deleted"] == 200
    # merge-on-read: the data-file set is IDENTICAL, deletes live beside it
    plan = scan_manifests(d)
    assert {f["file_path"] for f in plan["data_files"]} == files_before
    assert len(plan["delete_files"]) == 1
    got = read_iceberg(spark, d)
    assert _rows(got) == _rows(df.filter(F.col("doc_id") % 10 != 3))
    # the pre-delete snapshot still reads every row
    assert read_iceberg(spark, d, snapshot_id=1).count() == 2000
    # deletes compose: a second delete subtracts from the remaining rows
    delete_iceberg_rows(spark, d, F.col("doc_id") % 10 == 4)
    assert read_iceberg(spark, d).count() == 1600


def test_tokens_schema_roundtrip(spark, tmp_path):
    """The north-star input: pre-tokenized sequences (doc_id, tokens:
    array<int>, n_tok, source) ride the Iceberg layout bit-identically."""
    d = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.transform(F.sequence(F.lit(0), (F.col("id") % 7 + 1).cast("int")),
                    lambda i: (i * 31 + F.col("id")).cast("int")).alias("tokens"),
        (F.col("id") % 7 + 2).cast("int").alias("n_tok"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    write_iceberg(df, d, partition_by="source")
    got = read_iceberg(spark, d)
    exp = [(r["doc_id"], tuple(r["tokens"])) for r in df.collect()]
    act = [(r["doc_id"], tuple(r["tokens"])) for r in got.collect()]
    assert sorted(act) == sorted(exp)
    # schema json records the list type
    sch = current_metadata(d)["schemas"][0]
    tok = [f for f in sch["fields"] if f["name"] == "tokens"][0]
    assert tok["type"]["type"] == "list" and tok["type"]["element"] == "int"


def test_metadata_layout_is_spec_shaped(spark, tmp_path):
    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=100), d, partition_by="source")
    io = FsIO.resolve(d)
    meta_dir = posixpath.join(d, "metadata")
    names = set(os.listdir(meta_dir))
    assert "version-hint.text" in names and "v1.metadata.json" in names
    meta = json.loads(io.read_text(posixpath.join(meta_dir, "v1.metadata.json")))
    assert meta["format-version"] == 2
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"
    assert meta["current-snapshot-id"] == 1
    # the manifest list and manifest are real Avro OCF files
    ml = meta["snapshots"][0]["manifest-list"]
    _, manifests = read_avro_container(io.read_bytes(ml))
    assert manifests[0]["added_files_count"] >= 1
    _, entries = read_avro_container(io.read_bytes(manifests[0]["manifest_path"]))
    e = entries[0]["data_file"]
    assert e["file_format"] == "PARQUET" and e["record_count"] > 0
    assert "source" in e["partition"]


def test_error_paths(spark, tmp_path):
    with pytest.raises(ValueError, match="not an Iceberg table"):
        read_iceberg(spark, str(tmp_path / "nope"))
    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=50), d, partition_by="source")
    # a fully pruned scan is an empty frame with the snapshot schema
    empty = read_iceberg(spark, d, partition_filter=lambda p: False)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "source", "v"]


def test_equality_delete_sequence_semantics(spark, tmp_path):
    """Equality deletes remove CURRENT rows by key value — and only rows in
    files with a strictly lower sequence number, so a same-key row appended
    AFTER the delete survives (the spec rule that makes streaming upserts
    correct). Composes with a positional delete."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        equality_delete_iceberg,
    )

    d = str(tmp_path / "t")
    df = _docs(spark, n=1000)
    write_iceberg(df, d, partition_by="source")
    keys = spark.range(100).select(F.col("id").alias("doc_id"))
    res = equality_delete_iceberg(keys, d)
    assert res["delete_keys"] == 100
    assert read_iceberg(spark, d).count() == 900
    # re-insert 40 of the deleted keys in a LATER snapshot: they survive
    append_iceberg(_docs(spark, n=40), d, partition_by="source")
    got = read_iceberg(spark, d)
    assert got.count() == 940
    assert got.filter(F.col("doc_id") < 100).count() == 40
    # the pre-delete snapshot still reads everything
    assert read_iceberg(spark, d, snapshot_id=1).count() == 1000
    # a positional delete stacks on top
    delete_iceberg_rows(spark, d, F.col("doc_id") >= 900)
    assert read_iceberg(spark, d).count() == 940 - 100
    # column projection that drops the equality column still subtracts
    assert read_iceberg(spark, d, columns=["source"]).count() == 840
    # unknown equality column rejects
    with pytest.raises(ValueError, match="not in table schema"):
        equality_delete_iceberg(
            spark.range(1).select(F.col("id").alias("nope")), d)


def test_read_iceberg_keeps_parquet_pushdown(spark, tmp_path):
    """The data scan behind read_iceberg is an ordinary parquet relation:
    filters land in PushedFilters and projections in ReadSchema — Iceberg
    metadata handling must not cost Catalyst anything."""
    d = str(tmp_path / "t")
    write_iceberg(_docs(spark), d, partition_by="source")
    plan = (read_iceberg(spark, d)
            .filter(F.col("doc_id") > 100).select("doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)" in plan
    assert "struct<doc_id:bigint>" in plan.replace(" ", "")


def test_scan_tokens_detects_iceberg_layout(spark, tmp_path):
    """The production job's --input accepts an Iceberg table dir verbatim:
    scan_tokens routes through the manifest walk and the encode flagship
    round-trips from it bit-identically."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import (
        decode_tokens, verify_roundtrip,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        encode_tokens,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import (
        scan_tokens, synthesize_tokens,
    )

    d = str(tmp_path / "ice")
    src = synthesize_tokens(spark, 2000, seed=5)
    write_iceberg(src, d, partition_by="source")
    scanned = scan_tokens(spark, d)
    assert scanned.columns == ["doc_id", "tokens", "n_tok", "source"]
    out = str(tmp_path / "enc")
    encode_tokens(scanned, out, n_parts=4)
    assert verify_roundtrip(src, decode_tokens(spark, out)).count() == 0


def test_snapshot_tail_streaming_source(spark, tmp_path):
    """`pandora_iceberg` readStream tails the snapshot sequence exactly
    once: the first drain emits snapshot 1, an equality-delete snapshot
    advances the offset with zero rows (append-only stream), and a later
    append arrives exactly once."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        equality_delete_iceberg, stream_iceberg,
    )

    d, ckpt, sink = (str(tmp_path / x) for x in ("t", "ckpt", "sink"))
    write_iceberg(_docs(spark, n=500), d, partition_by="source")

    def drain():
        q = (stream_iceberg(spark, d)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(sink)

    assert drain().count() == 500
    equality_delete_iceberg(
        spark.range(50).select(F.col("id").alias("doc_id")), d)
    assert drain().count() == 500  # delete snapshot: no new rows, no error
    append_iceberg(_docs(spark, n=200, shift=500), d, partition_by="source")
    out = drain()
    assert out.count() == 700  # the append arrived exactly once
    assert out.filter(F.col("doc_id") >= 500).count() == 200


def test_compaction_replace_snapshot(spark, tmp_path):
    """compact_iceberg rewrites the live rows (deletes materialized) into
    one replace snapshot: fewer data files, zero delete files, identical
    rows; pre-compaction snapshots still time-travel; and the streaming
    source skips the replace snapshot (rows merely moved — re-emitting
    would break exactly-once) while a later append still arrives."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        compact_iceberg, equality_delete_iceberg, stream_iceberg,
    )

    d, ckpt, sink = (str(tmp_path / x) for x in ("t", "ckpt", "sink"))
    df = _docs(spark, n=1000)
    write_iceberg(df.repartition(6), d, partition_by="source")
    append_iceberg(_docs(spark, n=200, shift=1000).repartition(3), d,
                   partition_by="source")
    equality_delete_iceberg(
        spark.range(100).select(F.col("id").alias("doc_id")), d)

    def drain():
        q = (stream_iceberg(spark, d)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(sink)

    assert drain().count() == 1200  # both appends (stream is append-only)

    pre = _rows(read_iceberg(spark, d))
    res = compact_iceberg(spark, d)
    assert res["delete_files_retired"] == 1
    plan = scan_manifests(d)
    assert len(plan["data_files"]) < res["files_before"]
    assert plan["delete_files"] == []
    assert _rows(read_iceberg(spark, d)) == pre  # rows identical
    # pre-compaction snapshots still read their own state
    assert read_iceberg(spark, d, snapshot_id=1).count() == 1000
    assert read_iceberg(spark, d, snapshot_id=2).count() == 1200
    # the stream skips the replace snapshot entirely...
    assert drain().count() == 1200
    # ...and a post-compaction append arrives exactly once
    append_iceberg(_docs(spark, n=50, shift=5000), d, partition_by="source")
    assert drain().count() == 1250


def test_schema_evolution_add_column(spark, tmp_path):
    """Append-only schema evolution: an append may ADD nullable columns —
    a new schema entry with fresh field ids, old files serve the column as
    null, time travel reads each snapshot under ITS schema; drops and type
    changes reject."""
    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=300), d, partition_by="source")
    widened = _docs(spark, n=100, shift=300).withColumn(
        "score", (F.col("doc_id") * 0.5))
    append_iceberg(widened, d, partition_by="source")
    meta = current_metadata(d)
    assert meta["current-schema-id"] == 1
    assert [f["name"] for f in meta["schemas"][1]["fields"]][-1] == "score"
    got = read_iceberg(spark, d)
    assert got.columns == ["doc_id", "source", "v", "score"]
    assert got.count() == 400
    # old files serve the added column as null; new files carry values
    assert got.filter(F.col("score").isNull()).count() == 300
    assert got.filter(F.col("score") == 150.0).count() == 1
    # time travel reads snapshot 1 under its OWN (narrow) schema
    assert read_iceberg(spark, d, snapshot_id=1).columns == [
        "doc_id", "source", "v"]
    # deletes still probe correctly across mixed-schema files
    delete_iceberg_rows(spark, d, F.col("doc_id") % 2 == 0)
    assert read_iceberg(spark, d).count() == 200
    # compaction materializes the evolution (all files full-schema)
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        compact_iceberg,
    )
    compact_iceberg(spark, d)
    assert read_iceberg(spark, d).filter(
        F.col("score").isNull()).count() == 150
    # guard rails
    with pytest.raises(ValueError, match="may not drop"):
        append_iceberg(_docs(spark, n=10).select("doc_id", "source"), d,
                       partition_by="source")
    with pytest.raises(ValueError, match="cannot change column"):
        append_iceberg(
            _docs(spark, n=10).withColumn("v", F.lit("s")), d,
            partition_by="source")


def test_concurrent_commit_fails_loudly(spark, tmp_path):
    """The metadata version is an optimistic lock: a writer racing against
    a committed version must fail loudly, never clobber (both writers
    derived their manifest-list from the same parent — silent overwrite
    would drop a snapshot)."""
    import os as _os

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=100), d, partition_by="source")
    # simulate the race: the next version number is already taken
    meta_dir = _os.path.join(d, "metadata")
    with open(_os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="concurrent Iceberg commit"):
        append_iceberg(_docs(spark, n=10, shift=100), d, partition_by="source")
    # the loser's state is untouched: hint still points at v1, reads work
    assert read_iceberg(spark, d).count() == 100


def test_hidden_partition_transforms(spark, tmp_path):
    """Hidden partitioning: the table partitions by a TRANSFORM of a source
    column — days(ts), bucket(N, id), truncate(W, s) — the data files keep
    only the source column, and derive_partition_filter maps a source-column
    constraint to the partition predicate so callers never name the
    partition field."""
    from datetime import date, datetime

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        derive_partition_filter,
    )

    # days(ts): a timestamp column partitions by its date
    d1 = str(tmp_path / "days")
    ev = spark.range(600).select(
        F.col("id").alias("event_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(hours=F.col("id"))).alias("ts"),
        (F.col("id") * 2.0).alias("v"),
    )
    write_iceberg(ev, d1, partition_by="days(ts)")
    meta = current_metadata(d1)
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "day"
    plan = scan_manifests(d1, partition_filter=derive_partition_filter(
        d1, lo=datetime(2024, 1, 3, 0, 0), hi=datetime(2024, 1, 4, 23, 59)))
    assert plan["pruned_files"] > 0
    assert all(f["partition"]["ts_day"] in (date(2024, 1, 3), date(2024, 1, 4))
               for f in plan["data_files"])
    got = read_iceberg(spark, d1, partition_filter=derive_partition_filter(
        d1, lo=datetime(2024, 1, 3), hi=datetime(2024, 1, 4, 23, 59, 59)))
    exp = ev.filter(F.to_date("ts").between("2024-01-03", "2024-01-04"))
    assert got.count() == exp.count() == 48
    assert "ts" in got.columns  # source column physical, partition hidden

    # bucket(8, doc_id): equality pruning through the hash
    d2 = str(tmp_path / "bucket")
    docs = _docs(spark, n=400)
    write_iceberg(docs, d2, partition_by="bucket(8, doc_id)")
    plan = scan_manifests(d2, partition_filter=derive_partition_filter(
        d2, eq=123))
    assert plan["pruned_files"] > 0
    got = read_iceberg(spark, d2, partition_filter=derive_partition_filter(
        d2, eq=123)).filter(F.col("doc_id") == 123)
    assert got.count() == 1  # the matching file group contains the row
    with pytest.raises(ValueError, match="equality only"):
        derive_partition_filter(d2, lo=1, hi=5)

    # truncate(1, source): string prefix partitioning; deletes + compaction
    # reconstruct the transform from the spec
    d3 = str(tmp_path / "trunc")
    write_iceberg(docs.withColumn("source", F.concat(F.lit("ab"), F.col("source"))),
                  d3, partition_by="truncate(1, source)")
    meta3 = current_metadata(d3)
    assert meta3["partition-specs"][0]["fields"][0]["transform"] == "truncate[1]"
    delete_iceberg_rows(spark, d3, F.col("doc_id") < 50)
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        compact_iceberg,
    )
    compact_iceberg(spark, d3)
    assert read_iceberg(spark, d3).count() == 350
    assert all(f["partition"]["source_trunc"] == "a"
               for f in scan_manifests(d3)["data_files"])


def test_column_bounds_file_pruning(spark, tmp_path):
    """The spec's lower/upper-bounds tier: the writer folds per-file
    column min/max from the parquet footers into the manifest entries, and
    a stats_filter range prunes disjoint files at plan time — the zone-map
    idea at the lakehouse-metadata level."""
    d = str(tmp_path / "t")
    # repartitionByRange clusters doc_id so per-file ranges are tight
    df = _docs(spark, n=4000).repartitionByRange(8, "doc_id")
    write_iceberg(df, d)
    plan_all = scan_manifests(d)
    f = plan_all["data_files"][0]
    assert "doc_id" in (f["lower_bounds"] or {})
    plan = scan_manifests(d, stats_filter={"doc_id": (100, 400)})
    assert plan["pruned_files"] > 0
    assert len(plan["data_files"]) < len(plan_all["data_files"])
    got = read_iceberg(spark, d, stats_filter={"doc_id": (100, 400)}) \
        .filter(F.col("doc_id").between(100, 400))
    assert _rows(got) == _rows(df.filter(F.col("doc_id").between(100, 400)))
    # open-ended ranges and string bounds
    plan_hi = scan_manifests(d, stats_filter={"doc_id": (3500, None)})
    assert plan_hi["pruned_files"] > 0
    assert read_iceberg(
        spark, d, stats_filter={"source": ("src1", "src1")}).count() == 4000
    # src1 rows exist in every range file -> nothing pruned, nothing lost


def test_expire_snapshots_and_orphan_removal(spark, tmp_path):
    """Lifecycle tier: expire_snapshots drops old snapshots (their
    manifest-lists/manifests/unreferenced files delete; expired time travel
    fails loudly, current reads untouched); remove_orphan_files reclaims
    crashed-commit leftovers without touching live data."""
    import os as _os

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        compact_iceberg, expire_snapshots, remove_orphan_files,
    )

    d = str(tmp_path / "t")
    df = _docs(spark, n=600)
    write_iceberg(df.repartition(4), d, partition_by="source")
    append_iceberg(_docs(spark, n=100, shift=600), d, partition_by="source")
    compact_iceberg(spark, d)  # snapshot 3 references only fresh files
    pre = _rows(read_iceberg(spark, d))

    res = expire_snapshots(d, keep_last=1)
    assert res["snapshots_expired"] == 2
    assert res["files_deleted"] > 0
    assert _rows(read_iceberg(spark, d)) == pre  # current state untouched
    with pytest.raises(ValueError, match="not in table"):
        read_iceberg(spark, d, snapshot_id=1)

    # a crashed commit's leftover (no snapshot references it) is an orphan
    orphan = _os.path.join(d, "data", "s99")
    _docs(spark, n=10).coalesce(1).write.parquet(orphan)
    assert remove_orphan_files(d) == []  # age-gated: fresh files safe
    removed = remove_orphan_files(d, min_age_sec=0)
    assert removed and all("s99" in p for p in removed)
    assert _rows(read_iceberg(spark, d)) == pre
    assert remove_orphan_files(d, min_age_sec=0) == []  # idempotent; live never touched


def test_reader_tolerates_foreign_manifest_fields(spark, tmp_path):
    """Forward compatibility with manifests written by other engines: OCF is
    self-describing, so entries carrying EXTRA spec fields (field-id-keyed
    byte bounds, file_ordinal, nan_value_counts...) decode fine and the
    planner keys off only the fields it knows. This pins the module
    docstring's tolerance claim with a hand-crafted foreign manifest."""
    import json as _json
    import os as _os

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_binary import (
        write_avro_container,
    )

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=200), d, partition_by="source")
    meta_dir = _os.path.join(d, "metadata")
    meta = current_metadata(d)
    plan = scan_manifests(d)
    keep = plan["data_files"][0]

    # a "foreign" manifest: extra fields our writer never emits
    foreign_entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102",
                        "fields": [{"name": "source",
                                    "type": ["null", "string"],
                                    "default": None}]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "column_sizes", "type": ["null", {
                        "type": "map", "values": "long"}], "default": None},
                    {"name": "value_counts", "type": ["null", {
                        "type": "map", "values": "long"}], "default": None},
                    {"name": "lower_bounds_by_id", "type": ["null", {
                        "type": "map", "values": "bytes"}], "default": None},
                    {"name": "split_offsets", "type": ["null", {
                        "type": "array", "items": "long"}], "default": None},
                ]}},
        ],
    }
    entry = {
        "status": 1, "snapshot_id": 99, "sequence_number": 9,
        "file_sequence_number": 9,
        "data_file": {
            "content": 0, "file_path": keep["file_path"],
            "file_format": "PARQUET",
            "partition": {"source": keep["partition"]["source"]},
            "record_count": keep["record_count"],
            "file_size_in_bytes": keep["file_size_in_bytes"],
            "column_sizes": {"1": 10}, "value_counts": {"1": 5},
            "lower_bounds_by_id": {"1": b"\x01\x02"},
            "split_offsets": [4, 100],
        },
    }
    man_path = _os.path.join(meta_dir, "m-foreign.avro")
    write_avro_container(man_path, foreign_entry_schema, [entry])

    # splice the foreign manifest into a copy of the current manifest-list
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_binary import (
        read_avro_container,
    )
    ml = meta["snapshots"][-1]["manifest-list"]
    mf_schema, manifests = read_avro_container(open(ml, "rb").read())
    foreign_m = dict(manifests[0], manifest_path=man_path,
                     sequence_number=9, min_sequence_number=9)
    ml2 = _os.path.join(meta_dir, "snap-foreign.avro")
    write_avro_container(ml2, mf_schema, manifests + [foreign_m])
    meta2 = dict(meta)
    meta2["snapshots"] = list(meta["snapshots"]) + [{
        "snapshot-id": 99, "sequence-number": 9, "timestamp-ms": 1700000009000,
        "manifest-list": ml2, "summary": {"operation": "append"},
        "schema-id": meta["current-schema-id"],
    }]
    meta2["current-snapshot-id"] = 99
    meta2["last-sequence-number"] = 9
    with open(_os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        fh.write(_json.dumps(meta2))
    with open(_os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("2")

    plan2 = scan_manifests(d)
    # the foreign entry planned: one extra (duplicate) reference to the file
    assert len(plan2["data_files"]) == len(plan["data_files"]) + 1
    foreign = [f for f in plan2["data_files"] if f["_seq"] == 9][0]
    assert foreign["file_path"] == keep["file_path"]
    assert foreign["lower_bounds_by_id"] == {"1": b"\x01\x02"}


def test_export_store_to_iceberg_and_isin_pruning(spark, tmp_path):
    """Bridge test: an encoded pandora_table store (with a DV delete
    applied) exports as an Iceberg table carrying its CURRENT logical
    state; derive_partition_filter(isin=...) prunes multi-value sets
    through any transform."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        dv_delete_where, encode_table,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        derive_partition_filter, export_table_to_iceberg,
    )

    store = str(tmp_path / "store")
    ice = str(tmp_path / "ice")
    df = _docs(spark, n=800)
    encode_table(df, store, key_cols=["doc_id"], n_parts=2, chunk_rows=256)
    dv_delete_where(spark, store, F.col("doc_id") % 10 == 0,
                    condition_cols=["doc_id"])
    res = export_table_to_iceberg(spark, store, ice, partition_by="source")
    assert res["rows"] == 720  # DV delete materialized in the export
    got = read_iceberg(spark, ice)
    assert _rows(got.select(*df.columns)) == _rows(
        df.filter(F.col("doc_id") % 10 != 0))
    # isin pruning across two partition values
    plan = scan_manifests(ice, partition_filter=derive_partition_filter(
        ice, isin=["src1", "src3"]))
    assert plan["pruned_files"] > 0
    n = read_iceberg(spark, ice, partition_filter=derive_partition_filter(
        ice, isin=["src1", "src3"])).count()
    assert n == df.filter(F.col("source").isin("src1", "src3")
                          & (F.col("doc_id") % 10 != 0)).count()


def test_review_regressions_round5(spark, tmp_path):
    """Regression batch from the round-5 self-review: (a) two equality
    deletes keyed on DIFFERENT columns each subtract (a combined
    mixed-schema read used to null one side's keys); (b) hive-escaped
    partition values unescape into the manifest, so pruning on the true
    value works; (c) schema evolution on a table WITH an array column does
    not spuriously reject (element-id renumbering is not a type change);
    (d) the snapshot-tail stream pads pre-evolution files' batches to the
    declared schema instead of crashing."""
    from datetime import date  # noqa: F401

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        equality_delete_iceberg, stream_iceberg,
    )

    # (a) different-column equality deletes
    d = str(tmp_path / "eq2")
    write_iceberg(_docs(spark, n=300), d)
    equality_delete_iceberg(
        spark.range(30).select(F.col("id").alias("doc_id")), d)
    equality_delete_iceberg(
        spark.createDataFrame([("src1",)], "source string"), d)
    got = read_iceberg(spark, d)
    assert got.filter(F.col("doc_id") < 30).count() == 0
    assert got.filter(F.col("source") == "src1").count() == 0
    assert got.count() == 300 - 30 - int(
        _docs(spark, n=300).filter(
            (F.col("source") == "src1") & (F.col("doc_id") >= 30)).count())

    # (b) hive-escaped partition value
    d2 = str(tmp_path / "esc")
    df2 = spark.range(40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("a:b#"), (F.col("id") % 2).cast("string")).alias("g"),
    )
    write_iceberg(df2, d2, partition_by="g")
    vals = {f["partition"]["g"] for f in scan_manifests(d2)["data_files"]}
    assert vals == {"a:b#0", "a:b#1"}
    assert read_iceberg(
        spark, d2, partition_filter=lambda p: p["g"] == "a:b#1").count() == 20

    # (c) evolution with an array column (the north-star tokens shape)
    d3 = str(tmp_path / "evo")
    toks = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("tokens"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    write_iceberg(toks, d3, partition_by="source")
    append_iceberg(toks.withColumn("extra", F.lit(7).cast("long")), d3,
                   partition_by="source")  # used to raise "cannot change"
    assert read_iceberg(spark, d3).count() == 100

    # (d) streaming across the evolution boundary pads old files with null
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sk")
    q = (stream_iceberg(spark, d3)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(sink)
    assert out.count() == 100
    assert out.filter(F.col("extra").isNull()).count() == 50


def test_cc_self_loop_nodes_survive(spark):
    """A node whose only pair is a self-pair keeps its (d, d) row — the
    phase-0 contraction must not drop it (pre-round-5 behavior pinned)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("z", "z")], "doc_a string, doc_b string")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_truncate_transform_exact_past_2_53(spark, tmp_path):
    """truncate(W) on int64 stays in integer arithmetic: values past 2^53
    (where double floor() rounds wrong) land in the same partition the
    driver twin computes, so eq-pruning still finds them."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        derive_partition_filter,
    )

    d = str(tmp_path / "t")
    base = 2 ** 53
    df = spark.createDataFrame(
        [(base + 1001,), (base + 2002,), (17,)], "k long")
    write_iceberg(df, d, partition_by="truncate(1000, k)")
    got = read_iceberg(spark, d, partition_filter=derive_partition_filter(
        d, eq=base + 1001)).filter(F.col("k") == base + 1001)
    assert got.count() == 1


def test_refs_tags_and_branches(spark, tmp_path):
    """Iceberg refs: a tag pins its snapshot (reads follow it by name;
    expire_snapshots retains the pinned snapshot and its files), a branch
    is a movable pointer; dropping the ref releases the pin."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        drop_ref, expire_snapshots, set_ref,
    )

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=200), d, partition_by="source")
    set_ref(d, "v1-release")  # tag the current (first) snapshot
    append_iceberg(_docs(spark, n=100, shift=200), d, partition_by="source")
    append_iceberg(_docs(spark, n=50, shift=300), d, partition_by="source")
    set_ref(d, "dev", kind="branch")
    assert read_iceberg(spark, d, ref="v1-release").count() == 200
    assert read_iceberg(spark, d, ref="dev").count() == 350
    with pytest.raises(ValueError, match="not in table metadata"):
        read_iceberg(spark, d, ref="nope")

    # expiry keeps the tagged snapshot alive alongside the newest one
    res = expire_snapshots(d, keep_last=1)
    assert res["snapshots_expired"] == 1  # only the untagged middle snapshot
    assert read_iceberg(spark, d, ref="v1-release").count() == 200
    assert read_iceberg(spark, d).count() == 350
    with pytest.raises(ValueError, match="not in table"):
        read_iceberg(spark, d, snapshot_id=2)

    # dropping the tag releases the pin; the next expiry reclaims it
    drop_ref(d, "v1-release")
    # dev still points at snapshot 3 (kept as latest anyway)
    res2 = expire_snapshots(d, keep_last=1)
    assert res2["snapshots_expired"] == 1
    with pytest.raises(ValueError, match="not in table"):
        read_iceberg(spark, d, ref="v1-release")


def test_metadata_walk_through_object_store_io(spark, tmp_path):
    """The metadata walk (scan planning, snapshot selection, pruning) runs
    through an injected object-store-semantics FsIO — no rename, no local
    os.* assumptions — proving the driver-side half is object-store-ready
    (the data scan itself is Spark's own parquet reader, which already is)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import (
        object_store_like_io,
    )

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=300), d, partition_by="source")
    io = object_store_like_io(d)
    plan = scan_manifests(d, io=io)
    assert sum(f["record_count"] for f in plan["data_files"]) == 300
    plan2 = scan_manifests(
        d, io=io, partition_filter=lambda p: p["source"] == "src1")
    assert plan2["pruned_files"] > 0
    got = read_iceberg(spark, d, io=io,
                       partition_filter=lambda p: p["source"] == "src1")
    assert got.count() == 75


def test_fully_pruned_partition_filter_reads_empty(spark, tmp_path):
    """A partition filter that matches no file plans zero data files: the
    read is an empty frame with the snapshot schema, and projections still
    resolve."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        derive_partition_filter,
    )

    d = str(tmp_path / "t")
    df = _docs(spark, n=200)
    write_iceberg(df, d, partition_by="source")
    pf = derive_partition_filter(d, eq="no-such-source")
    plan = scan_manifests(d, partition_filter=pf)
    assert plan["data_files"] == [] and plan["pruned_files"] > 0
    got = read_iceberg(spark, d, partition_filter=pf)
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in df.schema.fields]
    assert read_iceberg(spark, d, partition_filter=pf,
                        columns=["doc_id"]).columns == ["doc_id"]


@pytest.mark.parametrize("drop", ["missing", "null"])
def test_missing_current_snapshot_id_raises(spark, tmp_path, drop):
    """Metadata without a current snapshot (key absent or null) is refused
    with a clear error instead of recursing without end."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        _write_next_metadata,
    )

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=50), d)
    meta = dict(current_metadata(d))
    if drop == "missing":
        del meta["current-snapshot-id"]
    else:
        meta["current-snapshot-id"] = None
    _write_next_metadata(FsIO.resolve(d), meta, "test")
    with pytest.raises(ValueError, match="current-snapshot-id"):
        scan_manifests(d)
    with pytest.raises(ValueError, match="current-snapshot-id"):
        read_iceberg(spark, d)
    # an explicit snapshot still reads
    assert read_iceberg(spark, d, snapshot_id=1).count() == 50


def test_explicit_zero_sequence_number_meets_equality_delete(spark, tmp_path):
    """An entry's explicit ``sequence_number`` of 0 is its data sequence
    number; only a null one inherits, and only on an ADDED entry. A file
    recorded at 0 in a manifest committed after an equality delete is
    still older than the delete, so the delete subtracts its keys; the same
    file with a null number inherits the later manifest number and keeps
    them."""
    import shutil

    import pyarrow.parquet as pq

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.avro_binary import (
        write_avro_container,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        _data_seq,
        _write_next_metadata,
        equality_delete_iceberg,
    )

    d = str(tmp_path / "t")
    write_iceberg(_docs(spark, n=100), d)  # sequence number 1
    equality_delete_iceberg(
        spark.range(10).select(F.col("id").alias("doc_id")), d)  # 2
    assert read_iceberg(spark, d).count() == 90

    meta = current_metadata(d)
    cur = [s for s in meta["snapshots"]
           if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    ml_schema, manifests = read_avro_container(
        open(cur["manifest-list"], "rb").read())
    data_m = [m for m in manifests if m.get("content", 0) == 0][0]
    m_schema, entries = read_avro_container(
        open(data_m["manifest_path"], "rb").read())
    # a data file holding some of the deleted keys
    src = next(e["data_file"] for e in entries
               if min(pq.read_table(e["data_file"]["file_path"],
                                    columns=["doc_id"])["doc_id"].to_pylist()) < 10)
    keys = pq.read_table(src["file_path"], columns=["doc_id"])["doc_id"].to_pylist()
    n_low = sum(k < 10 for k in keys)

    new_entries = []
    for name, seq in (("zero", 0), ("inherit", None)):
        path = os.path.join(d, "data", f"copy-{name}.parquet")
        shutil.copyfile(src["file_path"], path)
        new_entries.append({"status": 1, "snapshot_id": 1003,
                            "sequence_number": seq,
                            "data_file": dict(src, file_path=path)})
    m_path = os.path.join(d, "metadata", "m-test-3.avro")
    write_avro_container(m_path, m_schema, new_entries)
    # snapshot 1003 at sequence number 3: the old manifests plus this one
    ml_path = os.path.join(d, "metadata", "snap-test-3.avro")
    write_avro_container(ml_path, ml_schema, manifests + [dict(
        data_m, manifest_path=m_path, sequence_number=3, min_sequence_number=0)])
    meta = dict(meta, **{"current-snapshot-id": 1003, "last-sequence-number": 3})
    meta["snapshots"] = list(meta["snapshots"]) + [dict(
        cur, **{"snapshot-id": 1003, "sequence-number": 3,
                "timestamp-ms": cur["timestamp-ms"] + 1,
                "manifest-list": ml_path, "summary": {"operation": "append"}})]
    _write_next_metadata(FsIO.resolve(d), meta, "test")

    seqs = {posixpath.basename(f["file_path"]): f["_seq"]
            for f in scan_manifests(d)["data_files"]}
    assert seqs["copy-zero.parquet"] == 0
    assert seqs["copy-inherit.parquet"] == 3
    got = read_iceberg(spark, d)
    assert got.count() == 90 + (len(keys) - n_low) + len(keys)
    assert got.filter(F.col("doc_id") < 10).count() == n_low

    # inheritance is for ADDED entries only; a v1 manifest list has no
    # numbers, so everything there is 0
    existing = {"status": 0, "sequence_number": None,
                "data_file": {"file_path": "f.parquet"}}
    with pytest.raises(ValueError, match="only ADDED entries inherit"):
        _data_seq(existing, {"sequence_number": 3})
    assert _data_seq(existing, {}) == 0
    assert _data_seq(dict(existing, status=1), {"sequence_number": 3}) == 3


def _column_ids(sch):
    """Every field and list-element id a schema entry allocates."""
    ids = []
    for f in sch["fields"]:
        ids.append(f["id"])
        if isinstance(f["type"], dict):
            ids.append(f["type"]["element-id"])
    return ids


@pytest.mark.parametrize("table", ["new", "understated"])
def test_evolved_column_ids_collide_with_no_element_id(spark, tmp_path, table):
    """New-table metadata records the largest id its schema allocates, list
    element ids included, and columns added by evolution (a list column
    with its element too) take ids no existing field or element holds —
    also on a table whose ``last-column-id`` counted only top-level fields,
    as earlier writers recorded it."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        _schema_by_id,
        _write_next_metadata,
    )

    d = str(tmp_path / "t")
    toks = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("tokens"),
        F.lit("s").alias("source"),
    )
    write_iceberg(toks, d)
    meta = current_metadata(d)
    old_ids = _column_ids(_schema_by_id(meta))
    assert sorted(old_ids) == [1, 2, 3, 4]
    assert meta["last-column-id"] == 4
    if table == "understated":
        _write_next_metadata(FsIO.resolve(d), dict(meta, **{"last-column-id": 3}),
                             "test")

    append_iceberg(toks.withColumn("extra", F.lit(7).cast("long"))
                   .withColumn("more", F.array(F.lit(3))), d)
    meta = current_metadata(d)
    sch = _schema_by_id(meta)
    ids = _column_ids(sch)
    assert len(ids) == len(set(ids)) == 7
    assert {f["name"]: f["id"] for f in sch["fields"]}["doc_id"] == 1
    assert set(old_ids) < set(ids)
    assert meta["last-column-id"] == max(ids) == 7
    got = read_iceberg(spark, d)
    assert got.count() == 40
    assert got.filter(F.col("more").isNull()).count() == 20


def _nested_schemas():
    """Nested list shapes up to depth 3, with nullable and non-nullable
    elements at every level and nullable and required fields."""
    from pyspark.sql import types as T

    out = []
    for depth in (1, 2, 3):
        for nulls in ((True,) * depth, (False,) * depth,
                      tuple(i % 2 == 0 for i in range(depth))):
            t = T.IntegerType()
            for n in reversed(nulls):
                t = T.ArrayType(t, n)
            out.append(t)
    return [T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("a", dt, True),
        T.StructField("b", T.ArrayType(T.ArrayType(T.StringType(), False), True), False),
    ]) for dt in out]


@pytest.mark.parametrize("schema", _nested_schemas(), ids=lambda s: s["a"].dataType.simpleString())
def test_nested_list_schema_round_trip(schema):
    """Every list at every depth takes its own element id and records its
    element nullability, so the schema reads back exactly, and
    ``last-column-id`` is the largest id allocated."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        _iceberg_schema_json,
        _max_column_id,
        _struct_from_iceberg,
    )

    sch = _iceberg_schema_json(schema)
    assert _struct_from_iceberg(sch) == schema
    ids = []
    for f in sch["fields"]:
        ids.append(f["id"])
        t = f["type"]
        while isinstance(t, dict):
            ids.append(t["element-id"])
            t = t["element"]
    assert len(ids) == len(set(ids))
    assert _max_column_id(sch) == max(ids)


def test_nested_list_table_round_trip(spark, tmp_path):
    from pyspark.sql import types as T

    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        _max_column_id,
        _schema_by_id,
        _struct_from_iceberg,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("nest", T.ArrayType(T.ArrayType(T.IntegerType(), True), False), True),
        T.StructField("vals", T.ArrayType(T.LongType(), True), True),
    ])
    rows = [(1, [[1, None], []], [5, None]), (2, None, None), (3, [[7]], [])]
    d = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame(rows, schema), d)
    meta = current_metadata(d)
    assert meta["last-column-id"] == _max_column_id(_schema_by_id(meta)) == 6
    assert _struct_from_iceberg(_schema_by_id(meta)) == schema
    got = read_iceberg(spark, d)  # a Spark file scan reads every level nullable
    assert _rows(got) == sorted(rows)
    # evolution appends a nested list with fresh ids at every depth
    more = T.StructType(schema.fields + [
        T.StructField("deep", T.ArrayType(T.ArrayType(T.ArrayType(T.StringType()))), True)])
    append_iceberg(spark.createDataFrame([(4, None, [1], [[["x", None]]])], more), d)
    meta = current_metadata(d)
    sch = _schema_by_id(meta)
    assert meta["last-column-id"] == _max_column_id(sch) == 10
    assert _struct_from_iceberg(sch).fields[-1].dataType == more.fields[-1].dataType
    assert read_iceberg(spark, d).filter("doc_id = 4").first()["deep"] == [[["x", None]]]


def test_bucket_prunes_only_tables_this_engine_wrote(spark, tmp_path):
    """A ``bucket`` table without this engine's property was bucketed by
    another engine's hash: equality reads keep every file and return every
    matching row."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.iceberg import (
        ENGINE_NAME,
        ENGINE_PROPERTY,
        _write_next_metadata,
        derive_partition_filter,
    )

    d = str(tmp_path / "bucket")
    docs = _docs(spark, n=400)
    write_iceberg(docs, d, partition_by="bucket(8, doc_id)")
    meta = current_metadata(d)
    assert meta["properties"][ENGINE_PROPERTY] == ENGINE_NAME
    assert scan_manifests(d, partition_filter=derive_partition_filter(
        d, eq=123))["pruned_files"] > 0

    foreign = {k: v for k, v in meta.items() if k != "properties"}
    _write_next_metadata(FsIO.resolve(d), foreign, "test")
    plan = scan_manifests(d, partition_filter=derive_partition_filter(d, eq=123))
    assert plan["pruned_files"] == 0
    for pf in (derive_partition_filter(d, eq=123),
               derive_partition_filter(d, isin=[5, 123, 399])):
        got = read_iceberg(spark, d, partition_filter=pf).filter(
            F.col("doc_id").isin(5, 123, 399))
        want = docs.filter(F.col("doc_id").isin(5, 123, 399))
        assert _rows(got) == _rows(want)
