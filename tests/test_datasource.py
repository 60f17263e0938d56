"""hielo_iceberg Python DataSource (sources/iceberg_source.py): batch
reads with time travel + MOR deletes + manifest-bounds file pruning, the
append streaming source, and the pure-Python Avro reader underneath it
(metadata/avro_py.py) cross-checked against the JVM read plane."""

from __future__ import annotations

import json

import pytest

from hielo_spark.metadata import commit as C


def _tasks(reader):
    """Flatten bin-packed scan partitions back to per-FILE tasks (the
    granularity planning/pruning tests assert on)."""
    from hielo_spark.sources.iceberg_source import _PackedScanPartition

    out = []
    for p in reader.partitions():
        out.extend(
            p.files if isinstance(p, _PackedScanPartition) else [p]
        )
    return out


@pytest.fixture()
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


@pytest.fixture()
def mor_table(spark, tmp_path):
    """append → equality delete → re-insert: the sequence-scoping case."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(2,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(2, "b2")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    return t


def test_avro_py_matches_jvm_reader(spark, mor_table):
    """The pure-Python Avro decoder returns the same manifest-list rows
    as the JVM-backed read plane."""
    from hielo_spark.metadata.avro_py import read_avro_file
    from hielo_spark.metadata.manifests import read_manifest_list

    doc = json.load(open(C.current_metadata_path(mor_table)))
    snap = next(s for s in doc["snapshots"]
                if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = snap["manifest-list"].removeprefix("file:")
    _, meta, rows = read_avro_file(mlist)
    jvm_rows = read_manifest_list(spark, mlist).collect()
    assert len(rows) == len(jvm_rows)
    got = {(r["manifest_path"], r["content"], r["sequence_number"])
           for r in rows}
    want = {(r.manifest_path, r.content or 0, r.sequence_number)
            for r in jvm_rows}
    assert got == want
    assert meta["format-version"] == b"2"


def test_batch_read_current_and_time_travel(registered, mor_table):
    spark = registered
    df = spark.read.format("hielo_iceberg").load(mor_table)
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, "a"), (2, "b2"), (3, "c")]  # re-insert survives its own delete
    old = (spark.read.format("hielo_iceberg")
           .option("snapshot-id", "101").load(mor_table))
    assert sorted((r.id, r.v) for r in old.collect()) == [
        (1, "a"), (2, "b"), (3, "c")]
    asof = (spark.read.format("hielo_iceberg")
            .option("as-of-ms", "1700150000000").load(mor_table))
    assert sorted((r.id, r.v) for r in asof.collect()) == [(1, "a"), (3, "c")]


def test_batch_read_matches_jvm_plane(registered, mor_table):
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    spark = registered
    via_source = sorted(
        (r.id, r.v)
        for r in spark.read.format("hielo_iceberg").load(mor_table).collect()
    )
    via_jvm = sorted(
        (r.id, r.v)
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(mor_table)
        ).collect()
    )
    assert via_source == via_jvm


def test_partitioned_read_reattaches_values(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us", "a"), (2, "eu", "b"), (3, "us", "c")],
        ["id", "region", "v"]),
        partition_by=["region"], snapshot_id=101, timestamp_ms=1700000000000)
    df = spark.read.format("hielo_iceberg").load(t)
    assert sorted((r.id, r.region) for r in df.collect()) == [
        (1, "us"), (2, "eu"), (3, "us")]
    assert sorted(r.id for r in df.filter("region = 'eu'").collect()) == [2]


def test_pushed_filters_prune_files(registered, tmp_path):
    """Disjoint-range appends → a >= filter must drop whole files from
    the plan via manifest bounds."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from hielo_spark.sources.iceberg_source import HieloIcebergReader

    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10).coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(100, 110).coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    cols = [("id", "bigint")]
    r_all = HieloIcebergReader(t, {}, cols)
    r_flt = HieloIcebergReader(t, {}, cols)
    list(r_flt.pushFilters([GreaterThanOrEqual(("id",), 100)]))
    assert len(_tasks(r_all)) == 2
    assert len(_tasks(r_flt)) == 1
    # and the full query still returns exactly the filtered rows
    df = spark.read.format("hielo_iceberg").load(t).filter("id >= 100")
    assert df.count() == 10


@pytest.mark.slow
def test_streaming_source_appends(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)

    def drain():
        q = (
            spark.readStream.format("hielo_iceberg")
            .option("initial-snapshot", "earliest").load(t)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted((r.id, r.v) for r in spark.read.parquet(out).collect()) == [
        (1, "a")]
    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    drain()
    # exactly the two new snapshots' rows arrive — no replays, no gaps
    assert sorted((r.id, r.v) for r in spark.read.parquet(out).collect()) == [
        (1, "a"), (2, "b"), (3, "c")]


def test_write_format_appends_and_both_planes_agree(registered, tmp_path):
    """df.write.format('hielo_iceberg') commits real snapshots through
    the pure-Python commit plane; the JVM read plane and the DataSource
    read plane both read them back identically, with time travel."""
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    spark = registered
    t = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "101").option("timestamp-ms", "1700000000000") \
        .save(t)
    spark.createDataFrame([(3, "c")], ["id", "v"]) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "102").option("timestamp-ms", "1700100000000") \
        .save(t)
    via_source = sorted(
        (r.id, r.v)
        for r in spark.read.format("hielo_iceberg").load(t).collect())
    via_jvm = sorted(
        (r.id, r.v)
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect())
    assert via_source == via_jvm == [(1, "a"), (2, "b"), (3, "c")]
    old = (spark.read.format("hielo_iceberg")
           .option("snapshot-id", "101").load(t))
    assert sorted(r.id for r in old.collect()) == [1, 2]


def test_write_then_jvm_maintenance_roundtrip(registered, tmp_path):
    """Cross-plane lifecycle: snapshots committed by the pure-Python
    writer are first-class to the JVM maintenance plane — equality
    delete, compaction REPLACE, expiry all compose on top."""
    spark = registered
    t = str(tmp_path / "t")
    for i, sid in enumerate((101, 102, 103)):
        spark.createDataFrame([(i * 10 + k,) for k in range(5)], ["id"]) \
            .write.format("hielo_iceberg").mode("append") \
            .option("snapshot-id", str(sid)) \
            .option("timestamp-ms", str(1700000000000 + i * 1000)).save(t)
    C.delete_equality(spark, t, spark.createDataFrame([(0,), (10,)], ["id"]),
                      snapshot_id=104, timestamp_ms=1700100000000)
    snap = C.rewrite_data_files(spark, t, snapshot_id=105,
                                timestamp_ms=1700200000000)
    assert snap["summary"]["operation"] == "replace"
    df = spark.read.format("hielo_iceberg").load(t)
    assert df.count() == 13  # 15 written - 2 deleted, post-compaction
    assert sorted(r.id for r in df.collect())[:3] == [1, 2, 3]


def test_write_stats_feed_pruning(registered, tmp_path):
    """Bounds computed by the Arrow writer land in the manifests and
    prune files for filtered source reads."""
    from hielo_spark.sources.iceberg_source import HieloIcebergReader
    from pyspark.sql.datasource import GreaterThanOrEqual

    spark = registered
    t = str(tmp_path / "t")
    spark.range(0, 10).coalesce(1).write.format("hielo_iceberg") \
        .mode("append").save(t)
    spark.range(100, 110).coalesce(1).write.format("hielo_iceberg") \
        .mode("append").save(t)
    r_flt = HieloIcebergReader(t, {}, [("id", "bigint")])
    list(r_flt.pushFilters([GreaterThanOrEqual(("id",), 100)]))
    assert len(_tasks(r_flt)) == 1


def test_write_overwrite_replaces_table(registered, tmp_path):
    """mode("overwrite") is a REPLACE commit: no carry-forward, reset
    running totals, operation=overwrite; both read planes see only the
    new rows, and time travel still reads the pre-overwrite snapshot."""
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    spark = registered
    t = str(tmp_path / "t")
    spark.range(0, 10).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "101").option("timestamp-ms", "1700000000000") \
        .mode("append").save(t)
    spark.range(100, 103).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "102").option("timestamp-ms", "1700100000000") \
        .mode("overwrite").save(t)

    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted(r.id for r in ds.collect()) == [100, 101, 102]
    mpath = C.current_metadata_path(t)
    jvm = read_data_at_snapshot(spark, mpath)
    assert sorted(r.id for r in jvm.collect()) == [100, 101, 102]
    # pre-overwrite snapshot still time-travelable
    old = read_data_at_snapshot(spark, mpath, snapshot_id=101)
    assert old.count() == 10
    doc = json.load(open(mpath))
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == 102)
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["total-records"] == "3"
    assert snap["summary"]["total-data-files"] == "1"


def test_write_branch_stages_wap_commit(registered, tmp_path):
    """option("branch", ...) stages the snapshot on a branch ref: the
    main read is untouched until fast_forward publishes it — the
    write-audit-publish flow through the standard writer API."""
    from hielo_spark.metadata import fast_forward

    spark = registered
    t = str(tmp_path / "t")
    spark.range(0, 5).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "101").option("timestamp-ms", "1700000000000") \
        .mode("append").save(t)
    spark.range(5, 8).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "102").option("timestamp-ms", "1700100000000") \
        .option("branch", "audit").mode("append").save(t)

    # main plane unchanged; branch sees staged rows
    main = spark.read.format("hielo_iceberg").load(t)
    assert main.count() == 5
    staged = spark.read.format("hielo_iceberg").option("ref", "audit").load(t)
    assert sorted(r.id for r in staged.collect()) == list(range(8))
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["current-snapshot-id"] == 101
    assert doc["refs"]["audit"]["snapshot-id"] == 102
    # snapshot-log never records staged commits
    assert [e["snapshot-id"] for e in doc["snapshot-log"]] == [101]

    fast_forward(t, "audit")
    published = spark.read.format("hielo_iceberg").load(t)
    assert published.count() == 8


def test_write_branch_overwrite_rejects_tag(registered, tmp_path):
    from hielo_spark.metadata import create_ref

    spark = registered
    t = str(tmp_path / "t")
    spark.range(0, 3).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "101").option("timestamp-ms", "1700000000000") \
        .mode("append").save(t)
    create_ref(t, "v1", 101, ref_type="tag")
    with pytest.raises(Exception, match="tag, not a branch"):
        spark.range(3).coalesce(1).write.format("hielo_iceberg") \
            .option("branch", "v1").mode("append").save(t)


def test_python_written_avro_readable_by_jvm(spark, tmp_path):
    from hielo_spark.metadata.avro_py import write_avro_file
    from hielo_spark.metadata.commit import MANIFEST_LIST_SCHEMA_V2
    from hielo_spark.metadata.manifests import read_manifest_list

    p = str(tmp_path / "x.avro")
    rows = [{
        "manifest_path": "/m1.avro", "manifest_length": 9,
        "partition_spec_id": 0, "content": 1, "sequence_number": 7,
        "min_sequence_number": 6, "added_snapshot_id": 101,
        "added_files_count": 2, "existing_files_count": 3,
        "deleted_files_count": 0, "added_rows_count": 10,
        "existing_rows_count": 4, "deleted_rows_count": 0,
    }]
    write_avro_file(p, MANIFEST_LIST_SCHEMA_V2, rows, meta={"snapshot-id": "101"})
    r = read_manifest_list(spark, p).collect()[0]
    assert (r.manifest_path, r.content, r.sequence_number,
            r.added_rows_count, r.existing_rows_count) == ("/m1.avro", 1, 7, 10, 4)


@pytest.mark.slow
def test_stream_write_sink_exactly_once(registered, tmp_path):
    """writeStream.format('hielo_iceberg'): each epoch is one marked
    append snapshot; a checkpoint WIPE replays the batches but the
    high-water-mark property makes the replays no-ops — no duplicates."""
    import os

    spark = registered
    src = str(tmp_path / "src")
    t, ck, ck2 = str(tmp_path / "t"), str(tmp_path / "ck"), str(tmp_path / "ck2")
    os.makedirs(src)
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).coalesce(1) \
        .write.json(src + "/b1")
    stream = spark.readStream.schema("id long, v string").json(src + "/*")

    def drain(checkpoint):
        q = (stream.writeStream.format("hielo_iceberg")
             .option("checkpointLocation", checkpoint)
             .option("query-name", "s1")
             .trigger(availableNow=True).start(t))
        q.awaitTermination(120)

    drain(ck)
    spark.createDataFrame([(3, "c")], ["id", "v"]).coalesce(1) \
        .write.json(src + "/b2")
    drain(ck)
    df = spark.read.format("hielo_iceberg").load(t)
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, "a"), (2, "b"), (3, "c")]
    doc = json.load(open(C.current_metadata_path(t)))
    assert [s["summary"].get("streaming-batch-id")
            for s in doc["snapshots"]] == ["0", "1"]
    assert doc["properties"]["streaming.s1.last-batch-id"] == "1"
    # checkpoint wipe → the fresh query replays batch ids from 0; the
    # hwm mark turns them into skips
    drain(ck2)
    df = spark.read.format("hielo_iceberg").load(t)
    assert df.count() == 3
    doc = json.load(open(C.current_metadata_path(t)))
    assert len(doc["snapshots"]) == 2  # no replay snapshots


def test_timestamp_filter_pruning_not_overzealous(registered, tmp_path):
    """r5 review finding: pushed TimestampType filters arrive tz-aware;
    stringifying them with a '+00:00' suffix made every bound comparison
    lexicographically wrong and pruned matching files."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual

    from hielo_spark.sources.iceberg_source import HieloIcebergReader

    spark = registered
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 5, 1)), (2, dt.datetime(2024, 6, 15))],
        "id long, ts timestamp",
    ).coalesce(1)
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    r = HieloIcebergReader(t, {}, [("id", "bigint"), ("ts", "timestamp")])
    list(r.pushFilters([GreaterThanOrEqual(
        ("ts",), dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc))]))
    # the file's upper bound (2024-06-15) satisfies >= 2024-06-01:
    # it must NOT be pruned
    assert len(_tasks(r)) == 1
    got = (spark.read.format("hielo_iceberg").load(t)
           .filter("ts >= timestamp'2024-06-01 00:00:00'").collect())
    assert [r_.id for r_ in got] == [2]


def test_legacy_string_map_bounds_do_not_break_planning(registered, tmp_path):
    """r5 review finding: pre-r5 manifests carry string maps under the
    spec bound names; planning must fall back, not TypeError."""
    from hielo_spark.metadata.avro_py import write_avro_file
    from hielo_spark.metadata.commit import MANIFEST_LIST_SCHEMA_V2
    import os

    spark = registered
    # build a legacy-shaped table by hand: manifest with string-map
    # bounds under the SPEC names (the pre-r5 writer's layout)
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(5,)], ["id"]).coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    doc = json.load(open(C.current_metadata_path(t)))
    snap = doc["snapshots"][0]
    mlist = snap["manifest-list"].removeprefix("file:")
    from hielo_spark.metadata.avro_py import read_avro_file

    _, _, mrows = read_avro_file(mlist)
    mpath = mrows[0]["manifest_path"]
    _, _, entries = read_avro_file(mpath)
    legacy_schema = json.dumps({
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "upper_bounds",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                ]}},
        ]})
    e = entries[0]
    legacy_rows = [{
        "status": 1, "snapshot_id": 101, "sequence_number": 1,
        "data_file": {
            "content": 0,
            "file_path": e["data_file"]["file_path"],
            "file_format": "PARQUET",
            "record_count": 1, "file_size_in_bytes": 100,
            "lower_bounds": {"id": "5"}, "upper_bounds": {"id": "5"},
        }}]
    write_avro_file(mpath, legacy_schema, legacy_rows)
    df = spark.read.format("hielo_iceberg").load(t)
    assert [r.id for r in df.collect()] == [5]
    # this synthetic legacy manifest has NO bounds_types and NO header
    # schema — the column type is unknown, so pruning must stay
    # conservative and KEEP the file (lexicographic numeric comparison
    # would wrongly prune "10" < "9" shapes); the row-level filter
    # still yields the right answer
    from pyspark.sql.datasource import GreaterThan
    from hielo_spark.sources.iceberg_source import HieloIcebergReader

    r = HieloIcebergReader(t, {}, [("id", "bigint")])
    list(r.pushFilters([GreaterThan(("id",), 100)]))
    parts = [p for p in _tasks(r) if p.path is not None]
    assert len(parts) == 1
    assert spark.read.format("hielo_iceberg").load(t).filter("id > 100").count() == 0


def test_sql_over_datasource_view(registered, tmp_path):
    """The source composes with plain Spark SQL: load → temp view →
    joins/aggregates run through Catalyst like any other relation."""
    spark = registered
    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "us"), (2, "eu"), (3, "us")], ["id", "region"]) \
        .write.format("hielo_iceberg").mode("append").save(t)
    spark.read.format("hielo_iceberg").load(t).createOrReplaceTempView("ds_t")
    rows = spark.sql(
        "SELECT region, count(*) AS n FROM ds_t GROUP BY region ORDER BY region"
    ).collect()
    assert [(r.region, r.n) for r in rows] == [("eu", 1), ("us", 2)]


def test_metadata_surfaces(registered, mor_table):
    """option('surface', ...) exposes the t.snapshots-style metadata
    frames through the standard source API, consistent with the JVM
    metadata plane."""
    spark = registered

    def load(surface):
        return (spark.read.format("hielo_iceberg")
                .option("surface", surface).load(mor_table))

    snaps = load("snapshots").orderBy("snapshot_id").collect()
    assert [r.snapshot_id for r in snaps] == [101, 102, 103]
    assert [r.operation for r in snaps] == ["append", "delete", "append"]
    assert snaps[1].parent_id == 101
    assert json.loads(snaps[0].summary_json)["operation"] == "append"

    hist = load("history").orderBy("timestamp_ms").collect()
    assert [r.snapshot_id for r in hist] == [101, 102, 103]

    mans = load("manifests").collect()
    assert {m.content for m in mans} == {0, 1}  # data + delete manifests
    assert all(m.manifest_length > 0 for m in mans)

    files = load("files").collect()
    assert {f.content for f in files} == {0, 2}  # data + equality deletes
    data_files = [f for f in files if f.content == 0]
    assert sum(f.record_count for f in data_files) == 4  # 3 appended + 1
    # time travel applies to file-level surfaces too
    old_files = (spark.read.format("hielo_iceberg")
                 .option("surface", "files").option("snapshot-id", "101")
                 .load(mor_table).collect())
    assert {f.content for f in old_files} == {0}
    # refs on a branch table
    C.create_ref(mor_table, "v1", 101, ref_type="tag")
    refs = load("refs").collect()
    assert [(r.name, r.type, r.snapshot_id) for r in refs] == [("v1", "tag", 101)]


def test_partitions_metadata_surface(registered, spark, tmp_path):
    """option('surface', 'partitions') — Iceberg's t.partitions table:
    per-partition record/file/byte counts plus delete-file counts, time
    travel applying like the other file-level surfaces."""
    t = str(tmp_path / "t")
    C.append(
        spark, t,
        spark.createDataFrame(
            [(i, "us" if i % 2 == 0 else "eu") for i in range(6)],
            "id int, region string",
        ),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["region"],
    )
    C.delete_where(spark, t, "id = 0",
                   snapshot_id=102, timestamp_ms=1700100000000)

    parts = (spark.read.format("hielo_iceberg")
             .option("surface", "partitions").load(t)
             .orderBy("partition_json").collect())
    by_region = {json.loads(r.partition_json).get("region"): r for r in parts}
    assert {"us", "eu"} <= set(by_region)
    assert by_region["us"].record_count == 3
    assert by_region["eu"].record_count == 3
    data_rows = [by_region["us"], by_region["eu"]]
    assert all(r.file_count >= 1 for r in data_rows)
    assert all(r.total_data_file_size_in_bytes > 0 for r in data_rows)
    # the position delete file is partition-agnostic (written hash-split
    # by file_path) → it aggregates under the empty tuple with no data
    assert sum(r.position_delete_file_count for r in parts) == 1
    if None in by_region:
        assert by_region[None].file_count == 0
        assert by_region[None].record_count == 0
    assert sum(r.equality_delete_file_count for r in parts) == 0
    # time travel: before the delete there are no delete files
    old = (spark.read.format("hielo_iceberg")
           .option("surface", "partitions").option("snapshot-id", "101")
           .load(t).collect())
    assert sum(r.position_delete_file_count for r in old) == 0
    # an unpartitioned table aggregates under the empty partition tuple
    t2 = str(tmp_path / "t2")
    C.append(spark, t2, spark.range(0, 5),
             snapshot_id=201, timestamp_ms=1700000000000)
    up = (spark.read.format("hielo_iceberg")
          .option("surface", "partitions").load(t2).collect())
    assert len(up) == 1 and up[0].partition_json == "{}"
    assert up[0].record_count == 5


# -- r6 ADVICE fixes -------------------------------------------------------


def test_date_partitioned_read(registered, tmp_path):
    """Hive layout stores date partition values as ISO strings; the
    executor-side reattach must parse them before building the Arrow
    date32 array (ADVICE r5: pa.array(['2024-01-02'], date32()) raises
    ArrowTypeError, crashing every read of a date-partitioned table)."""
    import datetime as dt

    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, dt.date(2024, 1, 2), "a"), (2, dt.date(2024, 1, 3), "b"),
         (3, dt.date(2024, 1, 2), "c")],
        "id bigint, d date, v string"),
        partition_by=["d"], snapshot_id=101, timestamp_ms=1700000000000)
    df = spark.read.format("hielo_iceberg").load(t)
    assert sorted((r.id, r.d) for r in df.collect()) == [
        (1, dt.date(2024, 1, 2)), (2, dt.date(2024, 1, 3)),
        (3, dt.date(2024, 1, 2))]
    assert sorted(r.id for r in df.filter("d = DATE'2024-01-02'").collect()) \
        == [1, 3]


def test_nested_type_schema_renders_ddl(tmp_path):
    """A table whose schema carries struct/list/map columns declares
    real nested Spark DDL (r7 — previously a loud NotImplementedError;
    end-to-end nested reads/writes live in test_nested_types.py)."""
    import json as _json
    import os

    from hielo_spark.sources.iceberg_source import HieloIcebergDataSource

    t = str(tmp_path / "t")
    mdir = os.path.join(t, "metadata")
    os.makedirs(mdir)
    doc = {
        "format-version": 2,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct", "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "payload", "required": False,
                 "type": {"type": "struct", "fields": [
                     {"id": 3, "name": "a", "required": False,
                      "type": "string"},
                     {"id": 4, "name": "v", "required": False,
                      "type": {"type": "list", "element-id": 5,
                               "element": "float",
                               "element-required": False}},
                 ]}},
            ],
        }],
        "snapshots": [],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        _json.dump(doc, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")
    ds = HieloIcebergDataSource({"path": t})
    assert ds.schema() == "id bigint, payload struct<a:string,v:array<float>>"


def test_timestamp_bound_rendering_is_canonical(registered, tmp_path):
    """ADVICE r5 medium: the writer's stat renderer padded fractions to 6 digits
    while JVM-plane bounds strings are Spark cast-to-string (trailing
    zeros trimmed); the lexicographic comparator then wrongly pruned
    files whose bound EQUALS the filter value. Both renderings are now
    trimmed, and an equality filter on the exact upper bound keeps the
    file — end to end through the registered source."""
    import datetime as dt

    from hielo_spark.metadata.data_files import render_bound
    from hielo_spark.sources.iceberg_source import _file_survives
    from pyspark.sql.datasource import EqualTo

    # unit level: trimmed rendering + no false prune at the bound
    v = dt.datetime(2024, 1, 2, 3, 4, 5, 100000, tzinfo=dt.timezone.utc)
    assert render_bound(v) == "2024-01-02 03:04:05.1"
    entry = {
        "lb": {"ts": "2024-01-02 03:04:05.05"},
        "ub": {"ts": "2024-01-02 03:04:05.1"},
        "bt": {"ts": "timestamp"},
    }
    assert _file_survives([EqualTo(("ts",), v)], entry)
    # and ordering still works on trimmed fractions
    past = dt.datetime(2024, 1, 2, 3, 4, 5, 90000, tzinfo=dt.timezone.utc)
    assert _file_survives([EqualTo(("ts",), past)], entry)  # .09 in range
    gone = dt.datetime(2024, 1, 2, 3, 4, 5, 150000, tzinfo=dt.timezone.utc)
    assert not _file_survives([EqualTo(("ts",), gone)], entry)  # .15 > .1

    # end to end: a committed fractional-second row is found by equality
    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.sql(
        "SELECT CAST(1 AS BIGINT) id, TIMESTAMP'2024-01-02 03:04:05.1' ts"
    ), snapshot_id=101, timestamp_ms=1700000000000)
    df = (spark.read.format("hielo_iceberg").load(t)
          .filter("ts = TIMESTAMP'2024-01-02 03:04:05.1'"))
    assert df.count() == 1


def test_spec_ts_bounds_render_trimmed():
    """values._format_ts (spec-binary bound decode) emits the same
    trimmed form, so JVM-plane comparisons over DataSource-written
    spec bounds don't false-prune either (the mirror image)."""
    from hielo_spark.metadata.values import _format_ts, _parse_ts_micros

    micros = _parse_ts_micros("2024-01-02 03:04:05.1")
    assert _format_ts(micros) == "2024-01-02 03:04:05.1"
    assert _format_ts(_parse_ts_micros("2024-01-02 03:04:05")) == \
        "2024-01-02 03:04:05"
    assert _format_ts(_parse_ts_micros("2024-01-02 03:04:05.000001")) == \
        "2024-01-02 03:04:05.000001"


# -- column pruning (r7) ------------------------------------------------------


def test_columns_option_prunes_parquet_read(registered, spark, tmp_path):
    """option("columns", ...) narrows the declared schema so tasks read
    only those columns' parquet pages — plus any equality-delete key
    columns, which must still apply even when not projected. (Spark 4.1's
    PythonScanBuilder has no SupportsPushDownRequiredColumns, so a plain
    .select() cannot reach the scan; the option is the explicit path.)"""
    t = str(tmp_path / "t")
    C.append(
        spark, t,
        spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(10)],
            "id int, v string, x double",
        ),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    C.delete_equality(spark, t, spark.createDataFrame([(3,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    log = str(tmp_path / "scanlog.txt")
    pr = (spark.read.format("hielo_iceberg")
          .option("scan_log", log).option("columns", "v").load(t))
    assert pr.columns == ["v"]
    # the eq delete on id=3 applies even though id wasn't projected
    assert sorted(r.v for r in pr.collect()) == [
        f"v{i}" for i in range(10) if i != 3
    ]
    cols_read = {line.split("\t")[1] for line in open(log).read().splitlines()}
    assert cols_read == {"id,v"}  # x never read; id only for the delete key

    with pytest.raises(Exception, match="names not in table schema"):
        spark.read.format("hielo_iceberg").option("columns", "nope").load(t)


def test_columns_option_resolves_renamed_history(registered, spark, tmp_path):
    """Pruned reads resolve a renamed column to the historical name a
    pre-rename file carries it under."""
    from hielo_spark.metadata import update_schema

    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
             snapshot_id=101, timestamp_ms=1700000000000)
    update_schema(t, rename={"v": "label"}, timestamp_ms=1700100000000)
    pr = spark.read.format("hielo_iceberg").option("columns", "label").load(t)
    assert sorted(r.label for r in pr.collect()) == ["a", "b"]


# -- partitioned writes (r7) --------------------------------------------------


@pytest.mark.slow
def test_write_partitioned_table_via_datasource(registered, spark, tmp_path):
    """A table whose default spec is identity-partitioned accepts
    DataSource appends: each task splits its rows per partition value,
    strips the partition columns (hive semantics), and the manifest
    carries typed r102 + partition_values; both read planes reattach
    and partition-prune."""
    from hielo_spark.metadata import update_partition_spec
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    # establish the table + spec through the JVM plane
    C.append(
        spark, t,
        spark.createDataFrame(
            [(0, "us", 1.0), (1, "eu", 2.0)],
            "id int, region string, x double",
        ),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["region"],
    )
    # DataSource append into the partitioned table
    spark.createDataFrame(
        [(2, "us", 3.0), (3, "ap", 4.0)], "id int, region string, x double"
    ).coalesce(1).write.format("hielo_iceberg") \
        .option("snapshot-id", "102").option("timestamp-ms", "1700100000000") \
        .mode("append").save(t)

    mpath = C.current_metadata_path(t)
    jvm = read_data_at_snapshot(spark, mpath)
    got = sorted((r.id, r.region, r.x) for r in jvm.collect())
    assert got == [(0, "us", 1.0), (1, "eu", 2.0), (2, "us", 3.0),
                   (3, "ap", 4.0)]
    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted((r.id, r.region, r.x) for r in ds.collect()) == got

    # partition pruning consults the DataSource-written file's values
    us = read_data_at_snapshot(spark, mpath, partition_filter={"region": "us"})
    assert sorted(r.id for r in us.collect()) == [0, 2]
    n_all = len(set(jvm.inputFiles()))
    assert len(set(us.inputFiles())) < n_all

    # the written file is hive-laid-out and does NOT contain the
    # partition column
    import glob
    import os

    import pyarrow.parquet as pq

    ds_files = glob.glob(os.path.join(t, "data", "region=*", "ds-*.parquet"))
    assert len(ds_files) == 2  # us + ap
    for f in ds_files:
        assert "region" not in pq.ParquetFile(f).schema_arrow.names

    # spec-less path: update_partition_spec alone also enables it
    t2 = str(tmp_path / "t2")
    spark.createDataFrame([(1, "a")], "id int, k string").coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "201").option("timestamp-ms", "1700000000000") \
        .save(t2)
    update_partition_spec(t2, ["k"])
    spark.createDataFrame([(2, "b")], "id int, k string").coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "202").option("timestamp-ms", "1700100000000") \
        .save(t2)
    out = spark.read.format("hielo_iceberg").load(t2)
    assert sorted((r.id, r.k) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_write_partitioned_null_value_roundtrip(registered, spark, tmp_path):
    from hielo_spark.metadata import update_partition_spec

    t = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, k string").coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "101").option("timestamp-ms", "1700000000000") \
        .save(t)
    update_partition_spec(t, ["k"])
    spark.createDataFrame([(2, None)], "id int, k string").coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "102").option("timestamp-ms", "1700100000000") \
        .save(t)
    ds = spark.read.format("hielo_iceberg").load(t)
    got = sorted(((r.id, r.k) for r in ds.collect()), key=str)
    assert got == [(1, "a"), (2, None)]


def test_write_transform_partitioned_via_datasource(registered, spark, tmp_path):
    """Hidden-partitioning transforms on the DataSource writer (r7):
    tasks derive bucket/day values from their Arrow batches with the
    same spec-exact murmur3 kernel as the JVM plane, the SOURCE columns
    stay in the data files (that is what 'hidden' means), null sources
    land in the default partition, and both read planes agree and
    partition-prune the DataSource-written files."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hielo_spark.metadata.manifests import read_data_at_snapshot
    from hielo_spark.metadata.transforms import PartitionTransform

    t = str(tmp_path / "t")
    C.append(
        spark, t,
        spark.createDataFrame(
            [(1, "2024-01-02 03:04:05"), (2, "2024-03-05 10:00:00")],
            "id int, ts_s string",
        ).selectExpr("id", "cast(ts_s as timestamp) ts"),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["bucket(4, id)", "days(ts)"],
    )
    spark.createDataFrame(
        [(3, "2024-01-02 23:59:59"), (4, None)], "id int, ts_s string"
    ).selectExpr("id", "cast(ts_s as timestamp) ts") \
        .coalesce(1).write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "102") \
        .option("timestamp-ms", "1700100000000").save(t)

    mpath = C.current_metadata_path(t)
    jvm = read_data_at_snapshot(spark, mpath)
    got = sorted((r.id, str(r.ts)) for r in jvm.collect())
    assert [i for i, _ in got] == [1, 2, 3, 4]
    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted((r.id, str(r.ts)) for r in ds.collect()) == got

    # hive layout: derived values in the dirs — the bucket ordinal is
    # the spec murmur3 value, the day the date_format rendering, a null
    # source the default partition — and the SOURCE columns stay in
    # the file (nothing stripped, unlike identity partitioning)
    bt = PartitionTransform("bucket(4, id)")
    ds_files = sorted(glob.glob(
        os.path.join(t, "data", "**", "ds-*.parquet"), recursive=True))
    rel = [os.path.relpath(p, os.path.join(t, "data")) for p in ds_files]
    assert any(
        r.startswith(f"id_bucket={bt.value_of(3)}/ts_day=2024-01-02")
        for r in rel
    ), rel
    assert any(
        r.startswith(f"id_bucket={bt.value_of(4)}/"
                     "ts_day=__HIVE_DEFAULT_PARTITION__")
        for r in rel
    ), rel
    for f in ds_files:
        names = pq.ParquetFile(f).schema_arrow.names
        assert "id" in names and "ts" in names

    # partition pruning consults the DataSource-written derived values
    pr = read_data_at_snapshot(
        spark, mpath, partition_filter={"ts_day": "2024-01-02"})
    assert sorted(r.id for r in pr.collect()) == [1, 3]
    assert len(set(pr.inputFiles())) < len(set(jvm.inputFiles()))


def test_write_truncate_partitioned_via_datasource(registered, spark, tmp_path):
    """truncate(w) on string and integer sources through the DataSource
    writer: prefix / floored-multiple partition values, identical to
    the JVM plane's rendering."""
    import glob
    import os

    from hielo_spark.metadata import update_partition_spec
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    spark.createDataFrame([(7, "alpha")], "n int, s string").coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "101") \
        .option("timestamp-ms", "1700000000000").save(t)
    update_partition_spec(t, ["truncate(10, n)", "truncate(2, s)"])
    spark.createDataFrame(
        [(17, "alps"), (-3, "beta")], "n int, s string"
    ).coalesce(1).write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "102") \
        .option("timestamp-ms", "1700100000000").save(t)

    dirs = sorted(
        os.path.relpath(p, os.path.join(t, "data"))
        for p in glob.glob(os.path.join(t, "data", "n_truncate=*", "*", "ds-*.parquet"))
    )
    # 17 floors to 10, -3 floors to -10 (spec: toward negative infinity)
    assert dirs[0].startswith("n_truncate=-10/s_truncate=be")
    assert dirs[1].startswith("n_truncate=10/s_truncate=al")

    mpath = C.current_metadata_path(t)
    pruned = read_data_at_snapshot(
        spark, mpath, partition_filter={"n_truncate": "10"})
    # the pre-spec-evolution file (n=7) has no partition values, so it
    # may-matches (conservative); the -10 partition is pruned away
    assert sorted(r.n for r in pruned.collect()) == [7, 17]
    both = spark.read.format("hielo_iceberg").load(t)
    assert sorted(r.n for r in both.collect()) == [-3, 7, 17]


# -- streaming across maintenance snapshots (r7) ------------------------------


@pytest.mark.slow
def test_streaming_skip_replace_and_delete_snapshots(registered, tmp_path):
    """Iceberg streaming parity (streaming-skip-overwrite/delete):
    with the skip options the stream crosses compaction and MOR-delete
    snapshots — emitting only genuine append rows, never re-emitting
    compacted rewrites — instead of stopping with an error."""
    spark = registered
    t = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)

    def drain(**opts):
        reader = (spark.readStream.format("hielo_iceberg")
                  .option("initial-snapshot", "earliest"))
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load(t)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    # maintenance happens: a MOR delete then a compaction REPLACE
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    C.rewrite_data_files(spark, t, snapshot_id=103,
                         timestamp_ms=1700200000000)
    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=104, timestamp_ms=1700300000000)

    # without the options the stream stops loudly
    with pytest.raises(Exception, match="non-append"):
        drain()
    # with them, only the new append's rows arrive — the compacted
    # rewrite of already-consumed rows is NOT re-emitted
    drain(**{"skip-delete": "true", "skip-replace": "true"})
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b")]


def test_read_incremental_skip_options(spark, tmp_path):
    from hielo_spark.metadata.manifests import read_incremental

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    C.rewrite_data_files(spark, t, snapshot_id=103, timestamp_ms=1700200000000)
    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=104, timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)

    with pytest.raises(ValueError, match="non-append"):
        read_incremental(spark, mpath, 101)
    inc = read_incremental(spark, mpath, 101,
                           skip_replace=True, skip_delete=True)
    assert [(r.id, r.v) for r in inc.collect()] == [(2, "b")]


def test_datasource_planning_never_materializes_deletes(
    spark, tmp_path, monkeypatch
):
    """The DataSource planner ships delete REFERENCES only: it must not
    read a single position-delete parquet row nor decode a DV blob at
    planning — at 100 TB under heavy deletes the deleted positions must
    never mass on the driver. Bounds pruning still applies: a delete
    file whose file_path bounds can't touch a surviving data file is
    not even attached to a partition."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from hielo_spark.sources import iceberg_source as S

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id AS k").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.range(1000, 1100).selectExpr("id AS k").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "k < 10",
                   snapshot_id=103, timestamp_ms=1700200000000)
    C.delete_where(spark, t, "k >= 1090",
                   snapshot_id=104, timestamp_ms=1700300000000)

    import pyarrow.parquet as pq

    from hielo_spark.metadata import puffin as P

    def no_rows(path, *a, **kw):  # planning may read footers, not rows
        raise AssertionError(f"planning read parquet rows: {path}")

    def no_decode(*a, **kw):
        raise AssertionError("planning decoded a DV payload")

    # partitions() imports pyarrow.parquet locally, so patching the
    # module attributes intercepts any planning-time row read
    monkeypatch.setattr(pq, "read_table", no_rows)
    monkeypatch.setattr(pq, "ParquetFile", no_rows)
    monkeypatch.setattr(P, "decode_dv_payload", no_decode)

    r = S.HieloIcebergReader(t, {}, [("k", "bigint")])
    list(r.pushFilters([GreaterThanOrEqual(("k",), 1000)]))
    parts = _tasks(r)
    # one surviving data file; only the second delete file is attached
    # (the first's file_path bounds can't touch the surviving file)
    assert len(parts) == 1
    refs = parts[0].pos_deletes
    assert len(refs) == 1 and "seq-00004" in refs[0][0]


def test_datasource_dv_planning_ships_coordinates(registered, spark,
                                                  tmp_path, monkeypatch):
    """v3 tables: planning ships each file's DV blob (path, offset,
    size) — decode happens in the scan task, and the read is still
    exact."""
    from hielo_spark.metadata import puffin as P
    from hielo_spark.sources import iceberg_source as S

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id AS k").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    from hielo_spark.metadata import upgrade_format_version

    upgrade_format_version(t, 3)
    C.delete_where(spark, t, "k % 10 = 3",
                   snapshot_id=102, timestamp_ms=1700100000000)

    calls = []
    real = P.decode_dv_payload

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(P, "decode_dv_payload", spy)
    r = S.HieloIcebergReader(t, {}, [("k", "bigint")])
    parts = [p for p in _tasks(r) if p.path is not None]
    assert not calls, "planning must not decode DV payloads"
    assert len(parts) == 1 and parts[0].dv_ref is not None
    ppath, off, size = parts[0].dv_ref
    assert ppath.endswith(".puffin") and size > 0
    # task-side application: the full read drops exactly the 10 rows
    got = sorted(
        r.k for r in spark.read.format("hielo_iceberg").load(t).collect()
    )
    assert got == [k for k in range(100) if k % 10 != 3]


def test_metadata_log_surface(registered, spark, tmp_path):
    """option("surface", "metadata_log") — t.metadata_log_entries over
    the spec metadata-log our commits now maintain."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    log = (spark.read.format("hielo_iceberg")
           .option("surface", "metadata_log").load(t))
    rows = sorted((r.timestamp_ms, r.file.rsplit("/", 1)[-1],
                   r.latest_snapshot_id) for r in log.collect())
    assert rows == [
        (1700000000000, "v1.metadata.json", 101),
        (1700100000000, "v2.metadata.json", 102),
    ]


@pytest.mark.slow
def test_changes_surface_append_changelog(registered, spark, tmp_path):
    """option('surface','changes'): Iceberg's changelog fast path —
    rows ADDED per append snapshot in (from, to], with
    _change_type/_commit_snapshot_id/_change_ordinal, replace
    snapshots silent, delete snapshots refused toward the JVM-plane
    multiset diff."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 3),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(3, 5),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.rewrite_data_files(spark, t, snapshot_id=103,
                         timestamp_ms=1700200000000)
    C.append(spark, t, spark.range(5, 6),
             snapshot_id=104, timestamp_ms=1700300000000)

    full = (spark.read.format("hielo_iceberg")
            .option("surface", "changes").load(t).collect())
    by_snap = {}
    for r in full:
        assert r._change_type == "INSERT"
        by_snap.setdefault(r._commit_snapshot_id, []).append(r.id)
    # the compaction (103) emits nothing; each append's rows are its own
    assert {k: sorted(v) for k, v in by_snap.items()} == {
        101: [0, 1, 2], 102: [3, 4], 104: [5]}
    # ordinals follow lineage order
    ords = {r._commit_snapshot_id: r._change_ordinal for r in full}
    assert ords[101] < ords[102] < ords[104]

    # bounded range: (101, 102] only
    part = (spark.read.format("hielo_iceberg")
            .option("surface", "changes")
            .option("from-snapshot-id", "101")
            .option("to-snapshot-id", "102").load(t).collect())
    assert sorted(r.id for r in part) == [3, 4]

    # a delete snapshot in range RENDERS (r13): its new position
    # deletes / DVs name the deleted rows — no diff needed
    C.delete_where(spark, t, "id = 0",
                   snapshot_id=105, timestamp_ms=1700400000000)
    full2 = (spark.read.format("hielo_iceberg")
             .option("surface", "changes").load(t).collect())
    dels = [(r.id, r._commit_snapshot_id) for r in full2
            if r._change_type == "DELETE"]
    assert dels == [(0, 105)]
    # a range stopping before it is unchanged
    ok = (spark.read.format("hielo_iceberg")
          .option("surface", "changes")
          .option("to-snapshot-id", "104").load(t).collect())
    assert sorted(r.id for r in ok) == [0, 1, 2, 3, 4, 5]

    # a bogus from id fails loudly
    with pytest.raises(Exception, match="not an ancestor"):
        (spark.read.format("hielo_iceberg")
         .option("surface", "changes")
         .option("from-snapshot-id", "9999")
         .option("to-snapshot-id", "104").load(t).collect())


def test_changes_surface_empty_poll_and_unknown_to(registered, spark,
                                                   tmp_path):
    """The standard incremental CDC poll — from == to because the table
    hasn't advanced — is an EMPTY changeset, not an error; a typo'd
    to-snapshot-id fails loudly instead of reading as zero changes."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 3),
             snapshot_id=101, timestamp_ms=1700000000000)

    # explicit from == to
    out = (spark.read.format("hielo_iceberg")
           .option("surface", "changes")
           .option("from-snapshot-id", "101")
           .option("to-snapshot-id", "101").load(t).collect())
    assert out == []
    # and with `to` defaulted to current (the poll consumers actually run)
    out2 = (spark.read.format("hielo_iceberg")
            .option("surface", "changes")
            .option("from-snapshot-id", "101").load(t).collect())
    assert out2 == []

    with pytest.raises(Exception, match="not a snapshot"):
        (spark.read.format("hielo_iceberg")
         .option("surface", "changes")
         .option("to-snapshot-id", "9999").load(t).collect())


@pytest.mark.slow
def test_streaming_skip_delete_crosses_v3_dv_snapshots(registered,
                                                       tmp_path):
    """v3 twin of the skip-delete case: on a format-version-3 table the
    MOR delete snapshot carries DELETION VECTORS (no data files added);
    option('skip-delete') must cross it the same way it crosses v2
    position-delete snapshots, emitting only genuine appends."""
    from hielo_spark.metadata import upgrade_format_version

    spark = registered
    t = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)

    def drain(**opts):
        reader = (spark.readStream.format("hielo_iceberg")
                  .option("initial-snapshot", "earliest"))
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load(t)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    snap = C.delete_where(spark, t, "id = 1",
                          snapshot_id=102, timestamp_ms=1700100000000)
    assert int(snap["summary"]["added-dvs"]) == 1  # a real DV snapshot
    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    with pytest.raises(Exception, match="non-append"):
        drain()
    drain(**{"skip-delete": "true"})
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b")]


def test_eq_delete_attachment_pruned_by_key_bounds(registered, spark,
                                                   tmp_path):
    """Equality-delete files attach per scan partition, pruned by the
    manifest's KEY-column bounds: a task whose data file's id-range is
    disjoint from the delete file's recorded key bounds never reads the
    delete parquet — and results stay exact."""
    from hielo_spark.sources import iceberg_source as S

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.range(1000, 1100).selectExpr("id").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_equality(spark, t, spark.createDataFrame([(5,), (7,)], ["id"]),
                      snapshot_id=103, timestamp_ms=1700200000000)
    r = S.HieloIcebergReader(t, {}, [("id", "bigint")])
    parts = sorted(
        (p for p in _tasks(r) if p.path is not None),
        key=lambda p: p.path,
    )
    assert len(parts) == 2
    # parts sorted by path: seq-00001 (ids 0-99) then seq-00002
    # (ids 1000+). The low-range file gets the delete part(s) attached
    # (the distributed delete write may shard the keys into several
    # parquet parts); the 1000+ file attaches NONE.
    assert len(parts[0].eq_deletes) >= 1
    assert len(parts[1].eq_deletes) == 0
    got = sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t).collect()
    )
    assert got == [i for i in range(100) if i not in (5, 7)] \
        + list(range(1000, 1100))


def test_eq_delete_planning_uses_equality_ids_not_footers(
    registered, spark, tmp_path, monkeypatch
):
    """Eq-delete manifest entries carry spec field 135 (equality_ids);
    planning derives the key columns from the ids + schema and never
    opens the delete parquet — not even its footer — when the field
    names are rename-stable."""
    import pyarrow.parquet as pq

    from hielo_spark.sources import iceberg_source as S

    t = str(tmp_path / "t")
    # one data file holding the deleted key, so the delete attaches to it
    C.append(spark, t, spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]).coalesce(1),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(2,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)

    def no_footer(path, *a, **kw):
        raise AssertionError(f"planning read a parquet footer: {path}")

    monkeypatch.setattr(pq, "read_schema", no_footer)
    monkeypatch.setattr(pq, "read_table", no_footer)
    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    r = S.HieloIcebergReader(t, {}, [("id", "bigint"), ("v", "string")])
    parts = [p for p in _tasks(r) if p.path is not None]
    assert parts and parts[0].eq_deletes
    assert parts[0].eq_deletes[0][1] == ["id"]  # cols from field ids
    monkeypatch.undo()
    got = sorted(
        (r.id, r.v)
        for r in spark.read.format("hielo_iceberg").load(t).collect()
    )
    assert got == [(1, "a")]


# ------------------------------------------------- vectorized eq-delete mask


def test_eq_delete_keep_mask_null_safe_and_order_preserving():
    """The vectorized anti-join kernel must keep Iceberg's NULL-SAFE
    equality semantics (a null delete key deletes null rows — plain
    Acero ``left anti`` gets this wrong) and return the mask in the
    table's original row order (the join itself reorders)."""
    import numpy as np
    import pyarrow as pa

    from hielo_spark.sources.iceberg_source import _eq_delete_keep_mask

    table = pa.table({
        "k1": [1, None, 3, 4, None, 1],
        "k2": ["a", "b", None, "d", None, "x"],
        "v": [10, 20, 30, 40, 50, 60],
    })
    dels = pa.table({"k1": [1, None], "k2": ["a", None]})
    keep = _eq_delete_keep_mask(table, ["k1", "k2"], dels)
    # (1,'a') and (null,null) deleted; (null,'b'), (3,null), (4,'d'),
    # (1,'x') survive — null-safe, not SQL-equality
    assert list(keep) == [False, True, True, True, False, True]
    assert table.filter(pa.array(keep)).column("v").to_pylist() == \
        [20, 30, 40, 60]  # original order, not join order
    assert isinstance(keep, np.ndarray)


def test_eq_delete_keep_mask_fill_never_collides_with_real_value():
    """Nulls are filled to a real value from the delete side before the
    join — a data row actually HOLDING that fill value must not be
    deleted by a null key (the is-null flag disambiguates)."""
    import pyarrow as pa

    from hielo_spark.sources.iceberg_source import _eq_delete_keep_mask

    # delete key is (7, null): fill scalar for k2 will be drawn from
    # the delete side's non-null pool = {"z"} — row (7, "z") must live
    table = pa.table({"k1": [7, 7], "k2": ["z", None]})
    dels = pa.table({"k1": [7, 8], "k2": [None, "z"]})
    keep = _eq_delete_keep_mask(table, ["k1", "k2"], dels)
    assert list(keep) == [True, False]


def test_eq_delete_keep_mask_constant_null_sides():
    """When one side of a key column is all-null the is-null flag alone
    decides it (no fill scalar exists to borrow)."""
    import pyarrow as pa

    from hielo_spark.sources.iceberg_source import _eq_delete_keep_mask

    # delete side k2 all-null: only data rows with k2 null can match
    table = pa.table({"k1": [1, 1, 2], "k2": ["a", None, None]})
    dels = pa.table({"k1": [1, 2], "k2": pa.nulls(2, pa.string())})
    keep = _eq_delete_keep_mask(table, ["k1", "k2"], dels)
    assert list(keep) == [True, False, False]
    # data side all-null, delete mixes: only the null delete key fires
    table2 = pa.table({"k": pa.nulls(3, pa.int64())})
    dels2 = pa.table({"k": [5, None]})
    keep2 = _eq_delete_keep_mask(table2, ["k"], dels2)
    assert list(keep2) == [False, False, False]


def test_eq_delete_keep_mask_type_promotion_and_empty_deletes():
    """Delete files written before an int→bigint promotion carry the
    narrow type: the kernel casts the delete side to the data side's
    normalized type before hashing. An empty delete file keeps all."""
    import pyarrow as pa

    from hielo_spark.sources.iceberg_source import _eq_delete_keep_mask

    table = pa.table({"k": pa.array([1, 2, 3], type=pa.int64())})
    dels = pa.table({"k": pa.array([2], type=pa.int32())})
    assert list(_eq_delete_keep_mask(table, ["k"], dels)) == \
        [True, False, True]
    empty = pa.table({"k": pa.array([], type=pa.int64())})
    assert list(_eq_delete_keep_mask(table, ["k"], empty)) == \
        [True, True, True]


@pytest.mark.slow
def test_scan_task_bin_packing(registered, spark, tmp_path):
    """Many small files pack into few Spark partitions (Iceberg
    read.split.target-size split planning) with identical results; an
    explicit option('split-target-bytes') caps the packing, and files
    at/above the target get one task each."""
    from hielo_spark.sources.iceberg_source import (
        HieloIcebergReader,
        _PackedScanPartition,
    )

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 2_000).repartition(40),
             snapshot_id=101, timestamp_ms=1700000000000)
    cols = [("id", "bigint")]
    packed = HieloIcebergReader(t, {}, cols).partitions()
    assert all(isinstance(p, _PackedScanPartition) for p in packed)
    assert len(packed) < 40                       # actually packed
    assert sum(len(p.files) for p in packed) == 40  # nothing dropped
    # a tiny explicit target forces one file per task
    solo = HieloIcebergReader(
        t, {"split-target-bytes": "1"}, cols).partitions()
    assert len(solo) == 40
    # end-to-end equality
    got = sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t)
        .collect()
    )
    assert got == list(range(2_000))


def test_stream_and_changes_scan_task_bin_packing(
    registered, spark, tmp_path
):
    """r10: the streaming and changes readers pack many-small-file
    batches with the same first-fit policy as the batch scan
    (previously one Spark partition per file), results unchanged."""
    from hielo_spark.sources.iceberg_source import (
        HieloIcebergStreamReader,
        _PackedScanPartition,
    )

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 1_000).repartition(30),
             snapshot_id=101, timestamp_ms=1700000000000)
    snap0 = 101

    # changes surface: packed partitions, same rows
    parts = (
        spark.read.format("hielo_iceberg")
        .option("surface", "changes").load(t)
    )
    rows = parts.collect()
    assert sorted(r.id for r in rows) == list(range(1_000))
    assert all(r._commit_snapshot_id == snap0 for r in rows)
    from hielo_spark.sources.iceberg_source import (
        HieloIcebergChangesReader,
    )

    cols = [("id", "bigint")]
    creader = HieloIcebergChangesReader(t, {}, cols)
    cparts = creader.partitions()
    assert len(cparts) < 30, "changes reader did not pack"
    n_files = sum(
        len(p.scan.files)
        if isinstance(p.scan, _PackedScanPartition) else 1
        for p in cparts
    )
    assert n_files == 30

    # stream reader: packed micro-batch, one partition per file with a
    # tiny explicit target
    sreader = HieloIcebergStreamReader(t, {}, cols)
    start, end = {"snapshot_id": -1}, {"snapshot_id": snap0}
    sparts = sreader.partitions(start, end)
    assert all(isinstance(p, _PackedScanPartition) for p in sparts)
    assert len(sparts) < 30
    assert sum(len(p.files) for p in sparts) == 30
    solo = HieloIcebergStreamReader(
        t, {"split-target-bytes": "1"}, cols
    ).partitions(start, end)
    assert len(solo) == 30
    got = []
    for p in sparts:
        for batch in sreader.read(p):
            got.extend(batch.column("id").to_pylist())
    assert sorted(got) == list(range(1_000))


def test_variant_extract_typed_subcolumn(registered, spark, tmp_path):
    """r10: option('variant-extract', 'v.a:bigint') surfaces a typed
    top-level variant field as its own column — shredded files serve
    it from the typed_value subcolumn (zero JSON decode), binary
    remainders and unshredded files reconstruct per row, mismatched
    types surface null. Composes with option('columns') pruning."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"a": 7, "b": "x"}'),
         (1, '{"a": "not-int", "b": "y"}'),
         (2, '{"b": "z"}'),
         (3, '{"a": null}'),
         (4, '"scalar"'),
         (5, None),
         (6, '{"a": 42, "b": "w"}')],
        "id long, v string")
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a": "bigint"}})
    # mixed-shape table: a later UNSHREDDED append
    C.append(spark, t,
             spark.createDataFrame([(7, '{"a": 100}')],
                                   "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])
    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.a:bigint, v.b:string")
           .load(t))
    assert out.schema.simpleString() == \
        "struct<id:bigint,v:string,v_a:bigint,v_b:string>"
    rows = {r.id: (r.v_a, r.v_b) for r in out.collect()}
    assert rows == {
        0: (7, "x"), 1: (None, "y"), 2: (None, "z"), 3: (None, None),
        4: (None, None), 5: (None, None), 6: (42, "w"), 7: (100, None),
    }
    narrow = (spark.read.format("hielo_iceberg")
              .option("variant-extract", "v.a:bigint")
              .option("columns", "id").load(t))
    assert narrow.columns == ["id", "v_a"]
    assert {(r.id, r.v_a) for r in narrow.collect()} == {
        (0, 7), (1, None), (2, None), (3, None), (4, None), (5, None),
        (6, 42), (7, 100)}
    # a non-variant source refuses loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="not a variant column"):
        (spark.read.format("hielo_iceberg")
         .option("variant-extract", "id.a:bigint").load(t).collect())
    # r12 (ADVICE): path flattening is lossy — colliding out names and
    # shadowed table columns refuse loudly instead of producing
    # duplicate/ambiguous schema fields
    from hielo_spark.sources.iceberg_source import _parse_variant_extracts

    with _pytest.raises(ValueError, match="both flatten"):
        _parse_variant_extracts(
            {"variant-extract": "v.a.b:bigint, v.a_b:bigint"})
    with _pytest.raises(ValueError, match="both flatten"):
        _parse_variant_extracts(
            {"variant-extract": "v.a:bigint, v.a:bigint"})
    # a table with a REAL column named 'v_a' plus a variant 'v':
    # extracting v.a (out name v_a) must refuse, not shadow it
    t_sh = str(tmp_path / "t_shadow")
    C.append(spark, t_sh, spark.createDataFrame(
        [(0, 5, '{"a": 7}')], "id long, v_a long, v string"),
        snapshot_id=101, timestamp_ms=1700000000000, variant_cols=["v"])
    with _pytest.raises(Exception, match="shadows an existing"):
        (spark.read.format("hielo_iceberg")
         .option("variant-extract", "v.a:bigint").load(t_sh).collect())


def test_variant_extract_rowgroup_pruning(registered, spark, tmp_path):
    """r10: a pushed comparison filter on a variant-extract column
    prunes whole ROW GROUPS via the shredded typed subcolumn's footer
    stats (plus proof that no binary remainder could carry the field).
    Results stay exact, and (r11) pruning stays ON under deletes —
    absolute delete/DV/lineage positions are remapped across skipped
    groups instead of disabling the prune (production MOR tables
    always carry deletes; an off-under-deletes gate would kill the
    scale win exactly where it matters)."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    from hielo_spark.sources.iceberg_source import (
        EqualTo,
        HieloIcebergReader,
    )

    t = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr(
        "id", 'concat(\'{"a": \', id, \'}\') AS v').coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a": "bigint"}})
    f = sorted(_glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    pq.write_table(pq.read_table(f), f, row_group_size=1000)
    # in-place rewrite: drop the stale hadoop checksum sidecar or the
    # JVM-plane delete below fails on ChecksumException
    crc = os.path.join(os.path.dirname(f),
                       "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert pq.ParquetFile(f).metadata.num_row_groups == 10

    cols = [("id", "bigint", (), None), ("v", "variant", (), None),
            ("v_a", "vextract:v:a:bigint:", (), None)]
    r = HieloIcebergReader(t, {"variant-extract": "v.a:bigint"}, cols)
    list(r.pushFilters([EqualTo(("v_a",), 5500)]))
    surfaced = sum(
        b.num_rows for p in r.partitions() for b in r.read(p))
    assert surfaced == 1000, "expected exactly one row group read"

    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.a:bigint").load(t)
           .filter("v_a = 5500").collect())
    assert [(x.id, x.v_a) for x in out] == [(5500, 5500)]
    assert (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.a:bigint").load(t)
            .filter("v_a < 0").count()) == 0

    # deletes (a DV here — the variant table is v3) keep pruning ON:
    # the group's absolute delete positions remap across the skipped
    # groups and results stay exact
    C.delete_where(spark, t, "id = 5500",
                   snapshot_id=102, timestamp_ms=1700100000000)
    r2 = HieloIcebergReader(t, {"variant-extract": "v.a:bigint"}, cols)
    list(r2.pushFilters([EqualTo(("v_a",), 5501)]))
    surfaced2 = sum(
        b.num_rows for p in r2.partitions() for b in r2.read(p))
    assert surfaced2 == 999, \
        "pruning must stay ON under deletes (one group minus the DV row)"
    out2 = (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.a:bigint").load(t)
            .filter("v_a IN (5500, 5501)").collect())
    assert [(x.id, x.v_a) for x in out2] == [(5501, 5501)]
    # the deleted row's own group: still read (stats match), row gone
    assert (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.a:bigint").load(t)
            .filter("v_a = 5500").count()) == 0

    # lineage matrix: _row_id must be the ORIGINAL file position even
    # when earlier row groups were skipped (frid=0 ⇒ _row_id == id);
    # driven directly so the pushed filter provably prunes
    r3 = HieloIcebergReader(
        t, {"variant-extract": "v.a:bigint", "row-lineage": "true"},
        cols)
    list(r3.pushFilters([EqualTo(("v_a",), 5501)]))
    lin = [
        (i, rid)
        for p in r3.partitions() for b in r3.read(p)
        for i, rid in zip(b.column("id").to_pylist(),
                          b.column("_row_id").to_pylist())
    ]
    assert len(lin) == 999, "one pruned group under a DV"
    assert all(i == rid for i, rid in lin), \
        "_row_id must remap to the original file position"
    assert (5501, 5501) in lin and (5500, 5500) not in lin

    # position-delete matrix (v2-style file deletes, driven directly —
    # a v3 variant table always commits DVs): doom original positions
    # 5498 and 5502 via a hand-written delete file; the remap must land
    # them inside the single surviving group
    import pyarrow as _pa

    from hielo_spark.sources.iceberg_source import (
        _ScanPartition,
        _read_partition,
    )

    dpath = str(tmp_path / "pos_del.parquet")
    pq.write_table(
        _pa.table({"file_path": [f, f], "pos": [5498, 5502]}), dpath)
    part = _ScanPartition(
        f, 1, [(dpath, 2)], [], cols,
        vx_filters=[("v", (), "a", ">=", 5400)], table_root=t)
    got = [
        i for b in _read_partition(part)
        for i in b.column("id").to_pylist()
    ]
    assert len(got) == 4998, "groups 0-4 pruned, 2 rows pos-deleted"
    assert 5498 not in got and 5502 not in got
    assert 5499 in got and 5000 in got and 9999 in got and 4999 not in got


def test_plain_filter_rowgroup_pruning(registered, spark, tmp_path):
    """r11: pushed filters on PLAIN columns prune row groups via the
    parquet footer stats — the within-file twin of the manifest-bounds
    file pruning. Comparisons, IS NULL / IS NOT NULL, strings, and the
    all-null-chunk rule all prune; results stay exact, including under
    deletes (the orig_pos remap is shared with the variant path)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    from hielo_spark.sources.iceberg_source import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        HieloIcebergReader,
        In,
        IsNotNull,
        IsNull,
        StringStartsWith,
    )

    t = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr(
        "id",
        "concat('s', lpad(cast(id as string), 6, '0')) AS s",
        "CAST(NULL AS string) AS dead").coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000)
    f = sorted(_glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    pq.write_table(pq.read_table(f), f, row_group_size=1000)
    crc = _os.path.join(_os.path.dirname(f),
                        "." + _os.path.basename(f) + ".crc")
    if _os.path.exists(crc):
        _os.remove(crc)

    cols = [("id", "bigint", (), None), ("s", "string", (), None),
            ("dead", "string", (), None)]

    def surfaced(filters):
        r = HieloIcebergReader(t, {}, cols)
        list(r.pushFilters(filters))
        return sum(
            b.num_rows for p in r.partitions() for b in r.read(p))

    assert surfaced([EqualTo(("id",), 5500)]) == 1000
    assert surfaced([GreaterThan(("id",), 8999)]) == 1000
    assert surfaced([EqualTo(("s",), "s005500")]) == 1000
    # two filters intersect: id in group 5, s in group 8 → nothing
    assert surfaced([EqualTo(("id",), 5500),
                     EqualTo(("s",), "s008500")]) == 0
    # all-null column: IS NOT NULL provably empty, comparisons too
    assert surfaced([IsNotNull(("dead",))]) == 0
    assert surfaced([EqualTo(("dead",), "x")]) == 0
    # no-null column: IS NULL provably empty
    assert surfaced([IsNull(("id",))]) == 0
    # IN: groups containing ANY listed value survive (5 and 8 here)
    assert surfaced([In(("id",), (5500, 8500))]) == 2000
    # null-safe equality prunes like "="; <=> NULL like IS NULL
    assert surfaced([EqualNullSafe(("id",), 5500)]) == 1000
    assert surfaced([EqualNullSafe(("id",), None)]) == 0
    # prefix: only the group whose range intersects [p, incr(p))
    assert surfaced([StringStartsWith(("s",), "s0055")]) == 1000
    assert surfaced([StringStartsWith(("s",), "t")]) == 0
    # spark-surface results stay exact
    out = (spark.read.format("hielo_iceberg").load(t)
           .filter("id = 5500").collect())
    assert [(x.id, x.s) for x in out] == [(5500, "s005500")]
    assert (spark.read.format("hielo_iceberg").load(t)
            .filter("s > 's009998'").count()) == 1

    # deletes: pruning stays on, positions remap (v3 → DV)
    C.delete_where(spark, t, "id = 5500",
                   snapshot_id=102, timestamp_ms=1700100000000)
    assert surfaced([EqualTo(("id",), 5501)]) == 999
    assert (spark.read.format("hielo_iceberg").load(t)
            .filter("id IN (5500, 5501)").count()) == 1


def test_variant_extract_nested_paths(registered, spark, tmp_path):
    """r11: variant-extract learns NESTED object paths ("v.a.b") and
    shredded-array element access ("v.arr[0]"). The writer shreds
    dotted paths into recursive typed_value groups and array<prim>
    into element groups; the reader serves fully-shredded paths from
    the typed leaf subcolumn with ZERO JSON decode (asserted by
    poisoning the decoder), and falls back to exact per-row
    reconstruction for binary remainders and unshredded files."""
    import glob as _glob

    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"a": {"b": 7, "c": "x"}, "arr": [10, 20, 30]}'),
         (1, '{"a": {"b": "not-int"}, "arr": [1]}'),
         (2, '{"a": 5, "arr": "not-a-list"}'),
         (3, '{"a": {"c": "only"}, "other": 1}'),
         (4, '{"arr": [null, 2]}'),
         (5, None),
         (6, '{"a": {"b": 42}, "arr": []}')],
        "id long, v string")
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"],
             variant_shred={"v": {"a.b": "bigint",
                                  "arr": "array<bigint>"}})
    # a later UNSHREDDED append exercises the reconstruction fallback
    C.append(spark, t,
             spark.createDataFrame(
                 [(7, '{"a": {"b": 100}, "arr": [5, 6]}')],
                 "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])
    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract",
                   "v.a.b:bigint, v.arr[0]:bigint, v.arr[1]:bigint")
           .load(t))
    assert out.columns == ["id", "v", "v_a_b", "v_arr_0", "v_arr_1"]
    rows = {r.id: (r.v_a_b, r.v_arr_0, r.v_arr_1)
            for r in out.collect()}
    assert rows == {
        0: (7, 10, 20), 1: (None, 1, None), 2: (None, None, None),
        3: (None, None, None), 4: (None, None, 2),
        5: (None, None, None), 6: (42, None, None),
        7: (100, 5, 6),
    }
    # the shredded file's parquet carries the recursive group shape,
    # and the typed leaf serves v.a.b with no variant decode: verify
    # by checking the leaf subcolumn exists with the expected values
    shredded = [
        p for p in sorted(
            _glob.glob(t + "/data/**/*.parquet", recursive=True))
        if "typed_value" in [
            fl.name for fl in pq.ParquetFile(p).schema_arrow
            .field("v").type
        ]
    ]
    assert shredded
    sch = pq.ParquetFile(shredded[0]).schema_arrow
    vt = sch.field("v").type.field("typed_value").type
    ab = (vt.field("a").type.field("typed_value").type
          .field("b").type.field("typed_value").type)
    assert str(ab) == "int64"
    leaf_vals = []
    for p in shredded:
        leaf = (pq.read_table(p, columns=["v"]).column("v")
                .combine_chunks().field("typed_value")
                .field("a").field("typed_value").field("b")
                .field("typed_value"))
        leaf_vals += [x for x in leaf.to_pylist() if x is not None]
    assert sorted(leaf_vals) == [7, 42]
    # canonical JSON roundtrip survives nested shredding (arrays,
    # remainders, nested mismatches all reconstruct exactly)
    vjson = {r.id: r.v for r in out.collect()}
    import json as _json
    assert _json.loads(vjson[0]) == {"a": {"b": 7, "c": "x"},
                                     "arr": [10, 20, 30]}
    assert _json.loads(vjson[1]) == {"a": {"b": "not-int"}, "arr": [1]}
    assert _json.loads(vjson[2]) == {"a": 5, "arr": "not-a-list"}
    assert _json.loads(vjson[4]) == {"arr": [None, 2]}
    assert _json.loads(vjson[6]) == {"a": {"b": 42}, "arr": []}

    # nested-path row-group pruning: the leaf typed subcolumn's stats
    # prune groups when every value column ALONG the path is all-null
    from hielo_spark.sources.iceberg_source import (
        EqualTo,
        HieloIcebergReader,
    )

    t2 = str(tmp_path / "t2")
    df2 = spark.range(10_000).selectExpr(
        "id",
        'concat(\'{"a": {"b": \', id, \'}}\') AS v').coalesce(1)
    C.append(spark, t2, df2, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a.b": "bigint"}})
    f2 = sorted(_glob.glob(t2 + "/data/**/*.parquet", recursive=True))[0]
    pq.write_table(pq.read_table(f2), f2, row_group_size=1000)
    import os as _os
    crc = _os.path.join(_os.path.dirname(f2),
                        "." + _os.path.basename(f2) + ".crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    cols2 = [("id", "bigint", (), None), ("v", "variant", (), None),
             ("v_a_b", "vextract:v:a.b:bigint:", (), None)]
    r = HieloIcebergReader(
        t2, {"variant-extract": "v.a.b:bigint"}, cols2)
    list(r.pushFilters([EqualTo(("v_a_b",), 5500)]))
    surfaced = sum(
        b.num_rows for p in r.partitions() for b in r.read(p))
    assert surfaced == 1000, "nested path must prune to one group"


def test_variant_extract_on_changes_and_stream(registered, spark,
                                               tmp_path):
    """r11: variant-extract works beyond the batch data surface — the
    CDC changes surface appends the typed columns between the data
    columns and the _change_* metadata, and the streaming source
    extracts per micro-batch (it shares the data-surface schema)."""
    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.createDataFrame(
                 [(0, '{"a": 7}'), (1, '{"a": "no"}')],
                 "id long, v string"),
             snapshot_id=101, timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a": "bigint"}})
    C.append(spark, t,
             spark.createDataFrame([(2, '{"a": 9}')],
                                   "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])

    ch = (spark.read.format("hielo_iceberg")
          .option("surface", "changes")
          .option("variant-extract", "v.a:bigint").load(t))
    assert ch.columns == [
        "id", "v", "v_a", "_change_type", "_commit_snapshot_id",
        "_change_ordinal"]
    rows = {r.id: (r.v_a, r._commit_snapshot_id)
            for r in ch.collect()}
    assert rows == {0: (7, 101), 1: (None, 101), 2: (9, 102)}

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (spark.readStream.format("hielo_iceberg")
         .option("initial-snapshot", "earliest")
         .option("variant-extract", "v.a:bigint").load(t)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.id: r.v_a for r in spark.read.parquet(out).collect()}
    assert got == {0: 7, 1: None, 2: 9}


def test_variant_extract_date_leaf():
    """r11 review fix: 'v.d:date' must (a) serve a date32-shredded
    leaf from the typed fast path (a foreign writer can shred dates
    even though our JSON-string writer can't) and (b) surface NULL —
    not abort the batch — when the value decodes to a non-date (a
    string reaching pa.array(type=date32) raised)."""
    import datetime as dt

    import pyarrow as pa

    from hielo_spark.metadata.variant import (
        _collect_keys,
        _encode_value,
        encode_metadata,
    )
    from hielo_spark.sources.iceberg_source import _variant_extract_array

    # date32-shredded file shape
    inner = pa.StructArray.from_arrays(
        [pa.nulls(3, pa.binary()),
         pa.array([dt.date(2024, 1, 1), None, dt.date(2024, 3, 5)],
                  pa.date32())],
        names=["value", "typed_value"])
    tv = pa.StructArray.from_arrays([inner], names=["d"])
    col = pa.StructArray.from_arrays(
        [pa.nulls(3, pa.binary()), pa.nulls(3, pa.binary()), tv],
        names=["metadata", "value", "typed_value"])
    assert _variant_extract_array(col, "d", "date").to_pylist() == [
        dt.date(2024, 1, 1), None, dt.date(2024, 3, 5)]
    # family mismatch: date leaf as string → nulls
    assert _variant_extract_array(col, "d", "string").to_pylist() == \
        [None, None, None]

    # unshredded row carrying a STRING under d, requested as date →
    # null (previously: ArrowInvalid aborting the whole batch)
    obj = {"d": "2024-01-01"}
    keys: list[str] = []
    _collect_keys(obj, keys, set())
    keys.sort()
    key_id = {k: i for i, k in enumerate(keys)}
    col2 = pa.StructArray.from_arrays(
        [pa.array([encode_metadata(keys)], pa.binary()),
         pa.array([_encode_value(obj, key_id)], pa.binary())],
        names=["metadata", "value"])
    assert _variant_extract_array(col2, "d", "date").to_pylist() == \
        [None]


def test_variant_extract_whole_array(registered, spark, tmp_path):
    """r11: 'v.arr:array<bigint>' extracts the WHOLE array as a typed
    list column — shredded lists serve from the element typed values
    via offset arithmetic (rows with binary elements fall back to
    exact per-row decode), mismatched elements surface null elements
    (cast semantics), non-list values surface a null list."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"arr": [1, 2, 3]}'),
         (1, '{"arr": [4, "mixed", 6]}'),
         (2, '{"arr": "not-a-list"}'),
         (3, '{"arr": []}'),
         (4, '{"other": 1}'),
         (5, None)],
        "id long, v string")
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"],
             variant_shred={"v": {"arr": "array<bigint>"}})
    C.append(spark, t,
             spark.createDataFrame([(6, '{"arr": [7, 8]}')],
                                   "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])
    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.arr:array<bigint>").load(t))
    assert dict(out.dtypes)["v_arr"] == "array<bigint>"
    rows = {r.id: r.v_arr for r in out.collect()}
    assert rows == {
        0: [1, 2, 3], 1: [4, None, 6], 2: None, 3: [],
        4: None, 5: None, 6: [7, 8],
    }
    # as array<string>: int-shredded elements are null elements on
    # BOTH file shapes (family semantics, file-shape-independent)
    as_str = (spark.read.format("hielo_iceberg")
              .option("variant-extract", "v.arr:array<string>")
              .load(t))
    srows = {r.id: r.v_arr for r in as_str.collect()}
    assert srows[0] == [None, None, None]
    assert srows[1] == [None, "mixed", None]
    assert srows[6] == [None, None]


def test_variant_extract_string_date_pruning(
    registered, spark, tmp_path
):
    """r11: row-group pruning extends beyond numerics — string
    equality/range predicates prune on the typed subcolumn's UTF-8
    byte-order min/max stats (spec truncation keeps [min,max]
    enclosing, so skips stay safe)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    from hielo_spark.sources.iceberg_source import (
        EqualTo,
        GreaterThan,
        HieloIcebergReader,
    )

    t = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr(
        "id",
        "concat('{\"s\": \"k', lpad(cast(id as string), 6, '0'),"
        " '\"}') AS v").coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"s": "string"}})
    f = sorted(_glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    pq.write_table(pq.read_table(f), f, row_group_size=1000)
    crc = _os.path.join(_os.path.dirname(f),
                        "." + _os.path.basename(f) + ".crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    cols = [("id", "bigint", (), None), ("v", "variant", (), None),
            ("v_s", "vextract:v:s:string:", (), None)]
    r = HieloIcebergReader(t, {"variant-extract": "v.s:string"}, cols)
    list(r.pushFilters([EqualTo(("v_s",), "k005500")]))
    surfaced = sum(
        b.num_rows for p in r.partitions() for b in r.read(p))
    assert surfaced == 1000, "string equality must prune to one group"
    r2 = HieloIcebergReader(t, {"variant-extract": "v.s:string"}, cols)
    list(r2.pushFilters([GreaterThan(("v_s",), "k008999")]))
    surfaced2 = sum(
        b.num_rows for p in r2.partitions() for b in r2.read(p))
    assert surfaced2 == 1000, "string range must prune to the tail"
    # r11: IN and string-prefix predicates prune variant extracts too
    from hielo_spark.sources.iceberg_source import In, StringStartsWith

    r3 = HieloIcebergReader(t, {"variant-extract": "v.s:string"}, cols)
    list(r3.pushFilters([In(("v_s",), ("k002500", "k007500"))]))
    assert sum(
        b.num_rows for p in r3.partitions() for b in r3.read(p)
    ) == 2000, "IN must keep exactly the two matching groups"
    r4 = HieloIcebergReader(t, {"variant-extract": "v.s:string"}, cols)
    list(r4.pushFilters([StringStartsWith(("v_s",), "k0033")]))
    assert sum(
        b.num_rows for p in r4.partitions() for b in r4.read(p)
    ) == 1000, "prefix must keep exactly the containing group"
    # values stay exact through the Spark surface
    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.s:string").load(t)
           .filter("v_s = 'k005500'").collect())
    assert [(x.id, x.v_s) for x in out] == [(5500, "k005500")]


@pytest.mark.slow
def test_variant_extract_type_mismatch_consistent(
    registered, spark, tmp_path
):
    """r10 review fix: extraction semantics must not depend on file
    shape. A double-shredded 2.7 requested as bigint surfaces NULL
    from the shredded fast path exactly as from an unshredded file
    (an unsafe arrow cast truncated it to 2); int-shredded values
    requested as double still widen on both shapes."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"a": 2.7}'), (1, '{"a": 3.5}')], "id long, v string")
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a": "double"}})
    C.append(spark, t,
             spark.createDataFrame([(2, '{"a": 4.2}')],
                                   "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])
    as_int = (spark.read.format("hielo_iceberg")
              .option("variant-extract", "v.a:bigint").load(t))
    assert {r.id: r.v_a for r in as_int.collect()} == {
        0: None, 1: None, 2: None}
    as_dbl = (spark.read.format("hielo_iceberg")
              .option("variant-extract", "v.a:double").load(t))
    assert {r.id: r.v_a for r in as_dbl.collect()} == {
        0: 2.7, 1: 3.5, 2: 4.2}

    # int-shredded → double request widens on both shapes
    t2 = str(tmp_path / "t2")
    C.append(spark, t2,
             spark.createDataFrame([(0, '{"k": 7}')],
                                   "id long, v string"),
             snapshot_id=101, timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"k": "bigint"}})
    C.append(spark, t2,
             spark.createDataFrame([(1, '{"k": 9}')],
                                   "id long, v string"),
             snapshot_id=102, timestamp_ms=1700100000000,
             variant_cols=["v"])
    wide = (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.k:double").load(t2))
    assert {r.id: r.v_k for r in wide.collect()} == {0: 7.0, 1: 9.0}

    # non-primitive extract types refuse at parse time
    import pytest as _pytest

    with _pytest.raises(Exception, match="primitives only"):
        (spark.read.format("hielo_iceberg")
         .option("variant-extract", "v.k:struct<x:bigint>")
         .load(t2).collect())


def test_variant_extract_array_element_rowgroup_pruning(
        registered, spark, tmp_path):
    """r12 (VERDICT item 6): an array-element predicate (v.arr[0] op k)
    prunes row groups via the shredded list ELEMENT chunk stats — they
    cover ALL elements, a superset of element 0's values, so a
    predicate excluding the whole element range is a safe prune; any
    in-range value keeps the group. Results stay exact."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    from hielo_spark.sources.iceberg_source import (
        EqualTo,
        HieloIcebergReader,
    )

    t = str(tmp_path / "t")
    # arr = [id, id+1]: element stats per group are [lo, hi+1]
    df = spark.range(10_000).selectExpr(
        "id",
        'concat(\'{"arr": [\', id, \', \', id + 1, \']}\') AS v'
    ).coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"],
             variant_shred={"v": {"arr": "array<bigint>"}})
    f = sorted(_glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    pq.write_table(pq.read_table(f), f, row_group_size=1000)
    crc = _os.path.join(_os.path.dirname(f),
                        "." + _os.path.basename(f) + ".crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    assert pq.ParquetFile(f).metadata.num_row_groups == 10

    cols = [("id", "bigint", (), None), ("v", "variant", (), None),
            ("v_arr_0", "vextract:v:arr[0]:bigint:", (), None)]
    r = HieloIcebergReader(
        t, {"variant-extract": "v.arr[0]:bigint"}, cols)
    list(r.pushFilters([EqualTo(("v_arr_0",), 5500)]))
    surfaced = sum(
        b.num_rows for p in r.partitions() for b in r.read(p))
    assert surfaced == 1000, "expected exactly one row group read"

    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.arr[0]:bigint").load(t)
           .filter("v_arr_0 = 5500").collect())
    assert [(x.id, x.v_arr_0) for x in out] == [(5500, 5500)]
    # the 1-of-N conservative case: 5500 is group 5's element RANGE
    # via arr[1]=5500 on id=5499 (group 5: ids 5000..5999 hold
    # elements 5000..6000) — arr[0] = element stats keep the group,
    # the row filter then matches only id 5500
    assert (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.arr[0]:bigint").load(t)
            .filter("v_arr_0 < 0").count()) == 0
    assert (spark.read.format("hielo_iceberg")
            .option("variant-extract", "v.arr[0]:bigint").load(t)
            .filter("v_arr_0 >= 9995").count()) == 5


def test_null_count_file_pruning(registered, spark, tmp_path):
    """r12: IS NULL / IS NOT NULL / comparison filters prune whole
    FILES from null_value_counts — a zero-null file can't serve
    IS NULL, an all-null file can't serve IS NOT NULL or any
    comparison. Results stay exact (Spark re-applies filters)."""
    from pyspark.sql.datasource import EqualTo, IsNotNull, IsNull

    from hielo_spark.sources.iceberg_source import HieloIcebergReader

    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10).selectExpr(
        "id", "cast(null as string) AS v").coalesce(1),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(10, 20).selectExpr(
        "id", "concat('x', id) AS v").coalesce(1),
        snapshot_id=102, timestamp_ms=1700100000000)
    cols = [("id", "bigint"), ("v", "string")]

    def n_tasks(*filters):
        r = HieloIcebergReader(t, {}, cols)
        list(r.pushFilters(list(filters)))
        return len(_tasks(r))

    assert n_tasks() == 2
    assert n_tasks(IsNull(("v",))) == 1        # zero-null file pruned
    assert n_tasks(IsNotNull(("v",))) == 1     # all-null file pruned
    assert n_tasks(EqualTo(("v",), "x15")) == 1  # all-null can't equal
    df = spark.read.format("hielo_iceberg").load(t)
    assert df.filter("v IS NULL").count() == 10
    assert df.filter("v IS NOT NULL").count() == 10
    assert [r.id for r in df.filter("v = 'x15'").collect()] == [15]
    # JVM plane: all-null file pruned for comparisons too
    from hielo_spark.metadata.manifests import read_data_at_snapshot
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("v", "=", "x15"))
    assert len(set(jvm.inputFiles())) == 1
    assert [r.id for r in jvm.collect()] == [15]


@pytest.mark.slow
def test_streaming_max_files_per_micro_batch(registered, tmp_path):
    """streaming-max-files-per-micro-batch (Iceberg Spark-source
    parity, r12): a 5-append backlog with a 1-file cap must drain in
    bounded micro-batches — at least 5 offsets in the checkpoint, not
    one unbounded catch-up batch — and still deliver every row exactly
    once. The cap is metadata-only (snapshot summary counts), so
    planning reads no manifests it wouldn't anyway."""
    import glob as g

    spark = registered
    t = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for i in range(5):
        C.append(
            spark, t,
            spark.createDataFrame([(i, f"v{i}")], ["id", "v"]).coalesce(1),
            snapshot_id=101 + i, timestamp_ms=1700000000000 + i,
        )
    # NOT availableNow: the Python stream source falls back to a single
    # batch there (Spark logs the unsupported-trigger warning), which
    # with a cap would stop at the first capped offset. A continuous
    # trigger + processAllAvailable drains the backlog batch by batch.
    q = (
        spark.readStream.format("hielo_iceberg")
        .option("initial-snapshot", "earliest")
        .option("streaming-max-files-per-micro-batch", "1")
        .load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(processingTime="1 seconds").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(i, f"v{i}") for i in range(5)]
    offsets = g.glob(ck + "/offsets/*")
    assert len(offsets) >= 5, (
        f"cap=1 over 5 single-file appends must take >=5 micro-batches, "
        f"saw {len(offsets)}"
    )
    # restart from the checkpoint with a new 2-append backlog: the
    # partitions(committed, committed) recovery call restores the cap
    # basis, so the backlog still drains capped AND exactly-once
    for i in range(5, 7):
        C.append(
            spark, t,
            spark.createDataFrame([(i, f"v{i}")], ["id", "v"]).coalesce(1),
            snapshot_id=101 + i, timestamp_ms=1700000000000 + i,
        )
    q = (
        spark.readStream.format("hielo_iceberg")
        .option("initial-snapshot", "earliest")
        .option("streaming-max-files-per-micro-batch", "1")
        .load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(processingTime="1 seconds").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(i, f"v{i}") for i in range(7)]  # no dup, no gap
    assert len(g.glob(ck + "/offsets/*")) >= 7


def test_streaming_rows_cap_offset_walk(registered, tmp_path):
    """Direct latestOffset drive of streaming-max-rows-per-micro-batch:
    three 10-row appends with a 10-row cap advance one snapshot per
    call, then hold at head; an uncapped reader jumps straight to head."""
    from hielo_spark.sources.iceberg_source import HieloIcebergStreamReader

    spark = registered
    t = str(tmp_path / "t")
    for i in range(3):
        C.append(spark, t,
                 spark.range(i * 10, (i + 1) * 10).selectExpr("id"),
                 snapshot_id=101 + i, timestamp_ms=1700000000000 + i)
    r = HieloIcebergStreamReader(
        t, {"initial-snapshot": "earliest",
            "streaming-max-rows-per-micro-batch": "10"}, None)
    assert r.initialOffset() == {"snapshot_id": -1}
    assert [r.latestOffset()["snapshot_id"] for _ in range(4)] == [
        101, 102, 103, 103]
    r2 = HieloIcebergStreamReader(
        t, {"initial-snapshot": "earliest"}, None)
    r2.initialOffset()
    assert r2.latestOffset() == {"snapshot_id": 103}


def test_write_format_dynamic_partition_overwrite(registered, tmp_path):
    """mode('overwrite') + option('overwrite-mode', 'dynamic') through
    the DataSource write plane replaces exactly the partitions present
    in the frame (append_files mode 'dynamic-overwrite', the same COW
    tombstone helper as the JVM-plane overwrite_partitions); static
    overwrite still truncates; time travel sees every old row."""
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    spark = registered
    t = str(tmp_path / "t")
    C.append(
        spark, t,
        spark.createDataFrame(
            [(i, f"d{i % 2}", f"old{i}") for i in range(10)],
            ["id", "day", "v"],
        ),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["day"],
    )
    (spark.createDataFrame([(100, "d1", "new")], ["id", "day", "v"])
     .write.format("hielo_iceberg").mode("overwrite")
     .option("overwrite-mode", "dynamic")
     .option("snapshot-id", "102").option("timestamp-ms", "1700100000000")
     .save(t))
    rows = {(r.id, r.day) for r in
            spark.read.format("hielo_iceberg").load(t).collect()}
    assert {r for r in rows if r[1] == "d1"} == {(100, "d1")}
    assert len([r for r in rows if r[1] == "d0"]) == 5
    jvm = {(r.id, r.day) for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    assert jvm == rows
    assert read_data_at_snapshot(
        spark, C.current_metadata_path(t), snapshot_id=101).count() == 10
    # empty dynamic overwrite: no snapshot (nothing to replace)
    (spark.createDataFrame([], "id long, day string, v string")
     .write.format("hielo_iceberg").mode("overwrite")
     .option("overwrite-mode", "dynamic").save(t))
    import json

    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["current-snapshot-id"] == 102


@pytest.mark.slow
def test_changes_surface_renders_delete_and_update(registered, spark,
                                                   tmp_path):
    """r13: delete_where / update_where commits render on the changes
    surface WITHOUT a diff — the commit's new position deletes (v2) or
    DVs (v3) name the before rows, the staged re-append is the after
    image. Re-deletes of already-dead positions never re-render (DV
    replacements union their predecessor). Agrees with the JVM plane's
    read_changelog on both format versions."""
    from hielo_spark.metadata import upgrade_format_version
    from hielo_spark.metadata.manifests import read_changelog

    for v3 in (False, True):
        t = str(tmp_path / f"t{'3' if v3 else '2'}")
        C.append(spark, t, spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], ["id", "v"]),
            snapshot_id=101, timestamp_ms=1700000000000)
        if v3:
            upgrade_format_version(t, 3)
        C.delete_where(spark, t, "id IN (0, 5)",
                       snapshot_id=102, timestamp_ms=1700100000000)
        C.update_where(spark, t, "id IN (1, 6)",
                       {"v": "concat('u', id)"},
                       snapshot_id=103, timestamp_ms=1700200000000)
        # second delete overlapping nothing new dead: id=2
        C.delete_where(spark, t, "id = 2",
                       snapshot_id=104, timestamp_ms=1700300000000)

        got = (spark.read.format("hielo_iceberg")
               .option("surface", "changes")
               .option("from-snapshot-id", "101").load(t).collect())
        by = {}
        for r in got:
            by.setdefault((r._commit_snapshot_id, r._change_type),
                          []).append((r.id, r.v))
        assert sorted(by[(102, "DELETE")]) == [(0, "v0"), (5, "v5")], v3
        assert sorted(by[(103, "UPDATE_BEFORE")]) == [
            (1, "v1"), (6, "v6")], v3
        assert sorted(by[(103, "UPDATE_AFTER")]) == [
            (1, "u1"), (6, "u6")], v3
        assert sorted(by[(104, "DELETE")]) == [(2, "v2")], v3
        assert set(by) == {(102, "DELETE"), (103, "UPDATE_BEFORE"),
                           (103, "UPDATE_AFTER"), (104, "DELETE")}, v3

        # plane agreement: same multiset as read_changelog's rendering
        jvm = read_changelog(
            spark, C.current_metadata_path(t), from_snapshot_id=101
        ).collect()
        jvm_del = sorted(
            (r.id, r.v, r._commit_snapshot_id) for r in jvm
            if r._change_type == "DELETE")
        ds_del = sorted(
            (r.id, r.v, r._commit_snapshot_id) for r in got
            if r._change_type in ("DELETE", "UPDATE_BEFORE"))
        assert jvm_del == ds_del, v3
        jvm_ins = sorted(
            (r.id, r.v, r._commit_snapshot_id) for r in jvm
            if r._change_type == "INSERT")
        ds_ins = sorted(
            (r.id, r.v, r._commit_snapshot_id) for r in got
            if r._change_type in ("INSERT", "UPDATE_AFTER"))
        assert jvm_ins == ds_ins, v3


def test_changes_surface_equality_deletes_still_refuse(registered,
                                                       spark, tmp_path):
    """Equality deletes name KEYS, not positions — the before image
    needs the diff; the changes surface refuses toward
    read_changelog."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.merge_into(
        spark, t, spark.createDataFrame([(1, "m")], ["id", "v"]),
        on=["id"], snapshot_id=102, timestamp_ms=1700100000000)
    with pytest.raises(Exception, match="read_changelog"):
        (spark.read.format("hielo_iceberg")
         .option("surface", "changes")
         .option("from-snapshot-id", "101").load(t).collect())
