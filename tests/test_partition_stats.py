"""Partition statistics files (metadata/partition_stats.py — the
spec's "Partition Statistics" surface): per-partition aggregates
committed as one sorted parquet registered under metadata.json
``partition-statistics``, the spec's typed unified-partition-tuple
keying with PARQUET field ids, per-partition delete attribution (the
delete writers stamp partition values), snapshot-bound expiry, and the
skew report they feed."""

from __future__ import annotations

import json
import os

import pytest

from hielo_spark.metadata import (
    commit as C,
)
from hielo_spark.metadata import (
    partition_skew_report,
    read_partition_statistics,
    write_partition_statistics,
)


def test_write_read_roundtrip_partitioned(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us"), (2, "us"), (3, "eu")], ["id", "region"]),
        partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "id = 1",
                   snapshot_id=102, timestamp_ms=1700100000000)
    entry = write_partition_statistics(spark, t,
                                       timestamp_ms=1700200000000)
    assert entry["snapshot-id"] == 102
    assert os.path.exists(entry["statistics-path"])
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["partition-statistics"] == [entry]

    rows = read_partition_statistics(spark, t).collect()
    stats = {
        (r.partition.asDict() if r.partition else {}).get("region"):
            (r.data_record_count, r.data_file_count,
             r.position_delete_record_count, r.total_record_count)
        for r in rows
    }
    # the position delete (id=1 → region us) lands under its TRUE
    # partition — delete writers stamp partition values (no more
    # empty-partition aggregation row)
    assert set(stats) == {"us", "eu"}
    us_files = stats["us"][1]
    assert stats["us"] == (2, us_files, 1, 1)   # total = 2 data - 1 del
    assert stats["eu"][0] == 1
    assert stats["eu"][2] == 0
    assert stats["eu"][3] == 1
    # the file is sorted by partition (spec: one sorted file)
    regions = [
        (r.partition.asDict() if r.partition else {}).get("region")
        for r in rows
    ]
    assert regions == sorted(regions)
    # field 12 maps the aggregated max sequence back to a snapshot
    by_region = {
        (r.partition.asDict() or {}).get("region"): r for r in rows
    }
    assert by_region["us"].last_updated_snapshot_id == 102  # the delete
    assert by_region["eu"].last_updated_snapshot_id == 101
    # re-write for the same snapshot REPLACES the entry
    entry2 = write_partition_statistics(spark, t,
                                        timestamp_ms=1700300000000)
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["partition-statistics"] == [entry2]


def test_stats_file_carries_spec_parquet_field_ids(spark, tmp_path):
    """A field-id-resolving foreign reader must find the spec's
    permanently-assigned ids: 1-12 top-level, the partition struct's
    children keyed by the partition field-ids from metadata.json."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us"), (2, "eu")], ["id", "region"]),
        partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    entry = write_partition_statistics(spark, t,
                                       timestamp_ms=1700100000000)
    sch = pq.read_schema(entry["statistics-path"])

    def fid(field):
        return int(field.metadata[b"PARQUET:field_id"])

    ids = {f.name: fid(f) for f in sch}
    assert ids == {
        "partition": 1, "spec_id": 2, "data_record_count": 3,
        "data_file_count": 4, "total_data_file_size_in_bytes": 5,
        "position_delete_record_count": 6,
        "position_delete_file_count": 7,
        "equality_delete_record_count": 8,
        "equality_delete_file_count": 9, "total_record_count": 10,
        "last_updated_at": 11, "last_updated_snapshot_id": 12,
    }
    part = sch.field("partition").type
    doc = json.load(open(C.current_metadata_path(t)))
    spec_fields = doc["partition-specs"][0]["fields"]
    # pq.read_schema reconstructs this metadata FROM the parquet-level
    # field ids, so these assertions check what a non-arrow
    # field-id-resolving reader sees too
    assert [
        (part.field(i).name, fid(part.field(i)))
        for i in range(part.num_fields)
    ] == [(f["name"], f["field-id"]) for f in spec_fields]


def test_equality_delete_counts_attributed_when_keys_cover_spec(
    spark, tmp_path
):
    """Equality deletes whose keys include every partition-source
    column write partition-scoped delete files — their counts land
    under the right partition, and total_record_count stays null
    (eq-delete key counts are not row counts)."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us"), (2, "us"), (3, "eu")], ["id", "region"]),
        partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(
        spark, t,
        spark.createDataFrame([(2, "us")], ["id", "region"]),
        snapshot_id=102, timestamp_ms=1700100000000)
    write_partition_statistics(spark, t, timestamp_ms=1700200000000)
    stats = {
        (r.partition.asDict() or {}).get("region"):
            (r.equality_delete_record_count, r.total_record_count)
        for r in read_partition_statistics(spark, t).collect()
    }
    assert stats["us"] == (1, None)
    assert stats["eu"] == (0, 3 - 2)  # eu untouched: 1 data row


def test_unpartitioned_table_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 7),
             snapshot_id=101, timestamp_ms=1700000000000)
    with pytest.raises(ValueError, match="no partition statistics"):
        read_partition_statistics(spark, t)
    # the unified partition type is empty — parquet cannot represent a
    # zero-field group, and Iceberg's PartitionStatsHandler requires a
    # partitioned table too
    with pytest.raises(ValueError, match="partitioned table"):
        write_partition_statistics(spark, t, timestamp_ms=1700100000000)


def test_expiry_drops_snapshot_bound_partition_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us")], ["id", "region"]), partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    e1 = write_partition_statistics(spark, t, timestamp_ms=1700000001000)
    C.append(spark, t, spark.createDataFrame(
        [(2, "eu")], ["id", "region"]),
        snapshot_id=102, timestamp_ms=1700100000000)
    e2 = write_partition_statistics(spark, t, timestamp_ms=1700100001000)
    C.expire_snapshots(t, older_than_ms=1700050000000, retain_last=1)
    doc = json.load(open(C.current_metadata_path(t)))
    assert [e["snapshot-id"] for e in doc["partition-statistics"]] == [102]
    assert not os.path.exists(e1["statistics-path"])
    assert os.path.exists(e2["statistics-path"])


def test_partition_skew_report(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = (
        [(i, "hot") for i in range(900)]
        + [(i, f"p{i % 9}") for i in range(90)]
    )
    C.append(spark, t, spark.createDataFrame(rows, ["id", "part"]),
             partition_by=["part"],
             snapshot_id=101, timestamp_ms=1700000000000)
    write_partition_statistics(spark, t, timestamp_ms=1700000001000)
    hot = partition_skew_report(spark, t, hot_factor=4.0)
    assert len(hot) == 1
    assert hot[0]["partition"] == {"part": "hot"}
    assert hot[0]["data_record_count"] == 900
    assert "salt or split" in hot[0]["reason"]


def test_partition_statistics_surface(spark, tmp_path):
    from hielo_spark.sources import register

    register(spark)
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us")], ["id", "region"]), partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    entry = write_partition_statistics(spark, t,
                                       timestamp_ms=1700000001000)
    rows = (spark.read.format("hielo_iceberg")
            .option("surface", "partition_statistics").load(t).collect())
    assert len(rows) == 1
    assert rows[0].snapshot_id == 101
    assert rows[0].statistics_path == entry["statistics-path"]
    assert rows[0].file_size_in_bytes == entry["file-size-in-bytes"]


def test_merge_eq_delete_counts_attributed(spark, tmp_path):
    """merge_into's delete files (position deletes, as delete_where
    writes them) are scoped to the partition of the rows they delete."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us"), (2, "us"), (3, "eu")], ["id", "region"]),
        partition_by=["region"],
        snapshot_id=101, timestamp_ms=1700000000000)
    C.merge_into(
        spark, t,
        spark.createDataFrame([(2, "us"), (4, "eu")], ["id", "region"]),
        on=["id", "region"],
        snapshot_id=102, timestamp_ms=1700100000000)
    write_partition_statistics(spark, t, timestamp_ms=1700200000000)
    stats = {
        (r.partition.asDict() or {}).get("region"): (
            r.position_delete_record_count, r.equality_delete_record_count)
        for r in read_partition_statistics(spark, t).collect()
    }
    # (2, us) matched → one position deleted under us; (4, eu) not
    # matched → pure insert, nothing deleted under eu; no delete lands
    # under a null partition and no equality delete is written
    assert stats == {"us": (1, 0), "eu": (0, 0)}


def test_skew_report_renders_canonical_time_values(spark, tmp_path):
    """The stats FILE stores spec int ordinals for time transforms;
    the skew report (a human advisory) renders the canonical strings
    back ("2024-03"), r10 display-layer polish."""
    t = str(tmp_path / "t")
    rows = spark.range(0, 220).selectExpr(
        "id",
        "CASE WHEN id < 200 THEN timestamp'2024-03-15 00:00:00' "
        "ELSE timestamp'2024-04-01 00:00:00' END AS ts")
    C.append(spark, t, rows, snapshot_id=101,
             timestamp_ms=1700000000000, partition_by=["months(ts)"])
    write_partition_statistics(spark, t, timestamp_ms=1700100000000)
    report = partition_skew_report(spark, t, hot_factor=2.0)
    assert len(report) == 1
    assert report[0]["partition"] == {"ts_month": "2024-03"}
    assert report[0]["data_record_count"] == 200
