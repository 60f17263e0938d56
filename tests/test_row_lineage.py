"""Iceberg v3 row lineage: appends assign contiguous _row_id ranges
(manifest field 142 + table next-row-id watermark), lineage reads
synthesize _row_id = first_row_id + position, deletes keep survivors'
ids, compaction PRESERVES ids by materializing the lineage columns in
rewritten parquet, and merge-updated rows get fresh ids with
_last_updated_sequence_number reflecting the merge's sequence."""

from __future__ import annotations

import glob
import json
import os

import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata import upgrade_format_version
from hielo_spark.metadata.manifests import read_data_at_snapshot


def _lineage(spark, t):
    df = read_data_at_snapshot(
        spark, C.current_metadata_path(t), row_lineage=True
    )
    return {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in df.collect()
    }


def test_appends_assign_contiguous_row_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)
    # pre-upgrade files carry NO ids (nothing assigned retroactively)
    pre = _lineage(spark, t)
    assert all(rid is None for rid, _ in pre.values())

    C.append(spark, t, spark.range(10, 14),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.range(14, 17),
             snapshot_id=103, timestamp_ms=1700200000000)
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["next-row-id"] == 7
    by_snap = {s["snapshot-id"]: s for s in doc["snapshots"]}
    assert by_snap[102]["first-row-id"] == 0
    assert by_snap[103]["first-row-id"] == 4

    lin = _lineage(spark, t)
    post_ids = sorted(
        rid for k, (rid, _) in lin.items() if k >= 10
    )
    assert post_ids == list(range(7))  # contiguous, disjoint ranges
    # _last_updated_sequence_number is each file's data sequence
    assert {lin[10][1], lin[15][1]} == {2, 3}


def test_dv_delete_keeps_survivor_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 1),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    C.append(spark, t, spark.range(1, 21),
             snapshot_id=101, timestamp_ms=1700000000000)
    before = _lineage(spark, t)
    C.delete_where(spark, t, "id % 5 = 0",
                   snapshot_id=102, timestamp_ms=1700100000000)
    after = _lineage(spark, t)
    assert set(after) == {k for k in before if k % 5}
    assert all(after[k] == before[k] for k in after)


def test_compaction_materializes_and_preserves_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 1),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    C.append(spark, t, spark.range(1, 11),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "id = 4",
                   snapshot_id=102, timestamp_ms=1700100000000)
    before = _lineage(spark, t)
    C.rewrite_data_files(spark, t, snapshot_id=103,
                         timestamp_ms=1700200000000)
    after = _lineage(spark, t)
    assert after == before  # ids AND last-updated seq survive rewrite
    # compaction assigns NO new ids — the watermark must not advance
    before_doc = json.load(open(C.current_metadata_path(t)))
    assert before_doc["next-row-id"] == 10
    # the rewritten parquet physically carries the lineage columns
    import pyarrow.parquet as pq

    rewritten = glob.glob(os.path.join(t, "data", "*rewrite*",
                                       "part-*.parquet"))
    assert rewritten
    names = pq.read_schema(rewritten[0]).names
    assert "_row_id" in names
    assert "_last_updated_sequence_number" in names
    # and a NORMAL read never surfaces them
    plain = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert "_row_id" not in plain.columns


@pytest.mark.slow
def test_rewrite_manifests_preserves_first_row_id(spark, tmp_path):
    """Manifest consolidation is metadata-only — it must carry the v3
    first_row_id field through verbatim (the frame-based rebuild used
    to drop it, nulling every non-compacted file's row ids)."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 5),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    C.append(spark, t, spark.range(5, 9),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(9, 12),
             snapshot_id=102, timestamp_ms=1700100000000)
    before = _lineage(spark, t)
    assert any(rid is not None for rid, _ in before.values())
    snap = C.rewrite_manifests(spark, t, snapshot_id=103,
                               timestamp_ms=1700200000000)
    assert snap is not None
    assert _lineage(spark, t) == before


def test_dv_replacement_keeps_totals_net(spark, tmp_path):
    """Summary totals track the LIVE delete set: a second delete that
    replaces a file's DV must not grow total-delete-files forever."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 20).coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)
    s1 = C.delete_where(spark, t, "id = 1",
                        snapshot_id=102, timestamp_ms=1700100000000)
    s2 = C.delete_where(spark, t, "id = 2",
                        snapshot_id=103, timestamp_ms=1700200000000)
    assert s1["summary"]["total-delete-files"] == "1"
    assert s2["summary"]["total-delete-files"] == "1"  # replaced, not +1
    # newly-added delete records exclude the re-merged prior positions
    assert s2["summary"]["added-delete-records"] == "1"


def test_merge_updates_get_fresh_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.createDataFrame([(0, "seed")], ["id", "v"]),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    C.append(spark, t,
             spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    before = _lineage(spark, t)
    C.merge_into(
        spark, t, spark.createDataFrame([(2, "B")], ["id", "v"]),
        on=["id"], snapshot_id=102, timestamp_ms=1700100000000,
    )
    after = _lineage(spark, t)
    assert after[1] == before[1]          # untouched row keeps lineage
    assert after[2][0] != before[2][0]    # updated row is a NEW row
    assert after[2][1] == 3               # updated at the merge's seq
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["next-row-id"] == 3        # 2 appended + 1 merged


@pytest.mark.slow
def test_datasource_lineage_agrees_with_jvm_plane(spark, tmp_path):
    """option('row-lineage','true') surfaces the same _row_id /
    _last_updated_sequence_number on the DataSource plane — synthesized
    for appended files, read from the materialized columns after
    compaction, null for pre-upgrade files — and a v2 table refuses."""
    from hielo_spark.sources import register

    register(spark)
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 2),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    C.append(spark, t, spark.range(2, 12),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "id = 6",
                   snapshot_id=102, timestamp_ms=1700100000000)

    def ds_lineage():
        df = (spark.read.format("hielo_iceberg")
              .option("row-lineage", "true").load(t))
        return {
            r.id: (r._row_id, r._last_updated_sequence_number)
            for r in df.collect()
        }

    assert ds_lineage() == _lineage(spark, t)
    # rewritten files: the DataSource reads the MATERIALIZED columns
    before = ds_lineage()
    C.rewrite_data_files(spark, t, snapshot_id=103,
                         timestamp_ms=1700200000000)
    assert ds_lineage() == before == _lineage(spark, t)

    t2 = str(tmp_path / "v2")
    C.append(spark, t2, spark.range(0, 2),
             snapshot_id=100, timestamp_ms=1699000000000)
    with pytest.raises(Exception, match="format-version"):
        (spark.read.format("hielo_iceberg")
         .option("row-lineage", "true").load(t2).collect())


def test_datasource_writer_assigns_row_ids(spark, tmp_path):
    """The DataSource write plane (commit.append_files, no JVM)
    assigns v3 row ids exactly like the JVM-plane append — contiguous
    from the next-row-id watermark, snapshot first-row-id recorded —
    so a table written through df.write.format('hielo_iceberg') has
    the same lineage as one written through commit.append."""
    import json

    from hielo_spark.sources import register

    register(spark)
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 4),
             snapshot_id=100, timestamp_ms=1699000000000)
    upgrade_format_version(t, 3)
    spark.range(4, 9).write.format("hielo_iceberg").mode("append").save(t)
    spark.range(9, 12).write.format("hielo_iceberg").mode("append").save(t)
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["next-row-id"] == 8  # 5 + 3 rows assigned post-upgrade
    snaps = sorted(
        (s["snapshot-id"] for s in doc["snapshots"]
         if "first-row-id" in s),
    )
    assert len(snaps) == 2
    lin = _lineage(spark, t)
    post = sorted(rid for k, (rid, _) in lin.items() if k >= 4)
    assert post == list(range(8))
    # and the DataSource lineage read agrees
    ds = {r.id: r._row_id for r in
          (spark.read.format("hielo_iceberg")
           .option("row-lineage", "true").load(t).collect())}
    assert ds == {k: rid for k, (rid, _) in lin.items()}


def test_row_lineage_requires_v3(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 3),
             snapshot_id=101, timestamp_ms=1700000000000)
    with pytest.raises(ValueError, match="format-version >= 3"):
        read_data_at_snapshot(
            spark, C.current_metadata_path(t), row_lineage=True
        )
