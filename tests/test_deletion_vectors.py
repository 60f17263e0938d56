"""Iceberg v3 deletion vectors (metadata/commit.py `_commit_deletion_
vectors`, metadata/roaring.py, metadata/puffin.py): DELETE WHERE on a
format-version-3 table commits one deletion-vector-v1 Puffin blob per
touched data file instead of position-delete parquet; both read planes
apply them; a replacement DV merges the prior one and supersedes it
(at most one DV per data file, the spec invariant). Every DV commit —
DELETE/UPDATE, MERGE and the maintenance rewrite — writes through
`puffin.write_dv_container` and stages through `_stage_files_manifest`,
so each DV carries its data file's partition spec and values, also
after compaction."""

from __future__ import annotations

import glob
import json
import os

import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata import upgrade_format_version
from hielo_spark.metadata.manifests import read_data_at_snapshot


@pytest.fixture()
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


def _current_mlist(t):
    from hielo_spark.metadata.manifests import _resolve

    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    return _resolve(os.path.join(t, "metadata", "x"),
                    cur["manifest-list"].removeprefix("file:"))


def _v3_table(spark, tmp_path, n=100):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.range(0, n),
             snapshot_id=101, timestamp_ms=1700000000000)
    assert upgrade_format_version(t, 3) == 3
    doc = json.load(open(C.current_metadata_path(t)))
    assert doc["format-version"] == 3
    return t


def test_v3_delete_where_commits_deletion_vectors(spark, tmp_path,
                                                  registered):
    t = _v3_table(spark, tmp_path)
    snap = C.delete_where(spark, t, "id % 10 = 0",
                          snapshot_id=102, timestamp_ms=1700100000000)
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["added-delete-records"] == "10"
    assert int(snap["summary"]["added-dvs"]) >= 1
    # NO position-delete parquet was written; a Puffin file was
    assert not glob.glob(os.path.join(t, "data", "*posdeletes*"))
    puffins = glob.glob(os.path.join(t, "data", "*-dvs-*.puffin"))
    assert len(puffins) == 1

    # the delete manifest entries carry the v3 DV fields
    dvs = C._live_dv_entries(_current_mlist(t), 3)
    assert dvs and all(
        d["path"].endswith(".puffin")
        and d["dv"]["size"] > 0
        for d in dvs
    )
    # each blob decodes to its manifest-recorded cardinality
    from hielo_spark.metadata.puffin import decode_dv_payload

    total = 0
    for d in dvs:
        with open(d["path"], "rb") as fh:
            fh.seek(d["dv"]["offset"])
            pos = decode_dv_payload(fh.read(d["dv"]["size"]))
        total += len(pos)
    assert total == 10

    # the files surface exposes the DV coordinates for operators
    frows = (spark.read.format("hielo_iceberg")
             .option("surface", "files").load(t).collect())
    dv_rows = [r for r in frows if r.content == 1]
    assert dv_rows and all(
        r.referenced_data_file and r.content_size_in_bytes > 0
        and r.file_path.endswith(".puffin")
        for r in dv_rows
    )

    expect = sorted(i for i in range(100) if i % 10)
    mpath = C.current_metadata_path(t)
    got = sorted(r.id for r in read_data_at_snapshot(spark, mpath).collect())
    assert got == expect
    # DataSource plane agrees (blob decoded in-process, no join)
    ds = sorted(r.id for r in
                spark.read.format("hielo_iceberg").load(t).collect())
    assert ds == expect
    # pushed filters compose with DV application
    f = (spark.read.format("hielo_iceberg").load(t)
         .filter("id >= 50").collect())
    assert sorted(r.id for r in f) == [i for i in expect if i >= 50]


def test_v3_second_delete_merges_and_supersedes(spark, tmp_path,
                                                registered):
    t = _v3_table(spark, tmp_path)
    C.delete_where(spark, t, "id % 10 = 0",
                   snapshot_id=102, timestamp_ms=1700100000000)
    snap = C.delete_where(spark, t, "id % 7 = 0",
                          snapshot_id=103, timestamp_ms=1700200000000)
    # the replacement merged the prior DV and superseded it
    assert int(snap["summary"]["replaced-dvs"]) >= 1
    dvs = C._live_dv_entries(_current_mlist(t), 3)
    # AT MOST ONE live DV per referenced data file — the spec invariant
    refs = [d["dv"]["referenced"] for d in dvs]
    assert len(refs) == len(set(refs))
    # and the merged DV holds the UNION of both deletes
    from hielo_spark.metadata.puffin import decode_dv_payload

    total = 0
    for d in dvs:
        with open(d["path"], "rb") as fh:
            fh.seek(d["dv"]["offset"])
            total += len(decode_dv_payload(fh.read(d["dv"]["size"])))
    killed = {i for i in range(100) if i % 10 == 0 or i % 7 == 0}
    assert total == len(killed)

    expect = sorted(set(range(100)) - killed)
    mpath = C.current_metadata_path(t)
    assert sorted(
        r.id for r in read_data_at_snapshot(spark, mpath).collect()
    ) == expect
    assert sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t).collect()
    ) == expect

    # TIME TRAVEL: the first delete's snapshot still reads through its
    # own manifests (supersession rewrote only the NEW snapshot's
    # carry-forward, not history)
    at_102 = sorted(
        r.id for r in read_data_at_snapshot(
            spark, mpath, snapshot_id=102
        ).collect()
    )
    assert at_102 == [i for i in range(100) if i % 10]


def test_v3_appends_after_dv_survive_and_compaction_bakes_in(
    spark, tmp_path
):
    t = _v3_table(spark, tmp_path, n=20)
    C.delete_where(spark, t, "id < 5",
                   snapshot_id=102, timestamp_ms=1700100000000)
    # rows appended AFTER the DV commit are untouched (sequence scoping)
    C.append(spark, t, spark.range(0, 3),
             snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    got = sorted(r.id for r in read_data_at_snapshot(spark, mpath).collect())
    assert got == sorted(list(range(5, 20)) + [0, 1, 2])
    # compaction applies the DVs and drops them
    C.rewrite_data_files(spark, t, snapshot_id=104,
                         timestamp_ms=1700300000000)
    assert C._live_dv_entries(_current_mlist(t), 3) == []
    got2 = sorted(
        r.id for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)
        ).collect()
    )
    assert got2 == got


@pytest.mark.slow
def test_v3_merge_writes_deletion_vectors(spark, tmp_path):
    """MERGE INTO on a v3 table resolves matched keys to ROW POSITIONS
    and commits deletion vectors in the same snapshot as the appended
    rows — no equality-delete parquet — and equality deletes remain
    legal via the direct delete_equality op."""
    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)
    snap = C.merge_into(
        spark, t,
        spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]),
        on=["id"], snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert int(snap["summary"]["added-dvs"]) >= 1
    assert "equality-delete-files" not in snap["summary"]
    assert not glob.glob(os.path.join(t, "data", "seq-*-deletes",
                                      "*.parquet"))
    got = {(r.id, r.v) for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # both planes agree after the DV merge
    from hielo_spark.sources import register

    register(spark)
    ds = {(r.id, r.v) for r in
          spark.read.format("hielo_iceberg").load(t).collect()}
    assert ds == got
    # a second merge supersedes the first merge's DV for the same file
    C.merge_into(
        spark, t, spark.createDataFrame([(1, "A")], ["id", "v"]),
        on=["id"], snapshot_id=103, timestamp_ms=1700200000000,
    )
    dvs = C._live_dv_entries(_current_mlist(t), 3)
    refs = [d["dv"]["referenced"] for d in dvs]
    assert len(refs) == len(set(refs))
    got2 = {(r.id, r.v) for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    assert got2 == {(1, "A"), (2, "B"), (3, "c")}

    # the direct equality-delete commit stays legal on v3
    C.delete_equality(spark, t, spark.createDataFrame([("B",)], ["v"]),
                      snapshot_id=104, timestamp_ms=1700300000000)
    got3 = {(r.id, r.v) for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    assert got3 == {(1, "A"), (3, "c")}


@pytest.mark.slow
def test_rewrite_deletion_vectors_compacts_containers(spark, tmp_path,
                                                      registered):
    """Every delete commit writes a new Puffin container; the
    maintenance rewrite folds all live DVs into ONE container behind
    one manifest, byte-verbatim, without changing what any scan
    reads."""
    t = _v3_table(spark, tmp_path)
    C.delete_where(spark, t, "id % 10 = 0",
                   snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id in (1, 11)",
                   snapshot_id=103, timestamp_ms=1700200000000)
    before = sorted(
        r.id for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)
        ).collect()
    )
    assert len({d["path"] for d in C._live_dv_entries(
        _current_mlist(t), 3)}) == 2

    snap = C.rewrite_deletion_vectors(spark, t, snapshot_id=104,
                                      timestamp_ms=1700300000000)
    assert snap["summary"]["operation"] == "replace"
    dvs = C._live_dv_entries(_current_mlist(t), 3)
    assert len({d["path"] for d in dvs}) == 1
    refs = [d["dv"]["referenced"] for d in dvs]
    assert len(refs) == len(set(refs))
    # scans unchanged, both planes
    mpath = C.current_metadata_path(t)
    assert sorted(
        r.id for r in read_data_at_snapshot(spark, mpath).collect()
    ) == before
    assert sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t).collect()
    ) == before
    # nothing left to compact; a second call is a no-op
    assert C.rewrite_deletion_vectors(spark, t) is None
    # v2 tables are pointed at the position-delete compactor
    t2 = str(tmp_path / "v2t")
    C.append(spark, t2, spark.range(0, 5),
             snapshot_id=201, timestamp_ms=1700000000000)
    with pytest.raises(ValueError, match="rewrite_position_deletes"):
        C.rewrite_deletion_vectors(spark, t2)


@pytest.mark.slow
def test_orphan_sweep_reclaims_superseded_puffins(spark, tmp_path):
    """A superseded DV container stays referenced by RETAINED history
    (time travel), but once those snapshots expire it must be listed by
    the orphan sweep — Puffin files live in the data dir and the
    default glob now covers them."""
    from hielo_spark.ops.analysis import orphan_files

    t = _v3_table(spark, tmp_path)
    C.delete_where(spark, t, "id % 10 = 0",
                   snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id % 7 = 0",
                   snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    # both containers referenced while 102 is retained
    orphans = {r.path for r in orphan_files(
        spark, os.path.join(t, "data"), mpath).collect()}
    assert not any(p.endswith(".puffin") for p in orphans)
    # expire 101+102: the first DV container (superseded by 103's merge)
    # loses its last reference and becomes sweepable
    C.expire_snapshots(t, older_than_ms=1700150000000, retain_last=1)
    orphans2 = {r.path for r in orphan_files(
        spark, os.path.join(t, "data"), C.current_metadata_path(t)
    ).collect()}
    assert sum(1 for p in orphans2 if p.endswith(".puffin")) == 1
    # and the EXECUTING half actually deletes it (same default glob)
    from hielo_spark.ops.analysis import remove_orphan_files

    removed = remove_orphan_files(
        spark, os.path.join(t, "data"), C.current_metadata_path(t)
    )
    assert sum(1 for p in removed if p.endswith(".puffin")) == 1
    assert glob.glob(os.path.join(t, "data", "*.puffin"))  # live one stays
    # reads still green after the sweep
    assert read_data_at_snapshot(
        spark, C.current_metadata_path(t)
    ).count() == len([i for i in range(100) if i % 10 and i % 7])


def test_upgrade_guard_rails(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10),
             snapshot_id=101, timestamp_ms=1700000000000)
    # v2 position deletes block the upgrade until compacted away
    C.delete_where(spark, t, "id = 3",
                   snapshot_id=102, timestamp_ms=1700100000000)
    with pytest.raises(ValueError, match="position-delete"):
        upgrade_format_version(t, 3)
    C.rewrite_data_files(spark, t, snapshot_id=103,
                         timestamp_ms=1700200000000)
    assert upgrade_format_version(t, 3) == 3
    # idempotent; downgrades and unknown targets refused
    assert upgrade_format_version(t, 3) == 3
    with pytest.raises(ValueError, match="downgrade"):
        upgrade_format_version(t, 2)
    with pytest.raises(ValueError, match="format-version 4"):
        upgrade_format_version(t, 4)
    # and the upgraded table's deletes are DVs from here on
    C.delete_where(spark, t, "id = 5",
                   snapshot_id=104, timestamp_ms=1700300000000)
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == [0, 1, 2, 4, 6, 7, 8, 9]


def test_jvm_plane_dv_read_ships_coordinates_executor_side(
    spark, tmp_path, monkeypatch
):
    """Above the driver-decode cardinality threshold the JVM read plane
    ships only (puffin path, offset, size) coordinates to executors —
    blob BYTES are read in-task, never fetched on the driver. Forcing
    the threshold to 0 exercises that path end-to-end; `open` on the
    driver after planning would show up as a wrong result here if the
    coordinates were misplumbed."""
    from hielo_spark.metadata import manifests as M

    t = _v3_table(spark, tmp_path)
    C.delete_where(spark, t, "id % 10 = 3",
                   snapshot_id=102, timestamp_ms=1700100000000)
    monkeypatch.setattr(M, "_DV_DRIVER_DECODE_MAX", 0)
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == [i for i in range(100) if i % 10 != 3]


def test_dv_commit_writes_per_task_containers(spark, tmp_path):
    """A DELETE touching several data files writes per-TASK Puffin
    containers (driver collects coordinates, never blob bytes) — and
    reads on both planes stay exact, with every manifest entry's
    (path, offset, size) pointing into the container its task wrote."""
    t = str(tmp_path / "wh" / "ns" / "t")
    # 6 data files, delete rows in all of them
    C.append(spark, t, spark.range(0, 60).repartition(6),
             snapshot_id=101, timestamp_ms=1700000000000)
    assert upgrade_format_version(t, 3) == 3
    snap = C.delete_where(spark, t, "id % 10 < 3",
                          snapshot_id=102, timestamp_ms=1700100000000)
    assert snap["summary"]["operation"] == "delete"
    assert int(snap["summary"]["added-dvs"]) == 6
    puffins = glob.glob(os.path.join(t, "data", "*-dvs-*.puffin"))
    assert len(puffins) >= 1
    # JVM plane
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == [i for i in range(60) if i % 10 >= 3]
    # DataSource plane
    from hielo_spark.sources import register

    register(spark)
    got2 = sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t).collect()
    )
    assert got2 == got


def test_dv_supersession_is_observable_in_metadata(spark, tmp_path):
    """Replacing a file's DV must leave a visible record: the rewritten
    carried-forward delete manifest re-emits the superseded entry as a
    status=2 tombstone attributed to the superseding snapshot, and its
    manifest-list row reports deleted_files_count/deleted_rows_count.
    The tombstone lives exactly one snapshot (the spec's deleted-entry
    rule) — the next commit's carry-forward drops a tombstone-only
    manifest."""
    from hielo_spark.metadata.manifests import (
        _resolve, read_avro_file, read_manifest_list,
    )

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.range(0, 100).coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    assert upgrade_format_version(t, 3) == 3
    C.delete_where(spark, t, "id < 5",
                   snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id >= 95",
                   snapshot_id=103, timestamp_ms=1700200000000)

    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"] if s["snapshot-id"] == 103)
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    rows = read_manifest_list(spark, mlist).collect()
    rewritten = [r for r in rows
                 if r.content == 1 and (r.deleted_files_count or 0) > 0]
    assert len(rewritten) == 1
    assert rewritten[0].deleted_files_count == 1
    _sch, _meta, raw = read_avro_file(
        _resolve(os.path.join(t, "metadata", "x"),
                 rewritten[0].manifest_path.removeprefix("file:")))
    tomb = [e for e in raw if e.get("status") == 2]
    assert len(tomb) == 1 and tomb[0]["snapshot_id"] == 103
    # one snapshot later the tombstone-only manifest is gone
    C.append(spark, t, spark.range(200, 205),
             snapshot_id=104, timestamp_ms=1700300000000)
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"] if s["snapshot-id"] == 104)
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    rows = read_manifest_list(spark, mlist).collect()
    assert all((r.deleted_files_count or 0) == 0 for r in rows)
    assert all((r.added_files_count or 0) + (r.existing_files_count or 0) > 0
               for r in rows)
    # and reads remain exact throughout
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == list(range(5, 95)) + list(range(200, 205))


def test_dv_compaction_keeps_partition_stamps(spark, tmp_path):
    """Every DV carries its data file's partition, and the maintenance
    rewrite keeps it, so the partition-statistics plane attributes DV
    delete records to their true partitions after compaction."""
    from pyspark.sql import functions as F

    from hielo_spark.metadata import (
        read_partition_statistics,
        write_partition_statistics,
    )
    from hielo_spark.metadata.manifests import live_entries

    t = str(tmp_path / "wh" / "ns" / "t")
    for sid, lo in ((101, 0), (102, 20)):
        C.append(spark, t, spark.range(lo, lo + 20).coalesce(1)
                 .withColumn("r", (F.col("id") % 2).cast("int")),
                 partition_by=["r"], snapshot_id=sid,
                 timestamp_ms=1700000000000 + sid)
    assert upgrade_format_version(t, 3) == 3
    C.delete_where(spark, t, "id < 6",
                   snapshot_id=103, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id >= 30",
                   snapshot_id=104, timestamp_ms=1700200000000)

    def stamps():
        dvs = [e for e in live_entries(_current_mlist(t), 3) if e["dv"]]
        return sorted(str(e["pvals"]) for e in dvs), {
            e["spec_id"] for e in dvs}

    stamped = (["{'r': '0'}"] * 2 + ["{'r': '1'}"] * 2, {0})
    assert stamps() == stamped
    C.rewrite_deletion_vectors(spark, t, snapshot_id=105,
                               timestamp_ms=1700300000000)
    assert stamps() == stamped
    assert len({d["path"] for d in C._live_dv_entries(
        _current_mlist(t), 3)}) == 1
    write_partition_statistics(spark, t, timestamp_ms=1700400000000)
    got = {
        r.partition.r: r.position_delete_record_count
        for r in read_partition_statistics(spark, t).collect()
    }
    assert got == {0: 8, 1: 8}
    assert sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()) == list(range(6, 30))
