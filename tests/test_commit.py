"""No-jar Iceberg write path (metadata/commit.py): append commits over a
Hadoop-catalog table dir, read back through our own time travel; plus
rollback and expire-snapshots as real metadata commits, and the
optimistic-concurrency rename guard."""

from __future__ import annotations

import glob
import json
import os

import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata.manifests import read_data_at_snapshot


def test_append_roundtrip_two_snapshots(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")

    s1 = C.append(
        spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    s2 = C.append(
        spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert (s1["sequence-number"], s2["sequence-number"]) == (1, 2)
    assert s2["parent-snapshot-id"] == 101
    assert s2["summary"]["total-records"] == "3"

    mpath = C.current_metadata_path(t)
    assert mpath.endswith("v2.metadata.json")
    at_1 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=101).collect()}
    at_2 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=102).collect()}
    latest = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert at_1 == {1, 2}
    assert at_2 == latest == {1, 2, 3}

    # version-hint tracks the commit
    with open(os.path.join(t, "metadata", "version-hint.text")) as f:
        assert f.read().strip() == "2"


def test_append_readable_by_snapshot_operators(spark, tmp_path):
    """The committed metadata.json feeds the same snapshot plane every
    [meta] operator runs on."""
    from hielo_spark.metadata import snapshots as snap
    from hielo_spark.metadata.metadata_json import snapshots_from_metadata_json

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=11, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=12, timestamp_ms=1700100000000)
    snaps = snapshots_from_metadata_json(spark, "t", C.current_metadata_path(t))
    assert snaps.count() == 2
    latest = snap.latest_snapshot(snaps).collect()[0]
    assert latest.snapshot_id == 12
    ops = {r.operation: r.n for r in snap.operation_counts(snaps).collect()}
    assert ops == {"append": 2}


def test_rollback_and_expire(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=21, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=22, timestamp_ms=1700100000000)

    C.rollback_to_snapshot(t, 21)
    mpath = C.current_metadata_path(t)
    assert mpath.endswith("v3.metadata.json")
    with open(mpath) as f:
        doc = json.load(f)
    assert doc["current-snapshot-id"] == 21
    # latest-by-default now reads the rolled-back state... time travel
    # follows current-snapshot-id? read_data_at_snapshot defaults to the
    # NEWEST snapshot, so pin by id: rollback is a pointer flip, both
    # snapshots remain readable
    assert {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=21).collect()} == {1}

    # roll forward again, then expire the old snapshot
    C.set_current_snapshot(t, 22)
    expired = C.expire_snapshots(t, older_than_ms=1700050000000, retain_last=1)
    assert expired == [21]
    with open(C.current_metadata_path(t)) as f:
        doc = json.load(f)
    assert [s["snapshot-id"] for s in doc["snapshots"]] == [22]
    assert C.expire_snapshots(t, older_than_ms=1700050000000) == []  # idempotent


def test_concurrent_commit_detected(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=31, timestamp_ms=1700000000000)
    # simulate a racing committer that already wrote v2
    with open(os.path.join(t, "metadata", "v2.metadata.json"), "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        C.set_current_snapshot(t, 31)


def test_equality_delete_commit_sequence_scoped(spark, tmp_path):
    """End-to-end MOR through our own write path: append (seq 1) →
    equality delete (seq 2) → re-insert append (seq 3). The delete kills
    the seq-1 copy only; the seq-3 re-insert survives — the exact
    lineage the r4 read-path scoping exists for, now produced by our own
    commits rather than hand-built fixtures."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]),
        snapshot_id=41, timestamp_ms=1700000000000)
    d = C.delete_equality(spark, t, spark.createDataFrame([(2,), (3,)], ["id"]),
                          snapshot_id=42, timestamp_ms=1700100000000)
    assert d["summary"]["operation"] == "delete"
    C.append(spark, t, spark.createDataFrame([(3, "c-reborn")], ["id", "v"]),
             snapshot_id=43, timestamp_ms=1700200000000)

    mpath = C.current_metadata_path(t)
    at_41 = {(r.id, r.v) for r in read_data_at_snapshot(spark, mpath, snapshot_id=41).collect()}
    at_42 = {(r.id, r.v) for r in read_data_at_snapshot(spark, mpath, snapshot_id=42).collect()}
    at_43 = {(r.id, r.v) for r in read_data_at_snapshot(spark, mpath, snapshot_id=43).collect()}
    assert at_41 == {(1, "a"), (2, "b"), (3, "c")}   # before the delete
    assert at_42 == {(1, "a")}                        # delete applied
    assert at_43 == {(1, "a"), (3, "c-reborn")}       # re-insert survives


@pytest.mark.slow
def test_rewrite_data_files_compacts_and_preserves_rows(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    # two appends with forced multi-file layout + an equality delete
    df1 = spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["id", "v"]).repartition(4)
    df2 = spark.createDataFrame([(i, f"v{i}") for i in range(10, 20)], ["id", "v"]).repartition(4)
    C.append(spark, t, df1, snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, df2, snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_equality(
        spark, t, spark.createDataFrame([(3,), (15,)], ["id"]),
        snapshot_id=103, timestamp_ms=1700200000000,
    )
    mpath = C.current_metadata_path(t)
    before = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert before == set(range(20)) - {3, 15}

    snap = C.rewrite_data_files(spark, t, snapshot_id=104, timestamp_ms=1700300000000)
    assert snap["summary"]["operation"] == "replace"
    assert int(snap["summary"]["rewritten-data-files"]) == 8
    assert int(snap["summary"]["added-data-files"]) == 1  # 128 MB target
    assert snap["summary"]["total-records"] == "18"

    mpath = C.current_metadata_path(t)
    after = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert after == before
    # time travel to pre-delete snapshot still sees the original rows
    at_102 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=102).collect()}
    assert at_102 == set(range(20))
    # the replace snapshot's manifest list has exactly one (data) manifest
    from hielo_spark.metadata.manifests import files_from_manifest_list

    files = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:")
    ).collect()
    assert len(files) == 1 and files[0].record_count == 18


def test_rewrite_data_files_plans_live_data_files_only(spark, tmp_path):
    """Compaction counts exactly the live DATA files of the current
    snapshot, from both write planes, and not the position-delete file
    a merge-on-read delete left beside them."""
    from hielo_spark.metadata.manifests import (
        files_from_manifest_list,
        live_data_file_dicts,
    )
    from hielo_spark.sources import register

    register(spark)
    t = str(tmp_path / "wh" / "ns" / "t")
    for i, sid in enumerate((101, 102)):
        C.append(
            spark, t,
            spark.createDataFrame(
                [(i * 10 + k, f"v{k}") for k in range(10)], ["id", "v"]
            ).repartition(2),
            snapshot_id=sid, timestamp_ms=1700000000000 + i * 1000,
        )
    spark.createDataFrame([(20, "w"), (21, "w")], ["id", "v"]).coalesce(1) \
        .write.format("hielo_iceberg").mode("append") \
        .option("snapshot-id", "103").option("timestamp-ms", "1700000003000") \
        .save(t)
    C.delete_where(spark, t, "id = 4 OR id = 21",
                   snapshot_id=104, timestamp_ms=1700000004000)
    mpath = C.current_metadata_path(t)
    before = sorted(
        (r.id, r.v) for r in read_data_at_snapshot(spark, mpath).collect())
    assert [i for i, _ in before] == [
        i for i in range(22) if i not in (4, 21)]
    doc = C._load_doc(t)[0]
    mlist = doc["snapshots"][-1]["manifest-list"].removeprefix("file:")
    live = live_data_file_dicts(mlist)
    assert len(live) == 5  # 2 + 2 from commit.append, 1 DataSource file
    assert files_from_manifest_list(spark, "t", mlist, content=1).count() >= 1

    snap = C.rewrite_data_files(spark, t, snapshot_id=105,
                                timestamp_ms=1700000005000)
    assert int(snap["summary"]["rewritten-data-files"]) == len(live)
    after = sorted(
        (r.id, r.v)
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect())
    assert after == before


def test_rewrite_then_orphan_sweep_reclaims_old_files(spark, tmp_path):
    import glob as g
    import os
    import time

    from hielo_spark.ops.analysis import remove_orphan_files

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(
        spark, t,
        spark.createDataFrame([(i, "x") for i in range(8)], ["id", "v"]).repartition(4),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    C.rewrite_data_files(spark, t, snapshot_id=102, timestamp_ms=1700100000000)
    # expire the pre-rewrite snapshot so its files become orphans
    expired = C.expire_snapshots(t, older_than_ms=1700050000000, retain_last=1)
    assert expired == [101]
    mpath = C.current_metadata_path(t)
    n_before = len(g.glob(os.path.join(t, "data", "**", "*.parquet"), recursive=True))
    removed = remove_orphan_files(
        spark, os.path.join(t, "data"), mpath,
        older_than_ms=int(time.time() * 1000) + 10_000,
    )
    assert len(removed) == 4  # the four pre-rewrite files
    n_after = len(g.glob(os.path.join(t, "data", "**", "*.parquet"), recursive=True))
    assert n_before - n_after == 4
    # live read unharmed
    assert {r.id for r in read_data_at_snapshot(spark, mpath).collect()} == set(range(8))


@pytest.mark.slow
def test_delete_where_position_deletes_sequence_scoped(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "b"), (4, "c")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    snap = C.delete_where(spark, t, "v = 'b'", snapshot_id=102, timestamp_ms=1700100000000)
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["added-delete-records"] == "2"
    # a later append of another v='b' row must SURVIVE (scoping by seq +
    # file identity: the delete only names positions in the old files)
    C.append(spark, t, spark.createDataFrame([(5, "b")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    at_101 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=101).collect()}
    at_102 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=102).collect()}
    at_103 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=103).collect()}
    assert at_101 == {1, 2, 3, 4}
    assert at_102 == {1, 4}
    assert at_103 == {1, 4, 5}
    # and compaction after a position delete bakes it in
    C.rewrite_data_files(spark, t, snapshot_id=104, timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)
    at_104 = {r.id for r in read_data_at_snapshot(spark, mpath, snapshot_id=104).collect()}
    assert at_104 == {1, 4, 5}


def test_partitioned_append_and_partition_pruning(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.createDataFrame(
        [(i, "us" if i % 2 == 0 else "eu", f"v{i}") for i in range(20)],
        ["id", "region", "v"],
    )
    snap = C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000,
                    partition_by=["region"])
    assert snap["summary"]["total-records"] == "20"
    mpath = C.current_metadata_path(t)

    # full read: partition column reattached with its original type
    full = read_data_at_snapshot(spark, mpath)
    assert dict(full.dtypes)["region"] == "string"
    assert {r.region for r in full.collect()} == {"us", "eu"}
    assert full.count() == 20

    # partition filter prunes FILES, not just rows
    us = read_data_at_snapshot(spark, mpath, partition_filter={"region": "us"})
    assert {r.id for r in us.collect()} == set(range(0, 20, 2))
    all_files = set(full.inputFiles())
    us_files = set(us.inputFiles())
    assert us_files < all_files
    assert all("region=us" in f for f in us_files)

    # a partition value no live file carries → valid EMPTY result with
    # the table's schema (r12; previously raised)
    apac = read_data_at_snapshot(spark, mpath,
                                 partition_filter={"region": "apac"})
    assert apac.count() == 0
    assert set(c for c, _ in apac.dtypes) >= {"id", "region"}


def test_partitioned_append_with_deletes_and_rewrite(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.createDataFrame(
        [(i, "us" if i % 2 == 0 else "eu") for i in range(10)], ["id", "region"]
    )
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000,
             partition_by=["region"])
    # equality delete keyed on the PARTITION column value + id
    C.delete_equality(spark, t, spark.createDataFrame([(4,), (5,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    got = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert got == set(range(10)) - {4, 5}
    # pruned read applies the same deletes within the partition
    us = {r.id for r in read_data_at_snapshot(
        spark, mpath, partition_filter={"region": "us"}).collect()}
    assert us == {0, 2, 6, 8}
    # compaction of a partitioned table bakes partition cols into the files
    C.rewrite_data_files(spark, t, snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    after = read_data_at_snapshot(spark, mpath)
    assert {r.id for r in after.collect()} == set(range(10)) - {4, 5}
    assert dict(after.dtypes)["region"] == "string"


def test_int_partition_values_roundtrip_typed(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.createDataFrame([(i, i % 3) for i in range(9)], ["id", "bucket"])
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000,
             partition_by=["bucket"])
    mpath = C.current_metadata_path(t)
    full = read_data_at_snapshot(spark, mpath)
    assert dict(full.dtypes)["bucket"] == "bigint"
    one = read_data_at_snapshot(spark, mpath, partition_filter={"bucket": 1})
    assert {r.id for r in one.collect()} == {1, 4, 7}


def test_add_column_schema_evolution_roundtrip(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.createDataFrame([(3, "c", 30.0)], ["id", "v", "w"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    latest = read_data_at_snapshot(spark, mpath)
    assert set(latest.columns) == {"id", "v", "w"}
    rows = {r.id: r.w for r in latest.collect()}
    assert rows == {1: None, 2: None, 3: 30.0}
    # pre-evolution snapshot never surfaces the added column
    old = read_data_at_snapshot(spark, mpath, snapshot_id=101)
    assert set(old.columns) == {"id", "v"}
    # equality delete on the new column applies only where it exists
    C.delete_equality(spark, t, spark.createDataFrame([(30.0,)], ["w"]),
                      snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    after = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert after == {1, 2}


def test_rewrite_sort_strategy_gives_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") % 7
    )
    C.append(spark, t, df.repartition(8), snapshot_id=101, timestamp_ms=1700000000000)
    C.rewrite_data_files(
        spark, t, target_file_size_bytes=4000, sort_by=["k"],
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    mpath = C.current_metadata_path(t)
    after = read_data_at_snapshot(spark, mpath)
    assert after.count() == 1000
    files = sorted(set(after.inputFiles()))
    assert len(files) > 1
    # sort strategy ⇒ per-file k-ranges are pairwise disjoint
    ranges = []
    for f in files:
        md = pq.read_metadata(f.removeprefix("file:"))
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2, ranges


def test_rewrite_zorder_strategy_runs_and_preserves_rows(spark, tmp_path):
    import pyspark.sql.functions as F

    t = str(tmp_path / "wh" / "ns" / "t")
    df = (
        spark.range(0, 400).withColumnRenamed("id", "x")
        .withColumn("y", (F.col("x") * 37) % 400)
        .withColumn("v", F.col("x") % 5)
    )
    C.append(spark, t, df.repartition(4), snapshot_id=101, timestamp_ms=1700000000000)
    C.rewrite_data_files(
        spark, t, target_file_size_bytes=3000, zorder_by=["x", "y"],
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    mpath = C.current_metadata_path(t)
    after = read_data_at_snapshot(spark, mpath)
    assert after.count() == 400
    assert set(after.columns) == {"x", "y", "v"}  # zkey dropped
    with pytest.raises(ValueError, match="at most one"):
        C.rewrite_data_files(spark, t, sort_by=["x"], zorder_by=["y"])


def test_column_bounds_file_skipping(spark, tmp_path):
    import pyspark.sql.functions as F

    t = str(tmp_path / "wh" / "ns" / "t")
    # range-sorted write → disjoint per-file k-ranges in the manifests
    df = (
        spark.range(0, 1000).withColumnRenamed("id", "k")
        .withColumn("label", F.concat(F.lit("row_"), F.lpad(F.col("k"), 4, "0")))
        .repartitionByRange(5, "k")
        .sortWithinPartitions("k")
    )
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    mpath = C.current_metadata_path(t)

    full = read_data_at_snapshot(spark, mpath)
    n_all = len(set(full.inputFiles()))
    assert n_all == 5

    # numeric bound skip: k > 900 lives in one file
    hot = read_data_at_snapshot(spark, mpath, skip_filter=("k", ">", 900))
    assert len(set(hot.inputFiles())) == 1
    assert {r.k for r in hot.collect()} == set(range(901, 1000))

    # equality probe on the string column (lexicographic bounds)
    one = read_data_at_snapshot(spark, mpath, skip_filter=("label", "=", "row_0042"))
    assert len(set(one.inputFiles())) == 1
    assert [r.k for r in one.collect()] == [42]

    # planning-only mode: superset rows from surviving files
    sup = read_data_at_snapshot(
        spark, mpath, skip_filter=("k", ">", 900), apply_row_filter=False
    )
    assert sup.count() > 99  # whole surviving file, unfiltered

    # everything pruned → a VALID empty result with the table's schema
    # (r12: previously raised; empty match is not an error)
    none = read_data_at_snapshot(spark, mpath, skip_filter=("k", ">", 10_000))
    assert none.count() == 0
    assert set(c for c, _ in none.dtypes) >= {"k", "label"}

    # bounds survive MOR deletes: skip + sequence-scoped delete compose
    C.delete_equality(spark, t, spark.createDataFrame([(950,)], ["k"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    hot2 = read_data_at_snapshot(spark, mpath, skip_filter=("k", ">", 900))
    assert {r.k for r in hot2.collect()} == set(range(901, 1000)) - {950}


def test_refs_tags_and_branches(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1,), (2,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.create_ref(t, "v1.0", 101, ref_type="tag")
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.create_ref(t, "dev", 102, ref_type="branch")

    mpath = C.current_metadata_path(t)
    assert {r.id for r in read_data_at_snapshot(spark, mpath, ref="v1.0").collect()} == {1, 2}
    assert {r.id for r in read_data_at_snapshot(spark, mpath, ref="dev").collect()} == {1, 2, 3}
    # tag pins the old state even as the table moves on
    assert {r.id for r in read_data_at_snapshot(spark, mpath).collect()} == {1, 2, 3}

    with pytest.raises(ValueError, match="no ref named"):
        read_data_at_snapshot(spark, mpath, ref="nope")
    with pytest.raises(ValueError, match="at most one"):
        read_data_at_snapshot(spark, mpath, snapshot_id=101, ref="v1.0")
    with pytest.raises(ValueError, match="not in table"):
        C.create_ref(t, "bad", 999)

    C.drop_ref(t, "dev")
    mpath = C.current_metadata_path(t)
    with pytest.raises(ValueError, match="no ref named"):
        read_data_at_snapshot(spark, mpath, ref="dev")
    assert {r.id for r in read_data_at_snapshot(spark, mpath, ref="v1.0").collect()} == {1, 2}


def test_sorted_rewrite_enables_file_skipping(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    C.append(spark, t, df.repartition(6), snapshot_id=101, timestamp_ms=1700000000000)
    C.rewrite_data_files(
        spark, t, target_file_size_bytes=2000, sort_by=["k"],
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    mpath = C.current_metadata_path(t)
    full = read_data_at_snapshot(spark, mpath)
    n_all = len(set(full.inputFiles()))
    assert n_all > 1
    hot = read_data_at_snapshot(spark, mpath, skip_filter=("k", ">=", 990))
    assert len(set(hot.inputFiles())) == 1  # compacted bounds skip files
    assert {r.k for r in hot.collect()} == set(range(990, 1000))


@pytest.mark.slow
def test_orphan_sweep_spares_live_delete_files(spark, tmp_path):
    """Review fix: the live set must include position/equality delete
    parquets — sweeping a referenced delete file would resurrect deleted
    rows (or break the read outright)."""
    import os
    import time

    from hielo_spark.ops.analysis import remove_orphan_files

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame(
        [(i, "x") for i in range(8)], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(2,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id = 5", snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    before = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert before == set(range(8)) - {2, 5}
    removed = remove_orphan_files(
        spark, os.path.join(t, "data"), mpath,
        older_than_ms=int(time.time() * 1000) + 10_000,
    )
    assert removed == []  # every parquet under data/ is referenced
    after = {r.id for r in read_data_at_snapshot(spark, mpath).collect()}
    assert after == before  # deletes still applied


def test_partitioned_stats_survive_basename_collisions(spark, tmp_path):
    """Review fix: one task writing several hive partitions produces
    identical part-file basenames under different col=value dirs; stats
    must match on full paths or counts/bounds swap between files."""
    from hielo_spark.metadata.manifests import files_from_manifest_list

    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.createDataFrame(
        [(i, "us" if i < 30 else "eu") for i in range(40)], ["id", "region"]
    ).coalesce(1)  # ONE task writes both partition dirs → same basenames
    snap = C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000,
                    partition_by=["region"])
    assert snap["summary"]["total-records"] == "40"
    files = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:")
    ).collect()
    counts = {r.partition_values["region"]: r.record_count for r in files}
    assert counts == {"us": 30, "eu": 10}
    bounds = {r.partition_values["region"]: (r.lower_bounds["id"], r.upper_bounds["id"])
              for r in files}
    assert bounds == {"us": ("0", "29"), "eu": ("30", "39")}


def test_null_partition_value_roundtrips_as_null(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.createDataFrame(
        [(1, "us"), (2, None), (3, "eu")], ["id", "region"]
    )
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000,
             partition_by=["region"])
    mpath = C.current_metadata_path(t)
    got = {r.id: r.region for r in read_data_at_snapshot(spark, mpath).collect()}
    assert got == {1: "us", 2: None, 3: "eu"}
    with pytest.raises(ValueError, match="non-null"):
        read_data_at_snapshot(spark, mpath, partition_filter={"region": None})


def test_unsupported_skip_filter_op_raises(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    mpath = C.current_metadata_path(t)
    for op in ("!=", "=="):
        with pytest.raises(ValueError, match="unsupported skip_filter op"):
            read_data_at_snapshot(spark, mpath, skip_filter=("id", op, 1))
    # r12: "in" is supported, but its value must be a collection
    with pytest.raises(ValueError, match="'in' needs a list"):
        read_data_at_snapshot(spark, mpath, skip_filter=("id", "in", 1))


def test_null_count_stats_and_is_null_skipping(spark, tmp_path):
    import pyspark.sql.functions as F

    t = str(tmp_path / "wh" / "ns" / "t")
    # file A (ids 0-9): v all null; file B (ids 10-19): v never null —
    # two appends make the file boundary deterministic
    a = spark.range(0, 10).select(F.col("id"), F.lit(None).cast("string").alias("v")).coalesce(1)
    b = spark.range(10, 20).select(F.col("id"), F.lit("x").alias("v")).coalesce(1)
    C.append(spark, t, a, snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, b, snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    full = read_data_at_snapshot(spark, mpath)
    assert len(set(full.inputFiles())) == 2

    nulls = read_data_at_snapshot(spark, mpath, skip_filter=("v", "is_null", None))
    assert len(set(nulls.inputFiles())) == 1  # file B skipped by null_counts
    assert {r.id for r in nulls.collect()} == set(range(10))

    vals = read_data_at_snapshot(spark, mpath, skip_filter=("v", "is_not_null", None))
    assert len(set(vals.inputFiles())) == 1  # file A skipped: all-null column
    assert {r.id for r in vals.collect()} == set(range(10, 20))


def test_incremental_append_scan(spark, tmp_path):
    from hielo_spark.metadata.manifests import read_incremental

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1,), (2,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(4,), (5,)], ["id"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)

    assert {r.id for r in read_incremental(spark, mpath, 101).collect()} == {3, 4, 5}
    assert {r.id for r in read_incremental(spark, mpath, 101, 102).collect()} == {3}
    assert {r.id for r in read_incremental(spark, mpath, 102, 103).collect()} == {4, 5}
    assert read_incremental(spark, mpath, 103).count() == 0  # nothing new

    # a delete snapshot in the range invalidates the append scan
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=104, timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)
    with pytest.raises(ValueError, match="non-append"):
        read_incremental(spark, mpath, 101)
    # ranges that avoid the delete still work
    assert {r.id for r in read_incremental(spark, mpath, 101, 103).collect()} == {3, 4, 5}


def test_incremental_scan_preserves_partition_columns(spark, tmp_path):
    """Review fix: partitionBy-written files lack the partition column in
    the parquet; incremental reads must re-attach it from manifests."""
    from hielo_spark.metadata.manifests import read_incremental

    t = str(tmp_path / "wh" / "ns" / "t")
    df1 = spark.createDataFrame([(1, "us"), (2, "eu")], ["id", "region"])
    df2 = spark.createDataFrame([(3, "us"), (4, "eu")], ["id", "region"])
    C.append(spark, t, df1, snapshot_id=101, timestamp_ms=1700000000000,
             partition_by=["region"])
    C.append(spark, t, df2, snapshot_id=102, timestamp_ms=1700100000000,
             partition_by=["region"])
    mpath = C.current_metadata_path(t)
    inc = read_incremental(spark, mpath, 101)
    assert set(inc.columns) == {"id", "region"}
    assert {(r.id, r.region) for r in inc.collect()} == {(3, "us"), (4, "eu")}


def test_incremental_scan_rejects_non_ancestor(spark, tmp_path):
    from hielo_spark.metadata.manifests import read_incremental

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    # 102's lineage does not contain 103 (nonexistent) nor is 102 an
    # ancestor of 101
    with pytest.raises(ValueError, match="not in table"):
        read_incremental(spark, mpath, 103)
    with pytest.raises(ValueError, match="not an ancestor"):
        read_incremental(spark, mpath, 102, 101)


def test_null_counts_cover_non_orderable_columns(spark, tmp_path):
    import pyspark.sql.functions as F

    from hielo_spark.metadata.manifests import files_from_manifest_list

    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.range(0, 4).select(
        "id",
        F.when(F.col("id") < 2, F.lit(True)).alias("flag"),  # boolean, 2 nulls
    )
    snap = C.append(spark, t, df.coalesce(1), snapshot_id=101,
                    timestamp_ms=1700000000000)
    files = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:")
    ).collect()
    assert files[0].null_counts["flag"] == "2"
    mpath = C.current_metadata_path(t)
    # is_not_null on the boolean column uses the counts (no skip here —
    # single file — but the row filter applies)
    vals = read_data_at_snapshot(spark, mpath, skip_filter=("flag", "is_not_null", None))
    assert {r.id for r in vals.collect()} == {0, 1}


# -- MERGE INTO (single-snapshot MOR upsert) -------------------------------


def _rows(spark, mpath, **kw):
    return {
        (r.id, r.v)
        for r in read_data_at_snapshot(spark, mpath, **kw).collect()
    }


def test_merge_into_upsert_single_snapshot(spark, tmp_path):
    """One merge commit = one snapshot + one metadata version, carrying
    both the equality-delete and the appended rows atomically."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    src = spark.createDataFrame([(2, "B2"), (9, "new")], ["id", "v"])
    snap = C.merge_into(
        spark, t, src, on=["id"], snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["added-records"] == "2"
    assert snap["summary"]["deleted-records"] == "1"
    assert snap["summary"]["total-records"] == "4"
    mpath = C.current_metadata_path(t)
    assert mpath.endswith("v2.metadata.json")  # exactly one version bump
    assert _rows(spark, mpath) == {(1, "a"), (2, "B2"), (3, "c"), (9, "new")}
    # pre-merge snapshot untouched by time travel
    assert _rows(spark, mpath, snapshot_id=101) == {(1, "a"), (2, "b"), (3, "c")}


@pytest.mark.slow
def test_merge_into_delete_clause(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    # matched rows die, unmatched source rows insert
    src = spark.createDataFrame([(1, "x"), (7, "g")], ["id", "v"])
    C.merge_into(
        spark, t, src, on=["id"], when_matched="delete",
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(2, "b"), (3, "c"), (7, "g")}

    # delete-only merge: no insert clause → matched keys just vanish
    C.merge_into(
        spark, t, spark.createDataFrame([(2, "?")], ["id", "v"]),
        on=["id"], when_matched="delete", when_not_matched=None,
        snapshot_id=103, timestamp_ms=1700200000000,
    )
    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(3, "c"), (7, "g")}


@pytest.mark.slow
def test_merge_into_chained_merges_sequence_scoped(spark, tmp_path):
    """A second merge must update rows the FIRST merge appended — i.e.
    the first merge's data files (written at seq N alongside its own
    delete at seq N) are correctly older than the second merge's delete
    at seq N+1."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.merge_into(spark, t, spark.createDataFrame([(1, "a2")], ["id", "v"]),
                 on=["id"], snapshot_id=102, timestamp_ms=1700100000000)
    C.merge_into(spark, t, spark.createDataFrame([(1, "a3")], ["id", "v"]),
                 on=["id"], snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(1, "a3")}
    assert _rows(spark, mpath, snapshot_id=102) == {(1, "a2")}
    assert _rows(spark, mpath, snapshot_id=101) == {(1, "a")}


def test_merge_into_noop_and_validation(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    # nothing matches and insert clause off → no commit at all
    out = C.merge_into(
        spark, t, spark.createDataFrame([(9, "z")], ["id", "v"]),
        on=["id"], when_matched="update", when_not_matched=None,
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert out is None
    assert C.current_metadata_path(t).endswith("v1.metadata.json")

    with pytest.raises(ValueError, match="no clauses"):
        C.merge_into(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
                     on=["id"], when_matched=None, when_not_matched=None)
    with pytest.raises(ValueError, match="key columns missing"):
        C.merge_into(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
                     on=["nope"])
    with pytest.raises(ValueError, match="columns"):
        C.merge_into(spark, t, spark.createDataFrame([(1,)], ["id"]),
                     on=["id"])


def test_merge_into_duplicate_target_keys_all_replaced(spark, tmp_path):
    """Matched keys kill EVERY matching target row (equality-delete
    semantics), then the source rows land once."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(
        spark, t,
        spark.createDataFrame([(1, "a"), (1, "dup"), (2, "b")], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
    )
    snap = C.merge_into(
        spark, t, spark.createDataFrame([(1, "one")], ["id", "v"]),
        on=["id"], snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert snap["summary"]["deleted-records"] == "2"
    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(1, "one"), (2, "b")}


# -- CDC changelog ---------------------------------------------------------


def _changes(spark, mpath, **kw):
    from hielo_spark.metadata.manifests import read_changelog

    return {
        (r._change_ordinal, r._change_type, r.id, r.v)
        for r in read_changelog(spark, mpath, **kw).collect()
    }


@pytest.mark.slow
def test_changelog_full_lineage(spark, tmp_path):
    """append → append → merge-update → delete_where, replayed as
    INSERT/DELETE rows with per-snapshot ordinals."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t,
             spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.merge_into(spark, t, spark.createDataFrame([(2, "B")], ["id", "v"]),
                 on=["id"], snapshot_id=103, timestamp_ms=1700200000000)
    C.delete_where(spark, t, "id = 1",
                   snapshot_id=104, timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)

    assert _changes(spark, mpath) == {
        (0, "INSERT", 1, "a"), (0, "INSERT", 2, "b"),   # root append
        (1, "INSERT", 3, "c"),                           # second append
        (2, "DELETE", 2, "b"), (2, "INSERT", 2, "B"),    # merge = del+ins pair
        (3, "DELETE", 1, "a"),                           # delete_where
    }
    # bounded range: changes strictly after 102
    assert _changes(spark, mpath, from_snapshot_id=102) == {
        (0, "DELETE", 2, "b"), (0, "INSERT", 2, "B"),
        (1, "DELETE", 1, "a"),
    }
    # snapshot ids ride along
    from hielo_spark.metadata.manifests import read_changelog
    sids = {
        (r._change_ordinal, r._commit_snapshot_id)
        for r in read_changelog(spark, mpath, from_snapshot_id=102).collect()
    }
    assert sids == {(0, 103), (1, 104)}


def test_changelog_skips_compaction(spark, tmp_path):
    """A replace (rewrite_data_files) snapshot changes no logical rows
    and must not appear in the changelog."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.rewrite_data_files(spark, t, snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    mpath = C.current_metadata_path(t)
    assert _changes(spark, mpath, from_snapshot_id=101) == {
        (1, "INSERT", 3, "c"),  # ordinal 0 was the skipped replace
    }


def test_changelog_validation(spark, tmp_path):
    from hielo_spark.metadata.manifests import read_changelog

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    mpath = C.current_metadata_path(t)
    with pytest.raises(ValueError, match="not in table"):
        read_changelog(spark, mpath, from_snapshot_id=999)
    # empty range (from == to): a correctly-shaped empty changelog
    empty = read_changelog(spark, mpath, from_snapshot_id=101, to_snapshot_id=101)
    assert empty.count() == 0
    assert {"_change_type", "_commit_snapshot_id", "_change_ordinal"} <= set(empty.columns)


# -- rewrite_manifests (metadata compaction) -------------------------------


@pytest.mark.slow
def test_rewrite_manifests_consolidates_without_touching_data(spark, tmp_path):
    """Five tiny appends leave five data manifests; rewrite_manifests
    collapses them to one, rows and time travel unchanged, deletes
    still scoped, changelog skips the replace snapshot."""
    from hielo_spark.metadata.manifests import (
        read_changelog, read_manifest_list,
    )

    t = str(tmp_path / "wh" / "ns" / "t")
    for i in range(5):
        C.append(spark, t, spark.createDataFrame([(i, f"v{i}")], ["id", "v"]),
                 snapshot_id=101 + i, timestamp_ms=1700000000000 + i * 1000)
    # a MOR equality delete rides along and must survive untouched
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=110, timestamp_ms=1700010000000)

    snap = C.rewrite_manifests(spark, t, snapshot_id=111,
                               timestamp_ms=1700020000000)
    assert snap["summary"]["operation"] == "replace"
    assert snap["summary"]["rewritten-manifests"] == "5"
    assert snap["summary"]["added-manifests"] == "1"

    manifests = read_manifest_list(
        spark, snap["manifest-list"].removeprefix("file:")
    ).collect()
    assert sum(1 for m in manifests if (m.content or 0) == 0) == 1
    assert sum(1 for m in manifests if (m.content or 0) == 1) == 1  # delete kept

    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(0, "v0"), (2, "v2"), (3, "v3"), (4, "v4")}
    # data-file seqs preserved: a delete at seq 6 still kills id=1 rows
    # from the seq-2 file even though the manifest was rewritten at seq 7
    assert _rows(spark, mpath, snapshot_id=103) == {(0, "v0"), (1, "v1"), (2, "v2")}
    # changelog skips it
    log = read_changelog(spark, mpath, from_snapshot_id=110)
    assert log.count() == 0


def test_rewrite_manifests_noop_when_single_manifest(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    assert C.rewrite_manifests(spark, t) is None


@pytest.mark.slow
def test_rewrite_manifests_chunking(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    for i in range(4):
        C.append(spark, t,
                 spark.createDataFrame([(i, "x")], ["id", "v"]).coalesce(1),
                 snapshot_id=101 + i, timestamp_ms=1700000000000 + i)
    snap = C.rewrite_manifests(spark, t, entries_per_manifest=3,
                               snapshot_id=120, timestamp_ms=1700100000000)
    assert snap["summary"]["added-manifests"] == "2"  # 4 entries / 3-cap
    mpath = C.current_metadata_path(t)
    assert {r.id for r in read_data_at_snapshot(spark, mpath).collect()} == {0, 1, 2, 3}


# -- write-audit-publish: branch commits + fast_forward ---------------------


def test_branch_commits_and_fast_forward(spark, tmp_path):
    """Stage appends on a branch, main never sees them, then publish
    with fast_forward; diverged branches refuse to publish."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    # two staged commits on the audit branch
    s2 = C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
                  snapshot_id=102, timestamp_ms=1700100000000, branch="audit")
    s3 = C.append(spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
                  snapshot_id=103, timestamp_ms=1700200000000, branch="audit")
    assert s2["parent-snapshot-id"] == 101
    assert s3["parent-snapshot-id"] == 102

    mpath = C.current_metadata_path(t)
    # main still sees only the published row
    assert _rows(spark, mpath) == {(1, "a")}
    # the branch sees the staged state
    assert _rows(spark, mpath, ref="audit") == {(1, "a"), (2, "b"), (3, "c")}

    C.fast_forward(t, "audit")
    mpath = C.current_metadata_path(t)
    assert _rows(spark, mpath) == {(1, "a"), (2, "b"), (3, "c")}

    # main moves on; the stale branch can no longer fast-forward if it
    # diverges (commit to main, then to the branch from its old head)
    C.append(spark, t, spark.createDataFrame([(4, "d")], ["id", "v"]),
             snapshot_id=104, timestamp_ms=1700300000000)
    C.append(spark, t, spark.createDataFrame([(9, "z")], ["id", "v"]),
             snapshot_id=105, timestamp_ms=1700400000000, branch="side")
    # side branched from 104 (current at its creation) → ancestor holds
    C.fast_forward(t, "side")
    assert _rows(spark, C.current_metadata_path(t)) == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (9, "z")}


def test_fast_forward_rejects_diverged_branch(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=102, timestamp_ms=1700100000000, branch="wap")
    # main advances independently → branch head no longer descends from main
    C.append(spark, t, spark.createDataFrame([(3, "c")], ["id", "v"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    with pytest.raises(ValueError, match="diverged"):
        C.fast_forward(t, "wap")
    with pytest.raises(ValueError, match="no branch"):
        C.fast_forward(t, "nope")


def test_branch_append_rejects_tag_ref(spark, tmp_path):
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.create_ref(t, "v1", 101, ref_type="tag")
    with pytest.raises(ValueError, match="tag, not a branch"):
        C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
                 snapshot_id=102, timestamp_ms=1700100000000, branch="v1")


@pytest.mark.slow
def test_summary_totals_feed_health_suite(spark, tmp_path):
    """Commit summaries carry running total-data-files/total-delete-
    files/total-size (the keys the reference's health suite reads), so
    the A-family operators run meaningfully on our own tables."""
    import json

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame(
        [(i, "x" * 50) for i in range(20)], ["id", "v"]).coalesce(2),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(99, "y")], ["id", "v"]).coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=103, timestamp_ms=1700200000000)
    C.merge_into(spark, t, spark.createDataFrame([(2, "Z"), (500, "n")],
                                                 ["id", "v"]),
                 on=["id"], snapshot_id=104, timestamp_ms=1700300000000)
    C.rewrite_data_files(spark, t, snapshot_id=105, timestamp_ms=1700400000000)

    doc = json.load(open(C.current_metadata_path(t)))
    summ = {s["snapshot-id"]: s["summary"] for s in doc["snapshots"]}
    assert summ[101]["total-data-files"] == "2"
    assert summ[102]["total-data-files"] == "3"
    assert summ[102]["total-delete-files"] == "0"
    assert summ[103]["total-data-files"] == "3"   # deletes add no data files
    assert summ[103]["total-delete-files"] == "1"
    assert int(summ[104]["total-data-files"]) >= 4  # merge adds data files
    assert summ[104]["total-delete-files"] == "2"
    # rewrite resets to the compacted file set
    assert int(summ[105]["total-data-files"]) == int(
        summ[105]["added-data-files"])
    assert int(summ[105]["total-size"]) > 0
    for s in summ.values():
        assert int(s["total-size"]) >= 0

    # the health suite runs on our own committed metadata
    from hielo_spark.analytics.health import health_metrics
    from hielo_spark.metadata.metadata_json import snapshots_from_metadata_json

    snaps = snapshots_from_metadata_json(
        spark, "t", C.current_metadata_path(t))
    hm = health_metrics(snaps, as_of="2023-11-20 00:00:00").collect()[0]
    assert hm.total_size_gb > 0


def test_totals_absence_propagates_for_pre_totals_lineage(spark, tmp_path):
    """A base snapshot without totals keys (pre-upgrade table) must not
    seed a delta-as-total false fact: totals stay absent until a
    REPLACE re-establishes them."""
    import json

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    # simulate a pre-totals snapshot: strip the keys from v1's summary
    mpath = C.current_metadata_path(t)
    doc = json.load(open(mpath))
    for k in ("total-data-files", "total-delete-files", "total-size"):
        doc["snapshots"][0]["summary"].pop(k, None)
    with open(mpath, "w") as f:
        json.dump(doc, f)

    C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    doc = json.load(open(C.current_metadata_path(t)))
    s102 = next(s for s in doc["snapshots"] if s["snapshot-id"] == 102)
    assert "total-data-files" not in s102["summary"]  # absence propagates

    # a rewrite (reset) re-establishes honest totals
    C.rewrite_data_files(spark, t, snapshot_id=103, timestamp_ms=1700200000000)
    doc = json.load(open(C.current_metadata_path(t)))
    s103 = next(s for s in doc["snapshots"] if s["snapshot-id"] == 103)
    assert int(s103["summary"]["total-data-files"]) >= 1
    assert int(s103["summary"]["total-size"]) > 0


def test_delete_files_count_toward_total_size(spark, tmp_path):
    import json

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=102, timestamp_ms=1700100000000)
    doc = json.load(open(C.current_metadata_path(t)))
    summ = {s["snapshot-id"]: s["summary"] for s in doc["snapshots"]}
    # delete commit grows total-size by its delete parquet bytes
    assert int(summ[102]["total-size"]) > int(summ[101]["total-size"])
    assert summ[102]["total-data-files"] == summ[101]["total-data-files"]


def test_recorded_sort_order_drives_compaction(spark, tmp_path):
    """update_sort_order + plain rewrite_data_files → range-sorted
    output files with disjoint id bounds (no per-call config)."""
    from hielo_spark.metadata.manifests import files_from_manifest_list

    t = str(tmp_path / "wh" / "ns" / "t")
    import pyspark.sql.functions as F
    df = spark.range(0, 400).select(
        F.col("id").cast("bigint").alias("id"),
        (F.col("id") % 7).cast("string").alias("v"),
    ).repartition(4)  # unsorted, interleaved files
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    assert C.update_sort_order(t, ["id"]) == 1

    snap = C.rewrite_data_files(spark, t, target_file_size_bytes=2000,
                                snapshot_id=102, timestamp_ms=1700100000000)
    files = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:")
    ).collect()
    assert len(files) >= 2
    ranges = sorted(
        (int(f.lower_bounds["id"]), int(f.upper_bounds["id"])) for f in files
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: the recorded order was applied
    assert {r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()} == set(range(400))

    with pytest.raises(ValueError, match="not in table schema"):
        C.update_sort_order(t, ["nope"])


def test_append_honors_default_sort_order(spark, tmp_path):
    """r11: once a default sort order is recorded, APPENDS apply it as
    a local per-task sort (no shuffle) — fresh files arrive with
    monotone row-group stats so footer pruning bites immediately, and
    each manifest entry records the sort_order_id."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from hielo_spark.metadata.avro_py import read_avro_file
    from hielo_spark.metadata.manifests import _resolve

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    oid = C.update_sort_order(t, ["id"])

    # shuffled input, ONE task → one file whose rows must come back
    # sorted by the recorded order
    shuf = (spark.range(10, 4010)
            .select(F.col("id"))
            .orderBy(F.rand(seed=7)).coalesce(1))
    C.append(spark, t, shuf, snapshot_id=102,
             timestamp_ms=1700100000000)
    newest = sorted(
        glob.glob(t + "/data/seq-00002/**/*.parquet", recursive=True))
    assert len(newest) == 1
    ids = pq.read_table(newest[0], columns=["id"]).column(
        "id").to_pylist()
    assert ids == sorted(ids), "append must apply the sort order"

    # the manifest entry records the order id for the sorted append
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    oids = set()
    for r in rows:
        mp = _resolve(mlist, r["manifest_path"])
        _s2, _m2, entries = read_avro_file(mp)
        for e in entries:
            oids.add(e["data_file"].get("sort_order_id"))
    assert oid in oids, "sorted append must stamp sort_order_id"
    assert None in oids, "the pre-order append stays unstamped"

    # reads stay exact
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == list(range(4010))

    # MERGE-appended rows honor the order too
    src = (spark.range(4010, 5010).selectExpr("id")
           .orderBy(F.rand(seed=11)).coalesce(1))
    C.merge_into(spark, t, src, on=["id"], snapshot_id=103,
                 timestamp_ms=1700200000000)
    merged = sorted(
        glob.glob(t + "/data/seq-00003/**/*.parquet", recursive=True))
    assert len(merged) == 1
    mids = pq.read_table(merged[0], columns=["id"]).column(
        "id").to_pylist()
    assert mids == sorted(mids), "merge must apply the sort order"


def test_append_honors_desc_nulls_last_sort_order(spark, tmp_path):
    """r12 (ADVICE): a sort order declaring desc / nulls-last must be
    applied AS DECLARED — a file physically sorted ascending while its
    manifest entry claims the desc order id would misrepresent the
    sort to downstream readers/compaction that trust sort_order_id."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from hielo_spark.metadata.avro_py import read_avro_file
    from hielo_spark.metadata.manifests import _resolve

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1.0,), (2.0,)], "x double"),
        snapshot_id=101, timestamp_ms=1700000000000)
    oid = C.update_sort_order(t, ["x desc nulls-last"])

    rows = [(float(i),) for i in range(500)] + [(None,)] * 3
    shuf = (spark.createDataFrame(rows, "x double")
            .orderBy(F.rand(seed=3)).coalesce(1))
    C.append(spark, t, shuf, snapshot_id=102,
             timestamp_ms=1700100000000)
    newest = sorted(
        glob.glob(t + "/data/seq-00002/**/*.parquet", recursive=True))
    assert len(newest) == 1
    vals = pq.read_table(newest[0], columns=["x"]).column(
        "x").to_pylist()
    non_null = [v for v in vals if v is not None]
    assert non_null == sorted(non_null, reverse=True), "desc not applied"
    assert vals[-3:] == [None, None, None], "nulls-last not applied"

    # and the entry is stamped with the order it is ACTUALLY in
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, mrows = read_avro_file(mlist)
    oids = set()
    for r in mrows:
        _s2, _m2, entries = read_avro_file(_resolve(mlist,
                                                    r["manifest_path"]))
        for e in entries:
            oids.add(e["data_file"].get("sort_order_id"))
    assert oid in oids


@pytest.mark.slow
def test_write_distribution_mode(spark, tmp_path):
    """r11: the Iceberg write.distribution-mode table property drives
    append clustering — 'range' shuffles by the default sort order so
    files carry DISJOINT ranges; 'hash' shuffles by the partition
    sources so each partition value lands in one file per commit;
    'none'/absent keeps the caller's distribution."""
    import glob

    import pyspark.sql.functions as F

    from hielo_spark.metadata.manifests import files_from_manifest_list

    # range mode: 4 interleaved input partitions → disjoint file ranges
    t = str(tmp_path / "t_range")
    C.append(spark, t, spark.range(0, 10).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.update_sort_order(t, ["id"])
    C.set_table_properties(t, {"write.distribution-mode": "range"})
    shuf = (spark.range(10, 2010).select(F.col("id"))
            .orderBy(F.rand(seed=3)).repartition(4))
    # AQE rightly coalesces a 2k-row range shuffle into one partition;
    # pin it off so the test can SEE the range clustering
    old_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        C.append(spark, t, shuf, snapshot_id=102,
                 timestamp_ms=1700100000000)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled",
            old_coalesce)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    files = files_from_manifest_list(
        spark, "t", cur["manifest-list"].removeprefix("file:")
    ).collect()
    new = [f for f in files if "seq-00002" in f.file_path]
    assert len(new) >= 2
    ranges = sorted(
        (int(f.lower_bounds["id"]), int(f.upper_bounds["id"]))
        for f in new)
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "range mode must produce disjoint files"
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == list(range(2010))

    # hash mode: partitioned table, 4 input tasks → ONE file per
    # partition value for the commit (not one per task per value)
    t2 = str(tmp_path / "t_hash")
    df0 = spark.range(0, 8).selectExpr(
        "id", "cast(id % 2 as string) AS k")
    C.append(spark, t2, df0, snapshot_id=101,
             timestamp_ms=1700000000000, partition_by=["k"])
    C.set_table_properties(t2, {"write.distribution-mode": "hash"})
    df1 = (spark.range(8, 808)
           .selectExpr("id", "cast(id % 2 as string) AS k")
           .repartition(4))
    C.append(spark, t2, df1, snapshot_id=102,
             timestamp_ms=1700100000000, partition_by=["k"])
    per_part = {}
    for p in glob.glob(t2 + "/data/seq-00002/**/part-*.parquet",
                       recursive=True):
        key = [s for s in p.split(os.sep) if s.startswith("k=")][0]
        per_part[key] = per_part.get(key, 0) + 1
    assert per_part == {"k=0": 1, "k=1": 1}, \
        "hash mode must write one file per partition value"
    assert sorted(
        r.id for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t2)).collect()
    ) == list(range(808))

    # r12 (ADVICE): hash mode clusters by the DERIVED transform value —
    # with bucket(2, id), many ids map to each bucket, so hashing the
    # raw source column would spread one bucket across many tasks and
    # break one-file-per-partition-per-commit
    t3 = str(tmp_path / "t_hash_bucket")
    C.append(spark, t3,
             spark.range(0, 8).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000,
             partition_by=["bucket(2, id)"])
    C.set_table_properties(t3, {"write.distribution-mode": "hash"})
    C.append(spark, t3,
             spark.range(8, 808).selectExpr("id").repartition(4),
             snapshot_id=102, timestamp_ms=1700100000000,
             partition_by=["bucket(2, id)"])
    per_bucket = {}
    for p in glob.glob(t3 + "/data/seq-00002/**/part-*.parquet",
                       recursive=True):
        key = [s for s in p.split(os.sep)
               if s.startswith("id_bucket=")][0]
        per_bucket[key] = per_bucket.get(key, 0) + 1
    assert set(per_bucket.values()) == {1}, \
        "hash mode must write one file per derived partition value"
    assert sorted(
        r.id for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t3)).collect()
    ) == list(range(808))


@pytest.mark.slow
def test_metrics_mode_property(spark, tmp_path):
    """r11: write.metadata.metrics.default drives the per-file column
    metrics — truncate(N) shortens STRING bounds with the spec's
    enclosing-range rules (lower = prefix, upper = prefix with last
    code point incremented; numeric bounds untouched), counts drops
    bounds, none drops all column metrics. Reads and file pruning
    stay exact through truncated bounds."""
    from hielo_spark.metadata.manifests import files_from_manifest_list

    def newest_file_row(t):
        doc = json.load(open(C.current_metadata_path(t)))
        cur = next(s for s in doc["snapshots"]
                   if s["snapshot-id"] == doc["current-snapshot-id"])
        rows = files_from_manifest_list(
            spark, "t", cur["manifest-list"].removeprefix("file:")
        ).collect()
        return max(rows, key=lambda r: r.file_path)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"pear-{i:06d}") for i in range(100)], "id long, s string"
    ).coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000)
    C.set_table_properties(
        t, {"write.metadata.metrics.default": "truncate(4)"})
    C.append(spark, t,
             spark.createDataFrame(
                 [(i, f"plum-{i:06d}") for i in range(100, 200)],
                 "id long, s string").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    r = newest_file_row(t)
    assert r.lower_bounds["s"] == "plum"          # 4-cp prefix
    assert r.upper_bounds["s"] == "plun"          # last cp incremented
    assert r.upper_bounds["s"] > "plum-000199"    # still encloses max
    assert r.lower_bounds["id"] == "100"          # numerics untouched
    # pruning through truncated bounds stays exact + conservative
    from hielo_spark.sources import register

    register(spark)
    got = (spark.read.format("hielo_iceberg").load(t)
           .filter("s = 'plum-000150'").collect())
    assert [(x.id, x.s) for x in got] == [(150, "plum-000150")]
    assert (spark.read.format("hielo_iceberg").load(t)
            .filter("s >= 'q'").count()) == 0

    # counts mode: bounds gone, null counts kept
    C.set_table_properties(
        t, {"write.metadata.metrics.default": "counts"})
    C.append(spark, t,
             spark.createDataFrame([(200, "zed")], "id long, s string"),
             snapshot_id=103, timestamp_ms=1700200000000)
    r = newest_file_row(t)
    assert not r.lower_bounds and not r.upper_bounds
    assert r.null_counts["s"] == "0"

    # none mode: no column metrics at all
    C.set_table_properties(
        t, {"write.metadata.metrics.default": "none"})
    C.append(spark, t,
             spark.createDataFrame([(201, "zee")], "id long, s string"),
             snapshot_id=104, timestamp_ms=1700300000000)
    r = newest_file_row(t)
    assert not r.lower_bounds and not r.upper_bounds
    assert not r.null_counts
    # the table still reads exactly under every mode
    assert sorted(
        x.id for x in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect()
    ) == list(range(202))

    # per-column override: id keeps full bounds while s goes counts
    C.set_table_properties(
        t, {"write.metadata.metrics.default": "full",
            "write.metadata.metrics.column.s": "counts"})
    C.append(spark, t,
             spark.createDataFrame([(202, "zef")], "id long, s string"),
             snapshot_id=105, timestamp_ms=1700400000000)
    r = newest_file_row(t)
    assert r.lower_bounds == {"id": "202"} and "s" not in r.upper_bounds
    assert r.null_counts["s"] == "0"  # counts mode keeps counts

    # invalid metrics values raise LOUDLY at the next write (Iceberg
    # validates these properties) — a typo of 'none' must never
    # silently fall back to FULL metrics and embed the values the
    # user asked to keep out of the metadata (r12, ADVICE)
    for bad in ("nonne", "truncate(abc)", "truncate(0)", "min-max"):
        with pytest.raises(ValueError, match="invalid metrics mode"):
            C.set_table_properties(
                t, {"write.metadata.metrics.default": bad})
        with pytest.raises(ValueError, match="invalid metrics mode"):
            C.set_table_properties(
                t, {"write.metadata.metrics.column.s": bad})

    # the all-U+10FFFF upper bound is omitted, never wrong
    from hielo_spark.metadata.commit import _truncate_string_max
    assert _truncate_string_max("\U0010FFFF" * 5, 3) is None
    assert _truncate_string_max("ab\U0010FFFFzz", 3) == "ac"
    # incrementing into the surrogate range jumps past it
    # (surrogates are not valid UTF-8 scalar values)
    assert _truncate_string_max("ab\ud7ffzzz", 3) == "ab\ue000"


def test_distinct_count_stats_recorded(spark, tmp_path):
    """Per-file NDV estimates (HLL) land in manifest entries next to
    bounds/null counts; exact within tolerance on small files."""
    from hielo_spark.metadata.manifests import files_from_manifest_list
    import pyspark.sql.functions as F

    t = str(tmp_path / "wh" / "ns" / "t")
    df = spark.range(0, 300).select(
        F.col("id").cast("bigint").alias("id"),
        (F.col("id") % 10).cast("string").alias("v"),
    ).coalesce(1)
    snap = C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    f = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:")
    ).collect()[0]
    assert abs(int(f.distinct_counts["v"]) - 10) <= 1
    assert abs(int(f.distinct_counts["id"]) - 300) <= 15  # HLL ~5% rsd


def test_equality_delete_null_key_matches_null_rows(spark, tmp_path):
    """Iceberg equality deletes treat null as equal to null: a delete
    row with id=NULL must kill data rows whose id IS NULL."""
    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame(
        [(None, "nullrow"), (1, "a"), (2, "b")], "id int, v string"),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(None,)], "id int"),
                      snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    assert {r.v for r in read_data_at_snapshot(spark, mpath).collect()} == {"a", "b"}


# -- r5 ADVICE regressions: branch isolation of timestamp travel, ----------
# -- ref-ancestry-aware expiration, spec-id carry through rewrites ---------


def test_timestamp_travel_ignores_staged_branch_commits(spark, tmp_path):
    """TIMESTAMP AS OF resolves against the MAIN branch's lineage
    (Iceberg: the snapshot log), so a staged write-audit-publish branch
    commit never leaks into a timestamp read — only fast_forward
    publishes it."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000, branch="audit")
    mpath = C.current_metadata_path(t)
    # a read "as of now" (after the staged commit) sees main only
    seen = {r.id for r in read_data_at_snapshot(
        spark, mpath, as_of_ms=1700200000000).collect()}
    assert seen == {1}
    # the staged rows remain reachable via the ref, as documented
    via_ref = {r.id for r in read_data_at_snapshot(
        spark, mpath, ref="audit").collect()}
    assert via_ref == {1, 2}
    # publish, then the same timestamp read includes the branch commit
    C.fast_forward(t, "audit")
    mpath = C.current_metadata_path(t)
    seen = {r.id for r in read_data_at_snapshot(
        spark, mpath, as_of_ms=1700200000000).collect()}
    assert seen == {1, 2}


def test_expire_protects_branch_ancestry_not_just_head(spark, tmp_path):
    """expire_snapshots keeps every branch-only ancestor of a branch
    head (else fast_forward's ancestry walk breaks on the missing id),
    while main-line snapshots beyond retention still expire."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=11, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=12, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=13, timestamp_ms=1700200000000, branch="dev")
    C.append(spark, t, spark.createDataFrame([(4,)], ["id"]),
             snapshot_id=14, timestamp_ms=1700300000000, branch="dev")
    expired = C.expire_snapshots(t, older_than_ms=1700400000000, retain_last=1)
    # 11: main ancestor beyond retention -> expired. 12: current. 13:
    # branch-only intermediate -> protected. 14: branch head + newest.
    assert expired == [11]
    # the surviving lineage still publishes cleanly (expiry drops
    # HISTORY entries, never rows — snapshot 14's manifests still carry
    # the file appended at 11)
    C.fast_forward(t, "dev")
    mpath = C.current_metadata_path(t)
    assert {r.id for r in read_data_at_snapshot(spark, mpath).collect()} == {1, 2, 3, 4}


def test_expire_keeps_tags_head_only(spark, tmp_path):
    """Tags pin their own snapshot, not their ancestry (Iceberg tag
    semantics) — a tag on the head must not turn expiration into a
    no-op."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=21, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=22, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=23, timestamp_ms=1700200000000)
    C.create_ref(t, "v3", 23, ref_type="tag")
    expired = C.expire_snapshots(t, older_than_ms=1700300000000, retain_last=1)
    assert expired == [21, 22]


def test_rewrite_manifests_carries_source_spec_ids(spark, tmp_path):
    """After partition evolution, consolidated manifests keep each
    source manifest's partition_spec_id instead of collapsing to 0, and
    merge-written data manifests carry the default spec id."""
    from hielo_spark.metadata.manifests import read_manifest_list, _resolve
    import os

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "x")], ["id", "p"]),
             partition_by=["p"], snapshot_id=101, timestamp_ms=1700000000000)
    new_spec = C.update_partition_spec(t, ["id"])
    assert new_spec == 1
    C.append(spark, t, spark.createDataFrame([(2, "y")], ["id", "p"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    snap = C.rewrite_manifests(spark, t, entries_per_manifest=1)
    assert snap is not None
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     snap["manifest-list"].removeprefix("file:"))
    specs = sorted(
        (m.partition_spec_id or 0)
        for m in read_manifest_list(spark, mlist).collect()
        if (m.content or 0) == 0
    )
    assert specs == [0, 1]
    mpath = C.current_metadata_path(t)
    assert {r.id for r in read_data_at_snapshot(spark, mpath).collect()} == {1, 2}


def test_merge_manifest_records_default_spec_id(spark, tmp_path):
    from hielo_spark.metadata.manifests import read_manifest_list, _resolve
    import os

    t = str(tmp_path / "wh" / "ns" / "t")
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.update_partition_spec(t, ["id"])
    oid = C.update_sort_order(t, ["id"])
    snap = C.merge_into(
        spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
        on=["id"], snapshot_id=102, timestamp_ms=1700100000000,
    )
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     snap["manifest-list"].removeprefix("file:"))
    rows = read_manifest_list(spark, mlist).collect()
    merged_data = [m for m in rows
                   if (m.content or 0) == 0 and m.added_snapshot_id == 102]
    assert merged_data and all(m.partition_spec_id == 1 for m in merged_data)
    # merged files honor the default sort order and say so, like appends
    from hielo_spark.metadata.avro_py import read_avro_file

    oids = {
        e["data_file"]["sort_order_id"]
        for m in merged_data
        for e in read_avro_file(_resolve(mlist, m.manifest_path))[2]
    }
    assert oids == {oid}


def test_default_snapshot_id_never_collides(spark, tmp_path):
    """ADVICE r5 low: an explicit snapshot id inside the 1000+seq range
    must not make a later default-id commit create a duplicate (which
    would corrupt by-id lookups and lineage walks) — the default falls
    back to a fresh random id on collision, in both commit planes."""
    import json

    t = str(tmp_path / "t")
    # seq 1 commit takes the id a seq-2 default would want (1002)
    C.append(spark, t, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=1002, timestamp_ms=1700000000000)
    snap = C.append(spark, t, spark.createDataFrame([(2, "b")], ["id", "v"]),
                    timestamp_ms=1700100000000)
    assert snap["snapshot-id"] != 1002
    doc = json.load(open(C.current_metadata_path(t)))
    ids = [s["snapshot-id"] for s in doc["snapshots"]]
    assert len(ids) == len(set(ids)) == 2

    # pure-Python plane: same guard
    t2 = str(tmp_path / "t2")
    C.append(spark, t2, spark.createDataFrame([(1, "a")], ["id", "v"]),
             snapshot_id=1002, timestamp_ms=1700000000000)
    files_dir = str(tmp_path / "extra")
    spark.createDataFrame([(3, "c")], ["id", "v"]).coalesce(1) \
        .write.parquet(files_dir)
    import glob
    import os
    p = glob.glob(os.path.join(files_dir, "part-*.parquet"))[0]
    s2 = C.append_files(t2, [{
        "path": p, "record_count": 1,
        "file_size_in_bytes": os.path.getsize(p),
    }], {"id": "bigint", "v": "string"}, timestamp_ms=1700100000000)
    assert s2["snapshot-id"] != 1002
    doc2 = json.load(open(C.current_metadata_path(t2)))
    ids2 = [s["snapshot-id"] for s in doc2["snapshots"]]
    assert len(ids2) == len(set(ids2)) == 2


# -- r6: distributed MOR-delete writes + candidate pruning ------------------


def test_delete_where_prunes_candidate_files(spark, tmp_path, monkeypatch):
    """A bounds-prunable DELETE must scan only the files whose manifest
    min/max can match the condition (VERDICT r5 #2: the old path
    collected and scanned EVERY live data file)."""
    import hielo_spark.metadata.manifests as M

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id", "id * 2 AS v")
             .coalesce(1), snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(1000, 1100).selectExpr("id", "id * 2 AS v")
             .coalesce(1), snapshot_id=102, timestamp_ms=1700100000000)

    seen = {}
    real = M._read_files_with_partitions

    def spy(spark_, files, row_coords="fp_pos", **kw):
        seen["paths"] = [f["path"] for f in files]
        return real(spark_, files, row_coords, **kw)

    monkeypatch.setattr(M, "_read_files_with_partitions", spy)
    snap = C.delete_where(spark, t, "id >= 1000 AND id < 1050",
                          snapshot_id=103, timestamp_ms=1700200000000)
    assert len(seen["paths"]) == 1  # only the 1000..1100 file scanned
    assert snap["summary"]["added-delete-records"] == "50"
    from hielo_spark.metadata.manifests import read_data_at_snapshot
    df = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert df.count() == 150
    assert df.filter("id >= 1000 AND id < 1050").count() == 0


def test_delete_where_writes_distributed_delete_files(spark, tmp_path):
    """VERDICT r5 lead item: the position-delete write must NOT funnel
    through coalesce(1) — positions repartition by file_path into N
    spec-sorted delete files, one manifest entry each with per-file
    record counts, and both read planes agree on the result."""
    import pyarrow.parquet as pq

    from hielo_spark.metadata.manifests import (
        files_from_manifest_list, read_data_at_snapshot,
    )

    t = str(tmp_path / "t")
    # 8 data files, matches in every one
    C.append(spark, t, spark.range(0, 800).selectExpr("id", "id * 2 AS v")
             .repartition(8), snapshot_id=101, timestamp_ms=1700000000000)
    # AQE rightly coalesces a tiny shuffle to one partition; disable the
    # coalescing for this call so the test observes the hash
    # distribution a 100 TB delete would get
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        snap = C.delete_where(spark, t, "id % 7 = 0",
                              snapshot_id=102, timestamp_ms=1700100000000)
    finally:
        spark.conf.set(coalesce_key, prev)
    n_match = sum(1 for i in range(800) if i % 7 == 0)

    entries = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:"), content=1
    ).collect()
    # distributed: matches spanned 8 files — hash partitioning by
    # file_path must land them in more than one task output
    assert len(entries) > 1
    # per-file record counts are real (sum = matches; no n*parts inflation)
    assert sum(e.record_count for e in entries) == n_match
    for e in entries:
        pf = pq.ParquetFile(e.file_path.removeprefix("file:"))
        assert pf.metadata.num_rows == e.record_count
        # spec ordering: sorted by (file_path, pos) within each file
        tb = pf.read()
        rows = list(zip(tb.column("file_path").to_pylist(),
                        tb.column("pos").to_pylist()))
        assert rows == sorted(rows)
    assert snap["summary"]["added-delete-records"] == str(n_match)

    # both read planes agree
    jvm = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert jvm.count() == 800 - n_match
    from hielo_spark.sources import register
    register(spark)
    pyds = spark.read.format("hielo_iceberg").load(t)
    assert pyds.count() == 800 - n_match
    assert sorted(r.id for r in pyds.collect()) == \
        sorted(r.id for r in jvm.collect())


def test_delete_where_partition_column_condition(spark, tmp_path):
    """The scan now reattaches hive-partition columns, so DELETE WHERE
    on an identity partition column works (the old raw parquet scan
    couldn't see it)."""
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'us' ELSE 'eu' END AS region")
    C.append(spark, t, df, partition_by=["region"],
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "region = 'eu'",
                   snapshot_id=102, timestamp_ms=1700100000000)
    out = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert out.count() == 20
    assert out.filter("region = 'eu'").count() == 0


def test_partitioned_position_delete_files_are_sorted(spark, tmp_path):
    """Hive-partitioned position-delete files must still be sorted by
    (file_path, pos) WITHIN each partition directory: Spark's dynamic
    partitionBy write inserts its own task-local sort on the partition
    columns, so the pre-write sort has to lead with them or the
    writer's re-sort destroys file_path order (Iceberg spec requires
    position deletes ordered by file_path then position, and the
    row-group pruning rationale in commit.py assumes it)."""
    import pyarrow.parquet as pq
    from hielo_spark.metadata.manifests import files_from_manifest_list

    t = str(tmp_path / "t")
    # several data files per partition so each partition's delete file
    # references multiple file_paths (the order-destroying case)
    df = spark.range(0, 600).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'us' ELSE 'eu' END AS region"
    ).repartition(6)
    C.append(spark, t, df, partition_by=["region"],
             snapshot_id=101, timestamp_ms=1700000000000)
    snap = C.delete_where(spark, t, "id % 5 = 0",
                          snapshot_id=102, timestamp_ms=1700100000000)
    entries = files_from_manifest_list(
        spark, "t", snap["manifest-list"].removeprefix("file:"), content=1
    ).collect()
    assert entries, "expected partition-scoped delete files"
    checked = 0
    for e in entries:
        tb = pq.ParquetFile(e.file_path.removeprefix("file:")).read()
        rows = list(zip(tb.column("file_path").to_pylist(),
                        tb.column("pos").to_pylist()))
        assert rows == sorted(rows), \
            f"unsorted position delete file {e.file_path}"
        if len({fp for fp, _ in rows}) > 1:
            checked += 1
    # at least one delete file spans multiple data files, or the test
    # wouldn't exercise the destructive-re-sort scenario
    assert checked >= 1


def test_no_single_partition_delete_write_plan(spark):
    """Plan-level guard: the delete-write helper never introduces a
    1-partition coalesce/repartition — the physical plan of what it
    writes carries the input's parallelism."""
    from pyspark.sql import functions as F

    positions = (
        spark.range(0, 1000)
        .select(F.concat(F.lit("f"), (F.col("id") % 16)).alias("file_path"),
                F.col("id").alias("pos"))
        .repartition(F.col("file_path"))
        .sortWithinPartitions("file_path", "pos")
    )
    plan = positions._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" not in plan and "SinglePartition" not in plan


def test_position_delete_files_carry_bounds_and_prune(spark, tmp_path):
    """r7: position-delete files carry file_path bounds (writer stats,
    spec reserved ids 2147483546/2147483545) and the read planner skips
    delete files that can't reference any surviving data file — a
    partition-scoped scan of a 100 TB table must not materialize every
    delete file in the snapshot."""
    from hielo_spark.metadata.manifests import (
        _prune_pos_deletes,
        read_data_at_snapshot,
    )

    t = str(tmp_path / "t")
    # two disjoint-range files, then two DELETEs each touching one file
    C.append(spark, t, spark.range(0, 100).selectExpr("id AS k").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.range(1000, 1100).selectExpr("id AS k").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "k < 10",
                   snapshot_id=103, timestamp_ms=1700200000000)
    C.delete_where(spark, t, "k >= 1090",
                   snapshot_id=104, timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)

    # bounds present in the delete manifest entries
    import json as _json

    from hielo_spark.metadata.manifests import live_data_file_dicts
    from hielo_spark.metadata.avro_py import read_avro_file

    doc = _json.load(open(mpath))
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == 104)
    _, _, mrows = read_avro_file(snap["manifest-list"].removeprefix("file:"))
    del_entries = []
    for m in mrows:
        if (m.get("content") or 0) != 1:
            continue
        _, _, entries = read_avro_file(m["manifest_path"])
        del_entries += [e["data_file"] for e in entries]
    assert del_entries
    for df_rec in del_entries:
        lb = df_rec.get("lower_bounds_str") or {}
        assert "file_path" in lb
        # spec binary bounds under the reserved position-delete ids
        spec_ids = {kv["key"] for kv in (df_rec.get("lower_bounds") or [])}
        assert 2147483546 in spec_ids

    # full read still correct (both deletes apply)
    full = read_data_at_snapshot(spark, mpath)
    assert full.count() == 180

    # a scan pruned to the second data file must not read the FIRST
    # file's delete parquet: inputFiles lists every scanned parquet
    hot = read_data_at_snapshot(spark, mpath, skip_filter=("k", ">=", 1000))
    scanned = {f.removeprefix("file:") for f in hot.inputFiles()}
    del_parquets = sorted(
        d["path"] if isinstance(d, dict) else d
        for d in (e["file_path"] for e in del_entries)
    )
    first_file_delete = next(p for p in del_parquets if "seq-00003" in p)
    second_file_delete = next(p for p in del_parquets if "seq-00004" in p)
    assert not any(first_file_delete in s for s in scanned)
    assert any(second_file_delete in s for s in scanned)
    assert {r.k for r in hot.collect()} == set(range(1000, 1090))

    # unit: a boundless delete file is never pruned
    kept = _prune_pos_deletes([{"lb": None, "ub": None}], ["/a/b.parquet"])
    assert len(kept) == 1


def test_equality_delete_files_carry_key_bounds(spark, tmp_path):
    from hielo_spark.metadata.avro_py import read_avro_file

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(5, "a"), (9, "b")],
                                             "k int, v string"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame([(5,)], "k int"),
                      snapshot_id=102, timestamp_ms=1700100000000)
    import json as _json

    doc = _json.load(open(C.current_metadata_path(t)))
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == 102)
    _, _, mrows = read_avro_file(snap["manifest-list"].removeprefix("file:"))
    eq = []
    for m in mrows:
        if (m.get("content") or 0) != 1:
            continue
        _, _, entries = read_avro_file(m["manifest_path"])
        eq += [e["data_file"] for e in entries
               if e["data_file"].get("content") == 2]
    assert eq
    assert (eq[0].get("lower_bounds_str") or {}).get("k") == "5"
    assert (eq[0].get("upper_bounds_str") or {}).get("k") == "5"


@pytest.mark.slow
def test_metadata_log_maintained_and_trimmed(spark, tmp_path):
    """Spec: every commit appends the PREVIOUS metadata file to
    metadata-log (with its last-updated timestamp), trimmed to
    write.metadata.previous-versions-max."""
    import json as _json

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    doc = _json.load(open(C.current_metadata_path(t)))
    assert doc.get("metadata-log") in (None, [])  # first commit: no prior

    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    doc = _json.load(open(C.current_metadata_path(t)))
    log = doc["metadata-log"]
    assert [e["metadata-file"].rsplit("/", 1)[-1] for e in log] == [
        "v1.metadata.json", "v2.metadata.json"]
    # timestamps are the PREVIOUS docs' last-updated-ms
    assert [e["timestamp-ms"] for e in log] == [
        1700000000000, 1700100000000]

    # metadata-only commits track it too
    from hielo_spark.metadata import update_schema

    update_schema(t, add=[("x", "double")], timestamp_ms=1700300000000)
    doc = _json.load(open(C.current_metadata_path(t)))
    assert len(doc["metadata-log"]) == 3

    # trimming honors the table property
    t2 = str(tmp_path / "t2")
    C.append(spark, t2, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=201, timestamp_ms=1700000000000,
             extra_properties={"write.metadata.previous-versions-max": "2"})
    for i in range(4):
        C.append(spark, t2, spark.createDataFrame([(i,)], ["id"]),
                 snapshot_id=210 + i, timestamp_ms=1700100000000 + i)
    doc2 = _json.load(open(C.current_metadata_path(t2)))
    assert len(doc2["metadata-log"]) == 2
    assert doc2["metadata-log"][-1]["metadata-file"].endswith(
        "v4.metadata.json")


def test_cherrypick_snapshot_from_diverged_branch(spark, tmp_path):
    """r7: cherrypick_snapshot replays a staged append's files as a new
    append on current — the path fast_forward refuses for diverged
    branches. Metadata-only: same parquet files, fresh manifest."""
    from hielo_spark.metadata import cherrypick_snapshot
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,), (2,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    # stage an append on a branch…
    C.append(spark, t, spark.createDataFrame([(10,), (11,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000, branch="audit")
    # …then main moves on: the branch is now diverged
    C.append(spark, t, spark.createDataFrame([(3,)], ["id"]),
             snapshot_id=103, timestamp_ms=1700200000000)
    with pytest.raises(ValueError, match="diverged"):
        C.fast_forward(t, "audit")

    snap = cherrypick_snapshot(spark, t, 102, snapshot_id=104,
                               timestamp_ms=1700300000000)
    assert snap["summary"]["cherry-picked-snapshot-id"] == "102"
    df = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(r.id for r in df.collect()) == [1, 2, 3, 10, 11]

    # double application refused
    with pytest.raises(ValueError, match="double-apply"):
        cherrypick_snapshot(spark, t, 102)

    # non-append sources refused
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], ["id"]),
                      snapshot_id=105, timestamp_ms=1700400000000)
    with pytest.raises(ValueError, match="append snapshots only"):
        cherrypick_snapshot(spark, t, 105)


def test_cherrypick_after_rollback_restores_commit(spark, tmp_path):
    from hielo_spark.metadata import cherrypick_snapshot
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame([(1,)], ["id"]),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.createDataFrame([(2,)], ["id"]),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.rollback_to_snapshot(t, 101)  # 102 is now orphaned off main
    df = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(r.id for r in df.collect()) == [1]
    cherrypick_snapshot(spark, t, 102, snapshot_id=106,
                        timestamp_ms=1700200000000)
    df2 = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(r.id for r in df2.collect()) == [1, 2]


def test_cherrypick_partitioned_snapshot_keeps_partition_values(spark, tmp_path):
    from hielo_spark.metadata import cherrypick_snapshot
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, "us"), (2, "eu")], "id int, region string"),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["region"])
    C.append(spark, t, spark.createDataFrame(
        [(3, "ap")], "id int, region string"),
        snapshot_id=102, timestamp_ms=1700100000000, branch="stage")
    C.append(spark, t, spark.createDataFrame(
        [(4, "us")], "id int, region string"),
        snapshot_id=103, timestamp_ms=1700200000000)
    cherrypick_snapshot(spark, t, 102, snapshot_id=104,
                        timestamp_ms=1700300000000)
    mpath = C.current_metadata_path(t)
    df = read_data_at_snapshot(spark, mpath)
    assert sorted((r.id, r.region) for r in df.collect()) == [
        (1, "us"), (2, "eu"), (3, "ap"), (4, "us")]
    # partition pruning still works for the cherry-picked file
    ap = read_data_at_snapshot(spark, mpath, partition_filter={"region": "ap"})
    assert sorted(r.id for r in ap.collect()) == [3]
    assert len(set(ap.inputFiles())) < len(set(df.inputFiles()))


def test_pos_delete_row_groups_keep_file_path_pruning(
    spark, tmp_path, monkeypatch
):
    """r9: position-delete files flush SMALL row groups (spec-sorted by
    file_path, pos) so the read side's ``file_path IN`` pushdown keeps
    pruning inside a delete file that spans many data files — a task
    scanning one data file decodes only its own slice, row-group
    granular. Forces one delete file across 16 data files and measures
    prunability from the footer statistics."""
    import pyarrow.parquet as pq

    from hielo_spark.metadata import commit as C2

    monkeypatch.setattr(C2, "_POS_DELETE_ROW_GROUP_ROWS", 500)
    t = str(tmp_path / "t")
    df = (
        spark.range(0, 16_000)
        .selectExpr("id", "CAST(id / 1000 AS INT) AS b")
        .repartition(16, "b")
        .drop("b")
    )
    C2.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        C2.delete_where(spark, t, "id % 2 = 0",
                        snapshot_id=102, timestamp_ms=1700100000000)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    dels = sorted(glob.glob(
        os.path.join(t, "data", "seq-*-posdeletes", "**",
                     "part-*.parquet"),
        recursive=True,
    ))
    assert len(dels) == 1  # one file spanning every data file
    md = pq.ParquetFile(dels[0]).metadata
    assert md.num_row_groups >= 8, md.num_row_groups
    # pick one data file and count the row groups whose file_path
    # bounds can contain it — the slice a pruned read actually decodes
    data_files = sorted(glob.glob(
        os.path.join(t, "data", "seq-00001", "part-*.parquet")))
    target = data_files[3]
    matching = 0
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(0).statistics
        lo, hi = st.min, st.max
        lo = lo.decode() if isinstance(lo, bytes) else str(lo)
        hi = hi.decode() if isinstance(hi, bytes) else str(hi)
        if lo <= target <= hi:
            matching += 1
    assert 1 <= matching <= max(2, md.num_row_groups // 4), (
        matching, md.num_row_groups,
    )
    # and the pruned read is still exact
    got = pq.read_table(
        dels[0], columns=["file_path", "pos"],
        filters=[("file_path", "in", [target])],
    )
    per_file = pq.read_table(target, columns=["id"]).num_rows
    assert got.num_rows == per_file // 2
    # end-to-end: the table reads odd ids only
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    ids = [
        r.id for r in read_data_at_snapshot(
            spark, C2.current_metadata_path(t)
        ).collect()
    ]
    assert len(ids) == 8_000 and all(i % 2 == 1 for i in ids)


def test_cherrypick_time_transform_partitioned(spark, tmp_path):
    """r10 regression: cherrypick of a months()-partitioned staged
    append must REBUILD the typed r102 record from the canonical
    string partition values — the r102 schema now types time
    transforms as int ordinals, so copying the decoded entry verbatim
    would crash (int("2024-03")) or silently mis-encode."""
    import json as _json

    from hielo_spark.metadata import cherrypick_snapshot
    from hielo_spark.metadata.avro_py import read_avro_file
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    d1 = spark.range(0, 4).selectExpr(
        "id", "timestamp'2024-03-15 00:00:00' AS ts")
    C.append(spark, t, d1, snapshot_id=101,
             timestamp_ms=1700000000000, partition_by=["months(ts)"])
    d2 = spark.range(10, 14).selectExpr(
        "id", "timestamp'2024-04-02 00:00:00' AS ts")
    C.append(spark, t, d2, snapshot_id=102,
             timestamp_ms=1700100000000, branch="audit")
    C.append(spark, t,
             spark.range(20, 22).selectExpr(
                 "id", "timestamp'2024-05-01 00:00:00' AS ts"),
             snapshot_id=103, timestamp_ms=1700200000000)
    snap = cherrypick_snapshot(spark, t, 102, snapshot_id=104,
                               timestamp_ms=1700300000000)
    df = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(r.id for r in df.collect()) == \
        [0, 1, 2, 3, 10, 11, 12, 13, 20, 21]
    # the cherrypicked manifest carries the SPEC int month ordinal
    doc = _json.load(open(C.current_metadata_path(t)))
    s104 = next(s for s in doc["snapshots"]
                if s["snapshot-id"] == 104)
    _, _, mrows = read_avro_file(
        s104["manifest-list"].removeprefix("file:"))
    picked = [m for m in mrows
              if int(m.get("added_snapshot_id") or 0) == 104]
    assert picked
    for m in picked:
        _s, _m, entries = read_avro_file(
            m["manifest_path"].removeprefix("file:"))
        for e in entries:
            assert e["data_file"]["partition"]["ts_month"] == \
                (2024 - 1970) * 12 + 3  # 2024-04 → 651


def test_transform_sort_order_applied(spark, tmp_path):
    """r12: a sort order with a NON-identity transform (here
    truncate[4] on a string) sorts appends by the DERIVED value — the
    spec's meaning of a transform sort field — and still stamps
    sort_order_id."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(0, "aaaa-x")], "id long, s string"),
        snapshot_id=101, timestamp_ms=1700000000000)
    oid = C.update_sort_order(t, ["truncate(4, s)"])
    doc = json.load(open(C.current_metadata_path(t)))
    order = next(o for o in doc["sort-orders"] if o["order-id"] == oid)
    assert order["fields"][0]["transform"] == "truncate[4]"

    shuf = (spark.createDataFrame(
        [(i, f"{chr(97 + i % 7)}{chr(97 + i % 5)}zz-{i:04d}")
         for i in range(500)], "id long, s string")
        .orderBy(F.rand(seed=5)).coalesce(1))
    C.append(spark, t, shuf, snapshot_id=102,
             timestamp_ms=1700100000000)
    newest = sorted(
        glob.glob(t + "/data/seq-00002/**/*.parquet", recursive=True))
    assert len(newest) == 1
    vals = pq.read_table(newest[0], columns=["s"]).column(
        "s").to_pylist()
    prefixes = [v[:4] for v in vals]
    assert prefixes == sorted(prefixes), \
        "rows must be ordered by the truncate(4) derived value"
    # reads stay exact
    assert read_data_at_snapshot(
        spark, C.current_metadata_path(t)).count() == 501


def test_skip_filter_in_op(spark, tmp_path):
    """r12: skip_filter supports IN — files whose bounds exclude every
    listed value are pruned; an empty/all-null list is a valid empty
    result."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.range(1000, 1100).selectExpr("id").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    mpath = C.current_metadata_path(t)
    got = read_data_at_snapshot(
        spark, mpath, skip_filter=("id", "in", (5, 7, 9)))
    assert sorted(r.id for r in got.collect()) == [5, 7, 9]
    assert len(set(got.inputFiles())) == 1  # second file pruned
    both = read_data_at_snapshot(
        spark, mpath, skip_filter=("id", "in", (5, 1005)))
    assert sorted(r.id for r in both.collect()) == [5, 1005]
    none = read_data_at_snapshot(
        spark, mpath, skip_filter=("id", "in", ()))
    assert none.count() == 0 and "id" in dict(none.dtypes)


def test_conjunct_parser_in_clause():
    """r12: the delete_where SQL conjunct parser extracts IN lists for
    file pruning; paren groups / OR / unparseable elements contribute
    nothing (strictly conservative)."""
    from hielo_spark.metadata.commit import _conjunct_skip_filters as P

    assert P("id IN (5, 7)") == [("id", "in", (5.0, 7.0))]
    assert P("k in ('a', 'O''Brien')") == [("k", "in", ("a", "O'Brien"))]
    assert P("id IN (5) AND k = 'x'") == [
        ("id", "in", (5.0,)), ("k", "=", "x")]
    # unparseable element disables that clause's pruning, not the rest
    assert P("id IN (5, CURRENT_DATE) AND k = 'x'") == [("k", "=", "x")]
    assert P("id IN (5) OR k = 'x'") == []
    assert P("(id = 5 AND k = 'x')") == []  # split parens: nothing
    assert P("k = 'a,b'") == [("k", "=", "a,b")]


def test_delete_where_in_condition_prunes(spark, tmp_path):
    """DELETE WHERE id IN (...) prunes candidate files via bounds
    before any scan, and deletes exactly the listed rows."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t,
             spark.range(1000, 1100).selectExpr("id").coalesce(1),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id IN (5, 7)",
                   snapshot_id=103, timestamp_ms=1700200000000)
    got = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    assert got == [i for i in range(100) if i not in (5, 7)] + \
        list(range(1000, 1100))


@pytest.mark.slow
def test_overwrite_partitions_dynamic(spark, tmp_path):
    """Dynamic partition overwrite (r12): one atomic snapshot replaces
    exactly the partitions present in the incoming frame — other
    partitions untouched, time travel sees the old rows, incremental
    refuses to silently cross the overwrite."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        overwrite_partitions,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    df0 = spark.createDataFrame(
        [(i, f"d{i % 3}", f"old{i}") for i in range(30)],
        ["id", "day", "v"],
    )
    append(spark, t, df0, snapshot_id=101, timestamp_ms=1700000000000,
           partition_by=["day"])
    # replace day d1 only, with a DIFFERENT cardinality (3 rows not 10)
    snap = overwrite_partitions(
        spark, t,
        spark.createDataFrame(
            [(100, "d1", "new100"), (101, "d1", "new101"),
             (102, "d1", "new102")],
            ["id", "day", "v"],
        ),
        snapshot_id=102, timestamp_ms=1700100000000,
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["deleted-data-files"] != "0"
    got = read_data_at_snapshot(spark, current_metadata_path(t))
    rows = {(r.id, r.day, r.v) for r in got.collect()}
    assert {r for r in rows if r[1] == "d1"} == {
        (100, "d1", "new100"), (101, "d1", "new101"), (102, "d1", "new102")}
    assert len([r for r in rows if r[1] == "d0"]) == 10
    assert len([r for r in rows if r[1] == "d2"]) == 10
    assert int(snap["summary"]["total-records"]) == len(rows) == 23
    # time travel: the pre-overwrite snapshot still has every old row
    old = read_data_at_snapshot(
        spark, current_metadata_path(t), snapshot_id=101)
    assert old.count() == 30
    # both planes agree post-overwrite
    from hielo_spark.sources import register

    register(spark)
    ds = spark.read.format("hielo_iceberg").load(t)
    assert {(r.id, r.day, r.v) for r in ds.collect()} == rows
    # incremental refuses to cross an overwrite silently
    import pytest as _pt

    from hielo_spark.metadata.manifests import read_incremental

    with _pt.raises(ValueError, match="non-append"):
        read_incremental(spark, current_metadata_path(t), 101).collect()


def test_overwrite_partitions_unpartitioned_and_empty(spark, tmp_path):
    """Unpartitioned table → full overwrite; empty frame → no-op None."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        overwrite_partitions,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    append(spark, t, spark.range(0, 50).selectExpr("id"),
           snapshot_id=101, timestamp_ms=1700000000000)
    assert overwrite_partitions(
        spark, t, spark.range(0, 0).selectExpr("id"),
        snapshot_id=102, timestamp_ms=1700050000000,
    ) is None
    snap = overwrite_partitions(
        spark, t, spark.range(100, 105).selectExpr("id"),
        snapshot_id=103, timestamp_ms=1700100000000,
    )
    assert snap["summary"]["operation"] == "overwrite"
    got = read_data_at_snapshot(spark, current_metadata_path(t))
    assert sorted(r.id for r in got.collect()) == list(range(100, 105))
    assert read_data_at_snapshot(
        spark, current_metadata_path(t), snapshot_id=101).count() == 50


def test_overwrite_partitions_changelog(spark, tmp_path):
    """The CDC changelog renders a dynamic partition overwrite as the
    replaced partition's old rows DELETEd + the new rows INSERTed in
    one ordinal (the general diff path; other partitions emit nothing)."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        overwrite_partitions,
    )
    from hielo_spark.metadata.manifests import read_changelog

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f"d{i % 2}", f"old{i}") for i in range(6)],
        ["id", "day", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["day"])
    overwrite_partitions(
        spark, t,
        spark.createDataFrame([(100, "d1", "new")], ["id", "day", "v"]),
        snapshot_id=102, timestamp_ms=1700100000000)
    ch = read_changelog(spark, current_metadata_path(t),
                        from_snapshot_id=101).collect()
    got = {(r.id, r.day, r._change_type) for r in ch}
    assert got == {
        (1, "d1", "DELETE"), (3, "d1", "DELETE"), (5, "d1", "DELETE"),
        (100, "d1", "INSERT"),
    }
    assert {r._commit_snapshot_id for r in ch} == {102}


def test_overwrite_partitions_on_branch(spark, tmp_path):
    """WAP: a dynamic overwrite staged on a branch leaves main
    untouched until fast_forward publishes it."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        fast_forward,
        overwrite_partitions,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f"d{i % 2}", "old") for i in range(6)], ["id", "day", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["day"])
    overwrite_partitions(
        spark, t,
        spark.createDataFrame([(100, "d1", "new")], ["id", "day", "v"]),
        snapshot_id=102, timestamp_ms=1700100000000, branch="audit")
    # main unchanged, branch sees the overwrite
    assert read_data_at_snapshot(
        spark, current_metadata_path(t)).count() == 6
    staged = read_data_at_snapshot(
        spark, current_metadata_path(t), ref="audit")
    ids = {(r.id, r.day) for r in staged.collect()}
    assert (100, "d1") in ids and len(ids) == 4
    fast_forward(t, "audit")
    assert read_data_at_snapshot(
        spark, current_metadata_path(t)).count() == 4


@pytest.mark.slow
def test_update_where_v2_and_v3(spark, tmp_path):
    """UPDATE … SET … WHERE as one MOR snapshot on both format
    versions: matched rows die by position delete (v2) / DV (v3) and
    re-append updated in the SAME commit; unmatched rows untouched;
    zero matches no-op; time travel sees the old values."""
    from hielo_spark.metadata import upgrade_format_version
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        update_where,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    for v3 in (False, True):
        t = str(tmp_path / f"t{'3' if v3 else '2'}")
        append(spark, t, spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(20)],
            ["id", "v", "x"]),
            snapshot_id=101, timestamp_ms=1700000000000)
        if v3:
            upgrade_format_version(t, 3)
        snap = update_where(
            spark, t, "id % 5 = 0",
            {"v": "concat('upd', id)", "x": "x * 10"},
            snapshot_id=102, timestamp_ms=1700100000000)
        assert snap["summary"]["operation"] == "overwrite"
        assert snap["summary"]["updated-records"] == "4"
        got = {r.id: (r.v, r.x) for r in read_data_at_snapshot(
            spark, current_metadata_path(t)).collect()}
        assert len(got) == 20
        for i in range(20):
            if i % 5 == 0:
                assert got[i] == (f"upd{i}", float(i) * 10), (v3, i)
            else:
                assert got[i] == (f"v{i}", float(i)), (v3, i)
        # time travel: pre-update values intact
        old = {r.id: r.v for r in read_data_at_snapshot(
            spark, current_metadata_path(t), snapshot_id=101).collect()}
        assert old[0] == "v0"
        # zero matches: no-op, no snapshot
        assert update_where(
            spark, t, "id > 1000", {"v": "'nope'"},
            snapshot_id=103, timestamp_ms=1700200000000) is None
        import json

        doc = json.load(open(current_metadata_path(t)))
        assert doc["current-snapshot-id"] == 102
        # both planes agree
        from hielo_spark.sources import register

        register(spark)
        ds = {r.id: (r.v, r.x) for r in
              spark.read.format("hielo_iceberg").load(t).collect()}
        assert ds == got


def test_update_where_unknown_column_raises(spark, tmp_path):
    from hielo_spark.metadata.commit import append, update_where

    t = str(tmp_path / "t")
    append(spark, t, spark.range(0, 5).selectExpr("id"),
           snapshot_id=101, timestamp_ms=1700000000000)
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown columns"):
        update_where(spark, t, "id = 1", {"nope": "'x'"},
                     snapshot_id=102, timestamp_ms=1700100000000)


@pytest.mark.slow
def test_update_where_never_resurrects_or_duplicates(spark, tmp_path):
    """The review repro (r12): UPDATE's scan must be the LIVE MOR view
    — (a) a row a prior DELETE removed must not come back through the
    re-append; (b) running the same UPDATE twice must not duplicate
    rows; (c) an UPDATE after a MERGE's equality deletes stays exact.
    Both format versions."""
    from hielo_spark.metadata import upgrade_format_version
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        delete_where,
        update_where,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    for v3 in (False, True):
        t = str(tmp_path / f"t{'3' if v3 else '2'}")
        append(spark, t, spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], ["id", "v"]),
            snapshot_id=101, timestamp_ms=1700000000000)
        if v3:
            upgrade_format_version(t, 3)
        delete_where(spark, t, "id = 5",
                     snapshot_id=102, timestamp_ms=1700100000000)
        # (a) update matching everything must NOT resurrect id=5
        update_where(spark, t, "id >= 0", {"v": "concat('u', id)"},
                     snapshot_id=103, timestamp_ms=1700200000000)
        got = {r.id: r.v for r in read_data_at_snapshot(
            spark, current_metadata_path(t)).collect()}
        assert 5 not in got, (v3, sorted(got))
        assert got == {i: f"u{i}" for i in range(10) if i != 5}, v3
        # (b) repeat the same UPDATE: still exactly 9 rows, no dups
        update_where(spark, t, "id >= 0", {"v": "concat('w', id)"},
                     snapshot_id=104, timestamp_ms=1700300000000)
        rows = read_data_at_snapshot(
            spark, current_metadata_path(t)).collect()
        assert len(rows) == 9, (v3, len(rows))
        assert {r.v for r in rows} == {f"w{i}" for i in range(10)
                                       if i != 5}, v3


def test_overwrite_partitions_foreign_manifest_guard(spark, tmp_path):
    """A current-spec manifest lacking the engine's partition_values
    map (spec-only foreign writers) cannot resolve partition tuples —
    dynamic overwrite must refuse LOUDLY rather than leave the old
    partition rows live beside the replacements. Older-spec manifests
    keep the documented conservative skip."""
    import json

    from hielo_spark.metadata.avro_py import read_avro_file, write_avro_file
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        overwrite_partitions,
    )
    from hielo_spark.metadata.manifests import _resolve

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(8)], ["id", "day"]),
        snapshot_id=101, timestamp_ms=1700000000000,
        partition_by=["day"])
    doc = json.load(open(current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    for r in rows:
        if (r.get("content") or 0) != 0:
            continue
        mp = _resolve(mlist, r["manifest_path"])
        schema, meta, entries = read_avro_file(mp)
        for e in entries:
            e["data_file"].pop("partition_values", None)
            e["data_file"].pop("partition_types", None)
        hdr = {k: v for k, v in (meta or {}).items()
               if not k.startswith("avro.")}
        write_avro_file(mp, json.dumps(schema), entries, meta=hdr)
    with pytest.raises(ValueError, match="no partition_values map"):
        overwrite_partitions(
            spark, t,
            spark.createDataFrame([(100, "d1")], ["id", "day"]),
            snapshot_id=102, timestamp_ms=1700100000000)


def test_update_where_variant_roundtrip(spark, tmp_path):
    """UPDATE on a table with a v3 variant column: the column reads
    back as canonical JSON and the re-append re-encodes it — values
    (updated and untouched) survive exactly on both planes."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        update_where,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f'{{"a": {i}}}') for i in range(6)], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000,
        variant_cols=["v"])
    update_where(spark, t, "id = 2", {"v": "'{\"a\": 99}'"},
                 snapshot_id=102, timestamp_ms=1700100000000)
    got = {r.id: r.v for r in read_data_at_snapshot(
        spark, current_metadata_path(t)).collect()}
    assert got[2] == '{"a":99}'
    assert got[3] == '{"a":3}'
    assert len(got) == 6
    from hielo_spark.sources import register

    register(spark)
    ds = {r.id: r.v for r in
          spark.read.format("hielo_iceberg").load(t).collect()}
    assert ds == got


@pytest.mark.slow
def test_delete_and_update_on_branch(spark, tmp_path):
    """WAP for row-level DML (r13): DELETE and UPDATE staged on a
    branch base on the BRANCH head, chain on it, and leave main
    untouched until fast_forward publishes — on both format versions
    (position deletes v2 / DVs v3)."""
    from hielo_spark.metadata import upgrade_format_version
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        delete_where,
        fast_forward,
        update_where,
    )
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    for v3 in (False, True):
        t = str(tmp_path / f"t{'3' if v3 else '2'}")
        append(spark, t, spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], ["id", "v"]),
            snapshot_id=101, timestamp_ms=1700000000000)
        if v3:
            upgrade_format_version(t, 3)
        # stage: delete 0-1 on the branch, then update 2-3 ON TOP of
        # the staged delete (the second commit must base on the branch
        # head, not main — chaining is the WAP contract)
        delete_where(spark, t, "id < 2",
                     snapshot_id=102, timestamp_ms=1700100000000,
                     branch="audit")
        update_where(spark, t, "id IN (2, 3)", {"v": "concat('u', id)"},
                     snapshot_id=103, timestamp_ms=1700200000000,
                     branch="audit")
        mpath = current_metadata_path(t)
        # main untouched
        main = {r.id: r.v for r in
                read_data_at_snapshot(spark, mpath).collect()}
        assert main == {i: f"v{i}" for i in range(8)}, v3
        # branch sees delete + update chained
        staged = {r.id: r.v for r in read_data_at_snapshot(
            spark, mpath, ref="audit").collect()}
        want = {i: (f"u{i}" if i in (2, 3) else f"v{i}")
                for i in range(2, 8)}
        assert staged == want, v3
        # publish
        fast_forward(t, "audit")
        pub = {r.id: r.v for r in read_data_at_snapshot(
            spark, current_metadata_path(t)).collect()}
        assert pub == want, v3
        # a tag refuses branch DML
        from hielo_spark.metadata.commit import create_ref

        doc_cur = json.load(open(current_metadata_path(t)))
        create_ref(t, "rel", doc_cur["current-snapshot-id"],
                   ref_type="tag")
        with pytest.raises(ValueError, match="tag"):
            delete_where(spark, t, "id = 5",
                         snapshot_id=104, timestamp_ms=1700300000000,
                         branch="rel")


@pytest.mark.slow
def test_merge_on_branch(spark, tmp_path):
    """WAP merge (r13): merge_into(branch=...) bases its match split
    on the branch head and moves only the branch ref; chains on staged
    branch commits; main publishes via fast_forward."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        delete_where,
        fast_forward,
        merge_into,
    )

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    # stage a delete, then a merge that must see the staged state:
    # id=0 is deleted on the branch, so the merge INSERTS it anew
    delete_where(spark, t, "id = 0",
                 snapshot_id=102, timestamp_ms=1700100000000,
                 branch="audit")
    merge_into(
        spark, t,
        spark.createDataFrame([(0, "re"), (3, "m3")], ["id", "v"]),
        on=["id"], snapshot_id=103, timestamp_ms=1700200000000,
        branch="audit")
    mpath = current_metadata_path(t)
    main = {r.id: r.v for r in
            read_data_at_snapshot(spark, mpath).collect()}
    assert main == {i: f"v{i}" for i in range(6)}
    staged = {r.id: r.v for r in read_data_at_snapshot(
        spark, mpath, ref="audit").collect()}
    assert staged == {0: "re", 1: "v1", 2: "v2", 3: "m3",
                      4: "v4", 5: "v5"}
    fast_forward(t, "audit")
    pub = {r.id: r.v for r in read_data_at_snapshot(
        spark, current_metadata_path(t)).collect()}
    assert pub == staged


def test_merge_defaults_to_identifier_fields(spark, tmp_path):
    """merge_into(on=None) resolves the key from the table's recorded
    identifier-field-ids (Iceberg upsert); without one it raises."""
    from hielo_spark.metadata.commit import (
        append,
        current_metadata_path,
        merge_into,
        set_identifier_fields,
    )

    t = str(tmp_path / "t")
    append(spark, t, spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], ["id", "v"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    src = spark.createDataFrame([(2, "up"), (9, "new")], ["id", "v"])
    with pytest.raises(ValueError, match="identifier"):
        merge_into(spark, t, src, on=None,
                   snapshot_id=102, timestamp_ms=1700100000000)
    set_identifier_fields(t, ["id"])
    merge_into(spark, t, src, on=None,
               snapshot_id=102, timestamp_ms=1700100000000)
    got = {r.id: r.v for r in read_data_at_snapshot(
        spark, current_metadata_path(t)).collect()}
    assert got == {0: "v0", 1: "v1", 2: "up", 3: "v3", 9: "new"}
