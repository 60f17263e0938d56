"""The DataFrame read plane scans table files under the table's own
schema: data files under the metadata schema plan, position-delete
files under the spec's fixed ``file_path, pos`` schema, equality-delete
keys under their footer types. Building a read frame therefore starts
no Spark job, and DELETE / delete-file compaction start only the jobs
their writes need. The job counts come from ``statusTracker``.
"""
from __future__ import annotations

import json

import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata.manifests import (
    _resolve,
    live_entries,
    read_data_at_snapshot,
    read_incremental,
    read_table,
    select_snapshot,
)


def _new_jobs(spark, fn):
    """``(fn's result, the ids of the jobs it started)``."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, sorted(set(st.getJobIdsForGroup(None)) - before)


def _stage_names(spark, job_ids) -> list[str]:
    st = spark.sparkContext.statusTracker()
    return [
        st.getStageInfo(sid).name
        for j in job_ids
        for sid in st.getJobInfo(j).stageIds
        if st.getStageInfo(sid) is not None
    ]


def _live(t: str) -> list[dict]:
    mpath = C.current_metadata_path(t)
    doc = json.load(open(mpath))
    return live_entries(
        _resolve(mpath, select_snapshot(doc)["manifest-list"]),
        doc["format-version"],
    )


def _table_with_deletes(spark, t: str) -> None:
    C.append(spark, t, spark.range(0, 60).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(60, 100).selectExpr("id", "id * 2 AS v"),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, "id % 5 = 0",
                   snapshot_id=103, timestamp_ms=1700200000000)
    C.delete_equality(spark, t, spark.createDataFrame([(7,), (61,)], "id int"),
                      snapshot_id=104, timestamp_ms=1700300000000)


def test_read_frames_start_no_job(spark, tmp_path):
    """Building ``read_table`` / ``read_data_at_snapshot`` /
    ``read_incremental`` frames over live position and equality deletes
    starts no Spark job; the frames still read the right rows."""
    t = str(tmp_path / "t")
    _table_with_deletes(spark, t)
    assert {e["content"] for e in _live(t)} == {0, 1, 2}
    mpath = C.current_metadata_path(t)
    frames, jobs = _new_jobs(spark, lambda: [
        read_table(spark, t),
        read_table(spark, t, where=("id", ">=", 50)),
        read_data_at_snapshot(spark, mpath),
        read_data_at_snapshot(spark, mpath, snapshot_id=102),
        read_incremental(spark, mpath, 101, 102),
    ])
    assert jobs == []
    want = [i for i in range(100) if i % 5 and i not in (7, 61)]
    assert sorted(r.id for r in frames[0].collect()) == want
    assert sorted(r.id for r in frames[1].collect()) == [
        i for i in want if i >= 50]
    assert sorted(r.id for r in frames[4].collect()) == list(range(60, 100))
    # the bigint-typed equality keys of an int key frame read under
    # their own footer type
    assert frames[2].count() == len(want)


def test_delete_where_runs_its_write_jobs_only(spark, tmp_path):
    """A ``delete_where`` on a single-schema table is the shuffle and
    the write of its position deletes: 2 jobs, with no schema-inference
    job for the candidate scan (there were 3 when that scan inferred
    the schema from the data files' footers)."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    _, jobs = _new_jobs(spark, lambda: C.delete_where(
        spark, t, "id % 3 = 0", snapshot_id=102, timestamp_ms=1700000001000))
    assert len(jobs) == 2
    assert not [n for n in _stage_names(spark, jobs) if n.startswith("parquet at")]
    got = sorted(r.id for r in read_table(spark, t).collect())
    assert got == [i for i in range(100) if i % 3]


def test_rewrite_position_deletes_infers_no_schema(spark, tmp_path):
    """Compacting 4 position-delete files reads them in one scan under
    the spec's fixed schema: no ``parquet at …`` inference job."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    for i, m in enumerate((2, 3, 5, 7)):
        C.delete_where(spark, t, f"id % {m} = 0",
                       snapshot_id=102 + i, timestamp_ms=1700000001000 + i)
    assert sum(e["content"] == 1 for e in _live(t)) >= 4
    snap, jobs = _new_jobs(spark, lambda: C.rewrite_position_deletes(
        spark, t, snapshot_id=110, timestamp_ms=1700000010000))
    assert snap is not None and jobs
    assert not [n for n in _stage_names(spark, jobs) if n.startswith("parquet at")]
    assert sum(e["content"] == 1 for e in _live(t)) == 1
    got = sorted(r.id for r in read_table(spark, t).collect())
    assert got == [i for i in range(100) if i % 2 and i % 3 and i % 5 and i % 7]


def test_rewrite_position_deletes_keeps_partition_scoping(
    spark, tmp_path
):
    """On a partitioned table the compacted position deletes stay
    partition-scoped: one delete file per data partition under the
    default spec, carrying that partition's values, instead of one
    global delete file."""
    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.range(0, 40).selectExpr("id", "CAST(id % 2 AS INT) AS r"),
             snapshot_id=101, timestamp_ms=1700000000000, partition_by=["r"])
    C.delete_where(spark, t, "id < 6",
                   snapshot_id=102, timestamp_ms=1700000001000)
    C.delete_where(spark, t, "id >= 30",
                   snapshot_id=103, timestamp_ms=1700000002000)
    before = [e for e in _live(t) if e["content"] == 1]
    assert len(before) == 4
    assert {e["pvals"]["r"] for e in before} == {"0", "1"}
    C.rewrite_position_deletes(spark, t, snapshot_id=104,
                               timestamp_ms=1700000003000)
    live = _live(t)
    after = [e for e in live if e["content"] == 1]
    doc = json.load(open(C.current_metadata_path(t)))
    assert sorted(e["pvals"]["r"] for e in after) == ["0", "1"]
    assert {e["spec_id"] for e in after} == {doc["default-spec-id"]}
    data_pvals = [e["pvals"] for e in live if e["content"] == 0]
    assert all(e["pvals"] in data_pvals for e in after)
    assert sum(e["records"] for e in after) == 16
    got = sorted(r.id for r in read_table(spark, t).collect())
    assert got == list(range(6, 30))
    from hielo_spark.sources import register

    register(spark)
    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted(r.id for r in ds.collect()) == list(range(6, 30))


def test_position_delete_scoping_is_planned_per_file_pair():
    """The ``delete_seq >= data_seq`` scoping of position deletes is
    settled from the manifests: the per-row join on data sequence
    numbers is needed only when a delete file (within its ``file_path``
    bounds, or everywhere without them) or a deletion vector may
    reference a data file committed after it."""
    from hielo_spark.metadata.manifests import _pos_deletes_predate_files

    data = [{"path": "/t/data/seq-00001/a.parquet", "seq": 1},
            {"path": "/t/data/seq-00003/b.parquet", "seq": 3}]

    def pos(seq, lo=None, hi=None):
        b = {"file_path": lo} if lo else None
        return {"seq": seq, "lb": b, "ub": {"file_path": hi} if hi else None}

    a, b = data[0]["path"], data[1]["path"]
    assert not _pos_deletes_predate_files([pos(2, a, a)], {}, data)
    assert _pos_deletes_predate_files([pos(2, a, b)], {}, data)
    assert _pos_deletes_predate_files([pos(2)], {}, data)  # no bounds
    assert not _pos_deletes_predate_files([pos(3)], {}, data)
    assert not _pos_deletes_predate_files([pos(None)], {}, data)
    assert not _pos_deletes_predate_files([pos(2, "file:" + a, "file:" + a)], {}, data)
    assert _pos_deletes_predate_files([], {b: {"seq": 2}}, data)
    assert not _pos_deletes_predate_files([], {a: {"seq": 2}}, data)


@pytest.mark.parametrize("fv,ceilings", [(2, (2, 3, 5)), (3, (2, 5, 7))],
                         ids=["v2", "v3"])
def test_dml_job_ceilings(spark, tmp_path, fv, ceilings):
    """``delete_where``, ``update_where`` and ``merge_into`` on an 11-row
    table start no more Spark jobs than their one read of the target and
    their writes need (four task slots, four shuffle partitions): no
    scalar count, one pass of the deletion-vector stage. The rows still
    come out right."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 11).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    if fv == 3:
        C.upgrade_format_version(t, 3)
    _, d = _new_jobs(spark, lambda: C.delete_where(
        spark, t, "id = 1", snapshot_id=102, timestamp_ms=1700000001000))
    _, u = _new_jobs(spark, lambda: C.update_where(
        spark, t, "id = 2", {"v": "v + 1"},
        snapshot_id=103, timestamp_ms=1700000002000))
    _, m = _new_jobs(spark, lambda: C.merge_into(
        spark, t, spark.createDataFrame([(3, 0), (20, 40)], "id long, v long"),
        on=["id"], snapshot_id=104, timestamp_ms=1700000003000))
    counts = (len(d), len(u), len(m))
    assert all(n <= c for n, c in zip(counts, ceilings)), counts
    got = sorted((r.id, r.v) for r in read_table(spark, t).collect())
    assert got == sorted(
        [(i, 2 * i) for i in range(11) if i not in (1, 2, 3)]
        + [(2, 5), (3, 0), (20, 40)])


def test_dml_deletes_through_one_stage():
    """``delete_where``, ``update_where`` and ``merge_into`` write
    position deletes and deletion vectors only through
    ``commit._stage_row_deletes``, and none of them runs a ``count()``:
    their summary counts come from what the stages wrote."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(C.__file__).read_text())
    funcs = {f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)}

    def calls(fn):
        return [
            n for n in ast.walk(funcs[fn]) if isinstance(n, ast.Call)
        ]

    def callee(n):
        f = n.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    def sites(name, content=None):
        return {
            fn for fn in funcs for n in calls(fn) if callee(n) == name
            and (content is None or ast.literal_eval(n.args[2]) == content)
        }

    assert sites("_stage_deletion_vectors") == {"_stage_row_deletes"}
    assert sites("_stage_delete_files", 1) == {
        "_stage_row_deletes", "rewrite_position_deletes",
    }
    assert sites("_stage_row_deletes") == {"delete_where", "merge_into"}
    assert "delete_where" in {callee(n) for n in calls("update_where")}
    for fn in ("delete_where", "update_where", "merge_into",
               "_stage_row_deletes", "_stage_deletion_vectors"):
        assert "count" not in {callee(n) for n in calls(fn)}, fn
        assert "rewrite_position_deletes" not in {
            callee(n) for n in calls(fn)
        }, fn


def test_health_refresh_is_three_jobs_and_no_compile(spark):
    """A dashboard refresh over driver-held snapshots: ``as_of`` reaches
    generated code as data, so a refresh at a new ``as_of`` compiles no
    class, and the one-partition read plans no exchange, so the metrics,
    alerts and recommendations each collect in one job."""
    from hielo_spark.analytics.health import alerts, health_metrics, recommendations
    from hielo_spark.metadata.fixtures import synthetic_snapshots

    snaps = synthetic_snapshots(spark)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def refresh(as_of):
        m = health_metrics(snaps, as_of)
        a = alerts(m)
        r = recommendations(a, m)
        return [len(_new_jobs(spark, f.collect)[1]) for f in (m, a, r)]

    refresh("2025-06-01 12:00:00")  # warm: compiles the stages once
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    assert refresh("2025-06-01 12:00:07") == [1, 1, 1]
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled
