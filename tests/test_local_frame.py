"""``io.local_frame``: driver-held planning-plane rows as Arrow-backed
LocalRelations — the helper's contract, the zero-job scans it buys the
metadata plane, and a guard that keeps tuple-list frames out of it."""

from __future__ import annotations

import ast
import datetime as dt
import os

import pytest
from pyspark.sql.types import StructType

from hielo_spark.io import local_frame
from hielo_spark.metadata import commit as C

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "hielo_spark")

#: every type the planning-plane call sites declare, with one value
TYPED_VALUES = [
    ("string", "aé"),
    ("int", -7),
    ("bigint", 2**40 + 3),
    ("double", 1.5),
    ("boolean", True),
    ("binary", b"\x00\xff"),
    ("timestamp", dt.datetime(2023, 11, 14, 22, 13, 20, 123456)),
    ("map<string,string>", {"k": "v", "n": None}),
]


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _jobs_during(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _schema(ddl_type: str) -> StructType:
    """A non-nullable column of the type beside a nullable one."""
    return StructType.fromDDL(f"k int not null, v {ddl_type}")


@pytest.mark.parametrize("ddl_type,value", TYPED_VALUES,
                         ids=[t for t, _ in TYPED_VALUES])
def test_local_frame_contract(spark, ddl_type, value):
    schema = _schema(ddl_type)
    rows = [(1, value), (2, None)]
    for declared in (schema, f"k int not null, v {ddl_type}"):
        df = local_frame(spark, rows, declared)
        assert df.schema == schema  # nullability included
        assert _plan_node(df) == "LocalRelation"
        # Project and Filter fold into the relation
        assert _plan_node(df.filter("k > 1").select("v")) == "LocalRelation"
        got, jobs = _jobs_during(spark, df.collect)
        assert [tuple(r) for r in got] == rows and jobs == 0

    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []

    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, value)], schema)


def test_local_frame_ignores_arrow_pyspark_conf(spark):
    """A host session may hand in Arrow-for-pandas disabled; the Arrow
    table route does not depend on it."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        rows = [(i, v) for i, (_, v) in enumerate(TYPED_VALUES)]
        for i, (t, v) in enumerate(TYPED_VALUES):
            df = local_frame(spark, [rows[i]], _schema(t))
            assert _plan_node(df) == "LocalRelation"
            assert tuple(df.collect()[0]) == (i, v)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_local_frame_timestamps_are_instants(spark):
    """Naive datetimes are UTC instants; an aware one keeps its instant."""
    naive = dt.datetime(2023, 11, 14, 22, 13, 20)
    aware = dt.datetime(2023, 11, 15, 3, 13, 20,
                        tzinfo=dt.timezone(dt.timedelta(hours=5)))
    df = local_frame(spark, [(naive,), (aware,)], "ts timestamp")
    assert [r.ms for r in df.selectExpr("unix_millis(ts) AS ms").collect()] \
        == [1700000000000, 1700000000000]


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="does not match"):
        local_frame(spark, [(1, "a"), (2,)], "k int, v string")


@pytest.fixture()
def two_snapshot_table(spark, tmp_path):
    t = str(tmp_path / "t")
    for i, sid in enumerate((101, 102)):
        C.append(spark, t, spark.range(i * 10, i * 10 + 10),
                 snapshot_id=sid, timestamp_ms=1700000000000 + i * 1000)
    return t


def test_snapshots_frame_collect_starts_no_job(spark, two_snapshot_table):
    from hielo_spark.metadata.metadata_json import snapshots_from_metadata_json

    df = snapshots_from_metadata_json(
        spark, "t", C.current_metadata_path(two_snapshot_table))
    rows, jobs = _jobs_during(spark, df.collect)
    assert [r.snapshot_id for r in rows] == [101, 102]
    assert jobs == 0


def test_manifest_list_collect_starts_no_job(spark, two_snapshot_table):
    from hielo_spark.metadata.manifests import read_manifest_list

    doc = C._load_doc(two_snapshot_table)[0]
    mlist = doc["snapshots"][-1]["manifest-list"].removeprefix("file:")
    rows, jobs = _jobs_during(
        spark, lambda: read_manifest_list(spark, mlist).collect())
    assert len(rows) == 2 and jobs == 0


#: the one tuple-list frame the planning plane keeps (one row per
#: deleted position; see the comment at the site in manifests.py)
ALLOWED = {("metadata/manifests.py", "dvdels")}


def _create_dataframe_calls(path: str):
    """(assigned name or None, lineno) of every ``*.createDataFrame(...)``
    call in a module — comments and docstrings do not count."""
    tree = ast.parse(open(path).read(), filename=path)
    owner = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            for sub in ast.walk(node.value):
                owner[id(sub)] = node.targets[0].id
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                and node.func.attr == "createDataFrame":
            yield owner.get(id(node)), node.lineno


def test_planning_plane_builds_frames_through_local_frame():
    found, allowed = [], []
    for sub in ("metadata", "catalog", "ops"):
        for root, _, files in os.walk(os.path.join(PKG, sub)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG)
                for name, line in _create_dataframe_calls(path):
                    hits = allowed if (rel, name) in ALLOWED else found
                    hits.append(f"{rel}:{line}")
    assert len(allowed) <= len(ALLOWED)
    assert not found, (
        "planning-plane frames from driver rows go through "
        f"io.local_frame; createDataFrame at {found}"
    )
