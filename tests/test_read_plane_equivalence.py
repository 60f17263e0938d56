"""Cross-plane equivalence: every table shape the read planes support,
read through ``manifests.read_data_at_snapshot`` (the DataFrame plane)
and ``format("hielo_iceberg")`` (the DataSource plane), at every
snapshot selector and under every pushed-filter kind. Both planes plan
through the same snapshot selector, entry walk, comparator and delete
planning, so they must return the same multiset of rows — and, wherever
the filter is expressible as a ``skip_filter``, scan the same data
files."""

from __future__ import annotations

import json
import math
from functools import reduce

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNull,
    LessThan,
)

from hielo_spark.metadata import commit as C
from hielo_spark.metadata.manifests import (
    _norm_ref_path,
    _resolve,
    live_data_file_dicts,
    live_entries,
    read_data_at_snapshot,
    select_snapshot,
)
from hielo_spark.sources.iceberg_source import (
    HieloIcebergDataSource,
    _PackedScanPartition,
)

T1, T2, T3, T4 = 1700000000000, 1700100000000, 1700200000000, 1700300000000

# (DataSource options, read_data_at_snapshot kwargs): current, by id,
# by instant (between the 2nd and 3rd commits), by tag (on the 2nd)
SELECTORS = {
    "current": ({}, {}),
    "snapshot-id": ({"snapshot-id": "101"}, {"snapshot_id": 101}),
    "as-of-ms": ({"as-of-ms": str(T2 + 1)}, {"as_of_ms": T2 + 1}),
    "ref": ({"ref": "t2"}, {"ref": "t2"}),
}


@pytest.fixture(scope="module")
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


def _rows(spark, lo, hi, value_col="a", nan=False):
    """id, the value column (null at id % 7 == 3; NaN at id % 5 == 2 for
    a double column with ``nan``), a prefix-bearing string and x."""
    out = []
    for i in range(lo, hi):
        v = None if i % 7 == 3 else i
        x = float("nan") if nan and i % 5 == 2 else float(i)
        out.append((i, v, f"k{i % 3}-{i}", x))
    return spark.createDataFrame(
        out, f"id long, {value_col} long, s string, x double"
    ).coalesce(1)


def _build(spark, t, shape):
    part = {
        "identity": ["s"], "bucket": ["bucket(4, id)"],
        "partdel": ["bucket(4, id)"],
    }.get(shape)
    C.append(spark, t, _rows(spark, 0, 10, nan=shape == "nan"),
             snapshot_id=101, timestamp_ms=T1, partition_by=part)
    if shape == "dv":
        C.upgrade_format_version(t, 3)
    second = _rows(spark, 10, 20, nan=shape == "nan")
    if shape == "addcol":
        second = second.withColumn("w", F.col("x") / 2)
    C.append(spark, t, second,
             snapshot_id=102, timestamp_ms=T2, partition_by=part)
    C.create_ref(t, "t2", 102, ref_type="tag")
    if shape in ("posdel", "dv"):
        C.delete_where(spark, t, "id % 4 = 0",
                       snapshot_id=103, timestamp_ms=T3)
    elif shape == "eqdel":
        C.delete_equality(
            spark, t, spark.createDataFrame([(3,), (14,)], "id long"),
            snapshot_id=103, timestamp_ms=T3)
    elif shape == "partdel":
        # the bucket source is the delete key, so both delete kinds
        # are partition-scoped
        C.delete_where(spark, t, "id % 4 = 0",
                       snapshot_id=103, timestamp_ms=T3)
        C.delete_equality(
            spark, t, spark.createDataFrame([(3,), (14,), (17,)], "id long"),
            snapshot_id=104, timestamp_ms=T4)
    elif shape == "addcol":
        # add-column evolution by write, once per write plane: the
        # commit.append at 102 brought ``w`` (above), the DataSource
        # append at 103 brings ``z``
        _rows(spark, 20, 30).withColumn("z", F.col("id") * 3) \
            .write.format("hielo_iceberg").mode("append") \
            .option("snapshot-id", "103").option("timestamp-ms", str(T3)) \
            .save(t)
    elif shape == "rename":
        C.update_schema(t, rename={"a": "b"}, timestamp_ms=T2 + 5)
        C.append(spark, t, _rows(spark, 20, 30, value_col="b"),
                 snapshot_id=103, timestamp_ms=T3)
    else:
        C.append(spark, t, _rows(spark, 20, 30, nan=shape == "nan"),
                 snapshot_id=103, timestamp_ms=T3, partition_by=part)


def _filters(v: str, lit):
    """(SQL, skip_filter or None, pushed Filter or None) per filter kind."""
    return [
        ("id = 7", ("id", "=", 7), EqualTo(("id",), 7)),
        (f"{v} < 15", (v, "<", lit(15)), LessThan((v,), lit(15))),
        (f"{v} >= 12", (v, ">=", lit(12)),
         GreaterThanOrEqual((v,), lit(12))),
        ("id IN (3, 14, 25)", ("id", "in", [3, 14, 25]),
         In(("id",), (3, 14, 25))),
        (f"{v} IS NULL", (v, "is_null", None), IsNull((v,))),
        ("s LIKE 'k1%'", None, None),  # pushed as StringStartsWith
    ]


def _canon(rows):
    def val(x):
        return "NaN" if isinstance(x, float) and math.isnan(x) else repr(x)

    return sorted(tuple((k, val(x)) for k, x in sorted(r.items())) for r in rows)


def _by_query(frames):
    """Collect several frames in ONE job (a tagged union); rows come back
    as dicts grouped by frame index."""
    tagged = [df.withColumn("_q", F.lit(i)) for i, df in enumerate(frames)]
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged
    ).collect()
    out = {i: [] for i in range(len(frames))}
    for r in rows:
        d = r.asDict()
        out[d.pop("_q")].append(d)
    return out


def _ds_plan_paths(t, opts, schema, pushed) -> set[str]:
    reader = HieloIcebergDataSource({"path": t, **opts}).reader(schema)
    list(reader.pushFilters([pushed]))
    return {
        _norm_ref_path(f.path) for p in reader.partitions()
        for f in (p.files if isinstance(p, _PackedScanPartition) else [p])
        if f.path is not None
    }


@pytest.mark.parametrize(
    "shape",
    ["plain", "identity", "bucket", "posdel", "eqdel", "dv", "rename",
     "nan", "partdel", "addcol"],
)
def test_planes_agree(registered, tmp_path, shape):
    spark = registered
    t = str(tmp_path / shape)
    _build(spark, t, shape)
    mpath = C.current_metadata_path(t)
    doc = json.load(open(mpath))
    if shape == "partdel":
        # every delete file lies in one data partition, its values
        # rendered as the data files' are
        live = live_entries(
            _resolve(mpath, select_snapshot(doc)["manifest-list"]),
            doc["format-version"],
        )
        data_pvals = [e["pvals"] for e in live if e["content"] == 0]
        dels = [e for e in live if e["content"] != 0]
        assert {e["content"] for e in dels} == {1, 2}
        assert all(d["pvals"] in data_pvals for d in dels), dels
    for sel, (opts, kwargs) in SELECTORS.items():
        ds = spark.read.format("hielo_iceberg").options(**opts).load(t)
        if shape == "addcol":
            # each snapshot reads under its own schema on both planes:
            # the pre-evolution one omits both added columns
            added = {"current": {"w", "z"}, "snapshot-id": set()}.get(
                sel, {"w"})
            jvm = read_data_at_snapshot(spark, mpath, **kwargs)
            assert set(ds.columns) == set(jvm.columns) \
                == {"id", "a", "s", "x"} | added, sel
        v = "x" if shape == "nan" else ("b" if "b" in ds.columns else "a")
        lit = float if v == "x" else int
        filters = _filters(v, lit)
        jvm_frames = [
            read_data_at_snapshot(spark, mpath, skip_filter=sf, **kwargs)
            if sf is not None
            else read_data_at_snapshot(spark, mpath, **kwargs).filter(sql)
            for sql, sf, _p in filters
        ]
        # one load() per filter: two differently-filtered scans of the
        # SAME loaded relation in one plan share one pushed filter set
        # (a Spark Python-DataSource planning defect; see ROADMAP)
        got_ds = _by_query([
            spark.read.format("hielo_iceberg").options(**opts).load(t)
            .filter(sql)
            for sql, _sf, _p in filters
        ])
        got_jvm = _by_query(jvm_frames)
        for i, (sql, sf, pushed) in enumerate(filters):
            where = (shape, sel, sql)
            assert _canon(got_ds[i]) == _canon(got_jvm[i]), where
            if sf is None:
                continue
            snap = select_snapshot(doc, **kwargs)
            live = {
                _norm_ref_path(p) for p in live_data_file_dicts(
                    _resolve(mpath, snap["manifest-list"]),
                    doc["format-version"],
                )
            }
            jvm_files = {
                _norm_ref_path(p) for p in jvm_frames[i].inputFiles()
            } & live
            assert _ds_plan_paths(t, opts, ds.schema, pushed) \
                == jvm_files, where


def test_sources_do_not_decode_manifest_entries():
    """The manifest-entry format has one owner (``manifests.live_entries``
    over ``decode_manifest``): no module under ``hielo_spark/sources``
    names a raw entry field, and the only Avro read there is the
    manifest-list read behind the ``manifests`` surface."""
    import ast
    import pathlib

    import hielo_spark.sources as pkg

    banned = {"data_file", "lower_bounds_str", "upper_bounds_str"}
    literals, avro_reads, surface_nodes = [], [], set()
    for path in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and node.value in banned:
                literals.append((path.name, node.lineno, node.value))
            if isinstance(node, ast.Call) and "read_avro_file" in (
                getattr(node.func, "id", None),
                getattr(node.func, "attr", None),
            ):
                avro_reads.append(node)
            if isinstance(node, ast.FunctionDef) \
                    and node.name == "_meta_surface_rows":
                surface_nodes = {id(n) for n in ast.walk(node)}
    assert literals == []
    assert len(avro_reads) == 1 and id(avro_reads[0]) in surface_nodes


def test_v2_merge_position_deletes_are_partition_scoped(registered, tmp_path):
    """A v2 MERGE writes position deletes in the partition of the rows
    it replaces: both read planes return the merged rows, a
    ``region = 'us'`` read of the DataFrame plane plans only the ``us``
    files, and the DataSource plane attaches the delete file to ``us``
    files only."""
    spark = registered
    t = str(tmp_path / "t")
    schema = "id long, region string, x double"
    C.append(spark, t, spark.createDataFrame(
        [(1, "us", 1.0), (2, "us", 2.0), (3, "eu", 3.0)], schema),
        partition_by=["region"], snapshot_id=101, timestamp_ms=T1)
    snap = C.merge_into(spark, t, spark.createDataFrame(
        [(2, "us", 20.0), (4, "eu", 4.0)], schema),
        on=["id"], snapshot_id=102, timestamp_ms=T2)
    assert snap["summary"]["position-delete-files"] == "1"
    assert "equality-delete-files" not in snap["summary"]
    mpath = C.current_metadata_path(t)
    live = live_entries(
        _resolve(mpath, select_snapshot(json.load(open(mpath)))["manifest-list"]),
        2,
    )
    (dele,) = [e for e in live if e["content"] != 0]
    assert (dele["content"], dele["pvals"], dele["records"]) == (
        1, {"region": "us"}, 1)
    data = {e["path"]: e["pvals"] for e in live if e["content"] == 0}
    us_files = {p for p, pv in data.items() if pv == {"region": "us"}}
    assert us_files and us_files != set(data)

    want = [(1, "us", 1.0), (2, "us", 20.0), (3, "eu", 3.0), (4, "eu", 4.0)]
    ds = spark.read.format("hielo_iceberg").load(t)
    jvm = read_data_at_snapshot(spark, mpath)
    for df in (ds, jvm):
        assert sorted(tuple(r) for r in df.select("id", "region", "x")
                      .collect()) == want
    jvm_us = read_data_at_snapshot(spark, mpath,
                                   skip_filter=("region", "=", "us"))
    assert sorted(r.id for r in jvm_us.collect()) == [1, 2]
    assert {_norm_ref_path(p) for p in jvm_us.inputFiles()} & set(data) \
        == us_files
    assert sorted(r.id for r in ds.filter("region = 'us'").collect()) \
        == [1, 2]
    reader = HieloIcebergDataSource({"path": t}).reader(ds.schema)
    tasks = [f for p in reader.partitions() for f in (
        p.files if isinstance(p, _PackedScanPartition) else [p])]
    assert {_norm_ref_path(f.path) for f in tasks if f.pos_deletes} \
        <= us_files
