"""One write plane: ``commit.append`` (JVM plane, ``mapInArrow`` tasks)
and ``df.write.format("hielo_iceberg")`` (Python DataSource writer) run
the same in-task writer and stats kernel (metadata/data_files.py) and
the same manifest builder, so a table reads the same whichever plane
wrote it and whichever plane reads it.
"""
from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata.manifests import (
    files_from_manifest_list,
    live_data_file_dicts,
    live_entries,
    read_data_at_snapshot,
)

NAN = float("nan")
UTC = dt.timezone.utc


@pytest.fixture()
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


def _current_list(t: str) -> tuple[str, int]:
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    return cur["manifest-list"].removeprefix("file:"), doc.get(
        "format-version", 2)


def _ds_append(df, t: str) -> None:
    df.write.format("hielo_iceberg").mode("append").save(t)


_STATS_ROWS = [
    (1.5, NAN, 0.1, 1, None, "apple", dt.date(2024, 1, 1),
     dt.datetime(2024, 1, 2, 3, 4, 5, 100000, tzinfo=UTC), 10),
    (NAN, NAN, 0.2, None, None, "pear", dt.date(2024, 3, 5),
     dt.datetime(2024, 1, 2, 3, 4, 6, tzinfo=UTC), -20),
    (-2.0, NAN, 0.2, 3, None, "fig", dt.date(2023, 12, 31),
     dt.datetime(2023, 6, 1, tzinfo=UTC), 30),
]
_STATS_SCHEMA = (
    "d double, nan_all double, f float, n bigint, null_all string, "
    "s string, dt date, ts timestamp, b bigint"
)


@pytest.mark.parametrize("metrics", ["full", "truncate(4)", "counts", "none"])
def test_both_planes_record_identical_file_stats(registered, tmp_path, metrics):
    spark = registered
    df = spark.createDataFrame(_STATS_ROWS, _STATS_SCHEMA).coalesce(1)
    stats = {}
    for plane in ("commit", "datasource"):
        t = str(tmp_path / plane)
        C.set_table_properties(t, {"write.metadata.metrics.default": metrics})
        if plane == "commit":
            C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
        else:
            _ds_append(df, t)
        (row,) = files_from_manifest_list(
            spark, "t", _current_list(t)[0]).collect()
        stats[plane] = {
            k: dict(row[k] or {})
            for k in ("lower_bounds", "upper_bounds", "null_counts",
                      "nan_counts", "distinct_counts")
        }
    assert stats["commit"] == stats["datasource"]

    got = stats["commit"]
    if metrics == "none":
        assert not any(got.values())
        return
    assert got["null_counts"] == {
        "d": "0", "nan_all": "0", "f": "0", "n": "1", "null_all": "3",
        "s": "0", "dt": "0", "ts": "0", "b": "0",
    }
    assert got["nan_counts"] == {"d": "1", "nan_all": "3", "f": "0"}
    if metrics == "counts":
        assert not got["lower_bounds"] and not got["upper_bounds"]
        return
    lo, hi = got["lower_bounds"], got["upper_bounds"]
    # NaN never enters a bound; all-NaN and all-null columns get none
    assert (lo["d"], hi["d"]) == ("-2.0", "1.5")
    assert "nan_all" not in lo and "null_all" not in hi
    # a float bound renders its exact double value, never below it
    assert float(hi["f"]) == float(np.float32(0.2))
    assert (lo["dt"], hi["dt"]) == ("2023-12-31", "2024-03-05")
    assert (lo["ts"], hi["ts"]) == ("2023-06-01 00:00:00",
                                    "2024-01-02 03:04:06")
    assert (lo["b"], hi["b"]) == ("-20", "30")
    assert (lo["s"], hi["s"]) == (
        ("appl", "pear") if metrics == "truncate(4)" else ("apple", "pear"))
    assert got["distinct_counts"]["s"] == "3"


def test_all_nan_datasource_file_keeps_nan_matches(registered, tmp_path):
    """ROADMAP item 3: DataSource appends of x=[1.0, NaN] and x=[NaN];
    ``x > 5`` matches both NaN rows (Spark ranks NaN above every
    double), so neither file may be pruned on either read plane."""
    spark = registered
    t = str(tmp_path / "t")
    _ds_append(spark.createDataFrame([(1.0,), (NAN,)], "x double").coalesce(1), t)
    _ds_append(spark.createDataFrame([(NAN,)], "x double").coalesce(1), t)
    ds = spark.read.format("hielo_iceberg").load(t).filter("x > 5")
    assert ds.count() == 2
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("x", ">", 5.0))
    assert jvm.count() == 2


def test_float_upper_bound_encloses_stored_value(registered, tmp_path):
    """A float 0.2 is stored as the double 0.20000000298...; an upper
    bound rendered as "0.2" sits below it and prunes ``x >= 0.2``."""
    spark = registered
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(0.1,), (0.2,)], "x float").coalesce(1)
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    ds = spark.read.format("hielo_iceberg").load(t).filter("x >= 0.2")
    assert ds.count() == 1
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("x", ">=", 0.2))
    assert jvm.count() == 1


def test_datasource_append_honors_metrics_none(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    C.set_table_properties(t, {"write.metadata.metrics.default": "none"})
    _ds_append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, s string").coalesce(1), t)
    (f,) = live_data_file_dicts(*_current_list(t)).values()
    assert not f["lb"] and not f["ub"] and not f["nc"]
    ds = spark.read.format("hielo_iceberg").load(t).filter("s = 'b'")
    assert [r.id for r in ds.collect()] == [2]
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("s", "=", "b"))
    assert [r.id for r in jvm.collect()] == [2]


def test_min_sequence_number_survives_carry_forward(spark, tmp_path):
    from hielo_spark.metadata.avro_py import read_avro_file

    t = str(tmp_path / "t")
    for i in range(3):
        C.append(spark, t, spark.createDataFrame([(i,)], "id bigint"),
                 snapshot_id=101 + i, timestamp_ms=1700000000000 + i)
    C.rewrite_manifests(spark, t, snapshot_id=104,
                        timestamp_ms=1700000000004)
    (merged,) = read_avro_file(_current_list(t)[0])[2]
    assert merged["min_sequence_number"] == 1
    C.append(spark, t, spark.createDataFrame([(3,)], "id bigint"),
             snapshot_id=105, timestamp_ms=1700000000005)
    rows = read_avro_file(_current_list(t)[0])[2]
    carried = next(r for r in rows
                   if r["manifest_path"] == merged["manifest_path"])
    assert carried["min_sequence_number"] == 1


def test_append_runs_exactly_one_spark_job(spark, tmp_path):
    """The stats come back with the written files: an unpartitioned
    append is the write job alone, with no stats re-scan after it."""
    t = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)
    assert len(set(st.getJobIdsForGroup(None)) - before) == 1


def test_streamed_file_keeps_write_table_row_groups(tmp_path):
    """The writer streams batch by batch yet cuts the row groups a
    one-shot ``pq.write_table`` of the same rows would."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hielo_spark.metadata.data_files import ROW_GROUP_ROWS, write_files

    n = ROW_GROUP_ROWS + 5000
    batches = (
        pa.record_batch([pa.array(np.arange(i, min(i + 100_000, n)))], names=["id"])
        for i in range(0, n, 100_000)
    )
    (rec,), dtypes = write_files(batches, str(tmp_path), [], "part",
                                 fanout=False)
    ref = str(tmp_path / "ref.parquet")
    pq.write_table(pa.table({"id": np.arange(n)}), ref)

    def groups(p):
        md = pq.ParquetFile(p).metadata
        return [md.row_group(i).num_rows for i in range(md.num_row_groups)]

    assert groups(rec["path"]) == groups(ref) == [ROW_GROUP_ROWS, 5000]
    assert rec["record_count"] == n and dtypes == {"id": "bigint"}
    assert (rec["lower_bounds"], rec["upper_bounds"]) == (
        {"id": "0"}, {"id": str(n - 1)})


@pytest.mark.parametrize("odd", [NAN, None], ids=["nan", "null"])
def test_odd_equality_key_deletes_on_both_planes(registered, tmp_path, odd):
    """A delete file's key bounds leave NaN and NULL out (its NaN and
    null counts record them), so x ∈ [100, 100] beside a NaN (NULL) key
    must not read as disjoint from a data file whose x ∈ [1, 2] also
    holds a NaN (NULL) row."""
    spark = registered
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, odd)], "id int, x double").coalesce(1),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_equality(spark, t, spark.createDataFrame(
        [(odd,), (100.0,)], "x double").coalesce(1),
        snapshot_id=102, timestamp_ms=1700000001000)
    jvm = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(r.id for r in jvm.collect()) == [1, 2]
    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted(r.id for r in ds.collect()) == [1, 2]


def _ids(spark, t) -> list[int]:
    return sorted(
        r.id for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect()
    )


def test_delete_writers_never_read_footers(spark, tmp_path, monkeypatch):
    """Every delete writer takes its stats from the in-task writer:
    position deletes (``delete_where`` and ``rewrite_position_deletes``)
    and equality deletes (``delete_equality`` and a v2 ``merge_into``)
    commit with the footer reader unavailable."""
    def no_footers(*_a, **_k):
        raise AssertionError("delete writers must not read footers")

    monkeypatch.setattr(C, "_footer_file_stats", no_footers)
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 20).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "id % 5 = 0",
                   snapshot_id=102, timestamp_ms=1700000001000)
    C.delete_where(spark, t, "id = 7",
                   snapshot_id=103, timestamp_ms=1700000002000)
    assert C.rewrite_position_deletes(
        spark, t, snapshot_id=104, timestamp_ms=1700000003000) is not None
    C.delete_equality(spark, t, spark.createDataFrame([(3,)], "id bigint"),
                      snapshot_id=105, timestamp_ms=1700000004000)
    C.merge_into(spark, t, spark.createDataFrame(
        [(4, 400), (99, 990)], "id bigint, v bigint"), on=["id"],
        snapshot_id=106, timestamp_ms=1700000005000)
    assert _ids(spark, t) == [
        1, 2, 4, 6, 8, 9, 11, 12, 13, 14, 16, 17, 18, 19, 99]
    (eq,) = [e for e in live_entries(*_current_list(t))
             if e["content"] == 2 and e["sid"] == 106]
    assert eq["equality_ids"] == [1] and eq["records"] == 1


def test_delete_files_come_back_from_their_write_job(
    spark, tmp_path, monkeypatch
):
    """Delete files come back with their stats from the job that writes
    them, with no re-read: an equality-delete write is one Spark job; a
    position-delete write adds only its ``file_path`` hash-partition
    shuffle, which adaptive execution runs as a job of its own. The
    whole ``delete_where`` (candidate scan included) stays within 3."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 100).selectExpr("id", "id * 2 AS v"),
             snapshot_id=101, timestamp_ms=1700000000000)
    st = spark.sparkContext.statusTracker()
    write_jobs = []
    real = C._write_data_files

    def counted(*a, **k):
        before = set(st.getJobIdsForGroup(None))
        out = real(*a, **k)
        write_jobs.append(len(set(st.getJobIdsForGroup(None)) - before))
        return out

    monkeypatch.setattr(C, "_write_data_files", counted)
    before = set(st.getJobIdsForGroup(None))
    C.delete_where(spark, t, "id % 3 = 0",
                   snapshot_id=102, timestamp_ms=1700000001000)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert write_jobs == [2]
    assert len(set(st.getJobIdsForGroup(None)) - before) <= 3
    C.delete_equality(spark, t, spark.createDataFrame([(1,)], "id bigint"),
                      snapshot_id=103, timestamp_ms=1700000002000)
    assert write_jobs == [2, 1]
    assert _ids(spark, t) == [i for i in range(100) if i % 3 and i != 1]


def test_table_files_have_one_writer():
    """Table files are written only by ``data_files.write_files``: no
    module under ``hielo_spark/metadata`` or ``hielo_spark/sources``
    calls a ``DataFrameWriter``'s ``.parquet(...)`` or globs Spark's
    ``part-*.parquet`` output back."""
    import ast
    import pathlib

    import hielo_spark

    def chain(node):
        """Attribute names along a call receiver, and its root node."""
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names, node

    def is_writer(node, writers):
        names, root = chain(node)
        return bool({"write", "writeStream"} & set(names)) or (
            isinstance(root, ast.Name) and root.id in writers
        )

    root = pathlib.Path(hielo_spark.__file__).parent
    found = []
    for sub in ("metadata", "sources"):
        for path in sorted((root / sub).glob("*.py")):
            tree = ast.parse(path.read_text())
            writers = {
                tgt.id
                for node in ast.walk(tree) if isinstance(node, ast.Assign)
                and is_writer(node.value, set())
                for tgt in node.targets if isinstance(tgt, ast.Name)
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = getattr(fn, "attr", getattr(fn, "id", None))
                if name == "parquet" and isinstance(fn, ast.Attribute) \
                        and is_writer(fn.value, writers):
                    found.append((path.name, node.lineno, ".parquet("))
                if name in ("glob", "iglob") and any(
                    isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and "part-*" in c.value
                    for a in node.args for c in ast.walk(a)
                ):
                    found.append((path.name, node.lineno, "part-* glob"))
    assert found == []
