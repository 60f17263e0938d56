"""schema.name-mapping.default (Iceberg spec Appendix C): parquet
files whose column names never matched ANY Iceberg schema name —
foreign Hive/Spark imports — resolve through the table's name-mapping
property on BOTH read planes. Kills the documented silent-null path
(SCALE.md "Known costs"): before this, such columns read as null (or
surfaced under their physical names via mergeSchema).

The fixture is synthesized the reader-fuzz way: commit through our own
write plane, then rewrite the DATA PARQUET with foreign physical
names, exactly what an imported Hive dataset looks like after a
metadata-only onboarding."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata.manifests import read_data_at_snapshot
from hielo_spark.metadata.metadata_json import parse_name_mapping


@pytest.fixture()
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


_MAPPING = json.dumps([
    {"field-id": 1, "names": ["id", "rec_no"]},
    {"field-id": 2, "names": ["val", "val_str"]},
    # maps a name no file carries: must read null, not raise
    {"field-id": 3, "names": ["extra", "extra_not_there"]},
    # unassigned entry (no field-id): contributes nothing per spec
    {"names": ["orphan_physical"]},
])


def _foreignize(paths, rename):
    """Rewrite parquet files in place with foreign column names —
    row order preserved (pyarrow rename is metadata-only on the
    table object)."""
    for p in paths:
        t = pq.read_table(p)
        t = t.rename_columns([rename.get(c, c) for c in t.column_names])
        pq.write_table(t, p)
        _drop_crc(p)


def _drop_crc(p):
    # the rewrite invalidates Spark's hadoop checksum sidecar
    crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _mk_foreign_table(spark, tmp_path, set_mapping=True):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(i, f"v{i}", f"e{i}") for i in range(10)],
        ["id", "val", "extra"]),
        snapshot_id=101, timestamp_ms=1700000000000)
    files = sorted(glob.glob(os.path.join(t, "data", "*", "*.parquet")))
    assert files
    _foreignize(files, {"id": "rec_no", "val": "val_str",
                        "extra": "gone_entirely"})
    # drop the third column from the files: maps to a name that's
    # genuinely absent → null, never an error
    for p in files:
        tb = pq.read_table(p)
        pq.write_table(tb.drop_columns(["gone_entirely"]), p)
        _drop_crc(p)
    if set_mapping:
        C.set_table_properties(
            t, {"schema.name-mapping.default": _MAPPING})
    return t


def test_mapping_resolves_on_jvm_plane(spark, tmp_path):
    t = _mk_foreign_table(spark, tmp_path)
    df = read_data_at_snapshot(spark, C.current_metadata_path(t))
    assert sorted(df.columns) == ["extra", "id", "val"]
    got = {r.id: (r.val, r.extra) for r in df.collect()}
    assert got == {i: (f"v{i}", None) for i in range(10)}


def test_mapping_resolves_on_datasource_plane(registered, spark,
                                              tmp_path):
    t = _mk_foreign_table(spark, tmp_path)
    df = spark.read.format("hielo_iceberg").load(t)
    got = {r.id: (r.val, r.extra) for r in df.collect()}
    assert got == {i: (f"v{i}", None) for i in range(10)}


def test_mapping_with_mixed_native_and_foreign_files(registered, spark,
                                                     tmp_path):
    """A later append through our own writer (Iceberg names) coexists
    with the foreign-named files: each file resolves through whichever
    name it actually carries."""
    t = _mk_foreign_table(spark, tmp_path)
    C.append(spark, t, spark.createDataFrame(
        [(i, f"v{i}", f"e{i}") for i in range(10, 15)],
        ["id", "val", "extra"]),
        snapshot_id=102, timestamp_ms=1700100000000)
    for plane in ("jvm", "ds"):
        df = (
            read_data_at_snapshot(spark, C.current_metadata_path(t))
            if plane == "jvm"
            else spark.read.format("hielo_iceberg").load(t)
        )
        got = {r.id: (r.val, r.extra) for r in df.collect()}
        want = {i: (f"v{i}", None) for i in range(10)}
        want |= {i: (f"v{i}", f"e{i}") for i in range(10, 15)}
        assert got == want, plane


def test_mapping_filter_and_pruning_still_apply(registered, spark,
                                                tmp_path):
    """Bounds pruning keys off the manifest stats (recorded under the
    Iceberg names at commit time) and the row filter evaluates on the
    RESOLVED columns — a filtered read of a foreign-named table is
    exact on both planes."""
    t = _mk_foreign_table(spark, tmp_path)
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("id", ">", 6)
    )
    assert sorted(r.id for r in jvm.collect()) == [7, 8, 9]
    ds = (
        spark.read.format("hielo_iceberg").load(t)
        .filter("id > 6 AND val = 'v8'")
    )
    assert [(r.id, r.val) for r in ds.collect()] == [(8, "v8")]


def test_without_mapping_columns_read_null_on_datasource(
        registered, spark, tmp_path):
    """The pre-mapping posture (documented): no mapping → the Iceberg
    names resolve to nothing in the foreign files and read null on the
    explicit-schema DataSource plane."""
    t = _mk_foreign_table(spark, tmp_path, set_mapping=False)
    df = spark.read.format("hielo_iceberg").load(t)
    rows = df.collect()
    assert len(rows) == 10
    assert all(r.id is None and r.val is None for r in rows)


def test_malformed_mapping_raises_at_set_time(spark, tmp_path):
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(3),
             snapshot_id=101, timestamp_ms=1700000000000)
    with pytest.raises(ValueError, match="name-mapping"):
        C.set_table_properties(
            t, {"schema.name-mapping.default": "{not json"})
    with pytest.raises(ValueError, match="name-mapping"):
        C.set_table_properties(
            t, {"schema.name-mapping.default": '{"field-id": 1}'})


def test_parse_name_mapping_shapes():
    assert parse_name_mapping({}) == {}
    assert parse_name_mapping({"properties": {}}) == {}
    doc = {"properties": {"schema.name-mapping.default": _MAPPING}}
    assert parse_name_mapping(doc) == {
        1: ["id", "rec_no"],
        2: ["val", "val_str"],
        3: ["extra", "extra_not_there"],
    }
    # nested fields blocks: root names still map, nest not flattened
    nested = json.dumps([
        {"field-id": 7, "names": ["loc"], "fields": [
            {"field-id": 8, "names": ["lat", "latitude"]},
        ]},
        {"field-id": 9, "names": []},
    ])
    assert parse_name_mapping(
        {"properties": {"schema.name-mapping.default": nested}}
    ) == {7: ["loc"]}


def test_add_files_resolves_name_mapped_footers(registered, spark,
                                                tmp_path):
    """add_files + name mapping — the onboarding pairing Iceberg
    designed the mapping for: foreign parquet whose physical names
    resolve through schema.name-mapping.default registers
    metadata-only, footer stats land under the ICEBERG names (manifest
    bounds prune), and both planes read the Iceberg columns."""
    import pyarrow as pa

    from hielo_spark.metadata.manifests import live_data_file_dicts

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(0, "seed")], ["id", "val"]).coalesce(1),
        snapshot_id=100, timestamp_ms=1699000000000)
    C.set_table_properties(
        t, {"schema.name-mapping.default": json.dumps([
            {"field-id": 1, "names": ["id", "rec_no"]},
            {"field-id": 2, "names": ["val", "val_str"]},
        ])})
    land = tmp_path / "landing"
    land.mkdir()
    for lo, hi, fn in [(1, 6, "a.parquet"), (100, 106, "b.parquet")]:
        pq.write_table(pa.table({
            "rec_no": pa.array(range(lo, hi), pa.int64()),
            "val_str": pa.array([f"v{i}" for i in range(lo, hi)]),
        }), str(land / fn))
    res = C.add_files(spark, t, sorted(str(p) for p in land.iterdir()),
                      snapshot_id=101, timestamp_ms=1700000000000)
    assert res is not None

    want = {0: "seed"} | {i: f"v{i}" for i in
                          list(range(1, 6)) + list(range(100, 106))}
    jvm = {r.id: r.val for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    ds = {r.id: r.val for r in
          spark.read.format("hielo_iceberg").load(t).collect()}
    assert jvm == ds == want

    # footer stats keyed under the ICEBERG names → bounds prune
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    dicts = live_data_file_dicts(
        cur["manifest-list"].removeprefix("file:"))
    b = next(d for p, d in dicts.items() if p.endswith("/b.parquet"))
    assert b["lb"]["id"] == "100" and b["ub"]["id"] == "105"
    pruned = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("id", ">", 99))
    assert sorted(r.id for r in pruned.collect()) == list(range(100, 106))
    assert len(set(pruned.inputFiles())) == 1

    # a file missing a mapped column still raises per-file (loud)
    ok2 = land / "c.parquet"
    pq.write_table(pa.table({
        "rec_no": pa.array([7], pa.int64()),
        "val_str": pa.array(["v7"]),
    }), str(ok2))
    bad = land / "d.parquet"
    pq.write_table(pa.table({
        "rec_no": pa.array([8], pa.int64()),
    }), str(bad))
    with pytest.raises(ValueError, match="lacks table columns"):
        C.add_files(spark, t, [str(ok2), str(bad)],
                    snapshot_id=102, timestamp_ms=1700100000000)


@pytest.mark.slow
def test_dml_on_name_mapped_table(registered, spark, tmp_path):
    """Row-level DML against a table whose live files are name-mapped
    imports: DELETE's candidate scan and UPDATE's live-MOR re-append
    both resolve through the mapping; the re-appended files carry the
    ICEBERG names (native) and coexist with the remaining foreign
    files."""
    t = _mk_foreign_table(spark, tmp_path)
    C.delete_where(spark, t, "id = 3",
                   snapshot_id=102, timestamp_ms=1700100000000)
    C.update_where(spark, t, "id IN (1, 8)", {"val": "concat('u', id)"},
                   snapshot_id=103, timestamp_ms=1700200000000)
    want = {i: (f"u{i}" if i in (1, 8) else f"v{i}")
            for i in range(10) if i != 3}
    jvm = {r.id: r.val for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    ds = {r.id: r.val for r in
          spark.read.format("hielo_iceberg").load(t).collect()}
    assert jvm == ds == want
    # repeat the UPDATE: still exact (live-MOR basis, no duplication)
    C.update_where(spark, t, "id IN (1, 8)", {"val": "concat('w', id)"},
                   snapshot_id=104, timestamp_ms=1700300000000)
    jvm2 = {r.id: r.val for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect()}
    assert jvm2 == {i: (f"w{i}" if i in (1, 8) else f"v{i}")
                    for i in range(10) if i != 3}
