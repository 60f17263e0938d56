"""Reader fuzz: mutate OUR OWN committed artifacts the way a foreign
Iceberg writer legitimately could — record-field order permuted,
optional stats fields absent from the manifest schema, run-container
DV serializations, unknown metadata.json keys — and assert both read
planes still return exact results. This is the cheap proxy for
their-write→our-read interop while the sandbox has no second engine
(VERDICT r7 item 5)."""

from __future__ import annotations

import json
import os
import struct

import pytest

from hielo_spark.metadata import commit as C
from hielo_spark.metadata import upgrade_format_version
from hielo_spark.metadata.avro_py import read_avro_file, write_avro_file
from hielo_spark.metadata.manifests import _resolve, read_data_at_snapshot


@pytest.fixture()
def registered(spark):
    from hielo_spark.sources import register

    register(spark)
    return spark


def _both_plane_ids(spark, t):
    jvm = sorted(r.id for r in read_data_at_snapshot(
        spark, C.current_metadata_path(t)).collect())
    ds = sorted(
        r.id for r in spark.read.format("hielo_iceberg").load(t).collect()
    )
    assert jvm == ds
    return jvm


def _data_manifest_paths(t):
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    return [
        _resolve(mlist, r["manifest_path"]) for r in rows
        if r.get("content", 0) == 0
    ]


def _rewrite_manifest(path, mutate_schema, mutate_entry):
    schema, meta, raw = read_avro_file(path)
    schema = mutate_schema(schema)
    raw = [mutate_entry(dict(e)) for e in raw]
    hdr = {k: v for k, v in (meta or {}).items()
           if not k.startswith("avro.")}
    write_avro_file(path, json.dumps(schema), raw, meta=hdr)


def test_manifest_field_order_permuted(registered, spark, tmp_path):
    """A writer may order record fields however it likes — Avro decodes
    by the WRITER's schema, so readers must not assume our field
    order. Reverse every record's field list and rewrite."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 50).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)

    def rev(node):
        if isinstance(node, dict):
            out = {k: rev(v) for k, v in node.items()}
            if out.get("type") == "record":
                out["fields"] = [rev(f) for f in out["fields"]][::-1]
            return out
        if isinstance(node, list):
            return [rev(x) for x in node]
        return node

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, rev, lambda e: e)
    assert _both_plane_ids(spark, t) == list(range(50))


def test_manifest_optional_stats_fields_absent(registered, spark,
                                               tmp_path):
    """A minimal foreign writer may omit the optional stats fields
    ENTIRELY from its manifest schema (not just write nulls). Reads
    must survive, and bounds-based skipping must degrade to
    conservative (keep every file), never crash or wrongly prune."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 50).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    dropped = {
        "column_sizes", "value_counts", "null_value_counts",
        "nan_value_counts", "lower_bounds", "upper_bounds",
        "distinct_counts", "key_metadata", "split_offsets",
        "equality_ids", "sort_order_id",
    }

    def strip_schema(node):
        if isinstance(node, dict):
            out = {k: strip_schema(v) for k, v in node.items()}
            if out.get("type") == "record":
                out["fields"] = [
                    strip_schema(f) for f in out["fields"]
                    if f.get("name") not in dropped
                ]
            return out
        if isinstance(node, list):
            return [strip_schema(x) for x in node]
        return node

    def strip_entry(e):
        e["data_file"] = {
            k: v for k, v in e["data_file"].items() if k not in dropped
        }
        return e

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, strip_schema, strip_entry)
    assert _both_plane_ids(spark, t) == list(range(50))
    # bounds gone → skipping keeps the file (conservative, not wrong)
    got = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("id", ">=", 40)
    )
    assert sorted(r.id for r in got.collect()) == list(range(40, 50))


def test_run_container_dv_read(registered, spark, tmp_path):
    """Foreign writers may RUN-compress DV bitmaps (our writer never
    does). Hand-encode the same position set {5..8} as a run container
    inside the 64-bit portable framing, splice it into a fresh Puffin
    blob, repoint the delete manifest entry, and assert both planes
    still drop exactly those rows."""
    import zlib

    from hielo_spark.metadata.puffin import _DV_MAGIC, write_puffin

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 20).coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)
    C.delete_where(spark, t, "id >= 5 AND id <= 8",
                   snapshot_id=102, timestamp_ms=1700100000000)
    assert _both_plane_ids(spark, t) == [
        i for i in range(20) if not (5 <= i <= 8)
    ]
    # run-encoded 32-bit bitmap holding the run (5, len-1=3) → {5..8}
    run32 = (
        struct.pack("<I", 12346 | ((1 - 1) << 16))  # run cookie, 1 ctr
        + b"\x01"                                   # run-flag bitset
        + struct.pack("<HH", 0, 4 - 1)              # key 0, card-1
        + struct.pack("<HHH", 1, 5, 3)              # 1 run: start 5 len 4
    )
    vec = struct.pack("<Q", 1) + struct.pack("<I", 0) + run32
    body = _DV_MAGIC + vec
    payload = (
        struct.pack(">I", len(body)) + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )
    # sanity: the run form decodes to the same positions
    from hielo_spark.metadata.puffin import decode_dv_payload

    assert decode_dv_payload(payload).tolist() == [5, 6, 7, 8]
    # splice: new container, repoint the DV manifest entry
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    dmp = next(_resolve(mlist, r["manifest_path"]) for r in rows
               if r.get("content") == 1)
    ppath = os.path.join(t, "data", "fuzz-run-dv.puffin")
    schema, meta, raw = read_avro_file(dmp)
    entry = next(e for e in raw
                 if (e.get("data_file") or {}).get("referenced_data_file"))
    _fs, _ft, metas = write_puffin(ppath, [{
        "type": "deletion-vector-v1", "fields": [],
        "snapshot-id": 102, "sequence-number": 2, "payload": payload,
        "properties": {
            "referenced-data-file":
                entry["data_file"]["referenced_data_file"],
            "cardinality": "4",
        },
    }], {"created-by": "fuzz"})
    entry["data_file"]["file_path"] = ppath
    entry["data_file"]["content_offset"] = int(metas[0]["offset"])
    entry["data_file"]["content_size_in_bytes"] = int(metas[0]["length"])
    hdr = {k: v for k, v in (meta or {}).items()
           if not k.startswith("avro.")}
    write_avro_file(dmp, json.dumps(schema), raw, meta=hdr)
    assert _both_plane_ids(spark, t) == [
        i for i in range(20) if not (5 <= i <= 8)
    ]


def test_metadata_json_unknown_keys_ignored(registered, spark, tmp_path):
    """Future-spec writers add top-level / snapshot / schema-field keys
    we don't know. Reads must ignore them everywhere."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10),
             snapshot_id=101, timestamp_ms=1700000000000)
    mpath = C.current_metadata_path(t)
    doc = json.load(open(mpath))
    doc["future-top-level-key"] = {"nested": [1, 2, 3]}
    for s in doc["snapshots"]:
        s["future-snapshot-key"] = "x"
    for sch in doc["schemas"]:
        sch["future-schema-key"] = 7
        for f in sch["fields"]:
            f["future-field-key"] = True
    json.dump(doc, open(mpath, "w"))
    assert _both_plane_ids(spark, t) == list(range(10))


# ----------------------------------------- foreign path forms (r9, item 8)


def _all_manifest_paths(t):
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    return [_resolve(mlist, r["manifest_path"]) for r in rows]


def test_data_file_path_file_uri_forms(registered, spark, tmp_path):
    """Java writers record ``file:///abs`` (and ``file:/abs``) URIs in
    manifests; both read planes must resolve them to local files."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 50).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)

    forms = iter(["file://", "file:"])  # alternate both URI spellings

    def uri(e):
        df = e["data_file"]
        p = df["file_path"]
        if not str(p).startswith("file:"):
            df["file_path"] = next(forms, "file://") + os.path.abspath(p)
        return e

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, lambda s: s, uri)
    assert _both_plane_ids(spark, t) == list(range(50))


def test_pos_delete_relative_file_path_refs(registered, spark,
                                            tmp_path):
    """A foreign writer may record a position delete's file_path
    references relative to the table location (``./data/...`` or bare
    ``data/...``). Both planes must resolve them against the table
    root — a silent under-delete is data corruption."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 40).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.delete_where(spark, t, "id < 10",
                   snapshot_id=102, timestamp_ms=1700100000000)
    import glob as g

    dels = g.glob(os.path.join(t, "data", "seq-*-posdeletes", "**",
                               "part-*.parquet"), recursive=True)
    assert dels
    prefixes = ["./", ""]  # both relative spellings
    for i, dp in enumerate(sorted(dels)):
        tbl = pq.read_table(dp)
        rel = [
            prefixes[i % 2] + os.path.relpath(
                str(p).removeprefix("file:"), t)
            for p in tbl.column("file_path").to_pylist()
        ]
        fixed = tbl.set_column(
            tbl.column_names.index("file_path"),
            "file_path", pa.array(rel, type=pa.string()),
        )
        pq.write_table(fixed, dp)
        crc = os.path.join(os.path.dirname(dp),
                           "." + os.path.basename(dp) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)  # hadoop checksum beside the rewritten file
    assert _both_plane_ids(spark, t) == list(range(10, 40))


def test_dv_referenced_data_file_uri_form(registered, spark, tmp_path):
    """v3 deletion-vector entries whose referenced_data_file carries a
    ``file://`` URI must still match the scan's local data files on
    both planes."""
    from hielo_spark.metadata import upgrade_format_version

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 40).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    upgrade_format_version(t, 3)
    C.delete_where(spark, t, "id < 15",
                   snapshot_id=102, timestamp_ms=1700100000000)

    def uri(e):
        df = e["data_file"]
        ref = df.get("referenced_data_file")
        if ref is not None and not str(ref).startswith("file:"):
            df["referenced_data_file"] = (
                "file://" + os.path.abspath(ref)
            )
        return e

    for mp in _all_manifest_paths(t):
        _rewrite_manifest(mp, lambda s: s, uri)
    assert _both_plane_ids(spark, t) == list(range(15, 40))


def test_variant_column_with_permuted_manifests(registered, spark,
                                                tmp_path):
    """Variant decode composes with foreign-writer manifest shapes:
    permute every manifest record's field order over a v3 variant
    table and re-read on both planes."""
    import importlib
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    tv = importlib.import_module("test_variant")

    t = tv._variant_table(
        spark, tmp_path, [{"n": i, "tag": f"t{i}"} for i in range(8)]
    )

    def rev(node):
        if isinstance(node, dict):
            out = {k: rev(v) for k, v in node.items()}
            if out.get("type") == "record":
                out["fields"] = [rev(f) for f in out["fields"]][::-1]
            return out
        if isinstance(node, list):
            return [rev(x) for x in node]
        return node

    for mp in _all_manifest_paths(t):
        _rewrite_manifest(mp, rev, lambda e: e)
    from hielo_spark.metadata.manifests import read_data_at_snapshot

    jvm = {
        r.id: json.loads(r.v)["n"]
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect()
    }
    ds = {
        r.id: json.loads(r.v)["n"]
        for r in spark.read.format("hielo_iceberg").load(t).collect()
    }
    assert jvm == ds == {i: i for i in range(8)}


@pytest.mark.slow
def test_multi_spec_manifest_list(registered, spark, tmp_path):
    """Partition evolution (r10, VERDICT r9 item 8): ONE manifest list
    referencing manifests of TWO partition specs (spec 0 = identity
    region, spec 1 = bucket(4,id)). Both planes read everything; a
    partition filter on the OLD spec's key prunes old-spec files while
    keeping new-spec files (a missing partition key is may-match —
    pruning them would silently drop rows)."""
    from hielo_spark.metadata.manifests import read_manifest_list

    t = str(tmp_path / "t")
    d1 = spark.range(0, 20).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'us' ELSE 'eu' END AS region")
    C.append(spark, t, d1, snapshot_id=101,
             timestamp_ms=1700000000000, partition_by=["region"])
    from hielo_spark.metadata import update_partition_spec

    update_partition_spec(t, ["bucket(4, id)"])
    d2 = spark.range(20, 30).selectExpr("id", "'apac' AS region")
    C.append(spark, t, d2, snapshot_id=102,
             timestamp_ms=1700100000000)

    doc = json.load(open(C.current_metadata_path(t)))
    snap = next(s for s in doc["snapshots"]
                if s["snapshot-id"] == 102)
    mlist = snap["manifest-list"].removeprefix("file:")
    spec_ids = {
        r.partition_spec_id or 0
        for r in read_manifest_list(spark, mlist).collect()
    }
    assert spec_ids == {0, 1}, "manifest list should span both specs"
    assert _both_plane_ids(spark, t) == list(range(30))
    got = read_data_at_snapshot(
        spark, C.current_metadata_path(t),
        partition_filter={"region": "us"},
    )
    ids = sorted(r.id for r in got.collect())
    # old-spec eu files pruned; new-spec files kept (may-match), so
    # their rows all survive the metadata-level filter
    assert ids == [i for i in range(20) if i % 2 == 0] + list(
        range(20, 30))


def test_mixed_version_metadata_log(registered, spark, tmp_path):
    """A long-lived table's metadata-log spans FORMAT VERSIONS (r10):
    the current doc is v3, logged entries point at v2-era metadata
    files, and the oldest is rewritten to the v1 single-schema shape a
    pre-v2 writer would have produced. Current reads stay exact on
    both planes, and point-in-time reads THROUGH each logged file work
    at that file's own version."""
    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 10).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(10, 20).selectExpr("id"),
             snapshot_id=102, timestamp_ms=1700100000000)
    upgrade_format_version(t, 3)
    C.delete_where(spark, t, "id >= 18",
                   snapshot_id=103, timestamp_ms=1700200000000)

    mpath = C.current_metadata_path(t)
    doc = json.load(open(mpath))
    assert int(doc["format-version"]) == 3
    log = doc.get("metadata-log", [])
    assert len(log) >= 2
    logged = [e["metadata-file"].removeprefix("file:") for e in log]
    versions = [
        int(json.load(open(p)).get("format-version", 2)) for p in logged
    ]
    assert 2 in versions, "v3 table's log should carry v2-era files"

    # point-in-time read through the first SNAPSHOT-bearing logged file
    for p in logged:
        old = json.load(open(p))
        if old.get("current-snapshot-id") is not None:
            ids = sorted(
                r.id for r in read_data_at_snapshot(spark, p).collect())
            assert ids == list(range(10))
            first_logged = p
            break
    else:
        pytest.fail("no snapshot-bearing logged metadata file")

    # rewrite the oldest snapshot-bearing logged file to the v1 SHAPE:
    # single top-level schema block, v1 partition-spec list, no
    # sequence numbers — then re-read through it
    old = json.load(open(first_logged))
    sid = old["current-snapshot-id"]
    schema_block = next(
        s for s in old["schemas"]
        if s.get("schema-id") == old.get("current-schema-id", 0))
    v1 = {
        "format-version": 1,
        "table-uuid": old.get("table-uuid", "0" * 32),
        "location": old.get("location", t),
        "last-updated-ms": old.get("last-updated-ms", 0),
        "last-column-id": old.get("last-column-id", 1),
        "schema": {
            "type": "struct", "fields": schema_block["fields"]},
        "partition-spec": [],
        "properties": old.get("properties", {}),
        "current-snapshot-id": sid,
        "snapshots": [
            {k: v for k, v in s.items() if k != "sequence-number"}
            for s in old["snapshots"] if s["snapshot-id"] == sid
        ],
    }
    json.dump(v1, open(first_logged, "w"))
    ids = sorted(
        r.id for r in read_data_at_snapshot(spark, first_logged).collect())
    assert ids == list(range(10))

    # the CURRENT v3 read is untouched by the log mutation
    cur = sorted(
        r.id for r in read_data_at_snapshot(spark, mpath).collect())
    assert cur == list(range(18))
    ds = spark.read.format("hielo_iceberg").load(t)
    assert sorted(r.id for r in ds.collect()) == list(range(18))


# ------------------------------------ r11: shredded-subcolumn stat quirks


def test_shredded_stats_absent_no_pruning(registered, spark, tmp_path):
    """A foreign writer may omit column statistics entirely, or write
    them for SOME columns only (r11, VERDICT item 5): row-group
    pruning must silently lose its basis — never skip a group it
    can't prove empty — and results stay exact. Two shapes: no stats
    anywhere, and stats on the typed leaf but NOT on the value
    columns (binary-remainder presence unprovable → keep all)."""
    import glob

    import pyarrow.parquet as pq

    from hielo_spark.sources.iceberg_source import (
        EqualTo,
        HieloIcebergReader,
    )

    cols = [("id", "bigint", (), None), ("v", "variant", (), None),
            ("v_a", "vextract:v:a:bigint:", (), None)]

    def build(name, **write_kw):
        t = str(tmp_path / name)
        df = spark.range(10_000).selectExpr(
            "id", 'concat(\'{"a": \', id, \'}\') AS v').coalesce(1)
        C.append(spark, t, df, snapshot_id=101,
                 timestamp_ms=1700000000000,
                 variant_cols=["v"],
                 variant_shred={"v": {"a": "bigint"}})
        f = sorted(glob.glob(
            t + "/data/**/*.parquet", recursive=True))[0]
        pq.write_table(pq.read_table(f), f, row_group_size=1000,
                       **write_kw)
        crc = os.path.join(os.path.dirname(f),
                           "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        return t

    for name, kw in [
        ("t_nostats", {"write_statistics": False}),
        ("t_typedonly",
         {"write_statistics": ["v.typed_value.a.typed_value"]}),
    ]:
        t = build(name, **kw)
        r = HieloIcebergReader(
            t, {"variant-extract": "v.a:bigint"}, cols)
        list(r.pushFilters([EqualTo(("v_a",), 5500)]))
        surfaced = sum(
            b.num_rows for p in r.partitions() for b in r.read(p))
        assert surfaced == 10_000, \
            f"{name}: unprovable stats must disable pruning"
        out = (spark.read.format("hielo_iceberg")
               .option("variant-extract", "v.a:bigint").load(t)
               .filter("v_a = 5500").collect())
        assert [(x.id, x.v_a) for x in out] == [(5500, 5500)]


def test_shredded_typed_value_fields_reordered(registered, spark,
                                               tmp_path):
    """A foreign writer may emit the variant group's struct children
    in a different order (value before metadata, permuted shredded
    field groups): every reader access is by NAME, so extraction,
    JSON reconstruction, and pruning all survive a reordered file."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"a": 7, "b": "x"}'), (1, '{"a": "no"}'),
         (2, '{"b": "z"}')],
        "id long, v string").coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"], variant_shred={"v": {"a": "bigint"}})
    f = sorted(glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    tbl = pq.read_table(f)

    def reorder(arr):
        # recursively REVERSE struct child order
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if not pa.types.is_struct(arr.type):
            return arr
        names = [arr.type.field(i).name
                 for i in range(arr.type.num_fields)][::-1]
        children = [reorder(arr.field(n)) for n in names]
        return pa.StructArray.from_arrays(
            children, names=names,
            mask=arr.is_null() if arr.null_count else None)

    v2 = reorder(tbl.column("v"))
    assert [fl.name for fl in v2.type] != \
        [fl.name for fl in tbl.column("v").combine_chunks().type]
    tbl2 = tbl.set_column(
        tbl.column_names.index("v"), "v", v2)
    pq.write_table(tbl2, f)
    crc = os.path.join(os.path.dirname(f),
                       "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.a:bigint").load(t))
    assert {r.id: r.v_a for r in out.collect()} == {
        0: 7, 1: None, 2: None}
    vjson = {r.id: json.loads(r.v) for r in out.collect()}
    assert vjson == {0: {"a": 7, "b": "x"}, 1: {"a": "no"},
                     2: {"b": "z"}}
    jvm = {
        r.id: json.loads(r.v)
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect()
    }
    assert jvm == vjson


def test_v1_shaped_manifest_in_v3_table(registered, spark, tmp_path):
    """A long-lived table migrated v1→v3 can still carry v1-SHAPED
    manifests (no ``content``, no per-entry sequence numbers) next to
    v3 features like variant columns (r11, VERDICT item 5): entry
    sequence falls back to manifest-list inheritance, content
    defaults to data, and both planes read exactly."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, '{"n": %d}' % i) for i in range(8)], "id long, v string")
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000, variant_cols=["v"])

    def drop_fields(names):
        def rec(node):
            if isinstance(node, dict):
                out = {k: rec(v) for k, v in node.items()}
                if out.get("type") == "record":
                    out["fields"] = [
                        rec(fl) for fl in out["fields"]
                        if fl["name"] not in names
                    ]
                return out
            if isinstance(node, list):
                return [rec(x) for x in node]
            return node
        return rec

    def strip_entry(e):
        e = dict(e)
        e.pop("sequence_number", None)
        e.pop("file_sequence_number", None)
        dfile = dict(e["data_file"])
        dfile.pop("content", None)
        dfile.pop("first_row_id", None)
        dfile.pop("referenced_data_file", None)
        e["data_file"] = dfile
        return e

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(
            mp,
            drop_fields({"sequence_number", "file_sequence_number",
                         "content", "first_row_id",
                         "referenced_data_file"}),
            strip_entry,
        )
    got = {
        r.id: json.loads(r.v)["n"]
        for r in spark.read.format("hielo_iceberg").load(t).collect()
    }
    assert got == {i: i for i in range(8)}
    jvm = {
        r.id: json.loads(r.v)["n"]
        for r in read_data_at_snapshot(
            spark, C.current_metadata_path(t)).collect()
    }
    assert jvm == got


def test_shredded_extra_fields_reconstruct(registered, spark, tmp_path):
    """A foreign writer may shred MORE fields than our readers expect
    (any subset is spec-legal): rebuild a shredded file with an extra
    typed_value field group absent from any shred spec we'd write —
    JSON reconstruction must include it and extraction of the known
    field must stay exact."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, '{"a": 7, "b": 1}'), (1, '{"a": 8, "b": 2}')],
        "id long, v string").coalesce(1)
    C.append(spark, t, df, snapshot_id=101,
             timestamp_ms=1700000000000,
             variant_cols=["v"],
             variant_shred={"v": {"a": "bigint", "b": "bigint"}})
    f = sorted(glob.glob(t + "/data/**/*.parquet", recursive=True))[0]
    tbl = pq.read_table(f)
    v = tbl.column("v").combine_chunks()
    tv = v.field("typed_value")
    # append an EXTRA shredded field group "zz" (typed everywhere)
    zz = pa.StructArray.from_arrays(
        [pa.nulls(len(v), pa.binary()),
         pa.array([100, 200], pa.int64())],
        names=["value", "typed_value"])
    tv2 = pa.StructArray.from_arrays(
        [tv.field("a"), tv.field("b"), zz], names=["a", "b", "zz"])
    v2 = pa.StructArray.from_arrays(
        [v.field("metadata"), v.field("value"), tv2],
        names=["metadata", "value", "typed_value"])
    pq.write_table(
        tbl.set_column(tbl.column_names.index("v"), "v", v2), f)
    crc = os.path.join(os.path.dirname(f),
                       "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    out = (spark.read.format("hielo_iceberg")
           .option("variant-extract", "v.a:bigint, v.zz:bigint")
           .load(t))
    rows = {r.id: (json.loads(r.v), r.v_a, r.v_zz)
            for r in out.collect()}
    assert rows == {
        0: ({"a": 7, "b": 1, "zz": 100}, 7, 100),
        1: ({"a": 8, "b": 2, "zz": 200}, 8, 200),
    }


def _name2id_of(t):
    doc = json.load(open(C.current_metadata_path(t)))
    schema = next(s for s in doc["schemas"]
                  if s.get("schema-id") == doc.get("current-schema-id", 0))
    return {f["name"]: f["id"] for f in schema["fields"]}


def _drop_ext_stats(names=("lower_bounds_str", "upper_bounds_str",
                           "bounds_types", "null_counts",
                           "distinct_counts_str", "partition_values",
                           "partition_types")):
    """Schema/entry mutators removing OUR extension stat maps — a
    foreign manifest carries only the spec's field-id-keyed forms."""
    def mut_schema(node):
        if isinstance(node, dict):
            out = {k: mut_schema(v) for k, v in node.items()}
            if out.get("type") == "record":
                out["fields"] = [
                    mut_schema(f) for f in out["fields"]
                    if f.get("name") not in names
                ]
            return out
        if isinstance(node, list):
            return [mut_schema(x) for x in node]
        return node

    def mut_entry(e):
        e = dict(e)
        e["data_file"] = {
            k: v for k, v in e["data_file"].items() if k not in names
        }
        return e

    return mut_schema, mut_entry


def test_foreign_truncate16_string_bounds(registered, spark, tmp_path):
    """Iceberg's own metrics default is truncate(16): a foreign writer
    records string bounds as a 16-char prefix (lower) and an
    incremented prefix (upper). With our extension maps stripped, both
    comparators must stay exact through the enclosing-range bounds —
    pruning the disjoint file, never the matching one (r12, VERDICT
    item 4)."""
    from hielo_spark.metadata.commit import (
        _truncate_string_max,
        _truncate_string_min,
    )
    from hielo_spark.metadata.values import serialize_value

    t = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"prefix-{i:012d}-tail") for i in range(lo, hi)],
        "id long, s string").coalesce(1)
    C.append(spark, t, mk(0, 50), snapshot_id=101,
             timestamp_ms=1700000000000)
    C.append(spark, t, mk(1000, 1050), snapshot_id=102,
             timestamp_ms=1700100000000)
    sid = _name2id_of(t)["s"]
    mut_schema, strip_ext = _drop_ext_stats()

    def truncate_bounds(e):
        e = strip_ext(e)
        dfile = dict(e["data_file"])
        for key, trunc in (("lower_bounds", _truncate_string_min),
                           ("upper_bounds", _truncate_string_max)):
            kvs = []
            for kv in dfile.get(key) or []:
                if int(kv["key"]) == sid:
                    full = bytes(kv["value"]).decode("utf-8")
                    short = trunc(full, 16)
                    if short is None:
                        continue  # spec: unrepresentable upper omitted
                    kv = {"key": kv["key"],
                          "value": serialize_value("string", short)}
                kvs.append(kv)
            dfile[key] = kvs or None
        e["data_file"] = dfile
        return e

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, mut_schema, truncate_bounds)

    probe = "prefix-000000001025-tail"
    ds = spark.read.format("hielo_iceberg").load(t)
    assert [r.id for r in ds.filter(f"s = '{probe}'").collect()] == [1025]
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("s", "=", probe))
    assert [r.id for r in jvm.collect()] == [1025]
    # truncated bounds still PRUNE the disjoint file
    assert len(set(jvm.inputFiles())) == 1
    # and a probe past every range is a valid EMPTY result (r12 item 3)
    nothing = read_data_at_snapshot(
        spark, C.current_metadata_path(t),
        skip_filter=("s", "=", "zzz-no-such-row"))
    assert nothing.count() == 0
    assert {c for c, _ in nothing.dtypes} == {"id", "s"}


def test_padded_timestamp_bounds_prune_alike(registered, spark, tmp_path):
    """Manifests written before the bound renderer trimmed fractions
    carry ``…05.100000``-style timestamp bounds. An equality filter on
    the lower bound must keep the file on BOTH read planes: the
    DataSource plane prunes through the same comparator, which trims the
    padded fraction before comparing."""
    import datetime as dt

    t = str(tmp_path / "t")
    base = dt.datetime(2024, 1, 2, 3, 4, 5)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(milliseconds=100 * (i + 1)))
         for i in range(3)],
        "id long, ts timestamp",
    ).coalesce(1)
    C.append(spark, t, df, snapshot_id=101, timestamp_ms=1700000000000)

    def pad(v):
        head, _, frac = v.partition(".")
        return f"{head}.{frac.ljust(6, '0')}"

    def pad_bounds(e):
        dfile = dict(e["data_file"])
        for key in ("lower_bounds_str", "upper_bounds_str"):
            m = dict(dfile[key])
            m["ts"] = pad(m["ts"])
            dfile[key] = m
        e["data_file"] = dfile
        return e

    (mp,) = _data_manifest_paths(t)
    _rewrite_manifest(mp, lambda sch: sch, pad_bounds)
    _s, _m, (entry,) = read_avro_file(mp)
    assert entry["data_file"]["lower_bounds_str"]["ts"] \
        == "2024-01-02 03:04:05.100000"

    ds = spark.read.format("hielo_iceberg").load(t).filter(
        "ts = TIMESTAMP'2024-01-02 03:04:05.1'")
    assert [r.id for r in ds.collect()] == [0]
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t),
        skip_filter=("ts", "=", "2024-01-02 03:04:05.1"))
    assert [r.id for r in jvm.collect()] == [0]


def test_renamed_column_prunes_on_both_planes(registered, spark, tmp_path):
    """A file written before ``a → b`` records its bounds under ``a``.
    A filter on ``b`` must still prune it through the rename history,
    on the DataSource plan as on the DataFrame plane."""
    from pyspark.sql.datasource import EqualTo

    from hielo_spark.sources.iceberg_source import (
        HieloIcebergDataSource,
        _PackedScanPartition,
    )

    t = str(tmp_path / "t")
    C.append(spark, t, spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, a long").coalesce(1),
        snapshot_id=101, timestamp_ms=1700000000000)
    C.update_schema(t, rename={"a": "b"}, timestamp_ms=1700050000000)
    C.append(spark, t, spark.createDataFrame([(3, 30)], "id long, b long"),
             snapshot_id=102, timestamp_ms=1700100000000)

    loaded = spark.read.format("hielo_iceberg").load(t)
    reader = HieloIcebergDataSource({"path": t}).reader(loaded.schema)
    list(reader.pushFilters([EqualTo(("b",), 30)]))
    planned = [
        f.path for p in reader.partitions()
        for f in (p.files if isinstance(p, _PackedScanPartition) else [p])
        if f.path is not None
    ]
    assert len(planned) == 1
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("b", "=", 30))
    assert len(set(jvm.inputFiles())) == 1
    assert [(r.id, r.b) for r in jvm.collect()] == [(3, 30)]
    assert [(r.id, r.b) for r in loaded.filter("b = 30").collect()] \
        == [(3, 30)]


def test_foreign_nan_contaminated_bounds(registered, spark, tmp_path):
    """A foreign writer that ignored the spec's NaN-exclusion rule can
    record NaN as a double bound. Readers must treat the poisoned
    bound as ABSENT (keep the file) — never prune non-NaN rows (r12,
    composes with the writer-side fix)."""
    import struct as _struct

    t = str(tmp_path / "t")
    C.append(spark, t,
             spark.range(0, 50).selectExpr(
                 "id", "cast(id as double) AS x").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    xid = _name2id_of(t)["x"]
    mut_schema, strip_ext = _drop_ext_stats()

    def poison(e):
        e = strip_ext(e)
        dfile = dict(e["data_file"])
        kvs = []
        for kv in dfile.get("upper_bounds") or []:
            if int(kv["key"]) == xid:
                kv = {"key": kv["key"],
                      "value": _struct.pack("<d", float("nan"))}
            kvs.append(kv)
        dfile["upper_bounds"] = kvs or None
        e["data_file"] = dfile
        return e

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, mut_schema, poison)

    ds = spark.read.format("hielo_iceberg").load(t)
    assert [r.id for r in ds.filter("x = 37").collect()] == [37]
    assert ds.filter("x > 25").count() == 24
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("x", "=", 37.0))
    assert [r.id for r in jvm.collect()] == [37]


def test_pos_delete_rows_unsorted(registered, spark, tmp_path):
    """The spec asks writers to sort position-delete rows by
    (file_path, pos), but readers must not RELY on it — reverse the
    delete parquet's rows and both planes must still apply every
    delete exactly (r12, VERDICT item 4)."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 60).selectExpr("id").coalesce(1),
             snapshot_id=101, timestamp_ms=1700000000000)
    from pyspark.sql import functions as F

    C.delete_where(spark, t, F.col("id") % 7 == 0,
                   snapshot_id=102, timestamp_ms=1700100000000)
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, rows = read_avro_file(mlist)
    del_files = []
    for r in rows:
        if r.get("content", 0) != 1:
            continue
        _s2, _m2, entries = read_avro_file(
            _resolve(mlist, r["manifest_path"]))
        del_files += [
            e["data_file"]["file_path"].removeprefix("file:")
            for e in entries if e.get("status") != 2
        ]
    assert del_files, "delete_where must have written a delete file"
    for p in del_files:
        tbl = pq.read_table(p)
        perm = list(range(tbl.num_rows))[::-1]
        pq.write_table(tbl.take(perm), p)
        # the rewrite invalidates Spark's .crc sidecar — a foreign
        # writer would never have written one
        crc = os.path.join(os.path.dirname(p),
                           "." + os.path.basename(p) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    expect = [i for i in range(60) if i % 7 != 0]
    assert _both_plane_ids(spark, t) == expect


@pytest.mark.slow
def test_entry_snapshot_id_inherited_when_null(registered, spark,
                                               tmp_path):
    """Java Iceberg writes entries with a NULL snapshot_id and relies
    on inheritance from the manifest list's added_snapshot_id (spec,
    manifest_entry field 0). Null out exactly the ids Java would leave
    null (those equal to the owning manifest's added_snapshot_id) and
    check file→snapshot attribution still works everywhere it is
    consumed: live_data_file_dicts' sid, the files surface's
    snapshot_id column, and read_incremental's skip-mode attribution
    (which without inheritance would silently emit ZERO rows)."""
    from hielo_spark.metadata.manifests import (
        live_data_file_dicts,
        read_incremental,
        read_manifest,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 50).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(50, 100).selectExpr("id"),
             snapshot_id=102, timestamp_ms=1700100000000)
    C.delete_where(spark, t, F.col("id") == 0,
                   snapshot_id=103, timestamp_ms=1700200000000)
    C.append(spark, t, spark.range(100, 120).selectExpr("id"),
             snapshot_id=104, timestamp_ms=1700300000000)

    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, mrows = read_avro_file(mlist)
    for r in mrows:
        added = r.get("added_snapshot_id")

        def null_if_own(e, added=added):
            if e.get("snapshot_id") == added:
                e["snapshot_id"] = None
            return e

        _rewrite_manifest(_resolve(mlist, r["manifest_path"]),
                          lambda s: s, null_if_own)

    # planning plane: every live data file attributes to its adding
    # snapshot through inheritance
    files = live_data_file_dicts(mlist, doc.get("format-version", 2))
    assert sorted({f["sid"] for f in files.values()}) == [101, 102, 104]

    # manifest frame surface: no null snapshot_id rows when the
    # caller passes the manifest list's added_snapshot_id
    for r in mrows:
        ents = read_manifest(
            spark, _resolve(mlist, r["manifest_path"]),
            inherited_snapshot_id=r.get("added_snapshot_id"),
        ).collect()
        assert all(e.snapshot_id is not None for e in ents)

    # incremental skip-mode: 102's and 104's appends flow, attributed
    # by sid (the delete snapshot 103 is skipped)
    inc = read_incremental(
        spark, C.current_metadata_path(t), 101, skip_delete=True
    )
    got = sorted(r.id for r in inc.collect())
    assert got == list(range(50, 120))

    # data plane unaffected
    expect = [i for i in range(120) if i != 0]
    assert _both_plane_ids(spark, t) == expect


def test_multi_block_deflate_avro_manifests(registered, spark, tmp_path):
    """Real Iceberg writers flush Avro blocks every ~64 KB, so a large
    manifest arrives as MANY blocks (deflate-coded by default) — our
    writer emits one block, so without this fuzz the multi-block loop
    is never exercised on manifest shapes. Re-encode every manifest
    AND the manifest list as one-row-per-block deflate containers and
    both planes must read exactly."""
    import zlib

    from hielo_spark.metadata.avro_py import (
        _MAGIC, _Encoder, _encode_datum, _resolve_named,
    )

    def reblock(path):
        schema, meta, rows = read_avro_file(path)
        enc = _Encoder()
        enc.out += _MAGIC
        hdr = {k: v for k, v in meta.items() if not k.startswith("avro.")}
        hdr["avro.schema"] = json.dumps(schema).encode("utf-8")
        hdr["avro.codec"] = b"deflate"
        _encode_datum(enc, {"type": "map", "values": "bytes"}, hdr)
        sync = b"\x5a" * 16
        enc.out += sync
        resolved = _resolve_named(schema)
        for row in rows:  # one row per block — worst-case block count
            b = _Encoder()
            _encode_datum(b, resolved, row)
            co = zlib.compressobj(wbits=-15)
            payload = co.compress(bytes(b.out)) + co.flush()
            enc.long(1)
            enc.long(len(payload))
            enc.out += payload
            enc.out += sync
        with open(path, "wb") as f:
            f.write(bytes(enc.out))

    t = str(tmp_path / "t")
    C.append(spark, t, spark.range(0, 80).selectExpr("id"),
             snapshot_id=101, timestamp_ms=1700000000000)
    C.append(spark, t, spark.range(80, 120).selectExpr("id"),
             snapshot_id=102, timestamp_ms=1700100000000)
    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    mlist = _resolve(os.path.join(t, "metadata", "x"),
                     cur["manifest-list"].removeprefix("file:"))
    _s, _m, mrows = read_avro_file(mlist)
    for r in mrows:
        reblock(_resolve(mlist, r["manifest_path"]))
    reblock(mlist)
    assert _both_plane_ids(spark, t) == list(range(120))


def test_name_mapped_import_with_foreign_manifests(registered, spark,
                                                   tmp_path):
    """The full foreign-import composition (r13, VERDICT item 4 —
    composes with the name-mapping resolver): parquet columns carry
    PHYSICAL names that never matched any Iceberg schema name, the
    manifests carry only the spec's field-id-keyed stats (ext maps
    stripped) with record-field order permuted, and resolution rides
    schema.name-mapping.default. Both planes read exact values under
    the Iceberg names, and bounds pruning still prunes the disjoint
    file off the field-id stats."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, val string"
    ).coalesce(1)
    C.append(spark, t, mk(0, 50), snapshot_id=101,
             timestamp_ms=1700000000000)
    C.append(spark, t, mk(1000, 1050), snapshot_id=102,
             timestamp_ms=1700100000000)

    # 1. foreignize the parquet column names (Hive-import shape)
    from hielo_spark.metadata.manifests import live_data_file_dicts

    doc = json.load(open(C.current_metadata_path(t)))
    cur = next(s for s in doc["snapshots"]
               if s["snapshot-id"] == doc["current-snapshot-id"])
    for p in live_data_file_dicts(
        _resolve(os.path.join(t, "metadata", "x"),
                 cur["manifest-list"].removeprefix("file:"))
    ):
        tb = pq.read_table(p)
        tb = tb.rename_columns(
            [{"id": "rec_no", "val": "val_str"}.get(c, c)
             for c in tb.column_names])
        pq.write_table(tb, p)
        crc = os.path.join(os.path.dirname(p),
                           f".{os.path.basename(p)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    # 2. foreignize the manifests: spec-only stats, permuted fields
    mut_schema, strip_ext = _drop_ext_stats()

    def rev(node):
        node = mut_schema(node)
        if isinstance(node, dict) and node.get("type") == "record":
            node["fields"] = node["fields"][::-1]
        return node

    for mp in _data_manifest_paths(t):
        _rewrite_manifest(mp, rev, strip_ext)

    # 3. the mapping property resolves the physical names
    C.set_table_properties(t, {"schema.name-mapping.default": json.dumps([
        {"field-id": 1, "names": ["id", "rec_no"]},
        {"field-id": 2, "names": ["val", "val_str"]},
    ])})

    ds = spark.read.format("hielo_iceberg").load(t)
    got = {r.id: r.val for r in ds.collect()}
    assert got == {i: f"v{i}" for i in list(range(50))
                   + list(range(1000, 1050))}
    # pushed filter on the ICEBERG name, evaluated against the
    # name-mapped physical column
    assert [r.id for r in ds.filter("val = 'v1025'").collect()] == [1025]
    # field-id spec bounds still prune the disjoint file (jvm plane)
    jvm = read_data_at_snapshot(
        spark, C.current_metadata_path(t), skip_filter=("id", ">", 999))
    assert sorted(r.id for r in jvm.collect()) == list(range(1000, 1050))
    assert len(set(jvm.inputFiles())) == 1
