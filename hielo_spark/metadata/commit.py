"""No-jar Iceberg write path (SURVEY §2.1 S11 write half): compose an
append snapshot — data files → manifest Avro → manifest-list Avro →
new metadata.json version — against a Hadoop-catalog table directory.

Reference scope: hielo only *recommends* maintenance actions
(analytics.rs:442-507, data.rs:315-321); the executable half needs a
catalog that can commit. The Iceberg runtime jar is absent here
(verified r1-r3), but every artifact in a commit is a documented public
format: Avro container files (written with Spark's own Apache Avro JVM
library, same as the read plane in manifests.py) and the table-metadata
JSON document. The Hadoop catalog's commit protocol is also public:
write the new metadata as a temp file, then atomically rename to
``v<N+1>.metadata.json`` — the rename fails if a concurrent writer got
there first (optimistic concurrency), and ``version-hint.text`` points
readers at the current version.

What this enables honestly:
  * ``append`` — new snapshot over real parquet data files (optionally
    hive-partitioned with typed partition values in the manifest
    entries, feeding metadata-only partition pruning on read), readable
    back through our own time travel (manifests.read_data_at_snapshot)
    AND any Iceberg runtime pointed at the table dir;
  * ``delete_equality`` — a v2 merge-on-read equality-delete commit
    (delete parquet + content=1 delete manifest at the new sequence
    number), so the read path's sequence-scoped delete application is
    exercised end-to-end against our own commits: the delete kills
    strictly-older rows, and a subsequent re-insert survives;
  * ``delete_where`` — a v2 position-delete commit: distributed scan of
    the current data files by ``_metadata`` coordinates, matching
    (file_path, pos) pairs committed behind a content=1 delete manifest;
  * ``rewrite_data_files`` — compaction as a REPLACE snapshot: live
    rows (deletes applied) rewritten size-targeted, old manifests drop
    from the live view but stay time-travelable;
  * ``rollback_to_snapshot`` / ``set_current_snapshot`` — metadata-only
    commit flipping ``current-snapshot-id`` (the reference's
    recommended recovery action, executable);
  * ``expire_snapshots`` — the ops/analysis.py dry-run becomes a real
    commit that drops expired snapshot entries from the metadata
    (ops/analysis.remove_orphan_files then reclaims the files).

Every table file — data, position-delete and equality-delete alike —
is written by one in-task writer (metadata/data_files.py, shared with
the ``hielo_iceberg`` DataSource writer) that returns per-file column
stats: NaN-free min/max bounds that the read side's ``skip_filter``
and delete-file attachment prune by, null, NaN and distinct counts.
One composer (``_stage_files_manifest`` / ``_staged_manifest_row``)
turns them into manifest entries and manifest-list rows for both
kinds. ``create_ref``/``drop_ref`` commit named tags/branches that
time travel resolves (``VERSION AS OF 'name'`` semantics).

Catalog-service commits: catalog/rest.py speaks the REST spec's
CommitTableRequest (assert-ref requirements + add-snapshot/set-ref
updates, 409 → CommitConflictError) — tested against an in-process
protocol server; a live service would make it end-to-end. Glue's
UpdateTable commit (VersionId optimistic lock) is implemented the same
way in catalog/glue.py.

Scale note: commits are planning-plane work — one manifest row per
data file, driver-side Avro/JSON writes of KB-scale artifacts, exactly
what any engine's commit coordinator does. The data itself is written
by the tasks of one distributed ``mapInArrow`` job per commit.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from ..io import local_frame
from .data_files import BOUNDABLE, ROW_GROUP_ROWS

# Spark-SQL partition-value types → Avro types for the r102 partition
# record (identity int-ish transforms; everything else rides as string,
# matching the stringified hive directory values we derive them from)
_AVRO_PARTITION_TYPES = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "long",
}

# DV commits touching at most this many data files write one Puffin
# container driver-side (bounded: one ≤8 KiB blob per touched file);
# above it, tasks write per-task containers and the driver collects
# only blob coordinates — the v2 distributed delete-parts shape
_DV_DRIVER_CONTAINER_MAX = 64


def _kv_array(key_id: int, val_id: int, key_type: str, val_type: str) -> dict:
    """Iceberg's Avro shape for a non-string-keyed map: an array of
    key/value records with ``logicalType: map`` (spec Appendix A)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": f"k{key_id}_v{val_id}",
            "fields": [
                {"name": "key", "type": key_type, "field-id": key_id},
                {"name": "value", "type": val_type, "field-id": val_id},
            ],
        },
    }


def manifest_entry_schema(
    partition_fields: list[tuple[str, str, int]] | None = None,
) -> str:
    """The manifest_entry Avro writer schema, carrying the spec's
    permanently-assigned field ids as the ``field-id`` attribute
    (Iceberg Appendix A: Avro field ids live in that schema property —
    how id-based readers match columns independent of names) and a
    typed ``partition`` record (r102, field 102) built from
    ``partition_fields`` = [(name, spark_type, partition_field_id)]
    — empty r102 for unpartitioned/delete manifests, per the spec.

    The ``partition_values``/``*_bounds`` string maps alongside are this
    engine's extensions (no field-id); an id-based or name-resolving
    reader ignores them, while our read plane consumes them directly."""
    def _avro_ptype(spark_type: str):
        if spark_type == "date":
            # Avro logical date: int days from epoch (spec r102 type
            # for the day transform)
            return {"type": "int", "logicalType": "date"}
        return _AVRO_PARTITION_TYPES.get(spark_type, "string")

    part_fields = [
        {
            "name": f[0],
            "type": ["null", _avro_ptype(f[1])],
            "default": None,
            "field-id": f[2],
        }
        for f in (partition_fields or [])
    ]
    doc = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102",
                        "fields": part_fields,
                    }},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    # the SPEC's field-id-keyed stats maps (Avro has no
                    # int-keyed map, so Iceberg stores them as
                    # logicalType-map arrays of key/value records —
                    # Appendix A). Bounds values are Appendix D binary
                    # single-value serializations (metadata/values.py).
                    {"name": "value_counts", "field-id": 109,
                     "type": ["null", _kv_array(119, 120, "int", "long")],
                     "default": None},
                    {"name": "null_value_counts", "field-id": 110,
                     "type": ["null", _kv_array(121, 122, "int", "long")],
                     "default": None},
                    {"name": "nan_value_counts", "field-id": 137,
                     "type": ["null", _kv_array(138, 139, "int", "long")],
                     "default": None},
                    {"name": "lower_bounds", "field-id": 125,
                     "type": ["null", _kv_array(126, 127, "int", "bytes")],
                     "default": None},
                    {"name": "upper_bounds", "field-id": 128,
                     "type": ["null", _kv_array(129, 130, "int", "bytes")],
                     "default": None},
                    {"name": "sort_order_id", "type": ["null", "int"],
                     "default": None, "field-id": 140},
                    # spec field 135: the schema field ids an equality
                    # delete file's rows match on — planners derive the
                    # key columns from HERE, not from the delete
                    # parquet's footer
                    {"name": "equality_ids", "field-id": 135,
                     "type": ["null", {"type": "array", "items": "int",
                                       "element-id": 136}],
                     "default": None},
                    # v3 row lineage (spec data_file field 142): the
                    # _row_id of the file's first row; null on rewritten
                    # files whose rows carry MATERIALIZED _row_id columns
                    {"name": "first_row_id", "type": ["null", "long"],
                     "default": None, "field-id": 142},
                    # v3 deletion vectors (spec data_file fields): a DV
                    # entry's file_path is the Puffin file; these say
                    # which data file it deletes from and where the
                    # blob lives inside the Puffin container
                    {"name": "referenced_data_file",
                     "type": ["null", "string"],
                     "default": None, "field-id": 143},
                    {"name": "content_offset", "type": ["null", "long"],
                     "default": None, "field-id": 144},
                    {"name": "content_size_in_bytes",
                     "type": ["null", "long"],
                     "default": None, "field-id": 145},
                    # engine extensions (stringified stats keyed by
                    # column NAME — the fast path our read plane
                    # consumes; *_str names avoid colliding with the
                    # spec fields above so a spec-only reader resolves
                    # cleanly and ignores these)
                    {"name": "partition_values",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "partition_types",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "lower_bounds_str",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "upper_bounds_str",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "bounds_types",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "null_counts",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "distinct_counts_str",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                ],
            }},
        ],
    }
    return json.dumps(doc)


#: unpartitioned form (delete manifests, legacy call sites)
MANIFEST_ENTRY_SCHEMA_V2 = manifest_entry_schema(None)


def _r102_spark_type(
    transform: str, name: str, source_id, doc: dict,
    ptypes: dict[str, str] | None,
) -> str:
    """The SPEC's r102 value type for one partition field: identity →
    the source column's type (from the recorded ptypes, falling back to
    the schema), bucket → int, year/month/hour → int (ordinals from the
    1970 epoch), day → date, truncate → the source column's type."""
    tr = str(transform)
    if tr.startswith("bucket"):
        return "int"
    if tr == "day":
        return "date"
    if tr in ("year", "month", "hour"):
        return "int"
    recorded = (ptypes or {}).get(name)
    if recorded and not recorded.startswith("transform:"):
        return recorded
    # truncate (or identity with no recorded type): resolve the source
    # column's type from the current schema
    from .types import iceberg_to_ddl

    for s in doc.get("schemas", []) or []:
        if s.get("schema-id") == doc.get("current-schema-id", 0):
            for g in s.get("fields", []):
                if g["id"] == source_id:
                    try:
                        return iceberg_to_ddl(g["type"])
                    except ValueError:
                        return "string"
    return "string"


def _partition_avro_fields(
    doc: dict, ptypes: dict[str, str] | None, spec_id: int | None = None
) -> list[tuple[str, str, int, str]]:
    """``[(name, spark_type, partition_field_id, transform)]`` for the
    table's recorded spec (default spec unless ``spec_id`` given) — the
    shape :func:`manifest_entry_schema` builds the r102 partition
    record from, ids matching the metadata.json partition-specs block,
    value types per the SPEC's transform result types (r10: previously
    non-int transforms all fell back to string)."""
    specs = doc.get("partition-specs") or []
    want = spec_id if spec_id is not None else doc.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id") == want), None)
    return [
        (
            f["name"],
            _r102_spark_type(
                f.get("transform", "identity"), f["name"],
                f.get("source-id"), doc, ptypes,
            ),
            int(f.get("field-id", 1000 + i)),
            str(f.get("transform", "identity")),
        )
        for i, f in enumerate((spec or {}).get("fields", []))
    ]


def _time_transform_ordinal(transform: str, v: str):
    """Canonical hive string → the spec's r102 encoding: year "2024" →
    54, month "2024-03" → 650, day "2024-03-05" → days from epoch
    (the Avro logical-date int), hour "2024-03-05-14" → hours from
    epoch. None when unparseable (conservative null, never a wrong
    value)."""
    import datetime as _dt

    try:
        if transform == "year":
            return int(v) - 1970
        if transform == "month":
            y, m = v.split("-")
            return (int(y) - 1970) * 12 + (int(m) - 1)
        if transform == "day":
            return (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days
        if transform == "hour":
            y, m, d, h = v.split("-")
            days = (
                _dt.date(int(y), int(m), int(d)) - _dt.date(1970, 1, 1)
            ).days
            return days * 24 + int(h)
    except (ValueError, TypeError):
        return None
    return None


def _typed_partition(
    pvals: dict[str, str] | None, pfields: list[tuple]
) -> dict:
    """Stringified hive partition values → the typed r102 record dict
    (int-ish identity/bucket/truncate values parse back to ints,
    time-transform canonical strings convert to the spec's epoch
    ordinals; nulls stay null)."""
    out = {}
    for name, spark_type, _fid, *rest in pfields:
        transform = rest[0] if rest else "identity"
        v = (pvals or {}).get(name)
        if v is None or v == "__HIVE_DEFAULT_PARTITION__":
            out[name] = None
        elif transform in ("year", "month", "day", "hour"):
            out[name] = _time_transform_ordinal(transform, v)
        elif spark_type == "date":
            # identity partition on a DATE column: the r102 field is an
            # Avro logical date (int days from epoch), so the hive ISO
            # string must convert — a string here fails the writer
            out[name] = _time_transform_ordinal("day", v)
        elif _AVRO_PARTITION_TYPES.get(spark_type) in ("int", "long"):
            try:
                out[name] = int(v)
            except (TypeError, ValueError):
                out[name] = None
        else:
            out[name] = str(v)
    return out


def _name2id(doc: dict) -> dict[str, int]:
    """Column name → schema field id for the current schema."""
    schema = next(
        (
            s for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id", 0)
        ),
        None,
    )
    return {f["name"]: int(f["id"]) for f in (schema or {}).get("fields", [])}


#: reserved field ids of the position-delete columns (spec "Position
#: Delete Files"): a delete file's ``file_path`` bounds say which data
#: files it can reference, so a scan reads only the delete files that
#: may touch its surviving candidates
_POS_DELETE_IDS = {"file_path": 2147483546, "pos": 2147483545}


def _spec_stats(
    name2id: dict[str, int],
    btypes: dict[str, str] | None,
    lo: dict[str, str] | None,
    hi: dict[str, str] | None,
    null_counts: dict[str, str] | None,
    records: int,
    nan_counts: dict[str, str] | None = None,
) -> dict:
    """The spec's field-id-keyed per-file stats (value_counts 109,
    null_value_counts 110, nan_value_counts 137, lower_bounds 125,
    upper_bounds 128) derived from the same stringified stats the
    engine extensions carry — bounds serialized per Appendix D
    (metadata/values.py). Columns without a recorded field id are
    skipped (foreign/partial schemas)."""
    from .values import SPARK_TO_ICEBERG, serialize_value

    def bounds(d: dict[str, str] | None) -> list[dict] | None:
        out = []
        for c, s in (d or {}).items():
            fid = name2id.get(c)
            itype = SPARK_TO_ICEBERG.get((btypes or {}).get(c, ""))
            if fid is None or itype is None or s is None:
                continue
            try:
                out.append({"key": fid, "value": serialize_value(itype, s)})
            except (ValueError, TypeError):
                continue  # unparseable stat rendering: no spec bound
        return out or None

    nvc = [
        {"key": name2id[c], "value": int(v)}
        for c, v in (null_counts or {}).items()
        if c in name2id and v is not None
    ] or None
    nanc = [
        {"key": name2id[c], "value": int(v)}
        for c, v in (nan_counts or {}).items()
        if c in name2id and v is not None
    ] or None
    vc = [
        {"key": name2id[c], "value": records}
        for c in (null_counts or {})
        if c in name2id
    ] or None
    return {
        "value_counts": vc,
        "null_value_counts": nvc,
        "nan_value_counts": nanc,
        "lower_bounds": bounds(lo),
        "upper_bounds": bounds(hi),
    }


def _manifest_header_meta(doc: dict, spec_id: int, content: str) -> dict[str, str]:
    """The spec-required Avro header metadata for a manifest file:
    table schema JSON, the spec's partition-fields JSON, spec id,
    format version, and content kind."""
    schema = next(
        (
            s for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id", 0)
        ),
        {"type": "struct", "schema-id": 0, "fields": []},
    )
    spec = next(
        (
            s for s in (doc.get("partition-specs") or [])
            if s.get("spec-id") == spec_id
        ),
        None,
    )
    return {
        "schema": json.dumps(schema),
        "partition-spec": json.dumps((spec or {}).get("fields", [])),
        "partition-spec-id": str(spec_id),
        "format-version": "2",
        "content": content,
    }

#: full v2 manifest_file shape — required fields + spec field ids
#: (spec "Manifest Lists" table; rows-count fields are required in v2)
MANIFEST_LIST_SCHEMA_V2 = json.dumps({
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
})


def _avro_json_value(field_schema, v):
    """Python value → Avro JSON-encoding shape (unions wrap non-null
    values as {"type": value}; records recurse). The JSON-decoder route
    sidesteps py4j's Integer/Long boxing (small Python ints arrive as
    java.lang.Integer, which Avro refuses for long fields)."""
    t = field_schema.getType().getName()
    if t == "union":
        if v is None:
            return None
        member = next(
            s for s in field_schema.getTypes() if s.getType().getName() != "null"
        )
        return {member.getType().getName(): _avro_json_value(member, v)}
    if t == "record":
        v = v if v is not None else {}  # empty record (e.g. r102) when absent
        return {
            f.name(): _avro_json_value(f.schema(), v.get(f.name()))
            for f in field_schema.getFields()
        }
    if t == "map":
        vs = field_schema.getValueType()
        return {str(k): _avro_json_value(vs, val) for k, val in v.items()}
    if t == "array":
        items = field_schema.getElementType()
        return [_avro_json_value(items, x) for x in (v or [])]
    if t == "bytes":
        # Avro JSON encoding of bytes: ISO-8859-1 string (one char per byte)
        return v.decode("latin-1") if isinstance(v, (bytes, bytearray)) else v
    return v


def write_avro(
    spark: SparkSession,
    path: str,
    schema_json: str,
    rows: list[dict],
    meta: dict[str, str] | None = None,
) -> None:
    """Write an Avro container file with the pure-Python container
    writer (``metadata/avro_py.write_avro_file`` — byte-compatible with
    the JVM library, round-trip pinned in tests; the manifest-rewrite
    and DataSource commit paths already write with it). ``meta``
    entries land in the container header key-value metadata — where the
    Iceberg spec puts ``schema`` / ``partition-spec-id`` / ``content`` /
    ``format-version`` on manifests and manifest lists.

    r14: this replaced the py4j-driven JVM DataFileWriter route, which
    cost ~0.5 s of driver time PER manifest (one JSON-encode plus
    several py4j roundtrips per row/field — guide §7.3 driver-side
    work); the binary encoder writes the same natural-Python datums
    (None/ints/bytes/dicts) with zero JVM traffic. ``spark`` stays in
    the signature for the 15+ call sites; it is deliberately unused."""
    del spark  # no JVM needed — kept for call-site compatibility
    from .avro_py import write_avro_file

    write_avro_file(path, schema_json, rows, meta=meta)


def _parse_metrics_value(v: str):
    """'full' → None (full metrics), 'counts'/'none' pass through,
    'truncate(N)' with N >= 1 → ("truncate", N). Anything else raises —
    Iceberg validates these properties loudly, and a typo of 'none'
    silently falling back to FULL metrics would embed the very values
    the user asked to keep out of the metadata."""
    import re as _re

    raw = v
    v = str(v).strip().lower()
    if v == "full":
        return None
    if v in ("counts", "none"):
        return v
    m = _re.fullmatch(r"truncate\((\d+)\)", v)
    if m and int(m.group(1)) >= 1:
        return ("truncate", int(m.group(1)))
    raise ValueError(
        f"invalid metrics mode {raw!r}: expected 'full', 'counts', "
        "'none', or 'truncate(N)' with N >= 1"
    )


def _metrics_mode_of(doc: dict):
    """The table's metrics properties parsed: ``None`` (full bounds
    everywhere — the engine default), or ``(default, per_column)``
    where each mode is None / ``("truncate", N)`` / ``"counts"`` /
    ``"none"``. ``write.metadata.metrics.default`` sets the default;
    ``write.metadata.metrics.column.<name>`` overrides per column
    (both Iceberg spec properties). Iceberg's own default is
    truncate(16); this engine keeps full bounds unless a property
    says otherwise."""
    props = doc.get("properties", {}) or {}
    default = _parse_metrics_value(
        props.get("write.metadata.metrics.default", "full")
    )
    prefix = "write.metadata.metrics.column."
    per = {
        k[len(prefix):]: _parse_metrics_value(v)
        for k, v in props.items()
        if k.startswith(prefix)
    }
    if default is None and all(m is None for m in per.values()):
        return None
    return (default, per)


def _truncate_string_min(s: str, n: int) -> str:
    """Spec truncateStringMin: the N-code-point prefix (≤ the true
    min, so [min, max] stays an enclosing range)."""
    return s if len(s) <= n else s[:n]


def _truncate_string_max(s: str, n: int) -> str | None:
    """Spec truncateStringMax: the N-code-point prefix with its last
    incrementable code point bumped (> every string with that prefix);
    None when no valid upper bound exists (all U+10FFFF). Increments
    that would land in the surrogate range jump past it (surrogates
    are not valid UTF-8 scalar values)."""
    if len(s) <= n:
        return s
    cps = list(s[:n])
    for i in range(len(cps) - 1, -1, -1):
        o = ord(cps[i])
        if o < 0x10FFFF:
            nxt = o + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return "".join(cps[:i]) + chr(nxt)
    return None


def _col_metrics_mode(mode, col):
    """Effective mode for one column: the per-column override when
    present, else the default."""
    if mode is None:
        return None
    default, per = mode
    return per.get(col, default)


def _apply_metrics_mode(lo, hi, btypes, mode):
    """Per-file (lower, upper) bound dicts filtered/truncated per the
    metrics modes (default + per-column overrides). Numeric/date
    bounds are never truncated (fixed width); string bounds truncate
    with the spec's enclosing-range rules, so every reader comparator
    stays conservative."""
    if mode is None:
        return lo, hi
    tlo = {}
    for c, v in (lo or {}).items():
        m = _col_metrics_mode(mode, c)
        if m in ("counts", "none"):
            continue
        if m is not None and (btypes or {}).get(c) == "string":
            v = _truncate_string_min(v, m[1])
        tlo[c] = v
    thi = {}
    for c, v in (hi or {}).items():
        m = _col_metrics_mode(mode, c)
        if m in ("counts", "none"):
            continue
        if m is not None and (btypes or {}).get(c) == "string":
            t = _truncate_string_max(v, m[1])
            if t is None:
                continue  # unbounded above: omit per spec
            v = t
        thi[c] = v
    return (tlo or None), (thi or None)


# -- table-dir state -------------------------------------------------------


def current_metadata_path(table_dir: str) -> str | None:
    """Latest v<N>.metadata.json in <table_dir>/metadata (version-hint
    first, numeric ranking as fallback)."""
    mdir = os.path.join(table_dir, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        p = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.exists(p):
            return p
    versions = []
    for p in _glob.glob(os.path.join(mdir, "v*.metadata.json")):
        stem = os.path.basename(p).split(".")[0].lstrip("v")
        if stem.isdigit():
            versions.append((int(stem), p))
    return max(versions)[1] if versions else None


def _load_doc(table_dir: str) -> tuple[dict, int]:
    p = current_metadata_path(table_dir)
    if p is None:
        return (
            {
                "format-version": 2,
                "table-uuid": str(_uuid.uuid4()),
                "location": table_dir,
                "last-sequence-number": 0,
                "snapshots": [],
            },
            0,
        )
    with open(p) as f:
        doc = json.load(f)
    v = int(os.path.basename(p).split(".")[0].lstrip("v"))
    return doc, v


def _commit_doc(table_dir: str, doc: dict, prev_version: int) -> str:
    """Hadoop-catalog optimistic-concurrency commit: temp write + atomic
    rename onto the next version; a concurrent committer wins the rename
    race and we raise instead of clobbering.

    Maintains the spec's ``metadata-log`` (previous metadata files with
    their last-updated timestamps — what ``t.metadata_log_entries``
    reads and point-in-time metadata recovery walks), trimmed to the
    ``write.metadata.previous-versions-max`` table property (Iceberg's
    default 100)."""
    mdir = os.path.join(table_dir, "metadata")
    os.makedirs(mdir, exist_ok=True)
    prev_path = current_metadata_path(table_dir)
    if prev_path is not None:
        try:
            with open(prev_path) as f:
                prev_ts = json.load(f).get("last-updated-ms")
        except (OSError, ValueError):
            prev_ts = None
        log = list(doc.get("metadata-log", []))
        log.append(
            {
                "timestamp-ms": (
                    int(prev_ts) if prev_ts is not None
                    else int(doc.get("last-updated-ms", 0))
                ),
                "metadata-file": prev_path,
            }
        )
        try:
            keep = int(
                doc.get("properties", {}).get(
                    "write.metadata.previous-versions-max", 100
                )
            )
        except (TypeError, ValueError):
            keep = 100
        doc = dict(doc)
        doc["metadata-log"] = log[-keep:]
    target = os.path.join(mdir, f"v{prev_version + 1}.metadata.json")
    tmp = os.path.join(mdir, f".tmp-{_uuid.uuid4().hex}.metadata.json")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    try:
        # O_EXCL-style guard: link() fails with EEXIST if target exists
        os.link(tmp, target)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit detected: {target} already exists (retry on latest)"
        )
    finally:
        os.unlink(tmp)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(prev_version + 1))
    return target


# -- commits ---------------------------------------------------------------


def _default_snapshot_id(doc: dict, seq: int) -> int:
    """Deterministic ``1000 + seq`` by convention, but NEVER a duplicate:
    if an earlier commit supplied an explicit id in that range, a silent
    collision would corrupt by-id lookups, parent lineage walks, and
    time travel — fall back to a random 63-bit id (Iceberg's own
    assignment strategy) until it's fresh."""
    candidate = 1000 + seq
    # collision set covers MORE than retained snapshots: after
    # expire_snapshots a freed 1000+seq id could be reassigned while
    # still referenced by refs, the snapshot log, or external lineage
    # consumers — those histories keep their ids reserved forever
    existing = {
        int(s["snapshot-id"]) for s in doc.get("snapshots", [])
        if s.get("snapshot-id") is not None
    }
    existing.update(
        int(r["snapshot-id"]) for r in doc.get("refs", {}).values()
        if r.get("snapshot-id") is not None
    )
    existing.update(
        int(e["snapshot-id"]) for e in doc.get("snapshot-log", [])
        if e.get("snapshot-id") is not None
    )
    while candidate in existing:
        candidate = _uuid.uuid4().int >> 65  # positive 63-bit
    return candidate


_ICEBERG_TYPES = {
    "boolean": "boolean", "tinyint": "int", "smallint": "int", "int": "int",
    "bigint": "long", "float": "float", "double": "double", "date": "date",
    "timestamp_ntz": "timestamp", "timestamp": "timestamptz",
    "string": "string", "binary": "binary",
}


def _record_table_shape(
    doc: dict, dtypes: dict[str, str], transforms,
    variant_cols: set[str] | frozenset[str] = frozenset(),
) -> None:
    """First commit on a fresh table: record the Iceberg ``schemas`` /
    ``partition-specs`` blocks in the metadata document so the schema
    plane (J1/J2: schemas_from_metadata_json, partition_source_join)
    reads our own tables like any Iceberg table's. Field ids are
    assigned in column order from 1; partition field ids from 1000
    (both per the spec's conventions). Decimal/nested types pass
    through their SQL rendering (display-compatible with
    parse_metadata_document's fallback). Later appends never rewrite
    the shape (schema evolution is add-column via mergeSchema on the
    read side, documented)."""
    if "schemas" in doc:
        return
    from .types import max_field_id, sql_to_iceberg

    field_id = {c: i + 1 for i, c in enumerate(dtypes)}
    # nested element/key/value/struct-field ids are allocated ABOVE the
    # top-level ids (spec requires uniqueness, not contiguity), keeping
    # top-level ids stable at 1..n
    next_id = [len(dtypes)]

    def alloc() -> int:
        next_id[0] += 1
        return next_id[0]

    doc["schemas"] = [
        {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {
                    "id": field_id[c],
                    "name": c,
                    "required": False,
                    # variant columns ride the parquet as
                    # struct<metadata,value> but their Iceberg type is
                    # the v3 ``variant`` — the read planes key their
                    # JSON decode off this
                    "type": (
                        "variant" if c in variant_cols
                        else sql_to_iceberg(t, alloc)
                    ),
                }
                for c, t in dtypes.items()
            ],
        }
    ]
    doc["current-schema-id"] = 0
    doc["partition-specs"] = [
        {
            "spec-id": 0,
            "fields": [
                {
                    "name": t.field,
                    "transform": t.iceberg_name,
                    "source-id": field_id[t.source],
                    "field-id": 1000 + i,
                }
                for i, t in enumerate(transforms)
            ],
        }
    ]
    doc["default-spec-id"] = 0
    # v2 required trackers: highest assigned column / partition field id
    # (999 when unpartitioned, per the spec's 1000-based assignment)
    # nested ids count toward the tracker too (next_id followed them)
    doc["last-column-id"] = next_id[0]
    doc["last-partition-id"] = 999 + len(transforms)


def _variant_encode_udf(spark):
    """Arrow-batched JSON-string → Parquet Variant (metadata, value)
    encoder (VariantEncoding.md; name-sorted dictionary with the
    sorted_strings bit — metadata/variant.py's conformant encoder).
    Per-value Python by necessity: the encoding is a self-describing
    byte tree. Nulls stay null."""
    from pyspark.sql.functions import pandas_udf

    from ..session import _ship_package

    _ship_package(spark)

    @pandas_udf("struct<metadata:binary,value:binary>")
    def enc(s):
        import json as _json

        import pandas as pd

        from hielo_spark.metadata.variant import encode_variant

        metas, vals = [], []
        for x in s:
            if x is None or (isinstance(x, float) and x != x):
                metas.append(None)
                vals.append(None)
            else:
                m, v = encode_variant(_json.loads(x))
                metas.append(m)
                vals.append(v)
        return pd.DataFrame({"metadata": metas, "value": vals})

    return enc


_VARIANT_PARQUET_DDL = "struct<metadata:binary,value:binary>"

#: shred target types the writer supports (VariantShredding.md allows
#: any primitive; these cover the common cases without guessing).
#: r11: also ``array<prim>`` (shredded element groups) and DOTTED
#: paths as spec keys (``{"v": {"a.b": "bigint"}}``) for nested object
#: shredding — the typed_value groups nest recursively.
_SHRED_TYPES = {"bigint", "double", "string", "boolean"}


def _shred_spec_ok(t: str) -> bool:
    if t in _SHRED_TYPES:
        return True
    return (
        t.startswith("array<") and t.endswith(">")
        and t[6:-1] in _SHRED_TYPES
    )


def _shred_tree(fields: dict[str, str]) -> dict:
    """Dotted shred paths → a nested tree: each node is
    ``{"type": leaf-type-or-None, "children": {name: node}}``.
    A path can't be both a leaf and a prefix of another (loud)."""
    root: dict = {"type": None, "children": {}}
    for path, t in fields.items():
        node = root
        parts = path.split(".")
        for p in parts[:-1]:
            node = node["children"].setdefault(
                p, {"type": None, "children": {}}
            )
            if node["type"] is not None:
                raise ValueError(
                    f"shred path {path!r} descends through leaf {p!r}"
                )
        leaf = node["children"].setdefault(
            parts[-1], {"type": None, "children": {}}
        )
        if leaf["type"] is not None or leaf["children"]:
            raise ValueError(f"conflicting shred entries at {path!r}")
        leaf["type"] = t
    return root


def _shred_ddl(node: dict) -> str:
    """A shred-tree node → the parquet field group DDL
    (struct<value binary, typed_value T>), recursing for nested
    objects; ``array<prim>`` leaves become lists of element groups."""
    t = node["type"]
    if t is not None:
        if t.startswith("array<"):
            tv = (
                f"array<struct<value:binary,typed_value:{t[6:-1]}>>"
            )
        else:
            tv = t
        return f"struct<value:binary,typed_value:{tv}>"
    inner = ",".join(
        f"`{k}`:{_shred_ddl(c)}" for k, c in node["children"].items()
    )
    return f"struct<value:binary,typed_value:struct<{inner}>>"


def _variant_shred_udf(spark, shred: dict[str, str]):
    """Arrow-batched JSON-string → SHREDDED Parquet Variant
    (VariantShredding.md): the named object fields land as typed
    subcolumns (struct<value binary, typed_value T> field groups —
    type-matching values shred, mismatches ride the group's binary
    ``value``, absent fields leave both null), the remaining fields
    ride the enclosing level's binary ``value`` remainder, and
    non-object rows fall back to the plain (metadata, value) pair
    with a null typed_value. r11: dotted paths shred NESTED objects
    (each level a recursive typed_value group) and ``array<prim>``
    shreds arrays into element groups — mismatched elements ride
    their element group's binary value."""
    from pyspark.sql.functions import pandas_udf

    from ..session import _ship_package

    _ship_package(spark)
    tree = _shred_tree(dict(shred))
    inner = ",".join(
        f"`{k}`:{_shred_ddl(c)}" for k, c in tree["children"].items()
    )
    ddl = (
        "struct<metadata:binary,value:binary,"
        f"typed_value:struct<{inner}>>"
    )
    py_of = {
        "bigint": int, "double": float, "string": str, "boolean": bool,
    }

    @pandas_udf(ddl)
    def enc(s):
        import json as _json

        import pandas as pd

        from hielo_spark.metadata.variant import (
            _collect_keys,
            _encode_value,
            encode_metadata,
        )

        def _prim_group(v, t, key_id):
            want = py_of[t]
            # bool is an int subclass — keep the check exact
            if isinstance(v, want) and not (
                want is int and isinstance(v, bool)
            ):
                return {"value": None, "typed_value": v}
            # JSON null INCLUDED: a null-valued field is a present
            # variant-null (0x00), not an absent field (both-null
            # group) — reconstruction must keep it
            return {
                "value": _encode_value(v, key_id), "typed_value": None,
            }

        def _group_of(v, node, key_id):
            """One PRESENT value vs its shred-tree node → the parquet
            field group dict."""
            t = node["type"]
            if t is not None:
                if t.startswith("array<"):
                    if isinstance(v, list):
                        et = t[6:-1]
                        return {
                            "value": None,
                            "typed_value": [
                                _prim_group(e, et, key_id) for e in v
                            ],
                        }
                    return {
                        "value": _encode_value(v, key_id),
                        "typed_value": None,
                    }
                return _prim_group(v, t, key_id)
            # internal object node: shredded children recurse, the
            # rest rides THIS level's binary value remainder
            if not isinstance(v, dict):
                return {
                    "value": _encode_value(v, key_id),
                    "typed_value": None,
                }
            groups = {
                k: (
                    _group_of(v[k], c, key_id)
                    if k in v
                    else {"value": None, "typed_value": None}
                )
                for k, c in node["children"].items()
            }
            rest = {
                k: x for k, x in v.items()
                if k not in node["children"]
            }
            return {
                "value": _encode_value(rest, key_id) if rest else None,
                "typed_value": groups,
            }

        metas, vals, typed = [], [], []
        for x in s:
            if x is None or (isinstance(x, float) and x != x):
                metas.append(None)
                vals.append(None)
                typed.append(None)
                continue
            obj = _json.loads(x)
            # name-sorted dictionary over the FULL object (a superset
            # covering shredded fields is spec-legal and keeps ids
            # stable whichever side a value lands on)
            keys: list[str] = []
            _collect_keys(obj, keys, set())
            keys.sort()
            key_id = {k: i for i, k in enumerate(keys)}
            metas.append(encode_metadata(keys))
            if not isinstance(obj, dict):
                vals.append(_encode_value(obj, key_id))
                typed.append(None)
                continue
            top = _group_of(obj, tree, key_id)
            vals.append(top["value"])
            typed.append(top["typed_value"])
        return pd.DataFrame(
            {"metadata": metas, "value": vals, "typed_value": typed}
        )

    return enc


def _prepare_variant_columns(
    spark: SparkSession, df: DataFrame, doc: dict,
    variant_cols: list[str],
    variant_shred: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """The write half of the v3 ``variant`` type: each named column —
    a JSON string (encoded here) or an already-shaped
    struct<metadata:binary,value:binary> (passed through) — lands in
    parquet as the spec's unshredded variant pair, and the table
    schema records the column as ``variant``. New tables commit as
    format-version 3 (variant is a v3 type); a v2 table must
    ``upgrade_format_version`` first — loud, never a silent v2 file a
    foreign reader would mistype."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    enc = None
    for c in variant_cols:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"variant column {c!r} not in frame")
        shred = (variant_shred or {}).get(c)
        if shred is not None:
            bad = {
                st for st in shred.values() if not _shred_spec_ok(st)
            }
            if bad:
                raise ValueError(
                    f"unsupported shred target types {sorted(bad)} "
                    f"(supported: {sorted(_SHRED_TYPES)} and "
                    "array<> of those)"
                )
            if t != "string":
                raise ValueError(
                    f"shredding needs a JSON string column, {c!r} is {t}"
                )
            df = df.withColumn(c, _variant_shred_udf(spark, shred)(F.col(c)))
        elif t == "string":
            if enc is None:
                enc = _variant_encode_udf(spark)
            df = df.withColumn(c, enc(F.col(c)))
        elif t.replace(" ", "") == _VARIANT_PARQUET_DDL:
            pass  # already the parquet shape
        else:
            raise ValueError(
                f"variant column {c!r} must be a JSON string or "
                f"{_VARIANT_PARQUET_DDL}, got {t}"
            )
    if "schemas" in doc:
        fv = int(doc.get("format-version", 2))
        if fv < 3:
            raise ValueError(
                "variant columns need a format-version >= 3 table "
                "(upgrade_format_version first)"
            )
        cur = next(
            (
                s for s in doc.get("schemas", [])
                if s.get("schema-id") == doc.get("current-schema-id", 0)
            ),
            {},
        )
        recorded = {f["name"]: f.get("type") for f in cur.get("fields", [])}
        for c in variant_cols:
            if recorded.get(c) != "variant":
                raise ValueError(
                    f"column {c!r} is recorded as {recorded.get(c)!r}, "
                    "not variant — appending variant data to it would "
                    "corrupt the table (evolve the schema explicitly)"
                )
    else:
        doc["format-version"] = 3  # variant is a v3 type
    return df


def update_partition_spec(table_dir: str, partition_by: list[str]) -> int:
    """Partition evolution (Iceberg ``ALTER TABLE ... WRITE ORDERED/
    PARTITIONED BY`` shape): record a NEW partition spec on an existing
    table and make it the default. Metadata-only commit — no data file
    moves; files written under older specs keep their old partition
    values, and mixed-spec reads stay correct because pruning treats a
    missing partition key as may-match while identity reattachment is
    per-file-group. Subsequent ``append``/``merge_into`` calls (without
    an explicit ``partition_by``) write under the new spec. Returns the
    new spec-id."""
    from .transforms import parse_partition_by

    doc, prev_version = _load_doc(table_dir)
    if "schemas" not in doc:
        raise ValueError("table has no recorded schema (commit data first)")
    schema = next(
        s
        for s in doc["schemas"]
        if s.get("schema-id") == doc.get("current-schema-id", 0)
    )
    name2id = {f["name"]: f["id"] for f in schema.get("fields", [])}
    transforms = parse_partition_by(partition_by)
    for t in transforms:
        if t.source not in name2id:
            raise ValueError(
                f"partition source column {t.source!r} not in table schema"
            )
    specs = list(doc.get("partition-specs", []))
    new_id = max((int(s.get("spec-id", 0)) for s in specs), default=-1) + 1
    next_field_id = (
        max(
            (int(f.get("field-id", 999)) for s in specs for f in s.get("fields", [])),
            default=999,
        )
        + 1
    )
    # spec rule (v2+): an identical (source-id, transform) pair REUSES
    # its existing field-id across specs — the unified partition tuple
    # is keyed by field-id, so a re-appearing field must stay the SAME
    # field, not a same-named duplicate
    existing = {
        (int(f.get("source-id", -1)), str(f.get("transform", ""))):
            (int(f.get("field-id", 999)), str(f.get("name", "")))
        for s in specs
        for f in s.get("fields", [])
    }
    new_fields = []
    for t in transforms:
        key = (name2id[t.source], t.iceberg_name)
        if key in existing:
            fid, fname = existing[key]
        else:
            fid, fname = next_field_id, t.field
            next_field_id += 1
        new_fields.append(
            {
                "name": fname,
                "transform": t.iceberg_name,
                "source-id": name2id[t.source],
                "field-id": fid,
            }
        )
    specs.append({"spec-id": new_id, "fields": new_fields})
    doc = dict(doc)
    doc["partition-specs"] = specs
    doc["default-spec-id"] = new_id
    doc["last-partition-id"] = max(
        int(doc.get("last-partition-id", 999)), next_field_id - 1
    )
    _commit_doc(table_dir, doc, prev_version)
    return new_id


def _with_totals(
    summary: dict,
    doc: dict,
    base_id,
    d_files: int,
    d_bytes: int,
    d_deletes: int,
    reset: bool = False,
) -> dict:
    """Carry the running ``total-data-files`` / ``total-delete-files`` /
    ``total-size`` summary keys (the keys the reference's health suite
    reads from snapshot summaries — data.rs:98-108 — and A6/A7 compute
    storage metrics from), accumulated from the base snapshot; ``reset``
    for REPLACE commits whose file set starts over. ``total-size``
    includes delete-file bytes (Iceberg's total-files-size semantics).

    A base snapshot written before totals existed (its summary lacks the
    keys) poisons the accumulation — a delta masquerading as a total is
    a false fact — so absence PROPAGATES: no totals are emitted until a
    reset-style commit (rewrite_data_files) re-establishes them."""
    base = next(
        (
            s
            for s in doc.get("snapshots", [])
            if s.get("snapshot-id") == base_id
        ),
        None,
    )
    bs = (base or {}).get("summary", {})
    if not reset and base is not None and "total-data-files" not in bs:
        return summary  # pre-totals lineage: don't fabricate a baseline

    def g(k: str) -> int:
        if reset:
            return 0
        try:
            return int(bs.get(k, "0") or 0)
        except ValueError:
            return 0

    summary["total-data-files"] = str(g("total-data-files") + d_files)
    summary["total-delete-files"] = str(g("total-delete-files") + d_deletes)
    summary["total-size"] = str(g("total-size") + d_bytes)
    # the SPEC's name for the same number is total-files-size; emit both
    # so a spec-only consumer and the reference's health suite each find
    # their key (metadata/spec.py SUMMARY_METRIC_KEYS)
    summary["total-files-size"] = summary["total-size"]
    return summary


def _carry_forward_rows(
    mdir: str, doc: dict, base_id: int | None = None
) -> list[dict]:
    """Base snapshot's manifest-list rows (default: the current
    snapshot), re-emitted as existing manifests with their own sequence
    numbers and ``min_sequence_number`` (a commit keeps history; only
    the new manifest is added). Pure Python — no SparkSession — so the
    DataSource writer's commit worker composes commits with it too."""
    from .avro_py import read_avro_file
    from .manifests import _COUNT_ALIASES, _resolve

    snaps = doc.get("snapshots", [])
    current_id = base_id if base_id is not None else doc.get("current-snapshot-id")
    current = next((s for s in snaps if s.get("snapshot-id") == current_id), None)
    if current is None:
        return []
    prev_list = _resolve(
        os.path.join(mdir, "x"), current["manifest-list"].removeprefix("file:")
    )

    def count(m: dict, name: str) -> int:
        return next(
            (int(m[a]) for a in _COUNT_ALIASES[name] if m.get(a) is not None),
            0,
        )

    rows = []
    for m in read_avro_file(prev_list)[2]:
        files = count(m, "added_files_count") + count(m, "existing_files_count")
        # a manifest whose only content was status=2 tombstones (DV
        # supersession visibility, dynamic overwrites) lives exactly one
        # snapshot — the spec keeps deleted entries only in the snapshot
        # that deleted them, so the next commit drops the row
        if files == 0 and count(m, "deleted_files_count") > 0:
            continue
        seq = int(m.get("sequence_number") or 0)
        min_seq = m.get("min_sequence_number")
        rows.append(
            {
                "manifest_path": str(m["manifest_path"]),
                "manifest_length": int(m["manifest_length"]),
                "partition_spec_id": int(m.get("partition_spec_id") or 0),
                "content": int(m.get("content") or 0),
                "sequence_number": seq,
                "min_sequence_number": int(min_seq) if min_seq is not None else seq,
                "added_snapshot_id": int(m.get("added_snapshot_id") or 0),
                "added_files_count": 0,
                "existing_files_count": files,
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": int(m.get("added_rows_count") or 0)
                + int(m.get("existing_rows_count") or 0),
                "deleted_rows_count": 0,
            }
        )
    return rows


def _finalize_commit(
    table_dir: str,
    doc: dict,
    prev_version: int,
    manifest_rows: list[dict],
    snapshot_id: int,
    timestamp_ms: int,
    seq: int,
    summary: dict[str, str],
    branch: str | None = None,
    parent_id: int | None = None,
    extra_properties: dict[str, str] | None = None,
) -> dict:
    """Write the manifest list, append the snapshot entry, bump the
    metadata version. With ``branch``, the commit moves that branch ref
    instead of the main ``current-snapshot-id`` — the write half of the
    write-audit-publish pattern (stage commits on a branch, publish via
    ``fast_forward``)."""
    from .avro_py import write_avro_file

    mdir = os.path.join(table_dir, "metadata")
    list_path = os.path.join(mdir, f"snap-{snapshot_id}-{_uuid.uuid4().hex[:8]}.avro")
    # transient marker from _staged_manifest_row (lineage-materialized
    # UPDATE): those manifests' rows keep ids they already own — no
    # watermark assignment. Stripped before the avro write.
    no_assign = {
        r["manifest_path"] for r in manifest_rows
        if r.pop("assigns_row_ids", True) is False
    }
    for row in manifest_rows:  # v2 requires the rows counts; fill holes
        row.setdefault("added_rows_count", 0)
        row.setdefault("existing_rows_count", 0)
        row.setdefault("deleted_rows_count", 0)
    write_avro_file(
        list_path, MANIFEST_LIST_SCHEMA_V2, manifest_rows,
        meta={
            "snapshot-id": str(snapshot_id),
            "sequence-number": str(seq),
            "format-version": "2",
        },
    )
    snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": (
            parent_id if branch is not None else doc.get("current-snapshot-id")
        ),
        "sequence-number": seq,
        "timestamp-ms": timestamp_ms,
        "manifest-list": list_path,
        "schema-id": doc.get("current-schema-id", 0),
        "summary": summary,
    }
    doc = dict(doc)
    if int(doc.get("format-version", 2)) >= 3:
        # v3 row lineage: the snapshot records the first _row_id it
        # assigned and the table watermark advances by the rows its NEW
        # data manifests added (delete/DV manifests assign none). A
        # REPLACE (compaction) assigns nothing — its rewritten files
        # carry first_row_id=null with MATERIALIZED lineage columns, so
        # advancing would burn watermark ranges no row ever uses.
        first = int(doc.get("next-row-id", 0))
        assigned = (
            0
            if summary.get("operation") == "replace"
            else sum(
                int(r.get("added_rows_count") or 0)
                for r in manifest_rows
                if (r.get("content") or 0) == 0
                and int(r.get("added_snapshot_id") or -1) == snapshot_id
                and r["manifest_path"] not in no_assign
            )
        )
        snapshot["first-row-id"] = first
        doc["next-row-id"] = first + assigned
    doc["snapshots"] = doc.get("snapshots", []) + [snapshot]
    if branch is None:
        doc["current-snapshot-id"] = snapshot_id
        # spec: snapshot-log records every change of the current
        # snapshot (main branch history — what TIMESTAMP AS OF reads)
        doc["snapshot-log"] = doc.get("snapshot-log", []) + [
            {"timestamp-ms": timestamp_ms, "snapshot-id": snapshot_id}
        ]
    else:
        refs = dict(doc.get("refs", {}))
        refs[branch] = {"snapshot-id": snapshot_id, "type": "branch"}
        doc["refs"] = refs
    doc["last-sequence-number"] = seq
    doc["last-updated-ms"] = timestamp_ms
    # v2 requires sort-orders even when the table is unsorted
    doc.setdefault("sort-orders", [{"order-id": 0, "fields": []}])
    doc.setdefault("default-sort-order-id", 0)
    if extra_properties:
        doc["properties"] = {**doc.get("properties", {}), **extra_properties}
    _commit_doc(table_dir, doc, prev_version)
    return snapshot


def _write_data_files(spark, data_dir: str, df: DataFrame, transforms,
                      sort_exprs=(),
                      row_group_rows: int = ROW_GROUP_ROWS) -> list[dict]:
    """Distributed table-file write shared by append, merge, compaction
    and every delete-file writer (:func:`_stage_delete_files`): every
    task streams its rows through ``data_files.write_files`` inside
    ``mapInArrow`` and returns one stats record per file (path, size,
    counts, bounds, partition values); the driver collects the records
    — one Spark job, no re-read of what was just written. Partitioned
    writes sort each task by partition key first (then by
    ``sort_exprs`` — the spec's within-file order for delete files), as
    Spark's own ``partitionBy`` writer does, so a task keeps one file
    open. Files land at ``data_dir/[<field>=<value>/]part-*.parquet``,
    in row groups of ``row_group_rows`` rows. Only the records of
    successful tasks are collected; any other attempt's files stay
    unreferenced for ``remove_orphan_files``."""
    import json as _json

    from ..session import _ship_package
    from .data_files import write_files

    _ship_package(spark)
    dtypes = dict(df.dtypes)
    keys = [t.expr(dtypes[t.source]) for t in transforms] + list(sort_exprs)
    if keys:
        df = df.sortWithinPartitions(*keys)

    def write_task(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        # part-<task>-<uuid>: files sort by task, like Spark's writer
        prefix = f"part-{TaskContext.get().partitionId():05d}"
        records, _ = write_files(batches, data_dir, transforms, prefix,
                                 fanout=False,
                                 row_group_rows=row_group_rows)
        if records:
            yield pa.RecordBatch.from_pydict(
                {"rec": [_json.dumps(r) for r in records]}
            )

    return [
        _json.loads(r.rec)
        for r in df.mapInArrow(write_task, "rec string").collect()
    ]


def _partition_types(transforms, dtypes: dict[str, str]) -> dict | None:
    """The manifest's ``partition_types`` map: identity fields carry
    their source column's SQL type (the read planes reattach them as
    typed literals); transform fields carry their spec behind a marker
    — the source column is IN the data, nothing to reattach, but
    pruning and time travel still match on the recorded value."""
    return {
        t.field: (
            dtypes[t.source] if t.kind == "identity"
            else f"transform:{t.spec}"
        )
        for t in transforms
    } or None


def _stage_files_manifest(
    doc: dict,
    files: list[dict],
    dtypes: dict[str, str],
    snapshot_id: int,
    seq: int,
    mdir: str,
    spec_id: int,
    pfields: list[tuple],
    ptypes: dict | None,
    sort_order_id: int | None = None,
    assign_row_ids: bool = True,
    content: int = 0,
) -> dict:
    """Write the manifest for newly written ``files`` — the one builder
    of manifest entries for new table files, whichever plane wrote
    them. Each file dict is a writer stats record (``path``,
    ``record_count``, ``file_size_in_bytes`` and optional
    ``lower_bounds`` / ``upper_bounds`` / ``null_counts`` /
    ``nan_counts`` / ``distinct_counts`` string maps and
    ``partition_values``); the table's metrics properties
    (:func:`_metrics_mode_of`) truncate or drop column metrics here.
    Bounds are recorded twice: as the engine's name-keyed strings and
    as the spec's field-id-keyed Appendix D bytes.

    ``content`` 1 (position deletes, stats under the reserved
    ``file_path``/``pos`` field ids) or 2 (equality deletes on the
    ``dtypes`` columns, recorded as ``equality_ids``) stages a delete
    manifest instead: a ``delete-manifest-NNNNN-*.avro`` with the
    ``deletes`` header, full metrics whatever the metrics properties
    say (a delete file's bounds decide which data files it may touch),
    and no row ids.

    v3 row lineage: with ``assign_row_ids`` every file gets the
    ``_row_id`` of its first row (field 142), contiguous from the
    table's next-row-id watermark in manifest order; _finalize_commit
    advances the watermark. Without it (files carrying materialized
    lineage columns) first_row_id stays null and the manifest-list row
    is marked so the watermark does not move.

    Returns ``{manifest_path, spec_id, content, n_files,
    added_records, added_bytes, partition_values_of,
    lineage_materialized}`` — ``content`` is the manifest list's code
    (0 data, 1 deletes)."""
    from .avro_py import write_avro_file

    deletes = content != 0
    mode = None if deletes else _metrics_mode_of(doc)
    name2id = _POS_DELETE_IDS if content == 1 else _name2id(doc)
    equality_ids = (
        [name2id[c] for c in dtypes if c in name2id] or None
        if content == 2 else None
    )

    def counts(m: dict | None) -> dict | None:
        return {
            c: v for c, v in (m or {}).items()
            if _col_metrics_mode(mode, c) != "none"
        } or None

    rid = (
        int(doc.get("next-row-id", 0))
        if assign_row_ids and not deletes
        and int(doc.get("format-version", 2)) >= 3
        else None
    )
    entries = []
    for f in files:
        records = int(f["record_count"])
        lo, hi = _apply_metrics_mode(
            f.get("lower_bounds"), f.get("upper_bounds"), dtypes, mode
        )
        btypes = {
            c: dtypes[c] for c in {**(lo or {}), **(hi or {})} if c in dtypes
        } or None
        nulls = counts(f.get("null_counts"))
        entries.append({
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": content,
                "file_path": f["path"],
                "file_format": "PARQUET",
                "sort_order_id": sort_order_id,
                "first_row_id": rid,
                "equality_ids": equality_ids,
                "partition": _typed_partition(
                    f.get("partition_values"), pfields
                ),
                "record_count": records,
                "file_size_in_bytes": int(f["file_size_in_bytes"]),
                **_spec_stats(
                    name2id, btypes, lo, hi, nulls, records,
                    counts(f.get("nan_counts")),
                ),
                "partition_values": (
                    f.get("partition_values") if pfields else None
                ),
                "partition_types": ptypes if pfields else None,
                "lower_bounds_str": lo,
                "upper_bounds_str": hi,
                "bounds_types": btypes,
                "null_counts": nulls,
                "distinct_counts_str": counts(f.get("distinct_counts")),
            },
        })
        if rid is not None:
            rid += records
    os.makedirs(mdir, exist_ok=True)
    manifest_path = os.path.join(
        mdir,
        f"{'delete-manifest' if deletes else 'manifest'}-{seq:05d}-"
        f"{_uuid.uuid4().hex[:8]}.avro",
    )
    write_avro_file(
        manifest_path, manifest_entry_schema(pfields), entries,
        meta=_manifest_header_meta(
            doc, spec_id, "deletes" if deletes else "data"
        ),
    )
    return {
        "manifest_path": manifest_path,
        "spec_id": spec_id,
        "content": 1 if deletes else 0,
        "n_files": len(files),
        "added_records": sum(int(f["record_count"]) for f in files),
        "added_bytes": sum(int(f["file_size_in_bytes"]) for f in files),
        "partition_values_of": {
            f["path"]: f.get("partition_values") for f in files
        },
        "lineage_materialized": not (assign_row_ids or deletes),
    }


def _spec_transforms_from_doc(doc: dict):
    """Reconstruct the default partition spec recorded in the metadata
    document as PartitionTransform objects, so MERGE (and any other
    writer) keeps producing spec-conformant file layout. Returns [] when
    the table is unpartitioned or the spec can't be resolved against the
    current schema (foreign metadata) — callers then write unpartitioned,
    which is always correct, just unpruned."""
    import re as _re

    from .transforms import parse_partition_by

    specs = doc.get("partition-specs") or []
    default_id = doc.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id") == default_id), None)
    if not spec or not spec.get("fields"):
        return []
    schema = next(
        (
            s
            for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id", 0)
        ),
        None,
    )
    id2name = {f["id"]: f["name"] for f in (schema or {}).get("fields", [])}
    out = []
    for f in spec["fields"]:
        srcname = id2name.get(f.get("source-id"))
        if srcname is None:
            return []
        tr = f.get("transform", "identity")
        if tr == "identity":
            out.append(srcname)
        elif tr in ("year", "month", "day", "hour"):
            out.append(f"{tr}s({srcname})")
        else:
            m = _re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
            if m is None:
                return []
            out.append(f"{m.group(1)}({m.group(2)}, {srcname})")
    ts = parse_partition_by(out)
    # recorded field names must agree with the derived ones, else the
    # manifest keys would diverge from prior commits
    if [t.field for t in ts] != [f.get("name") for f in spec["fields"]]:
        return []
    return ts


def _stage_append_manifest(
    spark: SparkSession,
    table_dir: str,
    doc: dict,
    seq: int,
    snapshot_id: int,
    df: DataFrame,
    partition_by: list[str] | None = None,
    variant_cols: list[str] | None = None,
    variant_shred: dict[str, dict[str, str]] | None = None,
    lineage_materialized: bool = False,
) -> dict:
    """The write half shared by append() and overwrite_partitions():
    materialize write-defaults, prepare variant columns, honor the
    table\'s distribution mode and sort order, write the data files,
    and emit their manifest. Mutates ``doc`` the same way append
    always has (shape recording, next-row-id is advanced later by
    _finalize_commit). Returns :func:`_stage_files_manifest`'s dict —
    its ``partition_values_of`` maps file path → stringified partition
    values (what overwrite_partitions dooms prior files against).

    ``lineage_materialized``: the frame CARRIES the v3 lineage columns
    (``_row_id`` / ``_last_updated_sequence_number``) as real data —
    the lineage-preserving UPDATE path. The files then write those
    columns materialized, their manifest entries record
    ``first_row_id=null`` (spec: explicit columns override
    inheritance), and the commit assigns NO new ids from the
    ``next-row-id`` watermark (the rows keep the ids they already
    own)."""
    from .transforms import parse_partition_by

    mdir = os.path.join(table_dir, "metadata")
    # 1. data files — distributed parquet write into a per-commit dir
    data_dir = os.path.join(table_dir, "data", f"seq-{seq:05d}")
    # v3 write-default: columns of the current schema that carry a
    # write-default and are ABSENT from the frame are materialized as
    # that value (the spec's writer rule) — a later read of this file
    # then sees the default explicitly, never via the initial-default
    # fill path
    cur_schema = next(
        (
            s for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id")
        ),
        None,
    )
    if cur_schema is not None:
        from pyspark.sql import functions as _F

        from .types import iceberg_to_ddl as _i2d
        from .values import default_from_json as _dfj

        for f in cur_schema.get("fields", []):
            if (
                f.get("write-default") is not None
                and isinstance(f.get("type"), str)
                and f["name"] not in df.columns
            ):
                df = df.withColumn(
                    f["name"],
                    _F.lit(
                        _dfj(f["type"], f["write-default"])
                    ).cast(_i2d(f["type"])),
                )
    if variant_cols:
        df = _prepare_variant_columns(
            spark, df, doc, variant_cols, variant_shred
        )
    dtypes = dict(df.dtypes)
    # explicit partition_by wins; otherwise write under the table's
    # recorded default spec (Iceberg writer behavior — partition
    # evolution via update_partition_spec takes effect on the next write)
    transforms = (
        parse_partition_by(partition_by)
        if partition_by
        else _spec_transforms_from_doc(doc)
    )
    for t in transforms:
        if t.source not in dtypes:
            raise ValueError(f"partition source column {t.source!r} not in frame")
    _record_table_shape(
        doc,
        {
            c: t for c, t in dtypes.items()
            if c not in ("_row_id", "_last_updated_sequence_number")
        }
        if lineage_materialized else dtypes,
        transforms, frozenset(variant_cols or ()),
    )
    # honor the table's write.distribution-mode property (Iceberg
    # writer behavior): "range" clusters the frame globally by the
    # default sort order (one shuffle, disjoint per-file ranges),
    # "hash" clusters by the partition transform sources (each
    # partition value lands in one task → one file per partition per
    # commit instead of one per input task), "none"/absent keeps the
    # caller's distribution
    order_spec = _sort_spec_from_doc(doc)
    sort_spec = [s for s in order_spec if s[0] in dtypes]
    sort_cols = [s[0] for s in sort_spec]
    order_cols = [s[0] for s in order_spec]
    dist = str(
        (doc.get("properties", {}) or {}).get(
            "write.distribution-mode", "none"
        )
    ).lower()
    if dist == "range" and sort_spec:
        # honor each field's declared direction/null-order so file
        # ranges line up with the order readers expect
        df = df.repartitionByRange(*_sort_exprs(sort_spec, dtypes))
    elif dist == "hash" and transforms:
        # cluster by the DERIVED partition values, not the raw source
        # columns: for non-identity transforms (bucket/days/truncate)
        # many source values map to one partition — hashing the source
        # would spread a single partition across many tasks, breaking
        # the one-file-per-partition-per-commit intent
        keys = [
            t.expr(dtypes[t.source]) for t in transforms
            if t.source in dtypes
        ]
        if keys:
            df = df.repartition(*keys)
    # honor the table's default sort order on appends
    # (_sort_spec_from_doc — transform sort fields sort by the derived
    # value): a LOCAL per-task sort (after the partition key) —
    # no extra shuffle — so fresh files carry tight column bounds and
    # file-/row-group pruning bites immediately, not only after the
    # next sorted compaction (Iceberg writers apply the sort order on
    # write; spec "sort-orders" / "default-sort-order-id"). Direction
    # and null order come from the declared sort fields: a file
    # stamped with sort_order_id must actually be in THAT order, desc
    # and nulls-last included.
    files = _write_data_files(
        spark, data_dir, df, transforms,
        _sort_exprs(sort_spec, dtypes) if sort_spec else (),
    )
    # stamp the order id ONLY when every order column was present —
    # a partial sort must not claim the full order to readers
    sort_oid = (
        int(doc.get("default-sort-order-id", 0))
        if sort_cols and len(sort_cols) == len(order_cols)
        else None
    )

    # 2. manifest for the added files (entry seq null → inherited),
    # with the spec's typed r102 partition record + header metadata
    ptypes = _partition_types(transforms, dtypes)
    spec_id = int(doc.get("default-spec-id", 0))
    pfields = _partition_avro_fields(doc, ptypes, spec_id)
    if [t.field for t in transforms] != [f[0] for f in pfields]:
        # explicit partition_by overriding the recorded default spec
        n2i = _name2id(doc)
        pfields = [
            (
                t.field,
                _r102_spark_type(
                    t.iceberg_name, t.field, n2i.get(t.source), doc,
                    ptypes,
                ),
                1000 + i,
                t.iceberg_name,
            )
            for i, t in enumerate(transforms)
        ]
    # a lineage-materialized write (UPDATE re-append) keeps first_row_id
    # null on every file: the parquet carries explicit _row_id columns,
    # which the lineage read coalesces BEFORE the inheritance fallback
    return _stage_files_manifest(
        doc, files, dtypes, snapshot_id, seq, mdir, spec_id, pfields,
        ptypes, sort_order_id=sort_oid,
        assign_row_ids=not lineage_materialized,
    )


def append(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    partition_by: list[str] | None = None,
    extra_summary: dict[str, str] | None = None,
    branch: str | None = None,
    extra_properties: dict[str, str] | None = None,
    variant_cols: list[str] | None = None,
    variant_shred: dict[str, dict[str, str]] | None = None,
) -> dict:
    """Append ``df`` as a new snapshot. Returns the new snapshot dict.
    ``extra_summary`` entries are merged into the snapshot summary (used
    by the streaming sink to record its exactly-once batch marker).

    ``variant_cols`` names columns to commit as the v3 ``variant``
    type: JSON strings are encoded to the Parquet Variant
    (metadata, value) binary pair (VariantEncoding.md, name-sorted
    dictionaries), already-shaped structs pass through, and the table
    schema records the columns as ``variant`` — both read planes then
    surface canonical JSON strings. New tables commit at
    format-version 3; v2 tables must upgrade first (loud).
    ``variant_shred`` optionally SHREDS named top-level object fields
    into typed subcolumns (VariantShredding.md), e.g.
    ``variant_shred={"v": {"a": "bigint"}}`` — type-matching values
    land typed, mismatches and extra fields ride the binary
    remainder, readers reconstruct either way.

    With ``branch``, the commit extends that branch ref (creating it
    from the current snapshot if absent) and leaves the main
    ``current-snapshot-id`` untouched — write-audit-publish staging;
    readers see the staged rows only via ``ref=branch`` until
    ``fast_forward`` publishes the branch.

    With ``partition_by``, data files are written hive-layout
    (``col=value/`` dirs, distributed ``partitionBy`` write) and each
    manifest entry records the file's typed partition values — which is
    what makes ``read_data_at_snapshot(partition_filter=...)`` prune
    files from metadata alone, the Iceberg planner behavior. Entries
    may be identity columns OR Iceberg hidden-partitioning transforms
    (``"days(ts)"``, ``"months(ts)"``, ``"years(ts)"``, ``"hours(ts)"``,
    ``"bucket(8, id)"``, ``"truncate(4, s)"`` — metadata/transforms.py,
    spec-exact murmur3 bucketing): the derived partition value exists
    ONLY in directory layout + manifest metadata, while the source
    column stays in the data files, so readers filter on the source
    column and prune via the transform — Iceberg's hidden partitioning.

    ``snapshot_id`` / ``timestamp_ms`` are injectable for deterministic
    tests (defaults: sequence-derived id, current wall clock)."""
    doc, prev_version = _load_doc(table_dir)
    seq, snapshot_id, timestamp_ms, base_id = _commit_ids(
        doc, snapshot_id, timestamp_ms, branch
    )
    staged = _stage_append_manifest(
        spark, table_dir, doc, seq, snapshot_id, df,
        partition_by=partition_by, variant_cols=variant_cols,
        variant_shred=variant_shred,
    )
    return _commit_staged(
        table_dir, doc, prev_version, staged, seq, snapshot_id,
        timestamp_ms, base_id, "append", branch=branch,
        extra_summary=extra_summary, extra_properties=extra_properties,
    )


def _commit_ids(doc: dict, snapshot_id, timestamp_ms, branch):
    """``(seq, snapshot_id, timestamp_ms, base_id)`` for a new data
    commit: the next sequence number, the caller's ids or the defaults
    (sequence-derived snapshot id, wall clock), and the snapshot the
    commit builds on — the current one, or the head of ``branch``."""
    import time

    seq = int(doc.get("last-sequence-number", 0)) + 1
    if snapshot_id is None:
        snapshot_id = _default_snapshot_id(doc, seq)
    if timestamp_ms is None:
        timestamp_ms = int(time.time() * 1000)
    base_id = doc.get("current-snapshot-id")
    if branch is not None:
        ref = doc.get("refs", {}).get(branch)
        if ref is not None:
            if ref.get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag, not a branch")
            base_id = int(ref["snapshot-id"])
    return seq, snapshot_id, timestamp_ms, base_id


def _commit_staged(
    table_dir: str,
    doc: dict,
    prev_version: int,
    staged: dict,
    seq: int,
    snapshot_id: int,
    timestamp_ms: int,
    base_id: int | None,
    mode: str,
    branch: str | None = None,
    extra_summary: dict[str, str] | None = None,
    extra_properties: dict[str, str] | None = None,
) -> dict:
    """Compose the snapshot around one staged data manifest
    (:func:`_stage_files_manifest`) and commit it. ``mode``:

    * ``"append"`` — the base snapshot's manifests carry forward;
    * ``"overwrite"`` — REPLACE: no carry-forward (the new files ARE
      the table), operation ``overwrite`` with reset running totals —
      Iceberg's truncate-and-write;
    * ``"dynamic-overwrite"`` — dynamic PARTITION overwrite: prior
      manifests carry forward with live entries of exactly the incoming
      files' partition tuples tombstoned (copy-on-write); on an
      unpartitioned table every live data file is doomed."""
    mdir = os.path.join(table_dir, "metadata")
    overwrite = mode == "overwrite"
    dynamic = mode == "dynamic-overwrite"
    prior_rows = [] if overwrite else _carry_forward_rows(mdir, doc, base_id)
    dropped_files = dropped_rows = dropped_bytes = 0
    if dynamic:
        pnames = [f[0] for f in _partition_avro_fields(doc, None)]
        incoming = {
            tuple(str(pv.get(n)) for n in pnames)
            for pv in staged["partition_values_of"].values() if pv
        }
        prior_rows, dropped_files, dropped_rows, dropped_bytes = (
            _tombstone_partitions_in_rows(
                prior_rows, incoming, pnames, mdir, seq, snapshot_id,
                int(doc.get("format-version", 2)),
                current_spec_id=int(doc.get("default-spec-id", 0)),
            )
        )
    added_records = staged["added_records"]
    added_bytes = staged["added_bytes"]
    total_records = added_records
    base = next(
        (s for s in doc.get("snapshots", [])
         if s.get("snapshot-id") == base_id),
        None,
    )
    if base is not None and not overwrite:
        try:
            total_records += int(
                base.get("summary", {}).get("total-records", "0") or 0
            ) - dropped_rows
        except ValueError:
            pass  # junk-tolerant, like _with_totals
    summary = {
        "operation": "append" if mode == "append" else "overwrite",
        "added-data-files": str(staged["n_files"]),
        "added-records": str(added_records),
        **(
            {
                "deleted-data-files": str(dropped_files),
                "deleted-records": str(dropped_rows),
                "removed-files-size": str(dropped_bytes),
            }
            if dynamic else {}
        ),
        "total-records": str(max(total_records, 0)),
        "added-files-size": str(added_bytes),
        **(extra_summary or {}),
    }
    return _finalize_commit(
        table_dir, doc, prev_version,
        prior_rows + [_staged_manifest_row(staged, seq, snapshot_id)],
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            summary, doc, base_id,
            staged["n_files"] - dropped_files, added_bytes - dropped_bytes, 0,
            reset=overwrite,
        ),
        branch=branch,
        parent_id=base_id,
        extra_properties=extra_properties,
    )


def append_files(
    table_dir: str,
    files: list[dict],
    dtypes: dict[str, str],
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    extra_summary: dict[str, str] | None = None,
    extra_properties: dict[str, str] | None = None,
    mode: str = "append",
    branch: str | None = None,
) -> dict:
    """Commit already-written parquet ``files`` as one snapshot, with no
    SparkSession — the commit half of the ``hielo_iceberg`` DataSource
    writer, whose ``commit()`` runs in a plain Python worker. Each file
    dict is a writer stats record (see :func:`_stage_files_manifest`);
    ``dtypes`` are the written frame's Spark types. ``mode`` is
    ``append`` / ``overwrite`` / ``dynamic-overwrite`` as in
    :func:`_commit_staged`. ``branch`` stages the commit on that branch
    ref instead of moving ``current-snapshot-id`` (the write half of
    write-audit-publish; publish with ``fast_forward``); readers see
    the staged rows only via ``ref=branch`` / ``option("branch", ...)``.
    Returns the snapshot dict.

    On a partitioned default spec the writer tasks must have split rows
    by the spec and attached per-file ``partition_values`` (the values
    live in the manifest, not the files); files without them raise
    rather than record inconsistent metadata."""
    if mode not in ("append", "overwrite", "dynamic-overwrite"):
        raise ValueError(f"unsupported commit mode {mode!r}")
    doc, prev_version = _load_doc(table_dir)
    seq, snapshot_id, timestamp_ms, base_id = _commit_ids(
        doc, snapshot_id, timestamp_ms, branch
    )
    mdir = os.path.join(table_dir, "metadata")
    _record_table_shape(doc, dtypes, [])
    ptypes = _partition_types(_spec_transforms_from_doc(doc), dtypes)
    spec_id = int(doc.get("default-spec-id", 0))
    pfields = _partition_avro_fields(doc, ptypes, spec_id)
    if pfields and any(f.get("partition_values") is None for f in files):
        raise ValueError(
            f"table {table_dir!r} has a partitioned default spec but the "
            "write produced files without partition values — the writer "
            "must split rows by the spec's partition fields"
        )
    staged = _stage_files_manifest(
        doc, files, dtypes, snapshot_id, seq, mdir, spec_id, pfields, ptypes,
    )
    return _commit_staged(
        table_dir, doc, prev_version, staged, seq, snapshot_id,
        timestamp_ms, base_id, mode, branch=branch,
        extra_summary=extra_summary, extra_properties=extra_properties,
    )


def _footer_file_stats(md, dtypes: dict[str, str], bound_cols,
                       rename: dict[str, str] | None = None):
    """(records, lo, hi, null_counts) for one parquet file from its
    FOOTER metadata alone — per-row-group stats aggregated per column
    and rendered by ``data_files.render_bound``. Writer-truncated
    string stats remain valid ENCLOSING bounds; NaN float stats (old
    writers) are masked. A column records bounds (or a null count) only
    when EVERY row group contributed one — a file bound that misses a
    statless group's values would wrongly prune. NaN-only float groups
    count as contributing (NaN is spec-excluded from bounds), but a
    group with NO stats at all drops the column.

    ``rename`` maps physical footer column names to table names
    (name-mapped imports): stats land under the ICEBERG names so the
    manifest bounds prune like any native file's."""
    import math

    from .data_files import render_bound

    lo: dict = {}
    hi: dict = {}
    nn: dict[str, int] = {}
    # columns that missed min/max (or null_count) in ANY row group —
    # their file-level stat would not enclose the file
    incomplete: set[str] = set()
    nn_incomplete: set[str] = set()

    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            col = g.column(i)
            name = col.path_in_schema
            if "." in name:
                continue
            if rename:
                name = rename.get(name, name)
            if name not in dtypes:
                continue
            st = col.statistics
            if st is None or st.null_count is None:
                nn_incomplete.add(name)
            else:
                nn[name] = nn.get(name, 0) + int(st.null_count)
            if name not in bound_cols:
                continue
            if st is None or not st.has_min_max:
                incomplete.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    incomplete.add(name)
                    continue
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                # a NaN-only group contributes no value (the other
                # groups' bounds still enclose every non-NaN row); a
                # half-NaN stat hides one non-NaN extreme
                if not (math.isnan(mn) and math.isnan(mx)):
                    incomplete.add(name)
                continue
            if name not in lo or mn < lo[name]:
                lo[name] = mn
            if name not in hi or mx > hi[name]:
                hi[name] = mx
    lo_s = {
        c: render_bound(v) for c, v in lo.items() if c not in incomplete
    }
    hi_s = {
        c: render_bound(v) for c, v in hi.items() if c not in incomplete
    }
    nn_s = {
        c: str(v) for c, v in nn.items() if c not in nn_incomplete
    } or None
    return int(md.num_rows), lo_s or None, hi_s or None, nn_s


def add_files(
    spark: SparkSession,
    table_dir: str,
    files: list[str],
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """Register EXISTING parquet files as a new append snapshot without
    rewriting a byte of data — Iceberg's ``add_files`` procedure (the
    100 TB onboarding path: importing a hive-layout landing zone into a
    table is a metadata-only commit, not a copy). Per-file stats come
    from the parquet FOOTERS alone (row counts, null counts, min/max
    aggregated across row groups) so planning-grade bounds land in the
    manifest with zero data scan; NaN-valued float bounds are masked
    out per the spec's NaN-excluded-from-bounds rule (old writers may
    have recorded them), and truncated footer string stats are still
    valid ENCLOSING bounds, which is all pruning needs. nan/distinct
    counts are unrecordable from footers and stay absent (readers
    treat absence conservatively).

    On a fresh table the schema is recorded from the first footer. On
    an existing table every data column must appear in each file's
    parquet schema (loud otherwise) — physical names resolving through
    the table's ``schema.name-mapping.default`` count (the procedure
    Iceberg pairs with a name mapping for Hive imports; footer stats
    then key under the ICEBERG names so manifest bounds prune like any
    native file's) — and re-registering a path already
    live in the current snapshot raises (Iceberg's duplicate check).
    Identity partition values parse from hive ``col=value`` path
    segments when the table's default spec (or the hive layout) has
    them; non-identity transforms cannot be derived without scanning
    and raise."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    if not files:
        raise ValueError("add_files: empty file list")
    files = [os.path.abspath(p.removeprefix("file:")) for p in files]

    doc, prev_version = _load_doc(table_dir)
    seq, snapshot_id, timestamp_ms, base_id = _commit_ids(
        doc, snapshot_id, timestamp_ms, None
    )
    mdir = os.path.join(table_dir, "metadata")

    # duplicate-registration check against the current snapshot
    if base_id is not None:
        from .manifests import _resolve, live_data_file_dicts

        cur = next(
            s for s in doc["snapshots"] if s["snapshot-id"] == base_id
        )
        live = live_data_file_dicts(
            _resolve(os.path.join(mdir, "x"),
                     cur["manifest-list"].removeprefix("file:")),
            doc.get("format-version", 2),
        )
        dups = sorted(set(files) & set(live))
        if dups:
            raise ValueError(
                f"add_files: already registered in the current snapshot: "
                f"{dups[:3]}{'…' if len(dups) > 3 else ''}"
            )

    # hive partition segments (identity values only)
    # hive-segment scoping: for an EXISTING partitioned table the spec
    # names the fields, so '=' segments anywhere on the path resolve by
    # KEY (a single-partition import whose one value sits above the
    # files' common root still finds it); for a FRESH table, infer from
    # segments below the common root plus the root's own trailing
    # '='-run — a parent directory like /srv/user=bob/data never leaks
    # in (the run stops at the first non-hive segment)
    common_root = os.path.commonpath([os.path.dirname(p) for p in files])
    _root_run: list[tuple[str, str]] = []
    for seg in reversed(common_root.split(os.sep)):
        k, eq, v = seg.partition("=")
        if eq and k:
            _root_run.insert(0, (k, unquote(v)))
        else:
            break

    def hive_pvals(p: str, keys: list[str] | None = None) -> dict[str, str]:
        vals = dict(_root_run)
        rel = os.path.relpath(os.path.dirname(p), common_root)
        for seg in rel.split(os.sep):
            k, eq, v = seg.partition("=")
            if eq and k:
                vals[k] = unquote(v)
        if keys is not None:
            # spec-keyed lookup may also resolve above the trailing
            # run (…/day=X/hour=Y/extra/part.parquet): later segments
            # win, parent dirs match only when the spec names them
            full = {}
            for seg in os.path.dirname(p).split(os.sep):
                k, eq, v = seg.partition("=")
                if eq and k in keys:
                    full[k] = unquote(v)
            full.update({k: v for k, v in vals.items() if k in keys})
            return full
        return vals

    # per-file footer walk: schema, rows, aggregated column stats.
    # Footers open LAZILY one at a time (an import may register a
    # million files — holding every handle open is the wrong shape);
    # the first file's schema is the reference, and every other file
    # must agree on the TYPE of any shared column (a silent type flip
    # would poison that column's recorded bounds).
    def _open(p: str) -> "pq.ParquetFile":
        return pq.ParquetFile(p)

    # name-mapped imports (spec Appendix C): a file's PHYSICAL column
    # names resolve to table names through schema.name-mapping.default,
    # so footer schema checks and stats key under the Iceberg names —
    # the exact onboarding case the mapping exists for (Hive datasets
    # whose column names never matched the Iceberg schema)
    from .metadata_json import parse_name_mapping

    _nmap = parse_name_mapping(doc)
    _id2cur = {
        f["id"]: f["name"]
        for s in doc.get("schemas", [])
        if s.get("schema-id") == doc.get("current-schema-id", 0)
        for f in s.get("fields", [])
    }
    phys2cur = {
        n: _id2cur[fid]
        for fid, names in _nmap.items() if fid in _id2cur
        for n in names if n != _id2cur[fid]
    }

    def _resolved_arrow_types(schema_arrow, path):
        out = {}
        for f in schema_arrow:
            nm = phys2cur.get(f.name, f.name)
            if nm in out:
                raise ValueError(
                    f"add_files: columns {f.name!r} and another column "
                    f"of {path} both resolve to table column {nm!r} "
                    "via the name mapping"
                )
            out[nm] = f.type
        return out

    first_types = _resolved_arrow_types(_open(files[0]).schema_arrow,
                                        files[0])
    file_dtypes = {}
    for nm, atype in first_types.items():
        try:
            file_dtypes[nm] = from_arrow_type(atype).simpleString()
        except Exception as e:
            raise ValueError(
                f"add_files: column {nm!r} has arrow type {atype} "
                f"with no Spark mapping ({e}) — rewrite through append()"
            ) from e

    # table shape: existing schema wins; fresh tables record the footer
    # schema (+ any hive partition columns, typed string — their values
    # exist only in the path, same as a hive import)
    transforms = _spec_transforms_from_doc(doc)
    if "schemas" in doc:
        data_cols = [
            f["name"] for s in doc["schemas"]
            if s.get("schema-id") == doc.get("current-schema-id", 0)
            for f in s.get("fields", [])
        ]
        part_fields = {t.field for t in transforms}
        missing = [
            c for c in data_cols
            if c not in file_dtypes and c not in part_fields
        ]
        if missing:
            raise ValueError(
                f"add_files: files lack table columns {missing} "
                f"(first file: {files[0]})"
            )
        dtypes = {
            c: file_dtypes.get(c, "string")
            for c in data_cols if c in file_dtypes
        }
    else:
        from .transforms import parse_partition_by

        pkeys = list(hive_pvals(files[0]))
        dtypes = dict(file_dtypes)
        for k in pkeys:
            dtypes.setdefault(k, "string")
        transforms = parse_partition_by(pkeys) if pkeys else []
        _record_table_shape(doc, dtypes, transforms, frozenset())
    for t in transforms:
        if t.kind != "identity":
            raise ValueError(
                f"add_files cannot derive non-identity partition "
                f"transform {t.iceberg_name!r} from file paths — "
                f"rewrite through append() instead"
            )

    bound_cols = [
        c for c, ty in dtypes.items()
        if ty in BOUNDABLE and c in file_dtypes
    ]

    # every file must carry every table data column the first file
    # established (the docstring's per-file contract — a half-missing
    # column would import as silent nulls), with the SAME type
    part_only = {t.field for t in transforms}
    required = [c for c in dtypes if c in file_dtypes and c not in part_only]

    def footer_stats(p: str):
        pf = _open(p)
        if p != files[0]:
            types_p = _resolved_arrow_types(pf.schema_arrow, p)
            absent = [c for c in required if c not in types_p]
            if absent:
                raise ValueError(
                    f"add_files: {p} lacks table columns {absent} — "
                    "every file must carry every data column"
                )
            for nm, atype in types_p.items():
                ft = first_types.get(nm)
                if ft is not None and ft != atype:
                    raise ValueError(
                        f"add_files: column {nm!r} is {ft} in "
                        f"{files[0]} but {atype} in {p} — mixed-type "
                        f"imports need a rewrite through append()"
                    )
        return _footer_file_stats(pf.metadata, dtypes, bound_cols,
                                  rename=phys2cur or None)

    # manifest entries: footer stats through the same builder as
    # freshly written files
    spec_id = int(doc.get("default-spec-id", 0))
    # partition-only columns live in the path, not the files: string
    # unless the schema types them
    ptypes = (
        {t.field: dtypes.get(t.source, "string") for t in transforms}
        or None
    )
    pfields = _partition_avro_fields(doc, ptypes, spec_id)
    entries = []
    for p in files:
        records, lo, hi, nn = footer_stats(p)
        pvals = None
        if transforms:
            hv = hive_pvals(p, keys=[t.field for t in transforms])
            missing = [t.field for t in transforms if t.field not in hv]
            if missing:
                raise ValueError(
                    f"add_files: {p} lacks hive segments for partition "
                    f"fields {missing}"
                )
            pvals = {t.field: hv[t.field] for t in transforms}
        entries.append({
            "path": p, "record_count": records,
            "file_size_in_bytes": os.path.getsize(p),
            "lower_bounds": lo, "upper_bounds": hi, "null_counts": nn,
            "partition_values": pvals,
        })
    staged = _stage_files_manifest(
        doc, entries, dtypes, snapshot_id, seq, mdir, spec_id, pfields,
        ptypes,
    )
    return _commit_staged(
        table_dir, doc, prev_version, staged, seq, snapshot_id,
        timestamp_ms, base_id, "append",
    )


def _rewrite_manifest_dropping_data(
    manifest_path: str, doomed: set[str], mdir: str, seq: int,
    snapshot_id: int | None = None,
) -> tuple[str, int, int, int, int, int] | None:
    """Rewrite a DATA manifest with the entries whose ``file_path`` is
    in ``doomed`` re-emitted as status=2 TOMBSTONES — the copy-on-write
    half of overwrite_partitions (same raw-record rewrite under the
    manifest's own writer schema as _rewrite_manifest_dropping_dvs, so
    foreign stats/fields survive byte-exact; tombstoned entries get the
    superseding snapshot's id per the spec's deleted-entry rule).
    Returns ``(new_path, live_files, live_rows, dropped_files,
    dropped_rows, dropped_bytes)``, or None when nothing stays live or
    tombstoned (the caller drops the manifest)."""
    import json as _json

    from .avro_py import write_avro_file
    from .manifests import _resolve, read_avro_file

    local = _resolve(os.path.join(mdir, "x"), manifest_path)
    schema, meta, raw = read_avro_file(local)
    kept, dropped_files, dropped_rows, dropped_bytes = [], 0, 0, 0
    for e in raw:
        fp = str((e.get("data_file") or {}).get("file_path") or "")
        if fp.removeprefix("file:") in doomed and e.get("status") != 2:
            t = dict(e, status=2)
            if snapshot_id is not None:
                t["snapshot_id"] = snapshot_id
            kept.append(t)
            dropped_files += 1
            dropped_rows += int(
                (e.get("data_file") or {}).get("record_count") or 0
            )
            dropped_bytes += int(
                (e.get("data_file") or {}).get("file_size_in_bytes") or 0
            )
            continue
        if e.get("status") == 2:
            continue  # prior tombstones belong to their own snapshot
        kept.append(e)
    if not kept:
        return None
    new_path = os.path.join(
        mdir, f"manifest-{seq:05d}-ow-{_uuid.uuid4().hex[:8]}.avro"
    )
    hdr = {
        k: v for k, v in (meta or {}).items() if not k.startswith("avro.")
    }
    write_avro_file(new_path, _json.dumps(schema), kept, meta=hdr)
    live = [e for e in kept if e.get("status") != 2]
    live_rows = sum(
        int((e.get("data_file") or {}).get("record_count") or 0)
        for e in live
    )
    return (new_path, len(live), live_rows,
            dropped_files, dropped_rows, dropped_bytes)


def _staged_manifest_row(staged: dict, seq: int, snapshot_id: int) -> dict:
    """Manifest-list row for a staged data or delete manifest
    (:func:`_stage_files_manifest`). A lineage-materialized stage
    carries the transient ``assigns_row_ids=False`` marker —
    _finalize_commit then excludes the row's added records from the
    next-row-id watermark advance (the rows keep their prior ids) and
    strips the key before the avro write."""
    row: dict = {
        "manifest_path": staged["manifest_path"],
        "manifest_length": os.path.getsize(staged["manifest_path"]),
        "partition_spec_id": staged["spec_id"],
        "content": staged["content"],
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": staged["n_files"],
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": staged["added_records"],
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    if staged.get("lineage_materialized"):
        row["assigns_row_ids"] = False
    return row


def _apply_update_summary(summary: dict, staged: dict) -> None:
    """UPDATE rides a delete commit: flip the operation to Iceberg's
    row-level-update rendering and record the re-appended half."""
    summary["operation"] = "overwrite"
    summary["added-data-files"] = str(staged["n_files"])
    summary["added-records"] = str(staged["added_records"])
    summary["added-files-size"] = str(staged["added_bytes"])
    summary["updated-records"] = str(staged["added_records"])


def _tombstone_partitions_in_rows(
    prior_rows: list[dict],
    incoming: set[tuple],
    pfields: list[str],
    mdir: str,
    seq: int,
    snapshot_id: int,
    fv: int,
    current_spec_id: int | None = None,
) -> tuple[list[dict], int, int, int]:
    """The carry-forward half of a dynamic overwrite, shared by the
    JVM-plane overwrite_partitions and the DataSource write plane
    (commit_py.append_files mode='dynamic-overwrite'): walk the prior
    manifest-list rows, tombstone live data entries whose current-spec
    partition tuple is in ``incoming`` (empty ``pfields`` = doom every
    live data file — full overwrite), carry everything else untouched.
    Returns ``(rows, dropped_files, dropped_rows, dropped_bytes)``."""
    from .manifests import _resolve, decode_manifest, inherited_seq_of

    dropped_files = dropped_rows = dropped_bytes = 0
    out_rows: list[dict] = []
    for r in prior_rows:
        if (r.get("content") or 0) != 0:
            out_rows.append(r)  # delete manifests carry unchanged
            continue
        if (
            pfields
            and current_spec_id is not None
            and int(r.get("partition_spec_id") or 0) != current_spec_id
        ):
            # a manifest under an OLDER partition spec: its files'
            # tuples are in different fields — the documented
            # conservative behavior is to leave them alive
            out_rows.append(r)
            continue
        doomed: set[str] = set()
        for e in decode_manifest(
            _resolve(os.path.join(mdir, "x"), r["manifest_path"]),
            inherited_seq=inherited_seq_of(r, fv),
        ):
            status, _sid, fpath, _fmt, _rec, _sz, fcontent, _seq2, \
                pvals, *_rest = e
            if status == 2 or (fcontent or 0) != 0:
                continue
            if not pfields:
                doomed.add(fpath.removeprefix("file:"))  # full overwrite
                continue
            if pvals is None:
                # spec-only manifests (real Iceberg writers) carry the
                # typed r102 partition record, which decode_manifest
                # does not yet stringify — matching on nothing would
                # SILENTLY leave the old partition rows live beside the
                # replacements; refuse loudly instead
                raise ValueError(
                    f"dynamic overwrite cannot resolve partition values "
                    f"for {fpath} (manifest {r['manifest_path']} carries "
                    "no partition_values map — foreign-written?); "
                    "rewrite through rewrite_data_files first"
                )
            if tuple(
                str(pvals.get(f)) for f in pfields
            ) in incoming:
                doomed.add(fpath.removeprefix("file:"))
        if not doomed:
            out_rows.append(r)
            continue
        rw = _rewrite_manifest_dropping_data(
            r["manifest_path"], doomed, mdir, seq, snapshot_id=snapshot_id
        )
        if rw is None:
            continue
        new_path, live_f, live_r, d_f, d_r, d_b = rw
        dropped_files += d_f
        dropped_rows += d_r
        dropped_bytes += d_b
        out_rows.append(dict(
            r,
            manifest_path=new_path,
            manifest_length=os.path.getsize(new_path),
            added_files_count=0,
            added_rows_count=0,
            existing_files_count=live_f,
            existing_rows_count=live_r,
            deleted_files_count=d_f,
            deleted_rows_count=d_r,
        ))
    return out_rows, dropped_files, dropped_rows, dropped_bytes


def overwrite_partitions(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    extra_summary: dict[str, str] | None = None,
    branch: str | None = None,
) -> dict | None:
    """Dynamic partition overwrite (``INSERT OVERWRITE`` / Iceberg's
    ``overwritePartitions()``): ONE atomic snapshot that adds ``df``'s
    files and tombstones every live data file whose partition tuple
    appears in ``df`` — the recompute-a-day's-partition op every
    training pipeline runs. Copy-on-write: affected prior manifests are
    rewritten with the doomed entries as status=2, everything else is
    carried forward untouched, so time travel to older snapshots still
    sees the replaced rows. An UNPARTITIONED table overwrites fully
    (truncate + insert). An empty ``df`` is a no-op → None (no
    partitions present, nothing to replace — Iceberg likewise).

    Files written under an OLDER partition spec (different fields)
    never match the current-spec tuple comparison and are left alive —
    conservative; rewrite through rewrite_data_files first when
    overwriting across a spec change. The incremental/changelog planes
    treat the resulting ``overwrite`` snapshot as unsafe to cross
    (loud), exactly like Iceberg's incremental append scan."""
    if df.isEmpty():
        return None
    doc, prev_version = _load_doc(table_dir)
    # a branch overwrite replaces partitions of the BRANCH head (same
    # staging semantics as append's branch writes; publish with
    # fast_forward)
    seq, snapshot_id, timestamp_ms, base_id = _commit_ids(
        doc, snapshot_id, timestamp_ms, branch
    )
    staged = _stage_append_manifest(
        spark, table_dir, doc, seq, snapshot_id, df,
    )
    return _commit_staged(
        table_dir, doc, prev_version, staged, seq, snapshot_id,
        timestamp_ms, base_id, "dynamic-overwrite", branch=branch,
        extra_summary=extra_summary,
    )


#: rows per row group in position-delete parquet: the read side pushes
#: a ``file_path IN`` filter whose pruning is row-group-granular, so a
#: delete file spanning many data files must cut groups well below the
#: data files' 1M rows or a task scanning ONE data file decodes every
#: position in the delete file. 10,000 sorted (file_path, pos) rows is
#: about 0.4 MB of parquet — the groups Spark's writer cut at a 1 MiB
#: block size (9-11k rows) — so each group covers a handful of data
#: files and the IN filter skips all but a task's own slice.
_POS_DELETE_ROW_GROUP_ROWS = 10_000


def _delete_partition_plan(doc: dict, dtypes: dict[str, str]) -> list:
    """The spec's partition transforms when every partition-source
    column is in ``dtypes`` (the delete writer can then derive each
    delete row's partition), else ``[]``: the delete stays global,
    which is always correct. Equality deletes qualify when every source
    is among the KEYS — exact key equality implies equal transform
    values, so a key tuple pins its rows to one partition."""
    transforms = _spec_transforms_from_doc(doc)
    if not all(t.source in dtypes for t in transforms):
        return []
    return transforms


def _stage_delete_files(
    spark: SparkSession,
    doc: dict,
    content: int,
    src: DataFrame | None,
    cols: list,
    transforms,
    del_dir: str,
    snapshot_id: int,
    seq: int,
    mdir: str,
) -> dict:
    """Write ``src.select(*cols)`` as delete files and stage their
    delete manifest — the one delete-file writer behind
    ``delete_equality``, ``delete_where``, ``rewrite_position_deletes``
    and ``merge_into``. ``content`` 1 writes position deletes (``cols``
    give ``file_path, pos``; hash-partitioned on ``file_path`` so N
    tasks write — never a single-task funnel), 2 equality deletes on
    ``cols``. Rows sort by ``cols`` within each file, the spec's
    delete-file order. ``src=None`` stages an empty delete manifest (a
    delete whose condition pruned every data file still commits its
    snapshot).

    With ``transforms`` (from :func:`_delete_partition_plan`) each row's
    partition values are derived from ``src``'s columns as
    ``__p_<field>`` twins (the expressions the data writer partitions
    by) and reach ``write_files`` as identity transforms named by the
    spec field: every delete file belongs to exactly ONE partition —
    the spec's partition-scoped delete files, which the partition-stats
    plane attributes by — and the twins, not the key columns, stay out
    of the parquet. Returns :func:`_stage_files_manifest`'s dict."""
    from .transforms import PartitionTransform

    twins = []
    for t in transforms:
        twin = PartitionTransform(f"__p_{t.field}")
        twin.field = t.field
        twins.append(twin)
    files, sdt, kdt = [], {}, {}
    if src is not None:
        sdt = dict(src.dtypes)
        df = src.select(*cols, *[
            t.expr(sdt[t.source]).alias(w.source)
            for t, w in zip(transforms, twins)
        ])
        kdt = dict(df.dtypes[:len(cols)])
        if content == 1:
            df = df.repartition(*[w.source for w in twins], "file_path")
        files = _write_data_files(
            spark, del_dir, df, twins, list(kdt),
            row_group_rows=(
                _POS_DELETE_ROW_GROUP_ROWS if content == 1 else ROW_GROUP_ROWS
            ),
        )
    spec_id = int(doc.get("default-spec-id", 0)) if transforms else 0
    ptypes = _partition_types(transforms, sdt)
    return _stage_files_manifest(
        doc, files, kdt, snapshot_id, seq, mdir, spec_id,
        _partition_avro_fields(doc, ptypes, spec_id) if transforms else [],
        ptypes, content=content,
    )


def delete_equality(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """v2 merge-on-read equality-delete commit: rows matching any tuple
    in ``keys_df`` (by its column names) disappear from reads of data
    files with a STRICTLY LOWER sequence number — a later re-insert of
    the same key survives, per the spec's scan-planning rules that
    manifests.read_data_at_snapshot implements. Writes the keys as an
    equality-delete parquet, a content=1 delete manifest whose entry is
    a content=2 delete file at the new sequence number, and the bumped
    metadata.json."""
    import time

    doc, prev_version = _load_doc(table_dir)
    if doc.get("current-snapshot-id") is None:
        raise ValueError("cannot delete from a table with no current snapshot")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    mdir = os.path.join(table_dir, "metadata")

    # distributed write, natural partitioning (keys frames are usually
    # small; when they're not, the tasks that produced them write in
    # parallel — no coalesce(1) single-task funnel); partition-scoped
    # when the keys cover the spec's source columns
    transforms = _delete_partition_plan(doc, dict(keys_df.dtypes))
    staged = _stage_delete_files(
        spark, doc, 2, keys_df, keys_df.columns, transforms,
        os.path.join(table_dir, "data", f"seq-{seq:05d}-deletes"),
        snapshot_id, seq, mdir,
    )
    n_files = staged["n_files"]
    return _finalize_commit(
        table_dir, doc, prev_version,
        _carry_forward_rows(mdir, doc)
        + [_staged_manifest_row(staged, seq, snapshot_id)],
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            {
                "operation": "delete",
                "equality-delete-files": str(n_files),
                "added-delete-records": str(staged["added_records"]),
            },
            doc, doc.get("current-snapshot-id"),
            0, staged["added_bytes"], n_files,
        ),
    )


def set_current_snapshot(table_dir: str, snapshot_id: int) -> str:
    """Metadata-only commit flipping current-snapshot-id (the executable
    form of rollback_to_snapshot when aimed at an ancestor). Appends a
    snapshot-log entry, per the spec: the log records every change of
    the current snapshot."""
    import time

    doc, prev_version = _load_doc(table_dir)
    ids = {s["snapshot-id"] for s in doc.get("snapshots", [])}
    if snapshot_id not in ids:
        raise ValueError(f"snapshot {snapshot_id} not in table (have {sorted(ids)})")
    doc = dict(doc)
    doc["current-snapshot-id"] = snapshot_id
    doc["snapshot-log"] = doc.get("snapshot-log", []) + [
        {"timestamp-ms": int(time.time() * 1000), "snapshot-id": snapshot_id}
    ]
    return _commit_doc(table_dir, doc, prev_version)


rollback_to_snapshot = set_current_snapshot


def expire_snapshots(table_dir: str, older_than_ms: int, retain_last: int = 1) -> list[int]:
    """Real commit of the ops/analysis.py dry run: drop snapshot entries
    older than ``older_than_ms`` while retaining the newest
    ``retain_last``, the current snapshot, and every snapshot pinned by
    a named ref — a tag's whole point is surviving retention, and
    expiring a branch head would orphan the branch (Iceberg's
    expire_snapshots protects refs the same way). Returns expired ids.
    (File deletion is a separate orphan sweep, as in Iceberg itself.)"""
    doc, prev_version = _load_doc(table_dir)
    snaps = sorted(doc.get("snapshots", []), key=lambda s: int(s["timestamp-ms"]))
    keep_ids = {s["snapshot-id"] for s in snaps[-retain_last:]} if retain_last else set()
    if doc.get("current-snapshot-id") is not None:
        keep_ids.add(doc["current-snapshot-id"])
    # Branch refs protect their branch-only ancestry, not just the head:
    # expiring an intermediate branch-only snapshot would orphan the
    # branch history (fast_forward's ancestry walk hits a missing id and
    # wrongly reports "diverged"; read_changelog over the branch breaks).
    # The walk stops where the branch rejoins the main line — shared
    # ancestors stay governed by the normal retention rules, so tagging
    # or branching the head never turns expiration into a no-op. Tags
    # pin only their own snapshot, as in Iceberg.
    from .lineage import ancestor_ids, main_line_ids

    main_line = main_line_ids(doc)
    for ref in doc.get("refs", {}).values():
        keep_ids.add(int(ref["snapshot-id"]))
        if ref.get("type") != "branch":
            continue
        keep_ids |= ancestor_ids(doc, int(ref["snapshot-id"]), stop_at=main_line)
    kept, expired = [], []
    for s in snaps:
        if int(s["timestamp-ms"]) < older_than_ms and s["snapshot-id"] not in keep_ids:
            expired.append(s["snapshot-id"])
        else:
            kept.append(s)
    if not expired:
        return []
    doc = dict(doc)
    doc["snapshots"] = kept
    gone = set(expired)
    if "snapshot-log" in doc:
        # spec: expired snapshots must drop out of the snapshot log
        doc["snapshot-log"] = [
            e for e in doc["snapshot-log"] if e.get("snapshot-id") not in gone
        ]
    dropped_stats = []
    if doc.get("statistics"):
        # spec: statistics files are bound to snapshots — an expired
        # snapshot's Puffin entry drops too
        dropped_stats = [
            e for e in doc["statistics"] if e.get("snapshot-id") in gone
        ]
        doc["statistics"] = [
            e for e in doc["statistics"] if e.get("snapshot-id") not in gone
        ]
    if doc.get("partition-statistics"):
        # partition-statistics files are snapshot-bound the same way
        dropped_stats += [
            e for e in doc["partition-statistics"]
            if e.get("snapshot-id") in gone
        ]
        doc["partition-statistics"] = [
            e for e in doc["partition-statistics"]
            if e.get("snapshot-id") not in gone
        ]
    _commit_doc(table_dir, doc, prev_version)
    # Puffin sidecars live under metadata/ where the orphan sweep (which
    # lists data_dir *.parquet) never looks, so delete them here — they
    # are engine-owned and referenced ONLY by the entries just dropped
    # (Iceberg's expireSnapshots cleans statistics files the same way).
    for e in dropped_stats:
        p = e.get("statistics-path")
        if p and os.path.exists(p):
            try:
                os.remove(p)
            except OSError:
                pass  # best-effort: a stale entry must not fail expiry
    return expired


def rewrite_data_files(
    spark: SparkSession,
    table_dir: str,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Compaction commit — the executable no-jar form of the reference's
    ``rewrite_data_files`` recommendation (analytics.rs:442-507 CALL
    generator): read the current snapshot's live rows through our own
    sequence-scoped MOR time travel, rewrite them as size-targeted
    parquet, and commit a REPLACE snapshot whose manifest list carries
    ONLY the new data manifest. Prior data and delete manifests drop out
    of the live view (their deletes are baked into the rewritten files)
    but stay on disk, so time travel to older snapshots is unaffected;
    the obsolete files become reclaimable by the orphan/expiry sweep,
    exactly Iceberg's own lifecycle. Returns the new snapshot dict.

    ``sort_by`` is Iceberg's 'sort' rewrite strategy (range-partition +
    sort within partitions, contiguous key ranges per output file);
    ``zorder_by`` is the 'zorder' strategy via operators/layout.py
    (Morton-interleaved key, every file a compact multi-dimensional
    tile with tight min/max stats on all keyed columns).

    Scale: the rewrite itself is one distributed read→repartition→write;
    the planning-plane file list (count + byte sizes) is decoded
    driver-side from the manifests, bounded by files-per-snapshot like
    any engine's planner, and starts no Spark job."""
    import math
    import time

    from .manifests import live_data_file_dicts, read_data_at_snapshot

    doc, prev_version = _load_doc(table_dir)
    if doc.get("current-snapshot-id") is None:
        raise ValueError("cannot rewrite a table with no current snapshot")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    mdir = os.path.join(table_dir, "metadata")

    current = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    old_files = live_data_file_dicts(
        current["manifest-list"].removeprefix("file:"),
        doc.get("format-version", 2),
    )
    total_bytes = sum(int(f["size"] or 0) for f in old_files.values())
    n_out = max(1, math.ceil(total_bytes / target_file_size_bytes))

    if sort_by and zorder_by:
        raise ValueError("pass at most one of sort_by / zorder_by")
    doc_spec = None
    if not sort_by and not zorder_by:
        # no explicit strategy: follow the table's recorded sort order —
        # with its declared transform/direction/null-order, so
        # compacted files are truly in the order sort_order_id names
        doc_spec = _sort_spec_from_doc(doc) or None
        sort_by = [s[0] for s in doc_spec or []] or None
    # v3 row lineage: compaction must PRESERVE row ids (spec) — read
    # with lineage and write _row_id / _last_updated_sequence_number as
    # MATERIALIZED columns in the rewritten parquet; rewritten entries
    # carry first_row_id=null and lineage reads coalesce to the columns
    fv3_lineage = (
        int(doc.get("format-version", 2)) >= 3
        and doc.get("next-row-id") is not None
    )
    live = read_data_at_snapshot(
        spark, current_metadata_path(table_dir), row_lineage=fv3_lineage
    )
    data_dir = os.path.join(table_dir, "data", f"seq-{seq:05d}-rewrite")
    if zorder_by:
        from ..operators.layout import zorder_sort

        live = zorder_sort(live, zorder_by, n_partitions=n_out).drop("zkey")
    elif sort_by:
        keys = (
            _sort_exprs(doc_spec, dict(live.dtypes)) if doc_spec
            else sort_by
        )
        live = live.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
    else:
        live = live.repartition(n_out)
    # compacted files get fresh column stats from the writer, which is
    # where sort/zorder strategies pay off (tight disjoint ranges →
    # skip_filter reads touch one file). The rewrite is unpartitioned
    # (spec 0) and its rows keep their lineage (no new row ids).
    staged = _stage_files_manifest(
        doc, _write_data_files(spark, data_dir, live, []),
        dict(live.dtypes), snapshot_id, seq, mdir, 0, [], None,
        assign_row_ids=False,
    )
    return _finalize_commit(
        table_dir, doc, prev_version,
        [_staged_manifest_row(staged, seq, snapshot_id)],  # REPLACE: no carry-forward
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            {
                "operation": "replace",
                "rewritten-data-files": str(len(old_files)),
                "added-data-files": str(staged["n_files"]),
                "total-records": str(staged["added_records"]),
                "added-files-size": str(staged["added_bytes"]),
            },
            doc, None,
            staged["n_files"], staged["added_bytes"], 0,
            reset=True,
        ),
    )


def _conjunct_skip_filters(condition) -> list[tuple]:
    """Best-effort ``(col, op, value)`` conjuncts extracted from a SQL
    condition string, for manifest-bounds candidate pruning. STRICTLY
    conservative: OR / NOT / parenthesized / non-literal clauses (and
    Column conditions) contribute no pruning — a missed conjunct only
    means more files scanned, never missing rows."""
    import re

    if not isinstance(condition, str):
        return []
    if re.search(r"(?i)\bor\b|\bnot\b", condition):
        return []

    def lit_of(lit):
        lit = lit.strip()
        if len(lit) >= 2 and lit[0] == "'" and lit[-1] == "'":
            # SQL-unescape doubled quotes ('O''Brien' → O'Brien) so the
            # literal matches the bound-string rendering
            return lit[1:-1].replace("''", "'")
        try:
            return float(lit)
        except ValueError:
            return None  # DATE'…'/expressions: no pruning

    out = []
    for clause in re.split(r"(?i)\band\b", condition):
        m = re.fullmatch(
            r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*(=|>=|<=|>|<)\s*([^()]+?)\s*",
            clause,
        )
        if m:
            col, op, lit = m.groups()
            v = lit_of(lit)
            if v is not None:
                out.append((col, op, v))
            continue
        # col IN ('a', 'b', 3): prune when NO listed value can live in
        # a file's bounds. Any unparseable element disables this
        # clause's pruning entirely (a missed value must not prune).
        m = re.fullmatch(
            r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+(?i:in)\s*\(([^()]*)\)\s*",
            clause,
        )
        if m:
            col, body = m.groups()
            vals = [
                lit_of(x)
                for x in re.findall(r"'(?:[^']|'')*'|[^,]+", body)
                if x.strip()
            ]
            if vals and all(v is not None for v in vals):
                out.append((col, "in", tuple(vals)))
        # other clause shapes (parenthesized groups split apart by the
        # AND split, function calls): contribute no pruning
    return out


def update_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    set_exprs: dict,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    branch: str | None = None,
) -> dict | None:
    """``UPDATE … SET … WHERE`` as ONE merge-on-read snapshot — the
    last of the row-level DML quartet (DELETE / MERGE / INSERT
    OVERWRITE / UPDATE): the matched rows' positions commit as
    position deletes (v2) or deletion vectors (v3) AND the same rows,
    with ``set_exprs`` applied (``{col: sql-string-or-Column}``),
    re-append as new data files in the same commit — atomic, no data
    file rewritten. The matched frame is the LIVE merge-on-read view
    (prior deletes/DVs applied, read with row coordinates), so rows an
    earlier DELETE removed never resurrect and repeated UPDATEs never
    duplicate. Position-scoped deletes reference only the OLD files by
    path, so the commit's own new files are untouched (the property
    Iceberg's MOR UPDATE rests on). SET expressions cast to the
    column's current type (Iceberg semantics); unknown SET columns
    raise. Updating a partition source column moves rows between
    partitions naturally (the re-append writes through the spec).
    Matching zero rows is a no-op → None. Snapshot operation records
    ``overwrite``, Iceberg's choice for row-level updates.

    On a v3 row-lineage table the update PRESERVES lineage (spec
    row-lineage rule): updated rows keep their ``_row_id`` — written as
    MATERIALIZED columns in the re-appended parquet with
    ``first_row_id=null`` manifest entries, exactly how compaction
    preserves ids — and ``_last_updated_sequence_number`` becomes this
    commit's sequence. The ``next-row-id`` watermark does not advance
    (no new ids are assigned), and ``read_changelog(...,
    compute_updates=True)`` renders the commit as
    UPDATE_BEFORE/UPDATE_AFTER pairs on the same ``_row_id``. Rows
    whose ``_row_id`` was null (files written before the v3 upgrade —
    nothing is assigned retroactively) stay null, matching the
    compaction posture.

    Variant columns round-trip through re-encoding (JSON read-back →
    unshredded variant pair); geometry/geography columns round-trip
    the same way (WKT read-back → ISO WKB via ``geo.wkt_to_wkb``), and
    a SET may assign a WKT literal to a geo column directly.

    ``branch`` stages the update on that branch (WAP): it bases on the
    branch head, moves only the branch ref, and main readers see
    nothing until ``fast_forward`` publishes."""
    return delete_where(
        spark, table_dir, condition,
        snapshot_id=snapshot_id, timestamp_ms=timestamp_ms,
        update_set=set_exprs,
        branch=branch,
    )


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    update_set: dict | None = None,
    branch: str | None = None,
) -> dict | None:
    """v2 merge-on-read position-delete commit — ``DELETE WHERE`` without
    rewriting data files: prune candidate data files against the
    condition's conjuncts using the manifest bounds (the same
    ``_file_may_match`` machinery the read planes skip with — a bounded
    DELETE on a 100 TB table scans only files whose min/max can match),
    scan the survivors with their ``_metadata`` coordinates, evaluate
    ``condition`` (SQL string or Column), and commit the matching
    (file_path, pos) pairs as position-delete parquet files behind a
    content=1 delete manifest at the next sequence number. The
    sequence-scoped read side (manifests.read_data_at_snapshot) then
    drops those positions from data files with sequence <= the delete's,
    while files appended later are untouched.

    Scale: candidate planning is pure Python over the manifests (no
    Spark collect); the scan+filter is fully distributed; the delete
    files are written by N tasks hash-partitioned on ``file_path`` and
    sorted (file_path, pos) within each per the spec's position-delete
    ordering — never a single-task funnel.

    On a format-version ≥ 3 table the matched positions commit as
    deletion vectors instead; a v3 delete matching ZERO rows no-ops and
    returns None (Iceberg's empty-delete rule — no empty snapshot)."""
    import time

    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from .manifests import (
        _file_may_match,
        _read_files_with_partitions,
        evolved_read_plan,
        live_data_file_dicts,
    )

    doc, prev_version = _load_doc(table_dir)
    # branch-scoped DML (WAP): base on the BRANCH head; the commit
    # moves the branch ref — main readers see nothing until
    # fast_forward publishes (same contract as append's and
    # overwrite_partitions' branch writes). A missing ref bases on
    # current and the commit creates the branch.
    base_id = doc.get("current-snapshot-id")
    if branch is not None:
        ref = doc.get("refs", {}).get(branch)
        if ref is not None:
            if ref.get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag, not a branch")
            base_id = int(ref["snapshot-id"])
    if base_id is None:
        raise ValueError("cannot delete from a table with no current snapshot")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    mdir = os.path.join(table_dir, "metadata")

    current = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == base_id
    )
    candidates = list(
        live_data_file_dicts(
            current["manifest-list"].removeprefix("file:"),
            doc.get("format-version", 2),
        ).values()
    )
    # evolved tables delete under the CURRENT schema; the alias history
    # also feeds bounds pruning so a condition on a renamed column still
    # consults pre-rename files' bounds (recorded under the old name)
    ev_cols, ev_aliases = evolved_read_plan(doc, doc.get("current-schema-id"))
    for sf in _conjunct_skip_filters(condition):
        candidates = [f for f in candidates if _file_may_match(f, sf, ev_aliases)]
    cond = F.expr(condition) if isinstance(condition, str) else condition
    assert isinstance(cond, Column)
    coords = [
        F.col("_fp").alias("file_path"),
        F.col("_pos").cast("long").alias("pos"),
    ]
    matched = None
    part_transforms: list = []
    if candidates:
        # partition-aware scan (hive-layout files carry identity
        # partition columns only in metadata — reattach so conditions on
        # them evaluate) with _fp/_pos row coordinates; evolved tables
        # scan under the current schema (renames/widens resolve)
        scan = _read_files_with_partitions(
            spark, candidates, "fp_pos",
            schema_cols=ev_cols, aliases=ev_aliases,
        )
        matched = scan.filter(cond)
        # v2 partitioned tables: every delete file belongs to exactly
        # ONE partition, derived from the matched rows (identity
        # columns ride the scan; transforms recompute from sources)
        if int(doc.get("format-version", 2)) < 3:
            part_transforms = _delete_partition_plan(doc, dict(scan.dtypes))
    # UPDATE: stage the matched rows, set-exprs applied, as new data
    # files in the SAME commit (position-scoped deletes reference only
    # the OLD files by path, so the staged files are untouched)
    staged_update = None
    persisted = None
    if update_set is not None:
        if matched is None:
            return None  # no candidate files → nothing matched
        # variant columns read back as canonical JSON strings — the
        # write path re-encodes those (variant_cols below), so UPDATE
        # round-trips them (re-appended unshredded; shredding is a
        # per-file physical layout). Geo columns read back as WKT and
        # re-encode to WKB below (geo.wkt_to_wkb).
        _cur_fields = [
            f
            for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id", 0)
            for f in s.get("fields", [])
            if isinstance(f.get("type"), str)
        ]
        _geo = [
            f["name"] for f in _cur_fields
            if f["type"].split("(")[0] in ("geometry", "geography")
        ]
        _variant_cols = [
            f["name"] for f in _cur_fields if f["type"] == "variant"
        ]
        # scan the LIVE MOR view (prior position/equality deletes and
        # DVs applied) WITH row coordinates: a row an earlier delete
        # removed must neither resurrect through the re-append nor
        # re-tombstone, and a repeated UPDATE must not duplicate rows.
        # Bounds pruning rides the first parseable conjunct.
        from .manifests import read_data_at_snapshot

        # v3 row lineage: UPDATE PRESERVES _row_id (spec row-lineage
        # rule — an engine that tracks lineage carries ids through
        # row-level updates) and stamps _last_updated_sequence_number
        # with THIS commit's sequence. The re-append writes both as
        # materialized columns; CDC then sees an update, not a
        # delete+insert of an unrelated row.
        fv3_lineage = (
            int(doc.get("format-version", 2)) >= 3
            and doc.get("next-row-id") is not None
        )
        sfs = _conjunct_skip_filters(condition)
        # no explicit snapshot id on the main branch: an explicit id
        # scans under the snapshot's RECORDED schema, but UPDATE
        # evaluates under the CURRENT schema (metadata-only evolution
        # bumps current-schema-id without a snapshot). Branch DML
        # passes the branch head explicitly.
        live = read_data_at_snapshot(
            spark, current_metadata_path(table_dir),
            snapshot_id=base_id if branch is not None else None,
            skip_filter=sfs[0] if sfs else None,
            keep_row_coords=True,
            row_lineage=fv3_lineage,
        )
        _reserved = (
            "_fp", "_pos", "_row_id", "_last_updated_sequence_number",
        )
        data_cols = [c for c in live.columns if c not in _reserved]
        unknown = [k for k in update_set if k not in data_cols]
        if unknown:
            raise ValueError(
                f"UPDATE SET targets unknown columns {unknown} "
                f"(table columns: {data_cols})"
            )
        persisted = live.filter(cond).persist()
        if persisted.limit(1).count() == 0:
            persisted.unpersist()
            return None  # UPDATE matching nothing: no empty snapshot
        upd = persisted.drop("_fp", "_pos")
        udt = dict(upd.dtypes)
        for k, v in update_set.items():
            # cast to the column's CURRENT type (Iceberg casts SET
            # expressions to the column type) — a silent physical type
            # flip would leave the table unreadable under its schema
            expr = F.expr(v) if isinstance(v, str) else v
            upd = upd.withColumn(k, expr.cast(udt[k]))
        # geo columns read back as WKT strings — re-encode to WKB so
        # the re-appended parquet carries the spec's binary form (the
        # same posture as the variant re-encode below; a SET can even
        # assign a WKT literal and it lands as WKB). Arrow-batched
        # kernel; malformed WKT raises loudly in the task.
        if _geo:
            from pyspark.sql.functions import pandas_udf

            from ..session import _ship_package

            _ship_package(spark)

            @pandas_udf("binary")
            def _wkb(s):
                import pandas as pd

                from hielo_spark.metadata.geo import wkt_to_wkb

                return pd.Series(
                    [wkt_to_wkb(v) for v in s], dtype="object"
                )

            for c in _geo:
                if c in upd.columns:
                    upd = upd.withColumn(c, _wkb(F.col(c)))
        if fv3_lineage:
            # keep each row's _row_id (rides from the lineage read),
            # bump its last-updated sequence to THIS commit's
            upd = upd.withColumn(
                "_last_updated_sequence_number",
                F.lit(seq).cast("long"),
            )
        staged_update = _stage_append_manifest(
            spark, table_dir, doc, seq, snapshot_id, upd,
            variant_cols=[c for c in _variant_cols if c in upd.columns]
            or None,
            lineage_materialized=fv3_lineage,
        )
        matched = persisted  # tombstone exactly the LIVE matched rows
    if int(doc.get("format-version", 2)) >= 3:
        # v3 forbids position-delete files: deletes commit as deletion
        # vectors (one roaring bitmap per touched data file)
        res = _commit_deletion_vectors(
            spark, table_dir, doc, prev_version,
            None if matched is None else matched.select(*coords),
            seq, snapshot_id, timestamp_ms, mdir, current,
            staged_update=staged_update,
            branch=branch,
        )
        if persisted is not None:
            persisted.unpersist()
        return res
    staged = _stage_delete_files(
        spark, doc, 1, matched, coords, part_transforms,
        os.path.join(table_dir, "data", f"seq-{seq:05d}-posdeletes"),
        snapshot_id, seq, mdir,
    )
    n_files = staged["n_files"]
    rows = [_staged_manifest_row(staged, seq, snapshot_id)]
    summary = {
        "operation": "delete",
        "position-delete-files": str(n_files),
        "added-delete-records": str(staged["added_records"]),
    }
    d_files, d_bytes = 0, staged["added_bytes"]
    if staged_update is not None:
        rows.append(_staged_manifest_row(staged_update, seq,
                                         snapshot_id))
        _apply_update_summary(summary, staged_update)
        d_files += staged_update["n_files"]
        d_bytes += staged_update["added_bytes"]
    prior_rows = _carry_forward_rows(mdir, doc, base_id)
    res = _finalize_commit(
        table_dir, doc, prev_version, prior_rows + rows,
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            summary,
            doc, base_id,
            d_files, d_bytes, n_files,
        ),
        branch=branch,
        parent_id=base_id,
    )
    if persisted is not None:
        persisted.unpersist()
    return res


def _live_dv_entries(mlist: str, fv: int) -> list[dict]:
    """Live v3 deletion-vector entries of a snapshot: one dict per DV
    with the Puffin path, blob region, referenced data file, sequence
    number, and OWNING manifest path (supersession rewrites need it).
    Pure-Python planning — no Spark hops."""
    from .manifests import (
        _resolve,
        decode_manifest,
        inherited_seq_of,
        read_avro_file,
    )

    _, _, mlist_rows = read_avro_file(mlist)
    out = []
    for m in mlist_rows:
        if (m.get("content") or 0) != 1:
            continue
        for e in decode_manifest(
            _resolve(mlist, m["manifest_path"]),
            inherited_seq=inherited_seq_of(m, fv),
        ):
            status, fpath, records, seq, dv = e[0], e[2], e[4], e[7], e[15]
            if status == 2 or dv is None:
                continue
            out.append(
                {
                    "puffin": fpath.removeprefix("file:"),
                    "seq": seq,
                    "dv": dv,
                    "records": int(records or 0),  # DV cardinality
                    "manifest": m["manifest_path"],
                }
            )
    return out


def _rewrite_manifest_dropping_dvs(
    manifest_path: str, refs: set[str], mdir: str, seq: int,
    snapshot_id: int | None = None,
) -> tuple[str, int, int, int, int] | None:
    """Rewrite a delete manifest with the DV entries referencing
    ``refs`` re-emitted as status=2 TOMBSTONES (data files that just
    got a replacement DV — the spec allows at most one DV per data
    file, so the previous one must leave the live set, and the removal
    must stay OBSERVABLE to metadata/incremental consumers). Raw-record
    rewrite under the manifest's own writer schema, so foreign
    stats/fields survive byte-exact; tombstoned entries get the
    superseding snapshot's id, per the spec's deleted-entry rule.
    Returns ``(new_path, live_files, live_rows, dropped_files,
    dropped_rows)``, or None when nothing stays live OR tombstoned
    (the caller drops the manifest from the carry-forward)."""
    import json as _json

    from .avro_py import write_avro_file
    from .manifests import _resolve, read_avro_file

    local = _resolve(os.path.join(mdir, "x"), manifest_path)
    schema, meta, raw = read_avro_file(local)
    kept, dropped_files, dropped_rows = [], 0, 0
    for e in raw:
        ref = (e.get("data_file") or {}).get("referenced_data_file")
        if (
            ref is not None
            and str(ref).removeprefix("file:") in refs
            and e.get("status") != 2
        ):
            t = dict(e, status=2)
            if snapshot_id is not None:
                t["snapshot_id"] = snapshot_id
            kept.append(t)
            dropped_files += 1
            dropped_rows += int(
                (e.get("data_file") or {}).get("record_count") or 0
            )
            continue
        # prior tombstones are NOT carried again — the spec keeps a
        # deleted entry only in the snapshot that deleted it
        if e.get("status") == 2:
            continue
        kept.append(e)
    if not kept:
        return None
    new_path = os.path.join(
        mdir, f"delete-manifest-{seq:05d}-rw-{_uuid.uuid4().hex[:8]}.avro"
    )
    hdr = {
        k: v for k, v in (meta or {}).items() if not k.startswith("avro.")
    }
    write_avro_file(new_path, _json.dumps(schema), kept, meta=hdr)
    live = [e for e in kept if e.get("status") != 2]
    live_rows = sum(
        int((e.get("data_file") or {}).get("record_count") or 0)
        for e in live
    )
    return new_path, len(live), live_rows, dropped_files, dropped_rows


def _commit_deletion_vectors(
    spark: SparkSession,
    table_dir: str,
    doc: dict,
    prev_version: int,
    positions,
    seq: int,
    snapshot_id: int,
    timestamp_ms: int,
    mdir: str,
    current: dict,
    staged_update: dict | None = None,
    branch: str | None = None,
) -> dict:
    """DELETE WHERE on a format-version ≥ 3 table: commit the matched
    row positions as DELETION VECTORS — one ``deletion-vector-v1``
    Puffin blob (portable 64-bit roaring bitmap) per touched data file
    — instead of position-delete parquet, per the Iceberg v3 spec's
    row-level-delete rules. A data file has at most ONE DV: each new
    vector is the union of the new positions with the file's previous
    DV, and the superseded entries are dropped from the carried-forward
    delete manifests (raw-record rewrite).

    Scale: bitmap construction is one ``applyInPandas`` group per
    touched file (the previous DV's bytes ride in via a broadcast
    join); the driver collects one serialized bitmap per file — bounded
    by candidate-file count × compressed bitmap size (≤ 8 KiB per 64 Ki
    rows), never by row count. Reads then fetch ONE blob region per
    scanned file instead of joining a growing pile of delete parquet —
    the v3 design's point at 100 TB."""
    entries, puffin_size, total_cardinality, replaced, old_dvs = (
        _build_dv_entries(
            spark, table_dir, doc, mdir, current, positions, seq,
            snapshot_id,
        )
    )
    if not entries and not replaced:
        # Iceberg no-ops a DELETE matching zero rows (candidates pruned
        # or filter matched nothing) — don't commit an empty snapshot
        return None
    # NET the summary totals: a replacement DV supersedes the prior one,
    # so live delete-file count/bytes must not grow monotonically on a
    # table whose live delete set is constant (blob sizes are the live
    # accounting; superseded container bytes await the orphan sweep)
    replaced_bytes = sum(old_dvs[r]["dv"]["size"] for r in replaced)
    replaced_records = sum(old_dvs[r]["records"] for r in replaced)

    manifest_path = os.path.join(
        mdir, f"delete-manifest-{seq:05d}-{_uuid.uuid4().hex[:8]}.avro"
    )
    write_avro(
        spark, manifest_path, MANIFEST_ENTRY_SCHEMA_V2, entries,
        meta=_manifest_header_meta(doc, 0, "deletes"),
    )

    base_id = int(current["snapshot-id"])  # branch head under branch DML
    prior_rows = _supersede_dv_rows(
        _carry_forward_rows(mdir, doc, base_id), replaced,
        old_dvs, mdir, seq, snapshot_id=snapshot_id,
    )

    new_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": total_cardinality,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    rows = [new_row]
    summary = {
        "operation": "delete",
        "added-dvs": str(len(entries)),
        "replaced-dvs": str(len(replaced)),
        # NEW positions only (merged-union minus the replaced
        # DVs' prior cardinality): re-deleting nothing new adds 0
        "added-delete-records": str(
            total_cardinality - replaced_records
        ),
    }
    d_files = 0
    if staged_update is not None:
        # UPDATE on a v3 table: the staged data manifest rides the
        # same commit; the DVs above reference only the OLD files
        rows.append(_staged_manifest_row(staged_update, seq,
                                         snapshot_id))
        _apply_update_summary(summary, staged_update)
        d_files = staged_update["n_files"]
    return _finalize_commit(
        table_dir, doc, prev_version, prior_rows + rows,
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            summary,
            doc, base_id,
            d_files,
            puffin_size - replaced_bytes
            + (staged_update or {}).get("added_bytes", 0),
            len(entries) - len(replaced),
        ),
        branch=branch,
        parent_id=base_id,
    )


def _build_dv_entries(
    spark: SparkSession,
    table_dir: str,
    doc: dict,
    mdir: str,
    current: dict,
    positions,
    seq: int,
    snapshot_id: int,
) -> tuple[list[dict], int, int, set[str], dict[str, dict]]:
    """Shared DV-write machinery (delete_where's v3 path AND the v3
    merge): turn a distributed ``(file_path, pos)`` frame into ONE new
    Puffin container of merged deletion vectors, returning the
    manifest ENTRIES for it plus what supersession needs —
    ``(entries, puffin_size, total_cardinality, replaced_refs,
    old_dvs)``. ``old_dvs[ref]["records"]`` carries each replaced DV's
    prior cardinality so callers can net the snapshot-summary totals."""
    from pyspark.sql import functions as F

    from .manifests import _resolve

    fv = int(doc.get("format-version", 2))
    # MAX-seq DV per referenced file (ascending sort → later overrides)
    old_dvs: dict[str, dict] = {}
    for d in sorted(
        _live_dv_entries(
            _resolve(
                os.path.join(mdir, "x"),
                current["manifest-list"].removeprefix("file:"),
            ),
            fv,
        ),
        key=lambda d: d["seq"] or 0,
    ):
        old_dvs[d["dv"]["referenced"].removeprefix("file:")] = d

    rows = []
    if positions is not None:
        # the bitmap kernel unpickles on workers via `import
        # hielo_spark` — ship the package zip so the commit API works
        # from any working directory (same contract as the DataSource)
        from ..session import _ship_package

        _ship_package(spark)
        # fetch prior DVs ONLY for the files this delete touches — the
        # touched set is planning-plane small (bounded by candidate
        # files), while the table's live-DV population is not
        touched = {
            r.file_path
            for r in positions.select("file_path").distinct().collect()
        }
        old_rows = []
        for ref in sorted(touched & set(old_dvs)):
            d = old_dvs[ref]
            with open(d["puffin"], "rb") as fh:
                fh.seek(d["dv"]["offset"])
                old_rows.append((ref, bytearray(fh.read(d["dv"]["size"]))))
        if old_rows:
            old_df = local_frame(
                spark, old_rows, "file_path string, _old binary"
            )
            pos2 = positions.join(F.broadcast(old_df), "file_path", "left")
        else:
            pos2 = positions.withColumn(
                "_old", F.lit(None).cast("binary")
            )

        def _build(pdf):
            import numpy as np
            import pandas as pd

            from hielo_spark.metadata.puffin import (
                decode_dv_payload,
                dv_payload,
            )

            fp = pdf["file_path"].iloc[0]
            pos = np.unique(
                pdf["pos"].to_numpy(dtype="int64").astype("uint64")
            )
            old = pdf["_old"].iloc[0]
            if old is not None and not (
                isinstance(old, float) and np.isnan(old)
            ):
                pos = np.union1d(pos, decode_dv_payload(bytes(old)))
            return pd.DataFrame(
                {
                    "file_path": [fp],
                    "dv": [dv_payload(pos)],
                    "cardinality": [int(len(pos))],
                }
            )

        rows_df = pos2.groupBy("file_path").applyInPandas(
            _build, "file_path string, dv binary, cardinality long"
        )
        if len(touched) <= _DV_DRIVER_CONTAINER_MAX:
            # few touched files: collect the (bounded-per-blob) bitmaps
            # and write ONE container driver-side — skips a second
            # Python-worker stage
            collected = rows_df.collect()
            coords = _write_dv_container_driver(
                collected, table_dir, seq, snapshot_id,
            )
        else:
            # many touched files: per-TASK Puffin containers, the v2
            # distributed delete-parts shape — each task writes one
            # container holding its batch of DVs and the driver
            # collects only (file_path, container, offset, length,
            # cardinality, container_size) coordinate rows, never
            # blob bytes. Container count targets ~128 blobs each.
            import math

            dv_dir = os.path.join(table_dir, "data")
            os.makedirs(dv_dir, exist_ok=True)
            prefix = f"seq-{seq:05d}-dvs"
            snap_id, seq_v = snapshot_id, seq

            def _write_container(batches):
                import os as _os
                import uuid as _u

                import pandas as pd

                from hielo_spark.metadata.puffin import (
                    DV_BLOB_TYPE as _BT,
                )
                from hielo_spark.metadata.puffin import (
                    write_puffin as _wp,
                )

                acc = []
                for pdf in batches:
                    acc.extend(
                        (fp, bytes(dv), int(card))
                        for fp, dv, card in zip(
                            pdf["file_path"], pdf["dv"],
                            pdf["cardinality"],
                        )
                    )
                if not acc:
                    return
                acc.sort(key=lambda r: r[0])
                path = _os.path.join(
                    dv_dir, f"{prefix}-{_u.uuid4().hex[:8]}.puffin"
                )
                blobs = [
                    {
                        "type": _BT,
                        "fields": [],
                        "snapshot-id": snap_id,
                        "sequence-number": seq_v,
                        "payload": dv,
                        "properties": {
                            "referenced-data-file": fp,
                            "cardinality": str(card),
                        },
                    }
                    for fp, dv, card in acc
                ]
                _fs, _ft, metas = _wp(
                    path, blobs, {"created-by": "hielo_spark"}
                )
                fsize = _os.path.getsize(path)
                yield pd.DataFrame(
                    {
                        "file_path": [r[0] for r in acc],
                        "puffin": path,
                        "offset": [int(m["offset"]) for m in metas],
                        "length": [int(m["length"]) for m in metas],
                        "cardinality": [r[2] for r in acc],
                        "fsize": fsize,
                    }
                )

            n_containers = max(1, math.ceil(len(touched) / 128))
            coords = [
                (r.file_path, r.puffin, r.offset, r.length,
                 r.cardinality, r.fsize)
                for r in rows_df.repartition(n_containers)
                .mapInPandas(
                    _write_container,
                    "file_path string, puffin string, offset long, "
                    "length long, cardinality long, fsize long",
                )
                .collect()
            ]
        rows = coords

    replaced = {c[0] for c in rows} & set(old_dvs)
    # a DV belongs to its referenced data file's partition — stamp it
    # so the partition-statistics plane attributes DV delete records to
    # their true partitions (pure-Python planning pass, O(live files))
    live = {}
    if rows:
        from .manifests import live_data_file_dicts

        live = live_data_file_dicts(
            _resolve(
                os.path.join(mdir, "x"),
                current["manifest-list"].removeprefix("file:"),
            ),
            fv,
        )
    entries = []
    total_cardinality = 0
    puffin_size = sum({c[1]: c[5] for c in rows}.values())
    for fp, ppath, off, length, card, fsize in sorted(rows):
        total_cardinality += int(card)
        ref = live.get(fp.removeprefix("file:"), {})
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "data_file": {
                    "content": 1,  # DVs are position deletes
                    "file_path": ppath,
                    "file_format": "PUFFIN",
                    "record_count": int(card),
                    "file_size_in_bytes": int(fsize),
                    "referenced_data_file": fp,
                    "content_offset": int(off),
                    "content_size_in_bytes": int(length),
                    "partition_values": ref.get("pvals") or None,
                    "partition_types": ref.get("ptypes") or None,
                },
            }
        )

    return entries, puffin_size, total_cardinality, replaced, old_dvs


def _write_dv_container_driver(
    collected, table_dir: str, seq: int, snapshot_id: int
) -> list[tuple]:
    """Write ONE Puffin container of DV blobs driver-side (the
    few-touched-files path) and return coordinate rows of the same
    shape the distributed writer yields: ``(file_path, puffin, offset,
    length, cardinality, container_size)``."""
    from .puffin import DV_BLOB_TYPE, write_puffin

    if not collected:
        return []
    puffin_path = os.path.join(
        table_dir, "data",
        f"seq-{seq:05d}-dvs-{_uuid.uuid4().hex[:8]}.puffin",
    )
    os.makedirs(os.path.dirname(puffin_path), exist_ok=True)
    ordered = sorted(collected, key=lambda r: r.file_path)
    blobs = [
        {
            # spec: DV blob metadata sets referenced-data-file and
            # cardinality properties; fields is unused for DVs
            "type": DV_BLOB_TYPE,
            "fields": [],
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "payload": bytes(r.dv),
            "properties": {
                "referenced-data-file": r.file_path,
                "cardinality": str(int(r.cardinality)),
            },
        }
        for r in ordered
    ]
    _fsize, _foot, metas = write_puffin(
        puffin_path, blobs, {"created-by": "hielo_spark"}
    )
    fsize = os.path.getsize(puffin_path)
    return [
        (r.file_path, puffin_path, int(m["offset"]), int(m["length"]),
         int(r.cardinality), fsize)
        for r, m in zip(ordered, metas)
    ]


def _supersede_dv_rows(
    prior_rows: list[dict],
    replaced: set[str],
    old_dvs: dict[str, dict],
    mdir: str,
    seq: int,
    snapshot_id: int | None = None,
) -> list[dict]:
    """Tombstone superseded DV entries in the carried-forward delete
    manifests (spec: at most one DV per data file) — rewrite each
    affected manifest re-emitting the superseded entries as status=2
    with the superseding snapshot's id, drop manifests left with
    nothing live or tombstoned."""
    if not replaced:
        return prior_rows
    by_manifest: dict[str, set[str]] = {}
    for ref in replaced:
        by_manifest.setdefault(old_dvs[ref]["manifest"], set()).add(ref)
    rewritten_rows = []
    for r in prior_rows:
        refs = by_manifest.get(r["manifest_path"])
        if not refs:
            rewritten_rows.append(r)
            continue
        rw = _rewrite_manifest_dropping_dvs(
            r["manifest_path"], refs, mdir, seq, snapshot_id=snapshot_id
        )
        if rw is None:
            continue  # nothing live or tombstoned — drop the manifest
        new_path, live_files, live_rows, dropped_files, dropped_rows = rw
        rewritten_rows.append(
            dict(
                r,
                manifest_path=new_path,
                manifest_length=os.path.getsize(new_path),
                existing_files_count=live_files,
                existing_rows_count=live_rows,
                # supersession stays OBSERVABLE: the manifest-list row
                # reports the tombstoned DV entries it carries
                deleted_files_count=dropped_files,
                deleted_rows_count=dropped_rows,
            )
        )
    return rewritten_rows


def set_table_properties(
    table_dir: str,
    set_props: dict[str, str] | None = None,
    remove: list[str] | None = None,
) -> dict[str, str]:
    """Metadata-only properties commit (Iceberg's set/unset properties
    update): merge ``set_props`` into ``properties``, drop ``remove``
    keys. Returns the table's properties after the commit. No snapshot
    is added — same shape as ``update_schema``'s metadata-only bump."""
    doc, prev_version = _load_doc(table_dir)
    doc = dict(doc)
    props = dict(doc.get("properties", {}))
    for k in remove or []:
        props.pop(k, None)
    props.update({str(k): str(v) for k, v in (set_props or {}).items()})
    # validate metrics properties at SET time, like Iceberg does —
    # raising here beats failing on the next write
    for k, v in props.items():
        if k == "write.metadata.metrics.default" or k.startswith(
            "write.metadata.metrics.column."
        ):
            _parse_metrics_value(v)
    if "schema.name-mapping.default" in props:
        # same SET-time validation posture: a malformed mapping must
        # fail here, not silently null out columns on the next read
        from .metadata_json import parse_name_mapping

        parse_name_mapping({"properties": props})
    doc["properties"] = props
    _commit_doc(table_dir, doc, prev_version)
    return props


def upgrade_format_version(table_dir: str, to_version: int = 3) -> int:
    """Metadata-only commit bumping the table's ``format-version``
    (Iceberg's one-way upgrade). v3 forbids position-delete FILES —
    any live parquet position deletes must be compacted away first
    (``rewrite_data_files`` materializes them), after which new
    ``delete_where`` commits write deletion vectors. Equality deletes
    remain legal in v3 and don't block the upgrade."""
    doc, prev_version = _load_doc(table_dir)
    cur = int(doc.get("format-version", 2))
    if to_version == cur:
        return cur
    if to_version < cur:
        raise ValueError("format-version downgrade is not allowed")
    if to_version != 3:
        raise ValueError(f"cannot upgrade to format-version {to_version}")
    if doc.get("current-snapshot-id") is not None:
        from .manifests import (
            _resolve,
            decode_manifest,
            inherited_seq_of,
            read_avro_file,
        )

        current = next(
            s for s in doc["snapshots"]
            if s["snapshot-id"] == doc["current-snapshot-id"]
        )
        mlist = _resolve(
            os.path.join(table_dir, "metadata", "x"),
            current["manifest-list"].removeprefix("file:"),
        )
        _, _, mlist_rows = read_avro_file(mlist)
        for m in mlist_rows:
            if (m.get("content") or 0) != 1:
                continue
            for e in decode_manifest(
                _resolve(mlist, m["manifest_path"]),
                inherited_seq=inherited_seq_of(m, cur),
            ):
                status, fpath, fcontent, dv = e[0], e[2], e[6], e[15]
                if status != 2 and fcontent == 1 and dv is None:
                    raise ValueError(
                        "cannot upgrade to v3: live position-delete "
                        f"file {fpath} exists — compact it away first "
                        "(rewrite_data_files), then upgrade"
                    )
    doc = dict(doc)
    doc["format-version"] = to_version
    # v3 row lineage: start the id watermark; files written BEFORE the
    # upgrade carry no first_row_id and read _row_id as null (the
    # upgrade assigns nothing retroactively), files written after get
    # contiguous ids from here
    doc.setdefault("next-row-id", 0)
    _commit_doc(table_dir, doc, prev_version)
    return to_version


def rewrite_deletion_vectors(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    min_files: int = 2,
) -> dict | None:
    """Deletion-vector maintenance for v3 tables: every ``delete_where``
    commit writes its vectors into a NEW Puffin file, so a
    frequently-deleted table accumulates many small containers (each
    holding live blobs next to superseded garbage). This REPLACE commit
    rewrites all live DVs into ONE Puffin file behind one delete
    manifest — the v3 twin of ``rewrite_position_deletes``. Blob bytes
    pass through VERBATIM (no decode/re-encode — the live vector is
    already the merged truth for its file) at a fresh sequence number,
    which is safe for position-content deletes: they bind to data files
    by PATH, so a higher sequence number cannot widen what they apply
    to. Returns the new snapshot, or None when fewer than ``min_files``
    Puffin containers are live (nothing worth compacting).

    Scale: pure planning-plane — blob regions are read and re-framed by
    the driver, bounded by live-DV count × bitmap size; no data scan,
    no Spark job."""
    import time

    from .manifests import _resolve
    from .puffin import DV_BLOB_TYPE, write_puffin

    doc, prev_version = _load_doc(table_dir)
    fv = int(doc.get("format-version", 2))
    if fv < 3:
        raise ValueError(
            "rewrite_deletion_vectors needs a format-version >= 3 table "
            "(v2 position deletes compact via rewrite_position_deletes)"
        )
    if doc.get("current-snapshot-id") is None:
        return None
    current = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    mdir = os.path.join(table_dir, "metadata")
    mlist = _resolve(
        os.path.join(mdir, "x"),
        current["manifest-list"].removeprefix("file:"),
    )
    dvs = _live_dv_entries(mlist, fv)
    if len({d["puffin"] for d in dvs}) < min_files:
        return None
    # max-seq per referenced file (the live invariant; defensive here)
    best: dict[str, dict] = {}
    for d in sorted(dvs, key=lambda d: d["seq"] or 0):
        best[d["dv"]["referenced"].removeprefix("file:")] = d

    seq_new = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq_new)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )

    puffin_path = os.path.join(
        table_dir, "data",
        f"seq-{seq_new:05d}-dvs-{_uuid.uuid4().hex[:8]}.puffin",
    )
    blobs = []
    cards = {}
    for ref in sorted(best):
        d = best[ref]
        with open(d["puffin"], "rb") as fh:
            fh.seek(d["dv"]["offset"])
            payload = fh.read(d["dv"]["size"])
        # cardinality comes from the live entry's record_count — no
        # decode: the bytes really do pass through verbatim
        cards[ref] = d["records"]
        blobs.append(
            {
                "type": DV_BLOB_TYPE,
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": seq_new,
                "payload": payload,
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(cards[ref]),
                },
            }
        )
    _fsize, _foot, metas = write_puffin(
        puffin_path, blobs, {"created-by": "hielo_spark"}
    )
    puffin_size = os.path.getsize(puffin_path)
    entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 1,
                "file_path": puffin_path,
                "file_format": "PUFFIN",
                "record_count": cards[b["properties"]["referenced-data-file"]],
                "file_size_in_bytes": puffin_size,
                "referenced_data_file": b["properties"][
                    "referenced-data-file"
                ],
                "content_offset": int(m["offset"]),
                "content_size_in_bytes": int(m["length"]),
            },
        }
        for b, m in zip(blobs, metas)
    ]
    manifest_path = os.path.join(
        mdir, f"delete-manifest-{seq_new:05d}-{_uuid.uuid4().hex[:8]}.avro"
    )
    write_avro(
        spark, manifest_path, MANIFEST_ENTRY_SCHEMA_V2, entries,
        meta=_manifest_header_meta(doc, 0, "deletes"),
    )

    # carry forward everything except the rewritten DV entries — shared
    # supersession machinery (every live ref is being rewritten, so
    # supersede by each DV's own manifest attribution)
    rewritten_old = {
        d["dv"]["referenced"].removeprefix("file:"): d for d in dvs
    }
    prior_rows = _supersede_dv_rows(
        _carry_forward_rows(mdir, doc),
        set(rewritten_old), rewritten_old, mdir, seq_new,
        snapshot_id=snapshot_id,
    )

    new_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": seq_new,
        "min_sequence_number": seq_new,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(cards.values()),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    old_blob_bytes = sum(d["dv"]["size"] for d in dvs)
    return _finalize_commit(
        table_dir, doc, prev_version, prior_rows + [new_row],
        snapshot_id, timestamp_ms, seq_new,
        _with_totals(
            {
                "operation": "replace",
                "rewritten-dv-files": str(len({d["puffin"] for d in dvs})),
                "added-dvs": str(len(entries)),
            },
            doc, doc.get("current-snapshot-id"),
            # net: every prior live DV is superseded by its rewrite
            0, puffin_size - old_blob_bytes, len(entries) - len(dvs),
        ),
    )


#: legal primitive type promotions per the Iceberg spec's Schema
#: Evolution rules (https://iceberg.apache.org/spec/#schema-evolution)
_PROMOTIONS = {("int", "long"), ("float", "double")}


def _decimal_parts(t: str) -> tuple[int, int] | None:
    if not t.startswith("decimal("):
        return None
    try:
        p, s = t[len("decimal("):].rstrip(")").split(",")
        return int(p), int(s)
    except ValueError:
        return None


def set_identifier_fields(table_dir: str, names: list[str]) -> int:
    """Record the table's row identifier (spec ``identifier-field-ids``
    — Iceberg's ``UpdateSchema.setIdentifierFields``): commits a NEW
    schema entry with the same fields and the identifier set, bumping
    ``current-schema-id`` (identifier membership is part of the schema
    object, so changing it is schema evolution). The changelog's
    ``compute_updates`` then pairs on these columns by default.
    Empty ``names`` clears the identifier.

    Spec restrictions enforced: fields must exist and be primitive,
    and float/double can never identify a row (NaN != NaN). The
    spec also requires identifier fields be ``required``; this engine
    records all columns as optional (documented posture) — the
    changelog pairing treats a null key as unmatchable, which is the
    safe rendering for that relaxation. Returns the new schema id."""
    doc, prev_version = _load_doc(table_dir)
    if "schemas" not in doc:
        raise ValueError("table has no recorded schema (commit data first)")
    cur = next(
        s for s in doc["schemas"]
        if s.get("schema-id") == doc.get("current-schema-id", 0)
    )
    by_name = {f["name"]: f for f in cur.get("fields", [])}
    ids: list[int] = []
    for n in names:
        f = by_name.get(n)
        if f is None:
            raise ValueError(
                f"identifier field {n!r} not in schema "
                f"(have {sorted(by_name)})"
            )
        t = f.get("type")
        if not isinstance(t, str) or t in ("float", "double"):
            raise ValueError(
                f"identifier field {n!r} has type {t!r} — identifier "
                "fields must be primitive and never float/double"
            )
        ids.append(int(f["id"]))
    new_id = max(
        int(s.get("schema-id", 0)) for s in doc["schemas"]
    ) + 1
    new_schema = {
        **{k: v for k, v in cur.items() if k != "schema-id"},
        "schema-id": new_id,
    }
    if ids:
        new_schema["identifier-field-ids"] = ids
    else:
        new_schema.pop("identifier-field-ids", None)
    doc = dict(doc)
    doc["schemas"] = list(doc["schemas"]) + [new_schema]
    doc["current-schema-id"] = new_id
    _commit_doc(table_dir, doc, prev_version)
    return new_id


def update_schema(
    table_dir: str,
    add: list[tuple[str, str]] | None = None,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
    widen: dict[str, str] | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """First-class schema-evolution commit (Iceberg ``UpdateSchema``):
    derive a NEW schema from the current one and append it to the
    table's ``schemas`` history, with spec-conformant field-id
    management — added columns take fresh ids above ``last-column-id``
    (which bumps), renames and widenings KEEP their field id, dropped
    ids are never reused. ``current-schema-id`` flips to the new entry
    and every subsequent snapshot records it (J3 linkage), so the
    schema-evolution matrix (J2, reference ``components.rs:533-597``;
    schema list ``data.rs:21-33``) works over tables our own write
    plane evolved, not just fixture metadata.

    ``add``: ``[(name, sql_type)]`` or ``[(name, sql_type, default)]``
    — the 3-tuple form records the value under the spec's v3
    ``initial-default``/``write-default`` keys (format-version ≥ 3
    only): files written BEFORE the add read the default where they
    would read null, and appends that omit the column write it
    (metadata/values.py JSON single-value serialization).
    ``drop``: ``[name]`` (refused for
    partition source fields, per the spec); ``rename``: ``{old: new}``;
    ``widen``: ``{name: sql_type}`` restricted to the spec's legal
    promotions (int→long, float→double, decimal precision increase at
    the same scale). ``widen`` keys use post-rename names. Returns the
    new schema id.

    Read semantics across the boundary: files written before an added
    column read as null for it; dropped columns vanish; renamed columns
    resolve by field-id history (name-mapping fallback — our parquet
    carries no field ids); widened columns are type-promoted by the
    parquet reader. Both read planes (manifests.read_data_at_snapshot
    via ``evolved_read_plan``, and the hielo_iceberg DataSource) apply
    these rules; time travel reads under the SNAPSHOT's schema-id."""
    import time

    add, drop = list(add or []), list(drop or [])
    rename, widen = dict(rename or {}), dict(widen or {})
    if not (add or drop or rename or widen):
        raise ValueError("update_schema with no changes is a no-op")
    doc, prev_version = _load_doc(table_dir)
    if "schemas" not in doc:
        raise ValueError("table has no recorded schema (commit data first)")
    cur = next(
        s for s in doc["schemas"]
        if s.get("schema-id") == doc.get("current-schema-id", 0)
    )
    fields = [dict(f) for f in cur.get("fields", [])]

    dropping = set(drop)
    missing = dropping - {f["name"] for f in fields}
    if missing:
        raise ValueError(f"cannot drop columns not in schema: {sorted(missing)}")
    spec_sources = {
        pf["source-id"]
        for spec in doc.get("partition-specs", [])
        for pf in spec.get("fields", [])
    }
    blocked = [
        f["name"] for f in fields
        if f["name"] in dropping and f["id"] in spec_sources
    ]
    if blocked:
        raise ValueError(
            f"cannot drop partition source fields: {blocked} (spec: a "
            "partition field's source column must exist in the schema)"
        )
    fields = [f for f in fields if f["name"] not in dropping]

    # historical name → field ids that ever carried it, across EVERY
    # schema: our parquet files carry no Iceberg field ids, so renamed
    # columns resolve by name-mapping fallback — reusing a name a
    # DIFFERENT field held in any prior schema would make pre-change
    # files' data silently attribute to the wrong column. Refuse.
    hist_ids: dict[str, set[int]] = {}
    for s in doc["schemas"]:
        for g in s.get("fields", []):
            hist_ids.setdefault(g["name"], set()).add(int(g["id"]))

    names = {f["name"] for f in fields}
    for old, new in rename.items():
        if old not in names:
            raise ValueError(f"cannot rename missing column {old!r}")
        if new in (names - {old}) or new in {n for n, _ in add}:
            raise ValueError(f"rename target {new!r} already exists")
        fid = next(f["id"] for f in fields if f["name"] == old)
        other_ids = hist_ids.get(new, set()) - {int(fid)}
        if other_ids:
            raise ValueError(
                f"rename target {new!r} was used by field id(s) "
                f"{sorted(other_ids)} in a prior schema — parquet files "
                "carry no field ids, so reusing the name would "
                "misattribute pre-rename data (pick a fresh name)"
            )
        names.discard(old)
        names.add(new)
    for f in fields:
        if f["name"] in rename:
            f["name"] = rename[f["name"]]

    for name, new_sql in widen.items():
        f = next((f for f in fields if f["name"] == name), None)
        if f is None:
            raise ValueError(f"cannot widen missing column {name!r}")
        new_t = _ICEBERG_TYPES.get(new_sql, new_sql)
        old_t = f["type"]
        ok = (old_t, new_t) in _PROMOTIONS
        if not ok:
            dp_old, dp_new = _decimal_parts(old_t), _decimal_parts(new_t)
            ok = (
                dp_old is not None and dp_new is not None
                and dp_new[1] == dp_old[1] and dp_new[0] >= dp_old[0]
            )
        if not ok:
            raise ValueError(
                f"illegal type promotion {old_t} -> {new_t} for {name!r} "
                "(spec allows int->long, float->double, decimal "
                "precision increase at the same scale)"
            )
        f["type"] = new_t

    from .types import sql_to_iceberg

    last_id = int(
        doc.get("last-column-id", max((f["id"] for f in fields), default=0))
    )
    alloc_box = [last_id]

    def _alloc() -> int:
        alloc_box[0] += 1
        return alloc_box[0]

    for entry in add:
        name, sql_t = entry[0], entry[1]
        default = entry[2] if len(entry) > 2 else None
        if name in names:
            raise ValueError(f"cannot add duplicate column {name!r}")
        if name in hist_ids:
            raise ValueError(
                f"cannot add column {name!r}: the name was used by field "
                f"id(s) {sorted(hist_ids[name])} in a prior schema — "
                "parquet files carry no field ids, so old files' data "
                "under that name would misattribute to the new column"
            )
        names.add(name)
        fid = _alloc()
        field = {
            "id": fid,
            "name": name,
            "required": False,
            # nested types (array<...>/map<...>/struct<...>) record
            # their spec JSON form with fresh element/key/value ids
            "type": sql_to_iceberg(sql_t, _alloc),
        }
        if default is not None:
            if int(doc.get("format-version", 2)) < 3:
                raise ValueError(
                    f"column default for {name!r} requires "
                    "format-version >= 3 (initial-default/write-default "
                    "are v3 schema features; upgrade_format_version "
                    "first)"
                )
            if not isinstance(field["type"], str):
                raise ValueError(
                    f"defaults on nested-typed column {name!r} are not "
                    "supported"
                )
            from .values import default_to_json

            j = default_to_json(field["type"], default)
            field["initial-default"] = j
            field["write-default"] = j
        fields.append(field)
    last_id = alloc_box[0]

    new_sid = max(int(s.get("schema-id", 0)) for s in doc["schemas"]) + 1
    doc = dict(doc)
    doc["schemas"] = doc["schemas"] + [
        {"type": "struct", "schema-id": new_sid, "fields": fields}
    ]
    doc["current-schema-id"] = new_sid
    doc["last-column-id"] = max(last_id, int(doc.get("last-column-id", 0)))
    doc["last-updated-ms"] = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    _commit_doc(table_dir, doc, prev_version)
    return new_sid


def update_sort_order(table_dir: str, cols: list[str]) -> int:
    """Record a table sort order (Iceberg ``sort-orders`` /
    ``default-sort-order-id`` metadata): a metadata-only commit naming
    the columns compaction should range-sort by. ``rewrite_data_files``
    picks it up automatically when no explicit strategy is passed, so
    the maintenance autopilot produces sorted, tightly-bounded files
    without per-call configuration. Each entry is ``"name"`` or
    ``"name desc"`` / ``"name asc nulls-last"`` — direction defaults
    asc, null order defaults to the spec's per-direction default
    (nulls-first for asc, nulls-last for desc). Returns the new
    order id."""
    if not cols:
        raise ValueError("sort order needs at least one column")
    doc, prev_version = _load_doc(table_dir)
    if "schemas" not in doc:
        raise ValueError("table has no recorded schema (commit data first)")
    schema = next(
        s
        for s in doc["schemas"]
        if s.get("schema-id") == doc.get("current-schema-id", 0)
    )
    from .transforms import PartitionTransform

    name2id = {f["name"]: f["id"] for f in schema.get("fields", [])}
    fields = []
    missing = []
    for c in cols:
        head, *mods = str(c).rsplit(" ", maxsplit=str(c).count(" "))
        # modifiers trail the column/transform expression; everything
        # that isn't a known modifier belongs to the head (so
        # "truncate(4, s) desc" splits correctly)
        known = ("asc", "desc", "nulls-first", "nulls-last")
        while mods and mods[0].lower() not in known:
            head = f"{head} {mods.pop(0)}"
        mods = [m.lower() for m in mods]
        bad = [m for m in mods if m not in known]
        if bad:
            raise ValueError(f"unknown sort modifier(s) {bad} in {c!r}")
        pt = PartitionTransform(head)
        if pt.source not in name2id:
            missing.append(pt.source)
            continue
        desc = "desc" in mods
        null_order = (
            "nulls-first" if "nulls-first" in mods
            else "nulls-last" if "nulls-last" in mods
            else ("nulls-last" if desc else "nulls-first")
        )
        fields.append(
            {
                "source-id": name2id[pt.source],
                "transform": pt.iceberg_name,
                "direction": "desc" if desc else "asc",
                "null-order": null_order,
            }
        )
    if missing:
        raise ValueError(f"sort columns not in table schema: {missing}")
    orders = list(doc.get("sort-orders", []))
    new_id = max((int(o.get("order-id", 0)) for o in orders), default=0) + 1
    orders.append({"order-id": new_id, "fields": fields})
    doc = dict(doc)
    doc["sort-orders"] = orders
    doc["default-sort-order-id"] = new_id
    _commit_doc(table_dir, doc, prev_version)
    return new_id


def _sort_spec_from_doc(doc: dict) -> list[tuple[str, bool, bool, str]]:
    """The default sort order as ``[(source_name, desc, nulls_first,
    transform)]``, [] when unresolvable (unknown source ids or
    transform vocabulary). Direction and null-order come from the
    spec's sort-field fields — a foreign table may declare
    desc/nulls-last, and a file stamped with its sort_order_id must
    actually BE in that order. Non-identity transforms (year/month/
    day/hour, bucket[N], truncate[W]) sort by the DERIVED value, the
    spec's meaning of a transform sort field."""
    import re as _re

    orders = doc.get("sort-orders") or []
    oid = doc.get("default-sort-order-id")
    order = next((o for o in orders if o.get("order-id") == oid), None)
    if order is None:
        return []
    schema = next(
        (
            s
            for s in doc.get("schemas", [])
            if s.get("schema-id") == doc.get("current-schema-id", 0)
        ),
        None,
    )
    id2name = {f["id"]: f["name"] for f in (schema or {}).get("fields", [])}
    spec = []
    for f in order.get("fields", []):
        name = id2name.get(f.get("source-id"))
        tr = str(f.get("transform", "identity"))
        if name is None:
            return []
        if tr not in ("identity", "year", "month", "day", "hour") \
                and _re.match(r"^(bucket|truncate)\[\d+\]$", tr) is None:
            return []  # unknown transform: no sort, no stamp
        desc = str(f.get("direction", "asc")).lower() == "desc"
        # spec default null order: nulls-first for asc, nulls-last
        # for desc
        null_order = str(
            f.get("null-order", "nulls-last" if desc else "nulls-first")
        ).lower()
        spec.append((name, desc, null_order == "nulls-first", tr))
    return spec


def _sort_exprs(
    spec: list[tuple[str, bool, bool, str]], dtypes: dict | None = None
) -> list:
    """sortWithinPartitions/repartitionByRange Column exprs honoring
    each sort field's declared transform, direction, and null order.
    Transform fields need ``dtypes`` (source column Spark types) to
    derive the sort key; identity fields sort the column itself."""
    import re as _re

    from pyspark.sql import functions as F

    from .transforms import PartitionTransform

    out = []
    for name, desc, nulls_first, tr in spec:
        if tr == "identity":
            c = F.col(name)
        else:
            m = _re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
            spec_str = (
                f"{m.group(1)}({m.group(2)}, {name})" if m
                else f"{tr}s({name})"
            )
            c = PartitionTransform(spec_str).expr(
                (dtypes or {}).get(name, "string")
            )
        if desc:
            c = c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
        else:
            c = c.asc_nulls_first() if nulls_first else c.asc_nulls_last()
        out.append(c)
    return out


def rewrite_position_deletes(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict | None:
    """Compact the current snapshot's POSITION-delete files (Iceberg's
    ``rewrite_position_delete_files`` maintenance action): the
    per-commit delete files accumulated by ``delete_where``/MERGE merge
    into one hash-partitioned set at the new sequence number, dropping
    (a) rows whose target data file is no longer live (compacted away —
    dead weight every scan still reads), (b) rows that never applied
    (``delete_seq < target's data_seq``: raising their sequence must
    not activate them), and (c) duplicate ``(file_path, pos)`` pairs.
    Raising the surviving rows' sequence number is EXACT for position
    deletes — the ``file_path`` pins the target, whose data_seq is
    fixed and already ``<=`` the original delete seq, so any higher seq
    applies identically. Equality-delete files are untouched (their
    scoping is by key, where seq DOES change semantics).

    Scale: distributed union → seq-scoped join against the live
    (path, data_seq) list → dedup → hash-partitioned write through
    :func:`_stage_delete_files` (N writer tasks, never a single-task
    funnel); planning is pure Python over the manifests. Returns the new snapshot dict, or
    None when the table has fewer than two position-delete files."""
    import time

    from pyspark.sql import functions as F

    from .manifests import decode_manifest, inherited_seq_of, read_avro_file, _resolve

    doc, prev_version = _load_doc(table_dir)
    if doc.get("current-snapshot-id") is None:
        raise ValueError("table has no current snapshot")
    current = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    mdir = os.path.join(table_dir, "metadata")
    mlist = _resolve(
        os.path.join(mdir, "x"), current["manifest-list"].removeprefix("file:")
    )
    fv = doc.get("format-version", 2)
    _, _, mlist_rows = read_avro_file(mlist)
    pos_files: list[tuple[str, int | None]] = []  # (path, delete seq)
    live_paths: list[tuple[str, int | None]] = []  # (path, data seq)
    pure_pos_manifests: set[str] = set()
    for m in mlist_rows:
        entries = decode_manifest(
            _resolve(mlist, m["manifest_path"]),
            inherited_seq=inherited_seq_of(m, fv),
        )
        kinds = set()
        for e in entries:
            (status, _sid, fpath, _fmt, _rec, _size, fcontent, seq,
             *_rest) = e
            dv = e[15]
            if status == 2:
                continue
            # v3 deletion vectors are not parquet position-delete files:
            # they are already one-blob-per-data-file, so there is
            # nothing to compact here — and marking their manifest
            # "pure position deletes" would drop live DVs from the
            # carry-forward
            kinds.add("dv" if dv is not None else fcontent)
            if fcontent == 0:
                live_paths.append((fpath.removeprefix("file:"), seq))
            elif fcontent == 1 and dv is None:
                pos_files.append((fpath.removeprefix("file:"), seq))
        if kinds == {1}:
            pure_pos_manifests.add(m["manifest_path"])
    if len(pos_files) < 2:
        return None  # nothing to compact

    seq_new = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq_new)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )

    merged = None
    for p, dseq in pos_files:
        one = spark.read.parquet(p).select(
            "file_path", F.col("pos").cast("long").alias("pos"),
            F.lit(dseq).cast("long").alias("_dseq"),
        )
        merged = one if merged is None else merged.unionByName(one)
    live_df = local_frame(
        spark, live_paths, "live_path string, data_seq long"
    )
    from .metadata_json import _strip_scheme

    cond = (
        (_strip_scheme(merged["file_path"])
         == _strip_scheme(live_df["live_path"]))
        & (
            merged["_dseq"].isNull()
            | live_df["data_seq"].isNull()
            | (merged["_dseq"] >= live_df["data_seq"])
        )
    )
    survivors = (
        merged.join(live_df, cond, "left_semi")
        .select("file_path", "pos").distinct()
    )
    old_bytes = sum(os.path.getsize(p) for p, _ in pos_files)

    staged = _stage_delete_files(
        spark, doc, 1, survivors, ["file_path", "pos"], [],
        os.path.join(table_dir, "data", f"seq-{seq_new:05d}-posrewrite"),
        snapshot_id, seq_new, mdir,
    )
    n_files = staged["n_files"]
    # carry forward every manifest EXCEPT the pure position-delete ones
    # just rewritten (a mixed/foreign delete manifest stays untouched)
    prior_rows = [
        r for r in _carry_forward_rows(mdir, doc)
        if r["manifest_path"] not in pure_pos_manifests
    ]
    return _finalize_commit(
        table_dir, doc, prev_version,
        prior_rows + [_staged_manifest_row(staged, seq_new, snapshot_id)],
        snapshot_id, timestamp_ms, seq_new,
        _with_totals(
            {
                "operation": "replace",
                "rewritten-delete-files": str(len(pos_files)),
                "added-delete-files": str(n_files),
                "added-delete-records": str(staged["added_records"]),
            },
            doc, doc.get("current-snapshot-id"),
            0, staged["added_bytes"] - old_bytes, n_files - len(pos_files),
        ),
    )


def rewrite_manifests(
    spark: SparkSession,
    table_dir: str,
    entries_per_manifest: int = 100_000,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict | None:
    """The last of the reference's recommended procedures
    (`CALL c.system.rewrite_manifests`, SURVEY §2.1 S11): consolidate
    the current snapshot's DATA manifest entries into size-targeted
    manifests without touching a single data file — pure planning-plane
    metadata compaction (many small appends leave one tiny manifest per
    commit; scan planning then reads hundreds of Avro files to list the
    table). Delete manifests are carried through unchanged (their
    sequence numbers scope row-level deletes and must not be disturbed).
    The commit's data snapshot is logically identical, so the snapshot
    records ``operation: replace`` and the changelog skips it. Returns
    the new snapshot dict, or ``None`` when the table already has a
    single data manifest (nothing to consolidate)."""
    import time

    from .manifests import _resolve, read_manifest_list

    doc, prev_version = _load_doc(table_dir)
    if doc.get("current-snapshot-id") is None:
        raise ValueError("cannot rewrite manifests of a table with no snapshot")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    mdir = os.path.join(table_dir, "metadata")
    current = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    mlist = _resolve(
        os.path.join(mdir, "x"), current["manifest-list"].removeprefix("file:")
    )
    manifests = read_manifest_list(spark, mlist).collect()
    data_manifests = [m for m in manifests if (m.content or 0) == 0]
    delete_rows = [
        {
            "manifest_path": m.manifest_path,
            "manifest_length": m.manifest_length,
            "partition_spec_id": m.partition_spec_id or 0,
            "content": m.content,
            "sequence_number": m.sequence_number if m.sequence_number is not None else 0,
            "min_sequence_number": m.sequence_number if m.sequence_number is not None else 0,
            "added_snapshot_id": m.added_snapshot_id or 0,
            "added_files_count": m.added_files_count or 0,
            "existing_files_count": m.existing_files_count or 0,
            "deleted_files_count": 0,
            "added_rows_count": m.added_rows_count or 0,
            "existing_rows_count": m.existing_rows_count or 0,
            "deleted_rows_count": 0,
        }
        for m in manifests
        if (m.content or 0) == 1
    ]
    if len(data_manifests) <= 1:
        return None  # already consolidated

    # gather every live data-file entry, PRESERVING each file's data
    # sequence number (existing entries written explicitly, per the
    # spec: inheritance only applies to null seqs on ADDED entries)
    # entries grouped by the SOURCE manifest's partition spec id so the
    # consolidated manifests keep the correct spec attribution after
    # partition evolution (a manifest's entries all share one spec in
    # Iceberg; mixing specs in one output manifest would misattribute
    # partition layouts in metadata)
    entries_by_spec: dict[int, list[dict]] = {}
    min_seq = seq
    name2id = _name2id(doc)
    from .manifests import decode_manifest

    for m in data_manifests:
        inherited = m.sequence_number if m.sequence_number is not None else 0
        entries = entries_by_spec.setdefault(int(m.partition_spec_id or 0), [])
        # pure-Python decode (no Spark hop per manifest); the tuple form
        # carries EVERY field including v3 first_row_id (142) — the
        # frame-based rebuild silently dropped it, nulling row lineage
        # from a metadata-only maintenance op
        for e in decode_manifest(
            _resolve(mlist, m.manifest_path), inherited_seq=inherited
        ):
            (status, sid, fpath, fmt, records, fsize, fcontent, eseq,
             pvals, ptypes, lb, ub, bt, nc, dc, _dv, frid, nanc) = e
            if status == 2 or (fcontent or 0) != 0:
                continue  # deleted entries / stray delete files drop out
            fseq = eseq if eseq is not None else inherited
            min_seq = min(min_seq, fseq)
            entries.append(
                {
                    "status": 0,  # existing, not added
                    "snapshot_id": sid or m.added_snapshot_id or 0,
                    "sequence_number": fseq,
                    "data_file": {
                        "content": 0,
                        "file_path": fpath,
                        "file_format": fmt or "PARQUET",
                        "record_count": records or 0,
                        "file_size_in_bytes": fsize or 0,
                        "first_row_id": frid,
                        **_spec_stats(
                            name2id, bt, lb, ub, nc, int(records or 0),
                            nanc,
                        ),
                        "partition_values": pvals,
                        "partition_types": ptypes,
                        "lower_bounds_str": lb,
                        "upper_bounds_str": ub,
                        "bounds_types": bt,
                        "null_counts": nc,
                        "distinct_counts_str": dc,
                    },
                }
            )

    new_rows = []
    for spec_id, chunk in (
        (sid, grp[i : i + entries_per_manifest])
        for sid, grp in sorted(entries_by_spec.items())
        for i in range(0, len(grp), entries_per_manifest)
    ):
        # rebuild the typed r102 partition record per group (one spec
        # per output manifest); value types recovered from the carried
        # partition_types extension maps
        sample_ptypes: dict[str, str] = {}
        for e in chunk:
            sample_ptypes.update(e["data_file"].get("partition_types") or {})
        pfields = _partition_avro_fields(doc, sample_ptypes, spec_id)
        for e in chunk:
            e["data_file"]["partition"] = _typed_partition(
                e["data_file"].get("partition_values"), pfields
            )
        mpath = os.path.join(
            mdir, f"manifest-{seq:05d}-{_uuid.uuid4().hex[:8]}.avro"
        )
        write_avro(
            spark, mpath, manifest_entry_schema(pfields), chunk,
            meta=_manifest_header_meta(doc, spec_id, "data"),
        )
        new_rows.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min_seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": 0,
                "existing_files_count": len(chunk),
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    int(e["data_file"].get("record_count") or 0) for e in chunk
                ),
                "deleted_rows_count": 0,
            }
        )
    return _finalize_commit(
        table_dir, doc, prev_version, new_rows + delete_rows,
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            {
                "operation": "replace",
                "rewritten-manifests": str(len(data_manifests)),
                "added-manifests": str(len(new_rows)),
                "total-records": current.get("summary", {}).get("total-records", "0"),
            },
            doc, doc.get("current-snapshot-id"), 0, 0, 0,
        ),
    )


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source_df: DataFrame,
    on: list[str] | None = None,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    extra_summary: dict[str, str] | None = None,
    extra_properties: dict[str, str] | None = None,
    extra_delete_keys: DataFrame | None = None,
    branch: str | None = None,
) -> dict | None:
    """``MERGE INTO`` as a SINGLE merge-on-read snapshot (the Iceberg
    v2 row-level-operations shape, SURVEY §2.1 S11): one commit carries
    BOTH an equality-delete manifest for the matched keys AND a data
    manifest for the appended rows, at the same sequence number. The
    spec's scan-planning rule — an equality delete applies only to data
    files with a STRICTLY LOWER sequence number — is what makes this
    atomic composition correct: the commit's own appended files survive
    its own delete, while every matched pre-existing row disappears.
    Readers see either the whole merge or none of it (the metadata.json
    version bump is the atomic commit point).

    ``when_matched``: ``"update"`` (matched target rows are replaced by
    the matching source rows — duplicate target keys all die, duplicate
    source rows all land), ``"delete"``, or ``None`` (leave matched
    rows alone). ``when_not_matched``: ``"insert"`` or ``None``.
    Returns the new snapshot dict, or ``None`` when the merge is a
    no-op (no matched keys to change and nothing to insert) — Iceberg
    likewise skips empty commits.

    ``extra_delete_keys``: an additional keys-only frame whose matching
    target rows are deleted in the SAME commit without any
    corresponding insert — what lets a replicated source snapshot
    carrying both deletes and upserts land as ONE atomic destination
    snapshot (ops/replicate.py) instead of a delete commit followed by
    an upsert commit with an observable intermediate state. Keys that
    match no live target row are dropped (idempotent re-apply stays a
    no-op).

    ``on=None`` defaults to the table's recorded row identifier
    (spec ``identifier-field-ids``; commit one with
    ``set_identifier_fields``) — Iceberg's upsert shape; raises when
    the table records none.

    ``branch`` stages the merge on that branch (WAP): match split and
    deletes base on the BRANCH head, only the branch ref moves, main
    readers see nothing until ``fast_forward`` publishes.

    Scale: the match split is one distributed semi/anti join of the
    source against the target's live rows (delete-key side is
    ``on``-projected + distinct — small by construction); data files
    are written by distributed parquet writes; only planning-plane file
    lists and two scalar counts cross the driver."""
    import time

    from .manifests import read_data_at_snapshot

    if when_matched not in ("update", "delete", None):
        raise ValueError("when_matched must be 'update', 'delete', or None")
    if when_not_matched not in ("insert", None):
        raise ValueError("when_not_matched must be 'insert' or None")
    if when_matched is None and when_not_matched is None:
        raise ValueError("merge with no clauses is a no-op by construction")

    doc, prev_version = _load_doc(table_dir)
    if not on:
        # Iceberg upsert default: the table's recorded row identifier
        # (spec identifier-field-ids; set_identifier_fields commits it)
        blk = next(
            (
                sch for sch in doc.get("schemas", [])
                if sch.get("schema-id") == doc.get("current-schema-id", 0)
            ),
            None,
        )
        ids = (blk or {}).get("identifier-field-ids") or []
        by_id = {f["id"]: f["name"] for f in (blk or {}).get("fields", [])}
        if ids and all(i in by_id for i in ids):
            on = [by_id[i] for i in ids]
        else:
            raise ValueError(
                "merge requires at least one key column (pass on=[...] "
                "or record the table's identifier via "
                "set_identifier_fields)"
            )
    missing = [c for c in on if c not in source_df.columns]
    if missing:
        raise ValueError(f"key columns missing from source: {missing}")
    # branch-scoped merge (WAP): base on the branch head, move only
    # the branch ref (same contract as delete_where/append)
    base_id = doc.get("current-snapshot-id")
    if branch is not None:
        ref = doc.get("refs", {}).get(branch)
        if ref is not None:
            if ref.get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag, not a branch")
            base_id = int(ref["snapshot-id"])
    if base_id is None:
        raise ValueError("cannot merge into a table with no current snapshot")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    mdir = os.path.join(table_dir, "metadata")

    # main-branch merges read WITHOUT an explicit snapshot id: an
    # explicit id scans under the snapshot's RECORDED schema, but DML
    # evaluates under the CURRENT schema (a metadata-only evolution
    # bumps current-schema-id without a snapshot). Branch merges pass
    # the branch head explicitly; its recorded schema applies.
    target = read_data_at_snapshot(
        spark, current_metadata_path(table_dir),
        snapshot_id=base_id if branch is not None else None,
    )
    if when_matched == "update" or when_not_matched == "insert":
        if set(source_df.columns) != set(target.columns):
            raise ValueError(
                f"source columns {sorted(source_df.columns)} != target "
                f"columns {sorted(target.columns)} (update/insert clauses "
                "write full rows)"
            )
        source_df = source_df.select(*target.columns)

    target_keys = target.select(*on).distinct()
    matched_src = source_df.join(target_keys, on, "left_semi")
    delete_keys = matched_src.select(*on).distinct()
    if extra_delete_keys is not None:
        missing = [c for c in on if c not in extra_delete_keys.columns]
        if missing:
            raise ValueError(
                f"key columns missing from extra_delete_keys: {missing}"
            )
        # only keys that match a live target row delete (idempotency:
        # re-applying an already-applied delete stays a no-op)
        extra = (
            extra_delete_keys.select(*on).distinct()
            .join(target_keys, on, "left_semi")
        )
        delete_keys = (
            delete_keys.unionByName(extra).distinct()
            if when_matched is not None else extra
        )
    # deletes only materialize when a matched clause will change rows
    n_delete_keys = (
        delete_keys.count()
        if when_matched is not None or extra_delete_keys is not None
        else 0
    )

    to_append = None
    if when_matched == "update":
        to_append = matched_src
    if when_not_matched == "insert":
        unmatched_src = source_df.join(target_keys, on, "left_anti")
        to_append = (
            unmatched_src if to_append is None else to_append.unionByName(unmatched_src)
        )

    # deleted-row count for the summary (matched keys can hit several
    # target rows); one distributed count, planning-plane scalar
    n_deleted_rows = (
        target.join(delete_keys, on, "left_semi").count() if n_delete_keys else 0
    )

    manifest_rows = _carry_forward_rows(mdir, doc, base_id)

    fv = int(doc.get("format-version", 2))
    eq_files = eq_bytes = 0
    dv_entries_count = 0
    dv_net_files = 0
    dv_net_bytes = 0
    current = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == base_id
    )
    if n_delete_keys and fv >= 3:
        # v3 merge: resolve the matched keys to ROW POSITIONS and commit
        # deletion vectors instead of equality deletes — scans then pay
        # one blob fetch per touched file instead of an anti-join per
        # equality-delete file, and the table stays DV-only (the v3
        # shape). Same one-commit atomicity: the DV manifest and the
        # data manifest land at the same sequence number, and position
        # deletes apply at delete_seq >= data_seq BY FILE PATH, so the
        # merge's own appended files are never touched.
        from pyspark.sql import functions as F

        from .manifests import (
            _read_files_with_partitions,
            evolved_read_plan,
            live_data_file_dicts,
        )

        ev_cols, ev_aliases = evolved_read_plan(
            doc, doc.get("current-schema-id")
        )
        candidates = list(
            live_data_file_dicts(
                current["manifest-list"].removeprefix("file:"),
                fv,
            ).values()
        )
        coords = _read_files_with_partitions(
            spark, candidates, "fp_pos",
            schema_cols=ev_cols, aliases=ev_aliases,
        )
        positions = coords.join(delete_keys, on, "left_semi").select(
            F.col("_fp").alias("file_path"),
            F.col("_pos").cast("long").alias("pos"),
        )
        dv_entries, dv_puffin_size, dv_cardinality, dv_replaced, dv_old = (  # noqa: E501
            _build_dv_entries(
                spark, table_dir, doc, mdir, current, positions, seq,
                snapshot_id,
            )
        )
        dv_entries_count = len(dv_entries)
        # net totals: replacements supersede prior DVs (see delete_where)
        dv_net_files = dv_entries_count - len(dv_replaced)
        dv_net_bytes = dv_puffin_size - sum(
            dv_old[r]["dv"]["size"] for r in dv_replaced
        )
        del_manifest = os.path.join(
            mdir, f"delete-manifest-{seq:05d}-{_uuid.uuid4().hex[:8]}.avro"
        )
        write_avro(
            spark, del_manifest, MANIFEST_ENTRY_SCHEMA_V2, dv_entries,
            meta=_manifest_header_meta(doc, 0, "deletes"),
        )
        manifest_rows = _supersede_dv_rows(
            manifest_rows, dv_replaced, dv_old, mdir, seq,
            snapshot_id=snapshot_id,
        )
        manifest_rows.append(
            {
                "manifest_path": del_manifest,
                "manifest_length": os.path.getsize(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": dv_entries_count,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": dv_cardinality,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    elif n_delete_keys:
        # distributed delete-key write (no coalesce(1) funnel; the keys
        # frame keeps the join's partitioning), spec-sorted per task
        transforms = _delete_partition_plan(doc, dict(delete_keys.dtypes))
        staged = _stage_delete_files(
            spark, doc, 2, delete_keys, list(on), transforms,
            os.path.join(table_dir, "data", f"seq-{seq:05d}-deletes"),
            snapshot_id, seq, mdir,
        )
        eq_files, eq_bytes = staged["n_files"], staged["added_bytes"]
        manifest_rows.append(_staged_manifest_row(staged, seq, snapshot_id))

    added_records = data_files = data_bytes = 0
    if to_append is not None:
        data_dir = os.path.join(table_dir, "data", f"seq-{seq:05d}")
        # keep the table's recorded partition spec: merged rows land in
        # the same hive layout + manifest partition values as appends,
        # so pruning never degrades as a table takes merges
        spec_transforms = _spec_transforms_from_doc(doc)
        # merged-in rows honor the default sort order exactly like
        # appends (local per-task sort — tight bounds on fresh files),
        # declared direction/null-order included
        dtypes = dict(to_append.dtypes)
        merge_sort = [s for s in _sort_spec_from_doc(doc) if s[0] in dtypes]
        files = _write_data_files(
            spark, data_dir, to_append, spec_transforms,
            _sort_exprs(merge_sort, dtypes) if merge_sort else (),
        )
        added_records = sum(f["record_count"] for f in files)
        if files:
            ptypes = _partition_types(spec_transforms, dtypes)
            # the merged files were written through the table's
            # recorded DEFAULT spec (spec_transforms above), so
            # attribute them to it — not spec 0 — after partition
            # evolution; merged-in rows are NEW rows — fresh row ids
            merge_spec_id = int(doc.get("default-spec-id", 0))
            staged = _stage_files_manifest(
                doc, files, dtypes, snapshot_id, seq, mdir, merge_spec_id,
                _partition_avro_fields(doc, ptypes, merge_spec_id), ptypes,
            )
            data_bytes = staged["added_bytes"]
            data_files = staged["n_files"]
            manifest_rows.append(
                _staged_manifest_row(staged, seq, snapshot_id)
            )

    if not n_delete_keys and added_records == 0:
        return None  # empty merge: commit nothing, like Iceberg

    prior_total = int(current.get("summary", {}).get("total-records", "0") or 0)
    return _finalize_commit(
        table_dir, doc, prev_version, manifest_rows,
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            {
                "operation": "overwrite",
                "added-data-files": str(data_files),
                "added-records": str(added_records),
                "deleted-records": str(n_deleted_rows),
                "equality-delete-files": str(eq_files),
                **(
                    {"added-dvs": str(dv_entries_count)}
                    if dv_entries_count else {}
                ),
                "added-delete-records": str(n_delete_keys),
                "total-records": str(prior_total - n_deleted_rows + added_records),
                **(extra_summary or {}),
            },
            doc, base_id,
            data_files,
            data_bytes + eq_bytes + dv_net_bytes,
            eq_files + dv_net_files,
        ),
        branch=branch,
        parent_id=base_id,
        extra_properties=extra_properties,
    )


def fast_forward(table_dir: str, branch: str) -> str:
    """Publish a staged branch (the Iceberg ``fast_forward`` procedure,
    the publish half of write-audit-publish): move the main
    ``current-snapshot-id`` to the branch head, REQUIRING that the
    current snapshot is an ancestor of that head — a diverged branch
    cannot be fast-forwarded (that would silently drop main's commits;
    Iceberg raises there too). The branch ref stays, now equal to main.
    Metadata-only commit; returns the new metadata path."""
    doc, prev_version = _load_doc(table_dir)
    ref = doc.get("refs", {}).get(branch)
    if ref is None or ref.get("type") != "branch":
        raise ValueError(f"no branch named {branch!r}")
    head = int(ref["snapshot-id"])
    current = doc.get("current-snapshot-id")
    if current is not None and int(current) != head:
        by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
        cur: int | None = head
        while cur is not None and cur != int(current):
            parent = by_id.get(cur, {}).get("parent-snapshot-id")
            cur = int(parent) if parent is not None else None
        if cur is None:
            raise ValueError(
                f"branch {branch!r} (head {head}) has diverged from the "
                f"current snapshot {current}: not an ancestor, cannot "
                "fast-forward"
            )
    import time as _time

    doc = dict(doc)
    doc["current-snapshot-id"] = head
    doc["snapshot-log"] = doc.get("snapshot-log", []) + [
        {"timestamp-ms": int(_time.time() * 1000), "snapshot-id": head}
    ]
    return _commit_doc(table_dir, doc, prev_version)


def cherrypick_snapshot(
    spark: SparkSession,
    table_dir: str,
    source_snapshot_id: int,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """Iceberg's ``cherrypick_snapshot`` procedure: replay an APPEND
    snapshot's added data files as a NEW append on top of the current
    snapshot — the path for picking individual staged commits off a
    DIVERGED branch (where ``fast_forward`` refuses) or re-applying a
    commit orphaned by a rollback. Only append sources are supported,
    like Iceberg itself: deletes/replaces are defined relative to their
    parent's file set, so replaying them elsewhere is ill-defined.

    Metadata-only data plane: the source's file entries (with their
    stats) are re-committed at the next sequence number pointing at the
    SAME parquet files — no data is copied or rewritten."""
    import time

    from .manifests import decode_manifest, inherited_seq_of, read_avro_file, _resolve

    doc, prev_version = _load_doc(table_dir)
    src = next(
        (s for s in doc.get("snapshots", [])
         if int(s["snapshot-id"]) == int(source_snapshot_id)),
        None,
    )
    if src is None:
        raise ValueError(f"snapshot {source_snapshot_id} not in table")
    op = (src.get("summary") or {}).get("operation")
    if op != "append":
        raise ValueError(
            f"cherrypick supports append snapshots only; {source_snapshot_id} "
            f"is operation={op!r} (deletes/replaces are parent-relative)"
        )
    cur = doc.get("current-snapshot-id")
    if cur is not None and int(cur) == int(source_snapshot_id):
        raise ValueError("source snapshot is already current")

    mdir = os.path.join(table_dir, "metadata")
    seq = int(doc.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        snapshot_id if snapshot_id is not None
        else _default_snapshot_id(doc, seq)
    )
    timestamp_ms = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )

    # the files the source snapshot ADDED (status=1 entries attributed
    # to it), with their raw entry dicts so stats ride along verbatim
    fv = doc.get("format-version", 2)
    src_list = _resolve(
        os.path.join(mdir, "x"), src["manifest-list"].removeprefix("file:")
    )
    _, _, mrows = read_avro_file(src_list)
    added_entries: list[dict] = []
    for m in mrows:
        mpath = _resolve(src_list, m["manifest_path"])
        _, _, raw = read_avro_file(mpath)
        for e in raw:
            if e.get("status") != 1:
                continue
            sid = e.get("snapshot_id") or m.get("added_snapshot_id")
            if sid is None or int(sid) != int(source_snapshot_id):
                continue
            if (e.get("data_file") or {}).get("content", 0) != 0:
                raise ValueError(
                    "cherrypick source added delete files — not an "
                    "append-only snapshot"
                )
            added_entries.append(e)
    if not added_entries:
        raise ValueError(
            f"snapshot {source_snapshot_id} added no data files"
        )
    # refuse double-application: any of the files already live on the
    # current snapshot means the commit (or a prior pick) is present
    current_live = set()
    if cur is not None:
        cur_snap = next(
            s for s in doc["snapshots"] if s["snapshot-id"] == cur
        )
        from .manifests import live_data_file_dicts

        current_live = set(
            live_data_file_dicts(
                _resolve(
                    os.path.join(mdir, "x"),
                    cur_snap["manifest-list"].removeprefix("file:"),
                ),
                fv,
            )
        )
    dupes = [
        e["data_file"]["file_path"].removeprefix("file:")
        for e in added_entries
        if e["data_file"]["file_path"].removeprefix("file:") in current_live
    ]
    if dupes:
        raise ValueError(
            f"cherrypick would double-apply: {len(dupes)} of the source's "
            f"files are already live on the current snapshot "
            f"(e.g. {dupes[0]})"
        )

    manifest_path = os.path.join(
        mdir, f"manifest-{seq:05d}-{_uuid.uuid4().hex[:8]}.avro"
    )
    # partitioned sources keep their typed r102 record: rebuild the
    # entry schema from the spec + the entries' partition types
    ptypes: dict[str, str] = {}
    for e in added_entries:
        ptypes.update((e["data_file"] or {}).get("partition_types") or {})
    pfields = _partition_avro_fields(doc, ptypes)
    entry_schema = (
        manifest_entry_schema(pfields) if pfields else MANIFEST_ENTRY_SCHEMA_V2
    )
    def _repicked(df_rec: dict) -> dict:
        # REBUILD the typed r102 record from the entry's canonical
        # string partition_values instead of copying the decoded
        # partition verbatim: the r102 schema types time transforms as
        # int ordinals / logical dates (r10), so a legacy entry's
        # string values ("2024-03") would fail — or silently
        # mis-encode — under the new schema
        out = dict(df_rec)
        if pfields:
            out["partition"] = _typed_partition(
                df_rec.get("partition_values"), pfields
            )
        return out

    write_avro(
        spark, manifest_path, entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "data_file": _repicked(e["data_file"]),
            }
            for e in added_entries
        ],
        meta=_manifest_header_meta(doc, 0, "data"),
    )
    added_records = sum(
        int((e["data_file"] or {}).get("record_count") or 0)
        for e in added_entries
    )
    added_bytes = sum(
        int((e["data_file"] or {}).get("file_size_in_bytes") or 0)
        for e in added_entries
    )
    new_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(added_entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_records,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    total_records = added_records
    base = next(
        (s for s in doc.get("snapshots", []) if s.get("snapshot-id") == cur),
        None,
    )
    if base is not None:
        try:
            total_records += int(
                base.get("summary", {}).get("total-records", "0") or 0
            )
        except ValueError:
            pass
    prior_rows = _carry_forward_rows(mdir, doc)
    return _finalize_commit(
        table_dir, doc, prev_version, prior_rows + [new_row],
        snapshot_id, timestamp_ms, seq,
        _with_totals(
            {
                "operation": "append",
                "added-data-files": str(len(added_entries)),
                "added-records": str(added_records),
                "total-records": str(total_records),
                "added-files-size": str(added_bytes),
                "cherry-picked-snapshot-id": str(source_snapshot_id),
            },
            doc, cur,
            len(added_entries), added_bytes, 0,
        ),
    )


def create_ref(
    table_dir: str, name: str, snapshot_id: int, ref_type: str = "tag"
) -> str:
    """Metadata-only commit adding a named ref (Iceberg ``refs``: tags
    pin a snapshot forever, branches are movable heads) — what makes
    ``VERSION AS OF 'name'`` resolvable."""
    if ref_type not in ("tag", "branch"):
        raise ValueError("ref_type must be 'tag' or 'branch'")
    doc, prev_version = _load_doc(table_dir)
    ids = {s["snapshot-id"] for s in doc.get("snapshots", [])}
    if snapshot_id not in ids:
        raise ValueError(f"snapshot {snapshot_id} not in table (have {sorted(ids)})")
    doc = dict(doc)
    refs = dict(doc.get("refs", {}))
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    doc["refs"] = refs
    return _commit_doc(table_dir, doc, prev_version)


def drop_ref(table_dir: str, name: str) -> str:
    doc, prev_version = _load_doc(table_dir)
    refs = dict(doc.get("refs", {}))
    if name not in refs:
        raise ValueError(f"no ref named {name!r}")
    del refs[name]
    doc = dict(doc)
    doc["refs"] = refs
    return _commit_doc(table_dir, doc, prev_version)
