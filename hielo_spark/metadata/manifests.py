"""Iceberg manifest-list / manifest readers without the Iceberg runtime.

SURVEY §2.1 S7's deepest blocked piece: the reference loads snapshots AND
their file inventory from the catalog (iceberg_adapter.rs:11-65); Spark's
``t.files`` / ``t.manifests`` metadata tables need the
iceberg-spark-runtime jar, which this environment cannot obtain (verified
rounds 1-3: no jar on disk, no network). The *data* needed is just Avro
container files referenced from the table-metadata JSON. r1-r4 parsed
them by driving Spark's bundled Apache Avro JVM library through py4j;
r5 switched decoding to the pure-Python container reader
(``metadata/avro_py.py``) — the per-field py4j round-trips dominated
planning time (measured against the Python DataSource on an identical
scan), and one decoder now serves every plane; its twin encoder
(``avro_py.write_avro_file``) writes every manifest. The JVM library
remains the conformance tests' independent reader. Output frames are unchanged
(``files_from_orders`` shape → `files.py::file_size_histogram` runs
unchanged on real tables).

Scale note — deliberately driver-side: manifest parsing is the *planning*
plane. A manifest list is one row per manifest (~KBs); manifests cover
thousands of data files each (a million-file table ≈ 100 manifests). Every
query engine's planner reads these centrally before distributing work; at
larger counts the distributed path is `spark.read.format("avro")`
(spark-avro jar) or the Iceberg metadata tables themselves — both
jar-gated here. The JVM objects never cross to executors.

Planning is shared by both read planes: ``select_snapshot`` /
``read_schema_block``, ``live_entries`` (the one manifest-entry record),
``_file_may_match`` (the one bounds comparator) and the delete planners
``_prune_pos_deletes`` / ``_dv_per_file`` serve ``read_data_at_snapshot``
here and the ``hielo_iceberg`` DataSource readers alike. The planes
differ only in execution: Spark anti-joins here, in-task Arrow delete
kernels there.

Every frame built here from driver-held rows (manifest list, manifest
entries, the per-file ``seq_map`` / ``dmap`` / ``lmap`` maps the scan
broadcasts, DV blob coordinates, empty read frames) goes through
``io.local_frame``: an Arrow-backed ``LocalRelation`` whose ``collect()``
runs no Spark job and whose broadcast needs no Python worker. The one
exception is the driver-decoded DV positions frame (one row per deleted
position; see the comment at its site).
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..io import local_frame
from .avro_py import read_avro_file
from .lineage import chain as lineage_chain

# Iceberg spec field names; v1/v2 disagree on the count columns
# (https://iceberg.apache.org/spec/#manifest-lists — public spec).
# DV rehydration: total cardinalities at or below this decode driver-
# side (skips a Python-worker stage); above it, executors read + decode
# each blob from its (path, offset, size) coordinates beside the scan
_DV_DRIVER_DECODE_MAX = 1_000_000

_COUNT_ALIASES = {
    "added_files_count": ("added_files_count", "added_data_files_count"),
    "existing_files_count": ("existing_files_count", "existing_data_files_count"),
    "deleted_files_count": ("deleted_files_count", "deleted_data_files_count"),
}


def inherited_seq_of(m: dict, format_version: int = 2) -> int | None:
    """The sequence number a manifest-list row passes down to entries
    with a null/absent one. Spec v1→v2 inheritance: reading v1 metadata,
    ALL sequence numbers default to 0 — so under ``format_version=1`` a
    missing value is 0. Under v2 the field is required; a missing/null
    value is malformed and yields None (the conservative
    apply-to-everything fallback for delete scoping)."""
    v = m.get("sequence_number")
    if v is None and int(format_version or 2) == 1:
        return 0
    return v


def live_entries(
    manifest_list_path: str,
    format_version: int = 2,
    table_root: str | None = None,
) -> list[dict]:
    """Every live (status != 2) manifest entry of a snapshot, of any
    content kind, as one dict each — the planning record both read
    planes, the maintenance planners and the metadata surfaces consume.
    One avro pass over the list plus one per manifest, no Spark.

    Keys: ``content`` (0 data / 1 position deletes or DVs / 2 equality
    deletes), ``status``, ``path`` (``_norm_ref_path`` against
    ``table_root``), ``file_path`` (as recorded), ``seq`` and ``sid``
    (inherited from the manifest list when the entry leaves them null),
    ``records``, ``size``, ``pvals``/``ptypes`` (the engine's string
    maps), ``partition`` (the spec's typed record), ``spec_id`` (the
    manifest's partition spec), ``lb``/``ub``/``bt``/``nc``/``nanc``
    (the bounds record ``_file_may_match`` reads), ``dv`` (deletion
    vector blob coordinates), ``frid`` (v3 first_row_id),
    ``equality_ids`` and ``manifest`` (the owning manifest's path as the
    list records it — what a rewrite of that manifest is keyed by)."""
    _, _, mlist_rows = read_avro_file(manifest_list_path)
    out: list[dict] = []
    for m in mlist_rows:
        spec_id = int(m.get("partition_spec_id") or 0)
        for t, rec in _decode_entries(
            _resolve(manifest_list_path, m["manifest_path"]),
            inherited_seq_of(m, format_version),
            m.get("added_snapshot_id"),
        ):
            (status, sid, fpath, _fmt, records, size, content, seq,
             pvals, ptypes, lb, ub, bt, nc, _dc, dv, frid, nanc) = t
            if status == 2:
                continue
            out.append({
                "content": content, "status": status,
                "path": _norm_ref_path(fpath, table_root),
                "file_path": fpath, "seq": seq, "sid": sid,
                "records": records, "size": size,
                "pvals": pvals, "ptypes": ptypes,
                "partition": rec.get("partition"), "spec_id": spec_id,
                "lb": lb, "ub": ub, "bt": bt, "nc": nc, "nanc": nanc,
                "dv": dv, "frid": frid,
                "equality_ids": rec.get("equality_ids"),
                "manifest": m["manifest_path"],
            })
    return out


def live_data_file_dicts(
    manifest_list_path: str, format_version: int = 2
) -> dict[str, dict]:
    """The live DATA files of a snapshot as :func:`live_entries` records
    keyed by path (the recorded path minus a ``file:`` scheme, which is
    also each record's ``path``) — shared by the incremental/changelog
    planners and the commit plane's candidate pruning."""
    out: dict[str, dict] = {}
    for e in live_entries(manifest_list_path, format_version):
        if e["content"] == 0:
            p = e["file_path"].removeprefix("file:")
            out[p] = {**e, "path": p}
    return out


def read_manifest_list(spark: SparkSession, path: str) -> DataFrame:
    """One row per manifest in an Iceberg manifest-list Avro file.

    r5: decoded by the pure-Python Avro reader (metadata/avro_py.py)
    instead of py4j-driven JVM record walking — the per-field py4j
    round-trips dominated time-travel planning (measured 2.8 s vs
    0.7 s for the same scan through the Python DataSource); output
    frame unchanged."""
    _, _, raw = read_avro_file(path)
    rows = []
    for r in raw:
        def count(name):
            for alias in _COUNT_ALIASES[name]:
                v = r.get(alias)
                if v is not None:
                    return int(v)
            return None

        def opt_int(v):
            return int(v) if v is not None else None

        content = r.get("content")
        rows.append(
            (
                str(r.get("manifest_path")),
                opt_int(r.get("manifest_length")),
                opt_int(r.get("partition_spec_id")),
                opt_int(r.get("added_snapshot_id")),
                count("added_files_count"),
                count("existing_files_count"),
                count("deleted_files_count"),
                int(content) if content is not None else 0,
                opt_int(r.get("sequence_number")),
                opt_int(r.get("added_rows_count")),
                opt_int(r.get("existing_rows_count")),
                opt_int(r.get("deleted_rows_count")),
            )
        )
    return local_frame(
        spark,
        rows,
        "manifest_path string, manifest_length long, partition_spec_id int, "
        "added_snapshot_id long, added_files_count int, existing_files_count int, "
        "deleted_files_count int, content int, sequence_number long, "
        "added_rows_count long, existing_rows_count long, deleted_rows_count long",
    )


#: Iceberg primitive → the Spark dtype names the skip-filter comparators
#: understand (synthesized bounds_types when decoding SPEC binary bounds)
_ICEBERG_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "date": "date",
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "string": "string", "binary": "binary",
}


def _java_bytes(bb) -> bytes:
    """java.nio.ByteBuffer (Avro bytes field) → Python bytes."""
    arr = bb.array()
    off = bb.arrayOffset() + bb.position()
    return bytes(arr[off : bb.arrayOffset() + bb.limit()])


def _py_kv_list(v) -> dict[int, object]:
    """Iceberg's Avro array-of-(key,value)-records map form (Appendix A)
    → {int key: java value}."""
    out: dict[int, object] = {}
    it = v.iterator()
    while it.hasNext():
        rec = it.next()
        out[int(str(rec.get("key")))] = rec.get("value")
    return out


def decode_manifest(
    path: str,
    inherited_seq: int | None = None,
    inherited_snapshot_id: int | None = None,
) -> list[tuple]:
    """Pure-Python manifest decode — the tuples behind
    :func:`read_manifest`'s frame, consumable directly by the planning
    plane without a createDataFrame/collect round-trip per manifest
    (r5 measurement: those Spark hops, not the Avro walking, dominated
    time-travel planning — three of them cost ~3 s on an 8-file
    snapshot).

    ``inherited_snapshot_id``: per the spec (manifest_entry field 0),
    a null entry ``snapshot_id`` is INHERITED from the manifest list's
    ``added_snapshot_id`` — Java Iceberg writes nulls and relies on
    this, so without it foreign tables' files lose their adding
    snapshot (mis-attributing changelog/incremental scans). Pass the
    owning manifest's ``added_snapshot_id``; our own writer records
    explicit ids, which take precedence."""
    return [
        t for t, _rec in
        _decode_entries(path, inherited_seq, inherited_snapshot_id)
    ]


def _decode_entries(
    path: str,
    inherited_seq: int | None,
    inherited_snapshot_id: int | None,
) -> list[tuple[tuple, dict]]:
    """:func:`decode_manifest`'s tuples, each paired with the entry's
    raw ``data_file`` record (for the fields the tuple leaves out:
    ``equality_ids``, the typed ``partition`` record)."""
    import json as _json

    _, meta, raw = read_avro_file(path)
    id2field: dict[int, tuple[str, str]] = {}
    if meta.get("schema"):
        try:
            for f in _json.loads(meta["schema"].decode("utf-8")).get("fields", []):
                if isinstance(f.get("type"), str):
                    id2field[int(f["id"])] = (f["name"], f["type"])
        except ValueError:
            pass

    def _smap(v):
        return {str(k): str(x) for k, x in v.items()} if v else None

    def _map_or_spec(rec, ext_name, spec_name, decode):
        v = rec.get(ext_name)
        if v is not None:
            return _smap(v)
        v = rec.get(spec_name)
        if v is None:
            return None
        if isinstance(v, dict):  # legacy: string map under the spec name
            return _smap(v)
        out = {}
        for kv in v:  # spec kv-array map
            f = id2field.get(int(kv["key"]))
            if f is None or kv.get("value") is None:
                continue
            out[f[0]] = decode(f[1], kv["value"])
        return out or None

    def _decode_bound(itype, val):
        from .values import deserialize_value

        return deserialize_value(itype, val)

    def _decode_long(_itype, val):
        return str(int(val))

    rows = []
    for r in raw:
        df_rec = r.get("data_file") or {}
        fcontent = df_rec.get("content")
        seq = r.get("sequence_number")
        lb = _map_or_spec(df_rec, "lower_bounds_str", "lower_bounds", _decode_bound)
        ub = _map_or_spec(df_rec, "upper_bounds_str", "upper_bounds", _decode_bound)
        bt = _smap(df_rec.get("bounds_types"))
        if bt is None and (lb or ub) and id2field:
            bt = {
                name: _ICEBERG_TO_SPARK.get(itype, itype)
                for name, itype in id2field.values()
                if name in (lb or {}) or name in (ub or {})
            }
        sid = r.get("snapshot_id")
        rows.append((
            (
                int(r.get("status")),
                int(sid) if sid is not None else inherited_snapshot_id,
                df_rec.get("file_path"),
                df_rec.get("file_format"),
                int(df_rec.get("record_count") or 0),
                int(df_rec.get("file_size_in_bytes") or 0),
                int(fcontent) if fcontent is not None else 0,
                int(seq) if seq is not None else inherited_seq,
                _smap(df_rec.get("partition_values")),
                _smap(df_rec.get("partition_types")),
                lb,
                ub,
                bt,
                _map_or_spec(df_rec, "null_counts", "null_value_counts", _decode_long),
                _map_or_spec(df_rec, "distinct_counts_str", "distinct_counts", _decode_long),
                # v3 deletion vector: which data file this content=1
                # entry deletes from and where its blob lives inside
                # the Puffin file at file_path
                (
                    {
                        "referenced": str(df_rec["referenced_data_file"]),
                        "offset": int(df_rec.get("content_offset") or 0),
                        "size": int(
                            df_rec.get("content_size_in_bytes") or 0
                        ),
                    }
                    if df_rec.get("referenced_data_file") is not None
                    else None
                ),
                # v3 row lineage: the file's first _row_id (142)
                (
                    int(df_rec["first_row_id"])
                    if df_rec.get("first_row_id") is not None
                    else None
                ),
                # spec field 137: per-column NaN row counts — bounds
                # exclude NaN per spec, so >/>= pruning on float columns
                # must consult this to keep files whose only matching
                # rows are NaN (Spark SQL ranks NaN above every double)
                _map_or_spec(df_rec, "nan_counts", "nan_value_counts", _decode_long),
            ),
            df_rec,
        ))
    return rows


def read_manifest(
    spark: SparkSession,
    path: str,
    inherited_seq: int | None = None,
    inherited_snapshot_id: int | None = None,
) -> DataFrame:
    """One row per data-file entry in an Iceberg manifest Avro file.

    ``status``: 0 existing / 1 added / 2 deleted (spec); deleted entries
    are kept so callers can filter — the live file set is status != 2.

    ``sequence_number`` is the entry's data sequence number. Per the v2
    spec a null entry sequence number is inherited from the manifest
    list's ``sequence_number`` (``inherited_seq`` here — the spec allows
    inheritance only for ADDED entries, but null on EXISTING/DELETED is
    malformed rather than meaningful, so we inherit there too instead of
    failing). v1 manifests carry no sequence numbers at all → null.
    ``snapshot_id`` inherits the same way (spec field 0): a null entry
    snapshot id resolves to ``inherited_snapshot_id`` — pass the
    manifest list row's ``added_snapshot_id`` (Java Iceberg writes
    nulls in fresh manifests and relies on this inheritance).

    Stats resolution (r5): the engine-extension string maps
    (``lower_bounds_str``/``upper_bounds_str``/``null_counts``/
    ``distinct_counts_str``) are the fast path; when absent, the SPEC's
    field-id-keyed forms (125/128 binary bounds per Appendix D, 110
    null_value_counts, 111 distinct_counts) are decoded through the
    manifest header's ``schema`` metadata — so a manifest written by a
    real Iceberg writer yields the same bounds/skipping frames as our
    own. Legacy pre-r5 tables (string maps under the spec names) still
    read via the name fallback. Decoded by the pure-Python Avro reader
    (same planning-speed rationale as read_manifest_list).
    """
    rows = [
        r[:15] + (r[17],)
        for r in decode_manifest(path, inherited_seq, inherited_snapshot_id)
    ]
    return local_frame(
        spark,
        rows,
        "status int, snapshot_id long, file_path string, file_format string, "
        "record_count long, file_size_in_bytes long, content int, sequence_number long, "
        "partition_values map<string,string>, partition_types map<string,string>, "
        "lower_bounds map<string,string>, upper_bounds map<string,string>, "
        "bounds_types map<string,string>, null_counts map<string,string>, "
        "distinct_counts map<string,string>, nan_counts map<string,string>",
    )


def _resolve(base_path: str, p: str) -> str:
    """Manifest paths are absolute URIs in real tables; tolerate relative
    fixture paths and the file: scheme."""
    import os

    local = p[len("file:"):] if p.startswith("file:") else p
    if not os.path.isabs(local):
        local = os.path.join(os.path.dirname(base_path), local)
    return local


_REF_SCHEME_RE = None


def _norm_ref_path(p, table_root: str | None = None) -> str:
    """Foreign file_path forms → a comparable local form: URI schemes
    stripped (``file:/a``, ``file:///a`` → ``/a``), ``./``-relative and
    bare-relative resolved against the table root. The read plane's
    tolerance for paths another engine's writer may record (the spec
    says full URIs SHOULD be used; silent under-deletes on a legal
    variant are worse than the normalization)."""
    global _REF_SCHEME_RE
    if _REF_SCHEME_RE is None:
        import re

        _REF_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9.+-]*:/+")
    s = _REF_SCHEME_RE.sub("/", str(p))
    if not s.startswith("/") and table_root:
        import os

        s = os.path.join(
            table_root, s[2:] if s.startswith("./") else s
        )
    return s


def select_snapshot(
    doc: dict, snapshot_id=None, as_of_ms=None, ref: str | None = None
) -> dict:
    """The snapshot a read resolves to: by id, by named ``ref``, by
    ``as_of_ms`` (the latest MAIN-line snapshot committed at or before
    that instant, mirroring ``TIMESTAMP AS OF``), or — none given — the
    ``current-snapshot-id`` snapshot (newest by timestamp when the
    pointer is absent). Ids and instants may be int-like strings (the
    DataSource options). At most one selector may be passed."""
    snaps = sorted(doc.get("snapshots", []), key=lambda s: int(s["timestamp-ms"]))
    if not snaps:
        raise ValueError("table has no snapshots")
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    if ref is not None:
        refs = doc.get("refs", {})
        if ref not in refs:
            raise ValueError(f"no ref named {ref!r} (have {sorted(refs)})")
        snapshot_id = refs[ref]["snapshot-id"]
    if snapshot_id is not None:
        match = next(
            (s for s in snaps if int(s["snapshot-id"]) == int(snapshot_id)),
            None,
        )
        if match is None:
            raise ValueError(
                f"snapshot {snapshot_id} not in table (have "
                f"{sorted(int(s['snapshot-id']) for s in snaps)})"
            )
        return match
    if as_of_ms is not None:
        # TIMESTAMP AS OF resolves against the MAIN branch's history
        # (Iceberg: the snapshot log tracks current-snapshot-id flips),
        # never against staged branch-only commits — otherwise a read
        # taken after `append(branch=...)` would leak unpublished,
        # unaudited rows and break write-audit-publish isolation.
        # Tables with no current pointer (legacy/synthetic) fall back
        # to all snapshots.
        from .lineage import main_line_ids

        main = main_line_ids(doc)
        cands = [s for s in snaps if not main or int(s["snapshot-id"]) in main]
        before = [s for s in cands if int(s["timestamp-ms"]) <= int(as_of_ms)]
        if not before:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return before[-1]
    # the default read follows current-snapshot-id (rollback flips it,
    # staged BRANCH commits never move it)
    cur = doc.get("current-snapshot-id")
    return next(
        (s for s in snaps if cur is not None and int(s["snapshot-id"]) == int(cur)),
        snaps[-1],
    )


def read_schema_block(doc: dict, snapshot: dict | None = None) -> dict | None:
    """The schema a data read resolves under. A LATEST read (``snapshot``
    None) scans under the table's CURRENT schema — ``update_schema`` is
    a metadata-only commit that adds no snapshot, so a snapshot's
    recorded schema-id can lag current-schema-id. TIME TRAVEL passes
    the selected snapshot and reads under its recorded ``schema-id``, so
    history shows its historical shape (current when the snapshot
    predates schema-id tracking)."""
    from .metadata_json import current_schema_block

    sid = (snapshot or {}).get("schema-id")
    if sid is not None:
        blk = next(
            (s for s in doc.get("schemas", []) if s.get("schema-id") == sid),
            None,
        )
        if blk is not None:
            return blk
    return current_schema_block(doc)


def historical_names(doc: dict, schema: dict) -> dict[str, list[str]]:
    """``{field name: its other names}`` for each field of ``schema``
    that has any: names the same field id carries elsewhere in the
    schema history (most recent first), then its
    ``schema.name-mapping.default`` names (spec Appendix C). Our parquet
    carries no Iceberg field ids, so a file written before a rename
    resolves its columns — and its manifest bounds — through these. A
    rename is authoritative (the file was OURS); the mapping is the
    import-time fallback for files whose names never matched any
    Iceberg schema name."""
    from .metadata_json import parse_name_mapping

    by_id = sorted(doc.get("schemas") or [], key=lambda s: int(s.get("schema-id", 0)))
    nmap = parse_name_mapping(doc)
    out: dict[str, list[str]] = {}
    for f in schema.get("fields", []):
        hist: list[str] = []
        for s in by_id:
            for g in s.get("fields", []):
                if g["id"] == f["id"] and g["name"] != f["name"] \
                        and g["name"] not in hist:
                    hist.append(g["name"])
        hist = hist[::-1]  # most recent old name first
        for n in nmap.get(f["id"], []):
            if n != f["name"] and n not in hist:
                hist.append(n)
        if hist:
            out[f["name"]] = hist
    return out


def files_from_manifest_list(
    spark: SparkSession,
    table_name: str,
    manifest_list_path: str,
    content: int | None = 0,
    manifest_rows: list | None = None,
    with_spec_id: bool = False,
) -> DataFrame:
    """The ``t.files`` frame of a snapshot, straight from its manifest
    list: parse the list, parse each referenced manifest, keep live
    entries (status != 2 deleted) of the requested ``content`` kind
    (0 data files — the default, `file_size_histogram`-compatible;
    1 position deletes; 2 equality deletes; ``None`` for ALL kinds in
    one pass, with a ``content`` column in the output — the shape
    maintenance planning aggregates over without re-walking the list
    per kind), and emit the canonical files shape plus each file's data
    ``sequence_number`` (entry-level, inherited from the manifest list
    when null — the key MOR deletes are scoped by; null when the table
    carries no sequence metadata). ``manifest_rows`` reuses an already
    collected ``read_manifest_list`` result so a caller that also needs
    manifest-level facts reads the list exactly once."""
    from pyspark.sql import functions as F

    mlist = (
        manifest_rows
        if manifest_rows is not None
        else read_manifest_list(spark, manifest_list_path).collect()
    )
    out = None
    for m in mlist:
        # manifest-level content (v2): 0 data / 1 deletes — skip whole
        # manifests of the wrong kind before parsing them
        if content is not None and (m.content == 1) != (content != 0):
            continue
        entries = read_manifest(
            spark,
            _resolve(manifest_list_path, m.manifest_path),
            inherited_seq=m.sequence_number,
            inherited_snapshot_id=m.added_snapshot_id,
        )
        if with_spec_id:
            # each manifest belongs to exactly ONE partition spec (the
            # manifest_file's partition-spec-id, field 502) — stamp it
            # per entry so mixed-spec tables attribute files correctly
            entries = entries.withColumn(
                "spec_id",
                F.lit(int(getattr(m, "partition_spec_id", None) or 0)),
            )
        out = entries if out is None else out.unionByName(entries)
    content_cols = ["content"] if content is None else []
    if with_spec_id:
        content_cols = content_cols + ["spec_id"]
    if out is None:
        return local_frame(
            spark,
            [],
            "table_name string, "
            + ("content int, " if content is None else "")
            + ("spec_id int, " if with_spec_id else "")
            + "file_path string, file_size_in_bytes long, "
            "record_count long, sequence_number long, "
            "partition_values map<string,string>, partition_types map<string,string>, "
            "lower_bounds map<string,string>, upper_bounds map<string,string>, "
            "bounds_types map<string,string>, null_counts map<string,string>, "
            "distinct_counts map<string,string>, nan_counts map<string,string>",
        )
    live = (
        out.filter(F.col("status") != 2)
        if content is None
        else out.filter((F.col("status") != 2) & (F.col("content") == content))
    )
    return (
        live
        .select(
            F.lit(table_name).alias("table_name"),
            *content_cols,
            "file_path",
            "file_size_in_bytes",
            "record_count",
            "sequence_number",
            "partition_values",
            "partition_types",
            "lower_bounds",
            "upper_bounds",
            "bounds_types",
            "null_counts",
            "distinct_counts",
            "nan_counts",
        )
    )


_NUMERIC_BOUND_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)

_SKIP_OPS = ("=", ">", ">=", "<", "<=", "in", "is_null", "is_not_null")


def _trim_ts_fraction(s: str) -> str:
    """Trim trailing fraction zeros from a timestamp string so padded
    pre-fix bounds ('…05.100000') compare equal to the canonical
    trimmed form ('…05.1') — normalizing at COMPARISON time covers
    manifests written before the write-side trimming fix."""
    if "." not in s:
        return s
    head, frac = s.rsplit(".", 1)
    frac = frac.rstrip("0")
    return f"{head}.{frac}" if frac else head


def _canon_ts_value(s: str) -> str | None:
    """Canonicalize a timestamp literal to the bound-string rendering
    (values._format_ts shape: space separator, trimmed fraction).
    None when the literal doesn't parse — caller must not prune."""
    from .values import _format_ts, _parse_ts_micros

    try:
        return _format_ts(_parse_ts_micros(s.replace("T", " ")))
    except (ValueError, TypeError):
        return None


def _incr_bytes(p: bytes) -> bytes | None:
    """The smallest byte string strictly greater than every string
    with prefix ``p`` (rightmost non-0xFF byte incremented, the rest
    truncated); None when ``p`` is all 0xFF (no upper bound)."""
    b = bytearray(p)
    for i in range(len(b) - 1, -1, -1):
        if b[i] != 0xFF:
            return bytes(b[:i]) + bytes([b[i] + 1])
    return None


def _file_may_match(
    f: dict, skip_filter: tuple, aliases: dict[str, list[str]] | None = None
) -> bool:
    """Can a file's manifest bounds satisfy ``(col, op, value)``? The one
    file-level comparator of both read planes (the DataSource maps its
    pushed filters onto it in ``_file_survives``) and of the commit
    plane's candidate pruning; ``f`` is a :func:`live_entries` record.
    True on any missing information (no bounds recorded, unknown column,
    unknown op) — skipping must never drop a possibly-matching file.
    Numeric types compare as floats (decimals exactly via Decimal);
    strings/dates/timestamps compare lexicographically on their
    CANONICALIZED stringified form (ISO timestamps sort correctly as
    strings once both sides have trailing fraction zeros trimmed).
    Beyond ``_SKIP_OPS`` it answers ``startswith`` (string prefix).

    ``aliases`` maps a column's CURRENT name to its historical names
    (evolved_read_plan's shape): a file written before a rename carries
    its bounds under the old name, so pruning consults those keys too —
    otherwise a renamed-column filter silently stops pruning."""
    col, op, value = skip_filter
    if op == "in":
        # any listed value may match; SQL null in the list matches no
        # row, and an empty list matches nothing (prunes every file —
        # the caller then returns the empty frame)
        return any(
            _file_may_match(f, (col, "=", v), aliases)
            for v in (value or ()) if v is not None
        )
    lb, ub, bt = f.get("lb") or {}, f.get("ub") or {}, f.get("bt") or {}
    # resolve the filter's current-name column to whichever name this
    # file's stats were recorded under (current first, then history)
    key = col
    if key not in bt and aliases:
        key = next(
            (a for a in aliases.get(col, ()) if a in bt or a in lb), col
        )
    if op in ("is_null", "is_not_null"):
        nc_map = f.get("nc") or {}
        nc = nc_map.get(key if key in nc_map else col)
        records = f.get("records")
        if nc is None or records is None:
            return True
        return int(nc) > 0 if op == "is_null" else int(nc) < int(records)
    lo, hi = lb.get(key), ub.get(key)
    if lo is None or hi is None:
        # no bounds, but an ALL-NULL column provably matches no
        # comparison (SQL null semantics). NaN-masked float bounds
        # also read absent; there nulls < records, so all-NaN files
        # are never pruned here (NaN can match >/>=).
        nc_map = f.get("nc") or {}
        nc = nc_map.get(key if key in nc_map else col)
        records = f.get("records")
        if nc is not None and records and int(nc) == int(records):
            return False
        return True
    btype = bt.get(key) or ""
    if op == "startswith":
        # v startswith p <=> p <= v < incr(p): prune when the bounds
        # range can't intersect that interval (string bounds only;
        # UTF-8 byte order == code-point order)
        if btype != "string" or not isinstance(value, str):
            return True
        pb = value.encode("utf-8", "surrogatepass")
        up = _incr_bytes(pb)
        return str(hi).encode("utf-8", "surrogatepass") >= pb and (
            up is None or str(lo).encode("utf-8", "surrogatepass") < up
        )
    if btype in _NUMERIC_BOUND_TYPES:
        try:
            lo, hi, value = float(lo), float(hi), float(value)
        except (TypeError, ValueError):
            return True
        import math

        # NaN-contaminated bounds (foreign or pre-r12 writers — the
        # spec excludes NaN from bounds, but Spark's max() ranks NaN
        # above every double): every comparison against NaN is False,
        # which would wrongly PRUNE — treat the bound as absent.
        if math.isnan(lo) or math.isnan(hi):
            return True
        if math.isnan(value):
            # Spark SQL: NaN = NaN is true, NaN >= NaN is true, and no
            # finite value compares above NaN — only files holding NaN
            # rows can match =/>= NaN, and > NaN matches nothing.
            nanc = (f.get("nanc") or {}).get(key)
            if nanc is not None:
                n = int(nanc)
                if op in ("=", ">="):
                    return n > 0
                if op == ">":
                    return False
                return True  # </<= NaN: any non-NaN row matches
            return True  # unknown NaN population: keep
        if op in (">", ">="):
            # bounds are NaN-free per spec, but Spark ranks NaN above
            # every double: a file whose ONLY matching rows are NaN
            # still matches > / >= any finite value
            nanc = (f.get("nanc") or {}).get(key)
            if nanc is not None and int(nanc) > 0:
                return True
    elif btype.startswith("decimal"):
        from decimal import Decimal, InvalidOperation

        try:
            lo, hi, value = Decimal(lo), Decimal(hi), Decimal(str(value))
        except (InvalidOperation, TypeError, ValueError):
            return True
    else:
        # string-compared bound types: only a STRING literal can prune
        # (an unquoted numeric on a string column stringifies as
        # '123.0' vs bound '123' — falsely pruning; contribute nothing)
        if not isinstance(value, str):
            return True
        if btype.startswith("timestamp"):
            # canonicalize BOTH sides: the literal to the bound-string
            # rendering ('…00.500000' → '…00.5'), and the bounds
            # themselves (pre-fix manifests carry padded fractions)
            canon = _canon_ts_value(value)
            if canon is None:
                return True
            value = canon
            lo, hi = _trim_ts_fraction(lo), _trim_ts_fraction(hi)
    if op == "=":
        return lo <= value <= hi
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    return True


def _prune_pos_deletes(
    pos_delete_files: list[dict], data_paths: list[str]
) -> list[dict]:
    """Skip position-delete files whose ``file_path`` bounds can't
    reference any of ``data_paths`` — the delete-side twin of data-file
    skipping (a 100 TB table's scan of one partition must not
    materialize every delete file in the snapshot). Both read planes
    call it: for a scan's surviving files, and per file when the
    DataSource attaches each task's deletes. A delete file without
    bounds (older writers) is kept — pruning never drops a
    possibly-applicable file."""
    import bisect

    def norm(s: str) -> str:
        return s[5:] if s.startswith("file:") else s

    paths = sorted(norm(p) for p in data_paths)

    def may_reference(d: dict) -> bool:
        lo = (d.get("lb") or {}).get("file_path")
        hi = (d.get("ub") or {}).get("file_path")
        if lo is None or hi is None:
            return True
        lo, hi = norm(lo), norm(hi)
        if not (lo.startswith("/") and hi.startswith("/")):
            # foreign path forms (s3://, ./-relative): the raw-string
            # min/max is NOT the min/max of the normalized paths —
            # never prune on it (row-level application stays exact)
            return True
        i = bisect.bisect_left(paths, lo)
        return i < len(paths) and paths[i] <= hi

    return [d for d in pos_delete_files if may_reference(d)]


def _pos_deletes_predate_files(
    pos_delete_files: list[dict], dv_best: dict[str, dict],
    data_files: list[dict],
) -> bool:
    """Whether some position-delete file or deletion vector may
    reference a data file with a HIGHER sequence number, so that the
    spec's ``delete_seq >= data_seq`` scoping must be applied per row.
    Decided from the manifests: a delete file may reference the data
    files inside its ``file_path`` bounds (every file when it has none,
    as in :func:`_prune_pos_deletes`), a DV its one referenced file. A
    null sequence number on either side applies, as the row rule does."""
    import bisect

    def norm(s: str) -> str:
        return s[5:] if s.startswith("file:") else s

    files = sorted((norm(f["path"]), f["seq"]) for f in data_files)
    paths = [p for p, _ in files]

    def later(dseq, seqs) -> bool:
        return dseq is not None and any(
            s is not None and s > dseq for s in seqs
        )

    for d in pos_delete_files:
        lo = (d.get("lb") or {}).get("file_path")
        hi = (d.get("ub") or {}).get("file_path")
        span = files
        if lo is not None and hi is not None:
            lo, hi = norm(lo), norm(hi)
            if lo.startswith("/") and hi.startswith("/"):
                span = files[
                    bisect.bisect_left(paths, lo):bisect.bisect_right(paths, hi)
                ]
        if later(d["seq"], (s for _, s in span)):
            return True
    seq_of = dict(files)
    return any(
        later(d["seq"], [seq_of.get(norm(p))]) for p, d in dv_best.items()
    )


def _dv_per_file(
    pos_entries: list[dict], data_paths, table_root: str | None = None
) -> dict[str, dict]:
    """``{data path: deletion-vector entry}`` for the files in
    ``data_paths``: at most one DV applies per data file (the spec's
    invariant; our writer merges the prior DV into each new one, so the
    max-sequence DV is a superset of every older one). DVs of files
    outside ``data_paths`` are dropped, so pruned-away files' blobs are
    never fetched. References match on absolute normalized paths."""
    import os

    want = {os.path.abspath(p): p for p in data_paths}
    best: dict[str, dict] = {}
    for d in pos_entries:
        if not d.get("dv"):
            continue
        p = want.get(os.path.abspath(
            _norm_ref_path(d["dv"]["referenced"], table_root)
        ))
        if p is None:
            continue
        cur = best.get(p)
        if cur is None or (d["seq"] or 0) > (cur["seq"] or 0):
            best[p] = d
    return best


def _row_predicate(skip_filter: tuple):
    """The row-level Column for ``(col, op, value)`` — applied after file
    skipping so the result is exact, not just a file superset."""
    col, op, value = skip_filter
    c = F.col(col)
    if op == "in":
        vals = [v for v in (value or ()) if v is not None]
        return c.isin(vals) if vals else F.lit(False)
    return {
        "=": c == value,
        ">": c > value,
        ">=": c >= value,
        "<": c < value,
        "<=": c <= value,
        "is_null": c.isNull(),
        "is_not_null": c.isNotNull(),
    }[op]


def _scan_ddl(t) -> str:
    """The Spark DDL a table column scans under: v3 variant rides in its
    parquet shape and geometry/geography as WKB binary (the read plane
    decodes both after the scan); every other type is
    :func:`types.iceberg_to_ddl`'s, which names any type it cannot map."""
    from .types import iceberg_to_ddl

    if t == "variant":
        return "struct<metadata:binary,value:binary>"
    if isinstance(t, str) and t.split("(")[0] in ("geometry", "geography"):
        return "binary"
    return iceberg_to_ddl(t)


def evolved_read_plan(
    doc: dict, schema_id: int | None = None, data_files: list[dict] = (),
) -> tuple[list[tuple], dict[str, list[str]]]:
    """``(schema_cols, aliases)``: the one schema plan every DataFrame-
    plane read of data files scans under (snapshot reads, incremental
    and changelog scans, DELETE/MERGE candidate scans), taken from the
    table metadata, never from parquet footers. ``schema_cols`` is
    ``[(name, spark_ddl)]`` of the requested schema's fields in order
    (``schema_id``; the current schema when it is None or unknown);
    ``aliases`` maps a field's CURRENT name to its older names (most
    recent first) collected by field-id across the schema history, and
    is empty when nothing was renamed — our parquet files carry no
    Iceberg field ids, so renamed columns resolve through this
    name-mapping fallback (the spec's ``schema.name-mapping.default``
    mechanism) instead of id-based column resolution. A
    ``schema.name-mapping.default`` table property (spec Appendix C)
    extends each field's fallback list with its MAPPED physical names —
    the case where the parquet names never matched ANY Iceberg schema
    name (foreign Hive/Spark imports).

    Metadata that records no schema at all (malformed, or a synthetic
    fixture) plans from ``data_files`` instead: the union of their
    parquet footers' columns (read by pyarrow on the driver, no Spark
    job), then their identity partition columns; with no files
    it raises ValueError. A column type with no Spark mapping raises
    :class:`types.UnsupportedIcebergType`."""
    from .metadata_json import current_schema_block

    sid = schema_id if schema_id is not None else doc.get("current-schema-id", 0)
    target = next(
        (s for s in doc.get("schemas") or [] if s.get("schema-id") == sid),
        None,
    ) or current_schema_block(doc)
    if (target or {}).get("fields"):
        cols = [(f["name"], _scan_ddl(f["type"])) for f in target["fields"]]
        return cols, historical_names(doc, target)
    if not data_files:
        raise ValueError("table metadata records no schema to read under")
    import pyarrow.dataset as pads

    from .types import arrow_to_ddl

    plan: dict[str, str] = {}
    for f in data_files:
        # a dataset, not one footer: a foreign "file" may be a directory
        for fld in pads.dataset(f["path"], format="parquet").schema:
            if fld.name not in ("_row_id", "_last_updated_sequence_number"):
                plan.setdefault(fld.name, arrow_to_ddl(fld.type))
    for f in data_files:
        for k in f["pvals"] or {}:
            pt = (f["ptypes"] or {}).get(k, "string")
            if not pt.startswith("transform:"):
                plan.setdefault(k, pt)
    return list(plan.items()), {}


def schema_defaults(
    doc: dict, schema_id: int | None = None
) -> dict[str, tuple]:
    """v3 column defaults for the requested schema:
    ``{name: (python_value, spark_ddl, first_seq)}`` for every field
    carrying an ``initial-default``. ``first_seq`` is the lowest data
    sequence number committed under a schema CONTAINING the field —
    files with a lower sequence predate the column and read the
    default where they'd read null (the spec's initial-default rule;
    exact here because our write plane always writes the full current
    schema, so any file at or past that sequence carries the column).
    ``None`` first_seq = no snapshot under such a schema yet (every
    live file predates)."""
    schemas = doc.get("schemas") or []
    sid = (
        schema_id if schema_id is not None
        else doc.get("current-schema-id", 0)
    )
    target = next(
        (s for s in schemas if s.get("schema-id") == sid), None
    )
    if target is None:
        return {}
    from .types import iceberg_to_ddl
    from .values import default_from_json

    with_defaults = [
        f for f in target.get("fields", [])
        if f.get("initial-default") is not None
        and isinstance(f.get("type"), str)
    ]
    if not with_defaults:
        return {}
    # field-id set per schema-id, for "which snapshots' schemas contain
    # this field" (planning-plane: O(snapshots x fields))
    ids_of = {
        int(s.get("schema-id", 0)): {
            int(g["id"]) for g in s.get("fields", [])
        }
        for s in schemas
    }
    out = {}
    for f in with_defaults:
        fid = int(f["id"])
        seqs = [
            int(s.get("sequence-number", 0))
            for s in doc.get("snapshots", [])
            if fid in ids_of.get(int(s.get("schema-id", -1)), ())
        ]
        out[f["name"]] = (
            default_from_json(f["type"], f["initial-default"]),
            iceberg_to_ddl(f["type"]),
            min(seqs) if seqs else None,
        )
    return out


#: path characters a URI carries unescaped (RFC 2396 unreserved and
#: punctuation, ``/`` and ``@``); see _read_files_with_partitions
_URI_SAFE = frozenset(
    string.ascii_letters + string.digits + "/_-!.~'()*,;:$&+=@"
)


def _read_files_with_partitions(
    spark: SparkSession,
    data_files: list[dict],
    row_coords: str = "fp_pos",
    *,
    schema_cols: list[tuple],
    aliases: dict[str, list[str]],
) -> DataFrame:
    """Read a list of file dicts (as produced by files_from_manifest_list
    consumption: path/pvals/ptypes keys) under the explicit schema plan
    of :func:`evolved_read_plan`, grouped by partition tuple:
    partitionBy-written files don't carry the partition columns in the
    parquet, so each group re-attaches them as typed literals from the
    manifest metadata (group count = live partitions — planning-plane,
    like any planner's per-partition scan groups). The schema comes
    from the table metadata, so building the frame starts no Spark job.

    ``row_coords`` controls the _fp/_pos metadata columns delete
    application joins on: "fp_pos" (position deletes need both), "fp"
    (equality deletes only need the per-file sequence join), or "none".
    Requesting ``_metadata.row_index`` when no delete needs it costs a
    per-row metadata materialization on the scan's hot path (r5
    measurement: part of a ~2.5 s vs 0.7 s gap against the Python
    DataSource on the same 600k-row snapshot) — so callers only ask for
    what the snapshot's delete files actually require."""
    from ..metadata.metadata_json import _strip_scheme

    def group_key(f):
        return tuple(sorted(f["pvals"].items())) if f["pvals"] else None

    # _metadata.file_path is a URI: a path character a URI must escape
    # (the ``%`` of a partition directory written as ``s=a%20b``, a
    # space) comes back escaped (``s=a%2520b``). When some file's path
    # holds one, decode once so _fp is the path the manifests record,
    # escaping ``+`` first (url_decode reads it as a space); the decode
    # runs per row, so reads of plain paths skip it
    uri = F.col("_metadata.file_path")
    if any(not _URI_SAFE.issuperset(f["path"]) for f in data_files):
        uri = F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))

    def fp():
        return _strip_scheme(uri).alias("_fp")

    groups: dict = {}
    for f in data_files:
        groups.setdefault(group_key(f), []).append(f)
    meta_cols = {
        "fp_pos": [fp, lambda: F.col("_metadata.row_index").alias("_pos")],
        "fp": [fp],
        "none": [],
    }[row_coords]
    # Spark 4's parquet reader promotes int32→int64 / float→double per
    # the requested type, columns a file lacks (added after it was
    # written, or dropped names) come back null — the Iceberg read rule
    # for added fields — and renamed columns ride along under their
    # historical names (aliases) to be coalesced below
    read_fields = list(schema_cols)
    declared = {n for n, _ in read_fields}
    for new, olds in aliases.items():
        ddl = dict(schema_cols)[new]
        read_fields += [(o, ddl) for o in olds if o not in declared]
    read_schema = ", ".join(f"`{n}` {t}" for n, t in read_fields)
    parts = []
    for key, fs in groups.items():
        g = spark.read.schema(read_schema).parquet(
            *[f["path"] for f in fs]
        ).select("*", *[mk() for mk in meta_cols])
        if key:
            ptypes = fs[0]["ptypes"] or {}
            for col, sval in key:
                # hidden-partitioning transforms (days/bucket/truncate…)
                # exist only in metadata — the SOURCE column is in the
                # data files, so there is nothing to reattach
                if ptypes.get(col, "").startswith("transform:"):
                    continue
                # Spark writes NULL partition values to the hive default
                # dir; round-trip them back to NULL, not the sentinel
                lit = (
                    F.lit(None)
                    if sval == "__HIVE_DEFAULT_PARTITION__"
                    else F.lit(sval)
                )
                g = g.withColumn(col, lit.cast(ptypes.get(col, "string")))
        parts.append(g)
    data = parts[0]
    for g in parts[1:]:
        data = data.unionByName(g, allowMissingColumns=True)
    # resolve renames: a row came from a pre-rename file iff the new
    # name is null and an old name is set (they never coexist in one
    # file), then project to exactly the requested schema's columns
    for new, olds in aliases.items():
        present = [o for o in olds if o in data.columns]
        if present:
            data = data.withColumn(new, F.coalesce(new, *present))
    keep = [n for n, _ in schema_cols] + (
        ["_fp", "_pos"] if row_coords == "fp_pos"
        else (["_fp"] if row_coords == "fp" else [])
    )
    return data.select(*keep)


#: (path, mtime_ns, size) → variant shape tuple; see _cached_vshape
_VSHAPE_CACHE: dict = {}


def _vshape_probe_threads() -> int:
    """Footer shape-probe pool size — the planning-latency knob for
    many-thousand-file snapshots over high-latency object stores
    (each probe is one tiny metadata read; the pool amortizes the
    round trips). ``HIELO_VSHAPE_PROBE_THREADS`` overrides the
    default of 16; clamped to [1, 256]. Measured in SCALE.md."""
    import os as _os

    raw = _os.environ.get("HIELO_VSHAPE_PROBE_THREADS", "")
    try:
        n = int(raw) if raw else 16
    except ValueError:
        n = 16
    return max(1, min(256, n))


def _variant_json_udf(spark):
    """Arrow-batched whole-struct variant→JSON kernel (per-value decode
    by necessity: the encoding is a self-describing byte tree). The full
    struct rides in so SHREDDED forms (typed_value subcolumns,
    VariantShredding.md) reconstruct too, not just the plain
    (metadata, value) pair."""
    from pyspark.sql.functions import pandas_udf

    from ..session import _ship_package

    _ship_package(spark)

    @pandas_udf("string")
    def _vjson(struct_df):
        import pandas as pd

        from hielo_spark.metadata.variant import shredded_row_to_json

        return pd.Series(
            [
                shredded_row_to_json(r)
                for r in struct_df.to_dict("records")
            ],
            dtype="object",
        )

    return _vjson


def _empty_read_frame(spark, schema_cols, decoded, row_lineage):
    """Zero-row frame in read_data_at_snapshot's OUTPUT shape: the
    ``decoded`` columns (variant → JSON, geometry/geography → WKT) are
    strings, lineage appends the two v3 columns — the valid result of a
    filter no live file can satisfy."""
    cols = [
        f"`{n}` {'string' if n in decoded else ddl}"
        for n, ddl in schema_cols
    ]
    if row_lineage:
        cols += ["`_row_id` bigint",
                 "`_last_updated_sequence_number` bigint"]
    return local_frame(spark, [], ", ".join(cols))


def read_position_deletes(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Position-delete files read under the spec's fixed ``file_path
    string, pos bigint`` schema (no footer inference), with each row's
    delete sequence number as ``_dseq`` from the files' manifest
    ``entries``: one scan per sequence number — per delete commit, not
    per file — carrying it as a literal. A path → seq map joined in
    instead would cost a broadcast, and a broadcast of even a driver-held
    LocalRelation runs a Spark job of its own."""
    by_seq: dict = {}
    for d in entries:
        by_seq.setdefault(d["seq"], []).append(d["path"])
    out = None
    for seq, paths in by_seq.items():
        one = spark.read.schema("file_path string, pos bigint").parquet(
            *paths
        ).withColumn("_dseq", F.lit(seq).cast("long"))
        out = one if out is None else out.unionByName(one)
    return out


def read_data_at_snapshot(
    spark: SparkSession,
    metadata_json_path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    partition_filter: dict | None = None,
    skip_filter: tuple | None = None,
    apply_row_filter: bool = True,
    ref: str | None = None,
    row_lineage: bool = False,
    keep_row_coords: bool = False,
) -> DataFrame:
    """Executable time travel without the Iceberg runtime (S12): pick a
    snapshot from the table-metadata JSON (by id, by ``as_of_ms`` — the
    latest snapshot committed at or before that instant, mirroring
    ``TIMESTAMP AS OF`` — or the latest), resolve its manifest list to
    the live data-file paths, read those parquet files directly, and
    apply the snapshot's merge-on-read DELETE files:

    * position deletes — parquet rows of (file_path, pos) — anti-join
      against the data on (scheme-normalized ``_metadata.file_path``,
      ``_metadata.row_index``); the delete frame is the small side of a
      shuffle/broadcast join, never collected;
    * equality deletes — parquet rows carrying the equality columns —
      anti-join by the delete file's own column names.

    Deletes are scoped by data sequence number per the Iceberg v2 spec
    (scan-planning rules): a position delete applies to a data file when
    ``delete_seq >= data_seq``; an equality delete only when
    ``delete_seq > data_seq`` — so a row re-inserted AFTER an equality
    delete in the same lineage survives, exactly as the Iceberg runtime
    reads it. Sequence numbers come from the manifest entries (with
    manifest-list inheritance). When a table carries no sequence
    metadata at all (null seq — malformed v2 or synthetic fixtures), a
    delete file falls back to applying to every data file, the pre-r4
    approximation. The file-path collect is planning-plane work, the
    same listing any engine's planner materializes.
    """
    import json
    import os

    with open(metadata_json_path) as f:
        doc = json.load(f)
    if skip_filter is not None and skip_filter[1] == "in" \
            and not isinstance(skip_filter[2], (list, tuple, set, frozenset)):
        raise ValueError(
            "skip_filter 'in' needs a list/tuple/set of values, got "
            f"{type(skip_filter[2]).__name__}"
        )
    if skip_filter is not None and skip_filter[1] not in _SKIP_OPS:
        raise ValueError(
            f"unsupported skip_filter op {skip_filter[1]!r} (supported: {_SKIP_OPS})"
        )
    if partition_filter and any(v is None for v in partition_filter.values()):
        raise ValueError("partition_filter values must be non-null")
    chosen = select_snapshot(doc, snapshot_id, as_of_ms, ref)
    mlist = _resolve(metadata_json_path, chosen["manifest-list"])

    from ..metadata.metadata_json import _strip_scheme

    # the table location, for resolving foreign relative/scheme-ful
    # file_path forms a foreign writer may have recorded
    table_root = os.path.dirname(os.path.dirname(metadata_json_path))

    # planning is PURE PYTHON end to end (r5): the same live_entries walk
    # the DataSource plans from — no frame/collect Spark hop per content
    # kind (three of those cost ~3 s of per-read planning latency on an
    # 8-file snapshot). The per-file maps the scan joins below are
    # io.local_frame LocalRelations, so their broadcasts run without a
    # Python worker.
    entries_by_kind: dict[int, list[dict]] = {0: [], 1: [], 2: []}
    for e in live_entries(mlist, doc.get("format-version", 2), table_root):
        entries_by_kind.setdefault(e["content"], []).append(e)

    def live_files(content: int) -> list[dict]:
        return entries_by_kind.get(content, [])

    data_files = live_files(0)
    if not data_files:
        raise ValueError(f"snapshot {chosen['snapshot-id']} has no live data files")

    # LATEST reads scan under the current schema, time travel under the
    # snapshot's (read_schema_block)
    time_travel = any(x is not None for x in (snapshot_id, as_of_ms, ref))
    read_block = read_schema_block(doc, chosen if time_travel else None) or {}
    read_schema_id = read_block.get("schema-id")
    schema_cols, aliases = evolved_read_plan(doc, read_schema_id, data_files)
    # v3 variant / geometry / geography columns scan in their parquet
    # shape and decode to JSON / WKT strings after the scan
    read_fields = read_block.get("fields", [])
    variant_names = [
        f["name"] for f in read_fields if f.get("type") == "variant"
    ]
    geo_names = [
        f["name"] for f in read_fields
        if isinstance(f.get("type"), str)
        and f["type"].split("(")[0] in ("geometry", "geography")
    ]

    # partition pruning: drop files whose manifest partition values
    # contradict the filter BEFORE any scan is planned — the same
    # metadata-only pruning an Iceberg planner does. String-compared
    # (values are stored stringified); a file with no partition metadata
    # is never pruned (it may contain matching rows). Alias-aware: after
    # a rename of the partition source column the files' pvals keys
    # carry the OLD name, so a filter on the current name resolves
    # through the schema history — otherwise it would silently match
    # every file (matching nothing is pruning; matching everything on a
    # stale key is a wrong answer).
    if partition_filter:
        def pval_of(f: dict, k: str):
            pv = f["pvals"] or {}
            if k in pv:
                return pv[k]
            for a in (aliases or {}).get(k, ()):
                if a in pv:
                    return pv[a]
            return None

        want = {k: str(v) for k, v in partition_filter.items()}
        data_files = [
            f
            for f in data_files
            if f["pvals"] is None
            or all(
                (pval_of(f, k) is None or pval_of(f, k) == str(v))
                for k, v in want.items()
            )
        ]
        if not data_files:
            # a partition value no live file carries is a VALID empty
            # result, not an error (r12 — same treatment as
            # skip_filter below)
            return _empty_read_frame(
                spark, schema_cols, {*variant_names, *geo_names}, row_lineage
            )

    # metadata skipping on column bounds: keep only files whose manifest
    # min/max CAN satisfy the predicate — Iceberg's scan-planning file
    # filter. Planning-level: the survivors' rows are a superset of the
    # matches, so callers still apply the row filter (the returned frame
    # does it when apply_row_filter=True, the default). Alias-aware: a
    # file written before a rename records its bounds under the OLD
    # name, so the filter's current-name column resolves through the
    # schema history rather than silently ceasing to prune.
    if skip_filter:
        data_files = [
            f for f in data_files if _file_may_match(f, skip_filter, aliases)
        ]
        if not data_files:
            # a filter that legitimately matches zero files is a VALID
            # empty result, not an error — build the zero-row frame
            # from the metadata doc's read schema (r12; pre-r12 raised)
            return _empty_read_frame(
                spark, schema_cols, {*variant_names, *geo_names}, row_lineage
            )

    all_pos = live_files(1)
    pos_delete_files = _prune_pos_deletes(
        [d for d in all_pos if not d.get("dv")],
        [f["path"] for f in data_files],
    )
    dv_best = _dv_per_file(all_pos, [f["path"] for f in data_files], table_root)
    if row_lineage and int(doc.get("format-version", 2)) < 3:
        raise ValueError(
            "row lineage requires a format-version >= 3 table "
            "(upgrade_format_version)"
        )
    eq_delete_files = live_files(2)
    # v3 initial-default application below is sequence-gated per FILE,
    # so it needs the _fp coordinate like equality deletes do
    defaults = schema_defaults(doc, read_schema_id)
    row_coords = (
        "fp_pos"
        if (pos_delete_files or dv_best or row_lineage or keep_row_coords)
        else ("fp" if (eq_delete_files or defaults) else "none")
    )
    read_cols = schema_cols
    if row_lineage:
        # v3 row lineage: ALSO request the materialized lineage columns
        # (compaction writes them into rewritten parquet; files written
        # by normal appends lack them and read null — the coalesce
        # below falls back to first_row_id + position)
        read_cols = list(schema_cols) + [
            ("_row_id", "bigint"),
            ("_last_updated_sequence_number", "bigint"),
        ]
    # A SHREDDED variant file's typed_value subtree exists only in its
    # footer — negotiate per file: probe EVERY planned footer (a
    # metadata-only read_schema, planning-plane, bounded by the file
    # count), group files by each variant column's actual struct shape,
    # scan each group under its true shape and decode variant→JSON per
    # group BEFORE the union (the decoded string column unions cleanly
    # across heterogeneous shredding shapes).
    shape_groups: dict[tuple, list[dict]] | None = None
    if variant_names:
        import pyarrow.parquet as pq

        from .types import arrow_to_ddl

        def _vshape(path: str) -> tuple:
            sch = pq.read_schema(path)
            shape = []
            for name in variant_names:
                # a pre-rename file carries the column under an OLD name
                for cand in (name, *(aliases or {}).get(name, ())):
                    if cand not in sch.names:
                        continue
                    t = sch.field(cand).type
                    if any(
                        t.field(i).name == "typed_value"
                        for i in range(getattr(t, "num_fields", 0) or 0)
                    ):
                        shape.append((name, arrow_to_ddl(t)))
                    break
            return tuple(shape)

        # footer probes are tiny metadata reads but file-count many —
        # thread them (I/O bound) and CACHE per (path, mtime, size):
        # data files are immutable once committed, so repeated reads of
        # the same snapshot (time travel, per-query planning) pay the
        # O(files) probe exactly once per process
        from concurrent.futures import ThreadPoolExecutor

        def _cached_vshape(fd):
            p = fd["path"]
            try:
                st = os.stat(p)
                key = (p, st.st_mtime_ns, st.st_size)
            except OSError:
                return _vshape(p)
            hit = _VSHAPE_CACHE.get(key)
            if hit is None:
                hit = _vshape(p)
                if len(_VSHAPE_CACHE) > 65536:
                    _VSHAPE_CACHE.clear()  # bounded: planning cache
                _VSHAPE_CACHE[key] = hit
            return hit

        with ThreadPoolExecutor(
            max_workers=_vshape_probe_threads()
        ) as pool:
            shapes = list(pool.map(_cached_vshape, data_files))
        by_shape: dict[tuple, list[dict]] = {}
        for fd, shape in zip(data_files, shapes):
            by_shape.setdefault(shape, []).append(fd)
        if any(by_shape):  # at least one shredded shape present
            shape_groups = by_shape
    if shape_groups is None:
        data = _read_files_with_partitions(
            spark, data_files, row_coords, schema_cols=read_cols,
            aliases=aliases,
        )
    else:
        _vjson_pre = _variant_json_udf(spark)
        shape_parts = []
        for shape, fs in shape_groups.items():
            override = dict(shape)
            cols = [(n, override.get(n, t)) for n, t in read_cols]
            g = _read_files_with_partitions(
                spark, fs, row_coords, schema_cols=cols, aliases=aliases
            )
            for name in variant_names:
                if dict(g.dtypes).get(name, "").startswith("struct"):
                    g = g.withColumn(name, _vjson_pre(F.col(name)))
            shape_parts.append(g)
        data = shape_parts[0]
        for g in shape_parts[1:]:
            data = data.unionByName(g)
    if defaults:
        # v3 initial-default: files written BEFORE a column's add read
        # its default where they'd read null. Sequence-gated via a
        # broadcast (path → seq) planning-plane map, so explicit nulls
        # in post-add files stay null.
        dmap = local_frame(
            spark,
            [(f["path"], f["seq"]) for f in data_files],
            "_fp string, _defseq long",
        ).select(_strip_scheme(F.col("_fp")).alias("_fp"), "_defseq")
        data = data.join(F.broadcast(dmap), "_fp", "left")
        for name, (val, ddl, first_seq) in defaults.items():
            if name not in data.columns:
                continue
            pre = (
                F.lit(True) if first_seq is None
                else (
                    F.col("_defseq").isNull()
                    | (F.col("_defseq") < F.lit(int(first_seq)))
                )
            )
            data = data.withColumn(
                name,
                F.when(
                    pre & F.col(name).isNull(), F.lit(val).cast(ddl)
                ).otherwise(F.col(name)),
            )
        data = data.drop("_defseq")
    if skip_filter and apply_row_filter:
        data = data.filter(_row_predicate(skip_filter))
    if row_lineage:
        # per-file lineage map (planning-plane, broadcast): the file's
        # first_row_id (142) and data sequence number
        lmap = local_frame(
            spark,
            [(f["path"], f.get("frid"), f["seq"]) for f in data_files],
            "_fp string, _frid long, _lseq long",
        ).select(_strip_scheme(F.col("_fp")).alias("_fp"), "_frid", "_lseq")
        data = data.join(F.broadcast(lmap), "_fp", "left")
        data = data.withColumn(
            "_row_id",
            F.coalesce(F.col("_row_id"), F.col("_frid") + F.col("_pos")),
        ).withColumn(
            "_last_updated_sequence_number",
            F.coalesce(
                F.col("_last_updated_sequence_number"), F.col("_lseq")
            ),
        ).drop("_frid", "_lseq")
    # v3 variant columns that rode the scan in struct shape (unshredded
    # files) decode to the canonical JSON strings here; shape-negotiated
    # groups above arrive already decoded (string dtype) and skip.
    if variant_names or geo_names:
        from pyspark.sql.functions import pandas_udf

        from ..session import _ship_package

        _ship_package(spark)
        col_types = dict(data.dtypes)

        _vjson = _variant_json_udf(spark)
        for name in variant_names:
            if name in col_types and col_types[name].startswith(
                "struct"
            ):
                data = data.withColumn(name, _vjson(F.col(name)))

        @pandas_udf("string")
        def _wkt(wkb):
            import pandas as pd

            from hielo_spark.metadata.geo import wkb_to_wkt

            return pd.Series(
                [wkb_to_wkt(b) for b in wkb], dtype="object"
            )

        for name in geo_names:
            if col_types.get(name) == "binary":
                data = data.withColumn(name, _wkt(F.col(name)))
    out_cols = [c for c in data.columns if c not in ("_fp", "_pos")]
    if keep_row_coords:
        # expose the MOR-applied row coordinates (update_where's basis:
        # positions of LIVE matched rows only — rows earlier deletes
        # removed must neither re-append nor re-tombstone)
        out_cols = out_cols + ["_fp", "_pos"]

    if not pos_delete_files and not eq_delete_files and not dv_best:
        return data.select(*out_cols)

    # attach each row's data sequence number from the (tiny, planning-
    # plane) path→seq map so delete scoping is a join predicate, not a
    # per-file driver loop over the data. Position deletes only need it
    # when planning finds one that may reference a LATER data file: the
    # map's broadcast is a Spark job of its own
    pos_scoped = _pos_deletes_predate_files(
        pos_delete_files, dv_best, data_files
    )
    if eq_delete_files or pos_scoped:
        seq_map = local_frame(
            spark,
            [(f["path"], f["seq"]) for f in data_files],
            "_fp string, _dataseq long",
        ).select(_strip_scheme(F.col("_fp")).alias("_fp"), "_dataseq")
        data = data.join(F.broadcast(seq_map), "_fp", "left")

    if pos_delete_files or dv_best:
        dels = None
        # foreign ./-relative file_path references resolve against the
        # table root; absolute/scheme-ful forms just strip the scheme
        _root_lit = os.path.abspath(table_root).rstrip("/") + "/"

        def _norm_ref_col(c):
            stripped = _strip_scheme(c)
            return F.when(
                stripped.startswith("/"), stripped
            ).otherwise(
                F.concat(
                    F.lit(_root_lit),
                    F.regexp_replace(stripped, r"^\./", ""),
                )
            )

        if pos_delete_files:
            dels = read_position_deletes(spark, pos_delete_files).select(
                _norm_ref_col(F.col("file_path")).alias("_dfp"),
                F.col("pos").alias("_dpos"),
                "_dseq",
            )
        if dv_best:
            # Rehydration strategy picks by TOTAL CARDINALITY, known
            # from the manifest entries BEFORE any decode or byte
            # fetch: small delete sets decode driver-side straight into
            # a local frame (skipping a whole Python-worker stage —
            # measured ~0.5 s of fixed cost at local scale, and bounded
            # by the 1M-position threshold); big ones ship only each
            # blob's (path, offset, size) COORDINATES to executors —
            # one task per blob reads its own region and decodes beside
            # the scan, so neither positions nor blob bytes ever mass
            # on the driver (planning holds O(files) coordinate rows).
            total_card = sum(
                int(d.get("records") or 0) for d in dv_best.values()
            )
            if 0 < total_card <= _DV_DRIVER_DECODE_MAX:
                from .puffin import decode_dv_payload

                local = []
                for ref, d in dv_best.items():
                    with open(d["path"], "rb") as fh:
                        fh.seek(d["dv"]["offset"])
                        payload = fh.read(d["dv"]["size"])
                    local.extend(
                        (ref, int(p), d["seq"])
                        for p in decode_dv_payload(payload).tolist()
                    )
                # the one planning-plane frame NOT built by local_frame:
                # it has a row per deleted POSITION (up to the 1M
                # threshold), not per file. A LocalRelation is a single
                # driver-held partition, so the anti-join would scan
                # every position in one task: at 1M rows the Arrow
                # build was 0.62 s vs 1.88 s, but a count() 1.62 s vs
                # 0.46 s on the parallelized tuple frame.
                dvdels = spark.createDataFrame(
                    local, "_dfp string, _dpos long, _dseq long"
                ).select(
                    _strip_scheme(F.col("_dfp")).alias("_dfp"),
                    "_dpos", "_dseq",
                )
            else:
                from ..session import _ship_package

                _ship_package(spark)
                coord_rows = [
                    (ref, d["seq"], d["path"], int(d["dv"]["offset"]),
                     int(d["dv"]["size"]))
                    for ref, d in dv_best.items()
                ]

                def _explode_dv(batches):
                    import pandas as pd

                    from hielo_spark.metadata.puffin import (
                        decode_dv_payload,
                    )

                    for pdf in batches:
                        for fp, seq_, bpath, off, size in zip(
                            pdf["_dfp"], pdf["_dseq"], pdf["_bpath"],
                            pdf["_boff"], pdf["_bsize"],
                        ):
                            with open(bpath, "rb") as fh:
                                fh.seek(int(off))
                                blob = fh.read(int(size))
                            pos = decode_dv_payload(blob).astype("int64")
                            sv = None if pd.isna(seq_) else int(seq_)
                            yield pd.DataFrame(
                                {
                                    "_dfp": fp,
                                    "_dpos": pos,
                                    "_dseq": pd.array(
                                        [sv] * len(pos), dtype="Int64"
                                    ),
                                }
                            )

                dvdels = (
                    local_frame(
                        spark,
                        coord_rows,
                        "_dfp string, _dseq long, _bpath string, "
                        "_boff long, _bsize long",
                    )
                    .select(
                        _strip_scheme(F.col("_dfp")).alias("_dfp"),
                        "_dseq", "_bpath", "_boff", "_bsize",
                    )
                    .repartition(min(len(coord_rows), 64))
                    .mapInPandas(
                        _explode_dv, "_dfp string, _dpos long, _dseq long"
                    )
                )
            dels = dvdels if dels is None else dels.unionByName(dvdels)
        # spec: position deletes apply at delete_seq >= data_seq; null
        # seq info on either side → unscoped fallback (apply)
        cond = (data["_fp"] == dels["_dfp"]) & (data["_pos"] == dels["_dpos"])
        if pos_scoped:
            cond = cond & (
                dels["_dseq"].isNull()
                | data["_dataseq"].isNull()
                | (dels["_dseq"] >= data["_dataseq"])
            )
        data = data.join(dels, cond, "left_anti")
    # equality-delete key columns carry the names current when the
    # delete was WRITTEN — resolve each through the rename history
    # (historical → current) so a delete written before a rename still
    # applies; a key column whose field was DROPPED makes the delete
    # inexact (a partial key over-deletes), so skip it loudly instead.
    import pyarrow.parquet as pq

    from .types import arrow_to_ddl

    hist2cur = {h: c for c, hs in aliases.items() for h in hs}
    for d in eq_delete_files:
        p, dseq = d["path"], d["seq"]
        # the key columns as written: names and types from the parquet
        # footer (no row is decoded, no Spark inference job) — a key
        # frame may be wider than the table column (bigint keys on an
        # int column), which the table type could not read
        footer = pq.read_schema(p)
        resolved: dict[str, str] = {}
        unresolved: list[str] = []
        for c in footer.names:
            rc = c if c in out_cols else hist2cur.get(c)
            if rc in out_cols:
                resolved[c] = rc
            else:
                unresolved.append(c)
        if unresolved:
            import warnings

            warnings.warn(
                f"equality-delete file {p} keys {unresolved} do not "
                "resolve against the read schema (dropped column?) — "
                "delete not applied",
                stacklevel=2,
            )
            continue
        keys = list(resolved.values())
        if keys:
            eqd = spark.read.schema(", ".join(
                f"`{c}` {arrow_to_ddl(footer.field(c).type)}"
                for c in resolved
            )).parquet(p).select(
                *[F.col(c).alias(rc) for c, rc in resolved.items()]
            ).distinct()
            # spec: equality deletes apply only at delete_seq > data_seq
            # (a file written in or after the delete's commit survives)
            scope = (
                F.lit(dseq).cast("long").isNull()
                | data["_dataseq"].isNull()
                | (F.lit(dseq).cast("long") > data["_dataseq"])
            )
            cond = scope
            for k in keys:
                # null-SAFE equality: per the spec a null key in an
                # equality delete matches null column values
                cond = cond & data[k].eqNullSafe(eqd[k])
            data = data.join(eqd, cond, "left_anti")
    return data.select(*out_cols)


def read_incremental(
    spark: SparkSession,
    metadata_json_path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    skip_replace: bool = False,
    skip_delete: bool = False,
) -> DataFrame:
    """Iceberg's incremental append scan: rows ADDED strictly after
    ``from_snapshot_id`` up to and including ``to_snapshot_id`` (default:
    the CURRENT snapshot) — the CDC-ish consumption pattern ("give me
    what's new since my last checkpoint").

    The range is resolved by walking ``parent-snapshot-id`` lineage from
    the to-snapshot back to the from-snapshot (NOT by timestamp order:
    branched histories interleave non-ancestor snapshots by time), and
    every snapshot on that ancestry path must be an append — a missing
    or non-append operation raises, matching the Iceberg incremental
    scan contract (removal snapshots make "added rows" ill-defined).
    File selection is the difference of the manifest file sets, so only
    new files are scanned, with partition columns re-attached from
    manifest metadata exactly as in read_data_at_snapshot. Planning is
    metadata-only.

    ``skip_replace`` / ``skip_delete`` mirror Iceberg's
    ``streaming-skip-overwrite-snapshots`` / ``-skip-delete-snapshots``:
    instead of raising, a replace (compaction) or delete snapshot on
    the path is SKIPPED — no files it added are emitted (a compaction
    rewrites rows a consumer already saw; a MOR delete adds no data
    files). File attribution then switches from set-difference to the
    manifest entries' ``added_snapshot_id``, so only files added by the
    path's APPEND snapshots flow. Caveat (same as Iceberg's): a
    compaction that rewrites rows appended INSIDE the requested range
    drops those rows from the incremental view — skip options assume
    compaction trails the consumer's offset."""
    import json

    with open(metadata_json_path) as f:
        doc = json.load(f)
    by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
    if from_snapshot_id not in by_id:
        raise ValueError(f"from_snapshot {from_snapshot_id} not in table")
    # scans under the to-snapshot's schema when it is named, else the
    # current one (read_data_at_snapshot's time-travel rule)
    explicit_to = to_snapshot_id is not None
    if to_snapshot_id is None:
        to_snapshot_id = doc.get("current-snapshot-id")
        if to_snapshot_id is None:
            raise ValueError("table has no current snapshot")
        to_snapshot_id = int(to_snapshot_id)
    if to_snapshot_id not in by_id:
        raise ValueError(f"to_snapshot {to_snapshot_id} not in table")

    walk = lineage_chain(doc, from_snapshot_id, to_snapshot_id)
    if walk is None:
        raise ValueError(
            f"from_snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snapshot_id}"
        )
    skipped_ops = (
        ({"replace"} if skip_replace else set())
        | ({"delete"} if skip_delete else set())
    )
    append_ids, any_skipped = set(), False
    for s_ in walk:
        op = s_.get("summary", {}).get("operation")
        if op == "append":
            append_ids.add(int(s_["snapshot-id"]))
        elif op in skipped_ops:
            any_skipped = True
        else:
            # unknown operation is treated as unsafe, not as append: the
            # guard's job is to reject ill-defined ranges
            raise ValueError(
                f"incremental append scan crosses a non-append snapshot "
                f"{s_['snapshot-id']} (operation={op!r})"
            )

    def files_of(s_: dict) -> dict[str, dict]:
        return live_data_file_dicts(
            _resolve(metadata_json_path, s_["manifest-list"]),
            doc.get("format-version", 2),
        )

    to_files = files_of(by_id[to_snapshot_id])
    if any_skipped:
        # set-difference is ill-defined across a skipped snapshot
        # (compaction replaces the file set wholesale) — attribute by
        # the manifest entries' adding snapshot instead
        new_files = [
            to_files[p] for p in sorted(to_files)
            if to_files[p].get("sid") in append_ids
        ]
    else:
        from_files = files_of(by_id[from_snapshot_id])
        new_files = [
            to_files[p] for p in sorted(set(to_files) - set(from_files))
        ]
    schema_cols, aliases = evolved_read_plan(
        doc, by_id[to_snapshot_id].get("schema-id") if explicit_to else None,
        list(to_files.values()),
    )
    if not new_files:
        if not to_files:
            raise ValueError(
                f"snapshot {to_snapshot_id} has no live data files"
            )
        return local_frame(
            spark, [], ", ".join(f"`{n}` {t}" for n, t in schema_cols)
        )
    return _read_files_with_partitions(
        spark, new_files, "none", schema_cols=schema_cols, aliases=aliases
    )


def read_changelog(
    spark: SparkSession,
    metadata_json_path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    compute_updates: bool = False,
    net_changes: bool = False,
    identifier_columns: list[str] | None = None,
) -> DataFrame:
    """CDC changelog between two snapshots (the Iceberg
    ``create_changelog_view`` shape): every row change committed AFTER
    ``from_snapshot_id`` (exclusive; ``None`` = from the table's root,
    so the first snapshot's rows appear as inserts) up to and including
    ``to_snapshot_id`` (default current), as data rows plus three
    metadata columns — ``_change_type`` (``'INSERT'`` / ``'DELETE'``;
    an update is a DELETE+INSERT pair in the same ordinal, exactly how
    Iceberg's changelog renders MERGE), ``_commit_snapshot_id``, and
    ``_change_ordinal`` (0-based position along the lineage walk).

    Per-snapshot strategy, chosen by the commit's operation:

    * ``append`` — fast path: only the snapshot's NEW files (manifest
      file-set difference vs the parent) are scanned and emitted as
      inserts; no diff join at all.
    * ``replace`` (compaction) — no logical row change by construction;
      emits nothing, matching Iceberg's changelog which skips rewrite
      snapshots.
    * anything else (``delete`` / ``overwrite`` / unknown) — the
      general multiset diff: ``live(parent) EXCEPT ALL live(snapshot)``
      rows are deletes, the reverse are inserts. Both sides read
      through the sequence-scoped MOR path, so equality/position
      deletes and schema evolution are already applied.

    Scale: appends never shuffle (file-diff planning + scan). The diff
    path is two shuffles per changed snapshot over only the snapshots
    in range — the same cost Iceberg pays to resolve overwrite
    changelogs without tracked row lineage. Planning (lineage walk,
    file lists) is metadata-only.

    ``net_changes=True`` (the Iceberg changelog procedure's net mode):
    intermediate states collapse — ONE multiset diff of
    ``live(from)`` vs ``live(to)`` for the whole range instead of a
    diff per changed snapshot, which is the shape that scales when a
    consumer catches up over many commits (two scans total,
    independent of range length; a row inserted-then-deleted inside
    the range emits nothing, an insert-then-update emits one INSERT of
    the final state). ``_change_ordinal`` is 0 and
    ``_commit_snapshot_id`` is the range head for every row (per-commit
    attribution is exactly what net mode gives up). Composes with
    ``compute_updates`` — a row updated N times nets to one
    UPDATE_BEFORE/UPDATE_AFTER pair.

    ``compute_updates=True`` — the Iceberg changelog procedure's
    update pairing. The pairing key resolves in order: explicit
    ``identifier_columns``; else the current schema's recorded
    ``identifier-field-ids`` (the spec's row identifier); else the
    tracked v3 ``_row_id`` (requires row lineage — raises when none of
    the three is available). Key semantics match Iceberg's procedure:
    identifier columns are assumed row-unique (a duplicated key pairs
    many-to-many through the semi joins, exactly like the procedure's
    own output on a malformed identifier). With the ``_row_id`` key:
    rows in a diff snapshot whose ``_row_id`` appears on BOTH sides render as
    ``UPDATE_BEFORE`` / ``UPDATE_AFTER`` instead of DELETE/INSERT —
    the rendering a lineage-preserving ``update_where`` commits. Every
    row then also carries the ``_row_id`` and
    ``_last_updated_sequence_number`` columns; rows with a null
    ``_row_id`` (pre-upgrade files) can never pair and stay
    DELETE/INSERT. Cost: one intersect + semi/anti splits per changed
    snapshot over the already-diffed (changed-rows-only) frames."""
    import json

    with open(metadata_json_path) as f:
        doc = json.load(f)
    pair_key: list[str] | None = None
    use_lineage = False
    if compute_updates:
        if identifier_columns:
            pair_key = list(identifier_columns)
        else:
            # the schema's recorded row identifier (spec
            # identifier-field-ids), resolved to current names
            blk = next(
                (
                    sch for sch in doc.get("schemas", [])
                    if sch.get("schema-id")
                    == doc.get("current-schema-id", 0)
                ),
                None,
            )
            ids = (blk or {}).get("identifier-field-ids") or []
            by_id = {
                f["id"]: f["name"] for f in (blk or {}).get("fields", [])
            }
            if ids and all(i in by_id for i in ids):
                pair_key = [by_id[i] for i in ids]
        if pair_key is None:
            use_lineage = (
                int(doc.get("format-version", 2)) >= 3
                and doc.get("next-row-id") is not None
            )
            if not use_lineage:
                raise ValueError(
                    "compute_updates needs a pairing key: pass "
                    "identifier_columns, record identifier-field-ids "
                    "in the schema, or use a format-version >= 3 "
                    "table with row lineage (next-row-id)"
                )
        else:
            use_lineage = (
                int(doc.get("format-version", 2)) >= 3
                and doc.get("next-row-id") is not None
            )
    by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
    if to_snapshot_id is None:
        to_snapshot_id = doc.get("current-snapshot-id")
        if to_snapshot_id is None:
            raise ValueError("table has no current snapshot")
        to_snapshot_id = int(to_snapshot_id)
    if to_snapshot_id not in by_id:
        raise ValueError(f"to_snapshot {to_snapshot_id} not in table")
    if from_snapshot_id is not None and from_snapshot_id not in by_id:
        raise ValueError(f"from_snapshot {from_snapshot_id} not in table")

    # lineage walk from (exclusive; None = the root) to to, oldest first
    chain = lineage_chain(doc, from_snapshot_id, to_snapshot_id)
    if chain is None:
        raise ValueError(
            f"from_snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snapshot_id}"
        )

    def live(snap_id: int | None) -> DataFrame | None:
        if snap_id is None:
            return None
        try:
            return read_data_at_snapshot(
                spark, metadata_json_path, snapshot_id=snap_id,
                row_lineage=use_lineage,
            )
        except ValueError as e:
            if "no live data files" in str(e):
                return None
            raise

    def tag(df: DataFrame, change: str, snap_id: int, ordinal: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(change).alias("_change_type"),
            F.lit(snap_id).cast("long").alias("_commit_snapshot_id"),
            F.lit(ordinal).cast("int").alias("_change_ordinal"),
        )

    def append_inserts(s_: dict, parent_id: int | None) -> DataFrame | None:
        """New-files-only scan for an append snapshot."""
        def paths_of(sid: int) -> dict[str, dict]:
            return live_data_file_dicts(
                _resolve(metadata_json_path, by_id[sid]["manifest-list"])
            )

        now = paths_of(int(s_["snapshot-id"]))
        before = paths_of(parent_id) if parent_id is not None else {}
        new_files = [now[p] for p in sorted(set(now) - set(before))]
        if not new_files:
            return None
        # under the snapshot's own schema, as live(sid) reads it
        schema_cols, aliases = evolved_read_plan(
            doc, s_.get("schema-id"), new_files
        )
        if not use_lineage:
            return _read_files_with_partitions(
                spark, new_files, "none",
                schema_cols=schema_cols, aliases=aliases,
            )
        # lineage shape parity with the diff path: fresh append files
        # always inherit (never materialize), so _row_id is
        # first_row_id + position and the last-updated seq is the
        # file's data sequence — the same planning-plane map
        # read_data_at_snapshot's lineage join uses
        from .metadata_json import _strip_scheme

        df = _read_files_with_partitions(
            spark, new_files, "fp_pos",
            schema_cols=schema_cols, aliases=aliases,
        )
        lmap = local_frame(
            spark,
            [(f["path"], f.get("frid"), f["seq"]) for f in new_files],
            "_fp string, _frid long, _lseq long",
        ).select(_strip_scheme(F.col("_fp")).alias("_fp"), "_frid", "_lseq")
        return (
            df.join(F.broadcast(lmap), "_fp", "left")
            .withColumn("_row_id", F.col("_frid") + F.col("_pos"))
            .withColumn(
                "_last_updated_sequence_number", F.col("_lseq")
            )
            .drop("_fp", "_pos", "_frid", "_lseq")
        )

    def diff_pieces(prev_df, now_df, sid, ordinal) -> list[DataFrame]:
        """The general multiset diff (+ optional _row_id update
        pairing) between two live states — per changed snapshot
        normally, the whole range at once under net_changes."""
        pieces: list[DataFrame] = []
        if prev_df is not None and now_df is not None:
            # schema evolution: diff on the columns common to parent
            # and child (add-column evolution would otherwise make
            # every untouched row look changed via its new null)
            cols = [c for c in prev_df.columns if c in now_df.columns]
            dels = prev_df.select(*cols).exceptAll(now_df.select(*cols))
            ins = now_df.select(*cols).exceptAll(prev_df.select(*cols))
            if compute_updates:
                # pair by the resolved key — identifier columns when
                # declared/passed, else the tracked _row_id: present
                # on BOTH sides of the diff = the same row updated (a
                # lineage-preserving UPDATE re-appends it with new
                # values). Null keys (pre-upgrade files' null ids)
                # never match a semi join, so they stay DELETE/INSERT.
                key = pair_key if pair_key is not None else ["_row_id"]
                missing = [k for k in key if k not in cols]
                if missing:
                    raise ValueError(
                        f"identifier columns {missing} not present in "
                        "the changelog range's common columns "
                        f"({sorted(cols)})"
                    )
                nn = None
                for k in key:
                    c = F.col(k).isNotNull()
                    nn = c if nn is None else (nn & c)
                upd_ids = (
                    dels.where(nn).select(*key)
                    .intersect(ins.where(nn).select(*key))
                )
                pieces.append(tag(
                    dels.join(upd_ids, key, "left_semi"),
                    "UPDATE_BEFORE", sid, ordinal,
                ))
                pieces.append(tag(
                    dels.join(upd_ids, key, "left_anti"),
                    "DELETE", sid, ordinal,
                ))
                pieces.append(tag(
                    ins.join(upd_ids, key, "left_semi"),
                    "UPDATE_AFTER", sid, ordinal,
                ))
                pieces.append(tag(
                    ins.join(upd_ids, key, "left_anti"),
                    "INSERT", sid, ordinal,
                ))
            else:
                pieces.append(tag(dels, "DELETE", sid, ordinal))
                pieces.append(tag(ins, "INSERT", sid, ordinal))
        elif now_df is not None:
            pieces.append(tag(now_df, "INSERT", sid, ordinal))
        elif prev_df is not None:
            pieces.append(tag(prev_df, "DELETE", sid, ordinal))
        return pieces

    out: DataFrame | None = None
    if net_changes:
        # ONE diff for the whole range: two scans total, independent
        # of how many commits the consumer is catching up over
        for p in diff_pieces(
            live(from_snapshot_id), live(to_snapshot_id),
            to_snapshot_id, 0,
        ):
            out = p if out is None else out.unionByName(
                p, allowMissingColumns=True
            )
        if out is None:
            raise ValueError(
                "net changelog range has no live data on either end"
            )
        return out
    ordinal = 0
    for s_ in chain:
        sid = int(s_["snapshot-id"])
        parent = s_.get("parent-snapshot-id")
        parent_id = int(parent) if parent is not None else None
        op = s_.get("summary", {}).get("operation")
        pieces: list[DataFrame] = []
        if op == "replace":
            ordinal += 1  # compaction: no logical change, but it still
            continue      # occupies its position on the lineage walk
        if op == "append":
            ins = append_inserts(s_, parent_id)
            if ins is not None:
                pieces.append(tag(ins, "INSERT", sid, ordinal))
        else:
            pieces = diff_pieces(
                live(parent_id), live(sid), sid, ordinal
            )
        for p in pieces:
            out = p if out is None else out.unionByName(p, allowMissingColumns=True)
        ordinal += 1
    if out is None:
        # range held only no-op snapshots (replace/compaction) or was
        # empty: a correctly-shaped empty changelog, not an error
        end = live(to_snapshot_id)
        if end is None:
            raise ValueError(
                f"snapshot {to_snapshot_id} has no live data files and the "
                "changelog range contains no changes"
            )
        return tag(end.limit(0), "INSERT", to_snapshot_id, 0)
    return out


def read_table(
    spark: SparkSession,
    table_dir: str,
    where: tuple | None = None,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """The one-call read for a no-jar table dir: resolve the current
    metadata, and — given ``where=(col, op, value)`` on a SOURCE
    column — apply every pruning layer the metadata supports before the
    scan is planned:

    * equality predicates derive a ``partition_filter`` from the
      table's recorded default partition spec (hidden partitioning:
      ``("ts", "=", "2024-01-02T10:00:00")`` prunes via ``ts_day`` and
      any bucket field without the caller knowing the spec exists);
    * every supported op becomes a manifest-bounds ``skip_filter``
      (min/max + null-count file skipping);
    * the row-level filter still applies (pruning is planning-level).

    Time travel passes through (``snapshot_id`` / ``as_of_ms`` /
    ``ref``)."""
    from .commit import current_metadata_path
    from .transforms import prune_filter_for

    mpath = current_metadata_path(table_dir)
    if mpath is None:
        raise ValueError(f"no table metadata under {table_dir}")
    pfilter = None
    sfilter = None
    if where is not None:
        import datetime as _dt
        import json as _json

        col, op, value = where
        with open(mpath) as f:
            doc = _json.load(f)
        schema = next(
            (
                s
                for s in doc.get("schemas", [])
                if s.get("schema-id") == doc.get("current-schema-id", 0)
            ),
            None,
        )
        ctype = next(
            (
                f.get("type")
                for f in (schema or {}).get("fields", [])
                if f.get("name") == col
            ),
            None,
        )
        svalue = value
        if ctype in ("timestamp", "timestamptz"):
            # manifest bounds stringify timestamps with a space
            # separator (Spark's cast); normalize ISO literals so the
            # lexicographic bounds compare is apples-to-apples
            if isinstance(svalue, str):
                svalue = svalue.replace("T", " ")
            elif isinstance(svalue, _dt.datetime):
                svalue = svalue.isoformat(sep=" ")
        if op in _SKIP_OPS:
            sfilter = (col, op, svalue)
        if op == "=":
            pf = prune_filter_for(doc, col, value)
            if pf:
                pfilter = pf
    return read_data_at_snapshot(
        spark,
        mpath,
        snapshot_id=snapshot_id,
        as_of_ms=as_of_ms,
        ref=ref,
        partition_filter=pfilter,
        skip_filter=sfilter,
    )
