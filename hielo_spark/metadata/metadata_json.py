"""Historical schemas from Iceberg table-metadata JSON (SURVEY §1.3/§7
hard part #1).

Spark's Iceberg integration exposes *current* schemas but not schema
history as a metadata table; the history lives in the table-metadata JSON
files whose paths the ``metadata_log_entries`` metadata table lists. This
module parses those JSON documents into the long-form schemas frame the
evolution operators (J2) consume — distributed via ``spark.read.text`` +
``from_json``, so a million metadata files parse as a normal job, not a
driver loop.

Type rendering follows the reference display strings (data.rs:66-85):
primitives pass through, ``decimal(p, 2)`` keeps its spacing, and nested
types render as struct/list/map. Nested struct fields become child rows
with ``parent_field_id`` (components.rs:662-667 renders recursively).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..io import local_frame

SCHEMAS_LONG_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("schema_id", IntegerType(), False),
        StructField("field_id", IntegerType(), False),
        StructField("name", StringType(), False),
        StructField("type_str", StringType(), False),
        StructField("required", BooleanType(), False),
        StructField("doc", StringType(), True),
        StructField("parent_field_id", IntegerType(), True),
    ]
)


def _render_type(t) -> str:
    """Iceberg JSON type → reference display string."""
    if isinstance(t, str):
        if t.startswith("decimal("):
            inner = t[len("decimal(") : -1]
            p, s = (x.strip() for x in inner.split(","))
            return f"decimal({p}, {s})"
        if t.startswith("fixed["):
            return "binary"
        return t
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return "struct"
        if kind == "list":
            return "list"
        if kind == "map":
            return "map"
    return str(t)


def _field_rows(table_name: str, schema_id: int, fields: list[dict], parent: int | None):
    for f in fields:
        yield (
            table_name,
            schema_id,
            int(f["id"]),
            f["name"],
            _render_type(f["type"]),
            bool(f.get("required", False)),
            f.get("doc"),
            parent,
        )
        # recurse into nested structs (list/map element schemas carry their
        # own ids too, but the reference only renders struct children)
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            yield from _field_rows(table_name, schema_id, t.get("fields", []), int(f["id"]))


def parse_metadata_document(table_name: str, doc: dict):
    """All (schema_id × field) rows of one table-metadata JSON document.

    Handles both the v2 layout (``schemas`` list + ``current-schema-id``)
    and the v1 single-``schema`` layout."""
    schemas = doc.get("schemas")
    if not schemas and "schema" in doc:
        schemas = [dict(doc["schema"], **{"schema-id": doc["schema"].get("schema-id", 0)})]
    for s in schemas or []:
        sid = int(s.get("schema-id", 0))
        yield from _field_rows(table_name, sid, s.get("fields", []), None)


def current_schema_block(doc: dict) -> dict | None:
    """The CURRENT schema struct of a table-metadata document: v2 keys
    ``current-schema-id`` into the ``schemas`` list; v1 carries a single
    top-level ``schema`` (spec v1 compatibility — real catalogs are full
    of v1 tables). Returns None when the document has neither — callers
    own the error message."""
    schemas = doc.get("schemas")
    if schemas:
        return next(
            (
                s for s in schemas
                if s.get("schema-id") == doc.get("current-schema-id", 0)
            ),
            None,
        )
    return doc.get("schema")


def parse_name_mapping(doc: dict) -> dict[int, list[str]]:
    """``schema.name-mapping.default`` (Iceberg spec Appendix C) parsed
    to ``{field_id: [mapped names...]}`` for TOP-LEVEL fields — the
    fallback both read planes consult when a parquet file's column
    names never matched any Iceberg schema name (Hive/Spark imports via
    ``add_files``-style onboarding, where the physical names predate
    the Iceberg schema entirely). Pure Python: usable from DataSource
    worker processes and the planning plane alike.

    Spec rules honored: entries without a ``field-id`` contribute
    nothing (unassigned columns are unreadable by mapping); empty
    ``names`` lists likewise. Nested ``fields`` blocks are NOT
    flattened — both planes read nested data through its root column,
    so only root mappings participate in resolution (a nested-only
    rename inside a mapped root still reads via the root's physical
    name). Malformed JSON raises loudly rather than silently reading
    nulls."""
    raw = (doc.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return {}
    try:
        entries = json.loads(raw)
    except ValueError as e:
        raise ValueError(
            f"invalid schema.name-mapping.default JSON: {e}"
        ) from e
    if not isinstance(entries, list):
        raise ValueError(
            "invalid schema.name-mapping.default: expected a JSON list "
            f"of mapped-field objects, got {type(entries).__name__}"
        )
    out: dict[int, list[str]] = {}
    for e in entries:
        if not isinstance(e, dict) or e.get("field-id") is None:
            continue
        names = [n for n in (e.get("names") or []) if isinstance(n, str)]
        if names:
            out[int(e["field-id"])] = names
    return out


def _strip_scheme(c):
    """URI → scheme-less path usable as a join key: 'file:///a/b', 'file:/a/b'
    and '/a/b' all normalize to '/a/b'; 's3a://bucket/k' → '/bucket/k'."""
    return F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9.+-]*:/+", "/")


def schemas_from_metadata_json(
    spark: SparkSession, paths: list[tuple[str, str]]
) -> DataFrame:
    """(table_name, metadata_json_path) pairs → long-form schemas frame.

    Distributed: file contents are read by executors through Hadoop FS
    (``spark.read.text(wholetext=True)``), so any configured scheme —
    file://, s3a://, hdfs:// — works; contents join back to their table
    name on the scheme-normalized path and parse in one Arrow-batched
    ``mapInPandas`` stage. ``paths`` comes from the
    ``metadata_log_entries`` metadata table when a live catalog is
    attached.
    """
    import pandas as pd

    pairs = local_frame(spark, paths, "table_name string, path string")
    texts = spark.read.text([p for _, p in paths], wholetext=True).select(
        F.input_file_name().alias("file_uri"), F.col("value").alias("content")
    )
    joined = texts.join(
        pairs, _strip_scheme(texts["file_uri"]) == _strip_scheme(pairs["path"])
    ).select("table_name", "content")
    cols = [f.name for f in SCHEMAS_LONG_SCHEMA.fields]

    def parse_batches(batches):
        for pdf in batches:
            rows = []
            for table_name, content in zip(pdf["table_name"], pdf["content"]):
                rows.extend(parse_metadata_document(table_name, json.loads(content)))
            yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(parse_batches, SCHEMAS_LONG_SCHEMA)


def snapshot_rows_from_doc(table_name: str, doc: dict) -> list[tuple]:
    """fixtures.SNAPSHOT_SCHEMA rows from a parsed table-metadata
    document (shared by the file path below and the REST catalog's
    load-table response, whose ``metadata`` field is this same doc)."""
    import datetime as dt

    rows = []
    for s in doc.get("snapshots", []):
        ts = dt.datetime.fromtimestamp(
            int(s["timestamp-ms"]) / 1000, dt.timezone.utc
        ).replace(tzinfo=None)
        summary = s.get("summary")
        rows.append(
            (
                table_name,
                int(s["snapshot-id"]),
                ts,
                s.get("manifest-list", ""),
                int(s["schema-id"]) if s.get("schema-id") is not None else None,
                {str(k): str(v) for k, v in summary.items()} if summary else None,
            )
        )
    return rows


def snapshots_from_metadata_json(
    spark: SparkSession, table_name: str, path: str
) -> DataFrame:
    """A real table's snapshots frame (fixtures.SNAPSHOT_SCHEMA — the
    shape every snapshot/health/timeline operator consumes) parsed from
    its table-metadata JSON document. Combined with
    ``manifests.files_from_manifest_list`` over each snapshot's
    ``manifest_list``, this is the full no-jar metadata plane: the whole
    [meta] suite runs against a real Iceberg warehouse directory.

    Summary values arrive as strings exactly as committed (the Iceberg
    spec's "all values are strings"); ``timestamp-ms`` becomes a UTC
    timestamp like the catalog path would produce.
    """
    from .fixtures import SNAPSHOT_SCHEMA

    with open(path) as f:
        doc = json.load(f)
    return local_frame(spark, snapshot_rows_from_doc(table_name, doc), SNAPSHOT_SCHEMA)


def partition_spec_rows_from_doc(table_name: str, doc: dict) -> list[tuple]:
    """Partition-spec rows of a table-metadata document in the J1 specs
    shape ``(table_name, spec_id, field_id, source_id, name,
    transform)`` — the frame ``schemas.partition_source_join`` resolves
    against the schema plane. Handles the v2 ``partition-specs`` list
    and the v1 single ``partition-spec`` list."""
    specs = doc.get("partition-specs")
    if specs is None and "partition-spec" in doc:
        specs = [{"spec-id": 0, "fields": doc["partition-spec"]}]
    rows = []
    for s in specs or []:
        sid = int(s.get("spec-id", 0))
        for f in s.get("fields", []):
            rows.append(
                (
                    table_name,
                    sid,
                    int(f.get("field-id", 0)),
                    int(f.get("source-id", 0)),
                    f.get("name"),
                    f.get("transform", "identity"),
                )
            )
    return rows


def history_rows_from_doc(table_name: str, doc: dict) -> list[tuple]:
    """The ``t.history`` metadata-table shape from a table-metadata
    document: ``(table_name, made_current_at_ms, snapshot_id,
    parent_id, is_current_ancestor)`` — one row per snapshot in commit
    order. ``is_current_ancestor`` walks parent lineage from the
    current snapshot, so rolled-back or staged-branch heads show
    ``false`` (exactly how Iceberg's history table distinguishes the
    live line from abandoned ones)."""
    snaps = sorted(doc.get("snapshots", []), key=lambda s: int(s["timestamp-ms"]))
    by_id = {int(s["snapshot-id"]): s for s in snaps}
    ancestors: set[int] = set()
    cur = doc.get("current-snapshot-id")
    cur = int(cur) if cur is not None else None
    while cur is not None and cur in by_id:
        ancestors.add(cur)
        parent = by_id[cur].get("parent-snapshot-id")
        cur = int(parent) if parent is not None else None
    return [
        (
            table_name,
            int(s["timestamp-ms"]),
            int(s["snapshot-id"]),
            int(s["parent-snapshot-id"])
            if s.get("parent-snapshot-id") is not None
            else None,
            int(s["snapshot-id"]) in ancestors,
        )
        for s in snaps
    ]


def refs_rows_from_doc(table_name: str, doc: dict) -> list[tuple]:
    """The ``t.refs`` metadata-table shape: ``(table_name, name, type,
    snapshot_id)``. The implicit ``main`` branch (current-snapshot-id)
    is emitted first when present, as Iceberg does."""
    rows = []
    cur = doc.get("current-snapshot-id")
    if cur is not None:
        rows.append((table_name, "main", "branch", int(cur)))
    for name, ref in sorted(doc.get("refs", {}).items()):
        if name == "main":
            continue
        rows.append(
            (table_name, name, ref.get("type", "branch"), int(ref["snapshot-id"]))
        )
    return rows
