"""Spark SQL ⇄ Iceberg type conversion, including NESTED types.

The Iceberg spec (https://iceberg.apache.org/spec/#schemas) represents
nested types as JSON objects carrying their own field ids::

  list   {"type": "list", "element-id": N, "element": T,
          "element-required": bool}
  map    {"type": "map", "key-id": N, "key": K,
          "value-id": M, "value": V, "value-required": bool}
  struct {"type": "struct", "fields": [{"id", "name", "required",
          "type"}, ...]}

Spark renders the same shapes as DDL strings (``array<float>``,
``map<string,int>``, ``struct<a:int,b:string>``). These converters are
shared by the write plane (recording spec-conformant schemas for frames
with nested columns — e.g. the ``embeddings`` table's ``array<float>``
vector), the read planes (declaring nested columns to Spark / Arrow),
and ``update_schema`` (adding nested columns with fresh ids).
"""

from __future__ import annotations

import re
from collections.abc import Callable

#: Spark SQL dtype → Iceberg primitive (the nested converters recurse
#: through this for leaf types)
_SQL_TO_ICEBERG = {
    "boolean": "boolean", "tinyint": "int", "smallint": "int", "int": "int",
    "bigint": "long", "float": "float", "double": "double", "date": "date",
    "timestamp_ntz": "timestamp", "timestamp": "timestamptz",
    "string": "string", "binary": "binary",
}

#: Iceberg primitive → Spark DDL
_ICEBERG_TO_SQL = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "date": "date",
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "string": "string", "binary": "binary", "uuid": "string",
    # v3 types, handled GRACEFULLY (the reference panics on these —
    # iceberg_adapter.rs:138-139 — SURVEY §1.2 commits us to better):
    # nanosecond timestamps cast to Spark's microsecond precision with
    # a documented-precision warning (iceberg_to_ddl below); `unknown`
    # (a column whose type is not yet known; spec: values are always
    # null and the field is always optional) surfaces as a string
    # column that reads null — no data file can carry it.
    "timestamp_ns": "timestamp_ntz", "timestamptz_ns": "timestamp",
    "unknown": "string",
}

_PRECISION_LOSS = {"timestamp_ns", "timestamptz_ns"}

#: Spark primitive names a schema may carry verbatim (``sql_to_iceberg``
#: passes through what it does not map, e.g. ``void``)
_SPARK_PRIMITIVES = frozenset(_ICEBERG_TO_SQL.values()) | {
    "tinyint", "smallint", "void", "time",
}

_DECIMAL_RE = re.compile(r"^decimal\(\s*\d+\s*,\s*\d+\s*\)$")

# v3 ``variant`` and ``geometry``/``geography`` have no DIRECT Spark
# column mapping, so iceberg_to_ddl fails LOUD on them with the type
# named (not a cryptic DDL parse error downstream, and never the
# reference's panic). BOTH read planes special-case them as TOP-LEVEL
# columns before calling it: ``variant`` scans in its parquet shape
# (struct<metadata, value> binary) and decodes to canonical JSON strings
# (metadata/variant.py); ``geometry``/``geography`` scan as WKB binary
# and decode to WKT strings (metadata/geo.py). NESTED occurrences
# (inside struct/list/map) still fail loud.


class UnsupportedIcebergType(Exception):
    """A spec type this engine cannot materialize as a Spark column.
    Deliberately NOT a ValueError: planners that treat ValueError as
    "no usable schema" must not swallow it, since the read would then
    silently drop or misread the column."""


def split_top(s: str) -> list[str]:
    """Split on commas at angle-bracket depth 0 (``a:int,b:map<int,int>``
    → two parts)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def sql_to_iceberg(sql_type: str, alloc: Callable[[], int]):
    """Spark SQL dtype string → Iceberg type (str for primitives, JSON
    dict for nested). ``alloc`` returns a fresh field id per call —
    nested element/key/value/struct-field ids are spec-required and
    assigned in declaration order."""
    t = sql_type.strip()
    low = t.lower()
    if low.startswith("array<") and low.endswith(">"):
        return {
            "type": "list",
            "element-id": alloc(),
            "element": sql_to_iceberg(t[6:-1], alloc),
            "element-required": False,
        }
    if low.startswith("map<") and low.endswith(">"):
        k, v = split_top(t[4:-1])
        return {
            "type": "map",
            "key-id": alloc(),
            "key": sql_to_iceberg(k, alloc),
            "value-id": alloc(),
            "value": sql_to_iceberg(v, alloc),
            "value-required": False,
        }
    if low.startswith("struct<") and low.endswith(">"):
        fields = []
        for part in split_top(t[7:-1]):
            name, _, ft = part.partition(":")
            fields.append(
                {
                    "id": alloc(),
                    "name": name.strip(),
                    "required": False,
                    "type": sql_to_iceberg(ft, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    # primitives + decimal(p,s)/fixed[n] (pass through their rendering)
    return _SQL_TO_ICEBERG.get(low, t)


def iceberg_to_ddl(t) -> str:
    """Iceberg type (str or nested JSON dict) → Spark DDL string.

    v3 nanosecond timestamps map to Spark's microsecond timestamps with
    a PRECISION warning (sub-microsecond digits truncate on read);
    ``unknown`` maps to a string column that reads null; ``fixed[n]``
    reads as ``binary``. Any other type with no Spark DDL raises
    :class:`UnsupportedIcebergType` naming it."""
    if isinstance(t, str):
        if t in _PRECISION_LOSS:
            import warnings

            warnings.warn(
                f"Iceberg type {t!r} read at microsecond precision "
                "(Spark timestamps are µs; sub-µs digits truncate)",
                stacklevel=2,
            )
        if t in _ICEBERG_TO_SQL:
            return _ICEBERG_TO_SQL[t]
        if t.startswith("fixed[") and t.endswith("]"):
            return "binary"  # fixed-length bytes read as Spark binary
        if t in _SPARK_PRIMITIVES or _DECIMAL_RE.match(t):
            return t
        raise UnsupportedIcebergType(
            f"Iceberg type {t!r} has no Spark column mapping in "
            "this engine — drop or exclude the column to read the "
            "table"
        )
    kind = t.get("type")
    if kind == "list":
        return f"array<{iceberg_to_ddl(t['element'])}>"
    if kind == "map":
        return (
            f"map<{iceberg_to_ddl(t['key'])},{iceberg_to_ddl(t['value'])}>"
        )
    if kind == "struct":
        inner = ",".join(
            f"{f['name']}:{iceberg_to_ddl(f['type'])}"
            for f in t.get("fields", [])
        )
        return f"struct<{inner}>"
    raise UnsupportedIcebergType(f"unknown Iceberg type: {t!r}")


def max_field_id(t, default: int = 0) -> int:
    """Highest field id used inside an Iceberg type (for last-column-id
    accounting across nested element/key/value/struct ids)."""
    if isinstance(t, str):
        return default
    kind = t.get("type")
    if kind == "list":
        return max(int(t["element-id"]), max_field_id(t["element"], default))
    if kind == "map":
        return max(
            int(t["key-id"]), int(t["value-id"]),
            max_field_id(t["key"], default), max_field_id(t["value"], default),
        )
    if kind == "struct":
        return max(
            (
                max(int(f["id"]), max_field_id(f["type"], default))
                for f in t.get("fields", [])
            ),
            default=default,
        )
    return default


def arrow_to_ddl(t) -> str:
    """Arrow type → Spark DDL string, for footer-driven per-file schema
    negotiation (shredded variant columns: the typed_value subtree's
    shape exists only in each parquet footer, so the scan schema must be
    derived from the file, not the table schema). Covers the types the
    VariantShredding spec allows as typed_value leaves plus the group
    shapes (struct/list); anything else raises rather than guessing."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        inner = ",".join(
            f"`{t.field(i).name}`:{arrow_to_ddl(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{arrow_to_ddl(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{arrow_to_ddl(t.key_type)},{arrow_to_ddl(t.item_type)}>"
    if (
        pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_fixed_size_binary(t)
    ):
        return "binary"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise ValueError(f"no Spark DDL mapping for arrow type {t}")


def ddl_to_arrow(ddl: str):
    """Spark DDL type string → pyarrow type (None when unparseable —
    callers then skip casting/declare string); the inverse of
    :func:`arrow_to_ddl`."""
    import pyarrow as pa

    t = ddl.strip()
    low = t.lower()
    prim = {
        "int": pa.int32(), "bigint": pa.int64(),
        "smallint": pa.int16(), "tinyint": pa.int8(),
        "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "date": pa.date32(),
        "boolean": pa.bool_(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if low in prim:
        return prim[low]
    if low.startswith("decimal") and "(" in t:
        try:
            p, s = t[t.index("(") + 1:t.rindex(")")].split(",")
            return pa.decimal128(int(p), int(s))
        except (ValueError, IndexError):
            return None
    if low.startswith("array<") and low.endswith(">"):
        inner = ddl_to_arrow(t[6:-1])
        return pa.list_(inner) if inner is not None else None
    if low.startswith("map<") and low.endswith(">"):
        parts = split_top(t[4:-1])
        if len(parts) != 2:
            return None
        kt, vt = (ddl_to_arrow(p) for p in parts)
        return pa.map_(kt, vt) if kt is not None and vt is not None else None
    if low.startswith("struct<") and low.endswith(">"):
        fields = []
        for part in split_top(t[7:-1]):
            name, _, ft = part.partition(":")
            at = ddl_to_arrow(ft)
            if at is None:
                return None
            fields.append(pa.field(name.strip(), at))
        return pa.struct(fields)
    return None
