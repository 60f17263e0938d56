"""Iceberg v3 / Parquet ``variant`` binary encoding.

Implements the published Parquet Variant encoding (the format Spark's
VariantType and Iceberg v3's ``variant`` type share:
https://github.com/apache/parquet-format/blob/master/VariantEncoding.md):
a variant value is a pair of byte strings — ``metadata`` (version
header + string dictionary) and ``value`` (tagged tree of primitives,
short strings, objects, and arrays). The decoder turns a pair into
plain Python objects; :func:`variant_to_json` renders the canonical
JSON string the read planes surface variant columns as (the engine has
no VariantType of its own — JSON strings are the portable output).

The encoders (:func:`encode_variant`, :func:`shred_variant`) are what
the in-task writer stores a JSON string column of a ``variant`` table
column as (``data_files.stored_form``); tests and fixtures use them
for round-trip pinning and foreign-table simulation.

Decoded primitive ids 0-16 cover the spec's finalized core (null,
booleans, int8/16/32/64, float/double, decimal4/8/16, date,
timestamp±tz in µs, binary, string). Later additions (time, ns
timestamps, uuid) raise a loud ``ValueError`` naming the id — a
documented boundary, never a silent misread.
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal as _decimal
import json
import struct

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_EPOCH_NTZ = _dt.datetime(1970, 1, 1)


def _read_le(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off:off + n], "little")


def decode_metadata(metadata: bytes) -> list[str]:
    """Metadata bytes → the string dictionary (list indexed by id)."""
    if not metadata:
        raise ValueError("empty variant metadata")
    hdr = metadata[0]
    version = hdr & 0x0F
    if version != 1:
        raise ValueError(f"unsupported variant metadata version {version}")
    offset_size = ((hdr >> 6) & 0x03) + 1
    dict_size = _read_le(metadata, 1, offset_size)
    offs_base = 1 + offset_size
    offsets = [
        _read_le(metadata, offs_base + i * offset_size, offset_size)
        for i in range(dict_size + 1)
    ]
    data_base = offs_base + (dict_size + 1) * offset_size
    return [
        metadata[data_base + offsets[i]: data_base + offsets[i + 1]]
        .decode("utf-8")
        for i in range(dict_size)
    ]


def _decode_value(value: bytes, off: int, dictionary: list[str]):
    """Decode the value rooted at ``off``; returns (python_obj, end)."""
    hdr = value[off]
    basic = hdr & 0x03
    info = hdr >> 2
    if basic == 1:  # short string: info = byte length
        end = off + 1 + info
        return value[off + 1:end].decode("utf-8"), end
    if basic == 0:  # primitive
        return _decode_primitive(value, off + 1, info)
    if basic == 2:  # object
        id_size = ((info >> 2) & 0x03) + 1
        off_size = (info & 0x03) + 1
        is_large = (info >> 4) & 0x01
        n_bytes = 4 if is_large else 1
        n = _read_le(value, off + 1, n_bytes)
        ids_base = off + 1 + n_bytes
        offs_base = ids_base + n * id_size
        vals_base = offs_base + (n + 1) * off_size
        out = {}
        for i in range(n):
            fid = _read_le(value, ids_base + i * id_size, id_size)
            voff = _read_le(value, offs_base + i * off_size, off_size)
            out[dictionary[fid]], _ = _decode_value(
                value, vals_base + voff, dictionary
            )
        end_off = _read_le(value, offs_base + n * off_size, off_size)
        return out, vals_base + end_off
    # basic == 3: array
    off_size = (info & 0x03) + 1
    is_large = (info >> 2) & 0x01
    n_bytes = 4 if is_large else 1
    n = _read_le(value, off + 1, n_bytes)
    offs_base = off + 1 + n_bytes
    vals_base = offs_base + (n + 1) * off_size
    out = []
    for i in range(n):
        voff = _read_le(value, offs_base + i * off_size, off_size)
        item, _ = _decode_value(value, vals_base + voff, dictionary)
        out.append(item)
    end_off = _read_le(value, offs_base + n * off_size, off_size)
    return out, vals_base + end_off


def _decode_primitive(value: bytes, off: int, tid: int):
    if tid == 0:
        return None, off
    if tid == 1:
        return True, off
    if tid == 2:
        return False, off
    if tid == 3:
        return struct.unpack_from("<b", value, off)[0], off + 1
    if tid == 4:
        return struct.unpack_from("<h", value, off)[0], off + 2
    if tid == 5:
        return struct.unpack_from("<i", value, off)[0], off + 4
    if tid == 6:
        return struct.unpack_from("<q", value, off)[0], off + 8
    if tid == 7:
        return struct.unpack_from("<d", value, off)[0], off + 8
    if tid in (8, 9, 10):  # decimal4/8/16: 1-byte scale + LE int
        width = {8: 4, 9: 8, 10: 16}[tid]
        scale = value[off]
        unscaled = int.from_bytes(
            value[off + 1: off + 1 + width], "little", signed=True
        )
        return (
            _decimal.Decimal(unscaled).scaleb(-scale),
            off + 1 + width,
        )
    if tid == 11:  # date: days from epoch
        days = struct.unpack_from("<i", value, off)[0]
        return _EPOCH_DATE + _dt.timedelta(days=days), off + 4
    if tid == 12:  # timestamp micros, UTC-adjusted
        us = struct.unpack_from("<q", value, off)[0]
        return _EPOCH_TS + _dt.timedelta(microseconds=us), off + 8
    if tid == 13:  # timestamp micros, no tz
        us = struct.unpack_from("<q", value, off)[0]
        return _EPOCH_NTZ + _dt.timedelta(microseconds=us), off + 8
    if tid == 14:
        return struct.unpack_from("<f", value, off)[0], off + 4
    if tid == 15:  # binary: 4-byte LE length
        n = _read_le(value, off, 4)
        return bytes(value[off + 4: off + 4 + n]), off + 4 + n
    if tid == 16:  # string: 4-byte LE length
        n = _read_le(value, off, 4)
        return value[off + 4: off + 4 + n].decode("utf-8"), off + 4 + n
    raise ValueError(
        f"variant primitive type id {tid} not implemented (spec "
        "additions past the finalized core: time/ns-timestamps/uuid)"
    )


def decode_variant(metadata: bytes, value: bytes):
    """(metadata, value) byte pair → plain Python object."""
    obj, _end = _decode_value(
        bytes(value), 0, decode_metadata(bytes(metadata))
    )
    return obj


def _json_default(o):
    if isinstance(o, _decimal.Decimal):
        return float(o) if o != o.to_integral_value() else int(o)
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    if isinstance(o, bytes):
        return base64.b64encode(o).decode("ascii")
    raise TypeError(type(o).__name__)


def variant_to_json(metadata, value) -> str | None:
    """The JSON string rendering the read planes surface; null-safe."""
    if metadata is None or value is None:
        return None
    return json.dumps(
        decode_variant(metadata, value),
        default=_json_default,
        separators=(",", ":"),
    )


# --------------------------------------------------------------- encoder
# (tests/fixtures only — simulates what a foreign v3 writer produces)


def _collect_keys(obj, keys: list[str], seen: set[str]) -> None:
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k not in seen:
                seen.add(k)
                keys.append(k)
            _collect_keys(v, keys, seen)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            _collect_keys(v, keys, seen)


def encode_metadata(keys: list[str]) -> bytes:
    datas = [k.encode("utf-8") for k in keys]
    total = sum(len(d) for d in datas)
    offset_size = 1 if total < 256 and len(keys) < 256 else 4
    # sorted_strings (header bit 4): set when the dictionary is sorted
    # and duplicate-free, so a spec reader may binary-search by name —
    # and object field-id order then coincides with field-NAME order,
    # the ordering VariantEncoding.md requires of object fields
    is_sorted = all(
        keys[i] < keys[i + 1] for i in range(len(keys) - 1)
    )
    hdr = 0x01 | (0x10 if is_sorted and keys else 0) \
        | ((offset_size - 1) << 6)
    out = bytearray([hdr])
    out += len(keys).to_bytes(offset_size, "little")
    pos = 0
    for d in datas:
        out += pos.to_bytes(offset_size, "little")
        pos += len(d)
    out += pos.to_bytes(offset_size, "little")
    for d in datas:
        out += d
    return bytes(out)


def _encode_value(obj, key_id: dict[str, int]) -> bytes:
    if obj is None:
        return bytes([0x00])
    if obj is True:
        return bytes([1 << 2])
    if obj is False:
        return bytes([2 << 2])
    if isinstance(obj, int):
        for tid, fmt, lo, hi in (
            (3, "<b", -2**7, 2**7), (4, "<h", -2**15, 2**15),
            (5, "<i", -2**31, 2**31), (6, "<q", -2**63, 2**63),
        ):
            if lo <= obj < hi:
                return bytes([tid << 2]) + struct.pack(fmt, obj)
        raise ValueError("int out of int64 range")
    if isinstance(obj, float):
        return bytes([7 << 2]) + struct.pack("<d", obj)
    if isinstance(obj, _decimal.Decimal):
        scale = max(0, -obj.as_tuple().exponent)
        unscaled = int(obj.scaleb(scale))
        return (
            bytes([8 << 2, scale])
            + unscaled.to_bytes(4, "little", signed=True)
        )
    if isinstance(obj, _dt.datetime):
        if obj.tzinfo is not None:
            us = int((obj - _EPOCH_TS).total_seconds() * 1_000_000)
            return bytes([12 << 2]) + struct.pack("<q", us)
        us = int((obj - _EPOCH_NTZ).total_seconds() * 1_000_000)
        return bytes([13 << 2]) + struct.pack("<q", us)
    if isinstance(obj, _dt.date):
        days = (obj - _EPOCH_DATE).days
        return bytes([11 << 2]) + struct.pack("<i", days)
    if isinstance(obj, bytes):
        return bytes([15 << 2]) + len(obj).to_bytes(4, "little") + obj
    if isinstance(obj, str):
        data = obj.encode("utf-8")
        if len(data) < 64:  # short string
            return bytes([0x01 | (len(data) << 2)]) + data
        return (
            bytes([16 << 2]) + len(data).to_bytes(4, "little") + data
        )
    if isinstance(obj, dict):
        items = [
            (key_id[k], _encode_value(v, key_id))
            for k, v in obj.items()
        ]
        items.sort(key=lambda kv: kv[0])
        n = len(items)
        total = sum(len(v) for _i, v in items)
        id_size = 1 if (max((i for i, _v in items), default=0) < 256) \
            else 4
        off_size = 1 if total < 256 else 4
        is_large = 0 if n < 256 else 1
        info = (
            (off_size - 1) | ((id_size - 1) << 2) | (is_large << 4)
        )
        out = bytearray([0x02 | (info << 2)])
        out += n.to_bytes(4 if is_large else 1, "little")
        for i, _v in items:
            out += i.to_bytes(id_size, "little")
        pos = 0
        for _i, v in items:
            out += pos.to_bytes(off_size, "little")
            pos += len(v)
        out += pos.to_bytes(off_size, "little")
        for _i, v in items:
            out += v
        return bytes(out)
    if isinstance(obj, (list, tuple)):
        vals = [_encode_value(v, key_id) for v in obj]
        n = len(vals)
        total = sum(len(v) for v in vals)
        off_size = 1 if total < 256 else 4
        is_large = 0 if n < 256 else 1
        info = (off_size - 1) | (is_large << 2)
        out = bytearray([0x03 | (info << 2)])
        out += n.to_bytes(4 if is_large else 1, "little")
        pos = 0
        for v in vals:
            out += pos.to_bytes(off_size, "little")
            pos += len(v)
        out += pos.to_bytes(off_size, "little")
        for v in vals:
            out += v
        return bytes(out)
    raise TypeError(f"cannot variant-encode {type(obj).__name__}")


def encode_variant(obj) -> tuple[bytes, bytes]:
    """Python object → (metadata, value) byte pair. The dictionary is NAME-SORTED (with the sorted_strings metadata
    bit), so the encoder simulates a conformant foreign writer: object
    field ids ordered by id coincide with ordering by name, which
    VariantEncoding.md requires and name-binary-searching readers rely
    on."""
    keys: list[str] = []
    _collect_keys(obj, keys, set())
    keys.sort()
    key_id = {k: i for i, k in enumerate(keys)}
    return encode_metadata(keys), _encode_value(obj, key_id)


def shred_tree(fields: dict[str, str]) -> dict:
    """Dotted shred paths (``{"a.b": "bigint"}``) → a nested tree: each
    node is ``{"type": leaf-type-or-None, "children": {name: node}}``.
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


def stored_type(tree: dict | None = None):
    """The Arrow type a variant column is stored as: the spec's
    struct<metadata, value> pair, plus the ``typed_value`` field groups
    of a :func:`shred_tree` (struct<value binary, typed_value T> per
    shredded field, recursing for nested objects; ``array<prim>``
    leaves become lists of element groups)."""
    import pyarrow as pa

    prim = {"bigint": pa.int64(), "double": pa.float64(),
            "string": pa.string(), "boolean": pa.bool_()}

    def group(typed):
        return pa.struct([("value", pa.binary()), ("typed_value", typed)])

    def typed_of(node):
        t = node["type"]
        if t is None:
            return pa.struct([
                (k, group(typed_of(c))) for k, c in node["children"].items()
            ])
        if t.startswith("array<"):
            return pa.list_(pa.field("element", group(prim[t[6:-1]])))
        return prim[t]

    pair = [("metadata", pa.binary()), ("value", pa.binary())]
    if tree is None:
        return pa.struct(pair)
    return pa.struct(pair + [("typed_value", typed_of(tree))])


def _shredded_prim(v, t: str, key_id: dict) -> dict:
    want = {"bigint": int, "double": float, "string": str, "boolean": bool}[t]
    # bool is an int subclass — keep the check exact
    if isinstance(v, want) and not (want is int and isinstance(v, bool)):
        return {"value": None, "typed_value": v}
    # JSON null INCLUDED: a null-valued field is a present variant-null
    # (0x00), not an absent field (both-null group) — reconstruction
    # must keep it
    return {"value": _encode_value(v, key_id), "typed_value": None}


def _shredded_group(v, node: dict, key_id: dict) -> dict:
    """One PRESENT value vs its shred-tree node → the field group."""
    t = node["type"]
    if t is not None:
        if not t.startswith("array<"):
            return _shredded_prim(v, t, key_id)
        if isinstance(v, list):
            return {"value": None, "typed_value": [
                _shredded_prim(e, t[6:-1], key_id) for e in v
            ]}
        return {"value": _encode_value(v, key_id), "typed_value": None}
    # internal object node: shredded children recurse, the rest rides
    # THIS level's binary value remainder
    if not isinstance(v, dict):
        return {"value": _encode_value(v, key_id), "typed_value": None}
    rest = {k: x for k, x in v.items() if k not in node["children"]}
    return {
        "value": _encode_value(rest, key_id) if rest else None,
        "typed_value": {
            k: (_shredded_group(v[k], c, key_id) if k in v
                else {"value": None, "typed_value": None})
            for k, c in node["children"].items()
        },
    }


def shred_variant(obj, tree: dict) -> dict:
    """Python object → one SHREDDED variant row (VariantShredding.md) of
    :func:`stored_type` ``(tree)``: the tree's object fields land in
    typed field groups (type-matching values typed, mismatches in the
    group's binary ``value``, absent fields leave both null), the other
    fields ride the enclosing level's binary ``value`` remainder, and a
    non-object value is the plain pair with a null ``typed_value``. The
    name-sorted dictionary covers the FULL object (a superset of the
    remainder's keys is spec-legal and keeps ids stable whichever side
    a value lands on)."""
    keys: list[str] = []
    _collect_keys(obj, keys, set())
    keys.sort()
    key_id = {k: i for i, k in enumerate(keys)}
    if not isinstance(obj, dict):
        top = {"value": _encode_value(obj, key_id), "typed_value": None}
    else:
        top = _shredded_group(obj, tree, key_id)
    return {"metadata": encode_metadata(keys), **top}


# ------------------------------------------------------------- shredding
# (Parquet VariantShredding.md: a writer may shred a variant column
# into typed subcolumns — struct<metadata, value?, typed_value?>, with
# object fields as nested {value?, typed_value?} groups and arrays as
# lists of such groups. Readers must reconstruct the logical value.)

#: sentinel: an object field whose value AND typed_value are both null
#: is ABSENT from that row's object (not null-valued)
MISSING = object()


def reconstruct_shredded(node, dictionary: list[str]):
    """One row's shredded variant node → plain Python object.

    ``node`` is the python form of the parquet group (arrow
    ``to_pylist``): a dict with optional ``value`` (binary variant
    fallback for the unshredded remainder) and optional
    ``typed_value`` (dict = object group of field groups, list =
    array of element groups, anything else = shredded primitive).
    Returns :data:`MISSING` when both are null (absent object field;
    callers render a top-level MISSING as null)."""
    if node is None:
        return MISSING
    tv = node.get("typed_value")
    val = node.get("value")
    if tv is not None and type(tv).__module__ == "numpy":
        # pandas/arrow hand list-typed cells over as numpy arrays (and
        # scalars as numpy types) — normalize to plain Python
        tv = tv.tolist() if hasattr(tv, "tolist") else tv
        if tv is None:
            tv = None  # numpy NaT/NA collapse
    import math as _math

    if isinstance(val, float) and _math.isnan(val):
        val = None  # pandas renders a null binary cell as NaN
    if isinstance(tv, float) and _math.isnan(tv):
        tv = None
    if tv is not None:
        if isinstance(tv, dict):  # object group: shredded fields
            obj = {}
            if val is not None:
                # the unshredded remainder rides as a partial object
                part, _ = _decode_value(bytes(val), 0, dictionary)
                if isinstance(part, dict):
                    obj.update(part)
            for k, child in tv.items():
                v = (
                    reconstruct_shredded(child, dictionary)
                    if isinstance(child, dict) else child
                )
                if v is not MISSING:
                    obj[k] = v
            return obj
        if isinstance(tv, list):  # array of element groups
            return [
                (reconstruct_shredded(e, dictionary)
                 if isinstance(e, dict) else e)
                for e in tv
            ]
        return tv  # shredded primitive, already typed
    if val is not None:
        return _decode_value(bytes(val), 0, dictionary)[0]
    return MISSING


def shredded_row_to_json(row: dict | None) -> str | None:
    """A whole shredded variant row (incl. its ``metadata``) → the
    canonical JSON string; null-safe."""
    if row is None:
        return None
    md = row.get("metadata")
    if md is None or (
        isinstance(md, float) and md != md  # pandas null → NaN
    ):
        return None
    obj = reconstruct_shredded(row, decode_metadata(bytes(md)))
    if obj is MISSING:
        return None
    return json.dumps(
        obj, default=_json_default, separators=(",", ":")
    )
