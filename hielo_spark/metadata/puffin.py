"""Puffin statistics files (the Iceberg Puffin spec) + a mergeable KMV
theta sketch for per-column NDV.

The reference reads table statistics out of metadata.json alongside the
rest of the spec surface (data.rs table metadata walk); Iceberg stores
them as Puffin sidecar files referenced from the ``statistics`` field.
This module implements the CONTAINER per the published Puffin spec —
``PFA1`` magic at the head and both ends of the footer, blob section,
UTF-8 JSON FooterPayload, 4-byte LE payload size, 4 flag bytes — and a
deterministic k-minimum-values theta sketch as the blob payload. The
blob type is honestly named ``hielo-kmv-theta-v1`` (the spec allows
engine-specific types): our payload is NOT the Apache DataSketches
binary layout, so claiming ``apache-datasketches-theta-v1`` would lie
to other engines. The ``ndv`` blob property carries the estimate the
way engines actually consume it (Trino/Spark read the property, not
the sketch, for planning).

Scale: ``write_statistics`` computes one partial sketch per partition
per column inside an Arrow-batched ``mapInPandas`` stage, then merges
the k-bounded partials on the driver — collect volume is
``partitions × columns × k`` hashes, never rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np

from .metadata_json import current_schema_block

MAGIC = b"PFA1"

#: sketch parameter: estimates are exact below K distinct values and
#: ~1/sqrt(K) relative error above (K=1024 → ~3%)
K = 1024
_SKETCH_MAGIC = b"HKT1"


# ----------------------------------------------------------- KMV sketch


def _hash64(values) -> np.ndarray:
    """Deterministic 64-bit hashes of arbitrary values (stringified
    canonical form; bytes pass through)."""
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        b = v if isinstance(v, bytes) else str(v).encode("utf-8")
        out[i] = int.from_bytes(
            hashlib.blake2b(b, digest_size=8).digest(), "little"
        )
    return out


class KmvSketch:
    """k-minimum-values distinct-count sketch: keep the K smallest
    distinct 64-bit hashes; below K the count is exact, above it the
    K-th minimum estimates the density ((K−1)/θ)."""

    def __init__(self, hashes: np.ndarray | None = None, k: int = K):
        self.k = k
        h = np.unique(hashes) if hashes is not None else np.empty(
            0, dtype=np.uint64
        )
        self.hashes = h[: k] if len(h) > k else h

    def update(self, values) -> "KmvSketch":
        if len(values) == 0:
            return self
        merged = np.union1d(self.hashes, _hash64(values))
        self.hashes = merged[: self.k]
        return self

    def merge(self, other: "KmvSketch") -> "KmvSketch":
        if other.k != self.k:
            raise ValueError("cannot merge sketches with different k")
        merged = np.union1d(self.hashes, other.hashes)
        return KmvSketch(merged, self.k)

    def estimate(self) -> int:
        n = len(self.hashes)
        if n < self.k:
            return n
        theta = (int(self.hashes[self.k - 1]) + 1) / 2.0**64
        return int(round((self.k - 1) / theta))

    def serialize(self) -> bytes:
        return (
            _SKETCH_MAGIC
            + struct.pack("<II", self.k, len(self.hashes))
            + self.hashes.astype("<u8").tobytes()
        )

    @classmethod
    def deserialize(cls, b: bytes) -> "KmvSketch":
        if b[:4] != _SKETCH_MAGIC:
            raise ValueError("not a hielo KMV sketch payload")
        k, n = struct.unpack_from("<II", b, 4)
        h = np.frombuffer(b, dtype="<u8", count=n, offset=12).astype(
            np.uint64
        )
        return cls(h, k)


# ------------------------------------------- deletion-vector-v1 blobs

#: Iceberg v3 deletion vectors (spec "Puffin types"): one blob per data
#: file, framed for byte-compatibility with Delta's DV file layout
DV_BLOB_TYPE = "deletion-vector-v1"
_DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])


def dv_payload(positions) -> bytes:
    """Frame deleted row positions as a ``deletion-vector-v1`` blob
    payload per the spec: 4-byte BIG-endian combined length of magic +
    vector, the magic ``D1 D3 39 64``, the portable 64-bit roaring
    serialization of the positions, and a 4-byte big-endian CRC-32 of
    magic + vector."""
    import zlib

    from .roaring import serialize_64

    vec = serialize_64(positions)
    body = _DV_MAGIC + vec
    return (
        struct.pack(">I", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def decode_dv_payload(payload: bytes) -> "np.ndarray":
    """``deletion-vector-v1`` blob payload → sorted uint64 positions.
    Validates the length framing, magic, and CRC-32."""
    import zlib

    from .roaring import deserialize_64

    (blen,) = struct.unpack_from(">I", payload, 0)
    body = payload[4: 4 + blen]
    if len(body) != blen or body[:4] != _DV_MAGIC:
        raise ValueError("not a deletion-vector-v1 payload (bad magic)")
    (crc,) = struct.unpack_from(">I", payload, 4 + blen)
    if crc != (zlib.crc32(body) & 0xFFFFFFFF):
        raise ValueError("deletion vector CRC mismatch")
    return deserialize_64(body, 4)


# ------------------------------------------------------ Puffin container


def write_puffin(
    path: str, blobs: list[dict], properties: dict | None = None
) -> tuple[int, int, list[dict]]:
    """Write a Puffin file: each blob dict carries ``type``, ``fields``
    (schema field ids), ``snapshot-id``, ``sequence-number``,
    ``payload`` (bytes) and optional ``properties``. Returns
    ``(file_size, footer_size, blob_metas)`` — the sizes metadata.json's
    statistics entry records, plus each blob's footer metadata (with its
    ``offset``/``length`` — what a DV manifest entry's content_offset /
    content_size_in_bytes point at)."""
    out = bytearray(MAGIC)
    metas = []
    for b in blobs:
        payload = b["payload"]
        metas.append(
            {
                "type": b["type"],
                "fields": list(b.get("fields", [])),
                "snapshot-id": int(b["snapshot-id"]),
                "sequence-number": int(b["sequence-number"]),
                "offset": len(out),
                "length": len(payload),
                **(
                    {"properties": b["properties"]}
                    if b.get("properties")
                    else {}
                ),
            }
        )
        out += payload
    payload_json = json.dumps(
        {"blobs": metas, "properties": properties or {}}, sort_keys=True
    ).encode("utf-8")
    footer = (
        MAGIC
        + payload_json
        + struct.pack("<i", len(payload_json))
        + b"\x00\x00\x00\x00"  # flags: footer payload uncompressed
        + MAGIC
    )
    out += footer
    with open(path, "wb") as f:
        f.write(bytes(out))
    return len(out), len(footer), metas


def write_dv_container(
    directory: str, seq: int, snapshot_id: int, rows
) -> list[dict]:
    """Write one Puffin container of ``deletion-vector-v1`` blobs — the
    one deletion-vector writer, run in-task, on the driver and by DV
    compaction. ``rows`` are ``(referenced data file, blob payload,
    cardinality)``; the container lands in ``directory`` as
    ``seq-NNNNN-dvs-*.puffin``, blobs in referenced-path order.

    Returns one coordinate record per blob: the DV file dict
    ``commit._stage_files_manifest`` stages — ``path`` (the container),
    ``file_format``, ``record_count`` (the cardinality),
    ``file_size_in_bytes`` (the container's) and ``dv``
    (``referenced``/``offset``/``size``, the shape the manifest decoder
    reads back). No rows write no file and return ``[]``."""
    import uuid

    rows = sorted(rows, key=lambda r: r[0])
    if not rows:
        return []
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(
        directory, f"seq-{seq:05d}-dvs-{uuid.uuid4().hex[:8]}.puffin"
    )
    size, _footer, metas = write_puffin(
        path,
        [
            {
                # spec: a DV blob names its data file and cardinality
                # in properties; ``fields`` is unused for DVs
                "type": DV_BLOB_TYPE,
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "payload": bytes(payload),
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(int(card)),
                },
            }
            for ref, payload, card in rows
        ],
        {"created-by": "hielo_spark"},
    )
    return [
        {
            "path": path,
            "file_format": "PUFFIN",
            "record_count": int(card),
            "file_size_in_bytes": size,
            "dv": {"referenced": ref, "offset": int(m["offset"]),
                   "size": int(m["length"])},
        }
        for (ref, _payload, card), m in zip(rows, metas)
    ]


def read_puffin(path: str) -> tuple[list[dict], dict]:
    """Read a Puffin file → (blobs-with-payloads, file properties).
    Validates all three magics and the footer geometry."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != MAGIC or data[-4:] != MAGIC:
        raise ValueError("not a Puffin file (bad magic)")
    flags = data[-8:-4]
    if flags[0] & 0x01:
        raise NotImplementedError("compressed Puffin footer payload")
    (payload_len,) = struct.unpack_from("<i", data, len(data) - 12)
    payload = data[len(data) - 12 - payload_len : len(data) - 12]
    if data[len(data) - 16 - payload_len : len(data) - 12 - payload_len] != MAGIC:
        raise ValueError("Puffin footer-start magic missing")
    meta = json.loads(payload.decode("utf-8"))
    blobs = []
    for m in meta.get("blobs", []):
        blobs.append(
            dict(m, payload=data[m["offset"] : m["offset"] + m["length"]])
        )
    return blobs, meta.get("properties", {})


# ----------------------------------------------------- statistics commit


def write_statistics(
    spark,
    table_dir: str,
    columns: list[str] | None = None,
) -> dict:
    """Compute per-column NDV sketches over the CURRENT snapshot and
    commit them as a Puffin statistics file (metadata.json
    ``statistics`` field, replacing any prior entry for the same
    snapshot). Returns the statistics entry."""
    from .commit import _commit_doc, _load_doc
    from .manifests import read_data_at_snapshot

    doc, prev_version = _load_doc(table_dir)
    snap_id = doc.get("current-snapshot-id")
    if snap_id is None:
        raise ValueError("cannot write statistics: table has no snapshot")
    snap = next(
        s for s in doc.get("snapshots", []) if s["snapshot-id"] == snap_id
    )
    seq = int(snap.get("sequence-number", 0) or 0)
    schema = current_schema_block(doc)  # v1 single-schema fallback too
    if schema is None:
        raise ValueError("table metadata carries no current schema")
    name2id = {
        f["name"]: f["id"]
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)  # primitive columns only
    }
    name2type = {
        f["name"]: f["type"]
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)
    }
    cols = columns if columns is not None else sorted(name2id)
    missing = [c for c in cols if c not in name2id]
    if missing:
        raise ValueError(
            f"statistics columns not primitive/in schema: {missing}"
        )

    # canonicalize JVM-side: every column becomes its Spark string
    # rendering BEFORE the Arrow hop. Hashing pandas-converted values
    # directly is wrong twice over — a partition with any null promotes
    # int64 to float64 (str(1.0) != str(1), so the same value hashes
    # differently per partition and NDV inflates), and int64 above 2^53
    # collapses to the same float (NDV deflates). Spark's cast is exact
    # and partition-independent; binary/fixed go through hex (cast would
    # mangle non-UTF-8 bytes).
    from pyspark.sql import functions as F

    def canon(c: str):
        t = name2type.get(c, "")
        if t == "binary" or t.startswith("fixed"):
            return F.hex(F.col(c)).alias(c)
        return F.col(c).cast("string").alias(c)

    # the sketch kernel unpickles KmvSketch on workers via `import
    # hielo_spark` — ship the package zip so this works from any cwd
    from ..session import _ship_package

    _ship_package(spark)
    df = read_data_at_snapshot(
        spark, current_metadata_path(table_dir)
    ).select(*[canon(c) for c in cols])

    # one partial sketch per (partition, column): Arrow batches in, a
    # k-bounded binary row out — the distributed-sketch shape
    import pandas as pd

    kcap = K

    def partials(batches):
        sk = {c: KmvSketch(k=kcap) for c in cols}
        for pdf in batches:
            for c in cols:
                # dedup per batch first: blake2b runs once per DISTINCT
                # value, not per row (rows/NDV can be millions to one)
                vals = pdf[c].dropna().unique().tolist()
                if vals:
                    sk[c].update(vals)
        yield pd.DataFrame(
            {
                "col": list(cols),
                "sketch": [sk[c].serialize() for c in cols],
            }
        )

    rows = df.mapInPandas(partials, "col string, sketch binary").collect()
    merged: dict[str, KmvSketch] = {c: KmvSketch(k=kcap) for c in cols}
    for r in rows:
        merged[r.col] = merged[r.col].merge(
            KmvSketch.deserialize(bytes(r.sketch))
        )

    stats_path = os.path.join(
        table_dir, "metadata", f"{snap_id}-stats.puffin"
    )
    blobs = [
        {
            "type": "hielo-kmv-theta-v1",
            "fields": [name2id[c]],
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "payload": merged[c].serialize(),
            "properties": {"ndv": str(merged[c].estimate())},
        }
        for c in cols
    ]
    file_size, footer_size, _metas = write_puffin(
        stats_path, blobs, {"created-by": "hielo_spark"}
    )
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": stats_path,
        "file-size-in-bytes": file_size,
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": [
            {k: v for k, v in b.items() if k != "payload"} for b in blobs
        ],
    }
    doc = dict(doc)
    doc["statistics"] = [
        e
        for e in doc.get("statistics", [])
        if e.get("snapshot-id") != snap_id
    ] + [entry]
    _commit_doc(table_dir, doc, prev_version)
    return entry


def current_metadata_path(table_dir: str) -> str:
    from .commit import current_metadata_path as _cmp

    return _cmp(table_dir)


def ndv_of(table_dir: str, column: str | None = None) -> dict[str, int]:
    """Column → NDV from the CURRENT snapshot's statistics file (the
    planner-facing read: blob properties, no sketch decode)."""
    from .commit import _load_doc

    doc = _load_doc(table_dir)[0]
    snap_id = doc.get("current-snapshot-id")
    entry = next(
        (
            e
            for e in doc.get("statistics", [])
            if e.get("snapshot-id") == snap_id
        ),
        None,
    )
    if entry is None:
        return {}
    schema = current_schema_block(doc)
    if schema is None:
        return {}
    id2name = {f["id"]: f["name"] for f in schema.get("fields", [])}
    out = {}
    for b in entry.get("blob-metadata", []):
        fids = b.get("fields") or []
        name = id2name.get(fids[0]) if len(fids) == 1 else None
        ndv = (b.get("properties") or {}).get("ndv")
        if name is not None and ndv is not None:
            out[name] = int(ndv)
    if column is not None:
        return {column: out[column]} if column in out else {}
    return out
