"""The in-task table-file writer shared by both write planes.

``commit._write_data_files`` runs :func:`write_files` inside
``DataFrame.mapInArrow`` tasks — for data files and for position- and
equality-delete files alike; the ``hielo_iceberg`` DataSource writer
calls it straight from its Python worker. Either way the task streams
its Arrow batches into parquet, split by the table's partition tuple,
and returns one stats record per file from the one kernel below —
row and null counts, NaN counts, NaN-free bounds and distinct-count
estimates. The driver turns the records into manifest entries
(``commit._stage_files_manifest``), so no plane re-reads what it just
wrote and both planes record the same stats for the same rows.

The writer also owns the stored form: before a batch is split and
counted, :func:`stored_form` appends the v3 write-default columns it
lacks and encodes string ``variant`` and geometry/geography columns
(JSON → the variant pair, WKT → WKB), as the :class:`WritePlan` the
driver read from the table metadata (``commit._write_plan``) says.
So a table stores the same bytes whichever plane wrote it.

Pure pyarrow/numpy: a DataSource worker has no SparkSession, and this
module imports nothing from Spark.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import uuid as _uuid
from typing import NamedTuple

#: Spark SQL types that get per-file lower/upper bounds
BOUNDABLE = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "timestamp", "timestamp_ntz",
)

#: rows per parquet row group — ``pq.write_table``'s default, so a
#: streamed file has the row groups a one-shot write of it would have
ROW_GROUP_ROWS = 1024 * 1024

#: distinct counts are exact up to this many values per file and
#: k-minimum-values estimates above it (relative error ~1/sqrt(K))
_SKETCH_K = 4096


def spark_dtype_of(arrow_type) -> str:
    """Arrow type → the Spark SQL type name ``DataFrame.dtypes`` uses.
    Leaf types render through :func:`types.arrow_to_ddl`, which raises
    for a type Spark has no name for; the containers render here,
    because ``DataFrame.dtypes`` leaves struct field names unquoted
    where DDL backtick-quotes them."""
    import pyarrow as pa

    from .types import arrow_to_ddl

    t = arrow_type
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        return f"array<{spark_dtype_of(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{spark_dtype_of(t.key_type)},{spark_dtype_of(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{spark_dtype_of(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return arrow_to_ddl(t)


def render_bound(v) -> str | None:
    """A stat or partition value → the string form manifests record and
    both bounds comparators parse: integers and decimals plain, floats
    as the shortest repr of their double value (a float32 0.2 renders
    as 0.20000000298023224, so a reader comparing doubles never sees a
    bound below the stored value), booleans lower-case, dates ISO,
    timestamps as UTC ``YYYY-MM-DD HH:MM:SS[.fraction]`` with trailing
    fraction zeros trimmed (Spark's cast-to-string form, which sorts
    correctly as a string). Undecodable bytes render as None."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        frac = f"{v.microsecond:06d}".rstrip("0")
        return f"{s}.{frac}" if frac else s
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        try:
            return bytes(v).decode("utf-8")
        except UnicodeDecodeError:
            return None
    return str(v)


def _hash64(arr):
    """64-bit hashes of a null- and NaN-free Arrow array's values."""
    import numpy as np
    import pyarrow as pa

    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(),
                    "little",
                )
                for s in arr.to_pylist()
            ),
            dtype=np.uint64, count=len(arr),
        )
    if pa.types.is_floating(t):
        x = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
        x = np.where(x == 0.0, 0.0, x)  # -0.0 and 0.0 are one value
        x = x.view(np.uint64)
    else:
        if pa.types.is_date(t):
            arr = arr.cast(pa.int32())
        x = arr.cast(pa.int64()).to_numpy(zero_copy_only=False).view(np.uint64)
    # splitmix64 finalizer: spreads sequential ids over the hash space
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class FileStats:
    """Per-file stats accumulated batch by batch: memory stays bounded
    by the column count (each distinct-count sketch holds at most
    ``_SKETCH_K`` hashes), whatever the file's size.

    Null counts cover every column; NaN counts cover float/double
    columns; bounds and distinct counts cover ``BOUNDABLE`` columns.
    NaN never enters a bound (Iceberg spec: it is counted in
    nan_value_counts instead), so an all-NaN or all-null column records
    no bounds at all."""

    def __init__(self, schema):
        self.dtypes = {f.name: spark_dtype_of(f.type) for f in schema}
        self.rows = 0
        self.nulls = dict.fromkeys(self.dtypes, 0)
        self.nans = {
            c: 0 for c, t in self.dtypes.items() if t in ("float", "double")
        }
        self.lo: dict = {}
        self.hi: dict = {}
        self.sketch: dict = {}

    def update(self, batch) -> None:
        import numpy as np
        import pyarrow.compute as pc

        self.rows += batch.num_rows
        for name, col in zip(batch.schema.names, batch.columns):
            self.nulls[name] += col.null_count
            if self.dtypes[name] not in BOUNDABLE:
                continue
            vals = col.drop_null()
            if name in self.nans:
                is_nan = pc.is_nan(vals)
                n_nan = pc.sum(is_nan).as_py() or 0
                if n_nan:
                    self.nans[name] += n_nan
                    vals = vals.filter(pc.invert(is_nan))
            if len(vals) == 0:
                continue
            mm = pc.min_max(vals)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if name not in self.lo or lo < self.lo[name]:
                self.lo[name] = lo
            if name not in self.hi or hi > self.hi[name]:
                self.hi[name] = hi
            h = _hash64(pc.unique(vals))
            prev = self.sketch.get(name)
            self.sketch[name] = np.union1d(
                h if prev is None else prev, h
            )[:_SKETCH_K]

    def _distinct(self, name: str) -> int:
        s = self.sketch.get(name)
        n = 0 if s is None else len(s)
        if n >= _SKETCH_K:
            n = round((_SKETCH_K - 1) * 2.0**64 / (float(s[_SKETCH_K - 1]) + 1))
        return n + (1 if self.nans.get(name) else 0)  # NaN is one value

    def record(self) -> dict:
        """The manifest-facing maps, every value a string."""
        return {
            "record_count": self.rows,
            "lower_bounds": {
                c: render_bound(v) for c, v in self.lo.items()
            } or None,
            "upper_bounds": {
                c: render_bound(v) for c, v in self.hi.items()
            } or None,
            "null_counts": {c: str(n) for c, n in self.nulls.items()} or None,
            "nan_counts": {c: str(n) for c, n in self.nans.items()} or None,
            "distinct_counts": {
                c: str(self._distinct(c))
                for c, t in self.dtypes.items() if t in BOUNDABLE
            } or None,
        }


def _statistics_columns(schema) -> list[str]:
    """The parquet leaf columns that get row-group statistics: all but
    floating-point ones. Spark's parquet reader skips row groups by
    these stats on the assumption that a writer drops them for a chunk
    holding NaN (parquet-mr does); Arrow's writer keeps them and just
    leaves NaN out of min/max, so Spark would skip a group whose only
    rows matching ``x > 5`` are NaN."""
    import pyarrow as pa

    out: list[str] = []

    def walk(t, path: str) -> None:
        if pa.types.is_struct(t):
            for i in range(t.num_fields):
                walk(t.field(i).type, f"{path}.{t.field(i).name}")
        elif pa.types.is_map(t):
            walk(t.key_type, f"{path}.key_value.key")
            walk(t.item_type, f"{path}.key_value.value")
        elif (pa.types.is_list(t) or pa.types.is_large_list(t)
              or pa.types.is_fixed_size_list(t)):
            walk(t.value_type, f"{path}.list.element")
        elif not pa.types.is_floating(t):
            out.append(path)

    for f in schema:
        walk(f.type, f.name)
    return out


class _OpenFile:
    """One parquet file being written: batches buffer until a full row
    group of ``group_rows`` rows is ready, so row groups match
    ``pq.write_table``'s and the buffer never holds more than one row
    group."""

    def __init__(self, path: str, partition_values: dict | None,
                 group_rows: int):
        self.path = path
        self.partition_values = partition_values
        self.group_rows = group_rows
        self.writer = None
        self.stats = None
        self.buf: list = []
        self.buffered = 0

    def write(self, batch) -> None:
        if self.stats is None:
            self.stats = FileStats(batch.schema)
        self.stats.update(batch)
        self.buf.append(batch)
        self.buffered += batch.num_rows
        if self.buffered >= self.group_rows:
            self._flush(full_groups_only=True)

    def _flush(self, full_groups_only: bool = False) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_batches(self.buf)
        keep = table.num_rows % self.group_rows if full_groups_only else 0
        out = table.slice(0, table.num_rows - keep)
        if self.writer is None:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            self.writer = pq.ParquetWriter(
                self.path, table.schema,
                write_statistics=_statistics_columns(table.schema),
            )
        self.writer.write_table(out, row_group_size=self.group_rows)
        rest = table.slice(table.num_rows - keep)
        self.buf = rest.to_batches() if keep else []
        self.buffered = keep

    def close(self) -> dict:
        if self.buffered or self.writer is None:
            self._flush()
        self.writer.close()
        return {
            "path": self.path,
            "file_size_in_bytes": os.path.getsize(self.path),
            **self.stats.record(),
            "partition_values": self.partition_values,
        }


def transform_partition_values(t, col) -> list:
    """Derived partition values for one spec field over an Arrow column
    — the Arrow-side counterpart of ``PartitionTransform.expr``.
    Canonical forms match metadata/transforms.py: time transforms render
    the date_format shapes, truncate floors / prefixes, bucket is the
    spec-exact murmur3 ordinal (vectorized over int/date/timestamp
    sources via the same numpy kernel the Arrow bucket UDF uses; strings
    take the scalar UTF-8 hash)."""
    import numpy as np
    import pyarrow as pa

    from .transforms import murmur3_32_long

    if t.kind == "identity":
        return col.to_pylist()
    if t.kind == "bucket":
        ty = col.type
        ints = None
        if pa.types.is_timestamp(ty):
            # spec: timestamps hash their epoch MICROseconds
            ints = col.cast(pa.timestamp("us", tz=ty.tz)).cast(pa.int64())
        elif pa.types.is_date(ty):
            ints = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
        elif pa.types.is_integer(ty):
            ints = col.cast(pa.int64())
        if ints is not None:
            vals = ints.to_pylist()
            idx = [i for i, v in enumerate(vals) if v is not None]
            out: list = [None] * len(vals)
            if idx:
                h = murmur3_32_long(
                    np.asarray([vals[i] for i in idx], dtype=np.int64)
                )
                buckets = (h.astype(np.int64) & 0x7FFFFFFF) % t.param
                for i, b in zip(idx, buckets):
                    out[i] = int(b)
            return out
    return [None if v is None else t.value_of(v) for v in col.to_pylist()]


class WritePlan(NamedTuple):
    """What a write does to a frame's rows, read once from the table
    metadata on the driver (``commit._write_plan``) and pickled to
    every task:

    * ``transforms`` — the partition spec as ``PartitionTransform``s;
    * ``defaults`` — ``(name, value, Arrow type)`` per v3 write-default
      column;
    * ``variant`` — ``(name, shred tree or None)`` per ``variant``
      column (``variant.shred_tree``);
    * ``geo`` — the names of the geometry/geography columns."""

    transforms: tuple = ()
    defaults: tuple = ()
    variant: tuple = ()
    geo: tuple = ()


def stored_form(batch, plan: WritePlan):
    """``batch`` in the form the table stores it: the write-default
    columns it lacks appended with their values, and every ``variant``
    or geometry/geography column that arrives as a string encoded —
    JSON to the Parquet Variant (metadata, value) pair, shredded when
    the plan has a tree for it; WKT to ISO WKB (malformed input raises
    in the task). A column already in its stored form passes through,
    and a SQL null stays null (a variant one as a pair of nulls). Per-value Python by necessity: both
    encodings are self-describing byte trees."""
    import json

    import pyarrow as pa

    from .geo import wkt_to_wkb
    from .variant import encode_variant, shred_variant, stored_type

    for name, value, atype in plan.defaults:
        if name not in batch.schema.names:
            batch = batch.append_column(
                name, pa.array([value] * batch.num_rows, type=atype)
            )

    def strings(name: str):
        i = batch.schema.get_field_index(name)
        t = batch.schema.field(i).type if i >= 0 else None
        if t is None or not (pa.types.is_string(t)
                             or pa.types.is_large_string(t)):
            return i, None
        return i, batch.column(i).to_pylist()

    for name, tree in plan.variant:
        i, vals = strings(name)
        if vals is None:
            continue
        objs = [None if s is None else json.loads(s) for s in vals]
        rows = [
            {} if s is None  # a SQL null stays a pair of nulls
            else shred_variant(o, tree) if tree is not None
            else dict(zip(("metadata", "value"), encode_variant(o)))
            for s, o in zip(vals, objs)
        ]
        batch = batch.set_column(
            i, name, pa.array(rows, type=stored_type(tree))
        )
    for name in plan.geo:
        i, vals = strings(name)
        if vals is not None:
            batch = batch.set_column(i, name, pa.array(
                [wkt_to_wkb(s) for s in vals], type=pa.binary()
            ))
    return batch


def written_dtypes(dtypes: dict[str, str], plan: WritePlan) -> dict[str, str]:
    """The Spark types of the columns :func:`stored_form` makes of a
    frame with ``dtypes`` — what the driver records for a write
    without looking at its files (there may be none)."""
    from .variant import stored_type

    out = dict(dtypes)
    for name, _, atype in plan.defaults:
        out.setdefault(name, spark_dtype_of(atype))
    for name, tree in plan.variant:
        if out.get(name) == "string":
            out[name] = spark_dtype_of(stored_type(tree))
    for name in plan.geo:
        if out.get(name) == "string":
            out[name] = "binary"
    return out


def write_files(batches, base_dir: str, plan: WritePlan, prefix: str,
                fanout: bool, row_group_rows: int = ROW_GROUP_ROWS,
                ) -> tuple[list[dict], dict[str, str]]:
    """Stream ``batches`` into parquet under ``base_dir`` and return
    ``(records, dtypes)``: one stats record per written file (path,
    size, :class:`FileStats` maps, ``partition_values``) and the Spark
    types of the written columns. Each batch first takes its stored
    form (:func:`stored_form`) — unless the plan has nothing to add or
    encode, when batches go through untouched.

    With ``plan.transforms`` (the partition spec as
    ``PartitionTransform`` objects) rows split by their derived
    partition tuple into
    ``<field>=<value>/`` directories; identity source columns stay out
    of the files, because their values live in the manifest. With
    ``fanout`` every partition's file stays open until the input ends,
    for input in any order; without it the input must arrive clustered
    by partition tuple, and a file closes as soon as its tuple changes,
    so the task holds one open file. Batches with no rows write
    nothing, so an empty task writes no file. Row groups hold
    ``row_group_rows`` rows (position-delete files cut them small, so
    a reader's ``file_path IN`` filter skips the groups of other data
    files).

    Delete files come through here too: the caller precomputes the
    spec's partition values as columns and passes identity transforms
    over them, named by the spec field — so those columns stay out of
    the files, the key columns stay in, and the partition values render
    exactly as a data file's do."""
    from urllib.parse import quote

    import pyarrow as pa

    transforms = plan.transforms
    stage = plan.defaults or plan.variant or plan.geo
    open_files: dict[tuple, _OpenFile] = {}
    records: list[dict] = []
    dtypes: dict[str, str] = {}
    ident = [t.source for t in transforms if t.kind == "identity"]

    def route(key: tuple, batch) -> None:
        f = open_files.get(key)
        if f is None:
            if not fanout:
                records.extend(g.close() for g in open_files.values())
                open_files.clear()
            pvals, segs = None, []
            if transforms:
                pvals = {}
                for t, v in zip(transforms, key):
                    s = "__HIVE_DEFAULT_PARTITION__" if v is None else render_bound(v)
                    pvals[t.field] = s
                    segs.append(f"{t.field}={quote(s, safe='')}")
            path = os.path.join(
                base_dir, *segs, f"{prefix}-{_uuid.uuid4().hex}.parquet"
            )
            f = open_files[key] = _OpenFile(path, pvals, row_group_rows)
        f.write(batch)

    for batch in batches:
        if stage:
            batch = stored_form(batch, plan)
        if not dtypes:
            dtypes = {f.name: spark_dtype_of(f.type) for f in batch.schema}
            missing = [t.source for t in transforms if t.source not in dtypes]
            if missing:
                raise ValueError(
                    f"frame lacks partition source columns {missing}"
                )
        if batch.num_rows == 0:
            continue
        if not transforms:
            route((), batch)
            continue
        keys = list(zip(*[
            transform_partition_values(t, batch.column(t.source))
            for t in transforms
        ]))
        rows_of: dict[tuple, list[int]] = {}
        for i, k in enumerate(keys):
            rows_of.setdefault(k, []).append(i)
        data = batch.drop_columns(ident) if ident else batch
        for k, idx in rows_of.items():
            route(k, data.take(pa.array(idx, type=pa.int64())))
    records.extend(f.close() for f in open_files.values())
    return records, dtypes
