"""``spark.read.format("hielo_iceberg")`` — the no-jar Iceberg read
plane as a REGISTERED Spark data source (Spark 4 Python DataSource API,
public: pyspark.sql.datasource), plus a Structured Streaming source for
table appends.

The reference mounts tables through the Iceberg runtime
(iceberg_adapter.rs:11-65); here the same table directories become
first-class Spark sources with no jar:

    from hielo_spark.sources import register
    register(spark)
    df = (spark.read.format("hielo_iceberg")
          .option("snapshot-id", 101)          # or as-of-ms / ref
          .load("/warehouse/ns/t"))
    stream = (spark.readStream.format("hielo_iceberg")
              .load("/warehouse/ns/t"))        # append micro-batches

Execution model: ``schema()``/``partitions()`` run in a Python process
with NO JVM gateway, and plan through the pure-Python planner in
``metadata/manifests.py`` that ``read_data_at_snapshot`` plans with —
one snapshot selector (``select_snapshot``), one live-entry walk
(``live_entries``), one bounds comparator (``_file_may_match``, which
the pushed filters map onto in ``_file_survives``) and one delete
planner (``_prune_pos_deletes``, ``_dv_per_file``). Only execution
differs: ``read()`` runs on executors and scans parquet via pyarrow,
applying the attached merge-on-read deletes in-task (position deletes
``delete_seq >= data_seq``, equality ``>``), where the DataFrame plane
anti-joins.

Scale notes: live data files pack into target-sized InputPartitions;
pushed filters prune whole files from the plan via the manifest bounds
(spec binary bounds or the engine's string stats) before any scan;
Spark re-applies the filters row-level, so pruning is
conservative-safe. The JVM path
(``manifests.read_data_at_snapshot``) stays the raw-throughput route —
whole-stage codegen over the parquet scan — while this source is the
standard-API surface (SQL via ``.load().createOrReplaceTempView``,
``readStream``, third-party tooling).
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from ..metadata.data_files import render_bound
from ..metadata.lineage import chain as lineage_chain
from ..metadata.manifests import (
    _dv_per_file,
    _file_may_match,
    _incr_bytes,
    _norm_ref_path,
    _prune_pos_deletes,
    _resolve,
    historical_names,
    live_entries,
    read_schema_block,
    select_snapshot,
)
from ..metadata.types import ddl_to_arrow


def _current_metadata_path(table_dir: str) -> str:
    # one resolver across planes (metadata/commit.py) — pyspark's
    # module import is available in DataSource workers, just no session
    from ..metadata.commit import current_metadata_path

    p = current_metadata_path(table_dir)
    if p is None:
        raise FileNotFoundError(f"no metadata.json under {table_dir}")
    return p


def _opt_true(v) -> bool:
    return str(v).lower() in ("true", "1", "yes") if v is not None else False


def _load_doc(table_dir: str) -> dict:
    with open(_current_metadata_path(table_dir)) as f:
        return json.load(f)


_TRAVEL_OPTIONS = ("snapshot-id", "as-of-ms", "ref")


def _snapshot_of(doc: dict, options) -> dict:
    """The snapshot the read options select (manifests.select_snapshot)."""
    return select_snapshot(doc, *(options.get(k) for k in _TRAVEL_OPTIONS))


def _read_schema_block(doc: dict, options) -> dict | None:
    """The schema a data read resolves under (manifests.read_schema_block:
    current for LATEST reads, the snapshot's for time travel)."""
    travel = any(options.get(k) is not None for k in _TRAVEL_OPTIONS)
    return read_schema_block(doc, _snapshot_of(doc, options) if travel else None)


def _manifest_list(table_dir: str, snap: dict) -> str:
    return _resolve(os.path.join(table_dir, "metadata", "x"), snap["manifest-list"])


def _pvals_of(f: dict) -> dict:
    """A live entry's partition values as strings: the engine's string
    map, else the spec's typed partition record."""
    if f["pvals"] is not None:
        return f["pvals"]
    return {
        k: str(v) for k, v in (f["partition"] or {}).items() if v is not None
    }


def _dv_ref(d: dict | None) -> tuple | None:
    """A deletion-vector entry → the (puffin path, offset, size) blob
    region a scan task reads."""
    return (d["path"], d["dv"]["offset"], d["dv"]["size"]) if d else None


def _file_survives(filters, f: dict, aliases=None) -> bool:
    """Manifest-bounds pruning for the pushed filters: each one maps to a
    ``(col, op, value)`` triple for ``manifests._file_may_match``, the
    comparator the DataFrame plane prunes with, so the two planes keep
    the same files. ``f`` is a ``live_entries`` record; ``aliases`` maps
    current column names to their historical ones. Pushed values render
    like the writer's bounds (tz-aware timestamps as UTC, booleans
    lower-case); numbers pass through, since the comparator parses them
    as numbers and a rendered number would compare as a string on a
    column of unknown type."""
    ops = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
           LessThan: "<", LessThanOrEqual: "<=",
           StringStartsWith: "startswith"}

    def render(v):
        num = isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)
        return v if num else render_bound(v)

    for flt in filters:
        col = flt.attribute[0] if hasattr(flt, "attribute") else None
        if col is None:
            continue
        if isinstance(flt, IsNull) or (
            isinstance(flt, EqualNullSafe) and flt.value is None
        ):
            triple = (col, "is_null", None)
        elif isinstance(flt, IsNotNull):
            triple = (col, "is_not_null", None)
        elif isinstance(flt, EqualNullSafe):
            triple = (col, "=", render(flt.value))
        elif isinstance(flt, In):
            triple = (col, "in", [
                render(v) for v in (flt.value or ()) if v is not None
            ])
        elif type(flt) in ops:
            triple = (col, ops[type(flt)], render(flt.value))
        else:
            continue
        if not _file_may_match(f, triple, aliases):
            return False
    return True


class _PackedScanPartition(InputPartition):
    """A bin-packed scan task: several FILES ride one Spark partition
    (Iceberg split planning, ``read.split.target-size``) so a
    many-small-files table doesn't pay one Python-worker task per tiny
    file. Each inner file keeps its own :class:`_ScanPartition` (its
    deletes, partition values, lineage base) and decodes independently
    inside the shared task."""

    def __init__(self, files: list):
        self.files = files


def _pack_scan_tasks(parts: list, sizes: list, doc: dict, options):
    """First-fit sequential packing of per-file scan tasks into
    target-sized Spark partitions. The target follows Iceberg's
    ``read.split.target-size`` table property (128 MiB default,
    overridable via ``option("split-target-bytes")``); locally the
    EFFECTIVE target is lowered so a small table still fans out across
    the machine's cores instead of serializing into one task — at real
    scale (files at or above the target) packing is one file per task
    and this is a no-op."""
    props = doc.get("properties", {}) or {}
    target = int(
        options.get("split-target-bytes")
        or props.get("read.split.target-size")
        or 128 * 1024 * 1024
    )
    total = sum(sizes)
    cores = os.cpu_count() or 8
    # local fan-out: cap each task at its fair share of the table
    # (2 waves per core) so packing never costs parallelism; the tiny
    # absolute floor only guards the degenerate all-empty-files case
    eff = min(target, max(64 * 1024, total // (2 * cores) or 1))
    packed, cur, cur_bytes = [], [], 0
    for p, sz in zip(parts, sizes):
        if cur and cur_bytes + sz > eff:
            packed.append(_PackedScanPartition(cur))
            cur, cur_bytes = [], 0
        cur.append(p)
        cur_bytes += sz
    if cur:
        packed.append(_PackedScanPartition(cur))
    return packed


class _ScanPartition(InputPartition):
    def __init__(self, path, seq, pos_deletes, eq_deletes, columns,
                 pvals=None, out_names=None, scan_log=None,
                 frid=None, lineage=False, dv_ref=None,
                 table_root=None, vx_filters=None, col_filters=None,
                 invert_deletes=False, prior_pos_deletes=None,
                 prior_dv_ref=None):
        # CDC before-image mode (changes surface, delete/update
        # commits): emit ONLY the rows the attached deletes name,
        # MINUS positions the PRIOR state had already deleted (a v3
        # DV replacement unions its predecessor; v2 re-deletes are
        # no-ops) — the commit's newly-deleted rows, scanned straight
        # off the referenced file with no diff
        self.invert_deletes = invert_deletes
        self.prior_pos_deletes = prior_pos_deletes
        self.prior_dv_ref = prior_dv_ref
        # pushed comparison filters on variant-extract columns:
        # [(src_col, aliases, field, op, value)] — used ONLY for
        # row-group pruning on the shredded typed subcolumn's footer
        # stats (Spark re-applies every pushed filter row-exactly)
        self.vx_filters = vx_filters
        # pushed filters on PLAIN table columns:
        # [(col, aliases, op, value)] with op in =/</>/<=/>=/isnull/
        # isnotnull — same contract: row-group pruning hints only
        self.col_filters = col_filters
        # the table location, for resolving foreign ./-relative
        # file_path references inside delete files
        self.table_root = table_root
        # v3 row lineage: the file's first_row_id (manifest field 142;
        # None for rewritten files carrying MATERIALIZED _row_id
        # columns) + whether this scan surfaces the lineage columns
        self.frid = frid
        self.lineage = lineage
        self.path = path
        self.seq = seq
        # deletes ride as REFERENCES and are read/decoded beside the
        # scan task (never on the driver — positions for a 100 TB table
        # under heavy deletes must not mass at planning):
        # pos_deletes = [(delete_parquet_path, seq)] already bounds- and
        # sequence-scoped to THIS file; eq_deletes =
        # [(delete_parquet_path, key_cols, seq)] shared across files
        # (key_cols from the parquet footer, read at planning for
        # projection widening); dv_ref = (puffin_path, offset, size) of
        # this file's v3 deletion-vector blob region, or None.
        self.pos_deletes = pos_deletes
        self.eq_deletes = eq_deletes
        self.dv_ref = dv_ref
        # [(name, ddl_type, hist)] columns this task MATERIALIZES: the
        # pruned projection plus any equality-delete key columns the
        # projection dropped (deletes must still apply)
        self.columns = columns
        self.pvals = pvals or {}        # hive-partition values (strings)
        # the projection Spark asked for, in its order; None = everything
        # in `columns` (no pruning)
        self.out_names = out_names
        self.scan_log = scan_log        # debug: file to append scan info to


def _variant_json_array(col):
    """A parquet variant column — struct<metadata: binary, value:
    binary> or the SHREDDED form with ``typed_value`` subcolumns
    (Parquet VariantShredding) — decoded to its canonical JSON strings
    (the engine's variant surface). The task sees each file's own
    footer, so shredding is handled per file. Per-value Python by
    necessity: the encoding is a self-describing byte tree with no
    vectorizable layout; the loop runs inside the Arrow batch,
    in-task."""
    import pyarrow as pa

    from ..metadata.variant import shredded_row_to_json

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()  # one contiguous Array
    if not pa.types.is_struct(col.type):
        return col.cast(pa.string())
    return pa.array(
        [shredded_row_to_json(r) for r in col.to_pylist()],
        type=pa.string(),
    )


def _eq_delete_keep_mask(table, rcols, ddt):
    """Vectorized null-safe equality-delete mask (keep = not deleted).

    Iceberg equality deletes match with NULL-SAFE equality (a null key
    deletes null rows), which Acero's hash join does NOT do natively
    (verified: a (null,null) delete key leaves (null,null) rows alive
    under plain ``left anti``). Each key column therefore joins as up
    to two derived keys: an ``is_null`` flag plus the values with
    nulls filled to one shared same-type scalar — flags equal AND
    filled values equal ⇔ null-safe equal (a real value can never
    collide with a filled null because their flags differ). When one
    side of a column is constant-null the flag alone decides it and no
    fill scalar is needed. The anti-join does not preserve row order,
    so row positions ride through it and scatter back into a boolean
    numpy mask in the table's original order. Raises ArrowInvalid /
    ArrowNotImplementedError for key types the hash join cannot handle
    (nested structs, uncastable type drift) — the caller falls back to
    the exact per-row path for those.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = table.num_rows
    left = table.select(rcols)
    # delete-file key columns carry their WRITE-TIME names and types:
    # rename to current names (caller resolved the alias history) and
    # cast to the data side's already-normalized types so both sides
    # hash identically after int/decimal promotion
    right = ddt.rename_columns(list(rcols)).cast(
        pa.schema([(c, left.schema.field(c).type) for c in rcols])
    )
    keys: list[str] = []
    lcols = {"__pos__": pa.array(np.arange(n, dtype=np.int64))}
    rkeys = {}
    for c in rcols:
        lc = left.column(c)
        rc = right.column(c)
        l_null, r_null = lc.null_count, rc.null_count
        if l_null or r_null:
            flag = c + "\x00isnull"
            lcols[flag] = pc.is_null(lc)
            rkeys[flag] = pc.is_null(rc)
            keys.append(flag)
            if l_null < len(lc) and r_null < len(rc):
                # both sides hold real values too: join them, nulls
                # filled to one shared scalar (flag disambiguates)
                fill = pc.drop_null(rc if r_null < len(rc) else lc)[0]
                lcols[c] = pc.fill_null(lc, fill)
                rkeys[c] = pc.fill_null(rc, fill)
                keys.append(c)
        else:
            lcols[c] = lc
            rkeys[c] = rc
            keys.append(c)
    survivors = pa.table(lcols).join(
        pa.table(rkeys), keys=keys, join_type="left anti"
    )
    keep = np.zeros(n, dtype=bool)
    keep[survivors.column("__pos__").to_numpy(zero_copy_only=False)] = True
    return keep


def _read_partition(part: _ScanPartition):
    """Executor-side scan: pyarrow parquet + sequence-scoped MOR deletes.
    Column-pruned: only the columns in ``part.columns`` are read from the
    parquet (resolved to each file's own historical names), so a
    2-of-20-columns projection on a wide table reads 2 columns' pages,
    not 20 — the read-amplification fix for 100 TB-wide tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(part.path)
    avail = set(pf.schema_arrow.names)
    # resolve each wanted column to the name THIS file carries it under
    # (current name, else first historical alias present); columns the
    # file predates resolve to nothing and become nulls below
    want_src = []
    for name, _ddl, *rest in part.columns or ():
        if isinstance(_ddl, str) and _ddl.startswith("vextract:"):
            # derived column: read the VARIANT SOURCE column's pages
            _t, vcol, _fld, _vddl, aliases = (
                _ddl.split(":", 4) + [""]
            )[:5]
            src = next(
                (c for c in (vcol, *filter(None, aliases.split(",")))
                 if c in avail),
                None,
            )
            if src is not None:
                want_src.append(src)
            continue
        if name in avail:
            want_src.append(name)
        else:
            src = next(
                (a for a in (rest[0] if rest else ()) if a in avail), None
            )
            if src is not None:
                want_src.append(src)
    want_src = list(dict.fromkeys(want_src))  # v + v_extract dedup
    # shredded-stats row-group pruning: comparison filters on
    # variant-extract columns check each row group's typed-subcolumn
    # footer stats (plus proof that no binary remainder could carry
    # the field) and skip non-matching groups entirely
    rg_keep = None
    vx_resolved = []
    if getattr(part, "vx_filters", None):
        for src, aliases, fld, op, val in part.vx_filters:
            fsrc = next(
                (c for c in (src, *aliases) if c in avail), None
            )
            if fsrc is None:
                continue
            segs = _vx_path_segments(fld)
            tv_path = fsrc
            vpaths = [f"{fsrc}.value"]
            for k, name in segs:
                if k == "field":
                    tv_path += f".typed_value.{name}"
                else:
                    # array element: the shredded list's element chunk
                    # stats cover ALL elements — a SUPERSET of element
                    # i's values, so a predicate that excludes the
                    # whole element range still proves element i can't
                    # match (r12, VERDICT item 6; conservative — any
                    # in-range value keeps the group)
                    tv_path += ".typed_value.list.element"
                vpaths.append(f"{tv_path}.value")
            vx_resolved.append((
                op, val, f"{tv_path}.typed_value", tuple(vpaths),
            ))
    # r11: pushed filters on PLAIN columns prune row groups too —
    # alias-resolved against THIS file's names; files that predate the
    # column keep every group (a v3 initial-default could match)
    col_resolved = []
    if getattr(part, "col_filters", None):
        for cname, aliases, op, val in part.col_filters:
            fsrc = next(
                (c for c in (cname, *aliases) if c in avail), None
            )
            if fsrc is not None:
                col_resolved.append((fsrc, op, val))
    if vx_resolved or col_resolved:
        md = pf.metadata
        rg_keep = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            paths = {
                g.column(ci).path_in_schema: g.column(ci)
                for ci in range(g.num_columns)
            }
            if _vx_rg_may_match(paths, vx_resolved) and \
                    _col_rg_may_match(paths, col_resolved):
                rg_keep.append(rg)
        if len(rg_keep) == md.num_row_groups:
            rg_keep = None  # nothing pruned: plain read
    if rg_keep is not None and not rg_keep:
        table = pf.schema_arrow.empty_table()
        if part.columns:
            table = table.select(
                [c for c in want_src if c in table.column_names]
            )
    elif rg_keep is not None:
        table = pf.read_row_groups(
            rg_keep, columns=want_src if part.columns else None
        )
    else:
        table = (
            pf.read(columns=want_src)
            if part.columns
            else pq.read_table(part.path)
        )
    if part.scan_log:
        with open(part.scan_log, "a") as f:
            f.write(f"{part.path}\t{','.join(sorted(want_src))}\n")
    # position deletes: planning attached only the delete files whose
    # file_path bounds + sequence can apply to THIS file; decode them
    # here, beside the scan (driver never holds a position). Delete
    # parts are spec-sorted by (file_path, pos), so the file_path IN
    # filter prunes whole ROW GROUPS — a task reads its own slice of a
    # delete file that spans many data files. Zero matches fall back to
    # a normalizing full read (exotic path forms a foreign writer might
    # use — "./", symlinks — that the candidate set can't enumerate).
    # Positions stay numpy end-to-end: per-source arrays concatenate
    # into one sorted unique vector, the keep-mask is a boolean numpy
    # fill, never a per-row Python set test.
    import numpy as np
    import pyarrow.compute as pc

    # original-file row positions of each surfaced row when row groups
    # were skipped: every consumer of ABSOLUTE file positions (position
    # deletes, DVs, lineage synthesis) remaps through this vector, so
    # shredded-stats pruning stays ON for MOR tables — production
    # tables always carry deletes, and an off-under-deletes gate would
    # turn the scale win off exactly where it matters
    orig_pos = None
    if rg_keep is not None:
        md = pf.metadata
        starts = np.zeros(md.num_row_groups + 1, dtype=np.int64)
        for rg in range(md.num_row_groups):
            starts[rg + 1] = starts[rg] + md.row_group(rg).num_rows
        orig_pos = (
            np.concatenate(
                [np.arange(starts[rg], starts[rg + 1], dtype=np.int64)
                 for rg in rg_keep]
            )
            if rg_keep
            else np.empty(0, dtype=np.int64)
        )

    me = os.path.abspath(part.path)
    cset = {part.path, "file:" + part.path, me,
            "file:" + me, "file://" + me}
    if part.table_root:
        # foreign ./-relative references resolve against the table root
        rel = os.path.relpath(me, os.path.abspath(part.table_root))
        if not rel.startswith(".."):
            cset |= {rel, "./" + rel}
    cands = list(cset)

    def _collect_doomed(pos_dels, dv_ref) -> "np.ndarray":
        """ABSOLUTE file positions the given delete refs name for
        THIS file (sorted unique numpy vector)."""
        parts_: list["np.ndarray"] = []
        for dpath, _dseq in pos_dels or ():
            dt = pq.read_table(
                dpath, columns=["file_path", "pos"],
                filters=[("file_path", "in", cands)],
            )
            if not dt.num_rows:
                dt = pq.read_table(dpath, columns=["file_path", "pos"])
                # normalize per DISTINCT path (few), then one is_in
                # filter
                uniq = pc.unique(
                    dt.column("file_path").combine_chunks()
                )
                mine = [
                    u for u in uniq.to_pylist()
                    if os.path.abspath(
                        _norm_ref_path(u, part.table_root)
                    ) == me
                ]
                if not mine:
                    continue
                dt = dt.filter(
                    pc.is_in(dt.column("file_path"),
                             value_set=pa.array(mine, type=uniq.type))
                )
            if dt.num_rows:
                parts_.append(
                    dt.column("pos")
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
        if dv_ref is not None:
            # v3 deletion vector: read this file's ≤8 KiB blob REGION
            # and decode the roaring bitmap in-task (a numpy vector)
            from ..metadata.puffin import decode_dv_payload

            ppath, off, size = dv_ref
            with open(ppath, "rb") as fh:
                fh.seek(off)
                payload = fh.read(size)
            parts_.append(
                np.asarray(decode_dv_payload(payload), dtype=np.int64)
            )
        if not parts_:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts_))

    def _to_local(ab: "np.ndarray") -> "np.ndarray":
        """Absolute file positions → local indices of the (possibly
        row-group-pruned) read; positions inside skipped groups
        vanish."""
        if orig_pos is not None:
            idx = np.searchsorted(orig_pos, ab)
            inb = idx < orig_pos.size
            idx = idx[inb]
            return idx[orig_pos[idx] == ab[inb]]
        return ab[(ab >= 0) & (ab < table.num_rows)]

    kept_pos = None
    if getattr(part, "invert_deletes", False):
        # CDC before-image: keep ONLY the rows the commit's NEW
        # deletes name, minus positions the prior state had already
        # deleted (DV replacements union their predecessor)
        newly = np.setdiff1d(
            _collect_doomed(part.pos_deletes, part.dv_ref),
            _collect_doomed(part.prior_pos_deletes,
                            part.prior_dv_ref),
        )
        sel = _to_local(newly)
        keep = np.zeros(table.num_rows, dtype=bool)
        keep[sel] = True
        kept_pos = np.flatnonzero(keep)
        table = table.filter(pa.array(keep))
    else:
        doomed = _collect_doomed(part.pos_deletes, part.dv_ref)
        if doomed.size:
            doomed = _to_local(doomed)
        if doomed.size:
            keep = np.ones(table.num_rows, dtype=bool)
            keep[doomed] = False
            kept_pos = np.flatnonzero(keep)
            # boolean-mask filter keeps row order and is a SIMD kernel;
            # handles the fully-deleted-file case (all-False mask)
            table = table.filter(pa.array(keep))
    if part.lineage:
        # v3 row lineage: synthesize _row_id = first_row_id + position
        # for files without MATERIALIZED lineage columns (rewritten
        # files carry them in the parquet and were read above); files
        # predating the v3 upgrade have neither and read null
        n = table.num_rows
        if "_row_id" not in table.column_names:
            if part.frid is not None:
                local = (
                    kept_pos
                    if kept_pos is not None
                    else np.arange(n, dtype=np.int64)
                )
                # local index → ORIGINAL file position when row groups
                # were skipped (lineage ids are position-based)
                pos = orig_pos[local] if orig_pos is not None else local
                rid = pa.array(part.frid + pos, type=pa.int64())
            else:
                rid = pa.nulls(n, type=pa.int64())
            table = table.append_column("_row_id", rid)
        if "_last_updated_sequence_number" not in table.column_names:
            table = table.append_column(
                "_last_updated_sequence_number",
                pa.array(np.full(n, part.seq, dtype=np.int64))
                if part.seq is not None
                else pa.nulls(n, type=pa.int64()),
            )
    # hive-partitioned files store identity partition columns only in
    # the directory layout + manifest partition values — reattach them
    # as typed constants so the batch matches the declared schema.
    # Alias-aware: after a rename of the partition source column the
    # file's pvals carry the OLD name, so the current name resolves
    # through the field-id history like data columns do.
    for name, ddl, *rest0 in part.columns:
        if name in table.column_names:
            continue
        pkey = name if name in part.pvals else next(
            (a for a in (rest0[0] if rest0 else ()) if a in part.pvals),
            None,
        )
        if pkey is None:
            continue
        sval = part.pvals[pkey]
        if sval == "__HIVE_DEFAULT_PARTITION__":
            pyval = None
        elif ddl in ("int", "bigint", "smallint", "tinyint"):
            pyval = int(sval)
        elif ddl in ("float", "double"):
            pyval = float(sval)
        elif ddl == "date":
            # hive layout stores ISO strings; pa.array with a date32
            # type rejects raw strings (ArrowTypeError) — parse first
            import datetime as _dt

            pyval = _dt.date.fromisoformat(sval)
        elif ddl == "boolean":
            pyval = sval.lower() == "true"
        elif ddl in ("timestamp", "timestamp_ntz"):
            import datetime as _dt

            pyval = _dt.datetime.fromisoformat(sval.replace(" ", "T"))
            if ddl == "timestamp" and pyval.tzinfo is None:
                pyval = pyval.replace(tzinfo=_dt.timezone.utc)
        else:
            pyval = sval
        patype = {
            "int": pa.int32(), "bigint": pa.int64(),
            "smallint": pa.int16(), "tinyint": pa.int8(),
            "float": pa.float32(), "double": pa.float64(),
            "string": pa.string(), "date": pa.date32(),
            "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us", tz="UTC"),
            "timestamp_ntz": pa.timestamp("us"),
        }.get(ddl, pa.string())
        table = table.append_column(
            name, pa.array([pyval] * table.num_rows, type=patype)
        )
    if part.columns:
        # the declared schema's exact column order; columns a file
        # predates (add-column evolution) come back as nulls. Nested
        # DDL (array/map/struct) converts recursively; unparseable
        # types keep the file's own arrow type (no cast).
        cols = []
        for name, ddl, *rest in part.columns:
            if isinstance(ddl, str) and ddl.startswith("vextract:"):
                _t, vcol, vfield, vddl, aliases = (
                    ddl.split(":", 4) + [""]
                )[:5]
                vsrc = next(
                    (c for c in (vcol,
                                 *filter(None, aliases.split(",")))
                     if c in table.column_names),
                    None,
                )
                if vsrc is None:
                    cols.append(pa.nulls(
                        table.num_rows,
                        type=ddl_to_arrow(vddl) or pa.string(),
                    ))
                else:
                    cols.append(_variant_extract_array(
                        table.column(vsrc), vfield, vddl))
                continue
            want = ddl_to_arrow(ddl)
            src = name
            if src not in table.column_names:
                # renamed column: a file written before the rename
                # carries the field under a historical name (field-id
                # history from the schema plane) — read it from there
                src = next(
                    (a for a in (rest[0] if rest else ())
                     if a in table.column_names),
                    None,
                )
            default = rest[1] if len(rest) > 1 else None
            if src is not None and ddl == "variant":
                # v3 variant: decode (metadata, value) → JSON strings
                cols.append(_variant_json_array(table.column(src)))
                continue
            if src is not None and ddl == "geometry":
                # v3 geometry/geography: WKB → WKT strings
                from ..metadata.geo import wkb_to_wkt

                cols.append(pa.array(
                    [wkb_to_wkt(b)
                     for b in table.column(src).to_pylist()],
                    type=pa.string(),
                ))
                continue
            if src is not None:
                col = table.column(src)
                if want is not None and col.type != want:
                    # normalize to the declared schema type: INT96
                    # parquet arrives as timestamp[ns] (Spark's Arrow
                    # ingest rejects ns), widened ints after type
                    # promotion, list field-name variants (element vs
                    # item), etc. safe=False permits the ns→µs
                    # truncation; incompatible casts keep the original
                    # and fail loudly downstream
                    try:
                        col = col.cast(want, safe=False)
                    except (pa.lib.ArrowInvalid,
                            pa.lib.ArrowNotImplementedError,
                            pa.lib.ArrowTypeError):
                        pass
                cols.append(col)
            elif default is not None:
                # v3 initial-default: THIS file predates the column
                # (its footer doesn't carry it under any name) — fill
                # the default, not null
                cols.append(
                    pa.array(
                        [default] * table.num_rows,
                        type=want or pa.string(),
                    )
                )
            else:
                cols.append(
                    pa.nulls(table.num_rows, type=want or pa.string())
                )
        table = pa.table(cols, names=[c[0] for c in part.columns])
    # equality deletes: delete-key tuples materialized at planning,
    # applied only when delete_seq > data_seq (re-inserts survive).
    # Applied AFTER schema normalization so the data side carries
    # CURRENT names — but the delete file's own key columns carry the
    # names current when the delete was WRITTEN, so each resolves
    # through the same field-id alias history as data columns
    # (historical → current). A key column that resolves to nothing
    # (its field was dropped) makes the delete inexact: skip the delete
    # file with a loud warning rather than crash or over-delete.
    hist2cur = {
        a: name
        for name, _ddl, *rest in part.columns or ()
        for a in (rest[0] if rest else ())
    }
    cur_names = set(table.column_names)
    for dpath, cols, dseq in part.eq_deletes or ():
        if part.seq is not None and dseq is not None and dseq <= part.seq:
            continue
        if not cols or table.num_rows == 0:
            continue
        rcols = [
            c if c in cur_names else hist2cur.get(c) for c in cols
        ]
        missing = [c for c, rc in zip(cols, rcols) if rc not in cur_names]
        if missing:
            import warnings

            warnings.warn(
                f"equality-delete keys {missing} do not resolve against "
                "the current schema (dropped column?) — delete file "
                "not applied",
                stacklevel=2,
            )
            continue
        # key tuples are read HERE, in-task (planning shipped only the
        # file path + footer column names)
        ddt = pq.read_table(dpath, columns=list(cols))
        try:
            keep = _eq_delete_keep_mask(table, rcols, ddt)
        except (pa.lib.ArrowInvalid, pa.lib.ArrowNotImplementedError,
                pa.lib.ArrowTypeError):
            # exact per-row fallback for key types the vectorized
            # anti-join can't hash (nested structs, uncastable drift)
            key_tuples = list(
                zip(*[ddt.column(c).to_pylist() for c in cols])
            )
            del_keys = set(key_tuples)  # null-safe: None == None
            data_cols = [table.column(c).to_pylist() for c in rcols]
            keep = [tuple(v) not in del_keys for v in zip(*data_cols)]
        table = table.filter(pa.array(keep, type=pa.bool_()))
    # final projection: drop equality-delete key columns the pruned
    # schema didn't ask for, and emit in Spark's requested column order
    if part.out_names is not None and list(table.column_names) != part.out_names:
        table = table.select(part.out_names)
    yield from table.to_batches()


def _vx_path_segments(fieldpath: str) -> list[tuple[str, object]]:
    """``"a.b"`` → ``[("field","a"),("field","b")]``;
    ``"arr[0].x"`` → ``[("field","arr"),("index",0),("field","x")]``.
    Raises on malformed segments (empty names, non-integer indexes)."""
    import re

    segs: list[tuple[str, object]] = []
    for raw in fieldpath.split("."):
        m = re.fullmatch(r"([^\[\]]+)((?:\[\d+\])*)", raw.strip())
        if not m or not m.group(1):
            raise ValueError(
                f"variant-extract path segment {raw!r} must be "
                "'<name>' or '<name>[<int>]...'"
            )
        segs.append(("field", m.group(1)))
        for idx in re.findall(r"\[(\d+)\]", m.group(2)):
            segs.append(("index", int(idx)))
    return segs


def _parse_variant_extracts(options) -> list[tuple[str, str, str, str]]:
    """``option("variant-extract", "v.a:bigint,v.b:string")`` →
    ``[(out_name, src_col, fieldpath, ddl)]`` with out_name the path
    flattened to underscores (``v.a.b`` → ``v_a_b``, ``v.arr[0]`` →
    ``v_arr_0``). r11: nested object paths (``v.a.b``) and shredded
    array element access (``v.arr[0]``) in addition to top-level
    fields."""
    import re

    spec = options.get("variant-extract")
    if not spec:
        return []
    out = []
    for item in str(spec).split(","):
        item = item.strip()
        if not item:
            continue
        path, _, ddl = item.partition(":")
        src, _, fld = path.partition(".")
        ddl = ddl.strip().lower()
        if not (src and fld and ddl):
            raise ValueError(
                f"variant-extract entry {item!r} must be "
                "'<col>.<field-path>:<spark-type>'"
            )
        _vx_path_segments(fld)  # validate the path grammar loudly
        # primitives only: the sentinel DDL is ':'-separated, and the
        # extraction semantics are typed-scalar (a struct/map request
        # would also be ambiguous against shredded group encodings)
        allowed = {
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "string", "boolean", "date",
        }
        elem = (
            ddl[6:-1].strip()
            if ddl.startswith("array<") and ddl.endswith(">")
            else None
        )
        if ddl not in allowed and elem not in allowed:
            raise ValueError(
                f"variant-extract type {ddl!r} unsupported "
                f"(primitives only: {sorted(allowed)}, or array<> "
                "of those)"
            )
        flat = re.sub(r"\[(\d+)\]", r"_\1", fld.strip()).replace(
            ".", "_"
        )
        out.append((f"{src}_{flat}", src.strip(), fld.strip(), ddl))
    # flattening is lossy ('v.a.b' and 'v.a_b' both yield 'v_a_b'):
    # two extracts colliding on an out name would produce duplicate
    # schema fields with ambiguous resolution — reject loudly
    seen: dict[str, str] = {}
    for out_name, src, fld, _ddl in out:
        prev = seen.get(out_name)
        if prev is not None:
            raise ValueError(
                f"variant-extract paths {prev!r} and "
                f"{src + '.' + fld!r} both flatten to the output "
                f"column {out_name!r} — rename one path"
            )
        seen[out_name] = f"{src}.{fld}"
    return out


def _vx_cmp_triple(val, mn, mx):
    """(val, min, max) normalized into ONE comparable family, or None
    when the families differ (keep the group). Numerics compare
    directly; strings/bytes compare as UTF-8 bytes — parquet UTF8
    stats order is unsigned byte order, which equals code-point order
    for valid UTF-8, and the spec's stat truncation rules keep
    [min, max] an ENCLOSING range (a truncated min is a prefix ≤ the
    true min; a truncated max is incremented above the true max), so
    outside-the-range skips stay safe even on truncated stats; dates
    compare as dates."""
    import datetime as _dt

    def _num(x):
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    if _num(val) and _num(mn) and _num(mx):
        # NaN anywhere in the triple makes every comparison False —
        # which reads as "provably no match" and PRUNES. Parquet stats
        # exclude NaN (so NaN rows are invisible to min/max), and a NaN
        # literal/stat is unprovable either way: keep the group.
        import math

        if any(isinstance(x, float) and math.isnan(x) for x in (val, mn, mx)):
            return None
        return val, mn, mx
    if isinstance(val, (str, bytes)):
        def _b(x):
            if isinstance(x, str):
                return x.encode("utf-8", "surrogatepass")
            return x if isinstance(x, bytes) else None

        t = (_b(val), _b(mn), _b(mx))
        return t if t[1] is not None and t[2] is not None else None
    if isinstance(val, _dt.date) and not isinstance(val, _dt.datetime):
        def _d(x):
            return isinstance(x, _dt.date) and not isinstance(
                x, _dt.datetime
            )

        return (val, mn, mx) if _d(mn) and _d(mx) else None
    if isinstance(val, _dt.datetime):
        # timestamps: only when awareness agrees on all three (naive
        # vs aware comparison raises; mixed semantics unprovable)
        ts = (val, mn, mx)
        if all(isinstance(x, _dt.datetime) for x in ts) and (
            all(x.tzinfo is not None for x in ts)
            or all(x.tzinfo is None for x in ts)
        ):
            return ts
        return None
    if isinstance(val, bool):
        return (
            (val, mn, mx)
            if isinstance(mn, bool) and isinstance(mx, bool)
            else None
        )
    import decimal as _decmod

    if isinstance(val, _decmod.Decimal):
        return (
            (val, mn, mx)
            if isinstance(mn, _decmod.Decimal)
            and isinstance(mx, _decmod.Decimal)
            else None
        )
    return None


def _col_rg_may_match(paths: dict, col_filters) -> bool:
    """One row group's footer stats vs pushed PLAIN-column filters:
    False ONLY when some filter provably matches no row in the group
    (comparison value outside [min, max], comparison over an all-null
    chunk, IS NULL over a zero-null chunk, IS NOT NULL over an
    all-null chunk). Absent/unusable stats keep the group — Spark
    re-applies every pushed filter row-exactly, so pruning is never a
    correctness decision."""
    for fsrc, op, val in col_filters:
        c = paths.get(fsrc)
        if c is None:
            continue  # column physically absent: no pruning basis
        st = c.statistics
        if st is None:
            continue
        nulls = st.null_count
        if op == "isnull":
            if nulls is not None and nulls == 0:
                return False
            continue
        if op == "isnotnull":
            if nulls is not None and nulls == c.num_values:
                return False
            continue
        # comparisons: SQL nulls never satisfy them, so an all-null
        # chunk provably matches nothing
        if nulls is not None and nulls == c.num_values:
            return False
        if not st.has_min_max:
            continue
        if op == "in":
            vals = [v for v in val if v is not None]
            if not vals:
                return False  # IN () / IN (NULL): matches nothing
            hit = False
            for v in vals:
                t = _vx_cmp_triple(v, st.min, st.max)
                if t is None or t[1] <= t[0] <= t[2]:
                    hit = True  # inside bounds, or unprovable: keep
                    break
            if not hit:
                return False
            continue
        if op == "startswith":
            t = _vx_cmp_triple(val, st.min, st.max)
            if t is None:
                continue
            pb, mnb, mxb = t
            up = _incr_bytes(pb) if isinstance(pb, bytes) else None
            if not isinstance(pb, bytes):
                continue
            # v startswith p ⟺ p <= v < incr(p)
            if mxb < pb or (up is not None and mnb >= up):
                return False
            continue
        t = _vx_cmp_triple(val, st.min, st.max)
        if t is None:
            continue  # incomparable families: keep the group
        val_c, mn, mx = t
        if (
            (op == "=" and not (mn <= val_c <= mx))
            or (op == ">" and not (mx > val_c))
            or (op == ">=" and not (mx >= val_c))
            or (op == "<" and not (mn < val_c))
            or (op == "<=" and not (mn <= val_c))
        ):
            return False
    return True


def _vx_rg_may_match(paths: dict, vx_filters) -> bool:
    """One row group's footer column-chunk stats vs the pushed
    variant-extract comparison filters: False ONLY when some filter
    provably matches no row — which requires (a) the field's typed
    subcolumn stats to exclude the value range AND (b) proof that no
    row in the group could carry the field through a BINARY remainder
    (every ``value`` column along the path and the row remainder must
    be all-null), since binary-carried values are invisible to typed
    stats. Anything unprovable keeps the group — pruning is an
    optimization, never a correctness decision (Spark re-applies the
    filters row-exactly). r11: string (UTF-8 byte order, truncation-
    safe) and date comparisons prune alongside numerics."""
    for op, val, tv_path, vpaths in vx_filters:
        tv = paths.get(tv_path)
        if tv is None:
            continue  # file not shredded this way: no pruning basis
        binary_possible = False
        for p in vpaths:
            c = paths.get(p)
            if c is None:
                continue  # column absent from the file: no values
            st = c.statistics
            if (
                st is None
                or st.null_count is None
                or st.null_count < c.num_values
            ):
                binary_possible = True  # can't prove all-null
                break
        if binary_possible:
            continue
        st = tv.statistics
        if st is None:
            continue
        # all binaries proven absent + typed subcolumn all-null: the
        # field is null/missing in every row — comparisons match none
        if (
            st.null_count is not None
            and st.null_count == tv.num_values
        ):
            return False
        if not st.has_min_max:
            continue
        if op == "in":
            vals = [v for v in val if v is not None]
            if not vals:
                return False
            hit = False
            for v in vals:
                t = _vx_cmp_triple(v, st.min, st.max)
                if t is None or t[1] <= t[0] <= t[2]:
                    hit = True
                    break
            if not hit:
                return False
            continue
        if op == "startswith":
            t = _vx_cmp_triple(val, st.min, st.max)
            if t is None or not isinstance(t[0], bytes):
                continue
            pb, mnb, mxb = t
            up = _incr_bytes(pb)
            if mxb < pb or (up is not None and mnb >= up):
                return False
            continue
        t = _vx_cmp_triple(val, st.min, st.max)
        if t is None:
            continue  # incomparable families: keep the group
        val_c, mn, mx = t
        if (
            (op == "=" and not (mn <= val_c <= mx))
            or (op == ">" and not (mx > val_c))
            or (op == ">=" and not (mx >= val_c))
            or (op == "<" and not (mn < val_c))
            or (op == "<=" and not (mn <= val_c))
        ):
            return False
    return True


def _vx_list_element(arr, i: int):
    """Element ``i`` of every list in ``arr`` (list<child>), null where
    the list is null or shorter than ``i+1`` — pure offset arithmetic
    on the Arrow buffers, no per-row Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = offsets[1:] - offsets[:-1]
    valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
    take = np.where(valid & (lengths > i), offsets[:-1] + i, 0)
    idx = pa.array(take, mask=~(valid & (lengths > i)))
    return arr.values.take(idx)


def _vx_walk_obj(obj, segs):
    """Walk a reconstructed variant value along the parsed path
    segments; MISSING when any step is absent / wrong shape."""
    from ..metadata.variant import MISSING

    for kind, key in segs:
        if obj is MISSING or obj is None:
            return MISSING
        if kind == "field":
            if not isinstance(obj, dict):
                return MISSING
            obj = obj.get(key, MISSING)
        else:
            if not isinstance(obj, list) or key >= len(obj):
                return MISSING
            obj = obj[key]
    return obj


def _variant_extract_array(col, field: str, want_ddl: str):
    """ONE field path of a parquet variant column as a typed arrow
    array — the read-side payoff of shredding: when the file shredded
    the whole path (nested typed_value subcolumns), rows where it
    landed typed are served STRAIGHT from the columnar subfield with
    zero JSON decode; only rows where any step rode a binary
    remainder (mismatch, unshredded writer) fall back to per-row
    reconstruction. r11: nested object paths ("a.b") walk the
    typed_value groups recursively and array element segments
    ("arr[0]") index the shredded list's offsets — still zero JSON
    decode on the typed path. Values not matching the requested type
    surface null (typed extraction semantics, like a cast)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..metadata.variant import (
        MISSING,
        decode_metadata,
        reconstruct_shredded,
    )

    want = ddl_to_arrow(want_ddl) or pa.string()
    n = len(col)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not pa.types.is_struct(col.type):
        return pa.nulls(n, type=want)

    want_elem = want.value_type if pa.types.is_list(want) else None

    def _coerce_scalar(v, w):
        if v is None or v is MISSING:
            return None
        if pa.types.is_integer(w):
            return v if isinstance(v, int) and not isinstance(v, bool) \
                else None
        if pa.types.is_floating(w):
            return float(v) if isinstance(v, (int, float)) \
                and not isinstance(v, bool) else None
        if pa.types.is_string(w):
            return v if isinstance(v, str) else None
        if pa.types.is_boolean(w):
            return v if isinstance(v, bool) else None
        if pa.types.is_date(w):
            import datetime as _dt

            # only a true variant date decodes to datetime.date; strings
            # and other families surface null (cast semantics) — a
            # str passed through here would abort the whole batch at
            # pa.array(type=date32)
            return (
                v
                if isinstance(v, _dt.date)
                and not isinstance(v, _dt.datetime)
                else None
            )
        return v

    def _coerce(v):
        if v is None or v is MISSING:
            return None
        if want_elem is not None:
            # array<prim> request: lists coerce per element (typed
            # extraction semantics — a mismatched element is null,
            # like a cast); non-lists surface null
            if not isinstance(v, list):
                return None
            return [_coerce_scalar(e, want_elem) for e in v]
        return _coerce_scalar(v, want)

    segs = _vx_path_segments(field)

    def _fields_of(a):
        return {a.type.field(i).name for i in range(a.type.num_fields)}

    names = _fields_of(col)
    # generalized shredded walk: at each path step the current node is
    # a shredding group struct<value?, typed_value?>; binaries collects
    # every `value` column along the path (a non-null slot means the
    # row COULD carry the rest of the path in a binary remainder)
    typed_fast = None
    binaries = []
    if "value" in names:
        binaries.append(col.field("value"))
    node_tv = col.field("typed_value") if "typed_value" in names else None
    for si, (kind, key) in enumerate(segs):
        grp = None
        if node_tv is None:
            break
        if kind == "field":
            if pa.types.is_struct(node_tv.type) and key in _fields_of(
                node_tv
            ):
                grp = node_tv.field(key)
        else:  # array element: shredded lists are list<group>
            if pa.types.is_list(node_tv.type) or pa.types.is_large_list(
                node_tv.type
            ):
                grp = _vx_list_element(node_tv, key)
        node_tv = None
        if grp is None or not pa.types.is_struct(grp.type):
            break
        gnames = _fields_of(grp)
        if "value" in gnames:
            binaries.append(grp.field("value"))
        nxt = grp.field("typed_value") if "typed_value" in gnames else None
        if si == len(segs) - 1:
            typed_fast = nxt
        else:
            node_tv = nxt
    if typed_fast is not None:
        # rows needing the slow path: typed slot null AND some binary
        # along the path could still carry the field
        need = pc.is_null(typed_fast)
        binary_possible = None
        for candidate in binaries:
            v = pc.is_valid(candidate)
            binary_possible = (
                v if binary_possible is None
                else pc.or_(binary_possible, v)
            )
        if binary_possible is not None:
            need = pc.and_(need, binary_possible)

        def _fam_ok(w, t):
            return (
                (pa.types.is_integer(w) and pa.types.is_integer(t))
                or (pa.types.is_floating(w)
                    and (pa.types.is_integer(t)
                         or pa.types.is_floating(t)))
                or (pa.types.is_string(w) and pa.types.is_string(t))
                or (pa.types.is_boolean(w) and pa.types.is_boolean(t))
                or (pa.types.is_date(w) and pa.types.is_date(t))
            )

        # typed→requested conversion follows the SAME semantics as the
        # per-row _coerce (mismatched type families surface null, int
        # widens to float) — an unsafe arrow cast here would truncate
        # a double-shredded 2.7 to bigint 2 on the fast path while the
        # slow path nulls it, making extraction file-shape-dependent
        tf_t = typed_fast.type
        if want_elem is not None and (
            pa.types.is_list(tf_t) or pa.types.is_large_list(tf_t)
        ):
            # array<prim> request over a SHREDDED list: elements are
            # struct<value?, typed_value?> groups — coerce the typed
            # flat values in one vectorized pass and rebuild lists
            # from the offsets; rows whose list carries ANY binary
            # element fall to the per-row slow path (element decode
            # needs the row's own dictionary)
            la = (typed_fast.combine_chunks()
                  if isinstance(typed_fast, pa.ChunkedArray)
                  else typed_fast)
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            ev = la.values
            enames = (
                _fields_of(ev) if pa.types.is_struct(ev.type) else set()
            )
            etyped = (
                ev.field("typed_value") if "typed_value" in enames
                else None
            )
            ebin = ev.field("value") if "value" in enames else None
            if ebin is not None and len(ev):
                ebv = pc.is_valid(ebin).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                csum = np.concatenate(([0], np.cumsum(ebv)))
                has_bin = (csum[offs[1:]] - csum[offs[:-1]]) > 0
                need = pc.or_(need, pa.array(has_bin))
            if etyped is None or not _fam_ok(want_elem, etyped.type):
                flat = [None] * len(ev)
            else:
                try:
                    flat = etyped.cast(want_elem).to_pylist()
                except (pa.lib.ArrowInvalid,
                        pa.lib.ArrowNotImplementedError,
                        pa.lib.ArrowTypeError):
                    flat = [
                        _coerce_scalar(v, want_elem)
                        for v in etyped.to_pylist()
                    ]
            la_valid = pc.is_valid(la).to_numpy(zero_copy_only=False)
            out_np = [
                flat[offs[i]:offs[i + 1]] if la_valid[i] else None
                for i in range(n)
            ]
        elif want_elem is not None:
            # array requested but the leaf shredded as a non-list:
            # typed rows are null by semantics; binary rows still
            # decode below
            out_np = [None] * n
        elif not _fam_ok(want, tf_t):
            out_np = [None] * n
        else:
            try:
                out_np = typed_fast.cast(want).to_pylist()
            except (pa.lib.ArrowInvalid,
                    pa.lib.ArrowNotImplementedError,
                    pa.lib.ArrowTypeError):
                out_np = [_coerce(v) for v in typed_fast.to_pylist()]
        idx = np.flatnonzero(need.to_numpy(zero_copy_only=False))
        if idx.size:
            slow_rows = col.take(pa.array(idx)).to_pylist()
            for i, row in zip(idx.tolist(), slow_rows):
                md = row.get("metadata") if row else None
                if md is None:
                    continue
                obj = reconstruct_shredded(row, decode_metadata(bytes(md)))
                out_np[i] = _coerce(_vx_walk_obj(obj, segs))
        return pa.array(out_np, type=want)
    # unshredded (or differently-shredded) file: per-row reconstruction,
    # but straight to the one field path — no JSON string round trip
    vals = []
    for row in col.to_pylist():
        md = row.get("metadata") if row else None
        if md is None:
            vals.append(None)
            continue
        obj = reconstruct_shredded(row, decode_metadata(bytes(md)))
        vals.append(_coerce(_vx_walk_obj(obj, segs)))
    return pa.array(vals, type=want)


class HieloIcebergReader(DataSourceReader):
    def __init__(self, table_dir: str, options, schema_cols, out_names=None):
        self.table_dir = table_dir
        self.options = options
        self.schema_cols = schema_cols  # FULL table schema (resolution)
        # the pruned projection Spark asked for (reader(schema)); None =
        # no pruning requested
        self.out_names = out_names
        self.filters: list[Filter] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        supported = (EqualTo, EqualNullSafe, GreaterThan,
                     GreaterThanOrEqual, LessThan, LessThanOrEqual,
                     In, StringStartsWith, IsNull, IsNotNull)
        for f in filters:
            if isinstance(f, supported) and len(getattr(f, "attribute", ())) == 1:
                self.filters.append(f)
            # every filter is re-applied by Spark (file pruning is
            # conservative, not row-exact), so yield them all back
            yield f

    def partitions(self):
        import pyarrow.parquet as pq

        doc = _load_doc(self.table_dir)
        entries = live_entries(
            _manifest_list(self.table_dir, _snapshot_of(doc, self.options)),
            doc.get("format-version", 2), self.table_dir,
        )
        # pushed filters prune data files HERE (the comparator and the
        # rename aliases the DataFrame plane prunes with) so the delete
        # planning below only references delete files that can touch a
        # surviving data file
        aliases = {
            c[0]: list(c[2]) for c in self.schema_cols if len(c) > 2 and c[2]
        }
        data = [
            f for f in entries
            if f["content"] == 0 and _file_survives(self.filters, f, aliases)
        ]
        pos_entries = [f for f in entries if f["content"] == 1]
        eq_del_files = [f for f in entries if f["content"] == 2]
        # Deletes are planned as REFERENCES, never materialized here:
        # the driver keeps only (delete file path / blob region
        # coordinates) per surviving data file, and each scan task
        # reads/decodes its own deletes beside the scan
        # (_read_partition). At 100 TB under heavy deletes no position
        # ever masses on the driver — planning cost is O(delete files),
        # not O(deleted rows). Position-delete files whose file_path
        # bounds can't touch a surviving data file are never attached;
        # per-file attachment re-checks the bounds against that file's
        # own path below.
        surviving = [f["path"] for f in data]
        pos_dels = _prune_pos_deletes(
            [d for d in pos_entries if not d["dv"]], surviving
        )
        # v3 deletion vectors: planning only records each blob's (path,
        # offset, size) coordinates; the scan task reads its own
        # ≤8 KiB region and decodes there
        dv_best = _dv_per_file(pos_entries, surviving, self.table_dir)
        # equality deletes: the projection must be widened by the
        # delete files' KEY columns, which planning learns from each
        # parquet FOOTER only (read_schema — no row is decoded); the
        # key tuples themselves are read in-task. Each entry keeps its
        # manifest KEY-column bounds so per-file attachment below can
        # skip files whose own bounds are disjoint on any shared key —
        # the eq-delete twin of data-file skipping (conservative: any
        # missing bound keeps the attachment).
        eq_del = []
        id2names: dict[int, set[str]] = {}
        if eq_del_files:
            for s in doc.get("schemas", []) or (
                [doc["schema"]] if doc.get("schema") else []
            ):
                for g in s.get("fields", []):
                    id2names.setdefault(int(g["id"]), set()).add(
                        g["name"]
                    )
        for de in eq_del_files:
            # spec: the entry's equality_ids name the key FIELDS — no
            # file read at all when every id maps to a single name
            # across the schema history (a post-delete rename makes the
            # parquet's own column names diverge from the current ones;
            # the footer is then the source of truth)
            cols = None
            eq_ids = de["equality_ids"]
            if eq_ids:
                cand = [id2names.get(int(i)) for i in eq_ids]
                if all(c is not None and len(c) == 1 for c in cand):
                    cols = [next(iter(c)) for c in cand]
            if cols is None:
                cols = list(pq.read_schema(de["path"]).names)
            eq_del.append((de["path"], cols, de["seq"], de))

        def _may_hold(counts, c) -> bool:
            return counts is None or int(counts.get(c, 1)) > 0

        def _eq_may_touch(d, f, cols) -> bool:
            dlo, dhi, dbt = d["lb"] or {}, d["ub"] or {}, d["bt"] or {}
            flo, fhi, fbt = f["lb"] or {}, f["ub"] or {}, f["bt"] or {}
            for c in cols:
                a_lo, a_hi = dlo.get(c), dhi.get(c)
                b_lo, b_hi = flo.get(c), fhi.get(c)
                if None in (a_lo, a_hi, b_lo, b_hi):
                    continue  # missing info: conservative, keep
                # bounds leave NULL and NaN out, and a NULL (NaN) key
                # matches a NULL (NaN) row outside both ranges
                if _may_hold(d["nc"], c) and _may_hold(f["nc"], c):
                    continue
                if int((d["nanc"] or {}).get(c, 0)) \
                        or int((f["nanc"] or {}).get(c, 0)):
                    continue
                if (dbt.get(c) or fbt.get(c)) in (
                    "tinyint", "smallint", "int", "bigint",
                    "float", "double", "long",
                ):
                    try:
                        a_lo, a_hi = float(a_lo), float(a_hi)
                        b_lo, b_hi = float(b_lo), float(b_hi)
                    except (TypeError, ValueError):
                        continue
                if a_hi < b_lo or b_hi < a_lo:
                    return False  # disjoint on this key: can't touch
            return True
        # column pruning: tasks materialize the pruned projection PLUS
        # any equality-delete key columns the projection dropped (the
        # deletes must still apply even when their keys aren't selected);
        # the extras are dropped again after delete application.
        task_cols, out_names = self.schema_cols, None
        if self.out_names is not None:
            hist2cur = {
                a: name
                for name, _ddl, *rest in self.schema_cols
                for a in (rest[0] if rest else ())
            }
            needed = set(self.out_names)
            for _dpath, cols, _dseq, _dent in eq_del:
                for c in cols:
                    cur = c if c in {n for n, *_ in self.schema_cols} \
                        else hist2cur.get(c)
                    if cur is not None:
                        needed.add(cur)
            task_cols = [c for c in self.schema_cols if c[0] in needed]
            out_names = list(self.out_names)
        lineage = _opt_true(self.options.get("row-lineage"))
        if lineage:
            # declared schema puts the lineage columns at the END;
            # tasks materialize them (from parquet when rewritten files
            # carry them, else synthesized from first_row_id + pos)
            task_cols = list(task_cols) + [
                ("_row_id", "bigint", ()),
                ("_last_updated_sequence_number", "bigint", ()),
            ]
        # pushed comparison filters on variant-extract columns →
        # per-task row-group pruning hints (src aliases ride along so
        # pre-rename files resolve)
        vx_filters = None
        extracts = {
            out: (src, fld)
            for out, src, fld, _ddl in _parse_variant_extracts(
                self.options
            )
        }
        hist_of = {
            e[0]: (e[2] if len(e) > 2 else ())
            for e in self.schema_cols
        }
        ops = {
            EqualTo: "=", GreaterThan: ">",
            GreaterThanOrEqual: ">=", LessThan: "<",
            LessThanOrEqual: "<=",
        }
        vx = []
        colf = []
        for f in self.filters:
            attr = getattr(f, "attribute", ())
            if len(attr) != 1:
                continue
            name = attr[0]
            op = ops.get(type(f))
            if name in extracts:
                src, fld = extracts[name]
                hist = tuple(hist_of.get(src, ()))
                if isinstance(f, In):
                    vx.append((src, hist, fld, "in",
                               tuple(f.value or ())))
                elif isinstance(f, StringStartsWith):
                    vx.append((src, hist, fld, "startswith", f.value))
                elif isinstance(f, EqualNullSafe):
                    if f.value is not None:
                        vx.append((src, hist, fld, "=", f.value))
                elif op:
                    vx.append((src, hist, fld, op, f.value))
                continue
            # r11: plain-column filters become row-group pruning hints
            # (below _file_survives' file-level manifest-bounds
            # pruning; Spark re-applies every filter row-exactly)
            if name not in hist_of:
                continue
            if isinstance(f, IsNull):
                op, val = "isnull", None
            elif isinstance(f, IsNotNull):
                op, val = "isnotnull", None
            elif isinstance(f, EqualNullSafe):
                # a <=> NULL is IS NULL; a <=> v (v non-null) never
                # matches null rows, so it prunes exactly like "="
                op, val = (
                    ("isnull", None) if f.value is None
                    else ("=", f.value)
                )
            elif isinstance(f, In):
                op, val = "in", tuple(f.value or ())
            elif isinstance(f, StringStartsWith):
                op, val = "startswith", f.value
            elif op:
                val = f.value
            else:
                continue
            colf.append((name, tuple(hist_of.get(name, ())), op, val))
        vx_filters = vx or None
        col_filters = colf or None
        scan_log = self.options.get("scan_log")
        parts = []
        sizes = []
        for f in data:  # already filter-pruned above
            path, seq = f["path"], f["seq"]
            # this file's delete REFERENCES, bounds- and sequence-scoped
            # here so the task reads only delete files that can apply
            # to it (spec: position deletes apply at dseq >= data seq)
            my_refs = [
                (d["path"], d["seq"])
                for d in _prune_pos_deletes(pos_dels, [path])
                if seq is None or d["seq"] is None or d["seq"] >= seq
            ]
            dv = dv_best.get(path)
            # equality deletes attach per file too: sequence-scoped
            # (strictly newer than the data file) and bounds-pruned on
            # the shared key columns, so a task never reads a delete
            # parquet that cannot touch its file
            my_eq = [
                (dpath, cols, dseq)
                for dpath, cols, dseq, dent in eq_del
                if (seq is None or dseq is None or dseq > seq)
                and _eq_may_touch(dent, f, cols)
            ]
            # parquet chunk stats exclude NaN, but Spark SQL ranks NaN
            # above every double — in a file that HOLDS NaN rows
            # (manifest nan_value_counts, field 137), a >/>= hint could
            # prune a row group whose only matching rows are NaN. Drop
            # those hints for this file only; Spark's own vanilla
            # parquet source gets this wrong — the recorded NaN counts
            # let this source keep the rows.
            my_colf = col_filters
            nanc = f["nanc"]
            if col_filters and nanc:
                my_colf = [
                    cf for cf in col_filters
                    if not (
                        cf[2] in (">", ">=")
                        and int(nanc.get(cf[0], 0)) > 0
                    )
                ] or None
            parts.append(
                _ScanPartition(path, seq, my_refs, my_eq,
                               task_cols, _pvals_of(f),
                               out_names=out_names, scan_log=scan_log,
                               frid=f["frid"],
                               lineage=lineage, dv_ref=_dv_ref(dv),
                               table_root=self.table_dir,
                               vx_filters=vx_filters,
                               col_filters=my_colf)
            )
            sizes.append(f["size"])
        if not parts:
            # Spark requires >= 1 partition; an empty scan still needs one
            return [_ScanPartition(None, None, [], [], task_cols,
                                   out_names=out_names)]
        return _pack_scan_tasks(parts, sizes, doc, self.options)

    def read(self, partition):
        if isinstance(partition, _PackedScanPartition):
            for p in partition.files:
                yield from _read_partition(p)
            return
        if partition.path is None:
            return
        yield from _read_partition(partition)


class _ChangesPartition(InputPartition):
    def __init__(self, scan: _ScanPartition, snap_id: int, ordinal: int,
                 change_type: str = "INSERT"):
        self.scan = scan
        self.snap_id = snap_id
        self.ordinal = ordinal
        self.change_type = change_type


class HieloIcebergChangesReader(DataSourceReader):
    """CDC changelog through the standard source API —
    ``option("surface", "changes")`` with optional ``from-snapshot-id``
    (exclusive) / ``to-snapshot-id`` (inclusive, default current):
    emits the rows ADDED by each append snapshot in range with
    Iceberg's changelog metadata columns (``_change_type`` /
    ``_commit_snapshot_id`` / ``_change_ordinal``). Each append's files
    come from ITS OWN manifest list (status=1 entries it added), so a
    later compaction never drops its changes; replace snapshots emit
    nothing (no logical row change). Deletes committed later are
    separate changes, so insert scans read the raw files (no MOR
    application) — the Iceberg changelog contract.

    r13: ``delete_where`` / ``update_where`` commits RENDER without a
    diff — their new position deletes (v2) / DVs (v3) NAME the before
    rows, which scan straight off the referenced files in inverted
    delete mode (minus positions the parent state had already deleted;
    a DV replacement unions its predecessor), and an update's staged
    re-append is the after image (``UPDATE_BEFORE``/``UPDATE_AFTER``;
    plain deletes emit ``DELETE``). Scale: one bounded scan per
    touched file per commit — no whole-table diff, the property that
    matters when a consumer catches up over many DML commits on a
    100 TB table. MERGE commits, equality deletes and dynamic
    overwrites still raise toward ``metadata.read_changelog``, which
    renders them by the multiset diff."""

    def __init__(self, table_dir: str, options, schema_cols):
        self.table_dir = table_dir
        self.options = options
        self.schema_cols = schema_cols

    def partitions(self):
        doc = _load_doc(self.table_dir)
        to_opt = self.options.get("to-snapshot-id")
        to_id = (
            int(to_opt) if to_opt is not None
            else doc.get("current-snapshot-id")
        )
        if to_id is None:
            return [_ChangesPartition(
                _ScanPartition(None, None, [], [], self.schema_cols), 0, 0)]
        to_id = int(to_id)
        known = {int(s["snapshot-id"]) for s in doc.get("snapshots", [])}
        if to_id not in known:
            # loud, like the from-side check below — a typo'd id must
            # not read as "zero changes"
            raise ValueError(
                f"to-snapshot-id {to_id} is not a snapshot of this table"
            )
        from_opt = self.options.get("from-snapshot-id")
        from_id = int(from_opt) if from_opt is not None else None
        if from_id is not None and from_id == to_id:
            # the standard incremental poll: consumer stored snapshot S,
            # table hasn't advanced — an EMPTY changeset, not an error
            return [_ChangesPartition(
                _ScanPartition(None, None, [], [], self.schema_cols), 0, 0)]
        chain = lineage_chain(doc, from_id, to_id)
        if chain is None:
            raise ValueError(
                f"from-snapshot-id {from_id} is not an ancestor of "
                f"{to_id} on this table"
            )
        fv = doc.get("format-version", 2)
        # many-small-file appends pack into target-sized tasks exactly
        # like the batch scan — grouped per (snapshot, ordinal,
        # change_type) so the change-metadata columns stay
        # per-partition constants
        by_id = {int(x["snapshot-id"]): x for x in doc.get("snapshots", [])}
        groups: dict[tuple, tuple[list, list]] = {}

        def _add_scan(key, scan, size):
            scans, szs = groups.setdefault(key, ([], []))
            scans.append(scan)
            szs.append(size)

        for ordinal, s in enumerate(chain):
            summary = s.get("summary", {})
            op = summary.get("operation")
            if op == "replace":
                continue  # compaction: no logical row change
            snap_id = int(s["snapshot-id"])
            is_update = op == "overwrite" and "updated-records" in summary
            if op not in ("append", "delete") and not is_update:
                # ValueError, NOT NotImplementedError: the DataSource
                # protocol treats NotImplementedError from partitions()
                # as the "single partition" sentinel and swallows it
                raise ValueError(
                    f"changes range crosses snapshot {s['snapshot-id']} "
                    f"(operation={op!r}) — its changelog needs the "
                    "multiset diff; use metadata.read_changelog"
                )
            entries = live_entries(
                _manifest_list(self.table_dir, s), fv, self.table_dir
            )
            if op in ("delete",) or is_update:
                # before-image rendering without a diff: the commit's
                # NEW position deletes / DVs NAME the deleted rows —
                # scan them straight off the referenced files, minus
                # whatever the PARENT state had already deleted
                parent = s.get("parent-snapshot-id")
                psnap = by_id.get(int(parent)) if parent is not None \
                    else None
                if psnap is None:
                    raise ValueError(
                        f"changes range crosses snapshot "
                        f"{s['snapshot-id']} (operation={op!r}) whose "
                        "parent is unavailable — use "
                        "metadata.read_changelog"
                    )
                p_entries = live_entries(
                    _manifest_list(self.table_dir, psnap), fv,
                    self.table_dir,
                )
                if any(f["content"] == 2 for f in p_entries + entries):
                    # a live equality delete makes the position-named
                    # before-image inexact (eq-deleted rows are not
                    # positions) — the diff plane stays exact
                    raise ValueError(
                        f"changes range crosses snapshot "
                        f"{s['snapshot-id']} with equality deletes in "
                        "play — use metadata.read_changelog"
                    )
                p_live = [f for f in p_entries if f["content"] == 0]
                p_paths = [f["path"] for f in p_live]
                p_pos = [f for f in p_entries if f["content"] == 1]
                s_pos = [f for f in entries if f["content"] == 1]
                new_pos = [
                    d for d in s_pos if not d["dv"] and d["sid"] == snap_id
                ]
                new_dvs = {
                    p: d for p, d in _dv_per_file(
                        s_pos, p_paths, self.table_dir
                    ).items()
                    if d["sid"] == snap_id
                }
                p_dvs = _dv_per_file(p_pos, p_paths, self.table_dir)
                prior_pos = [d for d in p_pos if not d["dv"]]
                before_key = (
                    snap_id, ordinal,
                    "UPDATE_BEFORE" if is_update else "DELETE",
                )
                for f in p_live:
                    path, seq = f["path"], f["seq"]
                    my_new = [
                        (d["path"], d["seq"])
                        for d in _prune_pos_deletes(new_pos, [path])
                    ]
                    ndv = new_dvs.get(path)
                    if not my_new and ndv is None:
                        continue  # commit didn't touch this file
                    my_prior = [
                        (d["path"], d["seq"])
                        for d in _prune_pos_deletes(prior_pos, [path])
                        if seq is None or d["seq"] is None
                        or d["seq"] >= seq
                    ]
                    _add_scan(
                        before_key,
                        _ScanPartition(
                            path, seq, my_new, [], self.schema_cols,
                            pvals=f["pvals"],
                            table_root=self.table_dir,
                            invert_deletes=True,
                            prior_pos_deletes=my_prior,
                            prior_dv_ref=_dv_ref(p_dvs.get(path)),
                            dv_ref=_dv_ref(ndv),
                        ),
                        f["size"],
                    )
                if not is_update:
                    continue  # plain DELETE: no after-image
            after_type = "UPDATE_AFTER" if is_update else "INSERT"
            for f in entries:
                if f["content"] == 0 and f["status"] == 1 \
                        and f["sid"] == snap_id:
                    _add_scan(
                        (snap_id, ordinal, after_type),
                        _ScanPartition(
                            f["path"], f["seq"], [], [], self.schema_cols,
                            pvals=f["pvals"],
                        ),
                        f["size"],
                    )
        parts = []
        for (snap_id, ordinal, ctype), (scans, szs) in groups.items():
            for packed in _pack_scan_tasks(scans, szs, doc, self.options):
                parts.append(
                    _ChangesPartition(packed, snap_id, ordinal, ctype)
                )
        return parts or [_ChangesPartition(
            _ScanPartition(None, None, [], [], self.schema_cols), 0, 0)]

    def read(self, partition: _ChangesPartition):
        import pyarrow as pa

        scans = (
            partition.scan.files
            if isinstance(partition.scan, _PackedScanPartition)
            else [partition.scan]
        )
        for scan in scans:
            if scan.path is None:
                continue
            for batch in _read_partition(scan):
                t = pa.Table.from_batches([batch])
                n = t.num_rows
                t = t.append_column(
                    "_change_type",
                    pa.array(
                        [getattr(partition, "change_type", "INSERT")] * n,
                        pa.string(),
                    ),
                )
                t = t.append_column(
                    "_commit_snapshot_id",
                    pa.array([partition.snap_id] * n, pa.int64()),
                )
                t = t.append_column(
                    "_change_ordinal",
                    pa.array([partition.ordinal] * n, pa.int32()),
                )
                yield from t.to_batches()


class HieloIcebergStreamReader(DataSourceStreamReader):
    """Append-only micro-batch source over the table's snapshot lineage:
    each batch is the set of data files ADDED by snapshots in
    (start, end]. Non-append snapshots (delete/replace/overwrite) stop
    the stream with an error rather than silently emitting wrong rows —
    the same contract as manifests.read_incremental.

    Admission control (Iceberg Spark-source parity):
    ``streaming-max-files-per-micro-batch`` /
    ``streaming-max-rows-per-micro-batch`` cap each micro-batch by
    walking the snapshot summaries (``added-data-files`` /
    ``added-records`` — metadata-only, no manifest reads) and returning
    the first snapshot id at which the running total reaches the cap —
    a busy table's backlog then drains in bounded batches instead of
    one unbounded catch-up batch. The cap basis is the last offset this
    reader handed out or the last batch range Spark planned — traced
    call orders (Spark 4.1): fresh start latestOffset→initialOffset
    (basis-None ⟹ fresh, initial-offset semantics apply); restart
    partitions(committed, committed)→latestOffset (the partitions sync
    restores the basis, so restarts stay capped). A basis that is not
    an ancestor of the current head never caps (uncapped is always
    exactly-once), and partitions() raises loudly on a non-ancestor
    START offset rather than re-emitting consumed rows."""

    def __init__(self, table_dir: str, options, schema_cols):
        self.table_dir = table_dir
        self.options = options
        self.schema_cols = schema_cols
        self._last_end: int | None = None  # last offset handed to Spark

    def initialOffset(self):  # noqa: N802
        if self.options.get("initial-snapshot", "latest") == "earliest":
            self._last_end = -1
            return {"snapshot_id": -1}
        doc = _load_doc(self.table_dir)
        cur = doc.get("current-snapshot-id")
        self._last_end = int(cur) if cur is not None else -1
        return {"snapshot_id": self._last_end}

    def latestOffset(self):  # noqa: N802
        doc = _load_doc(self.table_dir)
        cur = doc.get("current-snapshot-id")
        head = int(cur) if cur is not None else -1
        max_files = self.options.get("streaming-max-files-per-micro-batch")
        max_rows = self.options.get("streaming-max-rows-per-micro-batch")
        start = self._last_end
        if start is None:
            # Spark calls latestOffset BEFORE initialOffset on a fresh
            # stream (traced on 4.1); on a checkpoint RESTART it calls
            # partitions(committed, committed) first, which restores the
            # basis above — so basis-None here means fresh start, and
            # the initial-offset semantics are the correct cap basis
            start = (
                -1
                if self.options.get("initial-snapshot", "latest")
                == "earliest"
                else head
            )
        if (
            head == -1
            or (max_files is None and max_rows is None)
            or start == head
        ):
            self._last_end = head
            return {"snapshot_id": head}
        chain = lineage_chain(doc, None if start == -1 else start, head)
        # defensive: a basis that is not an ancestor of head (never in
        # the traced call orders) must not cap — capping from a stale
        # basis could hand Spark an offset BEHIND the checkpoint and
        # re-emit consumed rows; uncapped is always exactly-once
        if not chain:
            self._last_end = head
            return {"snapshot_id": head}
        def _int0(v) -> int:
            try:
                return int(v or 0)
            except (TypeError, ValueError):
                return 0  # junk-tolerant: a foreign summary counter
                # that doesn't parse contributes nothing to the cap

        files = rows = 0
        chosen = start
        for s in chain:
            summ = s.get("summary", {})
            files += _int0(summ.get("added-data-files"))
            rows += _int0(summ.get("added-records"))
            chosen = int(s["snapshot-id"])
            if (max_files is not None and files >= int(max_files)) or (
                max_rows is not None and rows >= int(max_rows)
            ):
                break
        self._last_end = chosen
        return {"snapshot_id": chosen}

    def partitions(self, start, end):
        start_id, end_id = int(start["snapshot_id"]), int(end["snapshot_id"])
        # keep the admission-control basis in sync with the batch range
        # Spark actually planned (authoritative after a restart, where
        # offsets come from the checkpoint and initialOffset never ran);
        # ids are not ordered in general, so plain assignment — this is
        # always the most recent range end Spark committed to
        if end_id != -1:
            self._last_end = end_id
        if end_id == -1 or start_id == end_id:
            return [_ScanPartition(None, None, [], [], self.schema_cols)]
        doc = _load_doc(self.table_dir)
        chain = lineage_chain(
            doc, None if start_id == -1 else start_id, end_id
        )
        # a start offset that is not an ancestor of end would make the
        # walk swallow the WHOLE history and re-emit consumed rows —
        # loud error beats silent duplicates (unreachable under the
        # traced Spark call orders; guards offset-log corruption)
        if chain is None:
            raise ValueError(
                f"stream offset {start_id} is not an ancestor of "
                f"{end_id} — checkpoint does not match the table lineage"
            )
        # Iceberg streaming parity: option("skip-replace", "true") /
        # option("skip-delete", "true") let the stream cross compaction
        # (rows already consumed, rewritten into new files we must NOT
        # re-emit) and MOR-delete snapshots (no data files added)
        # instead of stopping. Caveat (same as Iceberg's
        # streaming-skip-overwrite-snapshots): a compaction rewriting
        # rows appended INSIDE the uncommitted range drops them.
        skipped_ops = set()
        if str(self.options.get("skip-replace", "")).lower() == "true":
            skipped_ops.add("replace")
        if str(self.options.get("skip-delete", "")).lower() == "true":
            skipped_ops.add("delete")
        new_ids = set()
        for s in chain:
            op = s.get("summary", {}).get("operation")
            if op == "append":
                new_ids.add(int(s["snapshot-id"]))
            elif op not in skipped_ops:
                raise ValueError(
                    f"streaming read crossed a non-append snapshot "
                    f"{s['snapshot-id']} (operation={op!r})"
                )
        if not chain:
            return [_ScanPartition(None, None, [], [], self.schema_cols)]
        parts, sizes = [], []
        for f in live_entries(
            _manifest_list(self.table_dir, chain[-1]),
            doc.get("format-version", 2), self.table_dir,
        ):
            if f["content"] == 0 and f["status"] == 1 \
                    and f["sid"] in new_ids:
                parts.append(
                    _ScanPartition(
                        f["path"], f["seq"], [], [], self.schema_cols,
                    )
                )
                sizes.append(f["size"])
        if not parts:
            return [_ScanPartition(None, None, [], [], self.schema_cols)]
        # a micro-batch of many small appended files packs into
        # target-sized tasks, same policy as the batch scan
        return _pack_scan_tasks(parts, sizes, doc, self.options)

    def read(self, partition):
        if isinstance(partition, _PackedScanPartition):
            for p in partition.files:
                yield from _read_partition(p)
            return
        if partition.path is None:
            return
        yield from _read_partition(partition)

    def commit(self, end):
        pass


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, files, dtypes):
        self.files = files    # [{path, record_count, file_size_in_bytes, ...}]
        self.dtypes = dtypes  # {col: spark dtype}


class _TableWriter:
    """The half both ``hielo_iceberg`` writers share: the table's write
    plan (``commit._write_plan``, the JVM plane's too), built from ONE
    load of its metadata document so a commit landing meanwhile cannot
    mix two versions into it, and the task write that follows it. A
    table with no metadata yet writes unpartitioned, with nothing to
    add or encode; a partitioned default spec that does not resolve
    raises — the tasks could not derive the partition values the
    commit must record."""

    def __init__(self, table_dir: str, options):
        from ..metadata.commit import _write_plan

        self.table_dir = table_dir
        self.options = options
        try:
            doc = _load_doc(table_dir)
        except FileNotFoundError:
            doc = {}  # first write to a new table
        self.plan = _write_plan(doc, strict_spec=True)

    def write(self, iterator):
        # the writer shared with the JVM plane: Arrow batches take the
        # stored form and stream into ds-*.parquet files split by the
        # default spec's partition tuple (identity sources stay out of
        # the files — their values live in the manifest), one stats
        # record per file. Input arrives in any order, so each
        # partition keeps its file open.
        from ..metadata.data_files import write_files

        files, dtypes = write_files(
            iterator, os.path.join(self.table_dir, "data"), self.plan,
            "ds", fanout=True,
        )
        return _WrittenFiles(files, dtypes)

    def abort(self, messages, batchId=None):  # noqa: N802 (API name)
        for m in messages or []:
            for f in getattr(m, "files", []) or []:
                try:
                    os.remove(f["path"])
                except OSError:
                    pass


class HieloIcebergWriter(_TableWriter, DataSourceArrowWriter):
    """``df.write.format("hielo_iceberg").mode("append").save(dir)`` —
    executors stream their Arrow batches into parquet through the
    writer the JVM plane's ``commit.append`` also runs
    (metadata/data_files.py) and report one stats record per file;
    ``commit()`` composes ONE append snapshot with
    ``commit.append_files`` — the same manifest builder and
    finalize step as every other commit, needing no SparkSession.

    What the tasks write follows one write plan (``commit._write_plan``,
    the JVM plane's too), read from the table metadata once when the
    writer is built: the default partition spec — identity AND
    hidden-partitioning transforms (bucket/truncate/year/month/day/
    hour), derived per task from the Arrow batches with the same
    spec-exact murmur3 kernel as the JVM plane — the write-default
    columns a frame lacks, and the stored form of ``variant`` and
    geometry/geography columns given as JSON / WKT strings (variant
    stays unshredded: shredding is an option of ``commit.append``).

    Exactly-once: only files named in SUCCESSFUL tasks' commit messages
    enter the manifest; retried/zombie task outputs are unreferenced
    and reclaimed by remove_orphan_files, the Iceberg pattern.
    ``mode("overwrite")`` composes a REPLACE commit (no manifest
    carry-forward, reset totals — Iceberg truncate-and-write); with
    ``option("overwrite-mode", "dynamic")`` it is dynamic PARTITION
    overwrite instead: only the partitions present in the frame are
    replaced (copy-on-write tombstones, append_files mode
    'dynamic-overwrite' — Iceberg's overwritePartitions());
    ``option("branch", name)`` stages the snapshot on that branch ref
    for write-audit-publish (readers see it only via
    ``option("ref"/"branch", name)``; publish with
    ``metadata.fast_forward``)."""

    def __init__(self, table_dir: str, options, overwrite: bool = False):
        super().__init__(table_dir, options)
        self.overwrite = overwrite

    def commit(self, messages):
        from ..metadata.commit import append_files

        files, dtypes = [], {}
        for m in messages:
            if m is None:
                continue
            files.extend(m.files)
            dtypes.update(m.dtypes)
        dynamic = (
            str(self.options.get("overwrite-mode", "static")).lower()
            == "dynamic"
        )
        if not files and (not self.overwrite or dynamic):
            # empty append: no snapshot, like Iceberg; empty DYNAMIC
            # overwrite likewise (no partitions present, nothing to
            # replace) — only a static overwrite truncates on empty
            return
        mode = "append"
        if self.overwrite:
            mode = "dynamic-overwrite" if dynamic else "overwrite"
        append_files(
            self.table_dir, files, dtypes,
            snapshot_id=(
                int(self.options["snapshot-id"])
                if self.options.get("snapshot-id") is not None else None
            ),
            timestamp_ms=(
                int(self.options["timestamp-ms"])
                if self.options.get("timestamp-ms") is not None else None
            ),
            mode=mode,
            branch=self.options.get("branch"),
        )


from pyspark.sql.datasource import DataSourceStreamArrowWriter


class HieloIcebergStreamWriter(_TableWriter, DataSourceStreamArrowWriter):
    """``writeStream.format("hielo_iceberg")`` — every micro-batch
    becomes one append snapshot with the same exactly-once contract as
    streaming/iceberg_sink.py: the snapshot summary records
    ``(streaming-query-id, streaming-batch-id)`` and the table property
    ``streaming.<qid>.last-batch-id`` is the expiry-proof high-water
    mark; a replayed epoch (checkpoint wipe, commit/checkpoint race)
    finds the mark and skips, leaving its files as orphans for the
    sweep. ``option("query-name", ...)`` namespaces the markers — must
    be unique per logical stream writing the table. Its tasks write as
    the batch writer's do, from the same write plan (partition layout,
    write-defaults, variant and geo stored forms) read once when the
    writer is built."""

    def commit(self, messages, batchId=None):  # noqa: N802 (API name)
        import json as _json

        from ..metadata.commit import append_files

        qid = self.options.get("query-name", "hielo_iceberg_stream")
        if batchId is not None:
            try:
                with open(_current_metadata_path(self.table_dir)) as f:
                    doc = _json.load(f)
                hwm = doc.get("properties", {}).get(
                    f"streaming.{qid}.last-batch-id"
                )
                replayed = hwm is not None and int(batchId) <= int(hwm)
                if not replayed:
                    replayed = any(
                        s.get("summary", {}).get("streaming-query-id") == qid
                        and s.get("summary", {}).get("streaming-batch-id")
                        == str(batchId)
                        for s in doc.get("snapshots", [])
                    )
                if replayed:
                    self.abort(messages, batchId)  # drop the replay's files
                    return
            except FileNotFoundError:
                pass  # first commit on a fresh table
        files, dtypes = [], {}
        for m in messages:
            if m is None:
                continue
            files.extend(m.files)
            dtypes.update(m.dtypes)
        if not files:
            return
        markers = (
            {
                "streaming-query-id": qid,
                "streaming-batch-id": str(batchId),
            }
            if batchId is not None
            else {}
        )
        append_files(
            self.table_dir, files, dtypes,
            extra_summary=markers,
            extra_properties=(
                {f"streaming.{qid}.last-batch-id": str(batchId)}
                if batchId is not None
                else None
            ),
        )


# -- metadata surfaces (the reference IS a metadata viewer: expose the
# -- same frames through the standard source API, planning-plane sized)

_META_SURFACES = {
    "snapshots": (
        "snapshot_id bigint, parent_id bigint, sequence_number bigint, "
        "timestamp_ms bigint, operation string, manifest_list string, "
        "summary_json string"
    ),
    "history": "timestamp_ms bigint, snapshot_id bigint",
    "metadata_log": (
        "timestamp_ms bigint, file string, latest_snapshot_id bigint, "
        "latest_schema_id int"
    ),
    "refs": "name string, type string, snapshot_id bigint",
    "manifests": (
        "manifest_path string, manifest_length bigint, "
        "partition_spec_id int, content int, sequence_number bigint, "
        "added_snapshot_id bigint, added_files_count int, "
        "existing_files_count int, deleted_files_count int, "
        "added_rows_count bigint"
    ),
    "files": (
        "content int, file_path string, record_count bigint, "
        "file_size_in_bytes bigint, sequence_number bigint, "
        "partition_json string, referenced_data_file string, "
        "content_offset bigint, content_size_in_bytes bigint, "
        "first_row_id bigint, null_value_counts_json string, "
        "nan_value_counts_json string"
    ),
    "partitions": (
        "partition_json string, spec_id int, record_count bigint, "
        "file_count int, total_data_file_size_in_bytes bigint, "
        "position_delete_file_count int, equality_delete_file_count int"
    ),
    "statistics": (
        "snapshot_id bigint, statistics_path string, "
        "file_size_in_bytes bigint, blob_type string, fields_json string, "
        "ndv bigint"
    ),
    # registered partition-statistics files (metadata entries only —
    # read the parquet itself via metadata.read_partition_statistics)
    "partition_statistics": (
        "snapshot_id bigint, statistics_path string, "
        "file_size_in_bytes bigint"
    ),
}


def _meta_surface_rows(table_dir: str, surface: str, options) -> list[tuple]:
    doc = _load_doc(table_dir)
    if surface == "snapshots":
        return [
            (
                int(s["snapshot-id"]),
                int(s["parent-snapshot-id"])
                if s.get("parent-snapshot-id") is not None else None,
                int(s["sequence-number"])
                if s.get("sequence-number") is not None else None,
                int(s["timestamp-ms"]),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
                json.dumps(s.get("summary") or {}, sort_keys=True),
            )
            for s in doc.get("snapshots", [])
        ]
    if surface == "history":
        return [
            (int(e["timestamp-ms"]), int(e["snapshot-id"]))
            for e in doc.get("snapshot-log", [])
        ]
    if surface == "metadata_log":
        # t.metadata_log_entries: each previous metadata file, enriched
        # with the snapshot/schema that file pointed at (resolved by
        # reading it — bounded by previous-versions-max, planning-plane)
        out = []
        for e in doc.get("metadata-log", []):
            snap_id, schema_id = None, None
            try:
                with open(str(e["metadata-file"]).removeprefix("file:")) as f:
                    old = json.load(f)
                snap_id = old.get("current-snapshot-id")
                schema_id = old.get("current-schema-id")
            except (OSError, ValueError):
                pass  # expired/relocated metadata file: ids unknown
            out.append(
                (
                    int(e["timestamp-ms"]), e.get("metadata-file"),
                    int(snap_id) if snap_id is not None else None,
                    int(schema_id) if schema_id is not None else None,
                )
            )
        return out
    if surface == "refs":
        return [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted(doc.get("refs", {}).items())
        ]
    if surface == "statistics":
        # one row per Puffin blob across every statistics entry; the
        # ndv column surfaces the planner-facing blob property
        out = []
        for e in doc.get("statistics", []):
            for bm in e.get("blob-metadata", []):
                ndv = (bm.get("properties") or {}).get("ndv")
                out.append(
                    (
                        int(e["snapshot-id"]),
                        e.get("statistics-path"),
                        e.get("file-size-in-bytes"),
                        bm.get("type"),
                        json.dumps(bm.get("fields") or []),
                        int(ndv) if ndv is not None else None,
                    )
                )
        return out
    if surface == "partition_statistics":
        return [
            (
                int(e["snapshot-id"]),
                e.get("statistics-path"),
                e.get("file-size-in-bytes"),
            )
            for e in doc.get("partition-statistics", [])
        ]
    mlist = _manifest_list(table_dir, _snapshot_of(doc, options))
    if surface == "manifests":
        from ..metadata.avro_py import read_avro_file
        from ..metadata.manifests import _COUNT_ALIASES

        _, _, mrows = read_avro_file(mlist)

        def count(m, name):
            for alias in _COUNT_ALIASES[name]:  # v2 name, then v1 alias
                v = m.get(alias)
                if v is not None:
                    return int(v)
            return None

        return [
            (
                m["manifest_path"], m.get("manifest_length"),
                m.get("partition_spec_id") or 0, m.get("content") or 0,
                m.get("sequence_number"), m.get("added_snapshot_id"),
                count(m, "added_files_count"),
                count(m, "existing_files_count"),
                count(m, "deleted_files_count"), m.get("added_rows_count"),
            )
            for m in mrows
        ]
    entries = live_entries(mlist, doc.get("format-version", 2), table_dir)
    if surface == "files":

        def counts_json(m):
            # Iceberg's t.files carries the per-column count stats;
            # JSON-rendered (name-keyed) for a stable surface schema
            return json.dumps(
                {k: int(v) for k, v in m.items()}, sort_keys=True
            ) if m else None

        return [
            (
                f["content"], f["file_path"], f["records"], f["size"],
                f["seq"], json.dumps(_pvals_of(f), sort_keys=True),
                # v3: DV blob coordinates + row-lineage base
                *(
                    (f["dv"]["referenced"], f["dv"]["offset"],
                     f["dv"]["size"])
                    if f["dv"] else (None, None, None)
                ),
                f["frid"], counts_json(f["nc"]), counts_json(f["nanc"]),
            )
            for f in entries
        ]
    if surface == "partitions":
        # Iceberg's t.partitions metadata table: live files at the
        # selected snapshot grouped by partition tuple — per-partition
        # row/file/byte counts plus delete-file counts (planning-plane:
        # one pass over the manifest entries, no data read)
        agg: dict = {}
        for f in entries:
            key = (json.dumps(_pvals_of(f), sort_keys=True), f["spec_id"])
            a = agg.setdefault(key, [0, 0, 0, 0, 0])
            if f["content"] == 0:
                a[0] += f["records"]
                a[1] += 1
                a[2] += f["size"]
            elif f["content"] == 1:
                a[3] += 1
            else:
                a[4] += 1
        return [
            (pj, spec_id, n, files, size, posd, eqd)
            for (pj, spec_id), (n, files, size, posd, eqd)
            in sorted(agg.items())
        ]
    raise ValueError(
        f"unknown surface {surface!r} (have data, {', '.join(_META_SURFACES)})"
    )


class _MetaSurfaceReader(DataSourceReader):
    """Planning-plane metadata frames — one partition, rows computed in
    pure Python (bounded by snapshot/manifest/file counts, the same
    listings any planner materializes)."""

    def __init__(self, table_dir: str, surface: str, options):
        self.table_dir = table_dir
        self.surface = surface
        self.options = options

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition):
        yield from _meta_surface_rows(self.table_dir, self.surface, self.options)


class HieloIcebergDataSource(DataSource):
    """Register with ``spark.dataSource.register(HieloIcebergDataSource)``
    (or sources.register(spark)); then ``format("hielo_iceberg")``.
    ``option("surface", "snapshots"|"history"|"refs"|"manifests"|"files")``
    selects a metadata table instead of the data (t.snapshots-style
    frames; maps ride as JSON strings)."""

    @classmethod
    def name(cls):
        return "hielo_iceberg"

    @staticmethod
    def _data_cols_ddl(table_dir: str, options=None) -> list[tuple[str, str]]:
        """[(name, 'name ddl')] for the current schema — nested
        list/map/struct JSON renders to Spark DDL recursively;
        decimal(p,s) passes through and fixed[n] reads as binary (a
        type with no Spark mapping is an UnsupportedIcebergType)."""
        doc = _load_doc(table_dir)
        schema = _read_schema_block(doc, options or {})
        if schema is None:
            raise ValueError("table metadata carries no schema block")
        from ..metadata.types import (
            UnsupportedIcebergType,
            iceberg_to_ddl,
        )

        # unsupported types (variant/geometry/…) raise LAZILY: the
        # exception rides as the entry so a projection that EXCLUDES
        # the column (option("columns")) still reads the table, as the
        # error message promises
        out = []
        for f in schema.get("fields", []):
            if f.get("type") == "variant" or (
                isinstance(f.get("type"), str)
                and f["type"].split("(")[0] in ("geometry", "geography")
            ):
                # v3 variant decodes to its canonical JSON string
                # (metadata/variant.py); geometry/geography WKB decode
                # to WKT (metadata/geo.py) — declared string here
                out.append((f["name"], f"{f['name']} string"))
                continue
            try:
                out.append(
                    (f["name"], f"{f['name']} {iceberg_to_ddl(f['type'])}")
                )
            except UnsupportedIcebergType as e:
                out.append((f["name"], e))
        return out

    def schema(self):
        table_dir = self.options.get("path")
        if not table_dir:
            raise ValueError("load(<table_dir>) path is required")
        surface = self.options.get("surface", "data")
        if surface == "changes":
            # the data schema + Iceberg's changelog metadata columns;
            # r11: variant-extract derived columns ride between them
            # (matching _schema_cols order — data cols, extracts, then
            # the _change_* columns the read wrapper appends)
            data_ddl = ", ".join(
                ddl for _n, ddl in self._data_cols_ddl(table_dir)
            )
            extract_ddl = ""
            extracts = _parse_variant_extracts(self.options)
            if extracts:
                doc = _load_doc(table_dir)
                blk = _read_schema_block(doc, self.options) or {}
                vnames = {
                    f["name"] for f in blk.get("fields", [])
                    if f.get("type") == "variant"
                }
                tnames = {f["name"] for f in blk.get("fields", [])}
                for out_name, src, _fld, ddl in extracts:
                    if src not in vnames:
                        raise ValueError(
                            f"variant-extract source {src!r} is not a "
                            "variant column of this table"
                        )
                    if out_name in tnames:
                        raise ValueError(
                            f"variant-extract output column "
                            f"{out_name!r} shadows an existing table "
                            "column — rename the path"
                        )
                    extract_ddl += f", {out_name} {ddl}"
            return (
                f"{data_ddl}{extract_ddl}, _change_type string, "
                "_commit_snapshot_id bigint, _change_ordinal int"
            )
        if surface != "data":
            if surface not in _META_SURFACES:
                raise ValueError(
                    f"unknown surface {surface!r} "
                    f"(have data, changes, {', '.join(_META_SURFACES)})"
                )
            return _META_SURFACES[surface]
        cols = self._data_cols_ddl(table_dir, self.options)
        # explicit projection pushdown: option("columns", "a,b") narrows
        # the declared schema, so tasks read only those columns' parquet
        # pages (Spark 4.1's PythonScanBuilder has no
        # SupportsPushDownRequiredColumns — it always hands reader() the
        # FULL declared schema, so automatic .select() pruning can't
        # reach the scan; the option is the user-controlled path until
        # the JVM API grows column pruning, at which point reader()'s
        # schema threading engages with no further change)
        wanted = self.options.get("columns")
        # v3 row lineage: the reserved metadata columns ride at the END
        # of the declared schema when requested
        lineage_ddl = ""
        if _opt_true(self.options.get("row-lineage")):
            doc = _load_doc(table_dir)
            if int(doc.get("format-version", 2)) < 3:
                raise ValueError(
                    "option('row-lineage') requires a format-version "
                    ">= 3 table (upgrade_format_version)"
                )
            lineage_ddl = (
                ", _row_id bigint, _last_updated_sequence_number bigint"
            )
        # variant-extract derived columns: typed top-level fields of a
        # variant column, declared after the data columns (shredded
        # files serve them from the typed subcolumn, no JSON decode)
        extract_ddl = ""
        extracts = _parse_variant_extracts(self.options)
        if extracts:
            doc = _load_doc(table_dir)
            blk = _read_schema_block(doc, self.options) or {}
            vnames = {
                f["name"] for f in blk.get("fields", [])
                if f.get("type") == "variant"
            }
            tnames = {f["name"] for f in blk.get("fields", [])}
            for out_name, src, _fld, ddl in extracts:
                if src not in vnames:
                    raise ValueError(
                        f"variant-extract source {src!r} is not a "
                        "variant column of this table"
                    )
                if out_name in tnames:
                    raise ValueError(
                        f"variant-extract output column {out_name!r} "
                        "shadows an existing table column — rename "
                        "the path"
                    )
                extract_ddl += f", {out_name} {ddl}"
        if wanted:
            want = [w.strip() for w in wanted.split(",") if w.strip()]
            have = {n for n, _ in cols}
            missing = [w for w in want if w not in have]
            if missing:
                raise ValueError(
                    f"option('columns') names not in table schema: "
                    f"{missing} (have {sorted(have)})"
                )
            by_name = dict(cols)
            picked = [by_name[w] for w in want]
            for p in picked:
                if isinstance(p, Exception):
                    raise p
            return ", ".join(picked) + extract_ddl + lineage_ddl
        for _n, ddl in cols:
            if isinstance(ddl, Exception):
                raise ddl
        return ", ".join(ddl for _, ddl in cols) + extract_ddl \
            + lineage_ddl

    def _schema_cols(self):
        doc = _load_doc(self.options["path"])
        schema = _read_schema_block(doc, self.options)
        if schema is None:
            raise ValueError("table metadata carries no schema block")
        # each field's other names (rename history, then name-mapping
        # names): our parquet carries no Iceberg field ids, so a file
        # predating a rename, or imported under foreign names, resolves
        # its columns through these
        names = historical_names(doc, schema)
        out = []
        for f in schema.get("fields", []):
            hist = names.get(f["name"], [])
            from ..metadata.types import (
                UnsupportedIcebergType,
                iceberg_to_ddl,
            )

            if f.get("type") == "variant":
                # the task decodes the parquet (metadata, value) struct
                # to JSON strings — "variant" sentinel DDL routes it
                out.append((f["name"], "variant", tuple(hist),
                            None))
                continue
            # (variant-extract derived columns are appended after the
            # loop, once every source's rename history is known)
            if isinstance(f.get("type"), str) and f["type"].split(
                "("
            )[0] in ("geometry", "geography"):
                # WKB binary → WKT strings, decoded in-task
                out.append((f["name"], "geometry", tuple(hist),
                            None))
                continue
            # unsupported types are skipped here: schema() has already
            # raised unless option("columns") EXCLUDED the column, in
            # which case the scan legitimately proceeds without it
            try:
                ddl = iceberg_to_ddl(f["type"])
            except UnsupportedIcebergType:
                continue
            # v3 initial-default rides as the 4th element (decoded to a
            # Python value at planning); tasks fill it where a file
            # predates the column — exact here, because task-side reads
            # know column PRESENCE from the file's own footer
            default = None
            if f.get("initial-default") is not None and isinstance(
                f.get("type"), str
            ):
                from ..metadata.values import default_from_json

                default = default_from_json(
                    f["type"], f["initial-default"]
                )
            out.append(
                (f["name"], ddl, tuple(hist), default)
            )
        # variant-extract derived columns ride at the END (matching
        # schema()'s declared order): the sentinel DDL carries the
        # source column + its rename history, so tasks read the
        # variant column's pages and — when the file shredded the
        # field — serve the typed subcolumn with zero JSON decode.
        # r11: the changes surface extracts too (its _change_* columns
        # append after these in the read wrapper)
        if self.options.get("surface", "data") in ("data", "changes"):
            by_name = {e[0]: e for e in out}
            for out_name, src, fld, ddl in _parse_variant_extracts(
                self.options
            ):
                entry = by_name.get(src)
                if entry is None or entry[1] != "variant":
                    raise ValueError(
                        f"variant-extract source {src!r} is not a "
                        "variant column of this table"
                    )
                aliases = ",".join(entry[2])
                out.append((
                    out_name,
                    f"vextract:{src}:{fld}:{ddl}:{aliases}",
                    (),
                    None,
                ))
        return out

    def reader(self, schema):
        surface = self.options.get("surface", "data")
        if surface == "changes":
            return HieloIcebergChangesReader(
                self.options["path"], dict(self.options),
                self._schema_cols(),
            )
        if surface != "data":
            return _MetaSurfaceReader(
                self.options["path"], surface, dict(self.options)
            )
        # column pruning: Spark passes the schema the scan actually
        # needs — when it's narrower than the table schema, tasks read
        # only those columns' parquet pages (plus delete keys)
        full = self._schema_cols()
        requested = [f.name for f in schema.fields]
        out_names = requested if requested != [c[0] for c in full] else None
        return HieloIcebergReader(
            self.options["path"], dict(self.options), full,
            out_names=out_names,
        )

    def _reject_surface(self, what: str) -> None:
        if self.options.get("surface", "data") != "data":
            raise ValueError(
                f"the 'surface' option applies to batch reads only; "
                f"{what} operate on the data plane"
            )

    def streamReader(self, schema):  # noqa: N802
        self._reject_surface("streaming reads")
        return HieloIcebergStreamReader(
            self.options["path"], dict(self.options), self._schema_cols()
        )

    def writer(self, schema, overwrite: bool):
        self._reject_surface("writes")
        return HieloIcebergWriter(
            self.options["path"], dict(self.options), overwrite=overwrite
        )

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        self._reject_surface("streaming writes")
        if overwrite:
            raise ValueError("hielo_iceberg streaming writes are append-only")
        return HieloIcebergStreamWriter(
            self.options["path"], dict(self.options)
        )


def register(spark) -> None:
    """Make ``format("hielo_iceberg")`` available on this session (and
    enable Python-source filter pushdown so pushed filters reach the
    manifest-bounds file pruning).

    The DataSource class is pickled BY REFERENCE into separate Python
    worker processes, so ``hielo_spark`` must be importable there — the
    normal cluster deployment ships a wheel via ``--py-files``; here
    :func:`session._ship_package` attaches the package zip so
    registration works from any working directory."""
    from ..session import _ship_package

    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf on some builds; reader then needs it preset
    _ship_package(spark)
    spark.dataSource.register(HieloIcebergDataSource)
