"""Read-only maintenance analysis without the Iceberg runtime (S11's
analyzable half).

`ops/maintenance.py` generates the `CALL system.*` SQL (executing needs
the runtime jar for atomic metadata commits). The *analysis* behind two
of those procedures is pure reading, which the manifest plane
(metadata/manifests.py) unlocks:

* ``orphan_files`` — what `remove_orphan_files` would delete: data files
  present under the table's data directory but referenced by NO
  snapshot. The directory listing is distributed (binaryFile source —
  executors list and stat), the reference set comes from every
  snapshot's manifest chain, and the diff is a left-anti join on the
  scheme-normalized path.
* ``expire_snapshots_plan`` — what `expire_snapshots` would remove:
  the expired snapshot set (older-than cutoff and/or keep-last-N) plus
  the data files exclusively referenced by expired snapshots (EXCEPT
  against the kept snapshots' file set — a file still live in any kept
  snapshot is never removable).

Both return plain DataFrames; nothing is deleted here.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..io import local_frame
from ..metadata.manifests import files_from_manifest_list
from ..metadata.metadata_json import _strip_scheme


def _snapshot_files(spark: SparkSession, metadata_json_path: str, snaps: list[dict]) -> DataFrame | None:
    """Union of live file paths across the given snapshot dicts."""
    import os

    out = None
    for s in snaps:
        mlist = s["manifest-list"]
        local = mlist.removeprefix("file:")
        if not os.path.isabs(local):
            local = os.path.join(os.path.dirname(metadata_json_path), local)
        # the LIVE set must span all content kinds: data files (0) AND
        # position/equality delete files (1/2) — a referenced delete
        # parquet is not an orphan, and sweeping it would corrupt MOR
        # reads of the current snapshot
        for content in (0, 1, 2):
            f = files_from_manifest_list(
                spark, "t", local, content=content
            ).select("file_path")
            out = f if out is None else out.unionByName(f)
    return out.distinct() if out is not None else None


def _load_snapshots(metadata_json_path: str) -> list[dict]:
    with open(metadata_json_path) as f:
        doc = json.load(f)
    return sorted(doc.get("snapshots", []), key=lambda s: int(s["timestamp-ms"]))


def orphan_files(
    spark: SparkSession,
    data_dir: str,
    metadata_json_path: str,
    glob: str = "*.{parquet,puffin}",
) -> DataFrame:
    """Files under ``data_dir`` referenced by no snapshot:
    (path, length, modificationTime) of each orphan. The default glob
    also lists Puffin files — v3 deletion-vector containers live in the
    data dir and are referenced through delete-manifest entries, so a
    superseded/expired one becomes sweepable exactly like data
    parquet."""
    listed = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(data_dir)
        .select("path", "length", "modificationTime")
    )
    snaps = _load_snapshots(metadata_json_path)
    live = _snapshot_files(spark, metadata_json_path, snaps)
    if live is None:
        return listed
    return listed.join(
        live,
        _strip_scheme(listed["path"]) == _strip_scheme(live["file_path"]),
        "left_anti",
    )


def expire_snapshots_plan(
    spark: SparkSession,
    metadata_json_path: str,
    older_than_ms: int | None = None,
    retain_last: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """(expired snapshots, removable data files) for an expiry policy.

    A snapshot expires when it is older than ``older_than_ms`` AND not
    among the newest ``retain_last`` (Iceberg's expire semantics — the
    retention floor always wins). A data file is removable only when NO
    kept snapshot references it.
    """
    snaps = _load_snapshots(metadata_json_path)
    keep_floor = snaps[-retain_last:] if retain_last > 0 else []
    expired = [
        s
        for s in snaps
        if s not in keep_floor
        and (older_than_ms is None or int(s["timestamp-ms"]) < older_than_ms)
    ]
    kept = [s for s in snaps if s not in expired]
    expired_df = local_frame(
        spark,
        [
            (int(s["snapshot-id"]), int(s["timestamp-ms"]), s.get("manifest-list", ""))
            for s in expired
        ],
        "snapshot_id long, timestamp_ms long, manifest_list string",
    )
    expired_files = _snapshot_files(spark, metadata_json_path, expired)
    kept_files = _snapshot_files(spark, metadata_json_path, kept)
    if expired_files is None:
        removable = local_frame(spark, [], "file_path string")
    elif kept_files is None:
        removable = expired_files
    else:
        removable = expired_files.exceptAll(kept_files)
    return expired_df, removable


def remove_orphan_files(
    spark: SparkSession,
    data_dir: str,
    metadata_json_path: str,
    glob: str = "*.{parquet,puffin}",
    older_than_ms: int | None = None,
) -> list[str]:
    """Execute half of ``orphan_files`` (the reference recommends the
    remove_orphan_files action; this is its no-jar executable form):
    delete every file under ``data_dir`` referenced by no snapshot,
    optionally only those last modified before ``older_than_ms`` (the
    safety window Iceberg's own procedure applies so in-flight commits
    are never swept). Deletion runs distributed via foreachPartition;
    the returned path list is planning-plane output bounded by the
    table's file count."""
    orphans = orphan_files(spark, data_dir, metadata_json_path, glob)
    if older_than_ms is not None:
        orphans = orphans.filter(
            F.col("modificationTime").cast("double") * 1000 < older_than_ms
        )
    doomed = [r.path for r in orphans.select("path").collect()]

    def _rm(rows):
        import os as _os

        for r in rows:
            p = r.path
            for prefix in ("file://", "file:"):
                if p.startswith(prefix):
                    p = p[len(prefix):]
                    break
            try:
                _os.remove(p)
            except FileNotFoundError:
                pass

    orphans.select("path").foreachPartition(_rm)
    return doomed
