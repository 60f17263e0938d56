"""Metadata plane: snapshot / schema / partition-spec DataFrames.

Mirrors the reference's table-metadata model (data.rs:6-148) re-expressed
as Spark DataFrames. With a live Iceberg catalog these frames come from the
``t.snapshots`` / ``t.metadata_log_entries`` metadata tables; in this repo
they come from deterministic fixtures (fixtures.py) so the operators are
testable without a catalog service.

The table WRITE plane (commit.py) and executable read plane (manifests.py)
are re-exported here as the engine's stable API: ``append`` /
``delete_where`` / ``merge_into`` / ``rewrite_data_files`` for data
commits, ``update_schema`` / ``update_partition_spec`` /
``update_sort_order`` for metadata-only evolution commits
(reference ``data.rs:21-33``, ``components.rs:533-597``), and
``read_data_at_snapshot`` for time travel.

The re-exports resolve on first use (PEP 562): a Python worker that
unpickles a write task imports ``data_files`` without compiling the
whole write plane from the shipped zip, which keeps no bytecode.
"""

from importlib import import_module

_EXPORTS = {
    **dict.fromkeys(
        (
            "add_files",
            "append",
            "overwrite_partitions",
            "update_where",
            "cherrypick_snapshot",
            "create_ref",
            "current_metadata_path",
            "delete_equality",
            "delete_where",
            "drop_ref",
            "expire_snapshots",
            "fast_forward",
            "merge_into",
            "rewrite_data_files",
            "rewrite_deletion_vectors",
            "rewrite_manifests",
            "rewrite_position_deletes",
            "set_current_snapshot",
            "set_table_properties",
            "update_partition_spec",
            "update_schema",
            "update_sort_order",
            "upgrade_format_version",
        ),
        "commit",
    ),
    "read_data_at_snapshot": "manifests",
    "partition_skew_report": "partition_stats",
    "read_partition_statistics": "partition_stats",
    "write_partition_statistics": "partition_stats",
    "ndv_of": "puffin",
    "write_statistics": "puffin",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(import_module(f".{module}", __name__), name)
