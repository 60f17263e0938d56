"""Browse/search operators over a catalog-tree listing (SURVEY §2.2
F2-F4, F9; §2.5 O3; §3.3 search path).

Input is a flat catalog_tree frame: (catalog_name, namespace, table_name,
full_name, table_type). With live catalogs it comes from SHOW NAMESPACES /
SHOW TABLES unioned (never the reference's N+1 per-table full-metadata
load, catalog.rs:342-360 — flagged as an anti-pattern in SURVEY §3.3);
here fixtures provide it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..io import local_frame


def _matches(col: str, q: str) -> Column:
    """F2 — case-insensitive substring (main.rs:653-667)."""
    return F.lower(F.col(col)).contains(q.lower())


def search(tree: DataFrame, q: str, limit: int = 10) -> DataFrame:
    """Global search (Ctrl+K path): match on full_name / table_name /
    namespace, first `limit` results (main.rs:740 take(10)).
    Deterministic order: full_name asc."""
    return (
        tree.filter(_matches("full_name", q) | _matches("table_name", q) | _matches("namespace", q))
        .orderBy("catalog_name", "full_name")
        .limit(limit)
    )


def filter_tree(tree: DataFrame, q: str) -> DataFrame:
    """F3 — hierarchical tree filter (compute_filtered_tree,
    main.rs:839-919): a row survives if its catalog, namespace, or table
    matches; a catalog/namespace also survives when any descendant matches.

    Flat-frame semantics: keep rows where ANY level matches — the
    tree-shaped 'parent survives via child' rule collapses to a row-level
    OR on the flat listing, plus semi-join semantics for ancestor-only
    matches (a catalog whose name matches keeps all its children visible
    in the reference UI — auto-expand propagation)."""
    row_match = (
        _matches("catalog_name", q) | _matches("namespace", q) | _matches("table_name", q)
    )
    return tree.filter(row_match)


def tree_counts(tree: DataFrame) -> DataFrame:
    """F9 — result counts per level (compute_filter_counts,
    main.rs:921-940)."""
    return tree.agg(
        F.countDistinct("catalog_name").alias("catalogs_shown"),
        F.countDistinct("catalog_name", "namespace").alias("namespaces_shown"),
        F.count("*").alias("tables_shown"),
    )


def split_by_type(tree: DataFrame) -> DataFrame:
    """F4 — partition tables into iceberg / non-iceberg groups
    (catalog_ui.rs:1255-1264), as a labeled count frame."""
    return tree.groupBy("table_type").agg(F.count("*").alias("n"))


TREE_SCHEMA = (
    "catalog_name string, namespace string, table_name string, "
    "full_name string, table_type string"
)


def live_catalog_tree(spark, catalog_name: str | None = None) -> DataFrame:
    """S5/S6 — the catalog-tree frame from a LIVE Spark catalog.

    Driver-side work is one row per NAMESPACE (the SHOW DATABASES
    listing); the table rows themselves never touch driver Python — the
    result is a union of per-namespace ``SHOW TABLE EXTENDED`` plans, so
    a namespace with a million tables lists as a distributed frame. The
    ``information`` blob also carries the provider, giving an honest
    type label (``iceberg`` when the plugin is attached, ``parquet``/
    ``csv``/… otherwise) from the same single statement — never the
    reference's N+1 per-table full-metadata loads (catalog.rs:342-360,
    flagged in SURVEY §3.3).
    """
    from functools import reduce

    if catalog_name:
        spark.catalog.setCurrentCatalog(catalog_name)
    cat = catalog_name or spark.catalog.currentCatalog()
    namespaces = [r[0] for r in spark.sql("SHOW DATABASES").collect()]

    def per_namespace(ns: str) -> DataFrame:
        t = spark.sql(f"SHOW TABLE EXTENDED IN `{ns}` LIKE '*'")
        # temp views surface with an empty namespace under every database —
        # drop them or each appears once per namespace as a phantom table
        return t.filter((~F.col("isTemporary")) & (F.col("namespace") != "")).select(
            F.lit(cat).alias("catalog_name"),
            F.col("namespace"),
            F.col("tableName").alias("table_name"),
            F.concat_ws(".", "namespace", "tableName").alias("full_name"),
            F.lower(
                F.coalesce(
                    F.nullif(F.regexp_extract("information", r"Provider: (\w+)", 1), F.lit("")),
                    F.nullif(F.regexp_extract("information", r"Type: (\w+)", 1), F.lit("")),
                    F.lit("unknown"),
                )
            ).alias("table_type"),
        )

    frames = [per_namespace(ns) for ns in namespaces]
    if not frames:
        return local_frame(spark, [], TREE_SCHEMA)
    return reduce(lambda a, b: a.unionByName(b), frames)
