"""Hadoop-catalog-style table discovery over a warehouse directory
(SURVEY §2.1 S5/S6 for the no-service catalog mode).

The Hadoop catalog is a real Iceberg catalog type with no REST/Glue
service behind it: a table IS a directory ``<warehouse>/<ns>/<table>/``
whose ``metadata/`` holds versioned ``*.metadata.json`` documents, and
discovery IS directory listing. That makes live browsing possible here
despite the jar/network block: list ``*.metadata.json`` distributed
(binaryFile source — executors stat the tree), derive (namespace, table,
latest metadata version) with window ranking, and hand each table's
latest document to the no-jar metadata plane
(``metadata_json.snapshots_from_metadata_json`` → timeline/health;
``manifests.files_from_manifest_list`` → files/histogram/orphans).

Version ordering handles both Hadoop-catalog naming (``v<N>.metadata``)
and the UUID naming (``<seq>-<uuid>.metadata``) by the leading integer,
falling back to lexicographic modification order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from ..io import local_frame


def discover_tables(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """(namespace, table_name, full_name, metadata_json_path, version)
    — one row per table, pointing at its LATEST metadata document.

    Only files matching the catalog layout
    ``<warehouse>/<ns>[/<ns2>...]/<table>/metadata/<file>.metadata.json``
    count: the recursive glob also surfaces metadata.json files at other
    depths (a doc in a data dir, a stray file at the namespace level) and
    those must not fabricate tables from fixed path offsets. Multi-level
    namespaces join with '.' for display."""
    import os
    import re

    listed = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.metadata.json")
        .option("recursiveFileLookup", "true")
        .load(warehouse_dir)
        .select("path", "modificationTime")
    )
    # path → segments relative to the warehouse root:
    # [<ns>..., <table>, 'metadata', <file>.metadata.json]
    scheme = r"^[a-zA-Z][a-zA-Z0-9.+-]*:/+"
    wh_abs = re.sub(scheme, "/", warehouse_dir)
    if not wh_abs.startswith("/"):
        wh_abs = os.path.abspath(wh_abs)
    rel = F.regexp_replace(F.col("path"), scheme, "/")
    rel = F.regexp_replace(rel, "^" + re.escape(wh_abs.rstrip("/")) + "/", "")
    rparts = F.split(rel, "/")
    m = F.size(rparts)
    fname = F.element_at(rparts, -1)
    version = F.coalesce(
        F.regexp_extract(fname, r"^v?(\d+)", 1).try_cast("long"), F.lit(-1)
    )
    tables = listed.filter(
        (m >= 4) & (F.element_at(rparts, -2) == "metadata")
    ).select(
        F.concat_ws(".", F.slice(rparts, F.lit(1), m - 3)).alias("namespace"),
        F.element_at(rparts, m - 2).alias("table_name"),
        F.col("path").alias("metadata_json_path"),
        version.alias("version"),
        "modificationTime",
    )
    w = Window.partitionBy("namespace", "table_name").orderBy(
        F.col("version").desc(), F.col("modificationTime").desc(), F.col("metadata_json_path").desc()
    )
    return (
        tables.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "namespace",
            "table_name",
            F.concat_ws(".", "namespace", "table_name").alias("full_name"),
            "metadata_json_path",
            "version",
        )
    )


def catalog_tree_from_warehouse(
    spark: SparkSession, catalog_name: str, warehouse_dir: str
) -> DataFrame:
    """The browse/search operators' catalog_tree frame (catalog_name,
    namespace, table_name, full_name, table_type) from a warehouse
    directory — every table discovered this way is an Iceberg table."""
    return discover_tables(spark, warehouse_dir).select(
        F.lit(catalog_name).alias("catalog_name"),
        "namespace",
        "table_name",
        F.concat_ws(".", F.lit(catalog_name), "namespace", "table_name").alias("full_name"),
        F.lit("iceberg").alias("table_type"),
    )


def snapshots_for_warehouse(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Every discovered table's snapshots, unioned into the canonical
    frame — the input the health suite / timeline / operation counts run
    on, now for a whole real warehouse at once. Table count bounds the
    driver loop (the per-table JSON parse is planning-plane work; the
    frames themselves are distributed)."""
    from ..metadata.metadata_json import snapshots_from_metadata_json

    out = None
    for r in discover_tables(spark, warehouse_dir).collect():
        s = snapshots_from_metadata_json(spark, r.full_name, r.metadata_json_path.removeprefix("file:"))
        out = s if out is None else out.unionByName(s)
    if out is None:
        from ..metadata.fixtures import SNAPSHOT_SCHEMA

        return local_frame(spark, [], SNAPSHOT_SCHEMA)
    return out


def attach_warehouse(
    spark: SparkSession, warehouse_dir: str, prefix: str = "wh"
) -> list[str]:
    """Register every discovered table's CURRENT snapshot as a Spark
    temp view ``<prefix>_<ns with _>_<table>`` so plain ``spark.sql``
    queries it — the no-jar stand-in for attaching a session catalog
    (S1's Spark-SQL half, jar-blocked as a real catalog plugin). Views
    resolve time travel through our own read plane (MOR deletes,
    partition metadata, schema evolution included) and pin the snapshot
    AT ATTACH TIME — re-attach to see later commits, exactly a
    catalog's cached-table semantics. Returns the view names."""
    import re

    from ..metadata.manifests import read_data_at_snapshot

    names: list[str] = []
    taken: set[str] = set()
    rows = discover_tables(spark, warehouse_dir).collect()  # planning plane
    for r in sorted(rows, key=lambda x: (x.namespace, x.table_name)):
        path = re.sub(r"^[a-zA-Z][a-zA-Z0-9.+-]*:/+", "/", r.metadata_json_path)
        view = "_".join(
            re.sub(r"[^A-Za-z0-9_]", "_", part)
            for part in (prefix, r.namespace, r.table_name)
        )
        if view in taken:
            # sanitization can collide (ns 'a.b' table 'c' vs ns 'a'
            # table 'b_c'); disambiguate deterministically instead of
            # silently clobbering the earlier view
            import hashlib

            view = f"{view}_{hashlib.md5((r.namespace + chr(0) + r.table_name).encode()).hexdigest()[:6]}"
        taken.add(view)
        read_data_at_snapshot(spark, path).createOrReplaceTempView(view)
        names.append(view)
    return sorted(names)
