"""Table-properties surface (SURVEY S7/C6).

The reference's table-overview screen renders ``IcebergTable.properties``
(data.rs:16, a ``HashMap<String, String>``) as a key/value table sorted
into rows (components.rs:330-355). Live Iceberg exposes the same map via
``SHOW TBLPROPERTIES`` (``show_tblproperties_sql``); without the
runtime jar the engine derives a deterministic properties map per table
from its snapshots frame — the same display path over fixture-backed
values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

#: static defaults every derived table reports (Iceberg's own write
#: defaults — the values a freshly-created Spark Iceberg table shows).
STATIC_PROPERTIES = (
    ("format-version", "2"),
    ("write.format.default", "parquet"),
    ("write.parquet.compression-codec", "zstd"),
)


def table_properties(snapshots: DataFrame) -> DataFrame:
    """(table_name, properties: map<string,string>) — one row per table.

    Derived keys follow the shape a live catalog reports: the static
    write defaults plus ``current-schema-id`` (schema of the latest
    snapshot, explicit (committed_at, snapshot_id) ordering) and
    ``commit.total-snapshots``. One aggregation pass."""
    ord_key = F.struct(F.col("committed_at"), F.col("snapshot_id"))
    agg = snapshots.groupBy("table_name").agg(
        F.count("*").alias("n_snapshots"),
        F.max_by(F.col("schema_id"), ord_key).alias("current_schema_id"),
    )
    entries = F.array(
        *[
            F.struct(F.lit(k).alias("key"), F.lit(v).alias("value"))
            for k, v in STATIC_PROPERTIES
        ],
        F.struct(
            F.lit("current-schema-id").alias("key"),
            F.coalesce(F.col("current_schema_id"), F.lit(0)).cast("string").alias("value"),
        ),
        F.struct(
            F.lit("commit.total-snapshots").alias("key"),
            F.col("n_snapshots").cast("string").alias("value"),
        ),
    )
    return agg.select("table_name", F.map_from_entries(entries).alias("properties"))


def properties_rows(props: DataFrame) -> DataFrame:
    """Explode the map into display rows (table_name, prop_key,
    prop_value) — the reference's key/value table body
    (components.rs:337-348)."""
    return props.select(
        "table_name", F.explode("properties").alias("prop_key", "prop_value")
    )


def show_tblproperties_sql(table: str) -> str:
    """SQL for the live path (S7). The identifier is validated (dotted
    word parts only) — it cannot be bound as a parameter in SHOW."""
    import re

    if not re.fullmatch(r"\w+(\.\w+)*", table):
        raise ValueError(f"invalid table identifier: {table!r}")
    return f"SHOW TBLPROPERTIES {table}"

