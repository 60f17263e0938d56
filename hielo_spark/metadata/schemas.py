"""Schema plane: evolution matrix (J2), partition-source resolution (J1),
type display strings (SURVEY §1.2/§2.3).

The reference builds the evolution matrix by unioning field-ids across all
schema versions and probing each version for presence
(components.rs:533-605); here that's a groupBy+pivot (or conditional
aggregation) over a long-form (schema_id, field) frame. Long form is the
scalable representation: one row per (table, schema_id, field_id) — a
million-table metadata lake stays a normal DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql import Window

# Reference display strings (data.rs:66-85): boolean,int,long,float,double,
# date,time,timestamp,timestamptz,string,uuid,binary,decimal(p, s),struct,
# list,map. Spark SQL type name → hielo display name.
SPARK_TO_DISPLAY = {
    "boolean": "boolean",
    "int": "int",
    "integer": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    "string": "string",
    "binary": "binary",
}


def display_type(spark_type_name: str) -> str:
    """Spark dtype string → reference display string (decimal/struct/list/
    map handled structurally)."""
    t = spark_type_name.lower()
    if t.startswith("decimal"):
        # decimal(10,2) → "decimal(10, 2)" (reference spacing, data.rs:80)
        inner = t[t.index("(") + 1 : t.index(")")]
        p, s = (x.strip() for x in inner.split(","))
        return f"decimal({p}, {s})"
    if t.startswith("struct"):
        return "struct"
    if t.startswith("array"):
        return "list"
    if t.startswith("map"):
        return "map"
    return SPARK_TO_DISPLAY.get(t, t)


def evolution_matrix(schemas_long: DataFrame, schema_ids: list[int]) -> DataFrame:
    """J2 — wide presence/type matrix: one row per field_id, one column pair
    per schema version (type + required; null = absent, the reference's "—").

    ``schema_ids`` is explicit (schema versions of one table are few and
    known from the metadata); passing them avoids a pivot-discovery pass.
    """
    out = schemas_long.groupBy("table_name", "field_id").agg(
        F.min_by("name", "schema_id").alias("field_name"),
        *[
            c
            for sid in schema_ids
            for c in (
                F.max(F.when(F.col("schema_id") == sid, F.col("type_str"))).alias(f"s{sid}_type"),
                F.max(F.when(F.col("schema_id") == sid, F.col("required"))).alias(f"s{sid}_required"),
            )
        ],
    )
    return out.orderBy("table_name", "field_id")  # O2 sort (components.rs:541-542)


def evolution_changes(schemas_long: DataFrame) -> DataFrame:
    """J2 long form — classify each (field_id, schema version) against the
    previous version the field appeared in: added / type_changed /
    requirement_changed / renamed / unchanged. Dropped fields are the
    absent cells of the matrix (detectable by comparing against the
    version list); kept long here so the output is a plain frame.
    """
    w = Window.partitionBy("table_name", "field_id").orderBy("schema_id")
    prev_type = F.lag("type_str").over(w)
    prev_req = F.lag("required").over(w)
    prev_name = F.lag("name").over(w)
    change = (
        F.when(prev_type.isNull(), F.lit("added"))
        .when(prev_type != F.col("type_str"), F.lit("type_changed"))
        .when(prev_req != F.col("required"), F.lit("requirement_changed"))
        .when(prev_name != F.col("name"), F.lit("renamed"))
        .otherwise(F.lit("unchanged"))
    )
    return schemas_long.select(
        "table_name", "schema_id", "field_id", "name", "type_str", "required",
    ).withColumn("change", change)


def partition_source_join(specs: DataFrame, schema_fields: DataFrame) -> DataFrame:
    """J1 — resolve each partition field's source column name via
    ``specs.source_id == fields.field_id``; unmatched ids get the fallback
    label ``Field {id}`` (components.rs:1590-1598). Left join with the
    (small) schema side broadcast."""
    fields = F.broadcast(
        schema_fields.select(
            F.col("table_name").alias("f_table"),
            F.col("field_id").alias("f_id"),
            F.col("name").alias("source_name"),
        )
    )
    joined = specs.join(
        fields,
        (specs.table_name == F.col("f_table")) & (specs.source_id == F.col("f_id")),
        "left",
    )
    return joined.select(
        "table_name",
        "spec_id",
        "field_id",
        "source_id",
        F.coalesce(F.col("source_name"), F.concat(F.lit("Field "), F.col("source_id"))).alias("source_field"),
        "name",
        "transform",
    )
