"""Deterministic metadata-shaped fixtures (FIXTURES.md §B).

Two sources:

1. ``snapshots_from_orders`` — a snapshots table derived *deterministically
   from the driver's orders fixture* with pure-SQL mappings. Because the
   derivation is expressible in ANSI SQL, every [meta] operator built on it
   (operation inference, snapshot filters, timeline, health suite) can be
   checked against the DuckDB oracle. ``ORACLE_SNAPSHOTS_CTE`` is the DuckDB
   side of the same derivation.

2. ``synthetic_snapshots`` / ``synthetic_schemas`` / ``synthetic_partition_specs``
   — small hand-built frames with the edge cases the reference's code paths
   care about (null summaries, junk numerics, missing keys, renames, dangling
   source ids), used by the pytest golden tests.

Reference structs: data.rs:89-108 (Snapshot/Summary), data.rs:21-33 (schema),
data.rs:111-134 (partition specs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..io import fan_out, load_table, local_frame

# ---------------------------------------------------------------------------
# 1. Orders-derived snapshots (oracle-checkable)
# ---------------------------------------------------------------------------
# Derivation rules (must match ORACLE_SNAPSHOTS_CTE exactly):
#   table_name      = 'tbl_' || (o_orderkey % 3)
#   snapshot_id     = o_orderkey
#   committed_at    = o_orderdate
#   schema_id       = o_orderkey % 2
#   has_summary     = o_orderkey % 37 <> 0          (else summary entirely NULL)
#   operation_raw   = NULL                              if o_orderkey % 5 == 0
#                     'rewrite-data-files'              elif o_orderkey % 13 == 0
#                     'delete'                          elif o_orderkey % 11 == 0
#                     'append' / 'overwrite' / 'replace' by o_orderstatus O/F/P
#   added-data-files key present iff has_summary and o_orderkey % 7 <> 0;
#                     value = o_orderkey % 97
#   added-records    present iff added-data-files present;
#                     value = (o_custkey * 100 + o_orderkey % 53)
#   deleted-records  present iff has_summary and o_orderkey % 17 == 0;
#                     value = o_orderkey % 29
#   total-size       present iff has_summary and o_orderkey % 3 <> 2;
#                     value = (o_orderkey % 1000 + 1) * 1048576   (bytes)
#   added-files-size present iff added-data-files present;
#                     value = (o_orderkey % 500 + 1) * 1048576
#   removed-files-size present iff deleted-records present;
#                     value = (o_orderkey % 100) * 1048576

_OP_RAW = """
CASE
  WHEN o_orderkey % 37 = 0 THEN NULL
  WHEN o_orderkey % 5 = 0 THEN NULL
  WHEN o_orderkey % 13 = 0 THEN 'rewrite-data-files'
  WHEN o_orderkey % 11 = 0 THEN 'delete'
  WHEN o_orderstatus = 'O' THEN 'append'
  WHEN o_orderstatus = 'F' THEN 'overwrite'
  ELSE 'replace'
END
"""

# DuckDB CTE producing the *flattened* snapshot columns (the oracle never
# needs the map; it reconstructs the same final results from these columns).
ORACLE_SNAPSHOTS_CTE = f"""
snapshots_src AS (
  SELECT
    'tbl_' || CAST(o_orderkey % 3 AS VARCHAR)         AS table_name,
    o_orderkey                                        AS snapshot_id,
    o_orderdate                                       AS committed_at,
    CAST(o_orderkey % 2 AS INTEGER)                   AS schema_id,
    (o_orderkey % 37 <> 0)                            AS has_summary,
    {_OP_RAW}                                         AS operation_raw,
    (o_orderkey % 37 <> 0 AND o_orderkey % 7 <> 0)    AS has_added,
    (o_orderkey % 37 <> 0 AND o_orderkey % 17 = 0)    AS has_deleted,
    (o_orderkey % 37 <> 0 AND o_orderkey % 3 <> 2)    AS has_total_size,
    o_orderkey % 97                                   AS added_data_files,
    o_custkey * 100 + o_orderkey % 53                 AS added_records,
    o_orderkey % 29                                   AS deleted_records,
    (o_orderkey % 1000 + 1) * 1048576                 AS total_size_bytes,
    (o_orderkey % 500 + 1) * 1048576                  AS added_files_size,
    (o_orderkey % 100) * 1048576                      AS removed_files_size
  FROM orders
),
snapshots AS (
  SELECT
    table_name, snapshot_id, committed_at, schema_id,
    has_summary,
    CASE
      WHEN NOT has_summary THEN 'unknown'
      WHEN operation_raw IS NOT NULL THEN operation_raw
      WHEN has_added THEN 'append'
      WHEN has_deleted THEN 'delete'
      ELSE 'append'
    END                                               AS operation,
    CASE WHEN has_added THEN added_data_files END      AS added_data_files,
    CASE WHEN has_added THEN added_records END         AS added_records,
    CASE WHEN has_deleted THEN deleted_records END     AS deleted_records,
    CASE WHEN has_total_size THEN total_size_bytes END AS total_size_bytes,
    CASE WHEN has_added THEN added_files_size END      AS added_files_size,
    CASE WHEN has_deleted THEN removed_files_size END  AS removed_files_size
  FROM snapshots_src
)
"""


# Real t.snapshots / t.files are STORED metadata tables; without a lineage
# barrier the optimizer inlines the synthetic map derivation into every
# summary reference a consumer makes (filter pushdown substitutes the
# alias: measured 13 copies of map_from_entries in the timeline plan, 4.5×
# the runtime). localCheckpoint truncates the lineage so consumers plan
# against attributes — exactly what they'd see reading the real metadata
# table. The checkpoint is PER CALL: r12 memoized it per (app, sf_dir),
# which let bench runs 2..N of the meta_* queries reuse a materialized
# intermediate keyed on the test data — cross-run result caching, removed
# in r13 (OPTIMIZATION_r13.md). Every invocation now recomputes from the
# parquet input; the lazy checkpoint materializes inside the timed action.


def snapshots_from_orders(
    spark: SparkSession, sf_dir: str, checkpoint: bool = False, fan: bool = False
) -> DataFrame:
    """Snapshots table derived from orders, with a real map<string,string>
    ``summary`` column shaped like Iceberg's ``t.snapshots.summary``.

    The map carries string values exactly as the Iceberg spec does
    (data.rs:98-108: "all values are strings").

    ``checkpoint=True`` inserts a lineage barrier over the FULL frame
    (map column included). Probed per consumer (r13): without a barrier,
    only the timeline render paths re-inline the summary-map derivation
    heavily — and those now flatten the map once and barrier the six
    NARROW columns instead (``snapshots.timeline(barrier=True)``,
    A/B-measured ~25% faster than the full-frame barrier because the
    materialized bytes drop from map rows to short strings). Every other
    [meta] consumer references the map ≤1× (the health suite flattens it
    once up front), so for them any barrier only costs materialization
    and defeats column pruning (e.g. snapshot_span reads just
    table_name+committed_at — with a barrier the full map column is
    materialized anyway).

    ``fan=True`` fans the orders scan out BEFORE the map projection so a
    downstream barrier's materialization runs from parallel tasks
    (A/B-measured faster than a single-task store); no-barrier consumers
    feed an aggregation/sort whose exchange re-distributes anyway, so
    fanning there would only add a stage (A/B in OPTIMIZATION_r13.md).
    """
    if checkpoint:
        return _build_snapshots(spark, sf_dir, fan=True).localCheckpoint(eager=False)
    return _build_snapshots(spark, sf_dir, fan=fan)


def _build_snapshots(spark: SparkSession, sf_dir: str, fan: bool = False) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    if fan:
        o = fan_out(o)
    # Entry presence via concat of conditionally-empty singleton arrays:
    # zero lambdas, so the whole projection stays inside whole-stage
    # codegen (the earlier filter-lambda form dropped the projection to
    # interpreted eval; measured ~10% on the timeline path, and this
    # projection sits under every [meta] query). The whole summary column
    # is ONE parsed SQL expression (r13): the F.when/F.struct constructor
    # form cost ~100 py4j roundtrips per query build — a measurable slice
    # of every [meta] bench number (guide §7.3 driver-side cost). The
    # generated expression tree is identical; derivation rules unchanged
    # (must keep matching ORACLE_SNAPSHOTS_CTE).
    k = F.col("o_orderkey")
    empty = "CAST(array() AS array<struct<key:string,value:string>>)"

    def ent(key: str, cond: str, value: str) -> str:
        st = f"array(named_struct('key', '{key}', 'value', {value}))"
        return f"CASE WHEN {cond} THEN {st} ELSE {empty} END"

    has_summary = "o_orderkey % 37 <> 0"
    has_added = f"({has_summary} AND o_orderkey % 7 <> 0)"
    has_deleted = f"({has_summary} AND o_orderkey % 17 = 0)"
    has_total = f"({has_summary} AND o_orderkey % 3 <> 2)"
    op = f"({_OP_RAW.strip()})"
    entries = ",\n".join(
        [
            ent("operation", f"{op} IS NOT NULL", op),
            ent("added-data-files", has_added, "CAST(o_orderkey % 97 AS STRING)"),
            ent("added-records", has_added, "CAST(o_custkey * 100 + o_orderkey % 53 AS STRING)"),
            ent("deleted-records", has_deleted, "CAST(o_orderkey % 29 AS STRING)"),
            ent("total-size", has_total, "CAST((o_orderkey % 1000 + 1) * 1048576 AS STRING)"),
            ent("added-files-size", has_added, "CAST((o_orderkey % 500 + 1) * 1048576 AS STRING)"),
            ent("removed-files-size", has_deleted, "CAST((o_orderkey % 100) * 1048576 AS STRING)"),
        ]
    )
    summary = F.expr(
        f"CASE WHEN {has_summary} THEN map_from_entries(concat({entries})) END"
    )
    return o.select(
        F.concat(F.lit("tbl_"), (k % 3).cast("string")).alias("table_name"),
        k.alias("snapshot_id"),
        F.col("o_orderdate").cast("timestamp").alias("committed_at"),
        F.concat(F.lit("s3://warehouse/metadata/snap-"), k, F.lit(".avro")).alias("manifest_list"),
        (k % 2).cast("int").alias("schema_id"),
        summary.alias("summary"),
    )


# Files frame (t.files shape) derived from orders for the A7 exact mode:
#   table_name         = 'tbl_' || (o_orderkey % 3)
#   file_size_in_bytes = (o_orderkey % 1000 + 1) MiB  → spans all four
#                        reference bands incl. the 512 MB inclusive edge
#   record_count       = o_custkey % 10000 + 1
ORACLE_FILES_CTE = """
files AS (
  SELECT
    'tbl_' || CAST(o_orderkey % 3 AS VARCHAR)                            AS table_name,
    's3://warehouse/data/f-' || CAST(o_orderkey AS VARCHAR) || '.parquet' AS file_path,
    CAST((o_orderkey % 1000 + 1) * 1048576 AS BIGINT)                    AS file_size_in_bytes,
    CAST(o_custkey % 10000 + 1 AS BIGINT)                                AS record_count
  FROM orders
)
"""


def files_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files frame shaped like Iceberg's ``t.files`` metadata table,
    derived from orders with the ORACLE_FILES_CTE rules. Flat columns, no
    map → nothing for the optimizer to inline; no barrier needed."""
    return _build_files(spark, sf_dir)


def _build_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        F.concat(F.lit("tbl_"), (k % 3).cast("string")).alias("table_name"),
        F.concat(F.lit("s3://warehouse/data/f-"), k, F.lit(".parquet")).alias("file_path"),
        ((k % 1000 + 1) * 1048576).cast("long").alias("file_size_in_bytes"),
        ((F.col("o_custkey") % 10000) + 1).cast("long").alias("record_count"),
    )


# ---------------------------------------------------------------------------
# 2. Hand-built edge-case fixtures (golden tests)
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("committed_at", TimestampType(), False),
        StructField("manifest_list", StringType(), False),
        StructField("schema_id", IntegerType(), True),
        StructField("summary", MapType(StringType(), StringType()), True),
    ]
)

# Fixed evaluation instant replacing the reference's Utc::now()
# (analytics.rs:129,261,356) so golden outputs are deterministic.
AS_OF = "2025-06-01 12:00:00"


def synthetic_snapshots(spark: SparkSession) -> DataFrame:
    """Edge-case snapshot fixture per FIXTURES.md §B scenario coverage.

    Tables:
      empty_t    — no rows (tested by filtering: absent from output)
      single_t   — one append snapshot
      hot_t      — >20 snapshots in the hour before AS_OF (frequency alerts),
                   small files (avg << 16 MB), never compacted
      steady_t   — weekly appends + recent rewrite, healthy sizes
      junk_t     — null summary, junk numerics, missing keys (unwrap_or(0))
      growth_t   — >500 GB/day storage growth
    """
    import datetime as dt

    def ts(s: str) -> dt.datetime:
        return dt.datetime.fromisoformat(s)

    rows: list[tuple] = []
    # single_t: one plain append
    rows.append(
        ("single_t", 1, ts("2025-05-30 10:00:00"), "m1", 0,
         {"operation": "append", "added-data-files": "4", "added-records": "100",
          "added-files-size": str(400 * 1024 * 1024), "total-size": str(400 * 1024 * 1024)})
    )
    # hot_t: 25 appends within the last hour before AS_OF, tiny files, no compaction
    for i in range(25):
        rows.append(
            ("hot_t", 100 + i, ts("2025-06-01 11:00:00") + dt.timedelta(minutes=2 * i), f"m{100+i}", 0,
             {"operation": "append", "added-data-files": "100",
              "added-records": "1000", "added-files-size": str(100 * 1024 * 1024),
              "total-size": str((i + 1) * 100 * 1024 * 1024)})
        )
    # steady_t: 8 weekly appends + a rewrite 2 days before AS_OF
    for i in range(8):
        rows.append(
            ("steady_t", 200 + i, ts("2025-04-01 00:00:00") + dt.timedelta(days=7 * i), f"m{200+i}", 0,
             {"operation": "append", "added-data-files": "10",
              "added-records": "5000", "added-files-size": str(2 * 1024**3),
              "total-size": str((i + 1) * 2 * 1024**3)})
        )
    rows.append(
        ("steady_t", 250, ts("2025-05-30 12:00:00"), "m250", 1,
         {"operation": "rewrite-data-files", "added-data-files": "5",
          "added-records": "0", "added-files-size": str(2 * 1024**3),
          "total-size": str(16 * 1024**3)})
    )
    # junk_t: null summary; junk numerics; missing operation (inference paths)
    rows.append(("junk_t", 300, ts("2025-05-01 00:00:00"), "m300", None, None))
    rows.append(
        ("junk_t", 301, ts("2025-05-02 00:00:00"), "m301", 0,
         {"operation": "append", "added-data-files": "junk", "added-records": "junk",
          "total-size": "junk"})
    )
    rows.append(  # no operation key; spark.app.id → append (iceberg_adapter.rs:172)
        ("junk_t", 302, ts("2025-05-03 00:00:00"), "m302", 0,
         {"spark.app.id": "app-123", "total-records": "10"})
    )
    rows.append(  # no operation; deleted-records → delete (iceberg_adapter.rs:177-181)
        ("junk_t", 303, ts("2025-05-04 00:00:00"), "m303", 0,
         {"deleted-records": "5", "removed-files-size": "1024"})
    )
    rows.append(  # no operation; total-data-files → overwrite (iceberg_adapter.rs:182)
        ("junk_t", 304, ts("2025-05-05 00:00:00"), "m304", 0,
         {"total-data-files": "7"})
    )
    # growth_t: 0 → 1200 GB in 2 days (exceeds 500 GB/day critical)
    for i, gb in enumerate([1, 601, 1201]):
        rows.append(
            ("growth_t", 400 + i, ts("2025-05-29 12:00:00") + dt.timedelta(days=i), f"m{400+i}", 0,
             {"operation": "append", "added-data-files": "10",
              "added-records": "100", "added-files-size": str(gb * 1024**3),
              "total-size": str(gb * 1024**3)})
        )
    data = [(t, sid, c, m, sc, summ) for (t, sid, c, m, sc, summ) in rows]
    return local_frame(spark, data, SNAPSHOT_SCHEMA)


def synthetic_schemas(spark: SparkSession) -> DataFrame:
    """Long-form schema-version fixture: adds, drops, a rename, a type
    change, a required↔optional flip, and one nested struct field."""
    rows = [
        # schema 0
        ("t", 0, 1, "id", "long", True, None, None),
        ("t", 0, 2, "name", "string", False, "display name", None),
        ("t", 0, 3, "price", "decimal(10, 2)", True, None, None),
        ("t", 0, 5, "addr", "struct", False, None, None),
        ("t", 0, 6, "street", "string", False, None, 5),
        # schema 1: drop name, add ts, widen price type, flip id to optional
        ("t", 1, 1, "id", "long", False, None, None),
        ("t", 1, 3, "price", "decimal(18, 4)", True, None, None),
        ("t", 1, 4, "ts", "timestamptz", True, None, None),
        ("t", 1, 5, "addr", "struct", False, None, None),
        ("t", 1, 6, "street", "string", False, None, 5),
        # schema 2: rename ts → event_ts, re-add name
        ("t", 2, 1, "id", "long", False, None, None),
        ("t", 2, 2, "name", "string", False, None, None),
        ("t", 2, 3, "price", "decimal(18, 4)", True, None, None),
        ("t", 2, 4, "event_ts", "timestamptz", True, None, None),
        ("t", 2, 5, "addr", "struct", False, None, None),
        ("t", 2, 6, "street", "string", False, None, 5),
    ]
    from pyspark.sql.types import BooleanType

    schema = StructType(
        [
            StructField("table_name", StringType(), False),
            StructField("schema_id", IntegerType(), False),
            StructField("field_id", IntegerType(), False),
            StructField("name", StringType(), False),
            StructField("type_str", StringType(), False),
            StructField("required", BooleanType(), False),
            StructField("doc", StringType(), True),
            StructField("parent_field_id", IntegerType(), True),
        ]
    )
    return local_frame(spark, rows, schema)


def synthetic_partition_specs(spark: SparkSession) -> DataFrame:
    """Partition-spec fixture incl. spec evolution, every transform
    (data.rs:137-148), and one dangling source_id (fallback-label path,
    components.rs:1590-1598)."""
    from pyspark.sql.types import BooleanType  # noqa: F401  (schema symmetry)

    rows = [
        ("t", 0, 1000, 4, "ts_day", "day"),
        ("t", 0, 1001, 1, "id_bucket", "bucket[16]"),
        ("t", 1, 1000, 4, "ts_hour", "hour"),
        ("t", 1, 1001, 1, "id_bucket", "bucket[16]"),
        ("t", 1, 1002, 2, "name_trunc", "truncate[4]"),
        ("t", 1, 1003, 99, "ghost", "identity"),  # dangling source_id
        ("u", 0, 1000, 1, "y", "year"),
        ("u", 0, 1001, 2, "m", "month"),
        ("u", 0, 1002, 3, "v", "void"),
    ]
    schema = StructType(
        [
            StructField("table_name", StringType(), False),
            StructField("spec_id", IntegerType(), False),
            StructField("field_id", IntegerType(), False),
            StructField("source_id", IntegerType(), False),
            StructField("name", StringType(), False),
            StructField("transform", StringType(), False),
        ]
    )
    return local_frame(spark, rows, schema)
