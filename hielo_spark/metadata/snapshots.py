"""Snapshot-plane operators (SURVEY §2: S8, F1, F5-F7, O1, O6, C5).

All functions take/return DataFrames with the canonical snapshots schema
(fixtures.SNAPSHOT_SCHEMA): ``table_name, snapshot_id, committed_at,
manifest_list, schema_id, summary: map<string,string>``.

Expressions are ANSI-safe (``try_element_at`` / ``try_cast``) because the
hosting session may run with ``spark.sql.ansi.enabled=true`` (Spark 4
default) and Iceberg summary values are untrusted strings.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

# Summary keys surfaced by the reference (iceberg_adapter.rs:191-201).
SUMMARY_KEYS = (
    "added-data-files",
    "deleted-data-files",
    "added-records",
    "deleted-records",
    "total-records",
    "added-files-size",
    "removed-files-size",
    "total-size",
)


def summary_value(key: str, summary: Column | str = "summary") -> Column:
    """``summary[key]`` as string, null-safe on a null map (C6)."""
    summary = F.col(summary) if isinstance(summary, str) else summary
    return F.try_element_at(summary, F.lit(key))


def summary_long(key: str, summary: Column | str = "summary", default: int | None = 0) -> Column:
    """Numeric summary value with the reference's ``parse().unwrap_or(0)``
    null/junk tolerance (analytics.rs:75-79; SURVEY F7/C4)."""
    c = summary_value(key, summary).try_cast("long")
    return F.coalesce(c, F.lit(default)) if default is not None else c


def infer_operation(summary: Column | str = "summary") -> Column:
    """Operation with the reference's inference chain
    (iceberg_adapter.rs:169-187 + data.rs:156-161):

      summary NULL                       → 'unknown'
      summary['operation'] present       → it
      summary['spark.app.id'] present    → 'append'
      added-data-files / added-records   → 'append'
      deleted-data-files / deleted-recs  → 'delete'
      total-data-files                   → 'overwrite'
      otherwise                          → 'append'
    """
    if isinstance(summary, str):
        # One parsed SQL expression instead of ~40 py4j constructor
        # roundtrips (r13, guide §7.3 driver-side cost): this inference
        # chain sits in the build path of every [meta] query, and Column
        # construction was a measurable slice of their bench numbers.
        # Semantics identical to the Column form below.
        s = f"`{summary}`"
        return F.expr(
            f"""CASE WHEN {s} IS NULL THEN 'unknown' ELSE coalesce(
              try_element_at({s}, 'operation'),
              CASE WHEN try_element_at({s}, 'spark.app.id') IS NOT NULL THEN 'append' END,
              CASE WHEN try_element_at({s}, 'added-data-files') IS NOT NULL
                     OR try_element_at({s}, 'added-records') IS NOT NULL THEN 'append' END,
              CASE WHEN try_element_at({s}, 'deleted-data-files') IS NOT NULL
                     OR try_element_at({s}, 'deleted-records') IS NOT NULL THEN 'delete' END,
              CASE WHEN try_element_at({s}, 'total-data-files') IS NOT NULL THEN 'overwrite' END,
              'append') END"""
        )

    def has(k: str) -> Column:
        return F.try_element_at(summary, F.lit(k)).isNotNull()

    inferred = (
        F.coalesce(
            F.try_element_at(summary, F.lit("operation")),
            F.when(has("spark.app.id"), F.lit("append")),
            F.when(has("added-data-files") | has("added-records"), F.lit("append")),
            F.when(has("deleted-data-files") | has("deleted-records"), F.lit("delete")),
            F.when(has("total-data-files"), F.lit("overwrite")),
            F.lit("append"),
        )
    )
    return F.when(summary.isNull(), F.lit("unknown")).otherwise(inferred)


def with_operation(df: DataFrame) -> DataFrame:
    """Add the inferred ``operation`` column (S8)."""
    return df.withColumn("operation", infer_operation())


def size_change(summary: Column | str = "summary") -> Column:
    """Display string ``"+{added} -{removed}"`` / ``"+{added}"`` / ``"N/A"``
    (data.rs:169-183; SURVEY C5)."""
    added = summary_value("added-files-size", summary)
    removed = summary_value("removed-files-size", summary)
    return (
        F.when(added.isNotNull() & removed.isNotNull(), F.concat(F.lit("+"), added, F.lit(" -"), removed))
        .when(added.isNotNull(), F.concat(F.lit("+"), added))
        .otherwise(F.lit("N/A"))
    )


def records_added(summary: Column | str = "summary") -> Column:
    """``added-records`` string, default "0" (data.rs:163-168)."""
    return F.coalesce(summary_value("added-records", summary), F.lit("0"))


IS_COMPACTION = "operation LIKE '%rewrite%' OR operation LIKE '%compact%'"


def is_compaction(op: Column | str = "operation") -> Column:
    """Compaction predicate (analytics.rs:157; SURVEY F5)."""
    op = F.col(op) if isinstance(op, str) else op
    return op.contains("rewrite") | op.contains("compact")


@dataclass
class SnapshotFilter:
    """Multi-predicate snapshot filter state (components.rs:8-35, 698-786;
    SURVEY F1). Predicates AND together; rows with missing summary values
    pass the numeric/range predicates (reference lets them through)."""

    operations: list[str] = field(default_factory=list)  # empty = all
    min_added_files: int | None = None
    max_added_files: int | None = None
    min_added_records: int | None = None
    max_added_records: int | None = None
    date_from: str | None = None  # 'YYYY-MM-DD' inclusive day start
    date_to: str | None = None    # 'YYYY-MM-DD' inclusive day end

    def predicate(self) -> Column:
        return self._build(
            summary_value("added-data-files").try_cast("long"),
            summary_value("added-records").try_cast("long"),
        )

    def flat_predicate(self) -> Column:
        """Same predicate over a frame that already flattened the summary
        probes into ``_added_files`` / ``_added_records`` columns (the
        r13 timeline shape) — referencing attributes instead of map
        probes keeps filter pushdown from re-inlining the summary-map
        derivation below the projection."""
        return self._build(F.col("_added_files"), F.col("_added_records"))

    def _build(self, files: Column, recs: Column) -> Column:
        p = F.lit(True)
        if self.operations:
            p = p & F.col("operation").isin(self.operations)
        if self.min_added_files is not None:
            p = p & (files.isNull() | (files >= self.min_added_files))
        if self.max_added_files is not None:
            p = p & (files.isNull() | (files <= self.max_added_files))
        if self.min_added_records is not None:
            p = p & (recs.isNull() | (recs >= self.min_added_records))
        if self.max_added_records is not None:
            p = p & (recs.isNull() | (recs <= self.max_added_records))
        if self.date_from is not None:  # day start 00:00:00 (components.rs:754-766)
            p = p & (F.col("committed_at") >= F.to_timestamp(F.lit(f"{self.date_from} 00:00:00")))
        if self.date_to is not None:  # day end 23:59:59
            p = p & (F.col("committed_at") <= F.to_timestamp(F.lit(f"{self.date_to} 23:59:59")))
        return p

    def is_filtered(self) -> bool:
        """F8: any predicate active."""
        return self.active_filter_count() > 0

    def active_filter_count(self) -> int:
        n = 0
        if self.operations:
            n += 1
        if self.min_added_files is not None or self.max_added_files is not None:
            n += 1
        if self.min_added_records is not None or self.max_added_records is not None:
            n += 1
        if self.date_from is not None or self.date_to is not None:
            n += 1
        return n


def timeline(
    df: DataFrame, flt: SnapshotFilter | None = None, barrier: bool = False
) -> DataFrame:
    """The snapshot-timeline rows (§3.2 render path): flatten → filter →
    sort desc → display columns (snapshot_id, committed_at, operation,
    records_added, size_change).

    The summary map is probed exactly ONCE, in the flattening projection;
    the filter and render reference the flat attributes. With a derived
    ``summary`` column (the orders fixture) this matters enormously:
    filter pushdown substitutes aliases cost-blind, so a predicate that
    probes the map directly re-inlines the whole map derivation below the
    projection — A/B at sf0.1 measured the probe-in-filter forms 4-5×
    slower than a flatten-once + barrier plan (/tmp A/B, r13 session 2).

    ``barrier=True`` inserts a lineage barrier AFTER the flatten, so only
    the six narrow display/filter columns are materialized — never the
    map. Use it when ``df``'s summary is a derived expression (the bench
    fixture); a real metadata table scan needs no barrier. Callers whose
    input is a derivation over a narrow scan should fan out BELOW the
    derivation (``snapshots_from_orders(..., fan=True)``) so the flatten
    materializes from parallel tasks, not the raw scan's."""
    flat = df.select(
        "table_name",
        "snapshot_id",
        "committed_at",
        infer_operation().alias("operation"),
        summary_value("added-data-files").try_cast("long").alias("_added_files"),
        summary_value("added-records").try_cast("long").alias("_added_records"),
        records_added().alias("records_added"),
        size_change().alias("size_change"),
    )
    if barrier:
        from ..io import fan_out

        flat = fan_out(flat).localCheckpoint(eager=False)
    if flt is not None:
        flat = flat.filter(flt.flat_predicate())
    return flat.select(
        "table_name",
        "snapshot_id",
        "committed_at",
        "operation",
        "records_added",
        "size_change",
    ).orderBy(F.col("committed_at").desc(), F.col("snapshot_id").desc())


def latest_snapshot(df: DataFrame) -> DataFrame:
    """O6 — current state per table: max_by over (committed_at, snapshot_id).

    The reference takes ``snapshots.last()`` assuming catalog order is
    chronological (analytics.rs:72); we order explicitly. Single partial+final
    aggregation — no window, no shuffle beyond the groupBy.
    """
    ord_key = F.struct(F.col("committed_at"), F.col("snapshot_id"))
    return df.groupBy("table_name").agg(
        F.max_by(F.col("snapshot_id"), ord_key).alias("snapshot_id"),
        F.max(F.col("committed_at")).alias("committed_at"),
        F.max_by(F.col("summary"), ord_key).alias("summary"),
        F.max_by(F.col("schema_id"), ord_key).alias("schema_id"),
    )


def operation_counts(df: DataFrame) -> DataFrame:
    """A1 — operation distribution (components.rs:1275-1284)."""
    return with_operation(df).groupBy("table_name", "operation").agg(F.count("*").alias("n"))


def snapshot_span(df: DataFrame) -> DataFrame:
    """A2 — oldest/newest per table + span in whole days (integer ms
    division, components.rs:1295-1305)."""
    return df.groupBy("table_name").agg(
        F.min("committed_at").alias("oldest"),
        F.max("committed_at").alias("newest"),
        F.floor(
            (F.unix_millis(F.max("committed_at")) - F.unix_millis(F.min("committed_at")))
            / F.lit(86400000)
        ).alias("span_days"),
    )
