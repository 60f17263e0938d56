"""Table-health suite (SURVEY §2.4 A3-A12) re-expressed as ONE Spark
aggregation per table.

The reference computes these metrics with sequential loops over an
in-memory Vec<Snapshot> for a single table (analytics.rs:35-348). Here the
whole suite is a single ``groupBy(table_name).agg(...)``. Over a scanned
snapshots table that is partial+final aggregation with one shuffle keyed
by table, so it scales to metadata for millions of tables in one job,
instead of one process per table. Over a driver-held snapshots frame (a
``LocalRelation``, e.g. ``snapshots_from_metadata_json``) ``io.fan_out``
reads the rows as one partition, so the aggregation needs no exchange and
each of ``health_metrics``, ``alerts`` and ``recommendations`` collects in
one single-stage job.

Determinism: the reference calls ``Utc::now()`` (analytics.rs:129,261,356);
every function here takes an explicit ``as_of`` timestamp instead. It
enters the plan as data: one projected column from which per-row ages
are derived, so a refresh at a new ``as_of`` over a driver-held frame
reuses the generated code of the last one instead of recompiling it.

Parity notes (quirks preserved deliberately; see SURVEY §7 hard parts):
  * "compactions_last_week" is an all-time count (analytics.rs:180).
  * compaction_effectiveness hard-coded 0.8 (analytics.rs:191),
    partition_efficiency hard-coded 0.85 (analytics.rs:274).
  * file-size distribution is the avg-size-band heuristic
    (analytics.rs:90-104), not a real histogram.
  * trends are constants (analytics.rs:278-288).
  * hour/day arithmetic truncates like chrono's num_hours/num_days.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..io import fan_out
from ..metadata.snapshots import infer_operation, is_compaction

# Thresholds (analytics.rs:9-30).
TINY_FILE_MB = 16.0
SMALL_FILE_MB = 64.0
OPTIMAL_FILE_MAX_MB = 512.0
SMALL_RATIO_WARNING = 0.3
SMALL_RATIO_CRITICAL = 0.5
FREQ_HOUR_WARNING = 10
FREQ_HOUR_CRITICAL = 20
COMPACTION_WARNING_DAYS = 7.0
COMPACTION_CRITICAL_DAYS = 14.0
GROWTH_WARNING_GB_DAY = 100.0
GROWTH_CRITICAL_GB_DAY = 500.0

_MS_HOUR = 3600000
_MS_DAY = 86400000
_US_HOUR = 1000 * _MS_HOUR
_US_DAY = 1000 * _MS_DAY


def _v(key: str, summary: Column) -> Column:
    return F.try_element_at(summary, F.lit(key))


def health_metrics(snapshots: DataFrame, as_of: str) -> DataFrame:
    """One row per table with the full A3-A8 metric set + health score.

    ``snapshots`` uses the canonical schema (table_name, snapshot_id,
    committed_at, manifest_list, schema_id, summary). ``as_of`` replaces
    Utc::now() — 'YYYY-MM-DD HH:MM:SS' UTC.
    """
    # ``as_of`` is projected once as a column, parsed by Spark, and every
    # metric that depends on it is aggregated from per-row ages. Over a
    # driver-held frame the optimizer folds this projection into the
    # LocalRelation's rows (ConvertToLocalRelation), so the timestamp
    # reaches generated code as a column, not a literal, and a refresh at
    # a new ``as_of`` compiles nothing. Projected BEFORE fan_out so that
    # fold happens under its one-partition read.
    stamped = snapshots.select("*", F.to_timestamp(F.lit(as_of)).alias("_as_of"))
    # Flatten the summary map ONCE per row into typed columns, then
    # aggregate over plain columns: every map probe inside an aggregate
    # expression would otherwise re-evaluate per row per expression
    # (interpreted — higher-order/map ops don't codegen).
    summ = F.col("summary")
    # Hash-aggregatable ordering key (r13): the r12 form ordered max_by by
    # struct(ts, snapshot_id); struct-typed aggregation buffers are not
    # mutable, which forced the ENTIRE aggregation into SortAggregate — a
    # per-partition sort of the whole snapshots table at any scale. The
    # same order encoded as one DECIMAL(38,0) — unix_micros(ts)·10²⁰ +
    # snapshot_id, exact because micros ≤ 16 digits and ids (< 10²⁰) are
    # unique — keeps every buffer slot mutable, so the plan lowers to
    # partial/final HashAggregate. Ordering is identical: the encoding is
    # strictly monotone in (ts, snapshot_id), and ids are unique so no
    # ties existed for the struct form to break differently.
    #
    # The key (and its sized-only variant) is PROJECTED here rather than
    # repeated inside each of the six max_by/min_by calls (r13 session 2,
    # guide §1.2 "per-task work"): as an attribute it is computed once
    # per row instead of once per aggregate function — decimal multiply/
    # add is the most expensive scalar in this pipeline — and the
    # analyzed plan shrinks by five copies of the deepest expression tree
    # (driver-side analysis time is a measurable slice of this query).
    _ord = F.unix_micros(F.col("committed_at")).cast("decimal(38,0)") * F.expr(
        "CAST(100000000000000000000 AS DECIMAL(21,0))"  # 10^20
    ) + F.col("snapshot_id").cast("decimal(38,0)")
    # Parallelize the flatten when the input scan is under-parallel (r13
    # session 4, guide §2.5 "input skew"): the flatten + partial
    # aggregation — six map probes, the operation-inference CASE tree and
    # the decimal ordering key per row — run in the SCAN stage, so a
    # single-file snapshots source serializes the whole per-row pipeline
    # on one task. fan_out is conditional: a real metadata table scan is
    # already parallel and nothing is added. Interleaved A/B at sf0.1:
    # 0.58-0.70 s vs 0.83-1.33 s; row-identical (every aggregate below is
    # order-insensitive — exact int sums, min/max, unique-key max_by).
    # A driver-held frame instead reads as one partition, so the
    # aggregation below plans no exchange at all.
    now = F.col("_as_of")
    flat = fan_out(stamped).select(
        "table_name",
        "snapshot_id",
        "committed_at",
        infer_operation().alias("operation"),
        (F.unix_micros(now) - F.unix_micros(F.col("committed_at"))).alias("age_us"),
        (F.unix_millis(now) - F.unix_millis(F.col("committed_at"))).alias("age_ms"),
        _v("added-data-files", summ).try_cast("long").alias("added_files"),
        _v("total-size", summ).isNotNull().alias("sized"),
        (F.coalesce(_v("total-size", summ).try_cast("double"), F.lit(0.0)) / F.lit(1024.0**3)).alias("size_gb"),
        (F.coalesce(_v("total-size", summ).try_cast("double"), F.lit(0.0))).alias("size_bytes"),
        summ.isNotNull().alias("has_summary"),
        _ord.alias("ord"),
    )
    ts = F.col("committed_at")
    age_us = F.col("age_us")
    age_ms = F.col("age_ms")
    ord_key = F.col("ord")
    comp = is_compaction()
    sized = F.col("sized")
    sized_ord = F.when(sized, ord_key)  # null ordering rows are skipped
    op_lower = F.lower(F.col("operation"))

    agg = flat.groupBy("table_name").agg(
        F.count("*").alias("n_snapshots"),
        # A3 — time-windowed counts (analytics.rs:128-151): the strict
        # ``committed_at > as_of - INTERVAL …`` is ``age < INTERVAL``
        F.sum((age_us < _US_HOUR).cast("int")).alias("snapshots_last_hour"),
        F.sum((age_us < _US_DAY).cast("int")).alias("snapshots_last_day"),
        F.sum((age_us < 7 * _US_DAY).cast("int")).alias("snapshots_last_week"),
        # freshness: the latest snapshot is the youngest (unix_millis is
        # monotone, so min(age) = as_of - max(committed_at) exactly)
        F.min(age_ms).alias("freshness_ms"),
        # latest snapshot state (O6) for file health — scalar max_by per
        # consumed field (same unique ord → same row)
        F.max_by(F.col("added_files"), ord_key).alias("latest_added_files"),
        F.max_by(F.col("size_bytes"), ord_key).alias("latest_size_bytes"),
        # A5 — compaction timestamps (min/max/count under the F5 predicate)
        F.min(F.when(comp, ts)).alias("first_compaction_ts"),
        F.max(F.when(comp, ts)).alias("last_compaction_ts"),
        F.min(F.when(comp, age_ms)).alias("last_compaction_age_ms"),
        F.sum(comp.cast("int")).alias("compaction_count"),
        # A6 — storage: first/last sized snapshot + op ratios
        F.min_by(ts, sized_ord).alias("first_sized_ts"),
        F.min_by(F.col("size_gb"), sized_ord).alias("first_sized_gb"),
        F.max_by(ts, sized_ord).alias("last_sized_ts"),
        F.max_by(F.col("size_gb"), sized_ord).alias("last_sized_gb"),
        F.sum(sized.cast("int")).alias("sized_count"),
        F.sum(F.col("has_summary").cast("int")).alias("ops_with_summary"),
        F.sum((F.col("has_summary") & op_lower.contains("delete")).cast("int")).alias("delete_ops"),
        F.sum(
            (
                F.col("has_summary")
                & ~op_lower.contains("delete")
                & (op_lower.contains("update") | op_lower.contains("overwrite"))
            ).cast("int")
        ).alias("update_ops"),
    )

    # ---- scalar post-compute (all column arithmetic, no driver loops) ----
    # Split into TWO projections (r13 session 2, guide §7.3): shared
    # intermediates (avg_mb, the since-compaction clocks, growth rate)
    # materialize as attributes in a first projection so the banding
    # CASE trees below reference one attribute instead of re-embedding
    # the whole sub-tree up to ~12× — the analyzed plan shrinks by an
    # order of magnitude, which is driver-side build time on every
    # health-suite query. Post-agg cardinality is one row per table, so
    # execution cost is unaffected.
    total_files_e = F.coalesce(F.col("latest_added_files"), F.lit(0))
    agg = agg.withColumns(
        {
            "_total_files": total_files_e,
            "_avg_mb": F.when(
                total_files_e > 0,
                F.col("latest_size_bytes") / total_files_e / F.lit(1024.0 * 1024.0),
            ).otherwise(F.lit(0.0)),
            "_hours_since_comp": F.floor(F.col("last_compaction_age_ms") / F.lit(_MS_HOUR)).cast("double"),
            "_comp_span_days": F.floor(
                (F.unix_millis(F.col("last_compaction_ts")) - F.unix_millis(F.col("first_compaction_ts")))
                / F.lit(_MS_DAY)
            ).cast("double"),
            "_growth_days": F.floor(
                (F.unix_millis(F.col("last_sized_ts")) - F.unix_millis(F.col("first_sized_ts"))) / F.lit(_MS_DAY)
            ).cast("double"),
        }
    )
    n = F.col("n_snapshots")
    last_hour = F.col("snapshots_last_hour")
    last_day = F.col("snapshots_last_day")
    last_week = F.col("snapshots_last_week")

    # A4 — rates (analytics.rs:162-172); day/24 is integer division
    avg_per_hour = F.when(last_week > 0, last_week / F.lit(168.0)).otherwise(F.lit(0.0))
    peak_per_hour = F.greatest(last_hour, F.floor(last_day / F.lit(24)).cast("int"))

    # A5 — compaction metrics (analytics.rs:174-192); chrono truncation
    hours_since_comp = F.col("_hours_since_comp")
    days_since_comp = hours_since_comp / F.lit(24.0)
    avg_comp_freq = F.when(
        F.col("compaction_count") > 1, F.col("_comp_span_days") / (F.col("compaction_count") - 1)
    ).otherwise(F.lit(0.0))

    # A7 — file health from the latest snapshot only (analytics.rs:63-126)
    total_files = F.col("_total_files")
    avg_mb = F.col("_avg_mb")
    fcnt = total_files.cast("double")
    tiny = (
        F.when(avg_mb < TINY_FILE_MB, F.floor(fcnt * 0.7))
        .when(avg_mb < SMALL_FILE_MB, F.floor(fcnt * 0.2))
        .otherwise(F.lit(0))
    )
    small = (
        F.when(avg_mb < TINY_FILE_MB, F.floor(fcnt * 0.3))
        .when(avg_mb < SMALL_FILE_MB, F.floor(fcnt * 0.6))
        .otherwise(F.lit(0))
    )
    optimal = (
        F.when(avg_mb < TINY_FILE_MB, F.lit(0))
        .when(avg_mb < SMALL_FILE_MB, F.floor(fcnt * 0.2))
        .when(avg_mb <= OPTIMAL_FILE_MAX_MB, total_files)
        .otherwise(F.floor(fcnt * 0.7))
    )
    large = F.when(avg_mb > OPTIMAL_FILE_MAX_MB, F.floor(fcnt * 0.3)).otherwise(F.lit(0))
    small_ratio = F.when(total_files > 0, (tiny + small) / fcnt).otherwise(F.lit(0.0))

    # A6 — storage efficiency (analytics.rs:209-276)
    total_size_gb = F.coalesce(F.col("last_sized_gb"), F.lit(0.0))
    growth_days = F.col("_growth_days")
    growth_rate = F.when(
        (F.col("sized_count") > 1) & (growth_days > 0),
        (F.col("last_sized_gb") - F.col("first_sized_gb")) / growth_days,
    ).otherwise(F.lit(0.0))
    delete_ratio = F.when(F.col("ops_with_summary") > 0, F.col("delete_ops") / F.col("ops_with_summary")).otherwise(F.lit(0.0))
    update_ratio = F.when(F.col("ops_with_summary") > 0, F.col("update_ops") / F.col("ops_with_summary")).otherwise(F.lit(0.0))
    freshness_hours = F.floor(F.col("freshness_ms") / F.lit(_MS_HOUR)).cast("double")

    # A8 — overall health score (analytics.rs:290-348); file_count_trend is
    # the parity constant Stable → contributes 0.
    score = (
        F.lit(100.0)
        + F.when(small_ratio > SMALL_RATIO_CRITICAL, F.lit(-30.0))
        .when(small_ratio > SMALL_RATIO_WARNING, F.lit(-15.0))
        .otherwise(F.lit(0.0))
        + F.when(last_hour > FREQ_HOUR_CRITICAL, F.lit(-20.0))
        .when(last_hour > FREQ_HOUR_WARNING, F.lit(-10.0))
        .otherwise(F.lit(0.0))
        + F.when(F.col("last_compaction_ts").isNull(), F.lit(-10.0))
        .when(days_since_comp > COMPACTION_CRITICAL_DAYS, F.lit(-25.0))
        .when(days_since_comp > COMPACTION_WARNING_DAYS, F.lit(-12.0))
        .otherwise(F.lit(0.0))
        + F.when(growth_rate > GROWTH_CRITICAL_GB_DAY, F.lit(-15.0))
        .when(growth_rate > GROWTH_WARNING_GB_DAY, F.lit(-8.0))
        .otherwise(F.lit(0.0))
    )
    score = F.least(F.greatest(score, F.lit(0.0)), F.lit(100.0))

    return agg.select(
        "table_name",
        "n_snapshots",
        "snapshots_last_hour",
        "snapshots_last_day",
        "snapshots_last_week",
        avg_per_hour.alias("avg_snapshots_per_hour"),
        peak_per_hour.alias("peak_snapshots_per_hour"),
        F.col("compaction_count").alias("compactions_last_week"),  # parity: all-time
        hours_since_comp.alias("time_since_last_compaction_hours"),
        days_since_comp.alias("days_since_last_compaction"),
        avg_comp_freq.alias("avg_compaction_frequency_days"),
        F.lit(0.8).alias("compaction_effectiveness"),  # parity constant
        total_files.alias("total_files"),
        (tiny + small).cast("long").alias("small_files_count"),
        avg_mb.alias("avg_file_size_mb"),
        tiny.cast("long").alias("tiny_files"),
        small.cast("long").alias("small_files"),
        optimal.cast("long").alias("optimal_files"),
        large.cast("long").alias("large_files"),
        avg_mb.alias("files_per_partition_avg"),  # parity: mislabeled (analytics.rs:123)
        small_ratio.alias("small_file_ratio"),
        total_size_gb.alias("total_size_gb"),
        growth_rate.alias("storage_growth_rate_gb_per_day"),
        delete_ratio.alias("delete_ratio"),
        update_ratio.alias("update_ratio"),
        freshness_hours.alias("data_freshness_hours"),
        F.lit(0.85).alias("partition_efficiency"),  # parity constant
        F.lit(0).alias("failed_operations"),  # parity (analytics.rs:203)
        # A12 — trend constants (analytics.rs:278-288)
        F.lit("stable").alias("file_count_trend"),
        F.lit("improving").alias("avg_file_size_trend"),
        F.lit("stable").alias("snapshot_frequency_trend"),
        F.lit("degrading").alias("storage_growth_trend"),
        score.alias("health_score"),
    )


def health_band(score: Column | str = "health_score") -> Column:
    """C8 — score → Excellent/Good/Fair/Poor/Critical at 90/75/60/40
    (components.rs:1629-1643)."""
    score = F.col(score) if isinstance(score, str) else score
    return (
        F.when(score >= 90, F.lit("Excellent"))
        .when(score >= 75, F.lit("Good"))
        .when(score >= 60, F.lit("Fair"))
        .when(score >= 40, F.lit("Poor"))
        .otherwise(F.lit("Critical"))
    )


def category_scores(metrics: DataFrame) -> DataFrame:
    """A9 — per-category sub-scores + status banding
    (components.rs:1881-1946). Pure CASE arithmetic over the
    health_metrics frame; each category floors at 0 (no 100 cap: only
    penalties apply)."""
    m = metrics
    file_score = F.greatest(
        F.lit(100.0)
        + F.when(m.small_file_ratio > SMALL_RATIO_CRITICAL, -30.0)
        .when(m.small_file_ratio > SMALL_RATIO_WARNING, -15.0)
        .otherwise(0.0)
        + F.when(m.avg_file_size_mb < TINY_FILE_MB, -10.0).otherwise(0.0),
        F.lit(0.0),
    )
    operational_score = F.greatest(
        F.lit(100.0)
        + F.when(m.snapshots_last_hour > FREQ_HOUR_CRITICAL, -20.0)
        .when(m.snapshots_last_hour > FREQ_HOUR_WARNING, -10.0)
        .otherwise(0.0)
        - m.failed_operations * 5.0,
        F.lit(0.0),
    )
    storage_score = F.greatest(
        F.lit(100.0)
        + F.when(m.storage_growth_rate_gb_per_day > GROWTH_CRITICAL_GB_DAY, -15.0)
        .when(m.storage_growth_rate_gb_per_day > GROWTH_WARNING_GB_DAY, -8.0)
        .otherwise(0.0)
        + F.when(m.data_freshness_hours > 48.0, -10.0)
        .when(m.data_freshness_hours > 24.0, -5.0)
        .otherwise(0.0),
        F.lit(0.0),
    )
    compaction_score = F.greatest(
        F.lit(100.0)
        + F.when(m.days_since_last_compaction.isNull(), -10.0)
        .when(m.days_since_last_compaction > COMPACTION_CRITICAL_DAYS, -25.0)
        .when(m.days_since_last_compaction > COMPACTION_WARNING_DAYS, -12.0)
        .otherwise(0.0),
        F.lit(0.0),
    )
    status = (
        F.when(m.health_score >= 90, "Good")
        .when(m.health_score >= 70, "Warning")
        .otherwise("Critical")
    )
    return m.select(
        "table_name",
        file_score.alias("file_score"),
        operational_score.alias("operational_score"),
        storage_score.alias("storage_score"),
        compaction_score.alias("compaction_score"),
        status.alias("status"),
    )


def alerts(metrics: DataFrame) -> DataFrame:
    """A10 — alert rows from a health_metrics frame (analytics.rs:350-440).

    Parity quirks kept: snapshot-frequency and compaction alerts fire only at
    the *critical* threshold; storage-growth crosses the critical threshold
    but is emitted with Warning severity (analytics.rs:426-437).
    """
    m = metrics
    pct = F.format_string("%.1f", F.col("small_file_ratio") * 100)
    cases = [
        (
            (F.col("small_file_ratio") > SMALL_RATIO_CRITICAL),
            "critical",
            "small_files",
            F.concat(F.lit("Critical small file ratio: "), pct, F.lit(f"% of files are smaller than {SMALL_FILE_MB:.0f}MB")),
            F.col("small_file_ratio"),
            F.lit(SMALL_RATIO_CRITICAL),
        ),
        (
            (F.col("small_file_ratio") > SMALL_RATIO_WARNING) & (F.col("small_file_ratio") <= SMALL_RATIO_CRITICAL),
            "warning",
            "small_files",
            F.concat(F.lit("High small file ratio: "), pct, F.lit(f"% of files are smaller than {SMALL_FILE_MB:.0f}MB")),
            F.col("small_file_ratio"),
            F.lit(SMALL_RATIO_WARNING),
        ),
        (
            F.col("snapshots_last_hour") > FREQ_HOUR_CRITICAL,
            "critical",
            "high_snapshot_frequency",
            F.concat(F.lit("Extremely high snapshot frequency: "), F.col("snapshots_last_hour").cast("string"), F.lit(" snapshots in the last hour")),
            F.col("snapshots_last_hour").cast("double"),
            F.lit(float(FREQ_HOUR_CRITICAL)),
        ),
        (
            F.col("days_since_last_compaction") > COMPACTION_CRITICAL_DAYS,
            "critical",
            "compaction_needed",
            F.concat(F.lit("Table needs compaction: "), F.format_string("%.1f", F.col("days_since_last_compaction")), F.lit(" days since last compaction")),
            F.col("days_since_last_compaction"),
            F.lit(COMPACTION_CRITICAL_DAYS),
        ),
        (
            F.col("storage_growth_rate_gb_per_day") > GROWTH_CRITICAL_GB_DAY,
            "warning",  # parity quirk
            "storage_growth",
            F.concat(F.lit("High storage growth rate: "), F.format_string("%.1f", F.col("storage_growth_rate_gb_per_day")), F.lit(" GB per day")),
            F.col("storage_growth_rate_gb_per_day"),
            F.lit(GROWTH_CRITICAL_GB_DAY),
        ),
    ]
    alert_structs = F.array(
        *[
            F.when(
                cond,
                F.struct(
                    F.lit(sev).alias("severity"),
                    F.lit(cat).alias("category"),
                    msg.alias("message"),
                    val.cast("double").alias("metric_value"),
                    thr.cast("double").alias("threshold"),
                ),
            )
            for cond, sev, cat, msg, val, thr in cases
        ]
    )
    return (
        m.select("table_name", F.explode(F.filter(alert_structs, lambda a: a.isNotNull())).alias("a"))
        .select("table_name", "a.severity", "a.category", "a.message", "a.metric_value", "a.threshold")
    )


def recommendations(alert_rows: DataFrame, metrics: DataFrame) -> DataFrame:
    """A11 — maintenance recommendations from alerts + the (constant)
    degrading storage-growth trend (analytics.rs:442-507)."""
    a = alert_rows
    rec = a.select(
        "table_name",
        F.when(a.category == "small_files", F.when(a.severity == "critical", F.lit("high")).otherwise(F.lit("medium")))
        .when(a.category == "compaction_needed", F.lit("high"))
        .when(a.category == "high_snapshot_frequency", F.lit("medium"))
        .alias("priority"),
        F.when(a.category.isin("small_files", "compaction_needed"), F.lit("compaction"))
        .when(a.category == "high_snapshot_frequency", F.lit("optimization"))
        .alias("action_type"),
        F.when(a.category == "small_files", F.lit("Run table compaction to merge small files into larger, more efficient files"))
        .when(a.category == "compaction_needed", F.lit("Schedule regular compaction job for this table"))
        .when(a.category == "high_snapshot_frequency", F.lit("Review write patterns and consider batching smaller writes"))
        .alias("description"),
        F.when(a.category.isin("small_files"), F.lit("medium"))
        .when(a.category == "compaction_needed", F.lit("medium"))
        .when(a.category == "high_snapshot_frequency", F.lit("low"))
        .alias("effort_level"),
    ).filter(F.col("action_type").isNotNull())
    # storage_growth_trend is the parity constant 'degrading' → every table
    # gets the retention-policy recommendation (analytics.rs:490-504).
    retention = metrics.select(
        "table_name",
        F.lit("low").alias("priority"),
        F.lit("retention_policy").alias("action_type"),
        F.lit("Consider implementing data retention policies to manage storage growth").alias("description"),
        F.lit("high").alias("effort_level"),
    )
    return rec.unionByName(retention)
