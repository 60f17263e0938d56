"""Golden tests for the health suite on the edge-case fixture
(FIXTURES.md §B scenarios): hand-computed expected values per table,
pinning the reference quirks (analytics.rs) the oracle queries can't
reach — null summaries, junk numerics, inference fallbacks."""

from __future__ import annotations

import pytest

from hielo_spark.analytics.health import alerts, category_scores, health_metrics, recommendations
from hielo_spark.metadata.fixtures import AS_OF, synthetic_snapshots
from hielo_spark.metadata.snapshots import operation_counts


@pytest.fixture(scope="module")
def metrics(spark):
    df = health_metrics(synthetic_snapshots(spark), AS_OF)
    return {r["table_name"]: r.asDict() for r in df.collect()}


def test_single_snapshot_table(metrics):
    m = metrics["single_t"]
    assert m["n_snapshots"] == 1
    # 4 files × 400MB total → avg 100MB → optimal band, no small files
    assert m["total_files"] == 4
    assert m["avg_file_size_mb"] == pytest.approx(100.0)
    assert m["optimal_files"] == 4 and m["tiny_files"] == 0
    assert m["small_file_ratio"] == 0.0
    # no compaction ever → -10 (analytics.rs:324-327); nothing else fires
    assert m["health_score"] == 90.0
    # freshness: 2025-05-30 10:00 → as_of 12:00 +2d = 50h (truncated hours)
    assert m["data_freshness_hours"] == 50.0
    assert m["storage_growth_rate_gb_per_day"] == 0.0  # single sized snapshot


def test_hot_table_frequency_and_small_files(metrics):
    m = metrics["hot_t"]
    # 25 snapshots at 11:00..11:48; strict > (as_of - 1h) excludes 11:00
    assert m["snapshots_last_hour"] == 24
    assert m["snapshots_last_day"] == 25
    assert m["peak_snapshots_per_hour"] == 24  # max(24, 25//24=1)
    # latest: 100 files × 2500MB → avg 25MB → 20/60/20 heuristic band
    assert m["avg_file_size_mb"] == pytest.approx(25.0)
    assert (m["tiny_files"], m["small_files"], m["optimal_files"]) == (20, 60, 20)
    assert m["small_file_ratio"] == pytest.approx(0.8)
    # growth: all sized within 48 min → days=0 → rate 0 (analytics.rs:251)
    assert m["storage_growth_rate_gb_per_day"] == 0.0
    # −30 small files, −20 frequency, −10 no compaction
    assert m["health_score"] == 40.0


def test_steady_table_healthy(metrics):
    m = metrics["steady_t"]
    # rewrite 2 days before as_of → days_since = 2.0, no penalty
    assert m["days_since_last_compaction"] == pytest.approx(2.0)
    assert m["compactions_last_week"] == 1  # parity: all-time count
    # growth (16-2)GB / 59 whole days — under warning threshold
    assert m["storage_growth_rate_gb_per_day"] == pytest.approx(14.0 / 59.0)
    assert m["health_score"] == 100.0


def test_junk_table_unwrap_or_zero_paths(metrics):
    m = metrics["junk_t"]
    # latest snapshot (total-data-files only) → no added-data-files → 0
    assert m["total_files"] == 0
    assert m["avg_file_size_mb"] == 0.0
    assert m["small_file_ratio"] == 0.0  # guard, not 0/0
    # only snapshot 301 has total-size (junk → parses to 0) → 1 sized row
    assert m["storage_growth_rate_gb_per_day"] == 0.0
    assert m["health_score"] == 90.0  # only the no-compaction −10


def test_junk_table_operation_inference(spark):
    # S8 inference chain (iceberg_adapter.rs:169-187) on the junk fixture
    counts = {
        (r["operation"]): r["n"]
        for r in operation_counts(synthetic_snapshots(spark))
        .filter("table_name = 'junk_t'")
        .collect()
    }
    assert counts == {"unknown": 1, "append": 2, "delete": 1, "overwrite": 1}


def test_growth_table_alert_severity_quirk(spark, metrics):
    m = metrics["growth_t"]
    assert m["storage_growth_rate_gb_per_day"] == pytest.approx(600.0)
    assert m["health_score"] == 75.0  # −15 growth, −10 no compaction
    a = alerts(
        health_metrics(synthetic_snapshots(spark), AS_OF)
    ).filter("table_name = 'growth_t'").collect()
    growth_alerts = [r for r in a if r["category"] == "storage_growth"]
    assert len(growth_alerts) == 1
    # parity quirk: crosses the CRITICAL threshold but severity is Warning
    # (analytics.rs:426-437)
    assert growth_alerts[0]["severity"] == "warning"
    assert growth_alerts[0]["metric_value"] == pytest.approx(600.0)


def test_hot_table_alerts_and_recommendations(spark):
    mdf = health_metrics(synthetic_snapshots(spark), AS_OF)
    a = alerts(mdf)
    hot = {r["category"]: r for r in a.filter("table_name = 'hot_t'").collect()}
    assert hot["small_files"]["severity"] == "critical"
    assert hot["high_snapshot_frequency"]["severity"] == "critical"
    assert "24 snapshots in the last hour" in hot["high_snapshot_frequency"]["message"]
    recs = recommendations(a, mdf).filter("table_name = 'hot_t'").collect()
    actions = {r["action_type"] for r in recs}
    # compaction (small files), optimization (frequency), retention (trend
    # constant 'degrading' → every table, analytics.rs:490-504)
    assert actions == {"compaction", "optimization", "retention_policy"}


def test_category_scores(spark):
    s = {
        r["table_name"]: r.asDict()
        for r in category_scores(health_metrics(synthetic_snapshots(spark), AS_OF)).collect()
    }
    hot = s["hot_t"]
    assert hot["file_score"] == 70.0  # −30 ratio; avg 25MB ≥ 16 → no −10
    assert hot["operational_score"] == 80.0
    assert hot["storage_score"] == 100.0  # fresh + no growth
    assert hot["compaction_score"] == 90.0  # no compaction data
    assert hot["status"] == "Critical"  # overall 40 < 70
    assert s["steady_t"]["status"] == "Good"


def test_empty_table_absent(metrics):
    # empty tables simply don't appear (no rows to aggregate) — the
    # caller's contract; reference renders an empty dashboard instead
    assert "empty_t" not in metrics


def test_window_and_truncation_boundaries(spark):
    """The windows are strict (``committed_at > as_of - INTERVAL …``):
    a snapshot exactly 1 h / 1 day / 7 days old is outside its window,
    one 1 µs younger is inside. Hour and day figures truncate like
    chrono's num_hours/num_days."""
    import datetime as dt

    from hielo_spark.io import local_frame
    from hielo_spark.metadata.fixtures import SNAPSHOT_SCHEMA

    now = dt.datetime.fromisoformat(AS_OF)
    us = dt.timedelta(microseconds=1)
    append = {"operation": "append"}
    ages = [
        dt.timedelta(hours=1), dt.timedelta(hours=1) - us,
        dt.timedelta(days=1), dt.timedelta(days=1) - us,
        dt.timedelta(days=7), dt.timedelta(days=7) - us,
    ]
    rows = [("edge_t", i, now - age, "m", 0, append) for i, age in enumerate(ages)]
    rows += [
        ("comp_t", 10, now - dt.timedelta(hours=36), "m", 0,
         {"operation": "rewrite-data-files"}),
        ("comp_t", 11, now - dt.timedelta(minutes=59), "m", 0, append),
    ]
    m = {
        r["table_name"]: r.asDict()
        for r in health_metrics(local_frame(spark, rows, SNAPSHOT_SCHEMA), AS_OF).collect()
    }
    edge = m["edge_t"]
    assert edge["snapshots_last_hour"] == 1
    assert edge["snapshots_last_day"] == 3
    assert edge["snapshots_last_week"] == 5
    # 1 h − 1 µs old: unix_millis truncates the committed instant down,
    # so the millisecond age is a whole hour
    assert edge["data_freshness_hours"] == 1.0
    comp = m["comp_t"]
    assert comp["time_since_last_compaction_hours"] == 36.0
    assert comp["days_since_last_compaction"] == 1.5
    assert comp["data_freshness_hours"] == 0.0


@pytest.mark.parametrize("source", ["driver_held", "scan_rooted"])
def test_malformed_as_of_fails_loudly(spark, sf_dir, source):
    """A malformed ``as_of`` is Spark's cast error by the time the frame
    is collected, whether the snapshots are driver-held or scanned."""
    from pyspark.errors import PySparkException

    from hielo_spark.metadata.fixtures import snapshots_from_orders

    if source == "driver_held":
        snaps = synthetic_snapshots(spark)
    else:
        snaps = snapshots_from_orders(spark, sf_dir)
    with pytest.raises(PySparkException) as err:
        health_metrics(snaps, "not a date").collect()
    assert err.value.getCondition() == "CAST_INVALID_INPUT"
