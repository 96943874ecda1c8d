"""Resource-monitoring analog: gauge sanity, metrics-table shaping,
alert-rule integration, per-executor probe."""

from __future__ import annotations

from omni_crawler_spark import monitoring as M
from omni_crawler_spark.streaming import alerts as A


def test_host_snapshot_gauges_sane():
    s = M.host_snapshot()
    assert set(s) == {
        "cpu_percent", "memory_percent", "memory_used_gb", "memory_total_gb",
        "disk_percent", "disk_used_gb", "disk_total_gb",
    }
    assert 0 <= s["cpu_percent"] <= 100
    assert 0 < s["memory_percent"] < 100
    assert 0 <= s["disk_percent"] <= 100
    assert s["memory_used_gb"] <= s["memory_total_gb"]


def test_snapshot_feeds_alert_engine(spark):
    # a synthetic snapshot over every threshold must fire all 3 rules
    hot = {"cpu_percent": 99.0, "memory_percent": 99.0, "disk_percent": 99.0}
    metrics = M.snapshot_df(spark, snapshot=hot)
    fired = A.evaluate(metrics, M.system_rules(spark))
    assert {r.rule_id for r in fired.collect()} == {"s1", "s2", "s3"}
    # and a cold snapshot fires none
    cold = {"cpu_percent": 1.0, "memory_percent": 10.0, "disk_percent": 5.0}
    assert A.evaluate(
        M.snapshot_df(spark, snapshot=cold), M.system_rules(spark)
    ).count() == 0


def test_executor_snapshots_probe(spark):
    df = M.executor_snapshots(spark, n_executors=4)
    rows = df.collect()
    assert len(rows) == 4
    assert all(0 <= r.cpu_percent <= 100 for r in rows)
    assert all(r.host for r in rows)


def test_snapshot_ts_is_utc_wall_time_off_utc(spark, monkeypatch):
    """``ts`` is the snapshot's UTC wall time whatever the process
    time zone: a naive UTC datetime must not be shifted by it."""
    import time

    from pyspark.sql import functions as F

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        before = int(time.time())
        df = M.snapshot_df(spark, snapshot={"cpu_percent": 1.0})
        epoch = df.select(F.unix_timestamp("ts").alias("s")).first().s
        after = int(time.time()) + 1
    finally:
        monkeypatch.undo()
        time.tzset()
    assert before <= epoch <= after
