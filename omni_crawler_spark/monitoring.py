"""Host-resource monitoring analog (src/monitoring/system_monitor.py).

The reference runs a psutil thread every 60 s collecting CPU/memory/
disk/network gauges (:42-125) and feeds them to the alert engine
(:116-125). In a Spark deployment most of this is superseded by the
Spark metrics system/UI, but the pipeline-facing part — a metrics
table the alert rules can join — is re-expressed here:

- ``host_snapshot()`` reads /proc + statvfs (stdlib; psutil is not in
  this sandbox) and emits the reference's metric names
  (system_monitor.py:92-103).
- ``snapshot_df`` shapes snapshots into the long (ts, scope, name,
  value) metrics-table form the alert engine evaluates (SURVEY §1.1
  metrics row), one row per gauge.
- ``executor_snapshots`` collects one snapshot per executor via a
  one-row-per-executor ``mapInPandas`` probe — on local mode they all
  see the same host; on a real cluster this is the per-node telemetry
  the reference's single-process monitor cannot produce.
- ``SYSTEM_RULES`` mirror the reference's CPU>80 / memory>85 /
  disk>90 thresholds (alert-rule defaults, alert_engine.py:49-110) in
  the same rules schema as streaming/alerts.py, so
  ``alerts.evaluate(snapshot_df(...), system_rules(spark))`` is the
  full monitoring→alerting loop.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from omni_crawler_spark.session import local_rows
from omni_crawler_spark.streaming.alerts import RULES_SCHEMA

SYSTEM_RULES = [
    ("s1", "high_cpu", "cpu_percent", ">", 80.0, "warning", 5),
    ("s2", "high_memory", "memory_percent", ">", 85.0, "warning", 5),
    ("s3", "disk_pressure", "disk_percent", ">", 90.0, "critical", 15),
]


def system_rules(spark: SparkSession) -> DataFrame:
    return local_rows(spark, SYSTEM_RULES, RULES_SCHEMA)


def _meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.strip().split()[0]) * 1024  # kB → bytes
    return out


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return sum(vals), idle


def host_snapshot(cpu_sample_sec: float = 0.1) -> dict[str, float]:
    """One gauge snapshot with the reference's metric names
    (system_monitor.py:92-103). CPU% from a short /proc/stat delta
    (the psutil.cpu_percent(interval=1) analog, shorter sample)."""
    t0, i0 = _cpu_times()
    time.sleep(cpu_sample_sec)
    t1, i1 = _cpu_times()
    busy = (t1 - t0) - (i1 - i0)
    cpu_percent = round(100.0 * busy / max(1, t1 - t0), 2)
    mem = _meminfo()
    total = mem.get("MemTotal", 1)
    avail = mem.get("MemAvailable", 0)
    used = total - avail
    st = os.statvfs("/")
    disk_total = st.f_blocks * st.f_frsize
    disk_free = st.f_bavail * st.f_frsize
    disk_used = disk_total - disk_free
    return {
        "cpu_percent": cpu_percent,
        "memory_percent": round(100.0 * used / total, 2),
        "memory_used_gb": round(used / 1024**3, 2),
        "memory_total_gb": round(total / 1024**3, 2),
        "disk_percent": round(100.0 * disk_used / max(1, disk_total), 2),
        "disk_used_gb": round(disk_used / 1024**3, 2),
        "disk_total_gb": round(disk_total / 1024**3, 2),
    }


def snapshot_df(
    spark: SparkSession, scope: str = "driver", snapshot: dict | None = None
) -> DataFrame:
    """Long-form (ts, scope, metric, value) rows — the metrics-table
    shape the alert engine joins on (streaming/alerts.py::evaluate)."""
    from datetime import datetime, timezone

    snap = snapshot if snapshot is not None else host_snapshot()
    ts = datetime.now(timezone.utc).replace(tzinfo=None)
    rows = [(ts, scope, k, float(v)) for k, v in snap.items()]
    return local_rows(
        spark, rows, "ts timestamp, scope string, metric string, value double"
    )


def executor_snapshots(spark: SparkSession, n_executors: int = 1) -> DataFrame:
    """One snapshot per executor slot: a 1-row-per-slot probe runs
    host_snapshot() inside mapInPandas. Local mode sees one host; on a
    cluster, this is per-node telemetry keyed by executor host."""
    import pandas as pd

    def probe(batches):
        import socket

        for pdf in batches:
            snaps = []
            for slot in pdf["id"]:
                s = host_snapshot(cpu_sample_sec=0.01)
                s["slot"] = int(slot)
                s["host"] = socket.gethostname()
                snaps.append(s)
            yield pd.DataFrame(snaps)

    base = spark.range(0, n_executors, 1, n_executors)
    schema = (
        "cpu_percent double, memory_percent double, memory_used_gb double, "
        "memory_total_gb double, disk_percent double, disk_used_gb double, "
        "disk_total_gb double, slot long, host string"
    )
    return base.mapInPandas(probe, schema)
