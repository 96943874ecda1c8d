"""Alert engine analog (src/alerts/alert_engine.py).

The reference evaluates 5 default rules against a metrics dict every
cycle (:112-140), with a per-rule cooldown gate (:120-124) and a
recent-100 alert ring buffer (:224-226). Spark mapping (SURVEY J4/T3):

- rules = a tiny static DataFrame → broadcast join against the
  metrics stream on metric name (no crossJoin: the rule's metric
  field IS the join key);
- condition evaluation = one ``when()`` chain over the 6 comparison
  operators — pure columns;
- cooldown = two flavors:
  * ``cooldown_bucket`` — first alert per (rule, cooldown-aligned
    time bucket): pure window function, SQL-expressible, scalable,
    slightly stricter than the reference (a fire at bucket edge
    suppresses into the next bucket only);
  * ``cooldown_greedy`` — the reference's exact last_triggered
    semantics, sequential per rule → ``applyInPandas`` keyed by
    rule_id (state is executor-local; #rules is small so this is
    never the bottleneck). Verified against a pure-Python replay in
    tests/test_alerts.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from omni_crawler_spark.session import local_rows

# mirrors the five defaults (alert_engine.py:49-110), retargeted at the
# synthetic events stream's event_type/value space
DEFAULT_RULES = [
    # (rule_id, name, metric, condition, threshold, severity, cooldown_minutes)
    ("r1", "high_error_value", "error", ">", 90.0, "critical", 30),
    ("r2", "purchase_spike", "purchase", ">=", 95.0, "warning", 60),
    ("r3", "low_signup_value", "signup", "<", 5.0, "warning", 60),
    ("r4", "view_floor", "view", "<=", 2.0, "info", 120),
    ("r5", "click_exact", "click", ">", 99.0, "info", 30),
]

RULES_SCHEMA = (
    "rule_id string, name string, metric string, condition string, "
    "threshold double, severity string, cooldown_minutes int"
)


def default_rules(spark: SparkSession) -> DataFrame:
    return local_rows(spark, DEFAULT_RULES, RULES_SCHEMA)


def _condition_holds(value, cond, threshold):
    return (
        F.when(cond == ">", value > threshold)
        .when(cond == ">=", value >= threshold)
        .when(cond == "<", value < threshold)
        .when(cond == "<=", value <= threshold)
        .when(cond == "==", value == threshold)
        .when(cond == "!=", value != threshold)
        .otherwise(F.lit(False))
    )


def evaluate(metrics: DataFrame, rules: DataFrame) -> DataFrame:
    """metrics(ts, metric, value) ⋈ rules on metric name → triggered
    alert candidates. Rules broadcast (tiny dim)."""
    joined = metrics.join(F.broadcast(rules), metrics.metric == rules.metric)
    return joined.filter(
        _condition_holds(F.col("value"), F.col("condition"), F.col("threshold"))
    ).select(
        "rule_id", "name", "severity", "ts", "value", "threshold",
        "cooldown_minutes", rules.metric.alias("metric"),
    )


def cooldown_bucket(alerts: DataFrame) -> DataFrame:
    """First alert per (rule, cooldown-aligned bucket) — pure window
    fn, no Python, SQL-oracle-checkable."""
    bucket = F.floor(
        F.unix_timestamp("ts") / (F.col("cooldown_minutes") * 60)
    ).alias("bucket")
    w = Window.partitionBy("rule_id", bucket).orderBy("ts", "value")
    return (
        alerts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def cooldown_greedy(alerts: DataFrame) -> DataFrame:
    """Reference-exact cooldown: fire iff ts >= last_fired + cooldown
    (alert_engine.py:120-124), replayed in order per rule."""
    schema = StructType(
        [f for f in alerts.schema.fields if f.name in
         ("rule_id", "name", "severity", "ts", "value", "metric")]
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        cooldown = pd.Timedelta(minutes=int(pdf["cooldown_minutes"].iloc[0]))
        fired, last = [], None
        for r in pdf.itertuples(index=False):
            if last is None or r.ts >= last + cooldown:
                fired.append(r)
                last = r.ts
        out = pd.DataFrame(fired, columns=pdf.columns)
        return out[[f.name for f in schema.fields]]

    return alerts.groupBy("rule_id").applyInPandas(replay, schema)
