"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query on sf0.001; ``queries`` exposes every
implemented operator from SURVEY.md §2 (plus the training-data-pipeline
operators) as (spark, sf_dir) -> DataFrame builders; ``oracle_sql``
gives the DuckDB twin for each SQL-expressible one.

The real implementations live in ``omni_crawler_spark/`` — this module
is only the registry façade.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from omni_crawler_spark.analytics import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the end-to-end frontier drain (seeds → canonicalize →
    exact seen anti-join → robots → politeness schedule → batched fetch →
    extract/validate → snapshot commits), SURVEY §3.1/§7."""
    return REGISTRY["crawl_frontier_drain"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None
    }
