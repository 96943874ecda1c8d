"""Loaders for the driver-generated parquet tables.

The sandbox test tables (TESTDATA.md) are plain parquet files; reading
them with ``spark.read.parquet`` keeps predicate pushdown + column
pruning (Catalyst pushes filters/projections into the parquet scan, so
a 2-column aggregate only reads 2 columns). At production scale these
would be Iceberg/lakehouse tables — same DataFrame code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
