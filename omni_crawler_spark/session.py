"""SparkSession factory.

One place to encode the configuration we would ship to a real
1000-executor cluster, scaled down to ``local[N]`` for the sandbox:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every pandas UDF crosses the JVM/Python boundary in
  columnar batches, never row-at-a-time),
- shuffle partitions sized to the local core count (on a cluster this
  would be ~2-3x total cores; AQE coalesces down after),
- small broadcast threshold kept at default so dimension tables
  (region/nation/hosts/rules) broadcast automatically,
- one partition count for CPU-bound stages: ``spread``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEMORY_GB = 24


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half the host's RAM in whole GiB
    (at least 1g), capped at 24g. In local mode all tasks share the
    driver heap; a heap larger than the host would be killed, not
    collected. The half-of-RAM fraction is unmeasured: it leaves the
    rest to the Python workers and off-heap buffers, but no run has
    timed the default ``local[DEFAULT_CPUS]`` session with it."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, int(ram_gb / 2)))}g"


def get_spark(
    app_name: str = "omni-crawler-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` maps to ``local[cpus]`` in the sandbox; on a real cluster
    the same code runs unchanged under ``spark-submit --py-files``
    (master comes from the environment, not from here).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES; on this
        # engine's text tables a few compressed MB routinely fan out
        # to 10^5-10^6 rows of CPU-heavy downstream work (interpreted
        # HOFs, Arrow kernels), so the default 1m floor under-splits
        # CPU-bound stages to 2-5 tasks. 256k keeps small-byte/high-
        # CPU stages parallel while leaving real (100MB+) shuffles
        # untouched — at cluster scale partitions are far above any
        # floor, so this knob only matters where it helps; override
        # via SPARK_GRAFT_MIN_PARTITION_SIZE for cluster profiles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic session timezone so timestamp-derived results
        # are identical across runs/hosts (and match the DuckDB oracle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        # zstd halves written bytes vs snappy on text-heavy tables; the
        # extra compression CPU parallelizes, the saved disk time doesn't
        # have to be paid serially by every writer
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df: DataFrame, *cols) -> DataFrame:
    """``df`` repartitioned to the cluster's core count, hashed on
    ``cols`` (round-robin when none): the engine's one parallelism
    policy, applied with ``df.transform(spread, ...)`` before CPU-bound
    work. Two reasons: a single-row-group parquet scan is ONE task and
    would run the whole downstream stage on one core, and the explicit
    partition count keeps AQE from coalescing a CPU-bound stage by its
    (small) shuffle BYTES onto a couple of tasks."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)
