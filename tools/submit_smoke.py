"""spark-submit smoke job: one small frontier drain, one JSON line.

This script deliberately does NOT touch sys.path: when launched as

    spark-submit --master local[N] --py-files omni_crawler_spark.zip \
        tools/submit_smoke.py --urls 5000

the ``omni_crawler_spark`` package must resolve from the ``--py-files``
zip exactly as it would on a real multi-executor cluster (the north
rule's deployment mode). tests/test_submit.py builds the zip, runs
this under spark-submit from a neutral working directory (so the repo
root is not implicitly importable), and checks the JSON — evidence
that the engine is a self-contained submittable artifact, not a
works-from-the-repo-checkout script.
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=5_000)
    ap.add_argument("--cycles", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    # master comes from spark-submit, not from here (proves no
    # local-only builder config is load-bearing for the job)
    spark = SparkSession.builder.appName("ocs-submit-smoke").getOrCreate()
    warehouse = tempfile.mkdtemp(prefix="ocs_submit_")
    try:
        engine = CrawlEngine(warehouse, cycle_budget_ms=10**9)
        engine.bootstrap(
            generate_seeds(spark, args.urls), generate_hosts(spark)
        )
        attempted = validated = 0
        for c in range(1, args.cycles + 1):
            stats = engine.run_cycle(spark, c)
            attempted += stats["n_scheduled"]
            validated += stats["n_stored"]
        print(
            json.dumps(
                {
                    "ok": True,
                    "urls": args.urls,
                    "cycles": args.cycles,
                    "attempted": attempted,
                    "validated": validated,
                    "pkg": __import__("omni_crawler_spark").__file__,
                }
            )
        )
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
