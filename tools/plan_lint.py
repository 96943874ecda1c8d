"""Physical-plan lint over the whole query registry.

Asserts the north rule's execution constraints hold for EVERY
registered query plan, mechanically:

- no ``BatchEvalPython`` (row-at-a-time Python UDF — everything
  Python must be Arrow-batched: ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas / FlatMapCoGroupsInPandas);
- no ``CartesianProduct`` (an unbroadcast cross join — every
  non-equi join must carry a broadcastable bounded side, otherwise
  it cannot survive a 100x scale-up).

Usage: python tools/plan_lint.py [sf_dir]
Exit 0 = all plans clean; prints one line per query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FORBIDDEN = ("BatchEvalPython", "CartesianProduct")


def lint(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [bad for bad in FORBIDDEN if bad in plan]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from omni_crawler_spark.analytics import REGISTRY
    from omni_crawler_spark.session import get_spark

    spark = get_spark("plan-lint", cpus=8, shuffle_partitions=8)
    failures = {}
    for name, q in REGISTRY.items():
        try:
            bad = lint(q.build(spark, sf_dir))
        except Exception as exc:  # build failure is a lint failure
            failures[name] = f"build error: {exc}"
            print(f"ERR  {name}: {exc}")
            continue
        if bad:
            failures[name] = bad
            print(f"FAIL {name}: {bad}")
        else:
            print(f"ok   {name}")
    print(f"{len(REGISTRY) - len(failures)}/{len(REGISTRY)} plans clean")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
