"""Local mimic of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, sorted schema, and an
order-insensitive value digest built from strict string reprs of every
cell. Strict on purpose: if this passes, the driver's value-hash
should pass too.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, (list, tuple)) or (
            hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0
        ):  # array cell (Spark list vs numpy array)
            return "[" + ",".join(cell(x) for x in v) + "]"
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
            if isinstance(v, float):
                return repr(v)
        return str(v)

    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from omni_crawler_spark.analytics import REGISTRY
    from omni_crawler_spark.analytics.tables import TABLE_NAMES
    from omni_crawler_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.build(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(c.lower() for c in sdf.columns) != sorted(
            c.lower() for c in odf.columns
        ):
            problems.append(
                f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
        if not problems:
            a, b = normalize(sdf), normalize(odf)
            if a != b:
                diff = [
                    (x, y) for x, y in zip(a, b) if x != y
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    n_run = len([n for n in REGISTRY if not only or n in only])
    print(f"\n{n_run - len(failures)}/{n_run} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
