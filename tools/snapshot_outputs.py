"""Snapshot (or compare) the exact output rows of registry queries.

Used during optimization rounds to prove a rewritten operator computes
the IDENTICAL result: snapshot before the change, `--compare` after.
Cells are normalized exactly like tools/check_correctness.py (strict
string reprs, order-insensitive sort).

Usage:
    python tools/snapshot_outputs.py <sf_dir> <out.json> [--compare] q...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import normalize  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--compare"]
    compare = "--compare" in sys.argv
    sf_dir, path = args[0], args[1]
    names = args[2:]

    from omni_crawler_spark.analytics import REGISTRY
    from omni_crawler_spark.session import get_spark

    spark = get_spark("snapshot")
    results = {}
    for name in names:
        sdf = REGISTRY[name].build(spark, sf_dir).toPandas()
        results[name] = {
            "cols": sorted(c.lower() for c in sdf.columns),
            "rows": normalize(sdf),
        }
        print(f"ran {name}: {len(sdf)} rows", file=sys.stderr)

    if not compare:
        with open(path, "w") as fh:
            json.dump(results, fh)
        print(f"snapshot written: {path}")
        return 0

    with open(path) as fh:
        base = json.load(fh)
    rc = 0
    for name, cur in results.items():
        ref = base.get(name)
        if ref is None:
            print(f"SKIP {name}: not in snapshot")
            continue
        cur_rows = [list(r) for r in cur["rows"]]
        if ref["cols"] != cur["cols"]:
            print(f"FAIL {name}: cols {ref['cols']} vs {cur['cols']}")
            rc = 1
        elif ref["rows"] != cur_rows:
            diffs = [
                (a, b) for a, b in zip(ref["rows"], cur_rows) if a != b
            ][:3]
            print(
                f"FAIL {name}: rows {len(ref['rows'])} vs {len(cur_rows)}"
                f", first diffs {diffs}"
            )
            rc = 1
        else:
            print(f"ok   {name} ({len(cur_rows)} rows identical)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
