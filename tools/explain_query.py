"""Dump `explain("formatted")` for registry queries (plan evidence for
plans/r06/<query>_{before,after}.txt).

Usage: python tools/explain_query.py <sf_dir> <out_dir> <suffix> <query ...>
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omni_crawler_spark.analytics import REGISTRY  # noqa: E402
from omni_crawler_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain")
    for name in names:
        q = REGISTRY[name]
        df = q.build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({suffix})\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
