"""Two-parallelism scaling benchmark (north rule: N→4N efficiency ≥0.8).

Runs tools/drain_once.py in fresh subprocesses (one JVM per master
setting) at local[N_SMALL] and local[N_LARGE] on the identical seeded
frontier, reports throughput at both plus scaling efficiency
``eff = (T_large/T_small)/(N_LARGE/N_SMALL)``.

Repeat protocol (the sandbox VM shows 5-18% hypervisor steal time,
which dominates run-to-run variance): ``--repeats R`` (default 3) runs
R interleaved small/large PAIRS — A B A B A B — so a steal-time
episode hits both sides of a pair roughly equally, and the reported
headline is the MEDIAN of the per-pair efficiencies, not the best run.
Prints one JSON line; ``--record`` appends a results block to
BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _arg(name, default):
    return int(sys.argv[sys.argv.index(name) + 1]) if name in sys.argv else default


N_SMALL, N_LARGE = _arg("--small", 8), _arg("--large", 32)


def run(cpus: int, urls: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "drain_once.py"),
         "--cpus", str(cpus), "--urls", str(urls)],
        capture_output=True, text=True, timeout=1800, check=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    urls = _arg("--urls", 50_000)
    repeats = _arg("--repeats", 3)
    pairs = []
    for i in range(repeats):
        small = run(N_SMALL, urls)
        large = run(N_LARGE, urls)
        eff = (large["urls_per_sec"] / small["urls_per_sec"]) / (
            N_LARGE / N_SMALL
        )
        pairs.append(
            {
                "run": i + 1,
                "small_urls_per_sec": small["urls_per_sec"],
                "large_urls_per_sec": large["urls_per_sec"],
                "efficiency": round(eff, 3),
                "small": small,
                "large": large,
            }
        )
        print(
            f"# pair {i + 1}/{repeats}: {small['urls_per_sec']} -> "
            f"{large['urls_per_sec']} URLs/s, eff {round(eff, 3)}",
            file=sys.stderr,
        )
    effs = sorted(p["efficiency"] for p in pairs)
    median_eff = round(statistics.median(effs), 3)
    result = {
        "metric": "frontier_drain_scaling",
        "urls": urls,
        "small_cpus": N_SMALL,
        "large_cpus": N_LARGE,
        "repeats": repeats,
        "per_pair_efficiency": effs,
        "median_efficiency": median_eff,
        "median_large_urls_per_sec": statistics.median(
            p["large_urls_per_sec"] for p in pairs
        ),
        "target": 0.8,
        "pairs": pairs,
    }
    print(json.dumps(result))
    if "--record" in sys.argv:
        rows = "\n".join(
            f"| {p['run']} | {p['small_urls_per_sec']} | "
            f"{p['large_urls_per_sec']} | {p['efficiency']} |"
            for p in pairs
        )
        with open(os.path.join(ROOT, "BASELINE.md"), "a") as fh:
            fh.write(
                "\n## Measured scaling evidence (this round — "
                f"median of {repeats} interleaved pairs)\n\n"
                f"- input: {urls} seeded frontier URLs, identical bytes for "
                f"every run; local[{N_SMALL}] vs local[{N_LARGE}], fresh JVM "
                "per run, pairs interleaved A/B so steal-time episodes hit "
                "both sides\n\n"
                f"| pair | local[{N_SMALL}] URLs/s | local[{N_LARGE}] URLs/s "
                "| efficiency |\n|---|---|---|---|\n"
                f"{rows}\n\n"
                f"- **median efficiency {median_eff}** "
                "(north-rule target ≥0.8)\n"
            )


if __name__ == "__main__":
    main()
