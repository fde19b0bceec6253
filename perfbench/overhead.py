#!/usr/bin/env python3
"""Tracing overhead: the traced run's query time minus the untraced one's.

    python3 perfbench/overhead.py --workload transcripts --seed 42

Runs ``perfbench/run.py`` twice on the same workload and seed, once with
``--trace 0`` and once with ``--trace 1``, and prints one JSON line with
the difference in wall seconds and in CPU seconds. On a shared host the CPU
figure is the steadier one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def query_s(args: list[str]) -> tuple[float, float]:
    """Median query wall and CPU seconds from run.py's detail line (next to
    last)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, check=True,
    )
    samples = json.loads(proc.stdout.strip().splitlines()[-2])["samples"]
    return (
        statistics.median(samples["query_s"]),
        statistics.median(samples["query_cpu_s"]),
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds)]
    plain, plain_cpu = query_s(common + ["--trace", "0"])
    traced, traced_cpu = query_s(common + ["--trace", "1"])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "query_s": plain, "traced_query_s": traced,
        "overhead_s": traced - plain, "overhead_share": (traced - plain) / plain,
        "query_cpu_s": plain_cpu, "traced_query_cpu_s": traced_cpu,
        "overhead_cpu_s": traced_cpu - plain_cpu,
        "overhead_cpu_share": (traced_cpu - plain_cpu) / plain_cpu,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
