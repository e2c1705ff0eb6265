"""Scaling baseline: ``crawl_encode_sketch`` at ``local[1]`` and at
``local[N]`` (N = the CPUs this process may use) on one seed.

Reported only; it is not one of the benchmark's gated workloads.  Run from
the root of a source checkout:

    python3 perfbench/scaling.py --seed 1 --out perfbench/BASELINE_SCALING.json

It runs ``perfbench/run.py`` once per slot count and records both
throughputs and the 1 -> N scaling efficiency, ``(r_N / r_1) / N``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
WORKLOAD = "crawl_encode_sketch"


def throughput(seed: int, cpus: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", WORKLOAD, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0", "--cpus", str(cpus)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=900,
    ).stdout.splitlines()[-1]
    result = json.loads(out)
    if not result["correct"]:
        raise SystemExit(f"local[{cpus}] run failed its output checks")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()

    n = len(os.sched_getaffinity(0))
    one, many = throughput(args.seed, 1, args.seconds), throughput(args.seed, n, args.seconds)
    speedup = many["records_per_s"] / one["records_per_s"]
    record = {
        "workload": WORKLOAD,
        "seed": args.seed,
        "hardware": f"{n} CPUs, {platform.machine()}, "
                    f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') / 2**30:.0f} GiB",
        "records_per_s": {"local[1]": one["records_per_s"], f"local[{n}]": many["records_per_s"]},
        "speedup": speedup,
        "efficiency": speedup / n,
    }
    args.out.write_text(json.dumps(record, indent=2) + "\n")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
