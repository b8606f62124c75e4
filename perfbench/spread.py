"""Run the benchmark over several seeds and print each end-to-end metric's
median and quartile spread (inter-quartile distance as a share of the median).

    python3 perfbench/spread.py --workload rgw --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    elapsed = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        elapsed.append(time.perf_counter() - t0)
        result = json.loads(out[-1])
        print(f"[{elapsed[-1]:.0f} s] " + (out[-2] if len(out) > 1 else out[-1]), flush=True)
        if not result["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"run time: median {statistics.median(elapsed):.1f} s, max {max(elapsed):.1f} s")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = stats.quartile_spread(vals) if len(vals) > 1 else 0.0
        flag = "" if spread < bounds[name] / 3 else "  <-- above a third of the bound"
        print(f"{name:16s} median {med:10.4f}  spread {spread:6.3f}  bound {bounds[name]}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
