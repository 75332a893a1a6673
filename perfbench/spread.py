"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload crawl_wide --seeds 1 2 3 4 5

Run from the root of a source checkout. Runs ``perfbench/run.py`` once per
seed (``run_seconds`` from BENCHMARK.json, tracing off) and prints, for each
end-to-end metric, the median, the interquartile distance as a share of the
median (quartiles as ``statistics.quantiles(values, n=4)`` gives them) and
the metric's bound. Exits 1 if a run fails its output checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    values: dict = {}
    ok = True
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        info, result = json.loads(out[-2]), json.loads(out[-1])
        ok &= result["correct"]
        print(f"seed {seed}: correct={result['correct']} steal={info['steal_share']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()))
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{m['name']:>20} median {med:.4g} {m['unit']:<6} spread {spread:.3f}"
              f"  bound {m['bound']}  n={len(vals)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
