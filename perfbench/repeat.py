"""Run the benchmark once per seed and summarize each end-to-end metric.

    python3 perfbench/repeat.py --workload events_etl --seeds 1-10 [--out FILE]

For every metric it prints the median of the runs and the spread, the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound from
BENCHMARK.json. Runs are sequential, from the root of the checkout.
Each run's share of CPU time stolen by the host during its timed window
is copied from the run's record, to tell a slow host from slow code.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out", help="also write the runs and summary as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench_out",
                               f"{args.workload}-seed{seed}-trace0.json")) as f:
            steal = json.load(f)["window_cpu_steal"]
        runs.append({"seed": seed, "window_cpu_steal": steal, **result})
        print(seed, json.dumps(result), flush=True)
    summary = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med,
                              "bound": m["bound"], "unit": m["unit"]}
        print(f"{args.workload} {m['name']}: median {med:.4g} {m['unit']}, "
              f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
    print(f"{args.workload}: {sum(r['failed'] for r in runs)} failed of "
          f"{sum(r['attempted'] for r in runs)} ops; all correct: "
          f"{all(r['correct'] for r in runs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
