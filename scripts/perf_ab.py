"""Compare the working tree with a git revision on the benchmark.

    python3 scripts/perf_ab.py [--rev HEAD] [--seeds 1-5] [--rounds 2]

Exports ``--rev`` with ``git archive`` to a temporary directory, then
runs ``perfbench/run.py`` (untraced, at BENCHMARK.json's run length) in
that export and in the working tree, one pair of runs per workload in
BENCHMARK.json, seed and round, and prints each pair as one JSON line.
Odd rounds run the revision first, even rounds the working tree first,
so neither side always runs on a warmer host. The defaults give ten
pairs per workload, the fewest a gain claim rests on.

For each workload and end-to-end metric it prints each side's median
and quartiles, the ratio of the medians, the change's pair wins (ties
count for neither side) and the revision's own quartile distance, the
spread a gain must exceed. It also prints any run that was not correct
or failed an op. Each side runs the benchmark code of its own
checkout; compare revisions that share ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from repeat import seeds  # noqa: E402


def export(rev: str, dest: str) -> None:
    """The files of ``rev``, as committed, under ``dest``."""
    archive = os.path.join(dest, "rev.tar")
    subprocess.run(["git", "archive", "--format=tar", "-o", archive, rev],
                   cwd=ROOT, check=True)
    with tarfile.open(archive) as tar:
        tar.extractall(dest, filter="data")
    os.remove(archive)


def run(checkout: str, spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} failed in {checkout}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(spec: dict, workload: str, pairs: list[dict]) -> None:
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["rev"]["metrics"][name]["value"] for p in pairs]
        b = [p["tree"]["metrics"][name]["value"] for p in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        print(f"{workload} {name} ({m['unit']}, {m['better']} is better, "
              f"bound {m['bound']}): rev {a1:.4g}/{am:.4g}/{a3:.4g}, "
              f"tree {b1:.4g}/{bm:.4g}/{b3:.4g} (q1/median/q3); "
              f"rev/tree {am / bm if bm else float('nan'):.3f}; tree wins "
              f"{wins}/{len(pairs)}; rev IQR {a3 - a1:.4g}")
    for p in pairs:
        for side in ("rev", "tree"):
            r = p[side]
            if not r["correct"] or r["failed"]:
                print(f"{workload} seed {p['seed']} {side}: correct "
                      f"{r['correct']}, failed {r['failed']}/{r['attempted']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-5"))
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    pairs: dict[str, list[dict]] = {w: [] for w in names}
    with tempfile.TemporaryDirectory(prefix="perf_ab_") as tmp:
        export(args.rev, tmp)
        sides = {"rev": tmp, "tree": ROOT}
        for rnd in range(1, args.rounds + 1):
            order = ["rev", "tree"] if rnd % 2 else ["tree", "rev"]
            for workload in names:
                for seed in args.seeds:
                    pair = {"round": rnd, "seed": seed}
                    for side in order:
                        pair[side] = run(sides[side], spec, workload, seed)
                    pairs[workload].append(pair)
                    print(json.dumps({"workload": workload, "round": rnd,
                                      "seed": seed, "first": order[0],
                                      **{s: {k: v["value"] for k, v in
                                             pair[s]["metrics"].items()}
                                         for s in order}}), flush=True)
    for w, p in pairs.items():
        summarize(spec, w, p)
    return 0


if __name__ == "__main__":
    sys.exit(main())
