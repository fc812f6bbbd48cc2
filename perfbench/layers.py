"""Per-layer table with its tracing overhead.

    python3 perfbench/layers.py --seeds 1,2,3 [--workloads write_read,near_dup]

For each workload, runs ``run.py`` untraced and traced on every seed
(alternating, untraced first), then prints a markdown table: the
per-layer metrics as medians over the traced runs, and the tracing
overhead as traced minus untraced end-to-end medians. End-to-end
figures always come from the untraced runs. The table is also written
to ``.bench_run/layers.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    sys.stderr.write(p.stdout)
    path = os.path.join(ROOT, ".bench_run", "reports",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]

    lines = [f"# Per-layer table ({len(seeds)} seeds, {seconds} s window)", ""]
    for wl in workloads:
        plain, traced = [], []
        for seed in seeds:
            plain.append(one_run(wl, seed, seconds, 0))
            traced.append(one_run(wl, seed, seconds, 1))
        lines += [f"## {wl}", "",
                  f"nproc {plain[0]['nproc']}; load before each run: "
                  + ", ".join(f"{r['load_before'][0]:.2f}" for r in plain + traced), "",
                  "| end-to-end metric | untraced median | traced median | overhead |",
                  "|---|---|---|---|"]
        for name, e in plain[0]["end_to_end"].items():
            a = statistics.median(r["end_to_end"][name]["value"] for r in plain)
            b = statistics.median(r["end_to_end"][name]["value"] for r in traced)
            lines.append(f"| {name} ({e['unit']}) | {a:.3f} | {b:.3f} | {b - a:+.3f} |")
        lines += ["", "| layer metric | traced median |", "|---|---|"]
        for name in traced[0]["layers"]:
            v = statistics.median(r["layers"][name] for r in traced)
            lines.append(f"| {name} | {v:.3f} |")
        lines += ["", "Load-independent counts per op class, one line per seed:", ""]
        for seed, r in zip(seeds, traced):
            lines.append(f"- seed {seed}: `{json.dumps(r['load_independent_counts'])}`")
        lines.append("")
    text = "\n".join(lines)
    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_run", "layers.md"), "w") as f:
        f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
