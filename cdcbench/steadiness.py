"""Steadiness check: are the end-to-end medians steady enough for their bounds?

    python3 cdcbench/steadiness.py --runs 10 --sets 2 [--workloads cdc_apply] [--first-seed 100]
    python3 cdcbench/steadiness.py --overhead --runs 3

Reads BENCHMARK.json and runs its command from the root of the checkout.
Default mode: `--sets` sets of `--runs` runs per workload, every run with a
new seed, workloads interleaved so host drift hits them alike. For each
(metric, workload) it prints the median and the spread (interquartile range
over median, as statistics.quantiles(n=4) gives it) of each set against the
metric's bound, and the shift of the last set's median against the first
(positive = worse). It also projects the wall time of the full protocol
(4 + 22 runs per workload).

--overhead runs each seed twice, traced and untraced (alternating which
goes first), and prints the traced-minus-untraced difference of each end-to-end metric; the traced run
reports its own end-to-end figures in its details line.

Results go to .bench_out/steadiness-<time>.json.
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


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(trace)
    ]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "error": p.stderr[-2000:]}
    result, details = json.loads(lines[-1]), json.loads(lines[-2])
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "result": result, "details": details}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    workloads = args.workloads.split(",") if args.workloads else names
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seed = args.first_seed
    runs = []
    n_sets = 1 if args.overhead else args.sets
    for s in range(n_sets):
        for i in range(args.runs):
            for w in workloads:
                # overhead pairs alternate which side runs first, so host drift
                # over the session does not land on one side
                for trace in ((0, 1) if i % 2 == 0 else (1, 0)) if args.overhead else (0,):
                    r = run_once(bench, w, seed, trace)
                    r["set"] = s
                    runs.append(r)
                    status = "error" if "error" in r else f"correct={r['result']['correct']}"
                    print(f"set {s} {w} seed {seed} trace {trace}: {r['wall_s']:.1f} s {status}", flush=True)
                seed += 1
    report: dict = {"runs": runs, "workloads": {}}
    ok = True
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w and "result" in r]
        bad = [r for r in runs if r["workload"] == w and ("error" in r or not r["result"]["correct"])]
        ok &= not bad
        rep = report["workloads"][w] = {
            "failed_runs": len(bad),
            "mean_wall_s": statistics.mean(r["wall_s"] for r in runs if r["workload"] == w),
        }
        print(f"\n{w}: {len(bad)} failed or incorrect runs, mean wall {rep['mean_wall_s']:.1f} s")
        for name, m in metrics.items():
            if args.overhead:
                diffs = []
                for r in mine:
                    base = [x for x in mine if x["seed"] == r["seed"] and x["trace"] == 0]
                    if r["trace"] == 1 and base:
                        diffs.append(r["details"]["end_to_end"][name] - base[0]["result"]["metrics"][name]["value"])
                if diffs:
                    med = statistics.median(diffs)
                    base_med = statistics.median(
                        x["result"]["metrics"][name]["value"] for x in mine if x["trace"] == 0
                    )
                    rep[name] = {"traced_minus_untraced": diffs, "median": med, "share": med / base_med}
                    print(f"  {name:12s} traced - untraced: median {med:+.4f} ({med / base_med:+.1%})")
                continue
            sets = []
            for s in range(n_sets):
                vals = [r["result"]["metrics"][name]["value"] for r in mine if r["set"] == s]
                if len(vals) >= 2:
                    sets.append({"median": statistics.median(vals), "spread": spread(vals), "values": vals})
            rep[name] = {"bound": m["bound"], "sets": sets}
            line = "  ".join(f"median {x['median']:.4g} spread {x['spread']:.3f}" for x in sets)
            flag = ""
            if name != "setup_s":
                worst = max((x["spread"] for x in sets), default=0.0)
                flag += " SPREAD>BOUND" if worst > m["bound"] else (" spread>bound/3" if worst > m["bound"] / 3 else "")
            if len(sets) >= 2:
                a, b = sets[0]["median"], sets[-1]["median"]
                shift = (b - a) / a * (1 if m["better"] == "lower" else -1)
                rep[name]["shift"] = shift
                line += f"  shift {shift:+.3f}"
                flag += " SHIFT>BOUND" if shift > m["bound"] else ""
            ok &= "BOUND" not in flag
            print(f"  {name:12s} bound {m['bound']:.2f}  {line}{flag}")
    walls = [r["wall_s"] for r in runs if r["trace"] == 0]
    if walls and not args.overhead:
        per_workload = statistics.mean(walls)
        projected = (4 + 22 * len(names)) * per_workload
        report["projected_protocol_s"] = projected
        print(f"\nprojected full protocol: {projected:.0f} s at {per_workload:.1f} s per run")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_out", f"steadiness-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
