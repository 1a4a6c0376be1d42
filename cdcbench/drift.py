"""Drift curves: op latency against op index from a cold session, no warm-up.

    python3 cdcbench/drift.py --workload cdc_apply --seconds 120 [--seed 1]

One long run of the workload with its warm-up count set to zero. Every
unit is recorded in order (for cdc_apply each micro-batch after the seed
load; for olap_curation each op of each pass), so the curve shows how many
units the JIT, codegen and Python-worker warm-up take to settle. The
workloads' WARMUP_* constants are chosen from these curves; they are kept
in cdcbench/curves/<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=120.0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from cdcbench.run import cleanup, prepare
    from cdcbench.tracing import Tracer
    from cdcbench.workloads import WORKLOADS
    from greenplum_cdc_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    work, _, cores = prepare(args.workload)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"cdcbench-drift-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = cls(spark, work, args.seed, args.seconds, Tracer(False))
        wl.WARMUP_BATCHES = wl.WARMUP_PASSES = 0  # instance override: measure from the first unit
        wl.generate()
        wl.warm_up()
        wl.measure()
        if hasattr(wl, "batch_log"):
            units = [
                {"index": i, "batch": b["batch"], "latency_s": b.get("latency_s", b["apply_s"]), "read_s": b["read_s"]}
                for i, b in enumerate(wl.batch_log)
            ]
        else:
            units = [
                {"index": i, "pass": p["pass"], "op": name, "latency_s": s}
                for i, (p, (name, s)) in enumerate((p, kv) for p in wl.pass_log for kv in p["ops"].items())
            ]
        curve = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "session_start_s": session_s,
            "units": units,
            "problems": wl.problems,
        }
        os.makedirs(os.path.join(ROOT, "cdcbench", "curves"), exist_ok=True)
        with open(os.path.join(ROOT, "cdcbench", "curves", f"{args.workload}.json"), "w") as f:
            json.dump(curve, f, indent=1)
        for u in units:
            print(json.dumps(u))
        return 0 if not wl.problems else 1
    finally:
        cleanup(spark, work)


if __name__ == "__main__":
    sys.exit(main())
