"""Run one benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload cdc_apply --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the engine. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
records spans around the engine's public functions and reports the
per-layer ones instead (and writes the spans under .bench_out/). The line
before it is the run's details: tails, host noise, per-unit logs.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]}, {m["name"]: m["unit"] for m in bench["per_layer"]})


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def prepare(workload: str) -> tuple[str, str, int]:
    """Scratch, Spark local dirs and outputs stay inside the checkout; Spark
    gets exactly the cores this process may run on."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVM's own temp files too; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return work, out_dir, cores


def cleanup(spark, work: str) -> None:
    if spark is not None:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def tail(xs: list[float]) -> dict | None:
    """The highest percentile that has at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return {"pct": pct, "value": statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], "samples": n}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from cdcbench.tracing import SparkLedger, Tracer, cached_rdds, storage_mb
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import greenplum_cdc_spark.session  # noqa: F401
    except ImportError as e:
        print(f"the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    end_to_end, per_layer = metric_units()
    work, out_dir, cores = prepare(args.workload)
    cpu0, load0 = _cpu_times(), _loadavg()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from greenplum_cdc_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"cdcbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        wl.patch()
        t0 = time.perf_counter()
        wl.generate()
        datagen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        wl.measure()
        wl.verify()
        if not wl.op_s:
            print("no operation completed in the measured window", file=sys.stderr)
            return 1
        setup_s = session_s + datagen_s + warmup_s
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(wl.op_s),
            "items_per_s": wl.items / sum(wl.op_s),
            "read_p50_s": statistics.median(wl.read_s),
        }
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _rss_peak_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rt = spark._jvm.java.lang.Runtime.getRuntime()
        cpu1, load1 = _cpu_times(), _loadavg()
        d_cpu = [b - a for a, b in zip(cpu0, cpu1)]
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "end_to_end": e2e,
            "ops_measured": len(wl.op_s),
            "op_tail": tail(wl.op_s),
            "read_tail": tail(wl.read_s),
            "measured_window_s": wl.window_s,
            "setup": {"session.start_s": session_s, "datagen_s": datagen_s, "warmup_s": warmup_s},
            "attempted": wl.attempted,
            "failed": wl.failed,
            "problems": wl.problems,
            "host": {
                "cores_used": cores,
                "cpu_steal_share": d_cpu[7] / max(1, sum(d_cpu)) if len(d_cpu) > 7 else None,
                "loadavg_start": load0,
                "loadavg_end": load1,
                "driver_heap_max_mb": rt.maxMemory() / 2**20,
                "driver_heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
                "peak_rss_mb": peak_rss,
            },
            **wl.details(),
        }
        if args.trace:
            ledger = SparkLedger(spark)
            layers = dict.fromkeys(per_layer, 0.0)
            layers.update(wl.layer_metrics(ledger))
            units = max(1, len(wl.op_s))
            layers.update(
                {
                    "memo.storage_mb": storage_mb(spark),
                    "memo.cached_rdds": float(cached_rdds(spark)),
                    "proc.peak_rss_mb": peak_rss,
                    "spark.jvm_gc_s": wl.gc_s / units,
                    "session.start_s": session_s,
                    "datagen_s": datagen_s,
                    "warmup_s": warmup_s,
                }
            )
            metrics = {k: {"value": float(v), "unit": per_layer[k]} for k, v in layers.items()}
            span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
            tracer.dump(span_file)
            details["span_file"] = os.path.relpath(span_file, ROOT)
        else:
            metrics = {k: {"value": float(v), "unit": end_to_end[k]} for k, v in e2e.items()}
        tracer.unpatch()
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(details, f, indent=1, default=str)
        print(json.dumps(details, default=str))
        print(
            json.dumps(
                {"correct": not wl.problems, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}
            )
        )
        return 0
    finally:
        cleanup(spark, work)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores its closed stdin is killed
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
