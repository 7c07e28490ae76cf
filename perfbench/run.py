"""The repository's benchmark: CDC replication and the registry query mix.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, untraced + traced

Each run starts Spark on ``local[4]`` through the package's ``get_spark``,
generates its inputs from ``--seed``, warms the path up, measures for
``--seconds``, checks every output against an independent oracle and
prints one line per metric (``metric <name> <value> <unit>``), a validity
record, and, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones from a
separate traced run. Everything a run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_results/`` (the
full report) in the current directory. See perfbench/README.md for the
metric definitions and the layer → end-to-end predictions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_backfill", "cdc_stream_steady", "cdc_stream_fanout", "registry_mix")
CPUS = 4
SETUPS = 3
# validity thresholds: a generator more than half a tick late has let the
# schedule slip; a membw/cpu canary ratio this far above its usual 1.6-2.2
# on a quiet 4-vCPU host is the memory-bandwidth degradation mode; with
# this share of the vCPUs' time stolen by other guests, batch times rise
# by a third or more
LATE_LIMIT_FRACTION = 0.5
MEMBW_RATIO_LIMIT = 3.0
STEAL_RATIO_LIMIT = 0.1


def _workload(name: str, work: str, seed: int, smoke: bool):
    import cdc
    import registry

    if name == "cdc_backfill":
        return cdc.Backfill(work, seed, smoke)
    if name == "cdc_stream_steady":
        return cdc.Stream(cdc.STEADY, work, seed, smoke)
    if name == "cdc_stream_fanout":
        return cdc.Stream(cdc.FANOUT, work, seed, smoke)
    return registry.Registry(work, seed, smoke)


def run_one(args) -> int:
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # the package lives at the checkout root; Python workers import it too
    sys.path[:0] = [ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        return _run_in(work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def _run_in(work: str, args) -> int:
    from probes import (
        cpu_times,
        host_canary,
        peak_rss_mb,
        percentile,
        prepare_env,
        start_session,
        stop_jvm,
        tail_percentile,
    )

    prepare_env(work)
    steal0, total0 = cpu_times()
    wl = _workload(args.workload, work, args.seed, args.smoke)
    spark, setups, cold_start = None, [], None
    try:
        # set-up = session start + input generation, repeated; the warm-up
        # pass runs once on the last session
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, start_s = start_session(CPUS, work)
            cold_start = start_s if cold_start is None else cold_start
            t = time.perf_counter()
            wl.generate(args.seconds)
            setups.append(start_s + time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm(spark)
        warm_s = time.perf_counter() - t
        setup_s = median(setups) + warm_s

        if args.trace:
            layers, unit = wl.trace(spark, args.seconds)
        else:
            res = wl.measure(spark, args.seconds)
        steal1, total1 = cpu_times()
        canary = host_canary()
        rss = peak_rss_mb(spark)
        if args.trace and hasattr(wl, "single_thread_eps"):
            spark.stop()
            spark, _ = start_session(1, work)
            layers["baseline.local1_apply_eps"] = wl.single_thread_eps(spark)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    problems = wl.check()
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
    if args.trace:
        c = unit["counters"]
        metrics = {
            "session.start_s": (cold_start, "s"),
            "setup.warmup_s": (warm_s, "s"),
            "unit.wall_ms": (unit["wall_ms"], "ms"),
            "spark.jobs": (c["jobs"], "count"),
            "spark.stages": (c["stages"], "count"),
            "spark.tasks": (c["tasks"], "count"),
            "spark.executor_cpu_ms": (c["executor_cpu_s"] * 1e3, "ms"),
            "spark.shuffle_write_bytes": (c["shuffle_write_bytes"], "bytes"),
            "spark.output_rows": (c["output_rows"], "count"),
            "driver.outside_jobs_ms": (unit["wall_ms"] - c["job_busy_s"] * 1e3, "ms"),
            **{
                f"write.{k}": (v, "ms" if k == "busy_ms" else "count")
                for k, v in unit.get("write", {}).items()
            },
            "trace.overhead_ratio": (unit["overhead_ratio"], "ratio"),
            "host.membw_ratio": (canary["ratio"], "ratio"),
        }
        attempted, failed = unit["units"], len(problems)
        late = layers.get("gen.late_p99_ms")
        report["layers"] = layers
        report["unit_counters"] = c
        for name, v in layers.items():
            print(f"layer {name} {v:.6g}")
    else:
        lat, w = res["latency_ms"], res["latency_weights"]
        tail = tail_percentile(len(lat))
        attempted = res["units"]
        failed = res.get("failed_units", 0) + len(problems)
        metrics = {
            "setup_s": (setup_s, "s"),
            "apply_eps": (res["apply_eps"], "1/s"),
            "visible_p50_ms": (percentile(lat, 50, w), "ms"),
            "visible_p99_ms": (percentile(lat, tail, w), "ms"),
            "peak_rss_mb": (rss, "MB"),
        }
        extra = {
            "sustained_ratio": (res["sustained_ratio"], "ratio"),
            "failure_ratio": (failed / attempted, "ratio"),
            "latency_samples": (res["samples"], "count"),
            "latency_independent_samples": (len(lat), "count"),
            "visible_tail_percentile": (tail, "pct"),
        }
        if "registry_wall_s" in res:
            extra["registry_wall_s"] = (res["registry_wall_s"], "s")
            report["query_median_s"] = res["query_median_s"]
            report["query_warmup_s"] = res["query_warmup_s"]
        for name, (v, u) in extra.items():
            print(f"metric {name} {v:.6g} {u}")
        late = res.get("gen_late_p99_ms")
        report["extra"] = {k: v for k, (v, _) in extra.items()}
        report["latency_ms"] = lat
    steal = (steal1 - steal0) / max(1, total1 - total0)
    validity = {
        "valid": True, "reasons": [], "canary": canary, "gen_late_p99_ms": late, "steal_ratio": steal,
    }
    if late is not None and late > LATE_LIMIT_FRACTION * 1e3 * wl.shape.tick_s:
        validity["reasons"].append("generator schedule slipped")
    if canary["ratio"] > MEMBW_RATIO_LIMIT:
        validity["reasons"].append("host in memory-bandwidth degradation mode")
    if steal > STEAL_RATIO_LIMIT:
        validity["reasons"].append("host gave other guests much of the run's CPU time")
    validity["valid"] = not validity["reasons"]
    report.update(validity=validity, problems=problems, setups_s=setups)
    for name, (v, u) in metrics.items():
        print(f"metric {name} {v:.6g} {u}")
    print("validity " + json.dumps(validity))
    for p in problems:
        print(f"oracle mismatch: {p}")
    report["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out_dir = os.path.join(os.getcwd(), ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not problems else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    results, ok = {}, True
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
            ] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(f"[{name} trace={trace}] {line}")
            if proc.returncode != 0 or not lines:
                ok = False
                print(f"[{name} trace={trace}] failed with exit code {proc.returncode}")
                continue
            results[(name, trace)] = json.loads(lines[-1])
    summary = {
        "correct": ok and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()) or 1,
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{name}.{m}": v for (name, _), r in results.items() for m, v in r["metrics"].items()
        },
    }
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs, lockstep streams")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
