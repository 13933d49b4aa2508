"""Warehouse benchmark: one command per workload run.

    python3 warehouse_bench/run.py --workload olap_star --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, drives the package's public entry points for about
``--seconds`` seconds, checks every output, prints a readable report
and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
metrics from spans recorded around the package's layers (README.md).

All state lives in a fresh directory under ``.bench_run/`` that is
removed at exit; the run record (and, when traced, the spans) is kept
under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark"


def process_start() -> float:
    """Wall-clock time this process started (from /proc), else now."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(x.split()[1]) for x in fh if x.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_PROCESS = process_start()


def cpu_probe_s() -> float:
    """A fixed single-thread loop; recorded as a diagnostic only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def pin_environment(run_dir: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(2048, physical_mb() // 4)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    # the session's default shuffle partitioning (1 x cores) is measured
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.update(env)
    time.tzset()
    return env


def stop_spark(spark) -> None:
    """Stop the session, then make sure the JVM it launched has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(spec_path):
        print(f"warehouse_bench: no {PKG} package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"warehouse_bench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("warehouse_bench: --seconds must be >= 1", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        env = pin_environment(run_dir)
        # cwd inside the run directory: spark-warehouse/ and the like
        # land there and are removed with it
        os.chdir(run_dir)
        sys.path.insert(0, ROOT)

        import spans
        import workloads
        from importlib import import_module

        session = import_module(f"{PKG}.session")
        tracer = spans.Tracer() if args.trace else None
        t0 = time.time()
        if tracer is not None:
            with tracer.span("session.get_spark"):
                spark = session.get_spark()
        else:
            spark = session.get_spark()
        t_ready = time.time()
        spark.sparkContext.setLogLevel("ERROR")
        probe = cpu_probe_s()
        ctx = workloads.Ctx(args.seed, args.seconds, run_dir, spark, tracer)
        out = workloads.WORKLOADS[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not out.latencies:
        print("warehouse_bench: no operation completed", file=sys.stderr)
        for e in out.errors:
            print("  " + e, file=sys.stderr)
        return 1
    launch_s = t_ready - T_PROCESS
    p50 = statistics.median(out.latencies)
    tail_v, tail_pct = workloads.tail(out.latencies)
    e2e = {
        "setup_s": launch_s + statistics.median(out.setup_reps),
        "latency_p50_s": p50,
        "latency_tail_s": tail_v,
        "throughput_per_s": out.throughput,
        "retained_mb": out.memory_mb["retained"],
    }
    if args.trace:
        layer = dict(out.layer)
        layer["session.get_spark_s"] = t_ready - t0
        cost = spans.span_cost_s()
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.span_cost_s"] = cost
        layer["trace.latency_p50_s"] = p50
        layer["trace.overhead_share"] = len(tracer.spans) * cost / out.info["measured_s"]
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        wanted = spec["per_layer"]
        # a layer the workload bypasses did no work: it reads 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in wanted}

    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpu_probe_s": probe, "environment": env,
        "inputs": out.info, "samples": len(out.latencies),
        "tail_percentile": tail_pct, "setup_reps_s": out.setup_reps,
        "launch_s": launch_s, "memory_mb": out.memory_mb, "errors": out.errors, "end_to_end": e2e,
        "per_layer": out.layer, "result": result,
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# warehouse_bench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} cpus={env['SPARK_GRAFT_CPUS']} "
          f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} cpu_probe_s={probe:.3f}")
    print("# inputs " + " ".join(f"{k}={v}" for k, v in out.info.items()))
    print(f"# samples n={len(out.latencies)} p50 and p{tail_pct:.1f} "
          f"(10 samples beyond); setup reps {['%.2f' % r for r in out.setup_reps]} "
          f"+ launch {launch_s:.2f}s")
    print("# memory_mb " + " ".join(f"{k}={v:.1f}" for k, v in out.memory_mb.items()))
    print("# workload terms: "
          + " ".join(f"{k}={v:.4g}" for k, v in out.aliases.items()))
    print(f"# error_rate = {out.failed}/{out.attempted} = "
          f"{out.failed / max(out.attempted, 1):.4g}")
    for e in out.errors:
        print(f"# error: {e}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(f"# wall_s={time.time() - T_PROCESS:.1f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
