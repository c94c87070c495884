"""Benchmark entry point.

    python3 melobench/run.py --workload fleet_chain --seed 1 --seconds 1 --trace 0

Run from the repository root. Starts a Spark session with the library
defaults (and a 2 GB driver heap) and builds the workload's inputs from
the seed under ``.melobench/`` (removed afterwards), runs the workload's
warm-up, then runs timed passes until ``--seconds`` have elapsed, at
least one, checking every output. ``BENCHMARK.json`` fixes ``--seconds``
as its ``run_seconds``; at that value a run times exactly one pass: the
first of its session on ``fleet_chain``, the first after one warm-up
request on ``station_requests``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones; the last line of standard output is one JSON object. A trace run
also writes its spans to ``.melobench/results/``. See METHODOLOGY.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".melobench")

DRIVER_MEMORY = "2g"
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "hourly_rows_per_s": "1/s",
    "request_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}
# A run holds at most five requests, so no percentile has ten beyond it
# and the tail is printed as a fixed percentile, not kept as a metric.
TAIL_PERCENTILE = 90


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_library():
    """The library must come from the checkout; without it the run fails
    before starting anything."""
    if not os.path.isfile(os.path.join(ROOT, "melodist_spark", "__init__.py")):
        sys.exit(f"melobench: no melodist_spark package under {ROOT}; run from the repository root")
    sys.path.insert(0, ROOT)
    # Python workers start under the JVM and import the library by path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def spark_session(work: str):
    from melodist_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the inputs are small; under the 8g default the heap grows to about
    # 5 GB of fresh pages, and the resident size then moves with GC timing
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    spark = get_spark(
        app_name="melobench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark):
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the Spark JVM plus every process under it (the Python
    daemon and its workers)."""
    from spans import descendants

    total_kb = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _host(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def timed_passes(wl, work: str, seconds: float) -> list[dict]:
    """Timed passes until ``seconds`` have elapsed, at least one."""
    out, t_end = [], time.perf_counter() + seconds
    while not out or time.perf_counter() < t_end:
        out_dir = os.path.join(work, f"out{len(out)}")
        t0 = time.perf_counter()
        ops = wl.run_pass(out_dir)
        # output checks run inside the pass but are not part of its time
        wall = time.perf_counter() - t0 - sum(o["check_s"] for o in ops)
        shutil.rmtree(out_dir, ignore_errors=True)
        out.append({"wall_s": wall, "ops": ops})
    return out


def end_to_end(setup_s: float, passes: list[dict], latencies: list[float], rss: float) -> dict:
    rows = sum(o["rows"] for p in passes for o in p["ops"])
    vals = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "hourly_rows_per_s": rows / sum(p["wall_s"] for p in passes),
        "request_latency_p50_s": statistics.median(latencies),
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    args = _args(argv)
    import_library()
    import layers
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"melobench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    host = _host(args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = spark_session(work)
        tracer = Tracer(spark, run_id, counters=bool(args.trace))
        cls, scale = workloads.WORKLOADS[args.workload]
        wl = cls(spark, tracer, args.seed, work, scale)
        wl.setup()
        t_inputs = time.perf_counter()
        warmup = wl.warm_up(os.path.join(work, "warmup"))
        setup_s = time.perf_counter() - t0 - sum(o["check_s"] for o in warmup)
        host["setup_phases_s"] = {"inputs": t_inputs - t0, "warmup": setup_s - (t_inputs - t0)}

        tracer.enabled = bool(args.trace)
        passes = timed_passes(wl, work, args.seconds)
        tracer.enabled = False
        tracer.close()
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = warmup + [o for p in passes for o in p["ops"]]
    failed = [o for o in ops if o["error"]]
    host["loadavg_after"] = list(os.getloadavg())
    host["timed_passes"] = len(passes)
    print(f"host: {json.dumps(host)}")
    print("passes: " + " ".join(f"{p['wall_s']:.3f}" for p in passes))
    print("operations: " + " ".join(f"{o['name']}={o['seconds']:.3f}s" for o in ops))
    latencies = wl.request_latencies(passes)
    print(f"request latency p{TAIL_PERCENTILE}: {_percentile(latencies, TAIL_PERCENTILE):.3f} s"
          f" over {len(latencies)} requests")
    print(f"failed_op_share: {len(failed)}/{len(ops)} = {len(failed) / len(ops):.4f}")
    for o in failed:
        print(f"FAILED {o['name']}: {o['error']}", file=sys.stderr)

    if args.trace:
        metrics, extra = layers.per_layer(tracer, passes)
        os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
        with open(os.path.join(WORK_ROOT, "results", f"{run_id}.json"), "w") as f:
            json.dump({"host": host, "spans": tracer.spans, **extra}, f, indent=1)
        print(f"tracing overhead: {metrics['trace.overhead_s']['value']:.3f} s per pass")
    else:
        metrics = end_to_end(setup_s, passes, latencies, rss)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
