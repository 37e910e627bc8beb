"""Benchmark of the Bayesian BM25 engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {build,search_wide}
        --seed N --seconds S --trace {0,1}

Run from the repository root: the library is imported from there. The
load generator is one process on local[4] with one call in flight
(closed loop), calling the library's public API as a user does. It sets
the workload up SETUP_REPS times, then runs ops until their summed time
reaches --seconds, then checks the answers untimed.

--trace 0 prints the end-to-end metrics; --trace 1 also writes a Spark
event log, runs one forced call into every layer (layers.py) and the
same loop under spans, and prints the per-layer metrics. The last line
of stdout is the result as JSON; everything else goes before it or to
stderr. --corrupt 1 alters one checked answer, to show the gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3
CORES = 4


def start_spark(work: str, trace: bool):
    from bayesian_bm25_js_spark.session import get_spark

    # The heap starts at its full size: a JVM that grows its heap as it
    # goes ends a run anywhere between 1.6 and 2.1 GB resident, which
    # peak_rss_bytes would report as noise.
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.log.level": "ERROR",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    # one shuffle partition per core: every stage runs in one wave, which
    # made op times steadier between runs than two waves of eight
    return get_spark(
        master=f"local[{CORES}]", shuffle_partitions=CORES,
        app_name="perfbench", extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(wl, seconds: float, tr, sysmon) -> dict:
    """Run ops until their summed time reaches `seconds`. Rates are
    medians over the ops that succeeded, so one slow op moves them no
    more than it moves the median op time."""
    times, rates, cpu_per_item, failed = [], [], [], 0
    while sum(times) < seconds or not times:
        c0 = sysmon.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                n = wl.op(len(times))
        except Exception:
            traceback.print_exc()
            failed += 1
            n = 0
        times.append(time.perf_counter() - t0)
        if n:
            rates.append(n / times[-1])
            cpu_per_item.append((sysmon.tree_cpu_s() - c0) / n)
            wl.after_op()
    return {
        "ops": len(times), "times": times, "failed": failed,
        "items_per_s": statistics.median(rates) if rates else 0.0,
        "cpu_s_per_item": statistics.median(cpu_per_item) if rates else 0.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bayesian_bm25_js_spark", "__init__.py")):
        print("perfbench: run from the repository root (library not found)", file=sys.stderr)
        return 2
    # everything the run writes stays under the checkout
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


def run(args, work: str) -> int:
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    import sysmon
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    info = {"load_average": sysmon.load_average(),
            "other_benchmarks": sysmon.other_benchmarks()}

    spark = start_spark(work, bool(args.trace))
    try:
        tr = spans.Tracer(spark.sparkContext, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, work, bool(args.corrupt))
        counts = {}
        if args.trace:
            from layers import layer_pass

            counts = layer_pass(wl, tr)
        setup = []
        # a traced run reports no set-up time, so it sets up once
        for rep in range(1 if args.trace else SETUP_REPS):
            if rep:
                wl.teardown()
            t0 = time.perf_counter()
            wl.setup()
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        info["warm_s"] = time.perf_counter() - t0
        steal0 = sysmon.steal_s()
        loop = run_loop(wl, args.seconds, tr, sysmon)
        info["loop_steal_s"] = sysmon.steal_s() - steal0
        info["peak_rss_by_process"] = sysmon.tree_peak_rss_by_process()
        peak_rss = sum(info["peak_rss_by_process"].values())
        try:
            checks, mismatches = wl.gate()
        except Exception:
            traceback.print_exc()
            checks, mismatches = 1, 1
    finally:
        stop_spark(spark)

    info.update({
        "setup_s": setup, "op_s": loop["times"],
        "gate_checks": checks, "gate_mismatches": mismatches,
        "routes": [d for d, _ in wl.routes],
    })
    if args.trace:
        from layers import metrics as layer_metrics

        spans.attribute(tr, os.path.join(work, "events"))
        metrics = layer_metrics(tr, counts, wl, loop)
    else:
        metrics = {
            "setup_s": statistics.median(setup),
            "items_per_s": loop["items_per_s"],
            "op_p50_s": statistics.median(loop["times"]),
            "cpu_s_per_item": loop["cpu_s_per_item"],
            "peak_rss_bytes": peak_rss,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print("perfbench info: " + json.dumps(info), flush=True)
    failed = loop["failed"] + mismatches
    result = {
        "correct": failed == 0,
        "attempted": loop["ops"] + checks,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
