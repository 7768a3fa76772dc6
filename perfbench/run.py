"""Benchmark entry point.

    python3 perfbench/run.py --workload jaffle_dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The program under test
is the ``jaffle_shop_classic_spark`` package in that checkout; everything
the run writes (inputs, warehouse, Spark scratch, event log, trace) goes
under ``.perfbench_work/`` there and the per-run directory is removed at
the end (the trace JSON is kept beside it). The Spark session comes from
``get_spark()`` defaults, exactly as the CLI gets it; the traced run only
adds event-log confs through ``PYSPARK_SUBMIT_ARGS``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced). The line before it, prefixed ``report``,
holds the workload's own metrics (dag_s, stored_bytes_per_input_byte,
mix_s, query_p50_s, query_tail_s, marts_vs_duckdb, error_rate,
host_steal_share) with units, and in the traced run every per-layer
figure.
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

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "jaffle_shop_classic_spark"
WORKLOADS = ("jaffle_dag", "catalog_mix")
# (name, unit, better) of the end-to-end metrics, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cold_s", "s", "lower"),
    ("iter_s", "s", "lower"),
)


def since_process_start() -> float:
    """Seconds since this process was started. The start time in
    /proc/self/stat counts clock ticks since boot, so it is compared with
    CLOCK_BOOTTIME, the same clock."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def median_and_tail(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it, with n. Up to 20 samples that percentile is not above the
    median, so no tail is given (``tail`` is None; ``max`` is)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"median": statistics.median(xs), "tail": None, "tail_pct": None, "max": xs[-1], "n": n}
    if n > 20:
        out["tail"], out["tail_pct"] = xs[n - 11], 100.0 * (n - 10) / n
    return out


def setup_program(root: str):
    """Import the program, start its session and load its catalog."""
    sys.path.insert(0, root)
    t0 = time.time()
    from jaffle_shop_classic_spark.session import get_spark

    spark = get_spark()
    t1 = time.time()
    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    load_catalog()
    return spark, t1 - t0, time.time() - t1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit (Python workers are the JVM's children)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Environment for the JVM and Python workers, set before either
    starts: workers import the program from the checkout, and Spark and
    Python scratch space stays inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )


def end_to_end(res, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "cold_s": res.cold_s,
        "iter_s": statistics.median(res.iter_s),
    }
    return {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}


def report(res, workload: str) -> dict:
    """The workload's own metrics, by the names the design uses."""
    out = {}
    for name, (unit, better, value) in res.report.items():
        if isinstance(value, list):
            value = statistics.median(value)
        out[name] = {"value": value, "unit": unit, "better": better}
    by_op: dict[str, list[float]] = {}
    for name, dt in res.ops:
        by_op.setdefault(name, []).append(dt)
    out["op_median_s"] = {name: statistics.median(v) for name, v in sorted(by_op.items())}
    if workload == "catalog_mix":
        q = median_and_tail([dt for _, dt in res.ops])
        out["query_tail_s"] = {
            "value": q["tail"], "unit": "s", "better": "lower",
            "percentile": q["tail_pct"], "n": q["n"], "max": q["max"],
        }
    out["error_rate"] = {
        "value": (res.failed + sum(not ok for _, ok, _ in res.gates)) / res.attempted,
        "unit": "ratio", "better": "lower",
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, work, bool(args.trace))
    os.chdir(work)  # spark-warehouse and other cwd-relative files land here

    sys.path.insert(0, HERE)
    import tracing

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    spark = None
    try:
        spark, get_spark_s, catalog_s = setup_program(root)
        setup_s = since_process_start()
        import layers  # the benchmark's own imports stay out of setup_s
        import workloads

        cores = spark.sparkContext.defaultParallelism
        if args.trace:
            tracer.attach(spark)
            layers.instrument(tracer)
        t_work, ticks = time.perf_counter(), cpu_ticks()
        res = workloads.WORKLOADS[args.workload](
            workloads.Context(spark, args.seed, args.seconds, work, tracer)
        )
        t_done = time.perf_counter()
        # share of the machine's CPU time the hypervisor gave to others
        # while the workload ran: figures move with it, so it is reported
        spent = [b - a for a, b in zip(ticks, cpu_ticks())]
        print(f"perfbench: inputs and iterations {res.measured_at - t_work:.1f} s "
              f"(cold {res.cold_s:.2f} s, warm {' '.join(f'{t:.2f}' for t in res.iter_s)}), "
              f"gate {t_done - res.measured_at:.1f} s", file=sys.stderr)
        rep = report(res, args.workload)
        rep["host_steal_share"] = {"value": spent[7] / max(sum(spent), 1), "unit": "ratio"}
        rss = layers.jvm_peak_rss_mb(spark)
        stop_spark(spark)  # also flushes and closes the event log
        spark = None
        if args.trace:
            metrics, rep["layers"] = layers.per_layer(
                tracer, work, cores, res, get_spark_s, catalog_s, rss
            )
            with open(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"spans": tracer.spans, "layers": rep["layers"]}, fh)
        else:
            metrics = end_to_end(res, setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in res.gates:
        print(f"gate {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
    failed_gates = sum(not ok for _, ok, _ in res.gates)
    print("report " + json.dumps({"workload": args.workload, "seed": args.seed,
                                  "inputs": res.inputs, "metrics": rep}))
    print(json.dumps({
        "correct": failed_gates == 0 and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed + failed_gates,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
