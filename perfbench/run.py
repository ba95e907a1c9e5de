"""Run one benchmark workload with one seed and print its metrics.

    python3 perfbench/run.py --workload jobs_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
under ``.perfbench_work/`` before any timing, pins the Spark
environment (``pinned_env``), times one cold session set-up, runs the
workload for ``--seconds`` and checks its outputs.
Every metric is printed as ``name value unit`` on its own line; the last
line is one JSON object with the end-to-end metrics (``--trace 0``) or
the per-layer metrics of a traced run (``--trace 1``), as listed in
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result_metrics(trace: int) -> dict[str, str]:
    """Names and units of the metrics in the result line, as declared
    in BENCHMARK.json: the end-to-end ones, or the per-layer ones of a
    traced run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def pinned_env(work: str) -> dict[str, str]:
    """The run environment: every core, scratch space and temporary
    files inside the checkout, a driver heap that fits a 15 GB host
    (2 GB holds every workload; with 3 GB the JVM's peak RSS varied
    about twice as much from run to run), and the repository root on
    the path of Spark's Python workers."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def start_session():
    """``session.get_spark`` until a first trivial action completes;
    returns the session and the seconds this took."""
    from job_post_similarity_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import job_post_similarity_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pinned_env(work)
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, env: dict[str, str]) -> int:
    from perfbench import stats, trace, workloads

    t_setup = time.perf_counter()
    spark, setup_s = start_session()
    cpu_before = stats.cpu_times()
    tracer = trace.Tracer(spark) if args.trace else None
    run = workloads.Run(spark=spark, work=work, seconds=args.seconds, tracer=tracer)
    t_workload = time.perf_counter()
    try:
        result = workloads.WORKLOADS[args.workload](run, args.seed)
        result["setup_s"] = (setup_s, "s")
        result["peak_rss_mb"] = (stats.peak_rss_mb(jvm_pid()), "MB")
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    t_end = time.perf_counter()
    result["error_rate"] = (run.failed / run.attempted if run.attempted else 1.0, "ratio")
    result["host.steal_share"] = (stats.steal_share(cpu_before, stats.cpu_times()), "ratio")
    result["host.loadavg"] = (stats.loadavg(), "load")
    for err in run.errors:
        print(err, file=sys.stderr)

    measured = {name: value for name, (value, _unit) in result.items()}
    if tracer is not None:
        measured.update(tracer.summary())
        measured["trace.overhead_s"] = run.overhead_s()
    units = result_metrics(args.trace)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    print(f"op_wall_s {' '.join(f'{c.wall_s:.4f}' for c in run.untraced)}")
    if tracer is not None:
        print(f"traced_op_wall_s {' '.join(f'{t:.4f}' for t in run.traced_s)}")
    # where a run's own wall time goes (imports, session, workload with
    # its input generation and checks, session stop)
    print(f"phase_s start {t_setup - T0:.2f} session {t_workload - t_setup:.2f} "
          f"workload {t_stop - t_workload:.2f} stop {t_end - t_stop:.2f}")
    all_units = {name: unit for name, (_value, unit) in result.items()}
    if tracer is not None:
        all_units.update(trace.per_layer_names())
    for name in sorted(measured):
        print(f"{name} {measured[name]:.6g} {all_units[name]}")
    missing = sorted(set(units) - set(measured))
    if missing:
        # a declared metric the run did not measure is a broken
        # benchmark, not a zero
        print(f"perfbench: not measured: {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": measured[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
