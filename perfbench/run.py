"""Benchmark entry point.

    python3 perfbench/run.py --workload search_zipf --seed 1 --seconds 16 --trace 0

Runs one workload in one process against the engine package in the
checkout, checks every answer, and prints a report followed, as the last
line, by one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``). Exits non-zero without a
result when the engine cannot be imported or the workload cannot run.
"""

from __future__ import annotations

import time

# set-up time counts from here, before any other import
T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_assignment2_2025_spark"
#: maximum driver heap, with no minimum. The workloads keep about 0.5 GB
#: live. G1 grows the heap towards its cap by how much time it spends in
#: collection, which follows the host's speed: under the engine's default
#: of 8g peak RSS ranged 3.0-5.2 GB across seeds of the same workload, and
#: under 2g 1.8-2.7 GB.
DRIVER_MEMORY = "1g"


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pin_host(work: str) -> dict:
    """Host settings for this process and the JVM it starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # temporary files of the engine (tempfile) and of the JVM stay in ``work``
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers (UDF paths) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True).stderr
    return {
        "nproc": cpus,
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "java": java.splitlines()[0] if java else "unknown",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        host = pin_host(work)
        from big_data_assignment2_2025_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file, which the JVM would put in /tmp
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                                             f"-Djava.io.tmpdir={tempfile.gettempdir()}",
        }
        if args.trace:  # counters of every job are resolved at the end
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - T_START
        host["spark"] = spark.version
        run = workloads.Run(
            spark=spark,
            tracer=Tracer(spark, enabled=bool(args.trace)),
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            t_start=T_START,
        )
        out = workloads.WORKLOADS[args.workload](run)
        peak = vm_hwm_mb(os.getpid())
        gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
        if gateway_proc is not None:
            peak += vm_hwm_mb(gateway_proc.pid)
        out["metrics"]["peak_rss_mb"] = (peak, "MB")
        if args.trace:
            # after every end-to-end metric is taken, so it moves none of them
            workloads.registry_pass(run)
            run.tracer.resolve()
            run.tracer.write(os.path.join(
                ROOT, ".bench_tmp", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = out["metrics"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        **out["info"],
        "failed_ops_ratio": run.failed / run.attempted,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if args.trace:
        layers = {"session.start_s": (session_s, "s"), **workloads.traced_layers(run)}
        layers.update({f"traced.{k}": vu for k, vu in e2e.items()})
        metrics = report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = report["end_to_end"]
    for k, m in (report.get("per_layer") or report["end_to_end"]).items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    report["wall_s"] = time.perf_counter() - T_START
    print("report " + json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
