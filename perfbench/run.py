"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  Everything else goes to standard error.  The
run record (seed, commit, host, load, calibration score) and, when traced,
the spans are written under ``.perfbench/`` in the checkout.  Exits 1 when
an output check fails and 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: Spark driver JVM heap: the inputs are tens of MB, so 3 GB leaves ample
#: room while keeping the run small on a shared host
DRIVER_MEM = "3g"

sys.path.insert(0, ROOT)
from perfbench.trace import descendants, log, peak_rss_mb  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment(run_dir: str) -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: the workers import the program from this checkout, and every
    scratch file stays inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, spark-submit's launcher included: no hsperfdata file, and
    # temporary files in the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
    )


def source_version() -> str:
    """The git commit when run from a clone, else a digest of the
    program's sources (a source export has no git metadata)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "simsearch_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; one of {names}")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "simsearch_spark")):
        log(f"no program to run: {ROOT}/simsearch_spark is missing")
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    configure_environment(run_dir)
    try:
        return run(args, bench, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, bench: dict, run_dir: str) -> int:
    from bench import cpu_calibration
    from perfbench.trace import SparkCounters, Tracer, cpu_s
    from perfbench.workloads import WORKLOADS, balanced_latency

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": source_version(), "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": os.getloadavg(),
    }
    record["calib_v2"] = cpu_calibration()
    log(f"calib v2 {record['calib_v2']}")

    tracer = Tracer(bool(args.trace))
    cpu0 = cpu_s()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from simsearch_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    try:
        counters = SparkCounters(spark) if args.trace else None
        data_dir = os.path.join(run_dir, "data")
        out = WORKLOADS[args.workload](spark, data_dir, args.seed, args.seconds, tracer, counters)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
        log("session stopped")

    ops = out.ops
    failed = out.failed()
    for o in ops:
        if o.error:
            log(f"FAILED {o.cls}: {o.error}")
    latency_ms = balanced_latency(ops)
    # set-up: from session start to the first timed operation
    setup_cpu_s = out.loop_cpu[0] - cpu0
    setup_wall_s = session_s + out.setup_s
    cpu_ms_per_op = (out.loop_cpu[1] - out.loop_cpu[0]) * 1e3 / len(ops)
    record.update({
        "loadavg_end": os.getloadavg(), "session_s": session_s, "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s, "ops": len(ops), "failed": failed, "latency_ms": latency_ms,
        "cpu_ms_per_op": cpu_ms_per_op, "peak_rss_mb": rss, **out.detail,
        "op_ms": [[o.cls, round(o.ms, 1)] for o in ops],
    })
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        wanted = [m["name"] for m in bench["per_layer"]]
        # a layer or class the workload does not reach reads 0
        values = {n: 0.0 for n in wanted}
        values.update({**out.per_layer, "session.start_s": session_s, "op.latency_ms": latency_ms,
                       "op.cpu_ms_per_op": cpu_ms_per_op, "op.setup_wall_s": setup_wall_s,
                       "proc.peak_rss_mb": rss})
        record["per_layer_all"] = values
    else:
        values = {"setup_s": setup_cpu_s, "cpu_ms_per_op": cpu_ms_per_op}
        wanted = [m["name"] for m in bench["end_to_end"]]
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in wanted}
    record["metrics"] = metrics

    os.makedirs(WORK, exist_ok=True)
    stem = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".record.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.json", {"record": record, "spark_ops": counters.per_op})
    log(json.dumps({k: record[k] for k in ("commit", "calib_v2", "loadavg_start", "loadavg_end",
                                           "setup_wall_s", "setup_cpu_s", "ops", "failed", "latency_ms",
                                           "cpu_ms_per_op")}, default=str))
    log("class p50 ms: " + json.dumps({c: round(v, 1) for c, v in out.detail["class_p50_ms"].items()}))

    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
