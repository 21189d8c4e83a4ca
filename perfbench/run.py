"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one local Spark session with
one core per CPU this process may use, builds its inputs from ``--seed`` in a
fresh directory inside the checkout (removed on exit), measures a closed loop
with one client for ``--seconds`` seconds, checks every result it can against
an independent model, and prints two JSON lines on stdout:

- a self-describing record: environment, setup phases, operation counts,
  the end-to-end metrics, the workload's own detail metrics and errors;
- the result: ``{"correct", "attempted", "failed", "metrics"}``, where
  ``metrics`` holds the end-to-end metrics (``--trace 0``) or the per-layer
  metrics of a traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (name, unit) of the end-to-end metrics, as listed in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("cycle_s", "s"),
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _source_identity() -> dict:
    """git HEAD when the checkout is a repository, and a digest of the
    engine's sources either way."""
    head = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            head = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hudi_examples_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {"git_head": head, "source_sha256": h.hexdigest()[:16]}


def start_session(work: str, nproc: int):
    from hudi_examples_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # no hsperfdata files outside the run's directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
            # keep every job and stage of a run for the traced metrics
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its exit signal) and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def install_tracing(tracer) -> None:
    from hudi_examples_spark.sql import Engine
    from hudi_examples_spark.streaming.ingestion import DeltaStreamer
    from hudi_examples_spark.table import Table
    from hudi_examples_spark.table.timeline import Timeline

    tracer.wrap(DeltaStreamer, "run_once", "streaming.run_once")
    tracer.wrap(Engine, "sql", "sql")
    for attr in ("write_cdc", "merge", "insert"):
        tracer.wrap(Table, attr, "table.write")
    tracer.wrap(Table, "clean", "services.clean", tag=lambda removed: {"files_deleted": len(removed)})
    tracer.wrap(Table, "compact", "services.compact")
    for attr in ("instants", "completed_data_instants", "live_files", "write"):
        tracer.wrap(Timeline, attr, f"timeline.{attr}", jobs=False)
    tracer.count_py4j()


def measure(spark, work: str, args, session_s: float, nproc: int) -> tuple[dict, dict]:
    """Set up, measure and check one workload on a running session; returns
    (record, result)."""
    import pyspark

    from perfbench.layers import per_layer
    from perfbench.stats import median, tail
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ops

    sc = spark.sparkContext
    env = {
        "nproc": nproc,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        **_source_identity(),
    }
    tracer = Tracer(spark) if args.trace else None
    ops = Ops(tracer)
    wl = WORKLOADS[args.workload](spark, work, args.seed, ops)
    setup_parts = wl.setup()
    setup_s = session_s + sum(setup_parts.values())

    if tracer:
        install_tracing(tracer)
        job_lo = tracer.job_mark()
    # closed loop, one client; a unit is never cut, so a run measures at
    # least --seconds and at most one unit more
    loop_t0 = time.perf_counter()
    while time.perf_counter() - loop_t0 < args.seconds:
        try:
            wl.unit()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        ops.end_unit()
    loop_s = time.perf_counter() - loop_t0
    if tracer:
        job_hi = tracer.job_mark()
        tracer.uninstall()
        tracer.collect_spark(job_lo, job_hi)
    instants_live = len(wl.table.timeline.instants()) if hasattr(wl, "table") else 0
    detail = wl.finish()

    latencies = [dt for _, dt in ops.samples]
    tail_v, tail_pct, n_ops = tail(latencies)
    e2e = {
        "setup_s": setup_s,
        "cycle_s": ops.composed_cycle(wl.CYCLE_MIX),
    }
    kinds: dict[str, int] = {}
    for k, _ in ops.samples:
        kinds[k] = kinds.get(k, 0) + 1
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "setup": {"session_s": session_s, **setup_parts},
        "loop_s": loop_s,
        "units": len(ops.units),
        "unit_s.p50": median(ops.units),
        "ops": kinds,
        "end_to_end": e2e,
        "op_s.p50": median(latencies),
        "op_s.tail": {"value": tail_v, "percentile": tail_pct, "samples": n_ops},
        "detail": detail,
        "op_fail_ratio": ops.failed / max(ops.attempted, 1),
        "errors": ops.errors[:5],
        "op_samples": [[k, round(dt, 4)] for k, dt in ops.samples],
    }
    if tracer:
        layer = per_layer(tracer, {
            "session_s": session_s,
            "warmup_s": setup_parts.get("warmup_s", 0.0),
            "loop_s": loop_s,
            "nproc": nproc,
            "instants_live": instants_live,
            "job_lo": job_lo,
            "job_hi": job_hi,
            "jvm_pid": int(spark._jvm.ProcessHandle.current().pid()),
        })
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    result = {
        "correct": ops.failed == 0,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed,
        "metrics": metrics,
    }
    return record, result


def run(args) -> tuple[dict, dict]:
    """One run in a fresh working directory inside the checkout, with its
    own Spark session; both are gone when this returns."""
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, nproc)
        session_s = time.perf_counter() - t0
        return measure(spark, work, args, session_s, nproc)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "hudi_examples_spark")):
        print(f"no engine sources under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    record, result = run(args)
    for e in record["errors"]:
        print(e, file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
