#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see perfbench/README.md):
``declared_queries``, ``etl_nights``. Inputs are
generated from ``--seed`` under ``.perfbench/`` in the repository; the
Spark session runs ``local[nproc]`` with the driver heap sized from host
RAM. Outputs are checked outside the timed regions.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics of
a traced run (wrappers on the layer functions plus Spark's event log).
The line before it carries the host/provenance block and the
workload-specific named figures; both are also saved under
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("declared_queries", "etl_nights")
END_TO_END = {
    "setup_s": "s",
    "bulk_ginstr": "Ginstr",
    "step_ginstr": "Ginstr",
    "op_minstr": "Minstr",
    "peak_rss_mb": "MB",
}


def _module(workload: str):
    if workload == "declared_queries":
        from perfbench import wl_queries as m
    else:
        from perfbench import wl_etl as m
    return m


def _configure_env(work: str, cores: int, heap: str, trace: bool) -> None:
    # Python workers import the package: put the repository on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # fixed, pre-touched heap (as bench.py): lazy G1 expansion makes both
    # wall times and the JVM's RSS depend on when the heap happened to grow
    os.environ["SPARK_GRAFT_FIXED_HEAP"] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVM's own temp files (native libs, session artifacts) and its
    # perf-data file default to /tmp: keep every write inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_SYNC_TIMING", None)
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = ev
    else:
        os.environ.pop("SPARK_GRAFT_EVENT_LOG_DIR", None)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, dict]:
    from perfbench import trace as T
    from perfbench.common import Ctx, RssSampler, heap_for_host, host_block, nproc

    from perfbench.pmu import InstructionCounter

    # before any thread or child process exists: they all inherit it
    instructions = InstructionCounter()
    cores = nproc()
    heap = heap_for_host()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, cores, heap, bool(args.trace))

    tracer = T.Tracer(bool(args.trace), f"{args.workload}-s{args.seed}")
    ctx = Ctx(ROOT, work, args.seed, args.seconds, tracer, cores, heap, instructions)
    wl = _module(args.workload)

    from eea_crawler_spark.session import get_spark

    t_setup = time.perf_counter()
    # inputs first: the session sizes shuffle partitions, AQE and the heap
    # pre-touch from the input directory a workload names (``data_dir``)
    state = wl.setup(ctx)
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cores, data_dir=state.get("data_dir"))
    ctx.spark = spark
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        tracer.attach(spark)
        if args.trace:
            import eea_crawler_spark.pipeline  # noqa: F401 - load before wrapping
            import eea_crawler_spark.plans  # noqa: F401

            tracer.install()
        if hasattr(wl, "warm"):
            wl.warm(ctx, state)
        ctx.metrics["setup_s"] = time.perf_counter() - t_setup
        wl.run(ctx, state)
    finally:
        ctx.metrics["peak_rss_mb"] = sampler.stop()
        ctx.detail["host"] = host_block(ctx)
        _stop_spark(spark)
        instructions.close()

    if args.trace:
        from eea_crawler_spark.plans import CORE_QUERIES, SYNC_QUERIES

        jobs = T.read_event_log(os.environ["SPARK_GRAFT_EVENT_LOG_DIR"])
        values = T.layer_metrics(
            tracer.spans, jobs, cores, ctx.observed, set(CORE_QUERIES),
            set(SYNC_QUERIES),
        )
        metrics = {k: {"value": values[k], "unit": T.unit_of(k)} for k in T.per_layer_names()}
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "cores": cores, "spans": tracer.spans, "jobs": jobs}, fh)
    else:
        metrics = {k: {"value": ctx.metrics[k], "unit": u} for k, u in END_TO_END.items()}

    detail = dict(ctx.detail)
    detail.update(
        {"workload": args.workload, "trace": args.trace,
         "end_to_end": {k: ctx.metrics.get(k) for k in END_TO_END},
         "phases": {n: {"wall": [p.wall for p in ps], "cpu": [p.cpu for p in ps],
                        "ginstr": [p.ginstr for p in ps]}
                    for n, ps in ctx.phases.items()},
         "failures": ctx.failures[:20],
         "failed_frac": ctx.failed / max(ctx.attempted, 1)}
    )
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    res_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1)
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "eea_crawler_spark")):
        print("perfbench: the eea_crawler_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)

    # JVM and Spark logs go to a file: the state probes' harmless
    # PATH_NOT_FOUND listener errors otherwise flood stderr
    real_err = os.dup(2)
    log = os.open(os.path.join(ROOT, ".perfbench", f"{args.workload}.log"),
                  os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log, 2)
    try:
        result, detail = run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero
        os.write(real_err, traceback.format_exc().encode())
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(real_err, 2)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
