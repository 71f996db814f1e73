#!/usr/bin/env python3
"""Benchmark of ferret_spark through its public API, one workload per run.

    python3 perfbench/run.py --workload build_query --seed 1 --seconds 12 --trace 0

Run from the repository root. The Spark pool is ``local[nproc]`` from
``session.get_spark`` with the library's default tuning. One closed-loop
client issues the operations; the Spark pool is the only parallelism.
``--seconds`` sizes the timed query loops at a nominal rate for a 4-core
host rather than stopping them on a clock, so one seed issues the same
operations on any host and the count metrics repeat exactly.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer metrics (spans, Spark job groups and driver-local layer
kernels). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Every output is checked against
``oracle.OracleIndex`` after the measured phases; any failure makes the
exit code non-zero. Spans and the host record are written to
``perfbench/.out/``; scratch indexes live in ``perfbench/.work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# run as a script, this directory heads sys.path; the package is imported
# from the repository root instead, so its module names shadow nothing
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
WORKLOADS = ("build_query", "ingest_mixed")


def _configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    Spark pool to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file: the JVM would write it to /tmp whatever tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes, taking its Python workers with it), and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric_values(ctx, workload: str, traced: bool) -> dict:
    """Every metric BENCHMARK.json names for this mode. A per-layer
    metric of a layer this workload leaves idle reads 0."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        where = json.load(f)
    mem = {
        "mem.peak_rss_mb": ctx.rss.peak / 2**20,
        "mem.python_peak_rss_mb": ctx.rss.peak_py / 2**20,
        "mem.jvm_peak_rss_mb": ctx.rss.peak_jvm / 2**20,
    }
    got = dict(ctx.layer, **mem) if traced else dict(ctx.e2e, setup_s=ctx.setup_s)
    out = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        name = m["name"]
        if name in got:
            value = got[name]
        elif workload not in where[name]["workloads"]:
            value = 0
        else:
            raise KeyError(f"{workload} did not measure {name}")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    t_setup0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ["BENCHMARK.json", "ferret_spark/__init__.py"]
    missing = [p for p in needed if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a ferret_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2

    sys.path.insert(0, REPO)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _configure_env(work)

    from ferret_spark.session import get_spark

    from perfbench.common import Ctx
    from perfbench.tracing import PeakRss, Tracer, host_record

    host = host_record(REPO)
    rss = PeakRss()
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(
            spark=spark, tr=Tracer(spark.sparkContext, bool(args.trace)), rss=rss,
            work=work, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), t_setup0=t_setup0,
        )
        importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        if ctx.traced:
            ctx.spark_layers()
        metrics = _metric_values(ctx, args.workload, ctx.traced)
    finally:
        rss.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    host["loadavg_after"] = os.getloadavg()
    ctx.info["run_wall_s"] = time.perf_counter() - t_setup0
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"args": vars(args), "host": host, "result": result,
                   "errors": ctx.errors, "info": ctx.info,
                   "spans": ctx.tr.dump()}, f, indent=1)
    print(json.dumps({"host": host, "info": ctx.info}), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
