"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh Spark JVM from the root of a source checkout
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at the end. Exits non-zero without a result when the
program cannot be imported or a workload raises.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("build", "search", "s3imports"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, event_dir: str | None):
    """``local[nproc]`` with one shuffle partition per core, a driver heap
    sized for a small shared box, no console progress bar (stdout carries
    only the result), and every scratch file inside ``work``."""
    from s3logsbeat_spark.session import get_spark

    from perfbench import spans

    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every JVM spark-submit starts (its launcher too) keeps temp files in
    # ``work`` and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        conf.update(spans.event_log_conf(event_dir))
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import s3logsbeat_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    # workers and temp files: the checkout's package, the checkout's disk
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import spans, workloads

    event_dir = os.path.join(WORK, "events") if args.trace else None
    spark = start_session(WORK, event_dir)
    try:
        run = workloads.Run(
            spark, args.seed, args.seconds, os.path.join(WORK, "run"), T_START,
            tracer=spans.Tracer() if args.trace else None, event_dir=event_dir,
        )
        os.makedirs(run.work)
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"[perfbench +{time.perf_counter() - T_START:6.1f}s] stopped",
              file=sys.stderr, flush=True)

    values = res.layers if args.trace else res.e2e
    units = workloads.LAYERS if args.trace else workloads.E2E
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
