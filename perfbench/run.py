"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 8 --trace 0

Runs one workload in one fresh process against the program in the
checkout that holds this directory, checks its outputs, and prints as the
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is switched on at launch and the metrics are
the per-layer ones folded from it. Details of both passes are written to
``perfbench/_out/<workload>-trace<0|1>.json``.

All scratch (inputs, warehouse, snapshot tables, Spark local dirs, event
log) lives under ``perfbench/_work``, wiped at the start of every run.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OLD_WORK = os.path.join(HERE, "_work.old")
OUT = os.path.join(HERE, "_out")
PACKAGE = "music_streaming_services_etl_pipeline_with_airflow_spark"
WORKLOADS = ("daily_etl", "query_battery", "stream_ingest")


def _process_start() -> float:
    """Wall-clock start of this process (Linux), else the first line run."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return PROCESS_T0


def _prepare_env(trace: bool) -> None:
    """Everything the program and Spark write goes under WORK; the Python
    workers of mapInPandas operators import the package from ROOT."""
    # The last run's scratch is moved aside here and deleted after set-up
    # has been timed, so a large leftover (a traced run's event log) does
    # not lengthen the next run's setup_s.
    shutil.rmtree(OLD_WORK, ignore_errors=True)
    if os.path.exists(WORK):
        os.rename(WORK, OLD_WORK)
    for d in ("tmp", "spark-local", "program", "events", "data"):
        os.makedirs(os.path.join(WORK, d))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={WORK}/derby -Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus or 1),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_WORK_ROOT=os.path.join(WORK, "program"),
        TMPDIR=os.path.join(WORK, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop(spark) -> None:
    """Stop the session, then end the JVM it ran in and wait for it; the
    JVM exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    _prepare_env(bool(args.trace))

    from music_streaming_services_etl_pipeline_with_airflow_spark.session import get_spark

    t_start = _process_start()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = time.time() - t_start
    shutil.rmtree(OLD_WORK, ignore_errors=True)

    # the benchmark's own modules (DuckDB, pandas, NumPy) load after set-up
    import workloads
    from spans import Tracer

    tracer = Tracer()
    t_run = time.time()
    try:
        res = getattr(workloads, args.workload)(
            spark, os.path.join(WORK, "data"), args.seed, args.seconds, tracer)
    finally:
        _stop(spark)
    run_wall_s = time.time() - t_run

    if args.trace:
        import layers

        metrics = layers.per_layer(res, tracer, os.path.join(WORK, "events"))
    else:
        metrics = dict(res.metrics, setup_s=(setup_s, "s"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    want = {m["name"] for m in manifest["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != want:
        print(f"perfbench: metrics {sorted(metrics)} are not those of BENCHMARK.json {sorted(want)}",
              file=sys.stderr)
        return 1
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "run_wall_s": run_wall_s, "setup_s": setup_s, "metrics": metrics,
            "facts": res.facts, "problems": res.problems, "errors": res.errors,
            "spans": [(s.name, s.start_ms, s.end_ms, s.attrs) for s in tracer.spans],
        }, fh, indent=1, default=str)
    for p in res.errors[:20]:
        print(f"FAILED: {p}", file=sys.stderr)
    for p in res.problems[:20]:
        print(f"WRONG: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
