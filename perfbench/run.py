"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Stdout ends with one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it holds the workload's own named figures, the measured
input properties and the recorded environment.  Everything the run writes
goes under ``.perfbench_work/`` (removed at exit) and ``.perfbench_cache/``
(oracle answers) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.perf_counter()


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def _make_spark(cores: int, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _remove_stale(work_root: str) -> None:
    """Delete work dirs left by killed runs (named by pid, pid not alive)."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
        except (ValueError, PermissionError):
            continue


def _metric_units(key: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics listed in
    BENCHMARK.json, which the result line prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def _overhead(samples: list, window: tuple) -> float:
    """Median sample inside the traced window over the median of the
    untraced pass after it, minus one (the untraced pass before it only
    warms the JIT and the program's compiled plans)."""
    during = [v for t, v in samples if window[0] <= t < window[1]]
    after = [v for t, v in samples if t >= window[1]]
    if not after or not during:
        return 0.0
    return statistics.median(during) / statistics.median(after) - 1.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "bayard_spark", "__init__.py")):
        print("perfbench: bayard_spark sources not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, str(os.getpid()))
    cache = os.path.join(ROOT, ".perfbench_cache")
    _remove_stale(work_root)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM (launcher and driver) keeps its temp files in the
        # checkout and writes no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _make_spark(cores, work)
        session_s = time.perf_counter() - t0
        from perfbench.trace import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, work, cache, args.seed, args.seconds, cores,
                  session_s)
        t1 = time.perf_counter()
        res = WORKLOADS[args.workload](ctx)
        workload_s = time.perf_counter() - t1
        import pyarrow
        import pyspark

        env = {
            "nproc": cores,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "commit": _commit(),
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        # where the run's wall time went (set-up includes the session)
        harness = {
            "before_session_s": t0 - T_START,
            "session_s": session_s,
            "setup_s": res["e2e"]["setup_s"],
            "measure_s": ctx.measure_s,
            "inputs_and_checks_s": workload_s - ctx.measure_s
            - (res["e2e"]["setup_s"] - session_s),
        }
        if args.trace:
            layers = dict(res["layers"])
            layers["trace.overhead"] = _overhead(res["samples"], res["window"])
            units = _metric_units("per_layer")
            not_run = sorted(k for k in units if k not in layers)
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in units.items()}
            spans = tracer.report()
        else:
            not_run, spans = [], None
            metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                       for k, u in _metric_units("end_to_end").items()}
        print(json.dumps({
            "workload": args.workload,
            "env": env,
            "harness": harness,
            "detail": res["detail"],
            "error_rate": ctx.failed / max(ctx.attempted, 1),
            "errors": ctx.errors,
            "layers_not_run": not_run,
            "missing_spans": sorted(tracer.missing),
            "spans": spans,
        }, default=str))
        bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
        if bad:
            print(f"perfbench: no measurement for {bad}", file=sys.stderr)
            return 1
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
