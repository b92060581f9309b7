"""Layered lakehouse benchmark for the ``dask_deltalake_spark`` engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_dml --seed 1 --seconds 3 --trace 0

Workloads: ``ingest_dml``, ``read_serve``, ``curate_llm`` (see
perfbench/README.md). Each run starts its own ``local[nproc]`` session,
generates every input from ``--seed``, builds its tables, warms up,
then runs one closed-loop client for whole rounds of ops until
``--seconds`` have passed, and checks every op's output.

Standard output ends with two JSON lines: a detail record (per-op-kind
medians, failure share, host calibration, ...) and the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same loop with spans and
layer probes and reports the per-layer metrics instead.

Everything is written under ``.perfbench_work/`` (deleted at exit) and
traces under ``.perfbench_out/``, both at the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_dml", "read_serve", "curate_llm")
DRIVER_MEM = "4g"  # the engine's default (32g) assumes a much larger host


def _pin_environment(work: str) -> dict:
    """Process environment every run shares; must run before pyspark
    is imported. Returns the Spark confs that go with it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine by name: put the checkout on
    # their path whatever the caller's working directory is
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit first starts a small launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _load_workload(name: str):
    if name == "ingest_dml":
        from ingest_dml import IngestDml as cls
    elif name == "read_serve":
        from read_serve import ReadServe as cls
    else:
        from curate_llm import CurateLlm as cls
    return cls


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _tail(xs: list[float]) -> tuple[float, float]:
    """Highest of a few percentiles that has at least ten samples
    beyond it, as (percentile, value)."""
    xs = sorted(xs)
    best = (50.0, xs[len(xs) // 2]) if xs else (50.0, 0.0)
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if len(xs) * (1 - p / 100) >= 10:
            best = (p, xs[min(len(xs) - 1, math.ceil(len(xs) * p / 100) - 1)])
    return best


def run(args, work: str) -> tuple[dict, dict]:
    confs = _pin_environment(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import statistics

    import bench  # the repository's host-calibration probe
    import dask_deltalake_spark as ddl
    from core import PER_LAYER, layer_metrics, log_stats
    from spans import NullTracer, Tracer, median

    t0 = time.perf_counter()
    spark = ddl.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=confs)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        start_s = time.perf_counter() - t0
        tr = Tracer(spark) if args.trace else NullTracer()
        wl = _load_workload(args.workload)(spark, ddl, work, args.seed, tr)
        builds = []
        for i in range(wl.builds):
            root = os.path.join(work, f"build{i}")
            t = time.perf_counter()
            wl.build(root)
            builds.append(time.perf_counter() - t)
            if i + 1 < wl.builds:
                shutil.rmtree(root)
        t = time.perf_counter()
        for op in wl.warmup_ops():
            wl.run_op(op, "warmup")
        warmup_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(builds) + warmup_s

        wl.drive(args.seconds)
        if args.trace:
            log = log_stats(wl.table)
            wl.end_probes()

        timed = [r for r in wl.records if r.phase == "loop"]
        failed = sum(not r.ok for r in wl.records)
        op_time = sum(r.seconds for r in timed)
        p50_loop = [median(r.seconds for r in timed if r.kind == k) for k in {r.kind for r in timed}]
        by_kind = {
            k: [r.seconds for r in wl.records if r.kind == k and r.phase != "warmup"]
            for k in wl.kinds
        }
        p50 = {k: median(v) for k, v in by_kind.items() if v}
        tail_p, tail_v = _tail([r.seconds for r in timed])
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": DRIVER_MEM,
            "ops": {k: len(v) for k, v in by_kind.items()},
            "failed_frac": failed / len(wl.records),
            "setup_builds_s": builds,
            "op_seconds": [[r.kind, r.seconds] for r in wl.records if r.phase != "warmup"],
            "metrics": {
                **{wl.kinds[k]: _metric(v, "s") for k, v in p50.items()},
                "tail_s": dict(_metric(tail_v, "s"), percentile=tail_p, samples=len(timed)),
                **wl.detail(),
            },
        }
        if args.trace:
            # fixed-work host probe (~5 s): stamped on traced records only
            detail["host_calibration"] = bench._host_calibration(spark)
            metrics = layer_metrics(wl, start_s, warmup_s, log)
            metrics = {k: _metric(v, PER_LAYER[k]) for k, v in metrics.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            trace_path = os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"
            )
            tr.dump(trace_path)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = {
                "setup_s": _metric(setup_s, "s"),
                "ops_per_s": _metric(len(timed) / op_time, "1/s"),
                "op_p50_s": _metric(
                    math.exp(statistics.fmean(math.log(v) for v in p50_loop)), "s"
                ),
                "driver_rss_mb": _metric(
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"
                ),
                "stored_bytes_per_row": _metric(wl.stored_bytes_per_row(), "B/row"),
            }
        result = {
            "correct": failed == 0,
            "attempted": len(wl.records),
            "failed": failed,
            "metrics": metrics,
        }
        return detail, result
    finally:
        _stop_spark(spark)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin pipe closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("dask_deltalake_spark/__init__.py", "bench.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
