#!/usr/bin/env python3
"""Benchmark of the library as its users run it.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload curate|rag \\
        --seed N --seconds S --trace 0|1

Each run generates its inputs from the seed into a fresh directory
under ``.perfbench_runs/`` in the checkout, starts one Spark driver on
``local[<cores>]`` through ``session.get_spark``, builds the
workload's state (timed as ``setup_s``), runs the timed phase for
about ``--seconds`` seconds, checks the outputs, removes the
directory and prints one JSON line last.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` also runs a traced phase and
reports the per-layer metrics (see perfbench/README.md).  The exit
code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curate", "rag")


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(checkout: str, run_root: str) -> None:
    """Point every scratch directory of Spark, the JVM and Python into
    the run's own directory, and make the package importable by the
    driver and by Spark's Python workers."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, checkout)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(
            checkout, "trial_data_ingestion_spark", "__init__.py")):
        print("perfbench: no trial_data_ingestion_spark package in the "
              "working directory; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import layers
    from common import now, peak_rss_mb, stop_spark
    from gen import digest
    from spans import Tracer
    workload = importlib.import_module(args.workload)

    runs_dir = os.path.join(checkout, ".perfbench_runs")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_root = os.path.join(runs_dir, run_id)
    os.makedirs(run_root)
    _environment(checkout, run_root)
    inputs_dir = os.path.join(run_root, "inputs")
    os.makedirs(inputs_dir)
    spark = None
    checks, report = [], []
    ops, ops_failed = 0, 0
    e2e, per_layer = {}, {}
    try:
        t0 = now()
        inputs = workload.make_inputs(args.seed, inputs_dir)
        report.append(("inputs_generated_s", now() - t0, "s", 1))
        print(f"inputs sha256 {digest(inputs_dir)}")

        t0 = now()
        from trial_data_ingestion_spark.session import get_spark
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = now() - t0

        # one cold set-up per run, as a user brings the system up
        t0 = now()
        state = workload.setup(spark, inputs_dir, inputs)
        setup_work_s = now() - t0
        setup_s = start_s + setup_work_s
        report.append(("session_start_s", start_s, "s", 1))
        report.append(("setup_work_s", setup_work_s, "s", 1))

        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        res = workload.run(spark, tracer, inputs_dir, inputs, state,
                           args.seconds)
        rss = peak_rss_mb(spark)
        checks = res["checks"]
        ops, ops_failed = res["attempted"], res["failed"]
        report = report + res["report"] + [
            ("setup_s", setup_s, "s", 1), ("peak_rss_mb", rss, "MB", 1)]
        res["peak_rss_mb"] = rss
        e2e = {"setup_s": (setup_s, "s")}
        units = {"throughput_per_s": "1/s", "latency_p50_ms": "ms",
                 "recall": "ratio"}
        e2e.update({k: (v, units[k]) for k, v in res["e2e"].items()})
        if args.trace:
            tracer.collect_stage_metrics()
            per_layer = layers.per_layer(tracer, res, start_s)
            os.makedirs(os.path.join(runs_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(runs_dir, "traces", f"{run_id}.jsonl"))
    except Exception:
        traceback.print_exc()
        checks = checks + [("run completed", False, "exception")]
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        except Exception:
            traceback.print_exc()
            checks = checks + [("processes stopped", False, "exception")]
        shutil.rmtree(run_root, ignore_errors=True)

    # every check counts as one more operation, failed if it failed
    attempted = ops + len(checks)
    failed = ops_failed + sum(not ok for _, ok, _ in checks)
    report.append(("failed_ratio", failed / attempted, "ratio", attempted))
    e2e["ok_ratio"] = (1.0 - failed / attempted, "ratio")
    for name, value, unit, n in report:
        print(f"metric {name} = {value:.6g} {unit} (n={n})")
    for name, ok, detail in checks:
        print(f"check {name}: {'PASS' if ok else 'FAIL'} {detail}")
    correct = bool(checks) and all(ok for _, ok, _ in checks)
    metrics = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": correct, "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
