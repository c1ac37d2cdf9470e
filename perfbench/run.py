"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 0

Run it from the root of the checkout.  Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout, which also receives Spark's scratch
files and, for ``--trace 1``, the span JSON.  The last line of standard
output is the result: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics.  The line before it is a report with
the host record, the workload's own metric names and the output checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus", "ingest_guard")
E2E_UNITS = {"setup_s": "s", "op1_cpu_s": "s", "op2_cpu_s": "s", "op3_cpu_s": "s", "op4_cpu_s": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write in ``tmp``."""
    import tempfile

    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fuggetabouspark", "__init__.py")):
        print(f"perfbench: no fuggetabouspark package under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp", run_id)
    _isolate(tmp)
    sys.path.insert(0, ROOT)

    from perfbench import host, layers, workloads
    from perfbench.spans import Tracer, self_time_table

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = host.start_spark(cpus)
    session_s = time.perf_counter() - t0
    try:
        ctx = workloads.Ctx(
            spark=spark, tracer=Tracer(spark, run_id, False), trace=bool(args.trace), seed=args.seed,
            seconds=args.seconds, workdir=os.path.join(tmp, "data"), cpus=cpus,
            session_s=session_s, cpu_s=host.cpu_clock(spark),
        )
        res = getattr(workloads, args.workload)(ctx)
        # in the report only, see README.md
        peak_mb = host.peak_rss_mb(spark)
        retained_mb = host.retained_cache_mb(spark)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host.host_record(ROOT, cpus),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
            "failed_checks": res.ops.problems,
        }
        if args.trace:
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            span_path = os.path.join(work, "traces", f"{run_id}.json")
            ctx.tracer.dump(span_path)
            report["spans"] = os.path.relpath(span_path, ROOT)
            report["self_time"] = self_time_table(ctx.tracer.spans)
            report["trace_overhead_s"] = res.layers.get("trace.overhead_s")
            metrics = {
                name: {"value": float(res.layers.get(name, 0.0)), "unit": unit}
                for name, unit, *_ in layers.LAYERS
            }
        else:
            metrics = {name: {"value": float(res.e2e[name]), "unit": u} for name, u in E2E_UNITS.items()}
            report["metrics"].update(metrics)
        report["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        report["metrics"]["retained_cache_mb"] = {"value": retained_mb, "unit": "MB"}
        report["metrics"]["ops_attempted"] = {"value": res.ops.attempted, "unit": "count"}
        report["metrics"]["ops_failed"] = {"value": res.ops.failed, "unit": "count"}
    finally:
        host.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": res.ops.failed == 0, "attempted": res.ops.attempted,
        "failed": res.ops.failed, "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
