"""Sync-and-query benchmark: one seeded, closed-loop workload per run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload star_sync --seed 1 --seconds 20 --trace 0

Each run starts one Spark session (``local[4]``, 2 GiB driver), builds its
seeded inputs under ``.perfbench_work/`` in the repository root, sets up the
workload, runs passes of timed calls until ``--seconds`` would be exceeded
(at least one pass), checks every output, and prints:

* one line ``{"detail": …}`` with the workload's named metrics (value,
  unit, sample count) and every output check;
* as the LAST line, ``{"correct", "attempted", "failed", "metrics"}`` —
  the end-to-end metrics with ``--trace 0``, the per-layer metrics with
  ``--trace 1``.

A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_work_dir(work: str) -> None:
    """Create the per-run directory and point every temp path into it."""
    if os.path.exists(work):
        shutil.rmtree(work)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(work: str):
    from export_oltp_to_olap_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                # Keep JIT threads alive so their CPU can be left out.
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "export_oltp_to_olap_spark")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    make_work_dir(work)
    spark = None
    wl = None
    try:
        import metrics
        from spans import Tracer, jvm_peak_rss_mb, storage_held, engine_cpu_s, wrap_layers

        spark = start_session(work)
        tracer = Tracer(spark, enabled=bool(args.trace), run_tag=f"pb{os.getpid()}")
        if args.trace:
            wrap_layers(tracer)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        storage_before = storage_held(spark)

        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        pass_s: list[float] = []
        pass_cpu_s: list[float] = []
        while not pass_s or time.perf_counter() + pass_s[-1] <= deadline:
            t, cpu = time.perf_counter(), engine_cpu_s(os.getpid())
            wl.run_pass()
            pass_s.append(time.perf_counter() - t)
            pass_cpu_s.append(engine_cpu_s(os.getpid()) - cpu)
            if args.trace:
                tracer.op_snapshots.append(
                    dict(zip(("persisted_rdds", "bytes_held"), storage_held(spark)))
                )
        measured_s = time.perf_counter() - t0

        t = time.perf_counter()
        try:
            wl.check()
        except Exception as e:  # a check that cannot run fails every op
            wl.checks.append({"op": "check", "ok": False, "why": repr(e)})
            wl.failed_ops.update(s.span_id for s in tracer.ops())
        check_s = time.perf_counter() - t
        ops = tracer.ops()
        attempted = len(ops)
        failed = len(wl.failed_ops)
        op_s = [s.seconds for s in ops]
        e2e = {
            "setup_s": (setup_s, "s", 1),
            "pass_cpu_s": (statistics.median(pass_cpu_s), "s", len(pass_cpu_s)),
        }
        named = {
            **e2e,
            "pass_s": (statistics.median(pass_s), "s", len(pass_s)),
            "op_max_s": (max(op_s), "s", len(op_s)),
            **wl.named_metrics(),
            "jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB", 1),
            "ops_failed_ratio": (failed / attempted if attempted else 1.0, "ratio", attempted),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": CORES,
            "driver_memory": DRIVER_MEMORY,
            "sizes": wl.sizes,
            "passes": len(pass_s),
            "measured_s": measured_s,
            "check_s": check_s,
            "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
            "checks": wl.checks,
        }
        if args.trace:
            layer = metrics.per_layer(tracer, wl, storage_before, CORES)
            detail["self_time_by_layer_s"] = tracer.self_time_by_layer()
            detail["per_layer"] = layer
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path, {"detail": detail})
            result_metrics = layer
        else:
            result_metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in e2e.items()}
        correct = failed == 0 and all(c["ok"] for c in wl.checks)
    finally:
        t = time.perf_counter()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail["stop_s"] = time.perf_counter() - t

    print(json.dumps({"detail": detail}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": result_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
