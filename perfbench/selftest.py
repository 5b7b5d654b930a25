"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. Input generator: the same seed gives byte-identical inputs (base
   fixture, mutated source, CDC feed, ``/sync`` list, maintenance batch);
   a different seed gives different run inputs.
2. Counter collector: two back-to-back executions of one fixed face and
   one fixed ``/sync`` request, each under its own job group, give
   identical job, stage and task counts and shuffle bytes within 1%.

Prints one JSON line with the findings; exits 1 if any check fails.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from workloads import SF, CorpusMaintenance, StarSync  # noqa: E402

FACE = "tpch_q3_shipping_priority"


def write_inputs(root: str, seed: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(root)
    base = os.path.join(root, "src")
    gen.write_base(base, SF)
    gen.write_sync_inputs(root, base, seed, StarSync.SYNC_TABLES, StarSync.FEED_FILES)
    texts = pq.read_table(os.path.join(base, "documents.parquet")).column("text").to_pylist()
    batch = gen.maintenance_batch(seed, texts, *CorpusMaintenance.BATCH)
    gen.write_maintenance_batch(root, batch)


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def generator_check(work: str) -> dict:
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        write_inputs(os.path.join(work, name), seed)
    run_inputs = ("src_mut", "feed", "sync_requests.json", "maint_batch.json")
    differs = {
        f: not (
            same_tree(os.path.join(work, "a", f), os.path.join(work, "c", f))
            if os.path.isdir(os.path.join(work, "a", f))
            else filecmp.cmp(os.path.join(work, "a", f), os.path.join(work, "c", f), False)
        )
        for f in run_inputs
    }
    return {
        "same_seed_identical": same_tree(os.path.join(work, "a"), os.path.join(work, "b")),
        "other_seed_differs": differs,
    }


def counter_check(work: str) -> dict:
    from export_oltp_to_olap_spark import registry
    from spans import Tracer

    spark = run.start_session(work)
    wl = None
    try:
        tracer = Tracer(spark, enabled=True, run_tag=f"selftest{os.getpid()}")
        wl = StarSync(spark, tracer, work, seed=11)
        wl.setup()
        table, rid = wl.inputs.sync_requests[0]
        url = f"http://127.0.0.1:{wl.port}/sync?table={table}&id={rid}"
        out = {}
        for label in ("face", "sync"):
            runs = []
            for i in range(2):
                with tracer.op(f"{label}{i}", "selftest") as op:
                    if label == "face":
                        df = registry.queries()[FACE](spark, wl.base_dir)
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        with urllib.request.urlopen(url, timeout=170) as resp:
                            resp.read()
                runs.append(tracer.subtree_counters(op))
            a, b = runs
            shuffle = [r["shuffle_read_bytes"] + r["shuffle_write_bytes"] for r in runs]
            out[label] = {
                "counts": [{k: r[k] for k in ("jobs", "stages", "tasks")} for r in runs],
                "shuffle_bytes": shuffle,
                "ok": all(a[k] == b[k] for k in ("jobs", "stages", "tasks"))
                and abs(shuffle[0] - shuffle[1]) <= 0.01 * max(shuffle),
            }
        return out
    finally:
        if wl is not None:
            wl.close()
        run.stop_session(spark)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.make_work_dir(work)
    try:
        result = {"generator": generator_check(os.path.join(work, "gen"))}
        result["counters"] = counter_check(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    g = result["generator"]
    ok = (
        g["same_seed_identical"]
        and all(g["other_seed_differs"].values())
        and all(v["ok"] for v in result["counters"].values())
    )
    print(json.dumps({"ok": ok, **result}, sort_keys=True))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
