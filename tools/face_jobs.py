"""Time ``bench.py`` faces on a cold cache and count their Spark jobs.

``bench.py`` repeats each face in one session, so a face whose earlier
call left a cache entry behind can serve a later call from it.  This
script clears the session's cache before every call, runs each face
under its own job group, and records wall-clock (build + ``count()``,
as ``bench.py`` times it), the jobs and stages that group ran, and the
row count — the same-work comparison for two checkouts.

Usage (run it once per checkout; the checkout's own package and
``bench.py`` are imported)::

    python tools/face_jobs.py CHECKOUT_DIR SF_DIR RUNS OUT.json FACE [FACE ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    checkout, sf_dir, runs, out, *faces = sys.argv[1:]
    sys.path.insert(0, checkout)
    os.chdir(checkout)
    import bench
    from export_oltp_to_olap_spark import registry
    from export_oltp_to_olap_spark.session import get_spark

    spark = get_spark(
        app_name="face_jobs",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]",
    )
    sc = spark.sparkContext
    qs = dict(registry.queries())
    qs.update(bench._variant_queries())
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    rows = []
    for run in range(int(runs)):
        for face in faces:
            group = f"{face}#{run}"
            spark.catalog.clearCache()
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            n = qs[face](spark, sf_dir).count()
            seconds = time.perf_counter() - t0
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs)
            rows.append(
                {"face": face, "run": run, "s": round(seconds, 3),
                 "jobs": len(jobs), "stages": stages, "rows": n}
            )
            print(json.dumps(rows[-1]), file=sys.stderr, flush=True)
    spark.stop()
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(rows, fh, indent=1)


if __name__ == "__main__":
    main()
