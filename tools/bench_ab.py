"""Same-machine A/B of ``bench.py`` faces between two checkouts.

Runs each checkout's own ``bench.py`` (cwd = that checkout) PAIRS
times, alternating which side goes first, pools every per-run sample
from the ``bench_runs.json`` each invocation leaves behind, and writes
per face: both sides' median and quartiles, and a verdict —

* ``worse``: the change's median exceeds the parent's by more than the
  parent's interquartile range;
* ``unresolved``: not worse by that rule, but the parent's own
  interquartile range is above 25 % of its median, too wide to tell;
* ``not worse``: otherwise.

Usage (the environment passes through to ``bench.py``: set
``BENCH_QUERIES``, ``BENCH_RUNS``, ``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``)::

    python tools/bench_ab.py PARENT_DIR CHANGE_DIR OUT.json [PAIRS]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def _run(checkout: str) -> dict[str, list[float]]:
    subprocess.run(
        [sys.executable, "bench.py"], cwd=checkout, check=True, stdout=subprocess.DEVNULL
    )
    with open(os.path.join(checkout, "bench_runs.json"), encoding="utf-8") as fh:
        return json.load(fh)["runs"]


def _stats(xs: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def main() -> None:
    parent, change, out = sys.argv[1:4]
    n_pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    samples: dict[str, dict[str, list[float]]] = {"parent": {}, "change": {}}
    order = [("parent", parent), ("change", change)]
    for i in range(n_pairs):
        for side, checkout in order if i % 2 == 0 else order[::-1]:
            for face, xs in _run(checkout).items():
                samples[side].setdefault(face, []).extend(xs)
            print(f"# pair {i} {side} done", file=sys.stderr, flush=True)
    faces = {}
    for face, p in samples["parent"].items():
        c = samples["change"][face]
        ps, cs = _stats(p), _stats(c)
        iqr = ps["q3"] - ps["q1"]
        if cs["median"] - ps["median"] > iqr:
            verdict = "worse"
        elif iqr > 0.25 * ps["median"]:
            verdict = "unresolved"
        else:
            verdict = "not worse"
        faces[face] = {"parent": ps, "change": cs, "verdict": verdict}
    report = {
        "env": {
            k: os.environ.get(k)
            for k in ("BENCH_RUNS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")
        },
        "pairs": n_pairs,
        "faces": faces,
        "samples": samples,
    }
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
