"""Spans, per-op Spark counters and staging snapshots.

Every timed operation runs under its own Spark job group (a fresh id per
span, never reused — reusing a group name adds its jobs up across runs).
When tracing is on, each span records, from Spark's status store:

    jobs, stages (executed, not skipped), tasks, executor run / CPU / GC
    time, shuffle read / write bytes, spill bytes, input / output bytes

and, after each top-level op, the persisted-RDD count and bytes held in
Spark's storage.  Spans nest (parent id, shared op id) and are kept in
memory until ``dump`` writes them out.

Layer wrappers (``wrap_layers``) time layer entry points that are reached
from inside other layers — ``Catalog.table``, ``build_star``,
``build_star_incremental``, ``merge_star``, ``merge_into_parquet`` and
``apply_cdc_events`` — by rebinding the module or class attribute the
caller looks up at call time.  They are installed only for traced runs.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "output_records",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    group: str
    kind: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# HotSpot's JIT compiler threads ("C1 CompilerThre", "C2 CompilerThre").
_JIT_THREAD = "CompilerThre"


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:  # the process or thread ended while we listed
        return None
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def engine_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, with reaped children) used so far by a
    process and all its live descendants, leaving out JIT compiler
    threads: in a minute-long JVM the JIT's work is mostly warm-up, and
    it swings with the host's load."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(f"/proc/{entry}/stat")
        if st is None:
            continue
        pid, fields = int(entry), st[1]
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
        try:
            threads = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in threads:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and _JIT_THREAD in st[0]:
                total -= sum(int(x) for x in st[1][11:13]) / tick
    return total


def storage_held(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes held in memory + disk)."""
    jsc = spark.sparkContext._jsc
    held = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return int(jsc.getPersistentRDDs().size()), int(held)


class Tracer:
    """Opens spans under unique job groups and, when ``enabled``, reads
    each span's Spark counters once its work is done."""

    def __init__(self, spark, enabled: bool, run_tag: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self.op_snapshots: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # The open top-level op, so spans opened on other threads (the
        # HTTP handler, the streaming foreachBatch callback) attach to it.
        self.current_op: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = "span", **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.current_op
        sid = next(self._ids)
        sp = Span(
            span_id=sid,
            name=name,
            layer=layer,
            op_id=parent.op_id if parent else sid,
            parent=parent.span_id if parent else None,
            group=f"{self.run_tag}-{sid}",
            kind=kind,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            elif parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)
        if self.enabled and sp.parent is None:
            self.collect(sp)

    @contextlib.contextmanager
    def op(self, name: str, layer: str, **attrs):
        """A top-level timed operation of the workload's closed loop."""
        with self.span(name, layer, kind="op", **attrs) as sp:
            self.current_op = sp
            try:
                yield sp
            finally:
                self.current_op = None

    def collect(self, op: Span) -> None:
        """Fill counters for ``op`` and its descendants; snapshot storage."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for sp in self.spans:
            if sp.op_id == op.op_id and not sp.counters:
                sp.counters = self.group_counters(sp.group)
        persisted, held = storage_held(self.spark)
        op.attrs["persisted_rdds_after"] = persisted
        op.attrs["bytes_held_after"] = held

    def group_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
                c["output_records"] += sd.outputRecords()
        return c

    # -- aggregation ------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def subtree_counters(self, sp: Span) -> dict:
        total = dict(sp.counters) if sp.counters else dict.fromkeys(COUNTERS, 0)
        for ch in self.children(sp):
            for k, v in self.subtree_counters(ch).items():
                total[k] = total.get(k, 0) + v
        return total

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "op"]

    def subtree(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.op_id == sp.op_id]

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time per layer, summed over the measured ops' spans."""
        op_ids = {op.op_id for op in self.ops()}
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.op_id in op_ids:
                out[sp.layer] = out.get(sp.layer, 0.0) + self.self_seconds(sp)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = asdict(s)
            d["start"] = round(s.start - t0, 6)
            d["end"] = round(s.end - t0, 6)
            d["self_s"] = round(self.self_seconds(s), 6)
            rows.append(d)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": rows}, fh, indent=1, sort_keys=True)


def wrap_layers(tracer: Tracer) -> None:
    """Time the layer entry points that other layers call internally."""
    from export_oltp_to_olap_spark.operators import merge
    from export_oltp_to_olap_spark.plans import star
    from export_oltp_to_olap_spark.sources import parquet
    from export_oltp_to_olap_spark.streaming import cdc

    table = parquet.Catalog.table

    def traced_table(self, name):
        if name in self._cache:
            return table(self, name)
        with tracer.span(f"load:{name}", "sources"):
            return table(self, name)

    parquet.Catalog.table = traced_table

    merge_into = merge.merge_into_parquet

    def traced_merge(spark, new_rows, path, keys, tiebreak=()):
        import os

        before = _dir_bytes(path) if os.path.exists(path) else 0
        with tracer.span("merge_into_parquet", "operators.merge") as sp:
            merge_into(spark, new_rows, path, keys, tiebreak)
        sp.attrs["bytes_read"] = before
        sp.attrs["bytes_written"] = _dir_bytes(path)
        sp.attrs["table"] = os.path.basename(path)

    merge.merge_into_parquet = traced_merge

    for mod in (star, cdc):
        for fn_name in ("build_star", "merge_star"):
            setattr(mod, fn_name, _traced(tracer, getattr(star, fn_name), fn_name, "plans.star"))
    star.build_star_incremental = _traced(
        tracer, star.build_star_incremental, "build_star_incremental", "plans.star"
    )

    apply_events = cdc.apply_cdc_events

    def traced_apply(batch, oltp, target_dir, **kw):
        with tracer.span("apply_cdc_events", "streaming.cdc"):
            return apply_events(batch, oltp, target_dir, **kw)

    cdc.apply_cdc_events = traced_apply


def _traced(tracer: Tracer, fn, name: str, layer: str):
    def wrapper(*args, **kwargs):
        attrs = {"tables": list(kwargs["tables"])} if kwargs.get("tables") else {}
        with tracer.span(name, layer, **attrs):
            return fn(*args, **kwargs)

    return wrapper


def _dir_bytes(path: str) -> int:
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total
