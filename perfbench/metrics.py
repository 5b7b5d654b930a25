"""Per-layer metrics of a traced run.

Every metric is reported for every workload, so a workload that never
reaches a layer reports 0 for it (that is the bypass evidence).  "Per op"
metrics are medians over the measured ops that reach the layer; the sums
are taken over each op's span subtree.
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, Span, Tracer
from workloads import CorpusMaintenance

MAINT_CALLS = CorpusMaintenance.CALLS

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "sources.load_s": ("s", "lower"),
    "sources.load_jobs": ("count", "lower"),
    "face.build_s": ("s", "lower"),
    "face.build_jobs": ("count", "lower"),
    "face.action_s": ("s", "lower"),
    "star.build_s": ("s", "lower"),
    "star.build_jobs": ("count", "lower"),
    "star.merge_s": ("s", "lower"),
    "star.bytes_written": ("bytes", "lower"),
    "star.rows_written_per_row_changed": ("ratio", "lower"),
    "merge.calls": ("count", "lower"),
    "merge.s": ("s", "lower"),
    "merge.bytes_read": ("bytes", "lower"),
    "merge.bytes_written": ("bytes", "lower"),
    "cdc.batches": ("count", "lower"),
    "cdc.trigger_ms": ("ms", "lower"),
    "cdc.add_batch_ms": ("ms", "lower"),
    "cdc.apply_s": ("s", "lower"),
    "cdc.tables_merged_per_batch": ("count", "lower"),
    "cdc.full_sync_fallbacks": ("count", "lower"),
    "http.overhead_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.output_bytes": ("bytes", "lower"),
    "spark.core_busy_ratio": ("ratio", "higher"),
    "staging.persisted_rdds_after": ("count", "lower"),
    "staging.bytes_held_after": ("bytes", "lower"),
    "staging.held_growth_per_pass": ("count", "lower"),
    **{
        f"maint.{call}.{m}": (unit, "lower")
        for call in MAINT_CALLS
        for m, unit in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))
    },
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer: Tracer, wl, storage_before: tuple[int, int], cores: int) -> dict:
    ops = tracer.ops()
    tree = {op.span_id: tracer.subtree(op) for op in ops}

    def spans_of(op: Span, layer: str, name: str | None = None) -> list[Span]:
        return [
            s
            for s in tree[op.span_id]
            if s.layer == layer and (name is None or s.name == name)
        ]

    def per_op(layer: str, value, name: str | None = None) -> float:
        """Median over ops reaching ``layer`` of ``value(spans in op)``."""
        vals = []
        for op in ops:
            spans = spans_of(op, layer, name)
            if spans:
                vals.append(value(spans))
        return _median(vals)

    def secs(spans):
        return sum(s.seconds for s in spans)

    def counter(key):
        return lambda spans: sum(tracer.subtree_counters(s)[key] for s in spans)

    def attr(key):
        return lambda spans: sum(s.attrs.get(key, 0) for s in spans)

    m: dict[str, float] = {}
    m["sources.load_s"] = per_op("sources", secs)
    m["sources.load_jobs"] = per_op("sources", counter("jobs"))
    m["face.build_s"] = per_op("face.build", secs)
    m["face.build_jobs"] = per_op("face.build", counter("jobs"))
    m["face.action_s"] = per_op("face.action", secs)

    def outer_star(op: Span, name_set) -> list[Span]:
        """Outermost plans.star spans of the given names (builds nest)."""
        spans = [s for s in spans_of(op, "plans.star") if s.name in name_set]
        ids = {s.span_id for s in spans}
        return [s for s in spans if s.parent not in ids]

    builds = ("build_star", "build_star_incremental")
    m["star.build_s"] = _median(
        secs(outer_star(op, builds)) for op in ops if outer_star(op, builds)
    )
    m["star.build_jobs"] = _median(
        counter("jobs")(outer_star(op, builds)) for op in ops if outer_star(op, builds)
    )
    m["star.merge_s"] = per_op("plans.star", secs, "merge_star")
    merge_rows = []
    for op in ops:
        merges = spans_of(op, "operators.merge")
        if merges and op.attrs.get("rows_changed"):
            rows = counter("output_records")(merges)
            merge_rows.append(rows / op.attrs["rows_changed"])
    m["star.rows_written_per_row_changed"] = _median(merge_rows)
    m["star.bytes_written"] = per_op("operators.merge", attr("bytes_written"))
    m["merge.calls"] = per_op("operators.merge", len)
    m["merge.s"] = per_op("operators.merge", secs)
    m["merge.bytes_read"] = per_op("operators.merge", attr("bytes_read"))
    m["merge.bytes_written"] = m["star.bytes_written"]

    progress = getattr(wl, "cdc_progress", [])
    applies = [s for s in tracer.spans if s.name == "apply_cdc_events"]
    m["cdc.batches"] = float(len(progress))
    m["cdc.trigger_ms"] = _median(p["durationMs"]["triggerExecution"] for p in progress)
    m["cdc.add_batch_ms"] = _median(p["durationMs"].get("addBatch", 0) for p in progress)
    m["cdc.apply_s"] = _median(s.seconds for s in applies)
    in_apply = {
        a.span_id: [
            s for s in tracer.spans if s.op_id == a.op_id and _under(tracer, s, a)
        ]
        for a in applies
    }
    m["cdc.tables_merged_per_batch"] = _median(
        sum(1 for s in spans if s.name == "merge_into_parquet") for spans in in_apply.values()
    )
    m["cdc.full_sync_fallbacks"] = float(
        sum(
            1
            for spans in in_apply.values()
            for s in spans
            if s.name == "merge_star" and "tables" not in s.attrs
        )
    )
    m["http.overhead_s"] = _median(getattr(wl, "http_overhead_s", []))

    op_counters = [tracer.subtree_counters(op) for op in ops]
    for key in COUNTERS:
        if key != "output_records":
            m[f"spark.{key}"] = _median(c[key] for c in op_counters)
    m["spark.core_busy_ratio"] = _median(
        c["executor_run_s"] / (op.seconds * cores) for c, op in zip(op_counters, ops)
    )

    snaps = tracer.op_snapshots
    last = snaps[-1] if snaps else {"persisted_rdds": 0, "bytes_held": 0}
    m["staging.persisted_rdds_after"] = float(last["persisted_rdds"])
    m["staging.bytes_held_after"] = float(last["bytes_held"])
    m["staging.held_growth_per_pass"] = (
        (last["persisted_rdds"] - storage_before[0]) / len(snaps) if snaps else 0.0
    )

    for call in MAINT_CALLS:
        mine = [op for op in ops if op.name == call]
        cs = [tracer.subtree_counters(op) for op in mine]
        m[f"maint.{call}.s"] = _median(op.seconds for op in mine)
        m[f"maint.{call}.jobs"] = _median(c["jobs"] for c in cs)
        m[f"maint.{call}.shuffle_bytes"] = _median(
            c["shuffle_read_bytes"] + c["shuffle_write_bytes"] for c in cs
        )

    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return {k: {"value": m[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def _under(tracer: Tracer, sp: Span, ancestor: Span) -> bool:
    by_id = {s.span_id: s for s in tracer.spans}
    cur = sp
    while cur is not None and cur.parent is not None:
        if cur.parent == ancestor.span_id:
            return True
        cur = by_id.get(cur.parent)
    return False
