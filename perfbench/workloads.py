"""The benchmark's workloads: setup, one closed-loop pass, output checks.

Each workload is one client issuing one call at a time.  ``setup`` builds
the fixtures and warms the session; ``run_pass`` issues one pass of timed
calls (each under ``Tracer.op``); ``check`` verifies the outputs after the
timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from spans import Tracer

SF = 0.01


def tables_hash(frames: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """Order-insensitive (row count, sum of row hashes) of each frame, over
    every column, in one job.

    Hashing every column materializes the whole frame, so this doubles as
    the action that runs a call's plan."""
    parts = [
        df.select(
            F.lit(name).alias("t"),
            F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("h"),
        )
        for name, df in frames.items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    )
    got = {r["t"]: (int(r["n"]), int(r["s"])) for r in rows.collect()}
    return {name: got.get(name, (0, 0)) for name in frames}


def frame_hash(df: DataFrame) -> tuple[int, int]:
    return tables_hash({"": df})[""]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.failed_ops: set[int] = set()
        self.checks: list[dict] = []

    def fail(self, op_span, why: str) -> None:
        self.failed_ops.add(op_span.span_id)
        self.checks.append({"op": op_span.name, "ok": False, "why": why})

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# star_sync
# ---------------------------------------------------------------------------


class StarSync(Workload):
    """The reference's sync lifecycle on a warm session.

    Setup generates the source, makes the initial full load on the
    ``once`` path (``load_oltp`` → ``build_star`` → ``merge_star`` into an
    empty target, which also warms the session) and starts an in-process
    ``ops_http`` server over ``cli.make_sync_runner``.  One pass is one
    ``/sync?table=orden&id=…`` request (a fact record: the slice is
    rebuilt and all seven tables are merged) followed by the drain of one
    CDC feed file (two ``clientes`` and two ``productos`` events, one
    micro-batch routed to two dimension merges) through ``start_cdc_stream(available_now)``.  Every pass
    replays the same seeded request and feed file, so the source changes
    once and later passes re-apply it idempotently."""

    name = "star_sync"
    SYNC_TABLES = ("orden",)
    FEED_FILES = (("clientes", "productos", "clientes", "productos"),)

    def setup(self) -> None:
        from export_oltp_to_olap_spark import cli
        from export_oltp_to_olap_spark.ops_http import start_ops_server
        from export_oltp_to_olap_spark.plans import star

        self.base_dir = os.path.join(self.work, "src")
        self.sizes = gen.write_base(self.base_dir, SF)
        self.inputs = gen.write_sync_inputs(
            self.work, self.base_dir, self.seed, self.SYNC_TABLES, self.FEED_FILES
        )
        self.target = os.path.join(self.work, "star")
        t = time.perf_counter()
        with self.tracer.span("initial_full_sync", "plans.star"):
            oltp = cli.load_oltp(self.spark, self.base_dir)
            star.merge_star(
                self.spark, star.build_star(oltp, sk_mode="xxhash64"), self.target
            )
        self.initial_full_sync_s = time.perf_counter() - t
        runner = cli.make_sync_runner(self.spark, self.inputs.mut_dir, self.target)
        self.runner_s: list[float] = []

        def timed_runner(table, op, record_id):
            with self.tracer.span("sync_runner", "ops_http.runner") as sp:
                out = runner(table, op, record_id)
            self.runner_s.append(sp.seconds)
            return out

        self.server = start_ops_server(
            "127.0.0.1", 0, os.path.join(self.work, "worker_status.json"), timed_runner
        )
        self.port = self.server.server_address[1]
        self.sync_s: list[float] = []
        self.http_overhead_s: list[float] = []
        self.cdc_progress: list[dict] = []
        self.drain_s: list[float] = []
        self.drain_events: list[int] = []
        self.passes = 0

    def run_pass(self) -> None:
        from export_oltp_to_olap_spark import cli
        from export_oltp_to_olap_spark.streaming.cdc import start_cdc_stream

        p = self.passes
        self.passes += 1
        for table, rid in self.inputs.sync_requests:
            url = f"http://127.0.0.1:{self.port}/sync?table={table}&id={rid}"
            n_runner = len(self.runner_s)
            with self.tracer.op("sync_request", "ops_http", rows_changed=1) as op:
                try:
                    with urllib.request.urlopen(url, timeout=170) as resp:
                        body = json.loads(resp.read())
                    ok = resp.status == 200 and body.get("returncode") == 0
                except Exception as e:  # HTTP 500 carries the runner's error
                    ok, body = False, {"error": repr(e)}
            if not ok:
                self.fail(op, f"/sync {table} {rid}: {body}")
                continue
            self.sync_s.append(op.seconds)
            if len(self.runner_s) > n_runner:
                self.http_overhead_s.append(op.seconds - self.runner_s[-1])

        feed = os.path.join(self.work, f"feed_pass{p}")
        os.makedirs(feed)
        for f in sorted(os.listdir(self.inputs.feed_dir)):
            shutil.copy(os.path.join(self.inputs.feed_dir, f), feed)
        n_events = sum(len(b) for b in self.inputs.feed_batches)
        distinct = {(e["table"], e["record_id"]) for b in self.inputs.feed_batches for e in b}
        with self.tracer.op("cdc_drain", "streaming.cdc", rows_changed=len(distinct)) as op:
            try:
                oltp = cli.load_oltp(self.spark, self.inputs.mut_dir)
                q = start_cdc_stream(
                    self.spark,
                    feed,
                    oltp,
                    self.target,
                    os.path.join(self.work, f"ckpt_pass{p}"),
                    available_now=True,
                    max_files_per_trigger=1,
                )
                q.awaitTermination()
                err = q.exception()
                progress = [json.loads(pr.json) for pr in q.recentProgress]
            except Exception as e:
                err, progress = e, []
        if err is not None:
            self.fail(op, f"cdc drain: {err}")
            return
        batches = [pr for pr in progress if pr.get("numInputRows", 0) > 0]
        if sum(pr["numInputRows"] for pr in batches) != n_events:
            read = sum(pr["numInputRows"] for pr in batches)
            self.fail(op, f"cdc drain read {read} rows, feed has {n_events}")
            return
        self.cdc_progress.extend(batches)
        self.drain_s.append(op.seconds)
        self.drain_events.append(n_events)

    def check(self) -> None:
        """The stored star equals a fresh xxhash64 build of the mutated
        source, table by table."""
        from export_oltp_to_olap_spark import cli
        from export_oltp_to_olap_spark.plans import star

        fresh = star.build_star(
            cli.load_oltp(self.spark, self.inputs.mut_dir), sk_mode="xxhash64"
        ).tables()
        stored = {
            name: self.spark.read.parquet(star.star_table_path(self.target, name)).select(
                *df.columns
            )
            for name, df in fresh.items()
        }
        h = tables_hash(
            {**{f"stored:{n}": df for n, df in stored.items()},
             **{f"fresh:{n}": df for n, df in fresh.items()}}
        )
        bad = [
            f"{n}: stored {h['stored:' + n]} != fresh {h['fresh:' + n]}"
            for n in fresh
            if h["stored:" + n] != h["fresh:" + n]
        ]
        ok = not bad
        self.checks.append({"op": "star_converges", "ok": ok, "why": "; ".join(bad)})
        if not ok:
            # The stored star is the combined output of every sync op.
            self.failed_ops.update(s.span_id for s in self.tracer.ops())

    def named_metrics(self) -> dict:
        trig = [pr["durationMs"]["triggerExecution"] / 1e3 for pr in self.cdc_progress]
        events = sum(self.drain_events)
        return {
            "incr_sync_p50_s": (median(self.sync_s), "s", len(self.sync_s)),
            "cdc_batch_p50_s": (median(trig), "s", len(trig)),
            "cdc_events_per_s": (
                events / sum(self.drain_s) if self.drain_s else 0.0,
                "events/s",
                events,
            ),
            "initial_full_sync_s": (self.initial_full_sync_s, "s", 1),
        }

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()


# ---------------------------------------------------------------------------
# corpus_maintenance
# ---------------------------------------------------------------------------


class CorpusMaintenance(Workload):
    """A seeded CDC batch over the standing near-dup artifacts.

    Setup builds the standing state over the base corpus — the cluster
    map, the shingle-set table and the band index
    (``neardup_standing_index``), staged — and one seeded
    batch: deletes, re-written docs and inserts with ids above every base
    id.  One pass is one ``neardup_clusters_upsert`` call applying the
    batch to the standing map (the fused operator that covers the append
    delta and the retract as special cases)."""

    name = "corpus_maintenance"
    BATCH = (10, 10, 10)  # deleted, re-written, inserted docs
    CALLS = ("neardup_clusters_upsert",)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from export_oltp_to_olap_spark.operators import neardup
        from export_oltp_to_olap_spark.operators.staging import stage
        from export_oltp_to_olap_spark.sources.parquet import Catalog

        self.base_dir = os.path.join(self.work, "src")
        self.sizes = gen.write_base(self.base_dir, SF)
        texts = pq.read_table(os.path.join(self.base_dir, "documents.parquet")).column(
            "text"
        ).to_pylist()
        batch = gen.maintenance_batch(self.seed, texts, *self.BATCH)
        gen.write_maintenance_batch(self.work, batch)
        upserts = {**batch.changed, **batch.new}
        gone = set(batch.deleted) | set(batch.changed)
        post = {i: t for i, t in enumerate(texts) if i not in gone}
        post.update(upserts)
        self.post_dir = os.path.join(self.work, "post")
        os.makedirs(self.post_dir)
        ids = sorted(post)
        gen.write_table(
            gen.documents_table(ids, [post[i] for i in ids]),
            os.path.join(self.post_dir, "documents.parquet"),
        )

        spark = self.spark
        with self.tracer.span("standing_state", "operators.neardup"):
            self.docs = Catalog(spark, self.base_dir).table("documents").select(
                "doc_id", "text"
            )
            sets, bands = neardup.neardup_standing_index(self.docs)
            self.labels = stage(neardup.minhash_neardup_clusters(self.docs))
            self.sets = stage(sets)
            self.bands = stage(bands)
        self.deleted = spark.createDataFrame([(i,) for i in batch.deleted], "doc_id long")
        self.upserts = spark.createDataFrame(sorted(upserts.items()), "doc_id long, text string")
        self.hashes: dict[str, tuple[int, int]] = {}
        self.pass_s: list[float] = []

    def run_pass(self) -> None:
        from export_oltp_to_olap_spark.operators import neardup

        (call,) = self.CALLS
        with self.tracer.op(call, "maint") as op:
            try:
                with self.tracer.span("build", "face.build"):
                    df = neardup.neardup_clusters_upsert(
                        self.docs,
                        self.labels,
                        self.upserts,
                        self.deleted,
                        standing_sets=self.sets,
                        standing_bands=self.bands,
                    )
                with self.tracer.span("action", "face.action"):
                    self.hashes[call] = frame_hash(df)
            except Exception as e:
                self.fail(op, f"{call}: {e!r}")
        if op.span_id not in self.failed_ops:
            self.pass_s.append(op.seconds)

    def check(self) -> None:
        """The maintained cluster map equals the DuckDB oracle of the
        registered ``neardup_clusters`` face (its recursive-CTE full
        rebuild) over the post-batch corpus."""
        import duckdb

        from export_oltp_to_olap_spark import registry

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.post_dir, 'documents.parquet')}')"
        )
        rows = con.execute(registry.oracle_sql()["neardup_clusters"]).fetchall()
        con.close()
        want = frame_hash(
            self.spark.createDataFrame(rows, "doc_id long, canonical_id long, cluster_size long")
        )
        for call in self.CALLS:
            got = self.hashes.get(call)
            ok = got == want
            self.checks.append(
                {"op": call, "ok": ok, "why": "" if ok else f"got {got} want {want}"}
            )
            if not ok:
                self.failed_ops.update(s.span_id for s in self.tracer.ops() if s.name == call)

    def named_metrics(self) -> dict:
        return {"maint_pass_s": (median(self.pass_s), "s", len(self.pass_s))}


WORKLOADS = {w.name: w for w in (StarSync, CorpusMaintenance)}
