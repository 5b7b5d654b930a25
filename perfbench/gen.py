"""Seeded inputs for the sync-and-query benchmark.

Two layers of input:

* the BASE fixture: TPC-H-shaped parquet tables (``region`` … ``lineitem``)
  plus a ``documents`` corpus, in the schemas the engine's fixture reader
  expects.  It is generated from a fixed seed, so every run of the
  benchmark syncs and maintains the same base data;
* the RUN inputs, all derived from ``--seed``: a mutated copy of the
  base source that changes only the records the ``/sync`` list and the
  CDC feed touch, the CDC feed files (one file per micro-batch), the
  ``/sync`` request list and the corpus maintenance batch.

Everything is written under one per-run directory.  The same seed gives
byte-identical files (see ``selftest.py``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Row counts at scale factor 1 (the fixture convention: sf0.1 has 600k
# lineitem rows and 5k documents).
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "documents": 50_000,
}

SOURCE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "spring"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query stream "
    "group filter big vector"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_EPOCH = np.datetime64("1995-01-01", "D")
_N_DAYS = (np.datetime64("2001-08-01", "D") - _EPOCH).astype(int)

# Base documents come in near-dup families of this size: one original
# text and its near-copies, so a batch touches the same kind of cluster
# whichever ids the seed picks.
FAMILY = 3

def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(_WORDS, int(rng.integers(40, 61))))


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """One or two word substitutions: 3-gram Jaccard stays around 0.8-0.95."""
    words = text.split()
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
    return " ".join(words)


def documents_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i % 5] for i in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def base_documents(n: int, rng: np.random.Generator) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i % FAMILY:
            texts.append(_near_copy(rng, texts[i - i % FAMILY]))
        else:
            texts.append(_doc_text(rng))
    return texts


def write_base(out_dir: str, sf: float) -> dict[str, int]:
    """Write the fixed-seed base fixture at scale factor ``sf``; return
    row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n = {k: max(int(v * sf), 10) for k, v in SF1_ROWS.items()}

    write_table(
        pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        f"{out_dir}/region.parquet",
    )
    write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    nc = n["customer"]
    write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(_SEGMENTS, nc),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    ns = n["supplier"]
    write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    npart = n["part"]
    keys = np.arange(npart)
    write_table(
        pa.table(
            {
                "p_partkey": pa.array(keys, pa.int64()),
                "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": rng.choice(_TYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    no = n["orders"]
    odays = rng.integers(0, _N_DAYS + 1, no)
    write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": rng.choice(_STATUS, no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _ts(odays),
                "o_orderpriority": rng.choice(_PRIORITY, no),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lok = np.repeat(np.arange(no), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    write_table(
        pa.table(
            {
                "l_orderkey": pa.array(lok, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(lnum, pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], nl),
                "l_linestatus": rng.choice(["F", "O"], nl),
                "l_shipdate": _ts(odays[lok] + rng.integers(1, 122, nl)),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    nd = n["documents"]
    write_table(
        documents_table(np.arange(nd), base_documents(nd, rng)),
        f"{out_dir}/documents.parquet",
    )
    return {**n, "lineitem": nl, "region": 5, "nation": 25}


# ---------------------------------------------------------------------------
# Run inputs (seeded)
# ---------------------------------------------------------------------------

# The source table behind each OLTP event table (the fixture adapter's
# mapping).  Mutations only touch non-key attributes, so a merge
# overwrites the stored row in place instead of leaving a stale grain row.
_EVENT_SOURCE = {
    "clientes": "customer",
    "categoria": "nation",
    "productos": "part",
    "orden": "orders",
    "ventas": "orders",
    "orden_producto": "lineitem",
}


SYNC_ORDER_LINES = 4


@dataclass
class SyncInputs:
    mut_dir: str
    feed_dir: str
    sync_requests: list[tuple[str, int]]
    feed_batches: list[list[dict]]


def write_sync_inputs(
    root: str,
    src_dir: str,
    seed: int,
    sync_tables: tuple[str, ...],
    feed_files: tuple[tuple[str, ...], ...],
) -> SyncInputs:
    """Seeded ``/sync`` list, CDC feed and the mutated source copy.

    ``sync_tables`` names the table of each ``/sync`` request and
    ``feed_files`` the event tables of each feed file (one micro-batch
    each); the seed picks the record ids.  The table mix is fixed by the
    caller so every seed costs the same kind of work.  The mutated copy
    rewrites exactly the records these events name (for
    ``orden_producto`` the line ids ``l_orderkey * 10 + l_linenumber``)."""
    rng = np.random.default_rng([seed, 1])
    tables = {t: pq.read_table(f"{src_dir}/{t}.parquet") for t in SOURCE_TABLES}
    counts = {t: tables[t].num_rows for t in SOURCE_TABLES}
    li = tables["lineitem"]
    op_ids = (
        li.column("l_orderkey").to_numpy() * 10 + li.column("l_linenumber").to_numpy()
    )

    # Orders are drawn among those with SYNC_ORDER_LINES lines, so every
    # seed's order slice has the same size.
    lok = li.column("l_orderkey").to_numpy()
    lines_per_order = np.bincount(lok, minlength=counts["orders"])
    same_shape_orders = np.flatnonzero(lines_per_order == SYNC_ORDER_LINES)

    def draw(table: str) -> int:
        src = _EVENT_SOURCE[table]
        if table == "orden_producto":
            return int(op_ids[int(rng.integers(0, len(op_ids)))])
        if src == "orders":
            return int(same_shape_orders[int(rng.integers(0, len(same_shape_orders)))])
        return int(rng.integers(0, counts[src]))

    sync_requests = [(t, draw(t)) for t in sync_tables]
    feed_batches = [
        [
            {
                "table": t,
                "op": "update",
                "record_id": draw(t),
                "ts": f"2026-01-01T00:{b:02d}:{e:02d}Z",
            }
            for e, t in enumerate(spec)
        ]
        for b, spec in enumerate(feed_files)
    ]

    changed: dict[str, set[int]] = {t: set() for t in _EVENT_SOURCE}
    for t, rid in sync_requests:
        changed[t].add(rid)
    for batch in feed_batches:
        for ev in batch:
            changed[ev["table"]].add(ev["record_id"])

    mut_dir = os.path.join(root, "src_mut")
    os.makedirs(mut_dir, exist_ok=True)
    out = dict(tables)
    stamp = f"s{seed}"

    def rewrite(table: pa.Table, col: str, mask: np.ndarray, values) -> pa.Table:
        arr = table.column(col).to_numpy(zero_copy_only=False).copy()
        arr[mask] = values(arr[mask])
        return table.set_column(table.schema.get_field_index(col), col, pa.array(arr, table.schema.field(col).type))

    def mask_for(table: str, key: str, ids: set[int]) -> np.ndarray:
        return np.isin(tables[table].column(key).to_numpy(), sorted(ids))

    out["customer"] = rewrite(
        out["customer"], "c_name", mask_for("customer", "c_custkey", changed["clientes"]),
        lambda v: np.array([f"{x} {stamp}" for x in v], dtype=object),
    )
    out["nation"] = rewrite(
        out["nation"], "n_name", mask_for("nation", "n_nationkey", changed["categoria"]),
        lambda v: np.array([f"{x} {stamp}" for x in v], dtype=object),
    )
    out["part"] = rewrite(
        out["part"], "p_name", mask_for("part", "p_partkey", changed["productos"]),
        lambda v: np.array([f"{x} {stamp}" for x in v], dtype=object),
    )
    order_ids = changed["orden"] | changed["ventas"]
    out["orders"] = rewrite(
        out["orders"], "o_totalprice", mask_for("orders", "o_orderkey", order_ids),
        lambda v: np.round(v * 1.1 + seed % 97, 2),
    )
    line_mask = np.isin(op_ids, sorted(changed["orden_producto"]))
    out["lineitem"] = rewrite(out["lineitem"], "l_quantity", line_mask, lambda v: v + 1.0)
    out["lineitem"] = rewrite(
        out["lineitem"], "l_extendedprice", line_mask, lambda v: np.round(v * 1.05, 2)
    )
    for t in SOURCE_TABLES:
        write_table(out[t], f"{mut_dir}/{t}.parquet")

    feed_dir = os.path.join(root, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    for b, batch in enumerate(feed_batches):
        with open(f"{feed_dir}/batch_{b:04d}.json", "w", encoding="utf-8") as fh:
            fh.write("".join(json.dumps(ev, sort_keys=True) + "\n" for ev in batch))
    with open(os.path.join(root, "sync_requests.json"), "w", encoding="utf-8") as fh:
        json.dump(sync_requests, fh)
    return SyncInputs(
        mut_dir=mut_dir,
        feed_dir=feed_dir,
        sync_requests=sync_requests,
        feed_batches=feed_batches,
    )


@dataclass
class MaintBatch:
    deleted: list[int]
    changed: dict[int, str]  # doc_id -> new text
    new: dict[int, str]  # doc_id (above every base id) -> text


def maintenance_batch(
    seed: int,
    base_texts: list[str],
    n_deleted: int,
    n_changed: int,
    n_new: int,
) -> MaintBatch:
    """A seeded CDC batch over the standing corpus.

    Every deleted, changed or copied-from doc is the first near-copy in a
    family of its own, so the batch touches the same kind and number of
    clusters whichever families the seed picks.  Half the changed docs
    are re-written as near-copies of a doc in another family (two
    clusters merge), half get fresh text (their cluster splits).  New
    docs take ids above every base id — the append delta's precondition
    — and half of them are near-copies of base docs."""
    rng = np.random.default_rng([seed, 3])
    n = len(base_texts)
    n_copies = (n_changed + 1) // 2 + (n_new + 1) // 2
    families = rng.choice(n // FAMILY, n_deleted + n_changed + n_copies, replace=False)
    # Position 1 of a family is a near-copy of its original (position 0).
    ids = [int(f) * FAMILY + 1 for f in families]
    sources = iter(ids[n_deleted + n_changed :])
    changed = {
        i: _near_copy(rng, base_texts[next(sources)]) if j % 2 == 0 else _doc_text(rng)
        for j, i in enumerate(sorted(ids[n_deleted : n_deleted + n_changed]))
    }
    new = {
        n + j: _near_copy(rng, base_texts[next(sources)]) if j % 2 == 0 else _doc_text(rng)
        for j in range(n_new)
    }
    return MaintBatch(deleted=sorted(ids[:n_deleted]), changed=changed, new=new)


def write_maintenance_batch(root: str, batch: MaintBatch) -> None:
    with open(os.path.join(root, "maint_batch.json"), "w", encoding="utf-8") as fh:
        json.dump(
            {
                "deleted": batch.deleted,
                "changed": {str(k): v for k, v in sorted(batch.changed.items())},
                "new": {str(k): v for k, v in sorted(batch.new.items())},
            },
            fh,
            sort_keys=True,
        )
