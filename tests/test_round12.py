"""Round-12 contracts: the winnowing recall audit (the third lexical
family data card), a cross-engine pin on the winnowing CANDIDATE set
(the r11 banding bug's lesson applied to the last undiffed lexical
candidate generator), and the audit faces' eager cache release."""

from __future__ import annotations

import pytest
import duckdb

from export_oltp_to_olap_spark.operators import neardup, winnow
from export_oltp_to_olap_spark.plans import text_queries
from export_oltp_to_olap_spark.sources.parquet import load_tables


def _docs(spark, sf001):
    return load_tables(spark, sf001, ("documents",))["documents"]


def test_winnow_candidate_parity_cross_engine(spark, sf001):
    """The winnowing clone-signal CANDIDATE pair set must equal the
    DuckDB restatement exactly — candidate-set diffs are the check the
    r11 minhash banding fix proved necessary (a misaligned candidate
    stage hid for ten rounds behind verified outputs)."""
    docs = _docs(spark, sf001).select("doc_id", "text")
    spark_pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in winnow.winnow_candidate_pairs(docs).collect()
    )
    con = duckdb.connect()
    con.register("documents_arrow", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_arrow")
    sql = (
        "WITH "
        + neardup.shingle_cte()  # provides the shared `toks` CTE
        + ",\n"
        + winnow.winnow_candidate_ctes()
        + "\nSELECT doc_a, doc_b FROM candidates"
    )
    duck_pairs = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()
    assert spark_pairs, "fixture produced no candidate pairs — weak test"
    assert spark_pairs == duck_pairs


def test_winnow_recall_audit_planted(spark):
    """Planted corpus: identical twins share every fingerprint (same
    grams, same positions) so the clone signal must recall their band-10
    truth pair; the unrelated doc contributes no truth pair; the band −1
    row's two counts agree by construction."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base),  # identical twin: jaccard 1.0, identical fingerprints
        (3, base.replace("kappa", "zzz")),  # near twin: shared substrings
        (4, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["band"]: r for r in neardup.winnow_recall_audit(docs).collect()}
    assert 10 in out, out
    assert out[10]["n_pairs"] == out[10]["n_recalled"] == 1
    for band, r in out.items():
        assert r["n_recalled"] <= r["n_pairs"]
        if band >= 0:
            assert 5 <= band <= 10
        else:
            assert r["n_pairs"] == r["n_recalled"]  # all candidates


def test_recall_audits_release_their_cache(spark, sf001):
    """VERDICT r11 item 5: the audit faces localCheckpoint their ≤12-row
    result and unpersist the shared shingle-set cache before returning,
    so no storage blocks outlive the call and evict neighbours
    mid-bench."""
    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    docs = _docs(spark, sf001)
    before = persistent_ids()
    for fn in (
        neardup.lsh_recall_audit,
        neardup.simhash_recall_audit,
        neardup.winnow_recall_audit,
    ):
        out = fn(docs)
        assert out.count() >= 2  # already materialized; count is trivial
    after = persistent_ids()
    # localCheckpoint RDDs of the tiny result frames are reference-held
    # until GC; what must NOT remain is the shingle-set cache, which is
    # the only persist() these faces issue.  The storage delta therefore
    # may contain only the three ≤12-row checkpoint RDDs.
    leaked = after - before
    assert len(leaked) <= 3, f"audit faces leaked cached RDDs: {leaked}"


def test_fuzzy_decontam_precision_and_split_membership(spark, sf001):
    """Every flagged pair must be a TRUE >=0.5-Jaccard train×test pair
    with exact evidence (precision is exact — the verify stage runs on
    raw shingles), and the published integers must recompute from a
    pure-Python shingle intersection."""
    from export_oltp_to_olap_spark.operators import decontam
    from export_oltp_to_olap_spark.operators.sampling import assign_splits

    docs = _docs(spark, sf001)
    flagged = decontam.fuzzy_decontam_pairs(docs).collect()
    splits = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs.select("doc_id"), "doc_id").collect()
    }
    import re

    tok_re = re.compile(r"[^a-z0-9]+")
    sets = {}
    for r in docs.select("doc_id", "text").collect():
        ts = [t for t in tok_re.split(r["text"].lower()) if t]
        sets[r["doc_id"]] = {
            " ".join(ts[i : i + 3]) for i in range(len(ts) - 2)
        }
    # exact truth: every >=0.5 train×test pair
    truth = {}
    train = [d for d, s in splits.items() if s == "train" and sets.get(d)]
    evald = [d for d, s in splits.items() if s == "test" and sets.get(d)]
    for a in train:
        for b in evald:
            c = len(sets[a] & sets[b])
            un = len(sets[a]) + len(sets[b]) - c
            if un and 2 * c >= un:
                truth[(a, b)] = (c, un, c * 1_000_000 // un)
    got = {
        (r["train_id"], r["eval_id"]): (
            r["n_common"],
            r["union_sz"],
            r["jaccard_millionths"],
        )
        for r in flagged
    }
    assert set(got) <= set(truth), "flagged a pair the exact truth rejects"
    for k, v in got.items():
        assert v == truth[k], (k, v, truth[k])
    for a, b in got:
        assert splits[a] == "train" and splits[b] == "test"


def test_source_novelty_conservation(spark, sf001):
    """Σ n_novel over sources = the corpus's distinct 3-gram count
    (each distinct gram is first-seen exactly once), and the millionths
    column is the exact integer floor."""
    from pyspark.sql import functions as F

    from export_oltp_to_olap_spark.functions.text import word_shingles

    docs = _docs(spark, sf001)
    rows = text_queries.source_novelty_profile(docs).collect()
    distinct_grams = (
        docs.select(F.explode(word_shingles("text", 3)).alias("g"))
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == distinct_grams
    for r in rows:
        assert 0 < r["n_novel"] <= r["n_gram_rows"]
        assert (
            r["novelty_millionths"]
            == r["n_novel"] * 1_000_000 // r["n_gram_rows"]
        )
    # the signal varies across sources on the fixture (weak-oracle rule)
    assert len({r["novelty_millionths"] for r in rows}) > 1


def test_round12_faces_plan_flags_clean(spark, sf0001):
    """CI pin: the round-12 registrations carry no cartesian products
    and no unexpected sort-merge joins (the plan_audit sweep that the
    judge's review runs, pinned at fixture scale)."""
    from export_oltp_to_olap_spark.plan_audit import audit_plans

    rows = audit_plans(
        spark,
        sf0001,
        names=[
            "fuzzy_decontam_pairs",
            "source_novelty_profile",
            "source_novelty_delta",
        ],
    )
    for r in rows:
        assert r["flags"] == [], r


def test_cosine_lsh_recall_audit_structure(spark, sf001):
    """The semantic recall card's invariants: bands are cosine deciles
    ≥ the 0.4 truth line (or the −1 wasted row), recall never exceeds
    truth, and the wasted row's two counts agree by construction."""
    from export_oltp_to_olap_spark.operators import similarity as S
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    emb = load_tables(spark, sf001, ("embeddings",))["embeddings"]
    rows = {r["band"]: r for r in S.cosine_lsh_recall_audit(emb).collect()}
    assert rows, "no audit rows at all"
    for band, r in rows.items():
        assert r["n_recalled"] <= r["n_pairs"]
        if band >= 0:
            assert 4 <= band <= 10
        else:
            assert r["n_pairs"] == r["n_recalled"]


def test_source_novelty_delta_cut_sweep(spark, sf001):
    """Incremental ≡ rebuild at several cut points (the delta-face
    sweep convention): first-seen attribution is immutable under
    id-monotone appends, so the merged summary must equal the full
    profile exactly at every cut."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf001)
    full = {tuple(r) for r in text_queries.source_novelty_profile(docs).collect()}
    max_id = docs.agg(F.max("doc_id")).first()[0]
    for frac in (0.0, 0.5, 0.97):
        cut = int(frac * max_id)
        standing = docs.where(F.col("doc_id") <= cut)
        delta = docs.where(F.col("doc_id") > cut)
        merged = {
            tuple(r)
            for r in text_queries.source_novelty_delta(
                delta,
                text_queries.novelty_standing_grams(standing),
                text_queries.novelty_standing_counts(standing),
            ).collect()
        }
        assert merged == full, frac


def test_fuzzy_decontam_gate_batch_parity(spark, sf001):
    """The at-ingest gate under the frozen eval index reproduces the
    batch face exactly (after the documented at-least-once dedup): same
    pairs, same integer evidence."""
    from pyspark.sql import functions as F

    from export_oltp_to_olap_spark.operators import decontam
    from export_oltp_to_olap_spark.operators.sampling import assign_splits

    docs = _docs(spark, sf001)
    assigned = assign_splits(docs.select("doc_id", "text"), "doc_id")
    train = assigned.where(F.col("split") == "train").drop("split")
    eval_docs = assigned.where(F.col("split") == "test").drop("split")
    bands, esets = decontam.fuzzy_eval_index(eval_docs)
    got = {
        tuple(r)
        for r in decontam.fuzzy_decontam_at_ingest(train, bands, esets)
        .dropDuplicates(["train_id", "eval_id"])
        .collect()
    }
    want = {tuple(r) for r in decontam.fuzzy_decontam_pairs(docs).collect()}
    assert got == want and want, (len(got), len(want))


def test_fuzzy_decontam_gate_streams(spark, sf001, tmp_path):
    """Stream ≡ batch for the fuzzy gate: stateless band keys + two
    stream-static broadcast joins are append-mode legal; the file-feed
    fixture replays the train split in three batches."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from export_oltp_to_olap_spark.operators import decontam
    from export_oltp_to_olap_spark.operators.sampling import assign_splits

    docs = _docs(spark, sf001)
    assigned = assign_splits(docs.select("doc_id", "text"), "doc_id")
    train = assigned.where(F.col("split") == "train").drop("split")
    eval_docs = assigned.where(F.col("split") == "test").drop("split")
    bands, esets = decontam.fuzzy_eval_index(eval_docs)
    # freeze the static sides (production persists them as parquet)
    bands = spark.createDataFrame(bands.collect(), bands.schema)
    esets = spark.createDataFrame(esets.collect(), esets.schema)
    rows = train.collect()
    feed = tmp_path / "feed"
    feed.mkdir()
    chunks = [rows[:77], rows[77:200], rows[200:]]
    for i, chunk in enumerate(chunks):
        with open(feed / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        _os.utime(feed / f"b{i}.json", (1_700_000_000 + i, 1_700_000_000 + i))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(feed))
    out = []
    q = (
        decontam.fuzzy_decontam_at_ingest(stream, bands, esets)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["train_id"], r["eval_id"]): tuple(r) for r in out}
    want = {
        (r["train_id"], r["eval_id"]): tuple(r)
        for r in decontam.fuzzy_decontam_pairs(docs).collect()
    }
    assert got == want and want


def test_fuzzy_index_cli_roundtrip(spark, sf001, tmp_path):
    """`cli fuzzy-index` persists the frozen eval index; the at-ingest
    gate under the CLI-written artifacts reproduces the batch face
    (the eval-hashes compute-once contract, near-dup class)."""
    from export_oltp_to_olap_spark import cli
    from export_oltp_to_olap_spark.operators import decontam
    from export_oltp_to_olap_spark.operators.sampling import assign_splits
    from pyspark.sql import functions as F

    out = tmp_path / "fuzzy_index"
    rc = cli.main(
        ["fuzzy-index", "--source-dir", sf001, "--out", str(out)], spark=spark
    )
    assert rc == 0
    bands = spark.read.parquet(str(out / "bands.parquet"))
    esets = spark.read.parquet(str(out / "sets.parquet"))
    docs = _docs(spark, sf001)
    train = (
        assign_splits(docs.select("doc_id", "text"), "doc_id")
        .where(F.col("split") == "train")
        .drop("split")
    )
    got = {
        tuple(r)
        for r in decontam.fuzzy_decontam_at_ingest(train, bands, esets)
        .dropDuplicates(["train_id", "eval_id"])
        .collect()
    }
    want = {tuple(r) for r in decontam.fuzzy_decontam_pairs(docs).collect()}
    assert got == want and want


def test_vacuum_keep_zero_is_a_usage_error():
    """ADVICE r11: ``table-versions --vacuum-keep 0`` must be a clean
    argparse usage error (exit 2), not an uncaught ValueError traceback
    out of vacuum_versions."""
    import pytest

    from export_oltp_to_olap_spark import cli

    with pytest.raises(SystemExit) as e:
        cli.build_parser().parse_args(
            ["table-versions", "--root", "/tmp/x", "--vacuum-keep", "0"]
        )
    assert e.value.code == 2
    # a valid value still parses
    ns = cli.build_parser().parse_args(
        ["table-versions", "--root", "/tmp/x", "--vacuum-keep", "3"]
    )
    assert ns.vacuum_keep == 3


def test_vocab_artifact_excludes_the_rare_class(spark, sf001, tmp_path):
    """VERDICT r11 item 4: the frozen pruning artifact must store only
    the bounded 0/1 df-bands — the -1 (rare) class is the corpus-sized
    tail the apply gate reconstructs via its unseen→-1 default, and
    dropping it must not change a single published row."""
    docs = load_tables(spark, sf001, ("documents",))["documents"]
    art = tmp_path / "vocab_classes.parquet"
    classes = text_queries.vocab_class_table(docs)
    n_rare = classes.where("cls = -1").count()
    assert n_rare > 0, "fixture has no rare tokens — boundedness untestable"
    text_queries.save_vocab_classes(classes, str(art))
    vocab = text_queries.load_vocab_classes(str(art))
    assert set(vocab.values()) <= {0, 1}, "artifact still stores the -1 class"
    assert len(vocab) == classes.where("cls != -1").count()
    got = {
        r["doc_id"]: tuple(r)
        for r in text_queries.vocab_prune_at_ingest(docs, vocab).collect()
    }
    want = {
        r["doc_id"]: tuple(r)
        for r in text_queries.vocab_prune_rewrite(docs).collect()
    }
    assert got == want


def test_vocab_prune_at_ingest_null_text_parity(spark):
    """ADVICE r11: a NULL text row must not crash the streaming gate —
    it publishes the zeros + md5('') row the batch face produces for
    token-less docs."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, None), (3, "")],
        "doc_id LONG, text STRING",
    )
    vocab = {
        r["tok"]: r["cls"]
        for r in text_queries.vocab_class_table(
            docs.where("text IS NOT NULL")
        ).collect()
    }
    got = {
        r["doc_id"]: tuple(r)
        for r in text_queries.vocab_prune_at_ingest(docs, vocab).collect()
    }
    want = {
        r["doc_id"]: tuple(r)
        for r in text_queries.vocab_prune_rewrite(docs).collect()
    }
    assert got == want
    import hashlib

    empty = hashlib.md5(b"").hexdigest()
    assert got[2] == (2, 0, 0, 0, 0, empty)
    assert got[3] == (3, 0, 0, 0, 0, empty)
