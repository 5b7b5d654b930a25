"""Semantics of near-dup cluster canonicalization, its one maintenance
operator (`neardup_clusters_upsert`: append, delete and mixed CDC
batches) and the ordered funnel — the properties the oracle match alone
doesn't isolate."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators import neardup
from export_oltp_to_olap_spark.operators.neardup import neardup_clusters
from export_oltp_to_olap_spark.plans.events import funnel_stages
from export_oltp_to_olap_spark.sources.parquet import load_tables


def test_clusters_are_transitive_and_keep_singletons(spark):
    """A-B and B-C pairs (no A-C edge) must collapse into ONE cluster
    with canonical = min id; untouched docs stay singletons."""
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3, 0.9), (3, 1, 0.85)], "doc_a long, doc_b long, jaccard double"
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1), 9: (9, 1)}


def test_clusters_long_chain_converges(spark):
    """A path graph needs diameter rounds — the loop must actually
    iterate, not stop after one propagation."""
    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "doc_a long, doc_b long, jaccard double"
    )
    rows = neardup_clusters(docs, pairs).collect()
    assert all(r["canonical_id"] == 0 and r["cluster_size"] == n for r in rows)


def _ev(i, user, etype, sec):
    return (i, dt.datetime(2024, 1, 1, 0, 0, sec), user, etype, 1.0, "{}")


EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def test_funnel_requires_stage_order(spark):
    """A click BEFORE the first view must not count as a conversion, and
    a purchase before the qualifying click must not either."""
    events = spark.createDataFrame(
        [
            # user 1: full ordered funnel
            _ev(1, 1, "view", 10), _ev(2, 1, "click", 20), _ev(3, 1, "purchase", 30),
            # user 2: click precedes the only view -> stops at view
            _ev(4, 2, "click", 5), _ev(5, 2, "view", 10),
            # user 3: purchase precedes the click -> stops at view>click
            _ev(6, 3, "view", 1), _ev(7, 3, "purchase", 2), _ev(8, 3, "click", 3),
            # user 4: never views -> not in the funnel at all
            _ev(9, 4, "click", 1), _ev(10, 4, "purchase", 2),
        ],
        EVENT_SCHEMA,
    )
    got = {r["stage"]: r["n_users"] for r in funnel_stages(events).collect()}
    assert got == {"view": 3, "view>click": 2, "view>click>purchase": 1}


def test_clusters_release_their_staged_pairs(spark):
    """An uncached pair frame is staged for the propagation loop; once
    the labels converge, that cache (and the symmetric edge cache) must
    be released — a long-lived session would otherwise gain one cache
    entry per call."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (5, 6, 0.8)],
        "doc_a long, doc_b long, jaccard double",
    )
    assert cache_manager.isEmpty()
    rows = neardup_clusters(docs, pairs).collect()
    assert {r["doc_id"]: r["canonical_id"] for r in rows} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5
    }
    assert cache_manager.isEmpty()


# ---------------------------------------------------------------------------
# neardup_clusters_upsert — append, delete and mixed batches
# ---------------------------------------------------------------------------


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _cluster_map(df):
    return {
        (r["doc_id"], r["canonical_id"], r["cluster_size"])
        for r in df.collect()
    }


@pytest.mark.slow
def test_neardup_clusters_delta_cut_sweep(spark, sf001):
    """Incremental cluster maintenance ≡ full rebuild at several cut
    points (the delta-face sweep convention applied to the dedup
    closure itself)."""
    docs = _docs(spark, sf001).select("doc_id", "text")
    full = {
        tuple(r) for r in neardup.minhash_neardup_clusters(docs).collect()
    }
    max_id = docs.agg(F.max("doc_id")).first()[0]
    for frac in (0.5, 0.8, 0.97):
        cut = int(frac * max_id)
        standing = docs.where(F.col("doc_id") <= cut)
        delta = docs.where(F.col("doc_id") > cut)
        merged = {
            tuple(r)
            for r in neardup.neardup_clusters_upsert(
                standing, neardup.minhash_neardup_clusters(standing), delta
            ).collect()
        }
        assert merged == full, frac


def test_neardup_clusters_delta_merges_standing_clusters(spark):
    """The hard case: a delta doc BRIDGES two distinct standing
    clusters — the quotient propagation must merge them and relabel
    every old member to the global min id."""
    words = [f"w{i}" for i in range(100)]
    x = list(words)
    x2 = list(words)
    for pos in (10, 30, 50, 70, 85, 95):  # X' differs in 6 spread tokens
        x2[pos] = f"q{pos}"
    z = list(words)
    for pos in (10, 30, 50):  # Z sits halfway: 3 edits toward X'
        z[pos] = f"q{pos}"
    rows = [
        (1, " ".join(x)),
        (2, " ".join(x)),
        (3, " ".join(x2)),
        (4, " ".join(x2)),
    ]
    standing = spark.createDataFrame(rows, "doc_id long, text string")
    slab = neardup.minhash_neardup_clusters(standing)
    got_standing = {r["doc_id"]: r["canonical_id"] for r in slab.collect()}
    assert got_standing[1] == got_standing[2] == 1
    assert got_standing[3] == got_standing[4] == 3  # two distinct clusters
    delta = spark.createDataFrame([(5, " ".join(z))], "doc_id long, text string")
    out = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in neardup.neardup_clusters_upsert(standing, slab, delta).collect()
    }
    assert out == {i: (1, 5) for i in (1, 2, 3, 4, 5)}, out
    # and it equals the full rebuild
    alldocs = standing.unionByName(delta)
    want = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in neardup.minhash_neardup_clusters(alldocs).collect()
    }
    assert out == want


def test_retract_standing_signatures_equivalent(spark, sf001):
    """Delete batch: upsert(persisted sets+bands) ≡ upsert(in-call
    re-shingle) — with the in-call form already oracle-hashed against
    the full rebuild over survivors, the persisted path inherits the
    rebuild equivalence transitively."""
    docs = _docs(spark, sf001)
    deleted = docs.select("doc_id").where(
        F.col("doc_id") % neardup.RETRACT_MOD == 0
    )
    labels = neardup.minhash_neardup_clusters(docs).localCheckpoint()
    sets, bands = neardup.neardup_standing_index(docs)
    in_call = _rows(
        neardup.neardup_clusters_upsert(docs, labels, deleted_ids=deleted)
    )
    persisted = _rows(
        neardup.neardup_clusters_upsert(
            docs,
            labels,
            deleted_ids=deleted,
            standing_sets=sets,
            standing_bands=bands,
        )
    )
    sets_only = _rows(
        neardup.neardup_clusters_upsert(
            docs, labels, deleted_ids=deleted, standing_sets=sets
        )
    )
    assert persisted == in_call and in_call
    assert sets_only == in_call


def test_delta_standing_signatures_equivalent(spark, sf001):
    """Append batch: upsert(persisted sets+bands) ≡ upsert(in-call) —
    and the contract check accepts the map `neardup_clusters`
    produced."""
    docs = _docs(spark, sf001)
    cut = docs.agg(
        F.floor(
            F.lit(neardup.CLUSTERS_DELTA_CUT_FRACTION) * F.max("doc_id")
        ).alias("c")
    ).first()["c"]
    standing = docs.where(F.col("doc_id") <= cut)
    delta = docs.where(F.col("doc_id") > cut)
    labels = neardup.minhash_neardup_clusters(standing).localCheckpoint()
    sets, bands = neardup.neardup_standing_index(standing)
    neardup.check_cluster_min_canonicals(labels)
    in_call = _rows(neardup.neardup_clusters_upsert(standing, labels, delta))
    persisted = _rows(
        neardup.neardup_clusters_upsert(
            standing,
            labels,
            delta,
            standing_sets=sets,
            standing_bands=bands,
        )
    )
    assert persisted == in_call and in_call


def test_check_cluster_min_canonicals_rejects_non_min(spark, sf0001):
    """A standing map whose canonical is not its cluster's min id must
    be rejected up front by the contract check, instead of silently
    mis-merging."""
    docs = _docs(spark, sf0001)
    standing = docs.where(F.col("doc_id") % 10 != 7)
    labels = neardup.minhash_neardup_clusters(standing)
    # Corrupt the map: shift every canonical off its cluster's min id
    # (works even when the fixture's clusters are all singletons).
    bad = labels.withColumn("canonical_id", F.col("canonical_id") + 1)
    with pytest.raises(ValueError, match="cluster-min contract"):
        neardup.check_cluster_min_canonicals(bad)


@pytest.mark.slow
def test_retract_property_random_chains_and_deletes(spark):
    """Hypothesis: sliding-window docs over a shared token universe
    produce chains, bridges and nested-overlap clusters; ANY delete
    subset must leave retract ≡ rebuild-over-survivors.  Catches the
    shapes the fixture's template clusters don't exercise (the planted
    bridge test, generalized)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = [f"w{i}" for i in range(40)]

    @st.composite
    def corpus_and_deletes(draw):
        n = draw(st.integers(min_value=4, max_value=8))
        docs = []
        for i in range(n):
            start = draw(st.integers(min_value=0, max_value=20))
            length = draw(st.integers(min_value=8, max_value=20))
            docs.append((i + 1, " ".join(words[start : start + length])))
        deleted = draw(
            st.lists(
                st.integers(min_value=1, max_value=n), unique=True, max_size=n
            )
        )
        return docs, deleted

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(cd=corpus_and_deletes())
    def run(cd):
        rows, deleted = cd
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        standing = neardup.minhash_neardup_clusters(docs)
        ddf = spark.createDataFrame([(d,) for d in deleted], "doc_id long")
        got = _cluster_map(
            neardup.neardup_clusters_upsert(docs, standing, deleted_ids=ddf)
        )
        survivors = docs.join(ddf, "doc_id", "left_anti")
        want = _cluster_map(neardup.minhash_neardup_clusters(survivors))
        assert got == want

    run()


@pytest.mark.slow
def test_cluster_state_maintained_across_cdc_batches(spark, sf0001):
    """Three CDC batches applied to an EVOLVING standing state —
    delete, upsert, delete — must land exactly on the rebuild of the
    final corpus: pins that retract/upsert compose with their own
    output, not just with a fresh build."""
    docs = _docs(spark, sf0001)
    state = neardup.minhash_neardup_clusters(docs)
    live = docs

    # batch 1: delete doc_id % 7 == 0
    d1 = live.select("doc_id").where(F.col("doc_id") % 7 == 0)
    state = neardup.neardup_clusters_upsert(live, state, deleted_ids=d1).localCheckpoint()
    live = live.join(d1, "doc_id", "left_anti")

    # batch 2: delete % 11 == 3, rewrite % 5 == 1
    d2 = live.select("doc_id").where(F.col("doc_id") % 11 == 3)
    c2 = live.where(
        (F.col("doc_id") % 5 == 1) & (F.col("doc_id") % 11 != 3)
    ).withColumn("text", F.concat(F.col("text"), F.lit(" qq1 qq2 qq3")))
    state = neardup.neardup_clusters_upsert(live, state, c2, d2).localCheckpoint()
    live = (
        live.join(d2, "doc_id", "left_anti")
        .join(c2.select("doc_id", F.col("text").alias("new_text")), "doc_id", "left")
        .withColumn("text", F.coalesce("new_text", "text"))
        .drop("new_text")
    )

    # batch 3: delete % 13 == 2
    d3 = live.select("doc_id").where(F.col("doc_id") % 13 == 2)
    state = neardup.neardup_clusters_upsert(live, state, deleted_ids=d3).localCheckpoint()
    live = live.join(d3, "doc_id", "left_anti")

    assert _cluster_map(state) == _cluster_map(neardup.minhash_neardup_clusters(live))
