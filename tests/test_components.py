"""Connected components + survivor election for near-dup removal."""

import pytest
from pyspark.sql import functions as F

from bigdata_hits_spark.operators.components import (
    connected_components,
    connected_components_star,
    dedup_survivors,
)
from bigdata_hits_spark.operators.dedup import minhash_near_duplicates
from bigdata_hits_spark.sources.readers import load_table


def _components_bruteforce(pairs: list[tuple]) -> dict:
    """Driver-side union-find for the expected answer on small graphs."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_chain_and_islands(spark):
    # Chain 1-2-3-4 (transitivity!), island pair (10, 11), self-pair (20, 20).
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)]
    df = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _components_bruteforce(pairs)
    assert got[4] == 1  # min label crossed the whole chain


def test_components_matches_union_find_on_random_graph(spark):
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _components_bruteforce(pairs)


def test_components_nonconvergence_raises_when_escalation_off(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, escalate=False)
    # default behavior: same inputs converge via the star fallback
    got = {r["id"]: r["component"] for r in connected_components(df, max_iter=1).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_star_matches_union_find_on_random_graph(spark):
    import random

    rng = random.Random(11)
    pairs = [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    df = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
    assert got == _components_bruteforce(pairs)


def test_star_converges_on_long_chain_where_label_propagation_cannot(spark):
    """A 120-node path has diameter 119: min-label needs ~119 rounds
    (raises at max_iter=15 with escalate=False), star contraction closes
    it in O(log n)."""
    chain = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(chain, "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=15, escalate=False)
    got = connected_components_star(df, max_iter=15).collect()
    assert len(got) == 120
    assert {r["component"] for r in got} == {0}


def test_minlabel_auto_escalates_to_star_on_long_chain(spark):
    """Default connected_components must succeed on a long-diameter graph
    by falling back to star contraction instead of raising."""
    chain = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(chain, "id1 long, id2 long")
    got = connected_components(df, max_iter=5).collect()
    assert len(got) == 120
    assert {r["component"] for r in got} == {0}


def test_dedup_survivors_long_chain_and_variants(spark):
    """The production path must survive a 120-node chain of duplicate
    pairs (auto-escalation), and every variant must elect the same
    minimum-id survivor."""
    chain = [(i, i + 1) for i in range(119)]
    pairs = spark.createDataFrame(chain, "id1 long, id2 long")
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(125)], "doc_id long, text string")
    for variant in ("auto", "star"):
        kept = {r["doc_id"] for r in
                dedup_survivors(docs, pairs, variant=variant).collect()}
        assert kept == {0} | set(range(120, 125)), variant


def test_dedup_survivors_end_to_end(spark, sf_dir):
    """documents -> MinHash pairs -> clusters -> survivors: exactly one
    doc per cluster survives and untouched docs pass through."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    kept = dedup_survivors(docs, pairs)
    comp = connected_components(pairs)
    n_docs = docs.count()
    n_members = comp.count()
    n_clusters = comp.select("component").distinct().count()
    assert pairs.count() > 0  # the synthetic corpus has near-dups
    assert kept.count() == n_docs - (n_members - n_clusters)
    # Survivors are cluster minima plus all unpaired docs.
    minima = {r["component"] for r in comp.select("component").distinct().collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert minima <= kept_ids
    members = {r["id"] for r in comp.collect()}
    assert (members - minima).isdisjoint(kept_ids)


def test_scc_known_structure(spark):
    """Hand-built condensation: 3-cycle with in/out tendrils, a 2-cycle
    reachable one-way from it, a self-loop, and a detached DAG edge —
    every SCC id must be the minimum member id, tendrils are
    singletons, and one-way reachability must NOT merge components."""
    from bigdata_hits_spark.operators.components import strongly_connected_components

    edges = [
        (1, 2), (2, 3), (3, 1),     # 3-cycle -> scc 1
        (4, 1),                     # in-tendril
        (3, 5),                     # out-tendril
        (3, 6), (6, 7), (7, 6),     # one-way into a 2-cycle -> scc 6
        (8, 8),                     # self-loop singleton
        (9, 10),                    # detached DAG edge
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["scc"] for r in strongly_connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 6, 8: 8, 9: 9, 10: 10}


def test_scc_long_cycle_batched_checks(spark):
    """A 25-cycle with a 6-deep tail forces multi-round trim AND
    multi-round color/mark fixpoints: the per-round convergence test
    must not early-stop or over-run."""
    from bigdata_hits_spark.operators.components import strongly_connected_components

    n = 25
    edges = [(i, (i + 1) % n) for i in range(n)]          # 25-cycle -> scc 0
    edges += [(100 + i, 100 + i + 1) for i in range(6)]   # tail chain
    edges += [(106, 5)]                                   # tail feeds the cycle
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["scc"] for r in strongly_connected_components(df).collect()}
    assert all(got[i] == 0 for i in range(n))
    assert all(got[100 + i] == 100 + i for i in range(7))
    assert len(got) == n + 7


def test_scc_matches_networkx_random(spark):
    """A seeded random digraph (300 edges over 150 node ids: a 95-node
    giant SCC, 53 singletons in and out of it, two self-loops) labels
    exactly like networkx's min-member SCC ids, at one shuffle partition
    and at seven — the result must not depend on the partitioning."""
    import random

    import networkx as nx

    from bigdata_hits_spark.operators.components import strongly_connected_components

    rng = random.Random(7)
    edges: set[tuple[int, int]] = set()
    while len(edges) < 300:
        edges.add((rng.randrange(150), rng.randrange(150)))
    want = {
        v: min(comp)
        for comp in nx.strongly_connected_components(nx.DiGraph(list(edges)))
        for v in comp
    }
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for partitions in (1, 7):
            spark.conf.set(key, str(partitions))
            df = spark.createDataFrame(sorted(edges), "src long, dst long")
            got = {r["id"]: r["scc"] for r in strongly_connected_components(df).collect()}
            assert got == want, f"{partitions} shuffle partitions"
    finally:
        spark.conf.set(key, before)


def test_scc_layout_serves_identical_labels(spark):
    """persist_scc_labels + spark.table round-trip: the persisted table
    serves EXACTLY the in-session solver's labeling, and the serving
    plan is a table scan (no joins, no aggregates — the whole point of
    paying the build once)."""
    from bigdata_hits_spark.operators.components import (
        persist_scc_labels,
        strongly_connected_components,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    build_sec = persist_scc_labels(df, "t_test_scc_layout")
    assert build_sec > 0
    served = spark.table("t_test_scc_layout")
    live = strongly_connected_components(df)
    assert {tuple(r) for r in served.collect()} == {tuple(r) for r in live.collect()}
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    spark.sql("DROP TABLE IF EXISTS t_test_scc_layout")


def test_dedup_survivors_ranked_quality_election(spark):
    """Cluster {1,2,3}: highest quality wins; tie inside {5,6} breaks to
    the minimum id; unpaired doc 9 passes through as a singleton."""
    from bigdata_hits_spark.operators.components import dedup_survivors_ranked

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (5, 0.7), (6, 0.7), (9, 0.1)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id1 long, id2 long")
    rows = {r["doc_id"]: r for r in
            dedup_survivors_ranked(docs, pairs, "quality").collect()}
    assert set(rows) == {2, 5, 9}
    assert rows[2]["n_members"] == 3 and rows[2]["quality"] == 0.9
    assert rows[5]["n_members"] == 2   # tie -> min id 5
    assert rows[9]["n_members"] == 1
