"""PageRank tests: numpy power-iteration cross-check on a micro-graph,
dropped-node semantics, mode equivalence (broadcast vs shuffle)."""

import numpy as np
import pytest

from bigdata_hits_spark.operators import ranking
from bigdata_hits_spark.operators.graph import Graph
from bigdata_hits_spark.operators.ranking import hits, pagerank, personalized_pagerank, salsa

NODES = ["a", "b", "c", "d"]
EDGES = [
    ("a", "b", 1.0),
    ("a", "c", 2.0),
    ("b", "c", 1.0),
    ("c", "a", 1.0),
    ("d", "a", 1.0),  # d has no in-edges: receives teleport mass only
]


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame([(n, "l") for n in NODES], ["id", "labels"])
    edges = spark.createDataFrame(EDGES, ["src", "dst", "w"])
    return Graph(nodes=nodes, edges=edges)


def _numpy_pagerank(k, beta, weighted):
    idx = {n: i for i, n in enumerate(NODES)}
    m = np.zeros((4, 4))
    for s, d, w in EDGES:
        m[idx[d], idx[s]] = w if weighted else 1.0
    out_w = m.sum(axis=0)
    m = m / out_w  # column-stochastic (every node here has out-edges)
    p = np.full(4, 0.25)
    for _ in range(k):
        p = beta * (m @ p) + (1 - beta) / 4
        p = p / p.sum()  # L1 renormalization absorbs any dangling leak
    return {n: p[idx[n]] for n in NODES}


@pytest.mark.parametrize("weighted", [False, True])
def test_pagerank_matches_numpy(g, weighted):
    got = {
        r["id"]: r["score"]
        for r in pagerank(g, k=5, beta=0.85, weight="w" if weighted else None).collect()
    }
    want = _numpy_pagerank(5, 0.85, weighted)
    assert set(got) == set(want) == set(NODES)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9)


def test_pagerank_modes_agree(g, monkeypatch):
    """PageRank and personalized PageRank compute identical scores on the
    broadcast and the shuffle power step (lowering the threshold to 0
    sends the micrograph down the shuffle path)."""
    runs = [lambda: pagerank(g, k=3), lambda: personalized_pagerank(g, "l", k=3)]
    broadcast = [{r["id"]: r["score"] for r in run().collect()} for run in runs]
    monkeypatch.setattr(ranking, "SCORE_BROADCAST_MAX_NODES", 0)
    for run, b in zip(runs, broadcast):
        s = {r["id"]: r["score"] for r in run().collect()}
        assert set(b) == set(s)
        for n in b:
            assert b[n] == pytest.approx(s[n], rel=1e-12)


def test_pagerank_early_stop(g):
    full = pagerank(g, k=50, beta=0.85)
    tol = pagerank(g, k=50, beta=0.85, tol=1e-12)
    got_full = {r["id"]: r["score"] for r in full.collect()}
    got_tol = {r["id"]: r["score"] for r in tol.collect()}
    for n in got_full:
        assert got_tol[n] == pytest.approx(got_full[n], abs=1e-9)


def test_personalized_pagerank_mass_and_seed_bias(spark):
    from pyspark.sql import functions as F

    from bigdata_hits_spark.operators.graph import Graph
    from bigdata_hits_spark.operators.ranking import personalized_pagerank

    # star-ish directed graph: seeds {0, 1} point into a chain
    edges = spark.createDataFrame(
        [("0", "2"), ("1", "2"), ("2", "3"), ("3", "0"), ("4", "0")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [(str(i), "seed" if i < 2 else "other") for i in range(5)],
        "id string, labels string",
    )
    g = Graph(nodes=nodes, edges=edges)
    out = {r["id"]: r["score"] for r in personalized_pagerank(g, "seed", k=8).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9  # L1-renormalized
    # teleport never reaches node 4 (no in-edges, not a seed) except
    # via nothing -> its mass decays to ~0; seeds and their reach hold
    # the mass
    assert out["4"] < 1e-6
    # the seed-reachable cycle {0, 2, 3} holds essentially all the mass
    assert out["2"] > 0 and out["3"] > 0
    assert min(out["0"], out["1"]) > out["4"]


@pytest.mark.parametrize(
    "run",
    [
        lambda g: personalized_pagerank(g, "nope", k=2),
        lambda g: hits(g, k=2, teleport="topic", topic="nope"),
        lambda g: salsa(g, k=2, teleport="topic", topic="nope"),
    ],
    ids=["personalized_pagerank", "hits", "salsa"],
)
def test_personalized_pagerank_unknown_topic_raises(spark, run):
    """Every topic-teleport ranking raises the same error for a topic no
    node carries."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a", "x"), ("b", "x")], "id string, labels string")
    with pytest.raises(ValueError, match="no nodes labeled 'nope'"):
        run(Graph(nodes=nodes, edges=edges))
