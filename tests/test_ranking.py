"""Unit tests for the HITS/SALSA harness on the hand-computed micro-graph
(FIXTURES.md §A3) plus parity property tests (SURVEY §5)."""

import math

import pytest
from pyspark.sql import functions as F

from bigdata_hits_spark.operators import ranking
from bigdata_hits_spark.operators.graph import Graph, neighborhood, topic_induced
from bigdata_hits_spark.operators.ranking import (
    RankResult,
    hits,
    hits_query_dependent,
    hits_topic_exclusive,
    list_topics,
    pagerank,
    salsa,
    salsa_simplified,
)

NODES = [
    ("a", "x"),
    ("b", "x"),
    ("c", "y"),
    ("d", "y"),
]
EDGES = [
    ("a", "c", 1.0),
    ("b", "c", 2.0),
    ("c", "d", 1.0),
    ("a", "d", 3.0),
]


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(NODES, ["id", "labels"])
    edges = spark.createDataFrame(EDGES, ["src", "dst", "w"])
    return Graph(nodes=nodes, edges=edges)


def scores_dict(df):
    return {r["id"]: r["score"] for r in df.collect()}


def reference_hits_python(nodes, edges, k, weight=None, beta=None, topic_ids=None, n_override=None):
    """Literal Python mirror of /root/reference/src/base_hits.py semantics
    (inner-join drop, post-sum damping, L2 norm after both updates)."""
    n = n_override if n_override is not None else len(nodes)
    init = 1.0 / math.sqrt(n)
    hubs = {v: init for v in nodes}
    auths = {v: init for v in nodes}

    def damp(scores):
        if beta is None:
            return scores
        if topic_ids is None:
            return {v: beta * s + (1 - beta) / n for v, s in scores.items()}
        nt = len(topic_ids)
        return {
            v: beta * s + ((1 - beta) / nt if v in topic_ids else 0.0)
            for v, s in scores.items()
        }

    def l2(scores):
        nrm = math.sqrt(sum(s * s for s in scores.values()))
        return {v: s / nrm for v, s in scores.items()}

    for _ in range(k):
        new_hubs = {}
        for s, d, w in edges:
            if d in auths:
                new_hubs[s] = new_hubs.get(s, 0.0) + (w if weight else 1.0) * auths[d]
        hubs = damp(new_hubs)
        new_auths = {}
        for s, d, w in edges:
            if s in hubs:
                new_auths[d] = new_auths.get(d, 0.0) + (w if weight else 1.0) * hubs[s]
        auths = damp(new_auths)
        hubs = l2(hubs)
        auths = l2(auths)
    return hubs, auths


def assert_close(actual, expected, tol=1e-12):
    assert set(actual) == set(expected)
    for k in expected:
        assert actual[k] == pytest.approx(expected[k], abs=tol), k


def test_base_hits_micrograph(spark, g):
    res = hits(g, k=3)
    eh, ea = reference_hits_python([n for n, _ in NODES], EDGES, 3)
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)
    # drop semantics: d has no out-edges -> absent from hubs (SURVEY §2.4(a))
    assert "d" not in scores_dict(res.hubs)
    assert "a" not in scores_dict(res.auths)


def test_weighted_hits_micrograph(spark, g):
    res = hits(g, k=3, weight="w")
    eh, ea = reference_hits_python([n for n, _ in NODES], EDGES, 3, weight="w")
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)


def test_weighted_hits_weight_one_equals_base(spark, g):
    ones = g.edges.withColumn("w1", F.lit(1.0))
    g1 = Graph(nodes=g.nodes, edges=ones)
    base = hits(g, k=2)
    weighted = hits(g1, k=2, weight="w1")
    assert_close(scores_dict(weighted.hubs), scores_dict(base.hubs))


def test_teleport_hits_micrograph(spark, g):
    res = hits(g, k=3, teleport="uniform", beta=0.8)
    eh, ea = reference_hits_python([n for n, _ in NODES], EDGES, 3, beta=0.8)
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)


def test_topic_specific_hits_micrograph(spark, g):
    res = hits(g, k=3, teleport="topic", topic="y", beta=0.8)
    eh, ea = reference_hits_python(
        [n for n, _ in NODES], EDGES, 3, beta=0.8, topic_ids={"c", "d"}
    )
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)


def test_shuffle_score_join_matches_broadcast(spark, g, monkeypatch):
    """Both power-step modes compute identical scores (the shuffle mode is
    the >SCORE_BROADCAST_MAX_NODES scale path; lowering the threshold to
    0 sends the micrograph down it)."""
    runs = [
        lambda: hits(g, k=3),
        lambda: hits(g, k=3, teleport="topic", topic="y", beta=0.8),
        lambda: salsa(g, k=3),
    ]
    broadcast = [run() for run in runs]
    monkeypatch.setattr(ranking, "SCORE_BROADCAST_MAX_NODES", 0)
    for run, b in zip(runs, broadcast):
        s = run()
        assert_close(scores_dict(s.hubs), scores_dict(b.hubs))
        assert_close(scores_dict(s.auths), scores_dict(b.auths))


def _pagerank_python(nodes, edges, k, beta):
    """Weighted PageRank where a source whose out-weights sum to 0
    contributes nothing (the oracle's NULL ``w / ow``)."""
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    p = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(k):
        c = dict.fromkeys(nodes, 0.0)
        for s, d, w in edges:
            if out_w[s]:
                c[d] += w / out_w[s] * p[s]
        r = {v: beta * c[v] + (1 - beta) / len(nodes) for v in nodes}
        total = sum(r.values())
        p = {v: x / total for v, x in r.items()}
    return p


#: b's out-weights sum to 0.
ZERO_OUT_EDGES = [
    ("a", "b", 1.0),
    ("a", "c", 1.0),
    ("b", "c", 0.0),
    ("c", "a", 2.0),
    ("d", "a", 1.0),
]


@pytest.mark.parametrize(
    "nodes, edges, run, want",
    [
        pytest.param(
            NODES,
            [(s, d, 0.0) for s, d, _ in EDGES],
            lambda g: hits(g, k=3, weight="w"),
            ({"a": 0.0, "b": 0.0, "c": 0.0}, {"c": 0.0, "d": 0.0}),
            id="hits_all_zero_weights",
        ),
        pytest.param(
            NODES,
            ZERO_OUT_EDGES,
            lambda g: pagerank(g, k=3, weight="w"),
            _pagerank_python([n for n, _ in NODES], ZERO_OUT_EDGES, 3, 0.85),
            id="pagerank_zero_out_weight",
        ),
        pytest.param([], [], lambda g: hits(g, k=3), ({}, {}), id="hits_no_nodes"),
        pytest.param([], [], lambda g: pagerank(g, k=3), {}, id="pagerank_no_nodes"),
    ],
)
def test_degenerate_inputs_rank_without_raising(spark, nodes, edges, run, want):
    """A zero norm leaves the vector unchanged, a zero-out-weight source
    contributes nothing, and a graph with no nodes ranks to empty
    vectors — none of them raises."""
    g = Graph(
        nodes=spark.createDataFrame(nodes, "id string, labels string"),
        edges=spark.createDataFrame(edges, "src string, dst string, w double"),
    )
    out = run(g)
    if isinstance(out, RankResult):
        assert_close(scores_dict(out.hubs), want[0])
        assert_close(scores_dict(out.auths), want[1])
    else:
        assert_close(scores_dict(out), want)


def test_tol_early_stop_converges(spark, g):
    """tol stops the loop once successive auth vectors agree to L-inf
    tolerance; the result matches a long fixed-k run and reports the
    actual iteration count."""
    full = hits(g, k=40)
    early = hits(g, k=40, tol=1e-12)
    assert early.iterations is not None and early.iterations < 40
    assert_close(scores_dict(early.auths), scores_dict(full.auths), tol=1e-9)
    assert_close(scores_dict(early.hubs), scores_dict(full.hubs), tol=1e-9)
    # parity default: no tol -> exactly k iterations, like the reference
    assert full.iterations == 40


def test_power_iterate_leaves_session_conf_untouched(spark, g):
    """The loop must not mutate shared session conf (a concurrent query
    on the same session would otherwise run with AQE silently off)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    hits(g, k=2).auths.count()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_l2_norm_is_one_after_each_iteration(spark, g):
    for k in (1, 2, 3):
        res = hits(g, k=k)
        for df in (res.hubs, res.auths):
            sq = df.agg(F.sum(F.col("score") * F.col("score"))).first()[0]
            assert sq == pytest.approx(1.0, abs=1e-12)


def test_topic_exclusive_subgraph(spark, g):
    sub = topic_induced(g, "y")
    # only edge with both endpoints labeled y is (c, d)
    assert [(r["src"], r["dst"]) for r in sub.edges.collect()] == [("c", "d")]
    assert {r["id"] for r in sub.nodes.collect()} == {"c", "d"}
    res = hits_topic_exclusive(g, "y", k=2)
    eh, ea = reference_hits_python(["c", "d"], [("c", "d", 1.0)], 2)
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)


def test_topic_exclusive_strict_literal_mode(spark, g):
    """strict=True reproduces the reference's literal single-join line
    (``topic_exclusive_hits.py:49``): one node row must match BOTH
    endpoints, so only self-loops on topic nodes survive (SURVEY
    §2.4(b)); the default intended semantics keep any both-endpoint
    edge."""
    loop = spark.createDataFrame([("c", "c", 9.0)], ["src", "dst", "w"])
    with_loop = Graph(nodes=g.nodes, edges=g.edges.union(loop))
    strict = topic_induced(with_loop, "y", strict=True)
    assert [(r["src"], r["dst"]) for r in strict.edges.collect()] == [("c", "c")]
    intended = topic_induced(with_loop, "y")
    assert {(r["src"], r["dst"]) for r in intended.edges.collect()} == {("c", "c"), ("c", "d")}


def test_neighborhood_subgraph(spark, g):
    sub = neighborhood(g, "x")
    # every edge touches an x node (a or b) except none — all 4 qualify? (c,d) touches neither
    kept = {(r["src"], r["dst"]) for r in sub.edges.collect()}
    assert kept == {("a", "c"), ("b", "c"), ("a", "d")}
    assert {r["id"] for r in sub.nodes.collect()} == {"a", "b", "c", "d"}


def test_neighborhood_preserves_multiplicity(spark, g):
    doubled = g.edges.union(g.edges)
    g2 = Graph(nodes=g.nodes, edges=doubled)
    sub = neighborhood(g2, "x")
    assert sub.edges.count() == 6  # 3 qualifying edges, each twice


def test_query_dependent_hits_matches_manual_subgraph(spark, g):
    res = hits_query_dependent(g, "x", k=2)
    sub_edges = [("a", "c", 1.0), ("b", "c", 2.0), ("a", "d", 3.0)]
    eh, ea = reference_hits_python(["a", "b", "c", "d"], sub_edges, 2)
    assert_close(scores_dict(res.hubs), eh)
    assert_close(scores_dict(res.auths), ea)


def test_salsa_simplified_micrograph(spark, g):
    res = salsa_simplified(g)
    # out-degrees: a:2 b:1 c:1 (total 4); in-degrees: c:2 d:2
    assert_close(scores_dict(res.hubs), {"a": 0.5, "b": 0.25, "c": 0.25})
    assert_close(scores_dict(res.auths), {"c": 0.5, "d": 0.5})


def test_weighted_salsa_micrograph(spark, g):
    res = salsa_simplified(g, weight="w")
    # weighted out: a:4 b:2 c:1 (sum 7); weighted in: c:3 d:4
    assert_close(scores_dict(res.hubs), {"a": 4 / 7, "b": 2 / 7, "c": 1 / 7})
    assert_close(scores_dict(res.auths), {"c": 3 / 7, "d": 4 / 7})


def test_salsa_mutual_micrograph(spark, g):
    res = salsa(g, k=1)
    # init 1/sqrt(4)=0.5; in_deg: c:2 d:2; out_deg: a:2 b:1 c:1
    # hub step: h(a)=a0(c)/2 + a0(d)/2 = .5; h(b)=.25; h(c)=.25  (raw)
    # auth step (uses raw new hubs): a(c)=h(a)/2+h(b)/1=0.5; a(d)=h(c)/1+h(a)/2=0.5
    # L1 normalize: hubs sum 1.0 -> same; auths sum 1.0 -> same
    assert_close(scores_dict(res.hubs), {"a": 0.5, "b": 0.25, "c": 0.25})
    assert_close(scores_dict(res.auths), {"c": 0.5, "d": 0.5})


def test_salsa_l1_norm_is_one(spark, g):
    res = salsa(g, k=3)
    for df in (res.hubs, res.auths):
        total = df.agg(F.sum("score")).first()[0]
        assert total == pytest.approx(1.0, abs=1e-12)


def test_topic_specific_salsa_init(spark, g):
    res = salsa(g, k=1, teleport="topic", topic="y", beta=0.8)
    # init: c=d=1/(2*2)=.25, a=b=0; in_deg c:2,d:2; out_deg a:2,b:1,c:1
    # hub raw: h(a)=init(c)/2+init(d)/2=.25; h(b)=init(c)/2=.125; h(c)=init(d)/2=.125
    # damp ((1-beta)/(2*Nt)=.05): a=.2 b=.1 c=.8*.125+.05=.15 (sum .45)
    # auth raw: a(c)=h(a)/2+h(b)/1=.2; a(d)=h(a)/2+h(c)/1=.25
    # damp auths (both topic): c=.8*.2+.05=.21; d=.8*.25+.05=.25 (sum .46)
    assert_close(scores_dict(res.hubs), {"a": 0.2 / 0.45, "b": 0.1 / 0.45, "c": 0.15 / 0.45})
    assert_close(scores_dict(res.auths), {"c": 0.21 / 0.46, "d": 0.25 / 0.46})


def test_graph_validates_column_contract(spark):
    ok_nodes = spark.createDataFrame([("a", "x")], ["id", "labels"])
    bad_nodes = spark.createDataFrame([("a",)], ["node"])
    ok_edges = spark.createDataFrame([("a", "a", 1.0)], ["src", "dst", "w"])
    bad_edges = spark.createDataFrame([("a", "a")], ["from", "to"])
    with pytest.raises(ValueError, match="'id' column"):
        Graph(nodes=bad_nodes, edges=ok_edges)
    with pytest.raises(ValueError, match="'src' and 'dst'"):
        Graph(nodes=ok_nodes, edges=bad_edges)
    Graph(nodes=ok_nodes, edges=None)  # node-only jobs are legal


def test_list_topics(spark, g):
    labels = {r["label"] for r in list_topics(g).collect()}
    assert labels == {"x", "y"}
