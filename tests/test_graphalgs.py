"""Triangle counting and label propagation vs brute-force oracles."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from bigdata_hits_spark.operators import graphalgs
from bigdata_hits_spark.operators.graphalgs import label_propagation, triangle_counts


def _brute_triangles(pairs):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {n: 0 for n in adj}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                counts[n] += 1
    return counts


def test_triangles_on_known_shapes(spark):
    # K4 (every node in 3 triangles) plus a pendant node (0 triangles)
    k4 = [(a, b) for a, b in itertools.combinations(["A", "B", "C", "D"], 2)]
    edges = k4 + [("D", "E")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {"A": 3, "B": 3, "C": 3, "D": 3, "E": 0}


def test_triangles_random_graph_matches_bruteforce(spark):
    rng = random.Random(7)
    pairs = list({(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}") for _ in range(150)})
    # direction/multiplicity noise: add some reversed duplicates
    noisy = pairs + [(b, a) for a, b in pairs[::3]]
    df = spark.createDataFrame(noisy, "src string, dst string")
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(pairs)


def test_triangles_skew_plan_has_no_cartesian(spark):
    """A hot hub (star) must not blow up: star graphs have zero triangles
    and the plan is equi-joins only."""
    star = [("hub", f"s{i}") for i in range(200)]
    df = spark.createDataFrame(star + [("s0", "s1")], "src string, dst string")
    tri = triangle_counts(df)
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {r["id"]: r["triangles"] for r in tri.collect()}
    assert got["hub"] == 1 and got["s0"] == 1 and got["s2"] == 0


def test_triangle_layout_matches_in_session_and_skips_prep(spark):
    """persist_triangle_layout + triangle_counts_from_layout must return
    the identical (id, triangles) relation as the direct operator, and
    the layout plan must start at the wedge join: no degree aggregation
    or orientation joins (their hallmark is a join on deg_a/deg_b), and
    the wedge self-join's inputs come straight from the bucketed scan
    with no Exchange under it."""
    from bigdata_hits_spark.operators.graphalgs import (
        persist_triangle_layout,
        triangle_counts_from_layout,
    )

    rng = random.Random(11)
    pairs = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(200)})
    df = spark.createDataFrame(pairs, "src string, dst string")
    try:
        persist_triangle_layout(df, "t_tri_layout", buckets=8)
        out = triangle_counts_from_layout(spark, "t_tri_layout")
        direct = {(r["id"], r["triangles"]) for r in triangle_counts(df).collect()}
        got = {(r["id"], r["triangles"]) for r in out.collect()}
        assert got == direct and len(got) > 0

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "deg_a" not in plan and "deg_b" not in plan, plan
        # the wedge self-join key (u, aliased from the layout's lo) must
        # never be hash-exchanged — both sides come out of the bucketed
        # scan already distributed on it.  (Exchanges on idh — the final
        # id-restore join — and on the wedge (v, w) close are expected.)
        import re

        assert not re.search(r"Exchange hashpartitioning\((?:u|lo)#", plan), plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_tri_layout_oriented")
        spark.sql("DROP TABLE IF EXISTS t_tri_layout_nodes")


def test_clustering_coefficient_layout_matches_in_session(spark):
    """clustering_coefficient_from_layout must return the identical
    (id, degree, triangles, coeff) relation as the in-session operator
    on the same edges (VERDICT r12 #1), including the degree-1 NULL
    coeff convention, and — like the triangle serving path — its plan
    must skip the symmetrize/orientation prep entirely."""
    from bigdata_hits_spark.operators.graphalgs import (
        clustering_coefficient,
        clustering_coefficient_from_layout,
        persist_triangle_layout,
    )

    rng = random.Random(13)
    pairs = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(200)})
    # a pendant edge guarantees at least one degree-1 node (NULL coeff)
    pairs.append(("n0", "pendant"))
    df = spark.createDataFrame(pairs, "src string, dst string")
    try:
        persist_triangle_layout(df, "t_cc_layout", buckets=8)
        out = clustering_coefficient_from_layout(spark, "t_cc_layout")
        direct = {tuple(r) for r in clustering_coefficient(df).collect()}
        got = {tuple(r) for r in out.collect()}
        assert got == direct and len(got) > 0
        assert any(r[3] is None for r in got)  # degree-1 NULL convention
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "deg_a" not in plan and "deg_b" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cc_layout_oriented")
        spark.sql("DROP TABLE IF EXISTS t_cc_layout_nodes")


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two tight cliques joined by one bridge edge settle into two
    communities labeled by each clique's minimum id."""
    c1 = [(a, b) for a, b in itertools.combinations(["a1", "a2", "a3", "a4"], 2)]
    c2 = [(a, b) for a, b in itertools.combinations(["b1", "b2", "b3", "b4"], 2)]
    df = spark.createDataFrame(c1 + c2 + [("a1", "b1")], "src string, dst string")
    got = {r["id"]: r["community"] for r in label_propagation(df, k=5).collect()}
    assert {got[n] for n in ("a1", "a2", "a3", "a4")} == {"a1"}
    assert {got[n] for n in ("b1", "b2", "b3", "b4")} == {"a1", "b1"} or {
        got[n] for n in ("b2", "b3", "b4")
    } == {"b1"}


def test_label_propagation_deterministic_across_repartition(spark):
    rng = random.Random(11)
    pairs = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(120)})
    df = spark.createDataFrame(pairs, "src string, dst string")
    a = {(r["id"], r["community"]) for r in label_propagation(df, k=4).collect()}
    shuffled = df.repartition(17).sortWithinPartitions(F.desc("src"))
    b = {(r["id"], r["community"]) for r in label_propagation(shuffled, k=4).collect()}
    assert a == b and len(a) > 0


def test_label_propagation_encoded_matches_string_path(spark, monkeypatch):
    """The rank-encoded loop (forced by a 0 threshold) must be
    bit-identical to the string-id loop (forced by a threshold above k)
    — including on FREQUENCY TIES, where the min-label tiebreak is
    exactly what a non-order-preserving encoding (xxhash64) would
    scramble.  A random graph plus star centers gives plenty of
    equal-frequency neighbor label sets in early rounds."""
    rng = random.Random(23)
    pairs = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(90)})
    stars = [(f"hub{j}", f"n{i}") for j in range(3) for i in range(0, 40, 7)]
    df = spark.createDataFrame(pairs + stars, "src string, dst string")

    def run(k, min_k):
        monkeypatch.setattr(graphalgs, "_LP_ENCODE_MIN_K", min_k)
        return {(r["id"], r["community"]) for r in label_propagation(df, k=k).collect()}

    for k in (1, 3, 6):
        s, e = run(k, k + 1), run(k, 0)
        assert s == e and len(s) > 0, k


def _brute_k_core(pairs, k):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    changed = True
    while changed:
        changed = False
        for n in list(alive):
            if len(adj[n] & alive) < k:
                alive.discard(n)
                changed = True
    return alive


def test_k_core_known_shape(spark):
    """K4 plus a pendant chain: the 3-core is exactly the K4."""
    k4 = [(a, b) for a, b in itertools.combinations(["A", "B", "C", "D"], 2)]
    edges = k4 + [("D", "E"), ("E", "F")]
    df = spark.createDataFrame(edges, "src string, dst string")
    from bigdata_hits_spark.operators.graphalgs import k_core

    got = {r["id"] for r in k_core(df, 3).collect()}
    assert got == {"A", "B", "C", "D"}
    assert {r["id"] for r in k_core(df, 1).collect()} == {"A", "B", "C", "D", "E", "F"}
    assert {r["id"] for r in k_core(df, 4).collect()} == set()


def test_k_core_random_matches_bruteforce(spark):
    from bigdata_hits_spark.operators.graphalgs import k_core

    rng = random.Random(23)
    pairs = list({(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}") for _ in range(80)})
    df = spark.createDataFrame(pairs, "src string, dst string")
    for k in (2, 3, 4):
        got = {r["id"] for r in k_core(df, k).collect()}
        assert got == _brute_k_core(pairs, k), k


def test_k_core_deep_peel_escalates_instead_of_raising(spark):
    """A long chain peels one layer per round (depth ~n/2 at k=2).  The
    peel loop has no round budget, so it must reach the fixpoint: the
    chain dissolves, the attached cycle survives."""
    from bigdata_hits_spark.operators.graphalgs import k_core

    chain = [(f"c{i}", f"c{i+1}") for i in range(120)]  # peel depth ~60
    cycle = [(f"r{i}", f"r{(i+1) % 8}") for i in range(8)]
    bridge = [("r0", "c0")]
    df = spark.createDataFrame(chain + cycle + bridge, "src string, dst string")
    got = {r["id"] for r in k_core(df, 2).collect()}
    assert got == {f"r{i}" for i in range(8)}

    # pure chain: the 2-core is empty
    chain_only = spark.createDataFrame(chain, "src string, dst string")
    assert k_core(chain_only, 2).count() == 0


def _brute_bfs(pairs, seeds, max_depth):
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, max_depth + 1):
        frontier = {
            n for f in frontier for n in adj.get(f, ()) if n not in dist
        }
        for n in frontier:
            dist[n] = d
        if not frontier:
            break
    return dist


def test_bfs_distances_path_graph(spark):
    from bigdata_hits_spark.operators.graphalgs import bfs_distances

    # path a-b-c-d-e plus isolated seed z and unreachable island x-y
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("z",)], ["id"])
    got = {(r["id"], r["dist"]) for r in bfs_distances(df, seeds, 2).collect()}
    assert got == {("a", 0), ("z", 0), ("b", 1), ("c", 2)}
    # deeper budget reaches the whole path; the island stays absent
    got4 = {(r["id"], r["dist"]) for r in bfs_distances(df, seeds, 4).collect()}
    assert got4 == {("a", 0), ("z", 0), ("b", 1), ("c", 2), ("d", 3), ("e", 4)}


def test_bfs_distances_random_matches_bruteforce(spark):
    from bigdata_hits_spark.operators.graphalgs import bfs_distances

    rng = random.Random(31)
    pairs = list({(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}") for _ in range(60)})
    df = spark.createDataFrame(pairs, "src string, dst string")
    seed_ids = ["n0", "n7", "n13"]
    seeds = spark.createDataFrame([(s,) for s in seed_ids], ["id"])
    for depth in (1, 2, 5):
        got = {(r["id"], r["dist"]) for r in bfs_distances(df, seeds, depth).collect()}
        want = set(_brute_bfs(pairs, seed_ids, depth).items())
        assert got == want, depth


def test_bfs_distances_directed(spark):
    from bigdata_hits_spark.operators.graphalgs import bfs_distances

    # a -> b -> c and c -> a: forward from a reaches b (1) and c (2);
    # d -> a means d is NOT forward-reachable from a
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], ["id"])
    got = {
        (r["id"], r["dist"])
        for r in bfs_distances(df, seeds, 3, directed=True).collect()
    }
    assert got == {("a", 0), ("b", 1), ("c", 2)}
    # reverse reachability: who reaches a within 1 hop -> c and d
    rev = {
        (r["id"], r["dist"])
        for r in bfs_distances(
            df, seeds, 1, src="dst", dst="src", directed=True
        ).collect()
    }
    assert rev == {("a", 0), ("c", 1), ("d", 1)}


def _brute_link_prediction(pairs, cap, min_common):
    import math

    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scores = {}
    for z, nbrs in adj.items():
        if len(nbrs) > cap:
            continue
        for a, b in itertools.combinations(sorted(nbrs), 2):
            cn, aa = scores.get((a, b), (0, 0.0))
            scores[(a, b)] = (cn + 1, aa + 1.0 / math.log(len(adj[z])))
    return {
        k: (cn, round(aa, 6))
        for k, (cn, aa) in scores.items()
        if cn >= min_common and k[1] not in adj[k[0]]
    }


def test_link_prediction_random_matches_bruteforce(spark):
    from bigdata_hits_spark.operators.graphalgs import link_prediction

    rng = random.Random(11)
    pairs = list({(rng.randrange(24), rng.randrange(24)) for _ in range(90)})
    edges = spark.createDataFrame(pairs, "src INT, dst INT")
    for cap, mc in [(23, 1), (8, 2)]:
        got = {
            (r.a, r.b): (r.common_neighbors, r.adamic_adar)
            for r in link_prediction(
                edges, max_pivot_degree=cap, min_common=mc
            ).collect()
        }
        assert got == _brute_link_prediction(pairs, cap, mc)


def test_link_prediction_excludes_existing_edges_and_hub_pivots(spark):
    from bigdata_hits_spark.operators.graphalgs import link_prediction

    # star: hub 0 joined to 1..5, plus edge (1, 2).  With the hub capped
    # out (cap=4 < deg 5) only pivots 1..5 (deg<=2) can score, and the
    # only 2-neighbor pivots are 1 and 2 whose pairs include the existing
    # (0-adjacent) edges -> empty; with the hub allowed, leaf pairs score.
    pairs = [(0, i) for i in range(1, 6)] + [(1, 2)]
    edges = spark.createDataFrame(pairs, "src INT, dst INT")
    assert link_prediction(edges, max_pivot_degree=4, min_common=1).count() == 0
    got = {
        (r.a, r.b): r.common_neighbors
        for r in link_prediction(edges, max_pivot_degree=9, min_common=1).collect()
    }
    # (1, 2) is an existing edge -> excluded even though hub 0 pivots it.
    assert (1, 2) not in got
    assert got[(3, 4)] == 1 and got[(1, 3)] == 1


def test_clustering_coefficient_known_shapes(spark):
    from bigdata_hits_spark.operators.graphalgs import clustering_coefficient

    # triangle 1-2-3 plus pendant 4 attached to 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src INT, dst INT"
    )
    out = {r["id"]: r for r in clustering_coefficient(edges).collect()}
    assert out[2]["coeff"] == 1.0 and out[3]["coeff"] == 1.0
    # node 1: degree 3, 1 triangle -> 2*1/(3*2) = 1/3
    assert out[1]["degree"] == 3 and out[1]["coeff"] == round(1 / 3, 6)
    # pendant: degree 1 -> NULL, not 0
    assert out[4]["coeff"] is None and out[4]["triangles"] == 0


def test_community_modularity_known_two_cliques(spark):
    from pyspark.sql import functions as F

    from bigdata_hits_spark.operators.graphalgs import community_modularity

    # two disjoint triangles = perfect 2-community partition: Q = 0.5
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    assign = spark.createDataFrame(
        [(n, "c1") for n in "abc"] + [(n, "c2") for n in "xyz"],
        "id string, community string",
    )
    out = community_modularity(edges, assign).collect()
    assert len(out) == 2
    q = sum(r["contribution"] for r in out)
    assert abs(q - 0.5) < 1e-9
    for r in out:
        assert r["n_nodes"] == 3
        assert r["internal_edges"] == 6  # ordered pairs: 3 edges x 2
        assert r["degree_sum"] == 6
    # everything in one community: Q = 0 exactly
    one = assign.select("id", F.lit("all").alias("community"))
    q1 = sum(r["contribution"] for r in community_modularity(edges, one).collect())
    assert abs(q1) < 1e-9


def test_feature_propagation_matches_numpy_replay(spark):
    """Three smoothing rounds on a path graph replayed in numpy: same
    blend, same rounding; isolated nodes keep v0; alpha=1 is refused;
    deterministic across partitionings."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from bigdata_hits_spark.operators.graphalgs import feature_propagation

    # path 0-1-2-3 plus isolated node 4; generic values via pi offsets
    edges = spark.createDataFrame(
        [("n0", "n1"), ("n1", "n2"), ("n2", "n3")], "src string, dst string"
    )
    vals = {f"n{i}": float(np.pi * (i + 1)) for i in range(5)}
    feats = spark.createDataFrame(list(vals.items()), "id string, value double")
    out = feature_propagation(edges, feats, k=3, alpha=0.5)
    got = {r["id"]: r["value"] for r in out.collect()}

    nbrs = {"n0": ["n1"], "n1": ["n0", "n2"], "n2": ["n1", "n3"], "n3": ["n2"], "n4": []}
    v0 = dict(vals)
    cur = dict(vals)
    for _ in range(3):
        nxt = {}
        for n in v0:
            m = sum(cur[b] for b in nbrs[n]) / len(nbrs[n]) if nbrs[n] else v0[n]
            nxt[n] = round(0.5 * v0[n] + 0.5 * m, 7)
        cur = nxt
    assert got == cur
    assert got["n4"] == round(vals["n4"], 7)
    again = {
        r["id"]: r["value"]
        for r in feature_propagation(edges.repartition(3), feats.repartition(2), k=3, alpha=0.5).collect()
    }
    assert again == got
    with pytest.raises(ValueError, match="alpha"):
        feature_propagation(edges, feats, k=2, alpha=1.0)
    with pytest.raises(ValueError, match="k must be"):
        feature_propagation(edges, feats, k=0)


def test_label_propagation_weighted_strong_links_win(spark):
    """A node with many weak links to one community and one strong link
    to another follows the WEIGHT, not the count — the exact case the
    unweighted variant gets 'wrong'; plus partition determinism."""
    from bigdata_hits_spark.operators.graphalgs import (
        label_propagation,
        label_propagation_weighted,
    )

    # node x: three weight-1 edges into the 'a*' clique, one weight-10
    # edge to 'z'.  Unweighted LP votes a*; weighted votes z.
    edges = spark.createDataFrame(
        [
            ("a1", "a2", 5.0), ("a2", "a3", 5.0), ("a1", "a3", 5.0),
            ("x", "a1", 1.0), ("x", "a2", 1.0), ("x", "a3", 1.0),
            ("x", "z", 10.0), ("z", "z2", 10.0),
        ],
        "src string, dst string, weight double",
    )
    got = {r["id"]: r["community"] for r in
           label_propagation_weighted(edges, k=1).collect()}
    unw = {r["id"]: r["community"] for r in
           label_propagation(edges.select("src", "dst"), k=1).collect()}
    assert got["x"] == "z" and unw["x"] == "a1"
    again = {r["id"]: r["community"] for r in
             label_propagation_weighted(edges.repartition(5), k=1).collect()}
    assert again == got
    # parallel + reverse edges collapse by summed weight
    from bigdata_hits_spark.operators.graphalgs import weighted_symmetric_edges

    dup = spark.createDataFrame(
        [("u", "v", 2.0), ("v", "u", 3.0), ("u", "u", 9.0)],
        "src string, dst string, weight double",
    )
    sw = {(r["a"], r["b"]): r["w"] for r in weighted_symmetric_edges(dup).collect()}
    assert sw == {("u", "v"): 5.0, ("v", "u"): 5.0}


def test_ktruss_k4_keeps_clique_drops_pendant_triangle(spark):
    """K4 edges each sit in 2 triangles (support 2 = k-2 for k=4) and
    survive; a pendant triangle's edges have support 1 and peel away —
    including the shared-vertex edges, exercising the cascade.  At k=3
    every triangle edge survives and the bridge (in no triangle) still
    drops."""
    from bigdata_hits_spark.operators.graphalgs import k_truss

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pendant = [(4, 5), (5, 6), (4, 6)]
    bridge = [(6, 7)]
    df = spark.createDataFrame(k4 + pendant + bridge, "src long, dst long")
    t4 = {(r["lo"], r["hi"]) for r in k_truss(df, 4).collect()}
    assert t4 == set(k4)
    t3 = {(r["lo"], r["hi"]) for r in k_truss(df, 3).collect()}
    assert t3 == set(k4) | set(pendant)


def test_ktruss_wedge_volume_is_degree_bounded_on_hub(spark):
    """VERDICT r10 #1: the k-truss peel must enumerate wedges under the
    DEGREE-ORDERED orientation, not the lexicographic one.  On a star
    whose hub id sorts LOWEST, lexicographic orientation points every
    edge hub->leaf and the wedge self-join fans out C(d_hub, 2); the
    degree-ordered orientation points every edge leaf->hub (leaf degree
    1 < hub degree d) and produces ZERO wedges.  Pin both numbers, then
    pin correctness on a hub+clique composite."""
    from bigdata_hits_spark.operators.graphalgs import (
        _oriented,
        k_truss,
        symmetric_edges,
    )

    n = 200
    star = [(0, leaf) for leaf in range(1, n + 1)]  # hub 0 sorts lowest
    df = spark.createDataFrame(star, "src long, dst long")
    sym = symmetric_edges(df)

    def wedge_count(oriented):
        e1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        e2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
        return e1.join(e2, "u").filter(F.col("v") < F.col("w")).count()

    lex = sym.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("lo"), F.col("b").alias("hi")
    )
    assert wedge_count(lex) == n * (n - 1) // 2  # the quadratic blow-up
    assert wedge_count(_oriented(sym).select("lo", "hi")) == 0  # hub-safe

    # Correctness with the star plus a disjoint K4 (hub edges sit in no
    # triangle and must peel; the clique survives), and with the K4
    # riding ON star leaves 1-4 (hub + K4 = a K5, so ALL ten K5 edges
    # have support 3 and survive k=4 — the hub edges included).
    k4_off = [(a, b) for a in range(1001, 1005) for b in range(a + 1, 1005)]
    comp = spark.createDataFrame(star + k4_off, "src long, dst long")
    t4 = {(r["lo"], r["hi"]) for r in k_truss(comp, 4).collect()}
    assert t4 == set(k4_off)
    k4_on = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k5 = spark.createDataFrame(star + k4_on, "src long, dst long")
    t4b = {(r["lo"], r["hi"]) for r in k_truss(k5, 4).collect()}
    assert t4b == set(k4_on) | {(0, x) for x in range(1, 5)}


def test_ktruss_deep_peel_cascade_beyond_40_rounds(spark):
    """VERDICT r11 #5: peel depth is graph-dependent, so the loop must
    run to the fixpoint by default instead of failing an arbitrary
    40-round budget.  Construction with cascade depth ~L: a path
    v_0..v_L with chords c_i = (v_{i-1}, v_{i+1}), each chord (and the
    last path edge) reinforced by a private K4 so it survives the
    cascade.  At k=4 (support >= 2): e_0 sits in one triangle and dies
    in round 1; killing e_{i-1} destroys triangle T_i and drops e_i to
    support 1, so exactly one path edge peels per round — 45 productive
    rounds for L=45, past the old constant.  Expected fixpoint: every
    chord, every K4 edge, and the protected last path edge."""
    from bigdata_hits_spark.operators.graphalgs import k_truss

    L = 45
    path = [(i, i + 1) for i in range(L)]
    chords = [(i - 1, i + 1) for i in range(1, L)]
    k4s = []

    def brace(x, y, p, q):
        k4s.extend([(x, p), (x, q), (y, p), (y, q), (p, q)])

    for i in range(1, L):
        brace(i - 1, i + 1, 1000 + 2 * i, 1001 + 2 * i)
    brace(L - 1, L, 5000, 5001)  # protect e_{L-1}: cascade runs left-to-right only
    df = spark.createDataFrame(path + chords + k4s, "src long, dst long")

    got = {(r["lo"], r["hi"]) for r in k_truss(df, 4).collect()}
    want = {tuple(sorted(e)) for e in chords + k4s} | {(L - 1, L)}
    assert got == want

    # The opt-in budget still fails loudly when the caller asks for one.
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        k_truss(df, 4, max_iter=3)


# --- sampled harmonic centrality ------------------------------------------


def _path_edges(spark):
    # path 1-2-3-4-5 (undirected via symmetric_edges)
    rows = [(1, 2), (2, 3), (3, 4), (4, 5)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_per_seed_bfs_keeps_each_landmark_separate(spark):
    from bigdata_hits_spark.operators.graphalgs import per_seed_bfs_distances

    seeds = spark.createDataFrame([(1,), (5,)], "id long")
    got = {
        (r["seed"], r["id"]): r["dist"]
        for r in per_seed_bfs_distances(_path_edges(spark), seeds, max_depth=3).collect()
    }
    assert got[(1, 1)] == 0 and got[(5, 5)] == 0
    assert got[(1, 2)] == 1 and got[(1, 4)] == 3
    assert got[(5, 4)] == 1 and got[(5, 2)] == 3
    # beyond max_depth: absent, not clamped
    assert (1, 5) not in got and (5, 1) not in got


def test_harmonic_centrality_hand_computed(spark):
    from bigdata_hits_spark.operators.graphalgs import harmonic_centrality_sampled

    seeds = spark.createDataFrame([(1,), (5,)], "id long")
    got = {
        r["id"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality_sampled(
            _path_edges(spark), seeds, max_depth=3
        ).collect()
    }
    # middle of the path sees both landmarks; endpoints see neither
    # (self at dist 0 is excluded, the far landmark is 4 > max_depth)
    assert got == {
        2: (2, round(1.0 + 1.0 / 3.0, 6)),
        3: (2, 1.0),
        4: (2, round(1.0 + 1.0 / 3.0, 6)),
    }
