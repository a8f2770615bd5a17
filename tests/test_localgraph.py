"""The driver tier of the graph loops (operators/localgraph.py) against
the Spark tier: connected components, SCC, label propagation and
k-core must return the same rows on both, whatever the id type and the
shuffle partitioning."""

import random

import pyarrow as pa
import pytest

from bigdata_hits_spark.operators import components, localgraph, ranking
from bigdata_hits_spark.operators.components import (
    connected_components,
    strongly_connected_components,
)
from bigdata_hits_spark.operators.graphalgs import k_core, label_propagation, symmetric_edges
from bigdata_hits_spark.operators.localgraph import encode_ids


def _edges(kind: str) -> list[tuple]:
    """A seeded digraph over string ids (mixed case, non-ASCII) or long
    ids (both signs, near the 64-bit range): self-loops, duplicate
    edges, 2-cycles, a 4-clique (a non-empty 3-core) and a 16-node
    chain, twice the 8 min-label rounds :func:`test_tiers_agree` lets
    the Spark tier of connected components run before escalating.  The
    chain's first 9 edges point one way and close a 6-cycle (a
    multi-round SCC trim); the rest alternate direction, so SCC trims
    them in one round."""
    rng = random.Random(5)
    if kind == "string":
        pool = ["a", "A", "b", "B", "Zz", "zz", "é", "e", "中", "ß", "a1", "a10", "a2", ""]
        pool += [f"n{i}" for i in range(30)]
        chain = [f"c{i:02d}" for i in range(16)]
    else:
        pool = [(-1) ** i * (2**62 + i * 7919) for i in range(22)] + list(range(-10, 12))
        chain = [2**61 + i for i in range(16)]
    edges = [(rng.choice(pool), rng.choice(pool)) for _ in range(70)]
    edges += [(v, v) for v in pool[:3]]                      # self-loops
    edges += edges[:8]                                       # duplicates
    edges += [(b, a) for a, b in edges[10:16]]               # 2-cycles
    edges += [(u, v) for u in pool[3:7] for v in pool[3:7] if u < v]  # 4-clique
    edges += [(chain[i], chain[i + 1]) if i < 9 or i % 2 else (chain[i + 1], chain[i])
              for i in range(15)]                            # long chain
    edges += [(chain[5], chain[0]), (chain[0], pool[0])]
    return edges


def _run_all(df) -> dict:
    out = {
        "cc": connected_components(df, "src", "dst"),
        "scc": strongly_connected_components(df),
        **{f"lp{k}": label_propagation(df, k=k) for k in (1, 3, 6)},
        **{f"kcore{k}": k_core(df, k) for k in (1, 2, 3)},
    }
    return {name: sorted(tuple(r) for r in frame.collect()) for name, frame in out.items()}


@pytest.mark.parametrize("kind", ["string", "long"])
def test_tiers_agree(spark, monkeypatch, kind):
    monkeypatch.setattr(components, "_MIN_LABEL_ROUNDS", 8)
    edges = _edges(kind)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    results = {}
    try:
        for partitions in (1, 7):
            spark.conf.set(key, str(partitions))
            df = spark.createDataFrame(edges, f"src {kind}, dst {kind}")
            results[("local", partitions)] = _run_all(df)
            with monkeypatch.context() as m:
                m.setattr(ranking, "LOCAL_MAX_EDGES", -1)
                results[("spark", partitions)] = _run_all(df)
    finally:
        spark.conf.set(key, before)
    want = results[("spark", 1)]
    assert all(len(want[name]) > 0 for name in want), {k: len(v) for k, v in want.items()}
    for tier, got in results.items():
        for name in want:
            assert got[name] == want[name], (tier, name)


def test_symmetric_input_capped_by_edge_count(spark, monkeypatch):
    """A ``sym=`` relation holds every edge twice, so it is held to twice
    the cap: with the cap between the edge count and the ``sym`` row
    count, label propagation and k-core still run on the driver, and
    return what the Spark tier does."""
    edges = spark.createDataFrame(_edges("string"), "src string, dst string")
    sym = symmetric_edges(edges)
    n_sym = sym.count()
    cases = {
        "label_propagation": lambda: label_propagation(edges, k=3, sym=sym),
        "k_core": lambda: k_core(edges, 2, sym=sym),
    }
    monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)
    want = {name: sorted(tuple(r) for r in run().collect()) for name, run in cases.items()}
    ran = []

    def spy(name, real):
        def run(*args):
            ran.append(name)
            return real(*args)
        return run

    for name in cases:
        monkeypatch.setattr(localgraph, name, spy(name, getattr(localgraph, name)))
    monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", n_sym // 2 + 1)
    got = {name: sorted(tuple(r) for r in run().collect()) for name, run in cases.items()}
    assert ran == list(cases)
    assert got == want and all(want.values())


def test_encode_ids_sorted_and_refusals():
    """Codes ascend with the ids in Spark's order (strings by UTF-8
    bytes); nulls, mixed types and non-integer, non-string ids are
    refused."""
    col = pa.chunked_array([["b", "é", "B"], ["a", "b", "中"]])
    ids, (codes,) = encode_ids([col])
    assert ids.to_pylist() == sorted(set(col.to_pylist()), key=lambda s: s.encode())
    assert ids.take(pa.array(codes)).to_pylist() == col.to_pylist()
    ints = pa.chunked_array([[5, -3, 2**62]])
    ids, (c1, c2) = encode_ids([ints, pa.chunked_array([[-3, 7]])])
    assert ids.to_pylist() == [-3, 5, 7, 2**62] and c1.tolist() == [1, 0, 3] and c2.tolist() == [0, 2]
    assert encode_ids([pa.chunked_array([["a", None]])]) is None
    assert encode_ids([pa.chunked_array([["a"]]), pa.chunked_array([[1]])]) is None
    assert encode_ids([pa.chunked_array([[1.5, 2.0]])]) is None


def test_empty_input_on_both_tiers(spark, monkeypatch):
    """No pairs (a dedup run without near-duplicates): every loop returns
    an empty frame with the Spark tier's columns and id type."""
    df = spark.createDataFrame([], "src string, dst string")
    for cap in (ranking.LOCAL_MAX_EDGES, -1):
        monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", cap)
        outs = {
            ("id", "component"): connected_components(df, "src", "dst"),
            ("id", "scc"): strongly_connected_components(df),
            ("id", "community"): label_propagation(df, k=3),
            ("id",): k_core(df, 2),
        }
        for cols, out in outs.items():
            assert tuple(out.columns) == cols and out.count() == 0, (cap, cols)
            assert {f.dataType.simpleString() for f in out.schema.fields} == {"string"}, (cap, cols)
