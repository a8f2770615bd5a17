"""HITS, SALSA and PageRank families as parameterized power iterations.

One harness replaces the reference's 12 copy-pasted scripts
(``/root/reference/src/*_hits.py``, ``*_salsa.py``; SURVEY §2.2).

Two loops cover the whole family: :func:`_power_iterate` for the mutual
hub/authority update (HITS, SALSA) and :func:`_teleport_iterate` for the
single-vector walk (PageRank is personalized PageRank whose seed set is
every node).  The loops are written once; the *tier* they run on supplies
the step relations and the vector operations (step, damp, teleport,
normalize, tolerance check).  :func:`_nodes_and_mode` picks one of three
tiers per graph:

- ``local`` (at most :data:`LOCAL_MAX_EDGES` edges): the edge list and
  the node table are collected to the driver once per graph (one Arrow
  collect each), ids are dictionary-encoded to int codes, and every
  iteration is a numpy ``bincount`` sparse mat-vec — no Spark job per
  iteration.  The reference's traffic is many ranking jobs over one
  small graph, where Spark's fixed cost per job, not data, is the whole
  bill (Pregelix makes the same point for dataflow supersteps).  Results
  come back as one-partition frames, so sorting them plans no exchange.
- ``broadcast`` (larger graphs whose node vector fits broadcast range):
  every update is a join + grouped sum declared via the DataFrame API —
  the score vector is broadcast onto edges pre-partitioned on the
  aggregation key.
- ``shuffle`` (beyond :data:`SCORE_BROADCAST_MAX_NODES` nodes): the score
  vector is exchanged onto edges pre-partitioned on the join key.  Both
  Spark tiers end every iteration in the one normalization,
  :func:`~bigdata_hits_spark.plans.iterate.normalized`.

Parity semantics faithfully reproduced on every tier (SURVEY §2.4):

- *Dropped nodes*: score updates inner-join edges with scores, so an
  out-node exists only if at least one edge joined — nodes with no
  in-edges (authorities) / out-edges (hubs) vanish after iteration one
  (``base_hits.py:57,60``).  Teleport mass is added only to surviving
  keys (``random_teleport_hits.py:67-75``) — NOT the textbook
  dangling-node revival.  Edge endpoints missing from the node table
  are dropped only by the topic and PageRank joins.
- *Update order*: hubs update reads the previous auths; the auths update
  reads the just-computed (damped, un-normalized) hubs; both are then
  normalized (``base_hits.py:53-64``).
- *Norms*: HITS normalizes L2, SALSA L1; teleport denominators are N for
  HITS, 2N for SALSA, N_topic / 2·N_topic for the topic variants
  (SURVEY §2.4(c)).  A zero norm leaves the vector unchanged.
- *SALSA mutual update* divides each contribution by the endpoint degree:
  hub(a) = sum auth(b)/in_deg(b), auth(b) = sum hub(a)/out_deg(a)
  (``base_salsa_2.py:75-80``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F, types as T

from bigdata_hits_spark.operators.graph import Graph, neighborhood, topic_induced
from bigdata_hits_spark.operators.localgraph import collect_bounded, encode_ids, frame
from bigdata_hits_spark.plans.iterate import materialize, normalized


@dataclass(frozen=True)
class RankResult:
    """Hub and authority score vectors, each ``(id string, score double)``
    sorted score-descending (id-ascending tiebreak for determinism; the
    reference leaves ties unordered).  ``iterations`` is the number of
    power iterations actually executed (< k when ``tol`` stopped early;
    None for the non-iterative simplified SALSA)."""

    hubs: DataFrame
    auths: DataFrame
    iterations: int | None = None


def _sorted(scores: DataFrame) -> DataFrame:
    return scores.orderBy(F.desc("score"), F.asc("id"))


#: Node-vector size above which the power step stops broadcasting the
#: score vector.  A score row is ~50 bytes (string id + double), so the
#: default caps the broadcast at a few hundred MB — past that, shipping
#: the vector to every executor each iteration is the scale cliff, and
#: the shuffle-join step (score vector exchanged on the join key, edges
#: never moved) is the right plan.
SCORE_BROADCAST_MAX_NODES = 5_000_000

#: Edge count (and node count) up to which a graph is ranked on the
#: driver.  Measured on a 4-core host, one session, a fresh graph per
#: run (collect, rank, collect hubs and auths; medians of 3 alternating
#: runs): sf0.1 ``g_ps`` (600,000 edges, 21,000 nodes) ``hits(k=8)``
#: local 1.6 s vs broadcast 8.2 s, ``salsa(k=8)`` 1.7 s vs 9.8 s; the
#: same graph doubled (1,200,000 edges, 41,000 nodes) ``hits`` 2.6 s vs
#: 12.0 s, ``salsa`` 2.5 s vs 14.2 s.  The cap stays below the largest
#: size measured; the driver holds a few tens of bytes per edge.
LOCAL_MAX_EDGES = 1_000_000


def _nodes_and_mode(graph: Graph, weight: str | None = None) -> tuple[int, str]:
    """Node count and the tier it selects — the one three-way decision:
    ``local`` while the graph (and its ``weight`` column, when given, is
    numeric and null-free) fits on the driver, else ``broadcast`` while
    the score vector fits broadcast range, ``shuffle`` beyond
    SCORE_BROADCAST_MAX_NODES.  Counts come from the collected arrays on
    the local tier and from one memoized count job otherwise."""
    lg = _local_graph(graph)
    if lg is not None and (weight is None or weight in lg.weights):
        return lg.n_nodes, "local"
    n = lg.n_nodes if lg is not None else graph.memo(("n_nodes",), graph.nodes.count)
    return n, _spark_mode(n)


def _spark_mode(n: int) -> str:
    """The Spark tiers' power step for ``n`` nodes."""
    return "broadcast" if n <= SCORE_BROADCAST_MAX_NODES else "shuffle"


def _tier(graph: Graph, weight: str | None = None):
    """(node count, tier) for one ranking call on ``graph``."""
    n, mode = _nodes_and_mode(graph, weight)
    if mode == "local":
        return n, _LocalTier(_local_graph(graph), graph.nodes.sparkSession)
    return n, _SparkTier(graph, mode)


def _empty_scores(graph: Graph) -> DataFrame:
    """The (id, score) result of a ranking over a graph with no nodes."""
    return graph.nodes.select("id", F.lit(0.0).alias("score"))


# ---------------------------------------------------------------------------
# The two loops, shared by every tier
# ---------------------------------------------------------------------------


def _topic_state(tier, topic: str | None):
    """(topic marker, topic node count) — and the one check, shared by
    every topic-teleport ranking, that the topic names at least one
    node."""
    if topic is None:
        raise ValueError("teleport='topic' requires topic=")
    mark, n_topic = tier.topic(topic)
    if n_topic == 0:
        raise ValueError(f"no nodes labeled {topic!r}")
    return mark, n_topic


def _make_damp(
    tier,
    teleport: str | None,
    beta: float,
    uniform_denom: float,
    mark,
    topic_denom: float | None,
) -> Callable:
    """Build the post-update damping transform.

    - ``None``: identity (base/weighted variants).
    - ``'uniform'``: s -> beta*s + (1-beta)/denom
      (``random_teleport_hits.py:67-75``).
    - ``'topic'``: keep node-table rows only; beta*s for non-topic nodes,
      beta*s + (1-beta)/denom for topic nodes
      (``topic_specific_hits.py:75-83``).
    """
    if teleport is None:
        return lambda v: v
    if teleport == "uniform":
        add = (1.0 - beta) / uniform_denom
        return lambda v: tier.damp(v, beta, add)
    if teleport == "topic":
        add = (1.0 - beta) / topic_denom
        return lambda v: tier.damp(v, beta, add, mark)
    raise ValueError(f"unknown teleport mode {teleport!r}")


def _power_iterate(tier, edges_hub, edges_auth, init, k: int, damp: Callable, norm: str,
                   tol: float | None = None) -> RankResult:
    """Mutual-update loop: k iterations of (hub step, auth step, damp,
    normalize).

    Dataflow per the reference (``base_hits.py:53-64``): the auth step
    reads the just-computed *damped, un-normalized* hubs, and the next
    iteration rebuilds hubs from the *normalized* auths — so the loop
    state is the auth vector ALONE; hubs (normalized or not) are pure
    output, normalized once after the loop.

    On the Spark tiers each iteration materializes ONE plan — hub step
    and auth step fused, ending at the checkpointed, normalized auths.
    The per-iteration lineage cut inside :func:`normalized` is
    load-bearing twice over: it bounds the logical-plan depth (an
    un-truncated k=8 run re-executes geometrically and GC-thrashes), and
    it keeps each job's stage count constant so wall-clock scales
    linearly in k.  The loop runs under whatever session conf the caller
    has (mutating shared conf would leak into concurrent queries).
    """
    if k <= 0:
        return RankResult(hubs=tier.frame(init), auths=tier.frame(init), iterations=0)
    auths = init
    hubs_raw = init
    prev = None
    done = 0
    for _ in range(k):
        hubs_raw = damp(tier.step(edges_hub, auths))
        auths = tier.normalized(damp(tier.step(edges_auth, hubs_raw)), norm)
        done += 1
        if tier.within_tol(auths, prev, tol):
            break
        prev = auths
    hubs = tier.normalized(hubs_raw, norm)
    return RankResult(hubs=tier.frame(hubs), auths=tier.frame(auths), iterations=done)


def _teleport_iterate(tier, ea, seeds, n_seeds: float, k: int, beta: float,
                      tol: float | None) -> DataFrame:
    """The PageRank-family loop: ``p <- beta * M^T p + (1 - beta) * e_S``
    over every node, with ``e_S`` uniform over the ``n_seeds`` nodes
    marked in ``seeds`` and p0 = e_S, L1-renormalized per iteration
    (absorbing the dangling leak: sinks' outflow is not redistributed).
    The teleport reaches every node-table row (a left join, where the
    HITS family inner-joins), and contributions from edges whose source
    is not a node are dropped."""
    tele = (1.0 - beta) / n_seeds
    scores = tier.marked(seeds, 1.0 / n_seeds)
    prev = None
    for _ in range(k):
        scores = tier.normalized(tier.teleport(seeds, tier.step(ea, scores), beta, tele), "l1")
        if tier.within_tol(scores, prev, tol):
            break
        prev = scores
    return tier.frame(scores)


# ---------------------------------------------------------------------------
# Local tier: the graph on the driver, numpy power steps
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _LocalGraph:
    """A graph collected to the driver, every id (node or edge endpoint)
    dictionary-encoded to an int code: ``ids[code]`` is the id."""

    ids: pa.Array
    node: np.ndarray  # bool per code: a row of the node table
    node_codes: np.ndarray  # code of each node row
    labels: pa.ChunkedArray  # label of each node row
    src: np.ndarray  # code per edge
    dst: np.ndarray
    weights: dict[str, np.ndarray]  # null-free numeric edge columns as doubles

    @property
    def n_nodes(self) -> int:
        return len(self.node_codes)


def _local_graph(graph: Graph) -> _LocalGraph | None:
    """The graph on the driver, memoized per graph (``release()`` drops
    it), or None when it does not fit LOCAL_MAX_EDGES."""
    cap = LOCAL_MAX_EDGES
    return graph.memo(("local_graph", cap), lambda: _collect_local(graph, cap))


def _collect_local(graph: Graph, cap: int) -> _LocalGraph | None:
    """One Arrow collect of ``src, dst`` plus every numeric edge column
    (cast to double, as the Spark tiers cast a weight), one of the node
    ``id, label``, each limited to ``cap + 1`` rows so a graph above the
    cap costs one bounded read.  Ids are encoded by
    :func:`~bigdata_hits_spark.operators.localgraph.encode_ids`; graphs
    with duplicate node ids, or ids it refuses (null, mixed types,
    neither integer nor string), stay on Spark."""
    numeric = [
        f.name for f in graph.edges.schema.fields
        if f.name not in ("src", "dst") and isinstance(f.dataType, T.NumericType)
    ]
    et = collect_bounded(
        graph.edges.select("src", "dst", *[F.col(c).cast("double").alias(c) for c in numeric]),
        cap,
    )
    if et is None:
        return None
    label = F.col(graph.label_col) if graph.label_col in graph.nodes.columns else F.lit(None)
    nt = collect_bounded(graph.nodes.select("id", label.cast("string").alias("label")), cap)
    if nt is None:
        return None
    enc = encode_ids([nt["id"], et["src"], et["dst"]])
    if enc is None:
        return None
    ids, (node_codes, src, dst) = enc
    node = np.zeros(len(ids), dtype=bool)
    node[node_codes] = True
    if int(node.sum()) != nt.num_rows:
        return None
    return _LocalGraph(
        ids=ids,
        node=node,
        node_codes=node_codes,
        labels=nt["label"],
        src=src,
        dst=dst,
        weights={c: et[c].to_numpy() for c in numeric if et[c].null_count == 0},
    )


class _Vec(NamedTuple):
    """A local score vector over the codes: ``mask`` marks the ids that
    have a score row, ``val`` holds their scores (unmasked entries are
    never read)."""

    mask: np.ndarray
    val: np.ndarray


class _LocalTier:
    """Vectors are :class:`_Vec`; a step relation is (key, out, mult)
    code/double arrays, a topic or seed marker a bool array."""

    def __init__(self, lg: _LocalGraph, spark):
        self.lg, self.spark = lg, spark

    def _sum_by(self, codes: np.ndarray, weights: np.ndarray) -> _Vec:
        size = len(self.lg.ids)
        return _Vec(np.bincount(codes, minlength=size) > 0,
                    np.bincount(codes, weights=weights, minlength=size))

    def _mult(self, weight: str | None) -> np.ndarray:
        return self.lg.weights[weight] if weight else np.ones(len(self.lg.src))

    # step relations and initial vectors
    def hits_edges(self, weight: str | None):
        lg, w = self.lg, self._mult(weight)
        return (lg.dst, lg.src, w), (lg.src, lg.dst, w)

    def salsa_edges(self):
        lg, ones = self.lg, self._mult(None)
        in_deg, out_deg = self._sum_by(lg.dst, ones).val, self._sum_by(lg.src, ones).val
        return (lg.dst, lg.src, 1.0 / in_deg[lg.dst]), (lg.src, lg.dst, 1.0 / out_deg[lg.src])

    def pagerank_edges(self, weight: str | None):
        lg, w = self.lg, self._mult(weight)
        out_w = self._sum_by(lg.src, w).val[lg.src]
        mult = np.divide(w, out_w, out=np.zeros_like(w), where=out_w != 0)
        return lg.src, lg.dst, mult

    def degrees(self, weight: str | None) -> tuple[_Vec, _Vec]:
        w = self._mult(weight)
        return self._sum_by(self.lg.src, w), self._sum_by(self.lg.dst, w)

    def topic(self, topic: str) -> tuple[np.ndarray, float]:
        hit = pc.fill_null(pc.equal(self.lg.labels, topic), False).to_numpy()
        mark = np.zeros(len(self.lg.ids), dtype=bool)
        mark[self.lg.node_codes[hit]] = True
        return mark, float(hit.sum())

    def seeds(self, weight: str | None, topic: str | None = None, mark=None) -> np.ndarray:
        return self.lg.node if mark is None else mark

    def uniform(self, n: int) -> _Vec:
        return self.marked(self.lg.node, 1.0 / math.sqrt(n))

    def marked(self, mark: np.ndarray, value: float) -> _Vec:
        """``value`` on marked nodes, 0 on the rest of the node table."""
        return _Vec(self.lg.node, np.where(mark, value, 0.0))

    # vector operations
    def step(self, edges, v: _Vec) -> _Vec:
        key, out, mult = edges
        hit = v.mask[key]
        return self._sum_by(out[hit], mult[hit] * v.val[key[hit]])

    def damp(self, v: _Vec, beta: float, add: float, mark=None) -> _Vec:
        if mark is None:
            return _Vec(v.mask, beta * v.val + add)
        return _Vec(v.mask & self.lg.node, np.where(mark, beta * v.val + add, beta * v.val))

    def teleport(self, seeds: np.ndarray, contrib: _Vec, beta: float, tele: float) -> _Vec:
        c = np.where(contrib.mask, contrib.val, 0.0)
        return _Vec(self.lg.node, beta * c + np.where(seeds, tele, 0.0))

    def normalized(self, v: _Vec, how: str) -> _Vec:
        s = v.val[v.mask]
        if how == "l2":
            nrm = math.sqrt(float(np.dot(s, s)))
        elif how == "l1":
            nrm = float(s.sum())
        else:
            raise ValueError(f"unknown norm {how!r} (expected 'l1' or 'l2')")
        return _Vec(v.mask, v.val / nrm) if nrm else v

    def within_tol(self, cur: _Vec, prev: _Vec | None, tol: float | None) -> bool:
        if tol is None or prev is None:
            return False
        both = cur.mask & prev.mask
        return bool(both.any()) and float(np.max(np.abs(cur.val[both] - prev.val[both]))) <= tol

    def frame(self, v: _Vec) -> DataFrame:
        """The (id, score) frame of ``v``: one partition, so sorting it
        and writing it as one file plan no exchange."""
        idx = np.flatnonzero(v.mask)
        table = pa.table({"id": self.lg.ids.take(pa.array(idx)), "score": v.val[idx]})
        return _sorted(frame(self.spark, table))


# ---------------------------------------------------------------------------
# Spark tiers: broadcast or shuffle power steps
# ---------------------------------------------------------------------------


def _step_partition_col(mode: str) -> str:
    """Partitioning column the power step wants: the aggregation key in
    broadcast mode (grouped sum needs no exchange), the join key in
    shuffle mode (join exchanges only the score vector)."""
    return "out" if mode == "broadcast" else "key"


def _step(edges_prepared: DataFrame, scores: DataFrame, mode: str = "broadcast") -> DataFrame:
    """One propagation: for each out-node, sum mult * score of the joined
    endpoint.  ``edges_prepared`` has columns (key, out, mult).

    ``mode='broadcast'`` (node vectors that fit in broadcast range):
    edges are pre-hash-partitioned on ``out`` and the score vector (one
    row per node — orders of magnitude smaller than the edge set) is
    broadcast explicitly.  Without the hint Catalyst sees the
    checkpointed vector as stats-less and builds the hash relation from
    the EDGES, re-broadcasting the whole edge set every iteration.  With
    it, the join preserves the edges' ``out`` partitioning through the
    aliasing projection, so the grouped sum needs no exchange —
    per-iteration data movement is just the broadcast vector plus the
    one-row norm.

    ``mode='shuffle'`` (billions of nodes — vector outgrows broadcast):
    edges are pre-partitioned on ``key`` instead, so the equi-join
    exchanges ONLY the score vector (vector-sized shuffle onto the edges'
    existing partitioning; shuffle-hash hint keeps the big side unsorted),
    and the grouped sum pays one edge-sized exchange on ``out`` — the
    same per-iteration movement as the classic Pregel formulation, with
    no broadcast of anything data-sized.
    """
    hinted = F.broadcast(scores) if mode == "broadcast" else scores.hint("shuffle_hash")
    joined = edges_prepared.join(hinted, edges_prepared["key"] == scores["id"], "inner")
    return (
        joined.select(F.col("out").alias("id"), (F.col("mult") * F.col("score")).alias("contrib"))
        .groupBy("id")
        .agg(F.sum("contrib").alias("score"))
    )


def _uniform_init(nodes: DataFrame, n: int) -> DataFrame:
    """h = a = 1/sqrt(N) for every node (``base_hits.py:10-14``)."""
    return nodes.select("id", (F.lit(1.0) / F.sqrt(F.lit(float(n)))).alias("score"))


def _within_tol(cur: DataFrame, prev: DataFrame | None, tol: float | None) -> bool:
    """Opt-in early stop of the power loops (beyond-reference; the
    reference is fixed-k): True when the L-inf delta between successive
    normalized (id, score) vectors is within ``tol``.  Both sides are
    slim projections over pinned checkpoints, so a check is one extra
    vector-sized job per iteration."""
    if tol is None or prev is None:
        return False
    delta = (
        cur.alias("cur")
        .join(prev.alias("prv"), F.col("cur.id") == F.col("prv.id"), "inner")
        .agg(F.max(F.abs(F.col("cur.score") - F.col("prv.score"))))
        .first()[0]
    )
    return delta is not None and delta <= tol


#: Edge rows per partition for the prepared step relations.  This only
#: governs the small-to-mid regime: the cap is the session's shuffle
#: parallelism, which binds long before partition sizing matters at
#: cluster scale (1e12 edges / thousands of shuffle partitions).  Locally
#: it tunes task granularity.  50k rows/partition (12 tasks for a
#: 600k-edge graph) beats 10k (32 tasks) by 15-20% across the whole
#: iterative family at sf0.1/local[32]: per-task work is milliseconds,
#: so one-task-per-core scheduling overhead dominates any parallelism
#: gain.  (A 10k setting shipped briefly on a mis-measured "25%
#: faster" claim and was the round-2 k3 bench regression; interleaved
#: A/B runs at 10k/25k/50k/100k show 50k-100k equal-best, 10k worst.)
_EDGES_PER_PARTITION = 50_000


def _prepare(graph: Graph, part_col: str, *rels: DataFrame) -> tuple[DataFrame, ...]:
    """Hash-partition each step relation on ``part_col`` and pin it: paid
    once per (graph, family, weight, mode), reused by every iteration of
    every query on that graph.  Broadcast mode partitions on the
    aggregation key ``out`` (so the grouped sum after the broadcast join
    needs no exchange); shuffle mode partitions on the join key ``key``
    (so the join exchanges only the score vector).  Partition count
    scales with the edge count (one memoized count job per graph) so
    small graphs don't schedule hundreds of near-empty tasks per
    iteration and large ones still spread across the cluster."""
    n_edges = graph.memo(("n_edges",), graph.edges.count)
    spark = graph.edges.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(1, min(cap, -(-n_edges // _EDGES_PER_PARTITION)))
    return tuple(rel.repartition(parts, part_col).persist() for rel in rels)


def _hits_edges(graph: Graph, weight: str | None, mode: str) -> tuple[DataFrame, DataFrame]:
    """(hub-step, auth-step) edge relations for the HITS family, memoized
    per (graph, weight, mode): hub step joins on dst and emits src; auth
    step joins on src and emits dst; mult is the edge weight (1.0 for
    unweighted — ``weighted_hits.py:53,56``)."""

    def build() -> tuple[DataFrame, DataFrame]:
        edges = graph.edges
        mult: Column = F.col(weight).cast("double") if weight else F.lit(1.0)
        eh = edges.select(F.col("dst").alias("key"), F.col("src").alias("out"), mult.alias("mult"))
        ea = edges.select(F.col("src").alias("key"), F.col("dst").alias("out"), mult.alias("mult"))
        return _prepare(graph, _step_partition_col(mode), eh, ea)

    return graph.memo(("hits_edges", weight, mode), build)


def _salsa_edges(graph: Graph, mode: str) -> tuple[DataFrame, DataFrame]:
    """(hub-step, auth-step) edge relations for mutual-update SALSA,
    memoized per graph: contributions are divided by the joined endpoint's
    degree (``base_salsa_2.py:14-23,75-80``), i.e. mult = 1/in_deg(dst) on
    the hub step and 1/out_deg(src) on the auth step."""

    def build() -> tuple[DataFrame, DataFrame]:
        edges = graph.edges
        in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_degree"))
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        eh = (
            edges.alias("e")
            .join(in_deg.alias("d"), F.col("e.dst") == F.col("d.dst"), "inner")
            .select(
                F.col("e.dst").alias("key"),
                F.col("e.src").alias("out"),
                (F.lit(1.0) / F.col("d.in_degree")).alias("mult"),
            )
        )
        ea = (
            edges.alias("e")
            .join(out_deg.alias("d"), F.col("e.src") == F.col("d.src"), "inner")
            .select(
                F.col("e.src").alias("key"),
                F.col("e.dst").alias("out"),
                (F.lit(1.0) / F.col("d.out_degree")).alias("mult"),
            )
        )
        return _prepare(graph, _step_partition_col(mode), eh, ea)

    return graph.memo(("salsa_edges", mode), build)


def _pagerank_prepared(graph: Graph, weight: str | None, mode: str):
    """Memoized column-normalized edge relation (key, out, mult) and the
    pinned node-id list shared by the PageRank family —
    ``M[dst, src] = w(src, dst) / out_w(src)``, prepared once per
    (graph, weight, mode) and reused by every job on the session's
    graph (the reference's many-jobs-one-graph pattern).  A source whose
    out-weights sum to 0 gets a NULL multiplier, so it contributes
    nothing (the grouped sum skips NULLs)."""

    def build() -> tuple[DataFrame, DataFrame]:
        edges = graph.edges
        w: Column = F.col(weight).cast("double") if weight else F.lit(1.0)
        out_w = edges.groupBy("src").agg(F.sum(w).alias("out_w"))
        ea = (
            edges.alias("e")
            .join(out_w.alias("d"), F.col("e.src") == F.col("d.src"), "inner")
            .select(
                F.col("e.src").alias("key"),
                F.col("e.dst").alias("out"),
                (w / F.nullif(F.col("d.out_w"), F.lit(0.0))).alias("mult"),
            )
        )
        (ea_prepared,) = _prepare(graph, _step_partition_col(mode), ea)
        (ids_prepared,) = _prepare(graph, "id", graph.nodes.select("id"))
        return ea_prepared, ids_prepared

    return graph.memo(("pagerank_edges", weight, mode), build)


def _on_mark() -> Column:
    return F.col("__s") == 1


class _SparkTier:
    """Vectors are (id, score) DataFrames; a step relation is a prepared
    (key, out, mult) frame, a topic or seed marker a pinned (id, __s 0/1)
    frame over the node table."""

    def __init__(self, graph: Graph, mode: str):
        self.graph, self.mode = graph, mode

    # step relations and initial vectors
    def hits_edges(self, weight: str | None):
        return _hits_edges(self.graph, weight, self.mode)

    def salsa_edges(self):
        return _salsa_edges(self.graph, self.mode)

    def pagerank_edges(self, weight: str | None):
        return _pagerank_prepared(self.graph, weight, self.mode)[0]

    def degrees(self, weight: str | None) -> tuple[DataFrame, DataFrame]:
        """Out- and in-degree (weighted: weight sums) per endpoint, one
        map-side-combined groupBy each."""
        if weight:
            w = F.col(weight).cast("double")
            hub_score, auth_score = F.sum(w), F.sum(w)
        else:
            hub_score = auth_score = F.count(F.lit(1)).cast("double")
        edges = self.graph.edges
        return (
            edges.groupBy(F.col("src").alias("id")).agg(hub_score.alias("score")),
            edges.groupBy(F.col("dst").alias("id")).agg(auth_score.alias("score")),
        )

    def topic(self, topic: str) -> tuple[DataFrame, float]:
        def build():
            ind = self.graph.topic_indicator(topic).withColumnRenamed("topic_specific", "__s")
            ind = ind.persist()
            return ind, float(ind.agg(F.sum("__s")).first()[0] or 0)

        return self.graph.memo(("topic_state", topic), build)

    def seeds(self, weight: str | None, topic: str | None = None, mark=None) -> DataFrame:
        node_ids = _pagerank_prepared(self.graph, weight, self.mode)[1]
        if mark is None:
            return node_ids.withColumn("__s", F.lit(1))
        # Memo key includes (weight, mode) like ("pagerank_edges", ...):
        # the relation is content-identical across them, but its pinned
        # partitioning was chosen against node_ids prepared under the
        # CURRENT (weight, mode).
        return self.graph.memo(
            ("ppr_seeds", topic, weight, self.mode),
            lambda: materialize(node_ids.join(mark, "id", "left")),
        )

    def uniform(self, n: int) -> DataFrame:
        return _uniform_init(self.graph.nodes, n)

    def marked(self, mark: DataFrame, value: float) -> DataFrame:
        value_col = F.when(_on_mark(), F.lit(value)).otherwise(F.lit(0.0))
        return mark.select("id", value_col.alias("score"))

    # vector operations
    def step(self, edges: DataFrame, scores: DataFrame) -> DataFrame:
        return _step(edges, scores, self.mode)

    def damp(self, scores: DataFrame, beta: float, add: float, mark=None) -> DataFrame:
        damped = F.lit(beta) * F.col("score")
        if mark is None:
            return scores.select("id", (damped + F.lit(add)).alias("score"))
        # The marker is node-count-sized and pinned: broadcast it for the
        # same reason as the score vector in _step — except in shuffle
        # mode, where the node vector is by definition beyond broadcast
        # range and the join must exchange instead.
        ind = F.broadcast(mark) if self.mode == "broadcast" else mark
        damped = F.when(_on_mark(), damped + F.lit(add)).otherwise(damped)
        return scores.join(ind, "id", "inner").select("id", damped.alias("score"))

    def teleport(self, seeds: DataFrame, contrib: DataFrame, beta: float, tele: float) -> DataFrame:
        """Per iteration the propagated contributions (node-vector-sized)
        are broadcast, or in shuffle mode exchanged onto the seed
        relation's ``id`` partitioning — never the edges."""
        tele_col = F.when(_on_mark(), F.lit(tele)).otherwise(F.lit(0.0))
        contrib = F.broadcast(contrib) if self.mode == "broadcast" else contrib.hint("shuffle_hash")
        return seeds.join(contrib, "id", "left").select(
            "id", (F.lit(beta) * F.coalesce(F.col("score"), F.lit(0.0)) + tele_col).alias("score")
        )

    normalized = staticmethod(normalized)
    within_tol = staticmethod(_within_tol)
    frame = staticmethod(_sorted)


# ---------------------------------------------------------------------------
# Public rankings
# ---------------------------------------------------------------------------


def hits(
    graph: Graph,
    k: int = 8,
    *,
    weight: str | None = None,
    teleport: str | None = None,
    beta: float = 0.8,
    topic: str | None = None,
    tol: float | None = None,
) -> RankResult:
    """HITS power iteration (Kleinberg), L2-normalized per iteration.

    Covers the reference's base (``base_hits.py``), weighted
    (``weighted_hits.py``), random-teleport (``random_teleport_hits.py``)
    and topic-specific (``topic_specific_hits.py``) variants:

    - ``weight``: edge-weight column name -> weighted HITS.
    - ``teleport='uniform'``: s -> beta*s + (1-beta)/N after each sum.
    - ``teleport='topic'`` + ``topic=...``: teleport mass only into
      topic-labeled nodes, denominator N_topic; a topic no node carries
      raises ValueError.
    - ``tol``: opt-in early stop once the L-inf delta of successive
      normalized auth vectors falls to ``tol`` (k remains the hard cap).
      The reference is fixed-k; default None preserves parity.

    A graph of at most LOCAL_MAX_EDGES edges ranks on the driver (numpy,
    no Spark job per iteration); above that the score vector is
    broadcast while the node count fits broadcast range and shuffled
    beyond SCORE_BROADCAST_MAX_NODES (see :func:`_step`).  All three
    tiers compute the same scores.  A graph with no nodes ranks to empty
    vectors.

    Topic-exclusive / query-dependent variants compose via
    :func:`hits_topic_exclusive` / :func:`hits_query_dependent`.
    """
    n, tier = _tier(graph, weight)
    if n == 0:
        return RankResult(hubs=_empty_scores(graph), auths=_empty_scores(graph), iterations=0)
    mark, n_topic = _topic_state(tier, topic) if teleport == "topic" else (None, None)
    damp = _make_damp(tier, teleport, beta, float(n), mark, n_topic)
    eh, ea = tier.hits_edges(weight)
    return _power_iterate(tier, eh, ea, tier.uniform(n), k, damp, "l2", tol)


def hits_topic_exclusive(graph: Graph, topic: str, k: int = 8, **kwargs) -> RankResult:
    """Base HITS on the topic-induced subgraph
    (``topic_exclusive_hits.py:43-71``; intended both-endpoint semantics,
    SURVEY §2.4(b))."""
    return hits(topic_induced(graph, topic), k, **kwargs)


def hits_query_dependent(graph: Graph, topic: str, k: int = 8, **kwargs) -> RankResult:
    """Base HITS on the topic neighborhood graph
    (``query_dependent_hits.py:43-77``)."""
    return hits(neighborhood(graph, topic), k, **kwargs)


def salsa(
    graph: Graph,
    k: int = 8,
    *,
    teleport: str | None = None,
    beta: float = 0.8,
    topic: str | None = None,
    tol: float | None = None,
) -> RankResult:
    """Mutual-update SALSA, L1-normalized per iteration
    (``base_salsa_2.py``, ``random_teleport_salsa.py``,
    ``topic_specific_salsa.py``).

    Init is uniform 1/sqrt(N) (sic — mirrors ``base_salsa_2.py:25``) or,
    for the topic variant, 1/(2*N_topic) on topic nodes and 0 elsewhere
    (``topic_specific_salsa.py:23``).  Teleport denominators are 2N
    (uniform) / 2*N_topic (topic) per SURVEY §2.4(c).  Tiers, unknown
    topics and empty graphs as in :func:`hits`.
    """
    n, tier = _tier(graph)
    if n == 0:
        return RankResult(hubs=_empty_scores(graph), auths=_empty_scores(graph), iterations=0)
    mark = topic_denom = None
    init = tier.uniform(n)
    if teleport == "topic":
        mark, n_topic = _topic_state(tier, topic)
        topic_denom = 2.0 * n_topic
        init = tier.marked(mark, 1.0 / topic_denom)
    damp = _make_damp(tier, teleport, beta, 2.0 * n, mark, topic_denom)
    eh, ea = tier.salsa_edges()
    return _power_iterate(tier, eh, ea, init, k, damp, "l1", tol)


def pagerank(
    graph: Graph,
    k: int = 8,
    *,
    beta: float = 0.85,
    weight: str | None = None,
    tol: float | None = None,
) -> DataFrame:
    """PageRank over the directed graph — beyond-reference (the
    reference stops at HITS/SALSA), but the single-vector power
    iteration drops straight out of the same prepared-edge machinery:

    ``p <- beta * M^T p + (1 - beta) / N`` over EVERY node, with
    ``M[dst, src] = w(src, dst) / out_w(src)`` (with ``weight``,
    out-degree is the weighted sum; a source whose out-weights sum to 0
    contributes nothing).  It is :func:`personalized_pagerank` with
    every node a seed, and runs the same loop on the same three tiers
    as :func:`hits`.

    Unlike the HITS/SALSA loops — whose inner-join node dropping is
    reference parity (SURVEY §2.4(a)) — this op is beyond-reference, so
    it keeps the *textbook* semantics: the teleport term reaches every
    node via a left join of the pinned node list with the propagated
    contributions (on a bipartite/DAG graph the dropped-node form
    collapses to an empty vector in two iterations, which is useless).

    Returns ``(id, score)`` sorted score-descending; empty for a graph
    with no nodes.  ``tol`` stops early as in :func:`hits`.
    """
    n, tier = _tier(graph, weight)
    if n == 0:
        return _empty_scores(graph)
    ea = tier.pagerank_edges(weight)
    return _teleport_iterate(tier, ea, tier.seeds(weight), float(n), k, beta, tol)


def personalized_pagerank(
    graph: Graph,
    topic: str,
    k: int = 8,
    *,
    beta: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """Personalized PageRank: the power iteration of :func:`pagerank`
    with the teleport mass restricted to the SEED set (nodes whose
    label equals ``topic``; none raises ValueError) — ``p <- beta *
    M^T p + (1 - beta) * e_S`` with ``e_S`` uniform over seeds,
    p0 = e_S.  The canonical graph-proximity score ("what is close to
    THIS set"): recommendation from a user's purchases, topical
    authority from a trusted seed list, expansion sets for curation.

    Same loop, tiers and scale behavior as PageRank; on the Spark tiers
    the seed indicator is pinned once per (topic, weight, mode) on the
    node list's partitioning, and the seed count is the one extra
    bounded scalar."""
    _n, tier = _tier(graph, weight)
    mark, n_seeds = _topic_state(tier, topic)
    ea = tier.pagerank_edges(weight)
    return _teleport_iterate(tier, ea, tier.seeds(weight, topic, mark), n_seeds, k, beta, None)


def salsa_simplified(graph: Graph, *, weight: str | None = None) -> RankResult:
    """Simplified (non-iterative) SALSA: hub score proportional to
    out-degree, authority to in-degree, L1-normalized
    (``base_salsa.py:38-42``); with ``weight``, degrees are weighted sums
    (``weighted_salsa.py:41-45``).  On the Spark tiers a single
    groupBy-agg per side — one shuffle each, map-side combined."""
    _n, tier = _tier(graph, weight)
    hubs, auths = tier.degrees(weight)
    return RankResult(
        hubs=tier.frame(tier.normalized(hubs, "l1")),
        auths=tier.frame(tier.normalized(auths, "l1")),
    )


def salsa_query_dependent(graph: Graph, topic: str, **kwargs) -> RankResult:
    """Simplified SALSA on the topic neighborhood graph
    (``query_dependent_salsa.py:39-62``)."""
    return salsa_simplified(neighborhood(graph, topic), **kwargs)


def list_topics(graph: Graph) -> DataFrame:
    """Distinct node labels (``list_topics.py:17-19``)."""
    return graph.nodes.select(F.col(graph.label_col).alias("label")).distinct()
