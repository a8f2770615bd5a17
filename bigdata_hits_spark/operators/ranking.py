"""HITS, SALSA and PageRank families as parameterized DataFrame power
iterations.

One harness replaces the reference's 12 copy-pasted scripts
(``/root/reference/src/*_hits.py``, ``*_salsa.py``; SURVEY §2.2).  Every
update is a join + grouped sum declared via the DataFrame API, so Catalyst
plans it (hash aggregate with map-side partials, AQE-picked join strategy,
skew splitting) instead of the reference's fixed RDD shuffle joins.

Two loops cover the whole family: :func:`_power_iterate` for the mutual
hub/authority update (HITS, SALSA) and :func:`_teleport_iterate` for the
single-vector walk (PageRank is personalized PageRank whose seed set is
every node).  Both end each iteration in the one normalization,
:func:`~bigdata_hits_spark.plans.iterate.normalized`, and both run the
broadcast or the shuffle power step chosen once from the node count
(:func:`_nodes_and_mode`).

Parity semantics faithfully reproduced (SURVEY §2.4):

- *Dropped nodes*: score updates inner-join edges with scores, so nodes
  with no in-edges (authorities) / out-edges (hubs) vanish after iteration
  one (``base_hits.py:57,60``).  Teleport mass is added only to surviving
  keys (``random_teleport_hits.py:67-75``) — NOT the textbook
  dangling-node revival.
- *Update order*: hubs update reads the previous auths; the auths update
  reads the just-computed (damped, un-normalized) hubs; both are then
  normalized (``base_hits.py:53-64``).
- *Norms*: HITS normalizes L2, SALSA L1; teleport denominators are N for
  HITS, 2N for SALSA, N_topic / 2·N_topic for the topic variants
  (SURVEY §2.4(c)).
- *SALSA mutual update* divides each contribution by the endpoint degree:
  hub(a) = sum auth(b)/in_deg(b), auth(b) = sum hub(a)/out_deg(a)
  (``base_salsa_2.py:75-80``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from bigdata_hits_spark.operators.graph import Graph, neighborhood, topic_induced
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


def _nodes_and_mode(graph: Graph) -> tuple[int, str]:
    """Node count (memoized per graph) and the power-step mode it
    selects — the one broadcast-vs-shuffle decision: broadcast the score
    vector while it fits, shuffle it beyond SCORE_BROADCAST_MAX_NODES."""
    n = graph.memo(("n_nodes",), graph.nodes.count)
    return n, "broadcast" if n <= SCORE_BROADCAST_MAX_NODES else "shuffle"


def _step_partition_col(mode: str) -> str:
    """Partitioning column the power step wants: the aggregation key in
    broadcast mode (grouped sum needs no exchange), the join key in
    shuffle mode (join exchanges only the score vector)."""
    return "out" if mode == "broadcast" else "key"


def _empty_scores(graph: Graph) -> DataFrame:
    """The (id, score) result of a ranking over a graph with no nodes."""
    return graph.nodes.select("id", F.lit(0.0).alias("score"))


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


def _make_damp(
    teleport: str | None,
    beta: float,
    uniform_denom: float,
    indicator: DataFrame | None,
    topic_denom: float | None,
    mode: str,
) -> Callable[[DataFrame], DataFrame]:
    """Build the post-update damping transform.

    - ``None``: identity (base/weighted variants).
    - ``'uniform'``: s -> beta*s + (1-beta)/denom
      (``random_teleport_hits.py:67-75``).
    - ``'topic'``: join the 0/1 indicator; beta*s for non-topic nodes,
      beta*s + (1-beta)/denom for topic nodes
      (``topic_specific_hits.py:75-83``).
    """
    if teleport is None:
        return lambda df: df
    if teleport == "uniform":
        add = F.lit((1.0 - beta) / uniform_denom)
        return lambda df: df.select("id", (F.lit(beta) * F.col("score") + add).alias("score"))
    if teleport == "topic":
        add = F.lit((1.0 - beta) / topic_denom)
        # The indicator is node-count-sized and persisted: broadcast it
        # for the same reason as the score vector in _step — except in
        # shuffle mode, where the node vector is by definition beyond
        # broadcast range and the join must exchange instead.
        ind = F.broadcast(indicator) if mode == "broadcast" else indicator

        def damp(df: DataFrame) -> DataFrame:
            joined = df.join(ind, "id", "inner")
            damped = F.when(
                F.col("topic_specific") == 0, F.lit(beta) * F.col("score")
            ).otherwise(F.lit(beta) * F.col("score") + add)
            return joined.select("id", damped.alias("score"))

        return damp
    raise ValueError(f"unknown teleport mode {teleport!r}")


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


def _power_iterate(
    edges_hub: DataFrame,
    edges_auth: DataFrame,
    init: DataFrame,
    k: int,
    damp: Callable[[DataFrame], DataFrame],
    norm: str,
    mode: str,
    tol: float | None = None,
) -> RankResult:
    """Mutual-update loop: k iterations of (hub step, auth step, damp,
    normalize).

    Dataflow per the reference (``base_hits.py:53-64``): the auth step
    reads the just-computed *damped, un-normalized* hubs, and the next
    iteration rebuilds hubs from the *normalized* auths — so the loop
    state is the auth vector ALONE; hubs (normalized or not) are pure
    output.  Each iteration therefore materializes ONE plan — hub step
    and auth step fused, ending at the checkpointed, normalized auths —
    and the final hub vector is normalized once, after the loop.

    The per-iteration lineage cut inside :func:`normalized` is
    load-bearing twice over: it bounds the logical-plan depth (an
    un-truncated k=8 run re-executes geometrically and GC-thrashes
    before finishing, measured locally), and it keeps each job's stage
    count constant so wall-clock scales linearly in k.
    """
    if k <= 0:
        return RankResult(hubs=_sorted(init), auths=_sorted(init), iterations=0)
    # The loop runs under whatever session conf the caller has — in
    # particular it does NOT toggle AQE off anymore.  The plans are
    # hand-shaped (explicit broadcast / pre-partitioned edges), so AQE's
    # re-planning neither helps nor hurts measurably (verified at sf0.1:
    # warm k=8 runs are within noise either way), and mutating shared
    # session conf would leak into concurrently submitted queries on a
    # multi-threaded driver.
    auths = init
    hubs_raw = init
    prev = None
    done = 0
    for _ in range(k):
        hubs_raw = damp(_step(edges_hub, auths, mode))
        auths = normalized(damp(_step(edges_auth, hubs_raw, mode)), norm)
        done += 1
        if _within_tol(auths, prev, tol):
            break
        prev = auths
    hubs = normalized(hubs_raw, norm)
    return RankResult(hubs=_sorted(hubs), auths=_sorted(auths), iterations=done)


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


def _hits_step_relations(graph: Graph, weight: str | None) -> tuple[DataFrame, DataFrame]:
    """Un-prepared (hub-step, auth-step) relations: hub step joins on dst
    and emits src; auth step joins on src and emits dst; mult is the edge
    weight (1.0 for unweighted — ``weighted_hits.py:53,56``)."""
    edges = graph.edges
    mult: Column = F.col(weight).cast("double") if weight else F.lit(1.0)
    eh = edges.select(F.col("dst").alias("key"), F.col("src").alias("out"), mult.alias("mult"))
    ea = edges.select(F.col("src").alias("key"), F.col("dst").alias("out"), mult.alias("mult"))
    return eh, ea


def _hits_edges(graph: Graph, weight: str | None, mode: str) -> tuple[DataFrame, DataFrame]:
    """(hub-step, auth-step) edge relations for the HITS family, memoized
    per (graph, weight, mode)."""

    def build() -> tuple[DataFrame, DataFrame]:
        eh, ea = _hits_step_relations(graph, weight)
        return _prepare(graph, _step_partition_col(mode), eh, ea)

    return graph.memo(("hits_edges", weight, mode), build)


def persist_ranking_edges(
    graph: Graph,
    table_prefix: str,
    *,
    weight: str | None = None,
    buckets: int = 32,
) -> tuple[str, str]:
    """Persist the HITS step relations as BUCKETED tables (hash-bucketed
    on the partition column of the power step the node count selects) —
    the persistent-layout twin of the in-session :func:`_prepare`
    repartition.

    The prepare shuffle is paid ONCE at write time (e.g. nightly,
    alongside graph ingestion); every later session attaches the tables
    (:func:`attach_ranking_edges`) and runs the whole iteration loop with
    ZERO edge-sized exchange — the bucketed scan already satisfies the
    grouped sum's distribution (asserted in
    tests/test_plans.py::test_bucketed_ranking_edges_no_exchange).
    Returns the (hub, auth) table names."""
    from bigdata_hits_spark.sources.bucketed import write_bucketed

    eh, ea = _hits_step_relations(graph, weight)
    col = _step_partition_col(_nodes_and_mode(graph)[1])
    hub_t, auth_t = f"{table_prefix}_hub", f"{table_prefix}_auth"
    write_bucketed(eh, hub_t, col, buckets)
    write_bucketed(ea, auth_t, col, buckets)
    return hub_t, auth_t


def attach_ranking_edges(
    graph: Graph,
    table_prefix: str,
    *,
    weight: str | None = None,
) -> None:
    """Seed ``graph``'s memo with bucketed step relations previously
    written by :func:`persist_ranking_edges`, so :func:`hits` (and the
    damped variants sharing the HITS edge relations) skip the in-session
    prepare-repartition entirely on a COLD session."""
    from bigdata_hits_spark.sources.bucketed import read_bucketed

    spark = graph.edges.sparkSession
    eh = read_bucketed(spark, f"{table_prefix}_hub")
    ea = read_bucketed(spark, f"{table_prefix}_auth")
    graph.memo(("hits_edges", weight, _nodes_and_mode(graph)[1]), lambda: (eh, ea))


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


def _topic_state(graph: Graph, topic: str | None) -> tuple[DataFrame, float]:
    """Memoized (persisted 0/1 indicator, topic node count) per topic —
    and the one check, shared by every topic-teleport ranking, that the
    topic names at least one node."""
    if topic is None:
        raise ValueError("teleport='topic' requires topic=")

    def build():
        ind = graph.topic_indicator(topic).persist()
        n_topic = float(ind.agg(F.sum("topic_specific")).first()[0] or 0)
        return ind, n_topic

    ind, n_topic = graph.memo(("topic_state", topic), build)
    if n_topic == 0:
        raise ValueError(f"no nodes labeled {topic!r}")
    return ind, n_topic


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

    The score vector is broadcast while the node count fits broadcast
    range and shuffled beyond SCORE_BROADCAST_MAX_NODES (see
    :func:`_step`).  A graph with no nodes ranks to empty vectors.

    Topic-exclusive / query-dependent variants compose via
    :func:`hits_topic_exclusive` / :func:`hits_query_dependent`.
    """
    n, mode = _nodes_and_mode(graph)
    if n == 0:
        return RankResult(hubs=_empty_scores(graph), auths=_empty_scores(graph), iterations=0)
    indicator, n_topic = _topic_state(graph, topic) if teleport == "topic" else (None, None)
    damp = _make_damp(teleport, beta, float(n), indicator, n_topic, mode)
    eh, ea = _hits_edges(graph, weight, mode)
    return _power_iterate(eh, ea, _uniform_init(graph.nodes, n), k, damp, "l2", mode, tol)


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
    (uniform) / 2*N_topic (topic) per SURVEY §2.4(c).  Power-step mode,
    unknown topics and empty graphs as in :func:`hits`.
    """
    n, mode = _nodes_and_mode(graph)
    if n == 0:
        return RankResult(hubs=_empty_scores(graph), auths=_empty_scores(graph), iterations=0)
    indicator = topic_denom = None
    init = _uniform_init(graph.nodes, n)
    if teleport == "topic":
        indicator, n_topic = _topic_state(graph, topic)
        topic_denom = 2.0 * n_topic
        init = indicator.select(
            "id",
            F.when(F.col("topic_specific") == 0, F.lit(0.0))
            .otherwise(F.lit(1.0 / topic_denom))
            .alias("score"),
        )
    damp = _make_damp(teleport, beta, 2.0 * n, indicator, topic_denom, mode)
    eh, ea = _salsa_edges(graph, mode)
    return _power_iterate(eh, ea, init, k, damp, "l1", mode, tol)


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


def _teleport_iterate(
    ea: DataFrame,
    seeded: DataFrame,
    n_seeds: float,
    k: int,
    beta: float,
    mode: str,
    tol: float | None,
) -> DataFrame:
    """The PageRank-family loop: ``p <- beta * M^T p + (1 - beta) * e_S``
    over every row of the pinned per-node teleport relation ``seeded``
    (id, __s 0/1), with ``e_S`` uniform over its ``n_seeds`` seeds and
    p0 = e_S, L1-renormalized per iteration (absorbing the dangling
    leak: sinks' outflow is not redistributed).  Per iteration the
    propagated contributions (node-vector-sized) are broadcast, or in
    shuffle mode exchanged onto the relation's ``id`` partitioning —
    never the edges."""
    on_seed = F.col("__s") == 1
    tele = F.when(on_seed, F.lit((1.0 - beta) / n_seeds)).otherwise(F.lit(0.0))
    scores = seeded.select(
        "id", F.when(on_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("score")
    )
    prev = None
    for _ in range(k):
        contrib = _step(ea, scores, mode)
        contrib = F.broadcast(contrib) if mode == "broadcast" else contrib.hint("shuffle_hash")
        scores = normalized(
            seeded.join(contrib, "id", "left").select(
                "id", (F.lit(beta) * F.coalesce(F.col("score"), F.lit(0.0)) + tele).alias("score")
            ),
            "l1",
        )
        if _within_tol(scores, prev, tol):
            break
        prev = scores
    return _sorted(scores)


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
    out-degree is the weighted sum).  It is :func:`personalized_pagerank`
    with every node a seed, and runs the same loop.

    Unlike the HITS/SALSA loops — whose inner-join node dropping is
    reference parity (SURVEY §2.4(a)) — this op is beyond-reference, so
    it keeps the *textbook* semantics: the teleport term reaches every
    node via a left join of the pinned node list with the propagated
    contributions (on a bipartite/DAG graph the dropped-node form
    collapses to an empty vector in two iterations, which is useless).

    Returns ``(id, score)`` sorted score-descending; empty for a graph
    with no nodes.  ``tol`` stops early as in :func:`hits`.
    """
    n, mode = _nodes_and_mode(graph)
    if n == 0:
        return _empty_scores(graph)
    ea, node_ids = _pagerank_prepared(graph, weight, mode)
    return _teleport_iterate(ea, node_ids.withColumn("__s", F.lit(1)), float(n), k, beta, mode, tol)


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

    Same loop and scale behavior as PageRank; the seed indicator is
    pinned once per (topic, weight, mode) on the node list's
    partitioning, and the seed count is the one extra bounded scalar."""
    _n, mode = _nodes_and_mode(graph)
    indicator, n_seeds = _topic_state(graph, topic)
    ea, node_ids = _pagerank_prepared(graph, weight, mode)
    # Memo key includes (weight, mode) like ("pagerank_edges", ...): the
    # relation is content-identical across them, but its pinned
    # partitioning was chosen against node_ids prepared under the CURRENT
    # (weight, mode).
    seeded = graph.memo(
        ("ppr_seeds", topic, weight, mode),
        lambda: materialize(
            node_ids.join(indicator.withColumnRenamed("topic_specific", "__s"), "id", "left")
        ),
    )
    return _teleport_iterate(ea, seeded, n_seeds, k, beta, mode, None)


def salsa_simplified(graph: Graph, *, weight: str | None = None) -> RankResult:
    """Simplified (non-iterative) SALSA: hub score proportional to
    out-degree, authority to in-degree, L1-normalized
    (``base_salsa.py:38-42``); with ``weight``, degrees are weighted sums
    (``weighted_salsa.py:41-45``).  Single groupBy-agg per side — one
    shuffle each, map-side combined."""
    if weight:
        w = F.col(weight).cast("double")
        hub_score, auth_score = F.sum(w), F.sum(w)
    else:
        hub_score, auth_score = F.count(F.lit(1)).cast("double"), F.count(F.lit(1)).cast("double")
    hubs = graph.edges.groupBy(F.col("src").alias("id")).agg(hub_score.alias("score"))
    auths = graph.edges.groupBy(F.col("dst").alias("id")).agg(auth_score.alias("score"))
    return RankResult(
        hubs=_sorted(normalized(hubs, "l1")),
        auths=_sorted(normalized(auths, "l1")),
    )


def salsa_query_dependent(graph: Graph, topic: str, **kwargs) -> RankResult:
    """Simplified SALSA on the topic neighborhood graph
    (``query_dependent_salsa.py:39-62``)."""
    return salsa_simplified(neighborhood(graph, topic), **kwargs)


def list_topics(graph: Graph) -> DataFrame:
    """Distinct node labels (``list_topics.py:17-19``)."""
    return graph.nodes.select(F.col(graph.label_col).alias("label")).distinct()
