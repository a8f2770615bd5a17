"""Graph analytics beyond the ranking family: triangle counting,
label-propagation communities, and k-core decomposition.

Beyond-reference breadth (the reference stops at HITS/SALSA —
``/root/reference/src``): these are the other two staples of large-scale
graph analysis, built on the same (src, dst) edge contract as
operators/graph.py and the same loop discipline as the ranking core.

Scale notes:

- Triangle counting uses the DEGREE-ORDERED orientation (Cohen's
  MapReduce formulation / the standard Spark wedge-join shape): edges are
  oriented from the lower-(degree, id) endpoint to the higher one, so
  every wedge is enumerated at its LOWEST-degree vertex.  Work drops from
  sum(deg²) — quadratic in the hottest hub's degree — to O(m^1.5)
  regardless of skew, which is the difference between "dies on the first
  celebrity node" and "runs" at web scale.  All joins are equi-joins on
  node ids.
- Label propagation is synchronous min-of-mode: per round every node
  adopts the smallest among its neighbors' most frequent labels (the
  min tiebreak makes the textbook-nondeterministic algorithm fully
  deterministic and engine-portable).  Each round is the (edge, label)
  attach plus two codegen hash-aggregates ((id, community) count, then
  per-node struct-min), with localCheckpoint lineage truncation on a
  fixed cadence — k rounds, no convergence test.
- k-core and k-truss peel to a fixpoint on
  :func:`~bigdata_hits_spark.plans.iterate.fixpoint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bigdata_hits_spark.plans.iterate import fixpoint, materialize

#: Label-propagation rounds between lineage truncations (see loop note).
_LP_CHECKPOINT_EVERY = 4


def symmetric_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct undirected (a, b) edge set, both directions materialized,
    self-loops dropped — the shared input shape of both operators below.
    Callers running SEVERAL analytics over one graph should build this
    once (e.g. ``graph.memo``), pin it, and pass it via ``sym=``."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    return fwd.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def _oriented(sym: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a symmetric (a, b) edge set: each
    undirected edge once, from its lower-(degree, id) endpoint to the
    higher — (lo, hi, deg_hi).  The relation every wedge enumeration
    consumes; :func:`persist_triangle_layout` writes exactly this,
    bucketed on ``lo``, so later sessions skip the degree + orientation
    joins entirely."""
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    return (
        sym.join(da, "a")
        .join(db, "b")
        .filter(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("lo"), F.col("b").alias("hi"), F.col("deg_b").alias("deg_hi"))
    )


def _wedge_counts(sym: DataFrame) -> DataFrame:
    """Degree-ordered wedge enumeration over a symmetric (a, b) edge set
    whose endpoints may be any orderable type; returns (id, triangles)
    for nodes in at least one triangle.

    Orient each undirected edge from its lower (degree, id) endpoint to
    the higher, enumerate wedges by self-joining the oriented list on the
    pivot, close each wedge with a semi-join against the oriented set.
    Every triangle is found exactly once; wedge fan-out is bounded by the
    SMALLER endpoint's degree — hub skew never amplifies: O(m^1.5).
    (The orientation tiebreak on equal degree depends on the id ordering,
    but the triangle SET is orientation-invariant, so counts don't.)
    """
    return _wedges_from_oriented(_oriented(sym))


def _triangles_from_oriented(oriented: DataFrame) -> DataFrame:
    """(u, v, w) triangle triples — each triangle exactly once, enumerated
    at its lowest-(degree, id) vertex — from a degree-ordered
    (lo, hi, deg_hi) edge list: the wedge self-join + closing semi-join
    core shared by triangle counting and the k-truss peel.  Wedge fan-out
    per pivot is bounded by the pivot's ORIENTED out-degree (O(sqrt(m))
    after degree ordering), so hub skew never amplifies."""
    e1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("deg_hi").alias("dv"))
    e2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"), F.col("deg_hi").alias("dw"))
    wedges = (
        e1.join(e2, "u")
        .filter(
            (F.col("dv") < F.col("dw"))
            | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
        )
        .select("u", "v", "w")
    )
    closing = oriented.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    return wedges.join(closing, ["v", "w"], "left_semi").select("u", "v", "w")


def _wedges_from_oriented(oriented: DataFrame) -> DataFrame:
    """(id, triangles) from a degree-ordered (lo, hi, deg_hi) edge list —
    the wedge self-join + closing semi-join half of the triangle plan,
    shared by the in-session path and the persisted-layout path."""
    triangles = _triangles_from_oriented(oriented)
    return (
        triangles.select(F.col("u").alias("id"))
        .unionByName(triangles.select(F.col("v").alias("id")))
        .unionByName(triangles.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    sym: DataFrame | None = None,
) -> DataFrame:
    """(id, triangles): number of undirected triangles through each node
    appearing in ``edges`` (direction and multiplicity ignored, self-loops
    dropped — the standard social-graph clustering measure).

    The wedge machinery (:func:`_wedge_counts`) runs on xxhash64-ENCODED
    long ids: the wedge join is by far the heaviest dataflow in the
    engine (~9M wedge rows at sf0.1), and 8-byte longs through those
    shuffles beat variable-length strings decisively — pressure-context
    A/B (scripts/ab_triangles.py --pressure, identical results): strings
    min 5.9s / worst 10.1s vs longs min 3.3s / worst 4.9s (-43%, and the
    variance tightens).  String ids are restored by one node-sized dim
    join at the end.

    Hash-collision guard: two node ids colliding under xxhash64 would
    merge their neighborhoods.  With P(collision) ≈ n²/2^65 this is
    negligible below ~10^8 nodes but real at 10^9+ (≈2.7% at 1e9), so
    the operator counts distinct ids vs distinct hashes first (one
    node-sized agg) and falls back to the string-keyed plan on a hit.

    Plan-shape history: the grouped-adjacency + array_intersect variant
    was A/B'd too — faster on an idle heap (4.45s vs 6.48s) but
    pathological under multi-query memory pressure (worst pass 58.7s;
    bench regressed 7.4s -> 11.4s) because its collect_list arrays live
    in execution memory instead of streaming through spillable shuffle
    machinery.  Wedges + long ids is the plan that holds up busy.
    """
    if sym is None:
        sym = symmetric_edges(edges, src, dst)
    nodes = sym.select(F.col("a").alias("id")).distinct()
    ncounts = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("id")).alias("nh"),
    ).first()
    if ncounts["n"] == ncounts["nh"]:
        enc = sym.select(F.xxhash64("a").alias("a"), F.xxhash64("b").alias("b"))
        per_node = _wedge_counts(enc).withColumnRenamed("id", "idh")
        keyed = nodes.withColumn("idh", F.xxhash64("id"))
        return keyed.join(per_node, "idh", "left").select(
            "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
        )
    per_node = _wedge_counts(sym)
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def persist_triangle_layout(
    edges: DataFrame,
    table_prefix: str,
    src: str = "src",
    dst: str = "dst",
    buckets: int = 32,
) -> tuple[str, str]:
    """Persist the degree-ordered oriented adjacency as a BUCKETED table
    — the persistent-layout twin of :func:`triangle_counts`'s in-session
    preparation, following the `persist_ranking_edges` precedent
    (operators/ranking.py).

    The expensive prefix of the triangle plan — symmetrize + distinct +
    degree count + two orientation joins over the raw edges — is paid
    ONCE at write time (nightly, alongside graph ingestion).  Later
    sessions read ``{prefix}_oriented`` (lo, hi, deg_hi; xxhash64 longs
    when collision-free, original ids otherwise) hash-bucketed on ``lo``,
    so the wedge self-join's BOTH sides come out of the scan already
    distributed on the join key — zero exchange before the wedge join,
    which at 100 TB is the only edge-sized shuffle left in the plan.
    ``{prefix}_nodes`` (id, idh) restores original ids and keeps
    zero-triangle nodes in the result.  Returns the two table names."""
    from bigdata_hits_spark.sources.bucketed import write_bucketed

    sym = symmetric_edges(edges, src, dst)
    nodes = sym.select(F.col("a").alias("id")).distinct()
    ncounts = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("id")).alias("nh"),
    ).first()
    if ncounts["n"] == ncounts["nh"]:
        keyed = nodes.select("id", F.xxhash64("id").alias("idh"))
        enc = sym.select(F.xxhash64("a").alias("a"), F.xxhash64("b").alias("b"))
    else:  # hash collision (≥ ~1e9-node regime): keep original ids
        keyed = nodes.select("id", F.col("id").alias("idh"))
        enc = sym
    ot, nt = f"{table_prefix}_oriented", f"{table_prefix}_nodes"
    write_bucketed(_oriented(enc), ot, "lo", buckets)
    from bigdata_hits_spark.sources.bucketed import clear_orphaned_location

    clear_orphaned_location(keyed.sparkSession, nt)
    keyed.write.format("parquet").mode("overwrite").saveAsTable(nt)
    return ot, nt


def triangle_counts_from_layout(spark, table_prefix: str) -> DataFrame:
    """(id, triangles) from a layout written by
    :func:`persist_triangle_layout` — identical results to
    :func:`triangle_counts` on the same edges (equality-tested in
    tests/test_graphalgs.py), but the cold path starts at the wedge join:
    no symmetrize/distinct/degree/orientation work, and the bucketed scan
    already satisfies the self-join's distribution."""
    from bigdata_hits_spark.sources.bucketed import read_bucketed

    oriented = read_bucketed(spark, f"{table_prefix}_oriented")
    nodes = spark.table(f"{table_prefix}_nodes")
    per_node = _wedges_from_oriented(oriented).withColumnRenamed("id", "idh")
    return nodes.join(per_node, "idh", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def clustering_coefficient_from_layout(
    spark, table_prefix: str, digits: int = 6
) -> DataFrame:
    """(id, degree, triangles, coeff) from a layout written by
    :func:`persist_triangle_layout` — identical results to
    :func:`clustering_coefficient` on the same edges (equality-tested in
    tests/test_graphalgs.py), serving the coefficient at ~layout-scan
    cost (VERDICT r12 #1: the in-session path recomputes the wedge
    machinery the persisted layout already paid for — 98.6 s warm at
    sf1 vs the layout path's triangle cost).

    Degrees come FROM the layout: the oriented relation holds each
    undirected edge exactly once as (lo, hi), so ``degree(v)`` is the
    count of rows mentioning ``v`` on either side — two edge-sized
    column projections and one hash agg, no re-symmetrization of the
    raw edges.  The triangle half is the shared
    :func:`_wedges_from_oriented` wedge plan whose self-join both sides
    come pre-distributed out of the bucketed scan."""
    from bigdata_hits_spark.sources.bucketed import read_bucketed

    oriented = read_bucketed(spark, f"{table_prefix}_oriented")
    nodes = spark.table(f"{table_prefix}_nodes")
    deg = (
        oriented.select(F.col("lo").alias("idh"))
        .unionByName(oriented.select(F.col("hi").alias("idh")))
        .groupBy("idh")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    per_node = _wedges_from_oriented(oriented).withColumnRenamed("id", "idh")
    d = F.col("degree")
    tri = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        nodes.join(deg, "idh")  # every layout node has degree >= 1
        .join(per_node, "idh", "left")
        .select(
            "id",
            "degree",
            tri.cast("long").alias("triangles"),
            F.round(
                F.when(d >= 2, F.lit(2.0) * tri / (d * (d - 1))), digits
            ).alias("coeff"),
        )
    )


#: Rounds at which rank-encoding the loop pays for itself (interleaved
#: A/B, scripts/ab_labelprop.py at sf0.1): quiet session k=3 string
#: 4.53s vs encoded 5.10s (encode cost > 3 rounds of long-key savings),
#: k=8 string 11.4s vs encoded 8.76s (-23%); under multi-query memory
#: pressure the encoded plan ties-or-wins even at k=3 (4.79 vs 4.97 min,
#: 5.87 vs 7.49 worst).  Crossover ~k=4-5.
_LP_ENCODE_MIN_K = 4


def label_propagation(
    edges: DataFrame,
    k: int = 5,
    src: str = "src",
    dst: str = "dst",
    sym: DataFrame | None = None,
) -> DataFrame:
    """(id, community) after ``k`` synchronous label-propagation rounds
    over the undirected graph; labels start as the node ids.

    Deterministic variant: each round every node adopts the MINIMUM among
    its neighbors' most-frequent labels (ties on frequency broken toward
    the smaller label), so results are stable across runs, partitionings,
    and engines — the textbook random tiebreak is useless for a gated
    pipeline.  Covers every node incident to an edge (an edge-list input
    carries no isolated nodes).  Per round: one (edge ⋈ label) shuffle +
    one per-node mode aggregate; rounds compose into one lazy plan (no
    per-round driver scalar exists to force an action), with lineage
    truncated every ``_LP_CHECKPOINT_EVERY`` rounds to bound plan depth
    for large ``k``.

    From ``k >= _LP_ENCODE_MIN_K`` rounds on, the loop runs on
    ORDER-PRESERVING long ids.  The per-round edge-sized shuffles carry
    (id, community) — 8-byte longs beat variable-length strings there,
    the same effect that took triangles 10.9s -> 3.6s.  xxhash64 is NOT
    semantics-safe for LP (hashing permutes label order, so frequency
    ties resolve differently); instead the node ids are ranked once
    (``global_rank`` over the node dim — node-sized) and the loop runs
    on the bijection, whose min-of-mode picks exactly the rank of the
    string-min label; results are identical by construction (equality
    asserted in tests).  Below the threshold the one-time encode joins
    outweigh the per-round savings (measurements above)."""
    # Pre-partition the (large) symmetric edge set on the join key ONCE;
    # localCheckpoint pins the partitioning, so each round's equi-join
    # exchanges only the (node-sized) label vector — the same
    # edges-never-move discipline as the ranking loop.
    if sym is None:
        sym = materialize(symmetric_edges(edges, src, dst).repartition("b"))
    use_encode = k >= _LP_ENCODE_MIN_K
    if use_encode:
        from bigdata_hits_spark.operators.ranks import global_rank

        nodes = sym.select(F.col("a").alias("id")).distinct()
        nmap = materialize(global_rank(nodes, [F.asc("id")], rank_col="nid"))
        work = materialize(
            sym.join(nmap.select(F.col("id").alias("a"), F.col("nid").alias("na")), "a")
            .join(nmap.select(F.col("id").alias("b"), F.col("nid").alias("nb")), "b")
            .select(F.col("na").alias("a"), F.col("nb").alias("b"))
            .repartition("b")
        )
    else:
        work = sym
    labels = work.select(F.col("a").alias("id")).distinct().withColumn(
        "community", F.col("id")
    )
    for i in range(k):
        attach = work.join(labels, work["b"] == labels["id"]).select(
            F.col("a").alias("id"), "community"
        )
        # Min-of-mode as an (id, community) count, then a per-id struct-min;
        # not F.mode, whose ObjectHashAggregate sort fallback thrashes under load.
        labels = (
            attach.groupBy("id", "community")
            .agg(F.count(F.lit(1)).alias("freq"))
            .groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (F.lit(0) - F.col("freq")).alias("neg_freq"),
                        F.col("community").alias("community"),
                    )
                ).alias("best")
            )
            .select("id", F.col("best.community").alias("community"))
        )
        # Unlike the ranking loop there is NO per-round driver scalar, so
        # rounds compose into one lazy plan; checkpoint on a cadence only
        # to bound plan depth for large k.  Not free: with adaptive
        # execution the lazy cut already runs the rounds' shuffle stages
        # as jobs, and only the final write of the cut waits for the
        # caller's action.  The logical plan downstream of it is a flat
        # LogicalRDD either way.
        if (i + 1) % _LP_CHECKPOINT_EVERY == 0 and (i + 1) < k:
            labels = labels.localCheckpoint(eager=False)
    if use_encode:
        dec_id = nmap.select(F.col("nid").alias("id"), F.col("id").alias("__sid"))
        dec_comm = nmap.select(
            F.col("nid").alias("community"), F.col("id").alias("__scomm")
        )
        labels = (
            labels.join(dec_id, "id")
            .join(dec_comm, "community")
            .select(F.col("__sid").alias("id"), F.col("__scomm").alias("community"))
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    sym: DataFrame | None = None,
) -> DataFrame:
    """(id,) nodes of the ``k``-core: the maximal subgraph where every
    node keeps degree >= k after iteratively peeling lower-degree nodes —
    the standard densification/cleaning step before community or ranking
    analysis (peripheral tendrils drop out, the cohesive core remains).

    Peeling loop on :func:`~bigdata_hits_spark.plans.iterate.fixpoint`:
    per round, compute degrees on the surviving symmetric edge set (one
    key-only shuffle) and drop under-degree nodes (semi-join); the
    harness cuts lineage and stops when the edge count stops moving.  Rounds needed = peeling depth, typically
    small on real web/dedup graphs; each round's cost shrinks with the
    surviving edge set.  Deterministic: peeling is simultaneous (all
    under-k nodes drop each round), which yields the same fixpoint as
    sequential peeling.

    Escalation (same pattern as components.py's star-contraction
    switch): a pathological graph — a long chain of just-under-k
    degrees — peels one layer per round, so when ``max_iter`` rounds
    do not converge the loop re-enters the harness with a round body
    that DOUBLES the number of lazy peels folded into each round.  Progress per action then grows
    geometrically and any peeling depth D completes in
    O(max_iter + log D) actions instead of raising.
    """
    if sym is None:
        sym = materialize(symmetric_edges(edges, src, dst))

    def peel_once(s: DataFrame) -> DataFrame:
        deg = s.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("id")
        return (
            s.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )

    sym, _, converged = fixpoint(
        sym, peel_once, DataFrame.count, max_rounds=max_iter, until="stable",
        name="k_core", strict=False,
    )
    if not converged:
        folds = 1

        def folded(s: DataFrame) -> DataFrame:
            nonlocal folds
            folds *= 2
            for i in range(folds):
                # Lazy cut between folded peels: each peel's plan stays
                # 2-joins-1-agg deep however many are batched (a 32-peel
                # chain would hand Catalyst a ~100-join plan).
                s = peel_once(s if i == 0 else s.localCheckpoint(eager=False))
            return s

        sym, _, _ = fixpoint(
            sym, folded, DataFrame.count, max_rounds=None, until="stable", name="k_core"
        )
    return sym.select(F.col("a").alias("id")).distinct()


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    sym: DataFrame | None = None,
    directed: bool = False,
) -> DataFrame:
    """(id, dist): minimum hop count (0..max_depth) from the nearest
    ``seeds`` row; nodes unreached within ``max_depth`` are absent.
    Multi-source BFS — the reachability / "within k hops of any seed"
    primitive behind neighborhood feature extraction and
    contamination-spread checks, generalizing the one-hop neighborhood
    subgraph (operators/graph.py neighborhood) to arbitrary depth.

    ``directed=False`` (default) walks the undirected graph;
    ``directed=True`` follows edges src->dst only (forward reachability
    — flip src/dst at the call site for "who can reach the seeds").

    ``seeds`` is a one-column (``id``) DataFrame; seeds absent from the
    edge set still appear at dist 0 (a seed is trivially reachable from
    itself).

    Frontier algorithm with the label-propagation loop discipline: the
    pinned (a=to, b=from) edge relation never moves (partitioned on the
    join key once); per round one (edges x frontier) equi-join +
    distinct finds the next hop and an anti-join against the settled
    set keeps first (= minimum) distances only.  The frontier and
    settled vectors are node-sized — the only moving data.  Rounds
    compose into one lazy plan (no per-round driver action), lineage
    cut on the same cadence as label_propagation to bound plan depth
    for large ``max_depth``; the rounds still cost one job per shuffle
    stage under adaptive execution, run by each cut and the caller's
    action.
    """
    if sym is None:
        if directed:
            # one directed (a=head, b=tail) row per edge: the frontier
            # join below walks b -> a, i.e. follows src -> dst
            sym = materialize(
                edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .repartition("b")
            )
        else:
            sym = materialize(symmetric_edges(edges, src, dst).repartition("b"))
    elif directed:
        raise ValueError("pass either a prebuilt sym relation or directed=True, not both")
    dist = seeds.select("id").distinct().withColumn("dist", F.lit(0))
    frontier = dist.select("id")
    for depth in range(1, max_depth + 1):
        reached = (
            sym.join(frontier, sym["b"] == frontier["id"])
            .select(F.col("a").alias("id"))
            .distinct()
        )
        new = reached.join(dist, "id", "left_anti").withColumn("dist", F.lit(depth))
        dist = dist.unionByName(new)
        frontier = new.select("id")
        if depth % _LP_CHECKPOINT_EVERY == 0 and depth < max_depth:
            dist = dist.localCheckpoint(eager=False)
            frontier = frontier.localCheckpoint(eager=False)
    return dist


def per_seed_bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    sym: DataFrame | None = None,
) -> DataFrame:
    """(seed, id, dist): hop distance from EACH seed separately —
    :func:`bfs_distances` keyed by seed instead of collapsed to the
    nearest one.  The per-landmark distance relation behind sampled
    centrality estimates (harmonic/closeness a la Eppstein-Wang) and
    landmark-based shortest-path sketches.

    Same frontier loop as :func:`bfs_distances`, with (seed, id) as the
    settled key: per round one edges x frontier equi-join on the pinned
    ``b``-partitioned symmetric relation, a distinct, and an anti-join
    against the settled set.  State is ``|seeds| x reachable`` rows —
    the caller bounds |seeds| (that is the "sampled" in sampled
    centrality), which keeps the moving data a small multiple of the
    node vector at any graph size; the edge relation itself never
    moves after its one partitioning shuffle.

    Unlike :func:`bfs_distances` (lazy composition, cut every
    ``_LP_CHECKPOINT_EVERY`` rounds), the settled set here is
    MATERIALIZED every round: dist_r is referenced twice per round
    (union + anti-join), so the lazy tree doubles per round and its
    static exchange count compounds (measured 92 exchanges at depth 4
    vs ~10 materialized) — the plan-size pathology the k-truss peel hit
    (plans/iterate.py), paid once per round here instead.
    """
    if sym is None:
        sym = materialize(symmetric_edges(edges, src, dst).repartition("b"))
    dist = (
        seeds.select(F.col("id").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("id"))
        .withColumn("dist", F.lit(0))
    )
    frontier = dist.select("seed", "id")
    for depth in range(1, max_depth + 1):
        # shuffle_hash on the state side (r13 optimization): both the
        # frontier and the settled set are stats-less checkpoints, so
        # the planner's sort-merge fallback re-SORTED the pinned edge
        # relation every round (measured ~2.5 s/round at sf0.1 for a
        # 956-row converged state); the shuffled-hash build moves and
        # hashes only the |seeds|-bounded state while the edges stay
        # unsorted on their pinned ``b`` partitioning.
        reached = (
            sym.join(frontier.hint("shuffle_hash"), sym["b"] == frontier["id"])
            .select("seed", F.col("a").alias("id"))
            .distinct()
        )
        new = reached.join(
            dist.hint("shuffle_hash"), ["seed", "id"], "left_anti"
        ).withColumn("dist", F.lit(depth))
        dist = materialize(dist.unionByName(new))
        frontier = dist.filter(F.col("dist") == depth).select("seed", "id")
    return dist


def harmonic_centrality_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    sym: DataFrame | None = None,
    digits: int = 6,
) -> DataFrame:
    """(id, n_reached, harmonic): sampled harmonic centrality —
    ``sum(1 / d(s, v))`` over the seed landmarks ``s`` that reach ``v``
    within ``max_depth`` hops (a seed's 0-distance to itself is
    excluded).  The landmark-sampled estimator of Eppstein-Wang-style
    centrality in its harmonic form (Boldi-Vigna's axiom-friendly
    variant), which handles disconnected graphs without the
    unreachable-node pathology of raw closeness; scale the sum by
    ``n_nodes / n_seeds`` for the full-graph estimate.

    Cost: the :func:`per_seed_bfs_distances` loop (|seeds|-bounded
    state) plus ONE map-side-combinable hash aggregate.  The rounded
    harmonic sum is engine-portable by construction: every distance is
    an integer in 1..max_depth, so the sum is a rational with a small
    fixed denominator (lcm <= 12 at depth 4) whose decimal expansion
    can never land on a rounding tie."""
    d = per_seed_bfs_distances(edges, seeds, max_depth, src, dst, sym)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), digits).alias("harmonic"),
        )
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
    min_common: int = 2,
    digits: int = 6,
    sym: DataFrame | None = None,
) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction: candidate NON-edges
    ``(a, b)`` (canonical a < b) scored by how many neighbors the two
    endpoints share and by the Adamic-Adar weight ``sum(1 / ln(deg(z)))``
    over the shared neighbors z — the classic "people you may know" /
    related-item feature a recommendation pipeline derives from an
    interaction graph (beyond-reference breadth; the reference stops at
    HITS/SALSA, ``/root/reference/src``).

    Scale: shared neighbors are enumerated AT the pivot z (every pair of
    z's neighbors is one candidate), so raw fan-out is sum(deg(z)^2) — a
    single celebrity hub is quadratic death at web scale.  The standard
    mitigation IS the semantics here: pivots with degree >
    ``max_pivot_degree`` are excluded from scoring entirely (the df-cap
    discipline of the n-gram dedup postings, operators/dedup.py) — a
    hub shared by millions of pairs contributes ~zero Adamic-Adar weight
    (1/ln d) and no discriminative signal, while the cap bounds per-pivot
    work at cap^2 and total work at O(n_pivots * cap^2), every join an
    equi-join.  The cap is therefore part of the DECLARED semantics and
    any oracle must reproduce it, not an approximation knob hidden from
    the caller.  Degrees are computed on the FULL symmetric graph before
    capping (the score of a surviving pivot never depends on the cap);
    existing edges are removed with an edge-sized anti-join; pairs below
    ``min_common`` shared neighbors are dropped (singleton-evidence
    pairs dominate the candidate set and carry the least signal).
    ``deg(z) >= 2`` for every scoring pivot (it has two neighbors to
    pair), so ln(deg) >= ln 2 and the division is always defined."""
    if sym is None:
        sym = symmetric_edges(edges, src, dst)
    deg = sym.groupBy(F.col("a").alias("z")).agg(F.count(F.lit(1)).alias("__dz"))
    nb = (
        sym.select(F.col("a").alias("z"), F.col("b").alias("n"))
        .join(deg.filter(F.col("__dz") <= max_pivot_degree), "z")
    )
    p1 = nb.select("z", F.col("n").alias("a"), "__dz")
    p2 = nb.select("z", F.col("n").alias("b"))
    pairs = p1.join(p2, "z").filter(F.col("a") < F.col("b"))
    scores = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("__dz"))), digits).alias(
            "adamic_adar"
        ),
    )
    return scores.join(sym, ["a", "b"], "left_anti").filter(
        F.col("common_neighbors") >= min_common
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
    sym: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """Local clustering coefficient per node: ``(id, degree, triangles,
    coeff)`` with ``coeff = 2 * triangles / (degree * (degree - 1))`` —
    how close each node's neighborhood is to a clique, the classic
    community-structure / spam-farm signal (link farms cluster; organic
    hubs do not).  Degree-1 nodes have no possible wedge and get NULL
    (0/0), not 0 — "no signal" and "open neighborhood" are different
    facts.

    Pure composition: the degree relation joined on the node id to
    :func:`triangle_counts` — NOT the raw wedge machinery: the full
    operator carries the xxhash64 long-id encoding whose wedge shuffles
    beat string keys by ~43% (measured, ab_triangles.py; a first cut
    here on raw string ids benched 16.4 s vs 5.5 s for triangles on the
    same graph — the encode IS the triangle cost model) plus the
    collision guard.  Nodes without triangles arrive as 0 from
    triangle_counts' own left join; cost is the triangle count's; the
    degree join adds one node-sized exchange.

    ``tri=`` lets a session that already holds the (id, triangles)
    relation — the triangle row's memo, or a layout serve — skip the
    wedge machinery entirely (the coefficient is then one node-sized
    join); :func:`clustering_coefficient_from_layout` is the
    persisted-layout twin of the same composition."""
    if sym is None:
        sym = symmetric_edges(edges, src, dst)
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
    if tri is None:
        tri = triangle_counts(edges, src, dst, sym=sym)
    d = F.col("degree")
    return tri.join(deg, "id").select(
        "id",
        "degree",
        F.col("triangles").cast("long").alias("triangles"),
        F.round(
            F.when(d >= 2, F.lit(2.0) * F.col("triangles") / (d * (d - 1))),
            digits,
        ).alias("coeff"),
    )


def community_modularity(
    edges: DataFrame,
    assignment: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    community_col: str = "community",
    digits: int = 6,
    sym: DataFrame | None = None,
) -> DataFrame:
    """(community, n_nodes, internal_edges, degree_sum, contribution):
    Newman modularity decomposed per community — the standard "is this
    partition real structure or noise" score for label-propagation /
    connected-components / any clustering of graph nodes.  Global
    Q = SUM(contribution), where contribution_c =
    internal_c / (2m) - (degree_sum_c / (2m))^2 over the undirected
    graph (internal_c counts ordered same-community pairs, i.e. each
    undirected internal edge twice, matching the 2m denominator).

    Plan: the symmetric edge set attaches the two endpoint communities
    by two node-sized equi-joins, ONE hash agg per community counts
    internal ordered pairs, one more folds degrees; the 2m scalar rides
    in-plan as a broadcast one-row aggregate (no driver round-trip).
    Nodes in ``assignment`` with no incident edge contribute degree 0
    and count toward n_nodes — isolated nodes dilute nothing, the
    convention that keeps Q comparable across prunings."""
    if sym is None:
        sym = symmetric_edges(edges, src, dst)
    amap = assignment.select(
        F.col(id_col).alias("id"), F.col(community_col).alias("community")
    )
    pair = (
        sym.join(amap.select(F.col("id").alias("a"), F.col("community").alias("__ca")), "a")
        .join(amap.select(F.col("id").alias("b"), F.col("community").alias("__cb")), "b")
    )
    internal = (
        pair.filter(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("__k"))
    per_comm = (
        amap.join(deg, "id", "left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("__k"), F.lit(0))).alias("degree_sum"),
        )
    )
    two_m = sym.agg(F.count(F.lit(1)).alias("__2m"))
    return (
        per_comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(two_m))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("internal_edges"), F.lit(0)).alias("internal_edges"),
            "degree_sum",
            F.round(
                F.coalesce(F.col("internal_edges"), F.lit(0))
                / F.col("__2m").cast("double")
                - (F.col("degree_sum") / F.col("__2m").cast("double"))
                * (F.col("degree_sum") / F.col("__2m").cast("double")),
                digits,
            ).alias("contribution"),
        )
    )


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    k: int = 3,
    alpha: float = 0.5,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    value_col: str = "value",
    sym: DataFrame | None = None,
    digits: int = 7,
) -> DataFrame:
    """(id, value): ``k`` synchronous rounds of graph feature smoothing
    with restart — v <- (1-alpha)*v0 + alpha*mean(neighbor v) over the
    undirected graph — the node-feature twin of personalized PageRank:
    denoise a per-node signal (price, quality score, embedding
    coordinate) by its neighborhood, impute weakly-observed nodes from
    well-observed neighbors, build "smoothed feature" model inputs.
    Nodes without neighbors keep v0 (their neighbor term coalesces to
    v0, so the blend is the identity).

    Same pinned-edge scale shape as the ranking loops: the symmetric
    edge relation is built and shuffled ONCE; each round is one
    edge⋈value equi-join + one node-keyed mean + a node-sized blend
    projection, lineage cut per round.  No driver scalar exists, so all
    rounds compose into one lazy plan.

    Engine portability: only the BLEND is rounded (to ``digits``), and
    the blend always mixes in ``(1-alpha) * v0`` — so as long as v0 is
    GENERIC (not an exact short decimal; a z-scored input is, since the
    divide-by-irrational-stddev makes it non-terminating), every
    rounded value sits far from decimal half-boundaries and the ~1e-15
    float-sum drift in the neighbor mean vanishes at the round.  The
    neighbor mean itself is deliberately NOT rounded: means of rounded
    7-digit values over small degrees land ON half-boundaries (the
    PCA_ITER_DIGITS landmine); the generic v0 term restores genericity
    before the only round.  alpha=1 would break this argument — the
    guard refuses it."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= alpha < 1.0:
        raise ValueError(
            f"alpha must be in [0, 1) (the v0 term is the rounding-"
            f"genericity anchor, see docstring), got {alpha}"
        )
    if sym is None:
        sym = materialize(symmetric_edges(edges, src, dst).repartition("b"))
    f0 = materialize(
        features.select(
            F.col(id_col).alias("id"), F.col(value_col).cast("double").alias("__v0")
        )
    )
    cur = f0.select("id", F.col("__v0").alias("__v"))
    for i in range(k):
        nbr = (
            sym.join(cur, sym["b"] == cur["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.avg("__v").alias("__m"))
        )
        cur = (
            f0.join(nbr, "id", "left")
            .select(
                "id",
                F.round(
                    F.lit(1.0 - alpha) * F.col("__v0")
                    + F.lit(alpha) * F.coalesce(F.col("__m"), F.col("__v0")),
                    digits,
                ).alias("__v"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select("id", F.col("__v").alias(value_col))


def weighted_symmetric_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst", weight: str = "weight"
) -> DataFrame:
    """(a, b, w): the undirected WEIGHTED edge relation — both directions
    materialized, self-loops dropped, parallel edges (either direction)
    collapsed by summing their weights.  The weighted twin of
    :func:`symmetric_edges`; build once per graph and pin when running
    several weighted analytics."""
    w = F.col(weight).cast("double")
    both = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b"), w.alias("w")))
    return (
        both.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def label_propagation_weighted(
    edges: DataFrame,
    k: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    sym_w: DataFrame | None = None,
    digits: int = 6,
) -> DataFrame:
    """(id, community) after ``k`` synchronous WEIGHTED label-propagation
    rounds: each node adopts the minimum among the labels with the
    highest total incident edge weight (ties on the rounded weight break
    toward the smaller label) — interaction-strength community detection,
    where a thousand weak links shouldn't outvote three strong ones.

    Same pinned-edge scale shape as the unweighted loop
    (:func:`label_propagation`): the weighted symmetric relation is
    built and shuffled once; each round is one edge⋈label join + a
    codegen'd (id, community) SUM + a per-id struct-min — two map-side
    -combined exchanges, never ObjectHashAggregate.

    Determinism: the vote is SUM(w) ROUNDED to ``digits`` before the
    tie-compare — float-sum order differs across partitionings/engines
    by ~1e-15, and an unrounded compare would flip near-ties.  With
    integer-valued weights (counts, quantities) the sums are exact and
    the round is a no-op; for generic float weights the usual
    half-boundary caveat applies (document margins like the kmeans
    fixture test if you gate on it)."""
    if sym_w is None:
        sym_w = materialize(
            weighted_symmetric_edges(edges, src, dst, weight).repartition("b")
        )
    labels = sym_w.select(F.col("a").alias("id")).distinct().withColumn(
        "community", F.col("id")
    )
    for i in range(k):
        attach = sym_w.join(labels, sym_w["b"] == labels["id"]).select(
            F.col("a").alias("id"), "community", "w"
        )
        labels = (
            attach.groupBy("id", "community")
            .agg(F.round(F.sum("w"), digits).alias("wsum"))
            .groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (F.lit(0.0) - F.col("wsum")).alias("neg_w"),
                        F.col("community").alias("community"),
                    )
                ).alias("best")
            )
            .select("id", F.col("best.community").alias("community"))
        )
        if (i + 1) % _LP_CHECKPOINT_EVERY == 0 and (i + 1) < k:
            labels = labels.localCheckpoint(eager=False)
    return labels


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int | None = None,
    sym: DataFrame | None = None,
) -> DataFrame:
    """(lo, hi) edges of the ``k``-truss: the maximal subgraph where
    every edge participates in >= k-2 triangles — the EDGE-grained
    cohesion filter (Cohen 2008), strictly stronger than the k-core's
    degree peel (a k-truss is always inside the (k-1)-core) and the
    standard "keep only tightly-knit community structure" cleanup.

    Peeling loop, k_core discipline: per round, per-edge triangle
    support via the DEGREE-ORDERED wedge join (each triangle found once
    at its lowest-(degree, id) vertex — :func:`_triangles_from_oriented`,
    the exact machinery of :func:`triangle_counts` — exploded to its 3
    member edges in orientation coordinates and counted), then drop
    under-support edges; stop when the edge set is stable (support can
    only DROP as edges leave, so simultaneous peeling reaches the
    unique fixpoint).

    The orientation is computed ONCE, from the ORIGINAL degrees: the
    (deg, id) total order orients every subgraph consistently, and
    peeling only ever REMOVES oriented edges, so each pivot's oriented
    out-degree — the wedge fan-out bound, O(sqrt(m)) after degree
    ordering — can only shrink across rounds.  Every residual round
    therefore keeps the original O(m^1.5) wedge bound with zero
    per-round re-orientation cost: one wedge self-join + closing
    semi-join + one key-only hash agg + the support filter join per
    round, edge bodies never shuffling — only (lo, hi, deg_hi)
    triples.  The earlier lexicographic orientation fanned out
    O(d_hub²) on a hub that sorts low (exactly the skew real corpora
    have); tests/test_graphalgs.py pins the wedge-volume gap on a star
    graph.  The surviving edge SET is orientation-invariant, so the
    (lo, hi) lexicographic output contract is restored by one
    projection at the end.

    Termination (VERDICT r11 #5, mirroring the SCC outer-budget
    treatment at components.py): the loop is self-bounding — a round
    either drops at least one edge (the materialized count, a
    non-negative integer, strictly decreases) or drops none and
    returns, so the peel finishes in at most |oriented edges| + 1 rounds
    with NO arbitrary constant.  Peeling depth is graph-dependent (a
    chain of overlapping cliques cascades one edge per round —
    tests/test_graphalgs.py pins a 45-deep construction), so the old
    ``max_iter=40`` default could spuriously fail a graph the
    algorithm handles fine.  ``max_iter`` remains as an OPT-IN budget
    for callers who would rather fail loudly than peel deep; the
    default (None) runs to the fixpoint.  The rounds run on
    :func:`~bigdata_hits_spark.plans.iterate.fixpoint`, whose
    guarded per-round cut keeps both lineage AND the Catalyst size
    estimate flat regardless of depth (a bare checkpoint compounds the
    estimate x3/round — see plans/iterate.py)."""
    if sym is None:
        sym = symmetric_edges(edges, src, dst)
    ori = materialize(_oriented(sym))

    def peel(ori: DataFrame) -> DataFrame:
        tri = _triangles_from_oriented(ori)
        # Member edges in orientation coordinates: u->v, u->w, v->w are
        # all oriented edges by construction of the wedge + closing join.
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
                    F.struct(F.col("u").alias("lo"), F.col("w").alias("hi")),
                    F.struct(F.col("v").alias("lo"), F.col("w").alias("hi")),
                )
            ).alias("e")
        ).select("e.lo", "e.hi")
        sup = tri_edges.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("support"))
        return (
            ori.join(sup, ["lo", "hi"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("lo", "hi", "deg_hi")
        )

    ori, _, _ = fixpoint(
        ori, peel, DataFrame.count, max_rounds=max_iter, until="stable", name="k_truss"
    )
    return ori.select(F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi"))
