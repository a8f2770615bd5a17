"""Connected components over an undirected pair graph.

The missing last step of near-duplicate REMOVAL: the dedup operators
(operators/dedup.py) emit verified duplicate *pairs*; deciding which
documents to drop needs the pairs grouped into clusters — i.e. connected
components — with one survivor elected per cluster.  (Transitivity is
real: A~B and B~C often without A~C at the threshold, so neither pair
list nor groupBy can do this alone.)

Algorithm: alternating min-label propagation to convergence.  Each round
every node adopts the minimum label in its closed neighborhood; rounds
are DataFrame join+groupBy (shuffle on node id).  Every fixpoint loop in
this module (min-label, star contraction, the SCC trim/color/mark
phases) is a round body handed to
:func:`~bigdata_hits_spark.plans.iterate.fixpoint`, which owns the
lineage cut, the per-round measure and stop test, and the round budget.
Rounds needed ≈ graph diameter; dedup-cluster graphs (LSH buckets ∪
verified pairs) have tiny diameters, so 3-5 rounds close them.

Small inputs skip Spark's per-round jobs entirely: a pair list of at
most ``ranking.LOCAL_MAX_EDGES`` rows is pinned, collected to the driver
once and labeled by the same rounds in numpy
(:mod:`~bigdata_hits_spark.operators.localgraph`), and the labels come
back as a one-partition frame — one collect and one write job per call.
Larger inputs, and ids that are null or of mixed or non-integer,
non-string types, run the Spark rounds below on the pinned input.

At 1000-executor scale the per-round cost is one shuffle of (node,
label) pairs — compact longs/strings, never document bodies.  For
adversarial long-diameter graphs (chains, lattices — not a dedup shape)
min-label needs ~diameter rounds; :func:`connected_components_star`
is the O(log n)-round alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond") with
the same (pairs in, labels out) contract.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, functions as F

from bigdata_hits_spark.operators import localgraph
from bigdata_hits_spark.plans.iterate import fixpoint, materialize


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 20,
    escalate: bool = True,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``; ``component``
    is the minimum node id in the cluster.

    If ``max_iter`` rounds don't converge (diameter > max_iter — not a
    dedup-pair shape), falls back to the O(log n)-round
    :func:`connected_components_star` contraction, which handles exactly
    that case — a slow-path success instead of a runtime error.  Pass
    ``escalate=False`` to raise instead (e.g. to surface an unexpectedly
    long-diameter pair graph in a pipeline that should never see one).

    At most ``ranking.LOCAL_MAX_EDGES`` pairs run on the driver: the same
    min-label rounds in numpy, counted against the same ``max_iter``
    (``escalate=False`` raises the same error); past the budget the
    driver keeps going with pointer jumping instead of star
    contraction — the labels are the same.
    """
    pairs, local = localgraph.pinned_pairs(pairs, id1, id2)
    if local is not None:
        comp = localgraph.min_label_components(local, max_iter, escalate)
        return local.frame(id=np.arange(len(comp)), component=comp)
    # Symmetrize once: (src, dst) in both directions. Self-pairs are
    # harmless (min with itself) and dropped by distinct anyway.
    fwd = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    rev = pairs.select(F.col(id2).alias("src"), F.col(id1).alias("dst"))
    edges = materialize(fwd.unionByName(rev).distinct())

    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    )

    def relabel(state: DataFrame) -> DataFrame:
        # Min label over the closed neighborhood: neighbor labels flow
        # across edges, then each node keeps min(own, incoming).
        labels = state.select("id", "component")
        incoming = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        return labels.join(incoming, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias(
                "component"
            ),
            (F.col("nbr_min") < F.col("component")).alias("changed"),
        )

    labels, _, converged = fixpoint(
        labels, relabel, _n_changed, max_rounds=max_iter,
        name="connected_components", strict=not escalate,
    )
    if not converged:
        return connected_components_star(pairs, id1, id2)
    return labels.select("id", "component")


def _n_changed(state: DataFrame) -> int:
    """Rows the last round changed — the measure of every monotone
    label/mark fixpoint here (labels only decrease, marks only grow, so
    a round that changes nothing is the fixpoint)."""
    return state.filter(F.col("changed")).count()


def _neighborhood_mins(edges: DataFrame) -> DataFrame:
    """(id, m): minimum over each node's closed neighborhood, from a
    symmetric edge set."""
    return (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("id", F.least(F.col("id"), F.col("nbr_min")).alias("m"))
    )


def connected_components_star(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 40,
) -> DataFrame:
    """(id, component) by alternating large-star/small-star contraction —
    O(log n) rounds regardless of diameter, vs ~diameter rounds for
    :func:`connected_components`'s min-label propagation.

    Per round, every node rewires its neighbors to the minimum of its
    closed neighborhood: large-star moves strictly-larger neighbors,
    small-star moves smaller-or-equal ones.  The edge set contracts
    toward a star per component whose center is the component minimum; a
    fixpoint means every node is directly attached to its root.
    Convergence is an unchanged (edge count, hash-sum) fingerprint —
    two cheap aggregates, no edge-set diff join — checked by
    :func:`~bigdata_hits_spark.plans.iterate.fixpoint` every round.
    """
    fwd = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    rev = pairs.select(F.col(id2).alias("src"), F.col(id1).alias("dst"))
    nodes = materialize(fwd.select(F.col("src").alias("id")).unionByName(
        rev.select(F.col("src").alias("id"))
    ).distinct())
    edges = materialize(
        fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.unionByName(
            df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).filter(F.col("src") != F.col("dst")).distinct()

    def _fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # (ANSI mode raises ARITHMETIC_OVERFLOW).
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row["n"], row["h"]

    def contract(edges: DataFrame) -> DataFrame:
        # Large-star: strictly larger neighbors attach to the
        # closed-neighborhood min.  The lazy cut keeps the small-star
        # half from recomputing it on each of its two reads.
        mins = _neighborhood_mins(edges)
        large = (
            edges.join(mins, edges["src"] == mins["id"])
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        edges = _sym(large).localCheckpoint(eager=False)
        # Small-star: smaller-or-equal neighbors attach to the min of the
        # smaller neighborhood (plus self).
        oriented = edges.filter(F.col("dst") <= F.col("src"))
        small_mins = _neighborhood_mins(oriented)
        small = (
            oriented.join(small_mins, oriented["src"] == small_mins["id"])
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(small_mins.select(F.col("id").alias("src"), F.col("m").alias("dst")))
        )
        return _sym(small)

    edges, _, _ = fixpoint(
        edges, contract, _fingerprint, max_rounds=max_iter, until="stable",
        name="star contraction",
    )

    # Fixpoint edge set is a symmetrized star per component: each node's
    # minimum neighbor is its root; roots (min themselves) map to self.
    attach = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("component"))
        .select("id", F.least(F.col("id"), F.col("component")).alias("component"))
    )
    return nodes.join(attach, "id", "left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
    variant: str = "auto",
) -> DataFrame:
    """End-to-end near-dup removal: cluster the duplicate ``pairs``, keep
    the minimum-id document of each cluster, and pass through every
    document that appears in no pair.  Returns ``docs`` filtered to
    survivors (left-anti join on the drop set — documents shuffle only by
    id, bodies stay put).

    ``variant`` picks the clustering: ``'auto'`` (min-label propagation,
    escalating to star contraction on non-convergence), ``'minlabel'``
    (min-label only; raises on long diameters), ``'star'`` (O(log n)
    contraction directly — for graphs known to be long-diameter)."""
    if variant == "auto":
        comp = connected_components(pairs, id1, id2)
    elif variant == "minlabel":
        comp = connected_components(pairs, id1, id2, escalate=False)
    elif variant == "star":
        comp = connected_components_star(pairs, id1, id2)
    else:
        raise ValueError(f"unknown variant: {variant!r} (use 'auto', 'minlabel', or 'star')")
    drops = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return docs.join(drops, id_col, "left_anti")


def _trim_round(e: DataFrame) -> DataFrame:
    """One SCC trim round: keep the edges whose endpoints both have an
    in-edge and an out-edge (a node missing either is its own SCC)."""
    core = (
        e.select(F.col("dst").alias("id"))
        .distinct()
        .join(e.select(F.col("src").alias("id")).distinct(), "id", "left_semi")
        .localCheckpoint(eager=False)
    )
    return e.join(core.select(F.col("id").alias("src")), "src", "left_semi").join(
        core.select(F.col("id").alias("dst")), "dst", "left_semi"
    ).select("src", "dst")


def _color_round(prop: DataFrame, state: DataFrame) -> DataFrame:
    """One SCC coloring round: every node takes the minimum color over
    itself and its in-neighbors along ``prop``."""
    labels = state.select("id", "color")
    incoming = (
        prop.join(labels, prop["src"] == labels["id"])
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("color").alias("in_min"))
    )
    return labels.join(incoming, "id", "left").select(
        "id",
        F.least(F.col("color"), F.coalesce(F.col("in_min"), F.col("color"))).alias("color"),
        (F.col("in_min") < F.col("color")).alias("changed"),
    )


def _mark_round(intra: DataFrame, state: DataFrame) -> DataFrame:
    """One SCC backward-mark round: every predecessor of a marked node
    along the intra-color edges ``intra`` becomes marked."""
    mark = state.select("id", "color", "m")
    preds = (
        intra.join(mark.filter(F.col("m")).select(F.col("id").alias("dst")), "dst", "left_semi")
        .select(F.col("src").alias("id"))
        .distinct()
        .withColumn("pm", F.lit(True))
    )
    pm = F.coalesce(F.col("pm"), F.lit(False))
    return mark.join(preds, "id", "left").select(
        "id", "color", (F.col("m") | pm).alias("m"), (~F.col("m") & pm).alias("changed")
    )


#: Outer-round guard of :func:`strongly_connected_components`: each
#: outer round retires at least one SCC per color class, so only a
#: deeply nested condensation (a downstream-increasing chain of 2-cycles
#: retires ONE SCC per outer round) gets near it.
_SCC_MAX_OUTER = 100


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, scc) for every node of a DIRECTED edge set; ``scc`` is the
    minimum node id in the strongly connected component.

    Directed counterpart of :func:`connected_components`, via the
    standard distributed FW-BW-coloring scheme (Orzan 2004; Slota et
    al., "BFS and Coloring-Based Parallel Algorithms for Strongly
    Connected Components", 2014), with the trim optimization:

    1. **Trim** to fixpoint: a node missing either in-edges or
       out-edges can't sit on a cycle — it is its own SCC.  Iterative
       trimming peels DAG tails/heads/tendrils (the bulk of a web-shaped
       graph outside the giant SCC) before any labels move.
    2. **Color** (forward min-label to fixpoint): ``color(v)`` = min id
       over vertices that reach ``v``.  One shuffle of (node, label)
       scalars per round — never edge bodies.
    3. **Confine backward**: the color root ``r`` (``color(r) == r``)
       and every vertex that reaches ``r`` through its own color class
       form exactly the SCC of ``r`` — mark backward from the roots
       along intra-color edges to fixpoint, emit marked nodes with
       ``scc = color``.
    4. Remove emitted nodes; repeat.  Every remaining node has a
       reachable color root, so each outer round retires >= one SCC per
       color class — progress is guaranteed; ``_SCC_MAX_OUTER`` only
       bounds adversarial condensation nesting, and running out raises
       loudly rather than mislabeling.

    Trim, color and mark each run on
    :func:`~bigdata_hits_spark.plans.iterate.fixpoint` with no round
    budget: trim only drops edges (it stops when the edge count stops
    moving), color labels only decrease and marks only grow (they stop
    at a round that changed no row), so every phase terminates, in as
    many rounds as the graph is deep.  At 1000-executor scale each
    round is one hash exchange of the label frame, keyed on node id.

    At most ``ranking.LOCAL_MAX_EDGES`` edges run the same four phases
    on the driver, as numpy rounds over edge arrays (same outer-round
    guard), and return a one-partition frame.
    """
    edges, local = localgraph.pinned_pairs(edges, src, dst)
    if local is not None:
        scc = localgraph.strong_components(local, _SCC_MAX_OUTER)
        return local.frame(id=np.arange(len(scc)), scc=scc)
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = materialize(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    parts: list[DataFrame] = []
    out = nodes.select("id", F.col("id").alias("scc")).filter(F.lit(False))

    for _ in range(_SCC_MAX_OUTER):
        if nodes.isEmpty():
            break

        # 1) Trim: anything outside (has-in INTERSECT has-out) is a
        # singleton SCC — including nodes with no remaining edges.
        # Per-round work is ONLY the edge filter (peel bookkeeping is
        # deferred: the trimmed singletons are one anti-join against the
        # final core after the fixpoint); convergence is |e| stabilizing
        # — an unchanged edge set has unchanged in/out supports, so the
        # next core is identical, and every endpoint of it is core.
        orig_nodes = nodes
        e, _, _ = fixpoint(
            e, _trim_round, DataFrame.count, max_rounds=None, until="stable",
            name="scc trim",
        )
        nodes = materialize(e.select(F.col("src").alias("id")).distinct())
        parts.append(
            orig_nodes.join(nodes, "id", "left_anti").select("id", F.col("id").alias("scc"))
        )
        if nodes.isEmpty():
            continue

        # 2) Forward min-label coloring to fixpoint.
        labels, _, _ = fixpoint(
            nodes.select("id", F.col("id").alias("color")), partial(_color_round, e),
            _n_changed, max_rounds=None, name="scc coloring",
        )
        labels = labels.select("id", "color")

        # 3) Backward confinement along intra-color edges from the roots.
        lsrc = labels.select(F.col("id").alias("src"), F.col("color").alias("c_src"))
        ldst = labels.select(F.col("id").alias("dst"), F.col("color").alias("c_dst"))
        intra = materialize(
            e.join(lsrc, "src")
            .join(ldst, "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
        )
        mark, _, _ = fixpoint(
            labels.select("id", "color", (F.col("id") == F.col("color")).alias("m")),
            partial(_mark_round, intra), _n_changed, max_rounds=None,
            name="scc backward mark",
        )

        found = mark.filter(F.col("m")).select("id", F.col("color").alias("scc"))
        parts.append(found)
        found_ids = found.select("id")
        nodes = materialize(nodes.join(found_ids, "id", "left_anti"))
        e = materialize(
            e.join(found_ids.select(F.col("id").alias("src")), "src", "left_anti")
            .join(found_ids.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
    else:
        if not nodes.isEmpty():
            raise RuntimeError(
                f"scc did not finish in {_SCC_MAX_OUTER} outer rounds; "
                "the condensation DAG nests deeper than expected"
            )

    for p in parts:
        out = out.unionByName(p)
    return out


def persist_scc_labels(
    edges: DataFrame,
    table: str,
    src: str = "src",
    dst: str = "dst",
) -> float:
    """Run :func:`strongly_connected_components` ONCE and persist the
    (id, scc) labeling as a managed parquet table — the serving-layout
    precedent of ``persist_triangle_layout`` (operators/graphalgs.py)
    applied to the heaviest iterative extra (VERDICT r10 #3): SCC
    labels change only when the graph changes, so a nightly build pays
    the trim + FW-BW fixpoints once and every later session serves the
    labeling with ``spark.table(table)`` instead of ~20-80 s of label
    rounds.  The label frame is node-sized scalars (two columns), so the
    table is tiny relative to the edges it summarizes.  Returns the
    build time in seconds."""
    import time

    from bigdata_hits_spark.sources.bucketed import clear_orphaned_location

    t0 = time.time()
    labels = strongly_connected_components(edges, src, dst)
    clear_orphaned_location(edges.sparkSession, table)
    labels.write.format("parquet").mode("overwrite").saveAsTable(table)
    return round(time.time() - t0, 3)


def dedup_survivors_ranked(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Survivor election by QUALITY instead of minimum id: cluster the
    duplicate ``pairs``, keep each cluster's highest-``score_col`` member
    (ties broken by minimum id), pass through unpaired documents as
    singleton clusters.  Returns ``(id_col, score_col, n_members)`` —
    the production dedup policy (a training pipeline keeps the best
    copy, not the lexicographically first) with the cluster size kept
    for ROI accounting.

    Scale shape: the clustering shuffles only id pairs
    (:func:`connected_components`); document scores join by id; the
    election is one windowed row_number per component — components are
    near-dup families, orders of magnitude smaller than any corpus
    partition, so the window never concentrates a meaningful fraction
    of rows on one task."""
    from pyspark.sql import Window

    comp = connected_components(pairs, id1, id2)
    scored = docs.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("__score")
    ).join(comp, "id", "left")
    members = scored.select(
        "id", "__score", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )
    sizes = members.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col("id").asc()
    )
    return (
        members.join(sizes, "component")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id").alias(id_col),
            F.col("__score").alias(score_col),
            "n_members",
        )
    )
