"""Distributed Lloyd's k-means over an embedding column.

This is the centroid-TRAINING step that the IVF ANN index assumes
(``operators/similarity.py ivf_centroids`` runs exactly one refinement
pass over sampled seeds); a real 100 TB pipeline trains the coarse
quantizer properly — k centroids, a few Lloyd iterations — then hands
the centroid matrix to IVF for bucketed search, or uses the cluster ids
directly for corpus partitioning / topic bucketing / stratified mixing.

Scale design (the part that matters at 1000 executors):

- **Assignment is a pure projection.**  The k centroids are literals
  inlined into ONE ``array_min(array(struct(dist_j, j), ...))``
  expression — no shuffle, no UDF, no join; whole-stage codegen over the
  scan.  Distances accumulate via a sequential ``aggregate`` fold
  (deterministic left-to-right order) and are rounded to ``digits`` so
  the argmin is engine-portable.
- **Recompute is one map-side-combined hash-agg per iteration.**
  ``posexplode`` fans each row to ``dim`` (cluster, i, x) triples, but
  partial aggregation collapses them to k*dim partials per task before
  the exchange — the shuffle moves O(k * dim * partitions) rows, never
  O(rows * dim).
- **Driver state is O(k * dim) doubles per iteration** (the collected
  means) — the same bounded-scalar discipline as the ranking families'
  per-iteration norm.  Nothing row-sized is ever collected.
- **Lineage stays O(1) deep**: each iteration's assignment expression
  references literal centroids, not the previous iteration's DataFrame,
  so there is no growing plan to checkpoint.

The literal-expression argmin budgets k * dim terms of generated code;
past ``KMEANS_MAX_EXPR_TERMS`` (codegen-hostile territory) it refuses
and points at the Arrow-batched matmul path (``similarity._assign_udf``)
that IVF already uses for its big-k regime.

Determinism / oracle portability: seeds are the vectors of the k
smallest ids; every distance and every centroid mean is rounded to
``digits`` decimals on BOTH engines, so cross-engine float-sum-order
differences (~1e-12) vanish at the round — the same discipline as the
rounded-cosine verify in operators/similarity.py, guarded the same way
(tests assert the fixture clears the rounding boundaries and the
best-vs-second-best gap by wide margins).

The reference engine (JustAToaster/BigData_HITS) has no clustering
surface; this module belongs to the training-data-pipeline extension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

#: Rounding applied to distances and centroid means — 6 decimals keeps
#: the values engine-portable (float-sum-order diffs are ~1e-12) while
#: staying far above double noise for unit-scale embeddings.
KMEANS_DIGITS = 6

#: Ceiling on k * dim for the literal-expression assignment path.  Each
#: term is a handful of generated-code ops; past ~20k terms the
#: projection stops fitting whole-stage codegen budgets and the
#: Arrow-batched matmul assignment (similarity._assign_udf, the IVF
#: path) is the right tool.
KMEANS_MAX_EXPR_TERMS = 20_000


@dataclass
class KMeansResult:
    """``assignments`` is (id, cluster, dist) — dist is the rounded
    squared L2 distance to the winning centroid.  ``centroids`` maps
    cluster id -> centroid vector (clusters that lost every point keep
    their id but drop from the map, so ids are stable across
    iterations)."""

    assignments: DataFrame
    centroids: dict[int, list[float]]


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _pin_points(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The pinned (id, vec) projection every k-means job scans.  If the
    source arrives in fewer partitions than the session has cores (a
    single parquet file does), spread it first: the per-row distance
    fold is an INTERPRETED higher-order expression, and on a 1-partition
    corpus every job in the loop runs it single-threaded (measured: the
    whole declared query dropped ~40% from this one change).  At cluster
    scale the input is already wider than defaultParallelism and this is
    a no-op — no shuffle is added to big inputs."""
    pts = df.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        pts = pts.repartition(par)
    return pts.localCheckpoint(eager=False)


def _dlit(x: float) -> str:
    """SQL text of a double literal.  ``repr`` is Python's shortest
    round-trip form (bit-exact back through the parser); the ``D``
    suffix forces DOUBLE — a bare decimal literal parses as DECIMAL."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x in (float("inf"), float("-inf")):
        return f"CAST('{x}' AS DOUBLE)"
    return repr(x) + "D"


def _mat_lit(rows: list[list[float]]) -> Column:
    """Literal array-of-double-arrays built as ONE parsed SQL expression.
    The idiomatic nested ``F.array(*[F.lit(x) ...])`` costs a py4j round
    trip per element — at k*dim elements that is SECONDS of driver time
    per expression build (measured 1.35 s vs 5 ms for 36x64), repaid on
    every seeding round and every Lloyd iteration.  The parsed literal
    is bit-identical."""
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(_dlit(x) for x in row) + ")" for row in rows)
        + ")"
    )


def _choice(vec: Column, centroids: dict[int, list[float]], digits: int) -> Column:
    """struct(dist, cluster) of the nearest centroid: ``array_min`` over
    structs is lexicographic, so ties break to the smallest cluster id —
    the retrieval-wide deterministic tiebreak.

    Shape matters for PLANNING cost, not just execution: the centroid
    matrix is ONE literal array-of-arrays traversed by a shared
    higher-order lambda, so the generated code is O(dist lambda), not
    O(k) copies of it.  (The k-copies form spent ~3-4 s/job COMPILING at
    k=4, dim=64 — a fixed cost that dwarfed the 2000-row data work;
    measured A/B in the commit.)  Arithmetic per element is IDENTICAL to
    the per-centroid fold — same sequential left-to-right accumulation,
    same rounding — so oracle trajectories are unchanged."""
    keys = sorted(centroids)
    cmat = _mat_lit([centroids[j] for j in keys])
    ks = F.expr("array(" + ",".join(str(int(j)) for j in keys) + ")")
    dists = F.transform(
        cmat,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            digits,
        ),
    )
    return F.array_min(
        F.zip_with(
            dists, ks, lambda d, j: F.named_struct(F.lit("dist"), d, F.lit("cluster"), j)
        )
    )


def assign_clusters(
    df: DataFrame,
    centroids: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = KMEANS_DIGITS,
) -> DataFrame:
    """(id, cluster, dist): nearest-centroid assignment as a PURE
    projection — centroid literals inlined, no shuffle, no UDF.  This is
    also the serving-side primitive: route new documents to a trained
    partitioning without touching the training corpus."""
    if not centroids:
        raise ValueError("assign_clusters needs at least one centroid")
    dims = {len(c) for c in centroids.values()}
    if len(dims) != 1:
        raise ValueError(f"centroid dimensions disagree: {sorted(dims)}")
    n_terms = len(centroids) * dims.pop()
    if n_terms > KMEANS_MAX_EXPR_TERMS:
        raise ValueError(
            f"assign_clusters: k*dim = {n_terms} literal terms exceeds "
            f"KMEANS_MAX_EXPR_TERMS={KMEANS_MAX_EXPR_TERMS}; at this k use "
            "the Arrow-batched matmul assignment (operators/similarity.py "
            "_assign_udf, the IVF path) instead of codegen literals"
        )
    ch = _choice(_as_double(vec_col), centroids, digits)
    return df.select(
        F.col(id_col),
        ch["cluster"].alias("cluster"),
        ch["dist"].alias("dist"),
    )


def kmeans(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    digits: int = KMEANS_DIGITS,
    seed_ids: list | None = None,
    seed_vectors: dict | None = None,
) -> KMeansResult:
    """Lloyd's k-means: ``iters`` assignment steps with a centroid
    update between consecutive ones (so ``iters=1`` is plain
    nearest-seed assignment).  Seeds are the vectors of the k smallest
    ids (or ``seed_ids``, in the given order) — deterministic by
    construction; for quality-sensitive init at scale, pass the output
    of a k-means||-style sampler as ``seed_ids``.

    A cluster that loses every point keeps its id but drops out (its
    centroid is undefined); remaining ids never renumber.

    Cost per iteration: one scan of the pinned (id, vec) projection +
    one map-side-combined hash-agg collecting k*dim rounded means to the
    driver.  The final assignment is returned LAZY (a projection over
    the pinned points), so callers compose it without forcing a job.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # Pin the projected points: scanned once per iteration plus the
    # final assignment — unpinned, each scan would replan the source.
    pts = _pin_points(df, id_col, vec_col)
    if seed_ids is None:
        seed_rows = pts.orderBy("__id").limit(k).collect()
        if len(seed_rows) < k:
            raise ValueError(f"k={k} but corpus has only {len(seed_rows)} rows")
        centroids = {j: list(r["__v"]) for j, r in enumerate(seed_rows)}
    else:
        if len(seed_ids) != k:
            raise ValueError(f"seed_ids has {len(seed_ids)} ids, expected k={k}")
        if seed_vectors is not None:
            # Caller already holds the seed vectors (kmeans_parallel_seeds
            # collects them during the draw) — skip the lookup job.
            rows = {s: list(seed_vectors[s]) for s in seed_ids if s in seed_vectors}
        else:
            rows = {r["__id"]: list(r["__v"]) for r in pts.filter(F.col("__id").isin(list(seed_ids))).collect()}
        missing = [s for s in seed_ids if s not in rows]
        if missing:
            raise ValueError(f"seed ids not found in corpus: {missing}")
        centroids = {j: rows[s] for j, s in enumerate(seed_ids)}
    dim = len(next(iter(centroids.values())))
    for _ in range(iters - 1):
        ch = _choice(F.col("__v"), centroids, digits)
        # Per-dimension means as dim parallel avg() columns of ONE
        # hash-agg — NOT a posexplode: project-collapse would inline the
        # (interpreted, higher-order) choice expression into every
        # exploded row, evaluating it dim times per point (measured:
        # 3.6 s/job exploded vs ~0.4 s this shape at 2000x64).  The agg
        # child evaluates the choice once per row; the dim avg columns
        # stay inside whole-stage codegen.
        mrows = (
            pts.groupBy(ch["cluster"].alias("__c"))
            .agg(
                *[
                    F.round(F.avg(F.col("__v")[i]), digits).alias(f"__m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        centroids = {r["__c"]: [r[f"__m{i}"] for i in range(dim)] for r in mrows}
    out = assign_clusters(pts, centroids, id_col="__id", vec_col="__v", digits=digits)
    return KMeansResult(
        assignments=out.withColumnRenamed("__id", id_col), centroids=centroids
    )


def kmeans_parallel_seeds(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 2,
    oversample: int | None = None,
    seed: int = 0,
    digits: int = KMEANS_DIGITS,
    return_vectors: bool = False,
) -> list:
    """k-means|| seeding (Bahmani et al., VLDB'12) made DETERMINISTIC:
    returns k corpus ids to pass as ``kmeans(seed_ids=...)``.  First-k-id
    seeding is oracle-friendly but quality-blind — on a corpus whose
    smallest ids share a source, every seed lands in one region and
    Lloyd's converges to a lopsided partition.  k-means|| fixes init
    quality with O(rounds) passes instead of k-means++'s k sequential
    ones.

    Per round: distances to the current candidate set are a literal
    projection (same machinery as assignment), the total cost phi is ONE
    collected scalar, and each point self-selects with probability
    min(1, oversample * d^2 / phi) — the coin is the repo's portable
    md5-derived uniform of (seed, round, id), a pure function of the
    data, so the candidate set is identical across partitionings, runs,
    and engines.  Expected draw is ``oversample`` (default 2k) rows per
    round; a defensive ``limit(8 * oversample)`` on the smallest-id
    order bounds the collect even on adversarial distance
    concentrations.

    Final reduction: candidates are weighted by how many points they
    attract (one candidate-bounded agg), then k of them are chosen
    driver-side by weighted farthest-first traversal (greedy max of
    weight * d^2 to the chosen set; ties to the smallest id) — the
    deterministic stand-in for weighted k-means++'s random recluster.

    Everything collected is candidate-sized (~rounds * oversample rows),
    never corpus-sized."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    l = int(oversample) if oversample is not None else 2 * k
    if l < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    pts = _pin_points(df, id_col, vec_col)
    first = pts.orderBy("__id").limit(1).collect()
    if not first:
        raise ValueError("kmeans_parallel_seeds: empty corpus")
    cand: dict = {first[0]["__id"]: list(first[0]["__v"])}

    def _u(r: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(seed), F.lit(r), F.col("__id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(1 << 32))
        )

    for r in range(rounds):
        dist = _choice(
            F.col("__v"), dict(enumerate(cand.values())), digits
        )["dist"]
        # The scored relation carries the VECTOR alongside the distance,
        # so the drawn candidates arrive with their coordinates in the
        # same action — no join back to pts.  It is NOT pinned: it is a
        # pure projection over the already-pinned pts, so referencing it
        # twice (phi + draw) re-evaluates the distance fold once more
        # over one scan — no lineage recursion across rounds, and one
        # fewer materialization job per round (the r7 profile showed the
        # checkpoint job, not the data, dominating at fixture scale).
        scored = pts.select("__id", "__v", dist.alias("__d"))
        # Fused phi + draw (the ranking loop's fused-scalar trick): the
        # cost scalar phi is attached IN-PLAN as a broadcast one-row
        # aggregate instead of a separate collected action, so the
        # common path is one action per round instead of two (round-6
        # bench had this operator at 5.6 s across 9+ jobs).  phi is
        # rounded like every cross-boundary scalar: its float-sum order
        # depends on partitioning, and the sampling probabilities below
        # must not — at the round, the residual noise (~1e-12 relative)
        # vanishes except at measure-zero boundary coincidences.
        phi_row = scored.groupBy().agg(F.round(F.sum("__d"), digits).alias("__phi"))
        p = F.least(
            F.lit(1.0), F.lit(float(l)) * F.col("__d") / F.col("__phi")
        )
        drawn = (
            scored.crossJoin(F.broadcast(phi_row))
            .filter(F.col("__phi") > 0)
            .filter(~F.col("__id").isin(list(cand)))
            .filter(_u(r) < p)
            .orderBy("__id")
            .limit(8 * l)
            .collect()
        )
        if not drawn:
            # Rare: either phi == 0 (every point IS a candidate — stop)
            # or a genuinely empty draw (continue; next round's coin
            # differs).  Disambiguate with the phi scalar.
            if not phi_row.first()[0]:
                break
            continue
        for row in drawn:
            cand[row["__id"]] = list(row["__v"])
    def _ret(chosen_ids: list) -> list:
        if return_vectors:
            return chosen_ids, {i: cand[i] for i in chosen_ids}
        return chosen_ids

    ids = sorted(cand)
    if len(ids) < k:
        raise ValueError(
            f"kmeans_parallel_seeds drew only {len(ids)} candidates for k={k}; "
            "raise rounds or oversample (or the corpus has fewer than k rows)"
        )
    if len(ids) == k:
        return _ret(ids)
    # weight candidates by attraction (candidate-bounded agg) ...
    idx_vecs = dict(enumerate(cand[i] for i in ids))
    ch = _choice(F.col("__v"), idx_vecs, digits)
    weights_rows = (
        pts.select(ch["cluster"].alias("__c"))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).alias("__w"))
        .collect()
    )
    w = {ids[r["__c"]]: r["__w"] for r in weights_rows}
    # ... then weighted farthest-first down to k, driver-side
    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    start = max(ids, key=lambda i: (w.get(i, 0), -i))
    chosen = [start]
    while len(chosen) < k:
        best = max(
            (i for i in ids if i not in chosen),
            key=lambda i: (
                w.get(i, 0) * min(sq(cand[i], cand[c]) for c in chosen),
                -i,
            ),
        )
        chosen.append(best)
    return _ret(sorted(chosen))
