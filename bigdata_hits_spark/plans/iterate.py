"""Iteration harness: the one score normalization, lineage truncation,
and the one fixpoint driver every convergence loop runs on.

The reference's power loops collect the norm scalar to the driver twice per
iteration and never cache, so every action recomputes a lineage that grows
with the iteration count and re-reads the input CSVs (the reference's
``base_hits.py``; SURVEY §3.1, §4.2).  Here every ranking vector is
normalized by :func:`normalized`, which cuts its lineage with a lazy
``localCheckpoint`` and pays checkpoint and norm scalar in ONE job, so a
loop's plan never grows across iterations (SURVEY §4.3).

Convergence loops (connected components, star contraction, the three SCC
fixpoints, k-core, k-truss) are supersteps in the Pregelix sense: one
join+group-by round body, repeated until nothing moves.  They differ only
in that body and in what they count, so :func:`fixpoint` owns everything
else — the per-round lineage cut, the per-round measure and stop test,
and the round budget — and the operators pass a step and a measure.
A lazy ``localCheckpoint`` is not free: with adaptive query execution
(on by default) cutting a plan already runs every shuffle and broadcast
stage of the round as jobs, so skipping a round's measure saves only
the measure's own job, and :func:`fixpoint` measures every round.
Fixed-k loops (HITS/SALSA and the PageRank family, label propagation,
BFS, feature propagation) have no convergence test and keep their own
cadence; the ranking ones end every iteration in :func:`normalized`.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F


def normalized(scores: DataFrame, how: str = "l2") -> DataFrame:
    """Divide the ``score`` column by the vector's L2 or L1 norm: the one
    normalization of every ranking vector.

    L2 mirrors HITS (``base_hits.py:16-19``), L1 mirrors SALSA
    (``base_salsa.py:13-15``).  The vector is cut with a LAZY
    ``localCheckpoint`` and the norm aggregate is the action that
    materializes it, so checkpoint and scalar cost one job.  The scalar
    (O(1) on the driver; the reference collects the same) is divided in
    as a literal, which keeps the next iteration's plan free of a second
    broadcast barrier — an in-plan broadcast norm nests a
    BroadcastExchange inside the score-vector broadcast and measured
    slower.  A zero or null norm (an all-zero or empty vector) leaves the
    vector unchanged.
    """
    s = F.col("score")
    if how == "l2":
        norm: Column = F.sqrt(F.sum(s * s))
    elif how == "l1":
        norm = F.sum(s)
    else:
        raise ValueError(f"unknown norm {how!r} (expected 'l1' or 'l2')")
    cut = scores.localCheckpoint(eager=False)
    nrm = cut.agg(norm).first()[0]
    return cut.withColumn("score", s / F.lit(nrm)) if nrm else cut


#: Size-estimate bit-length above which :func:`materialize` resets the
#: estimate to the real materialized size.  Real data never gets here
#: (2^256 bytes); only estimate COMPOUNDING does, and one loop round
#: multiplies at most a handful of sub-cap estimates, so the check
#: itself always reads a small number.
_STATS_BITS_CAP = 256


def _stats_reset(df: DataFrame) -> DataFrame:
    """Re-checkpoint through a persisted frame: the eager checkpoint's
    own job populates the cache, so the resulting LogicalRDD's origin
    stats are the InMemoryRelation's ACTUAL materialized byte size
    instead of the compounded estimate.  The scratch cache is dropped
    immediately (the checkpoint has its own storage).

    The cache goes on a fresh lazy checkpoint of ``df``, never on
    ``df`` itself: ``persist`` returns the same Dataset, and once the
    guard's probe has optimized that Dataset's plan, its stats are
    fixed without the cache — the reset would copy the compounded
    estimate straight back (pinned by tests/test_plans.py)."""
    cached = df.localCheckpoint(eager=False).persist()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out


def _estimate_sane(df: DataFrame) -> bool:
    """True when Catalyst's size estimate for ``df`` has not compounded
    past ``_STATS_BITS_CAP`` bits.  The probe reads private JVM
    internals; if a PySpark upgrade moves them, report "not sane" so
    callers degrade to the unconditional reset (correct, just pays the
    cache build every call) instead of raising everywhere at once."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return False
    return size.bit_length() <= _STATS_BITS_CAP


def materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage + force evaluation (eager localCheckpoint), and
    keep Catalyst's size estimate SANE across iterative loops.

    ``localCheckpoint`` copies the ORIGIN plan's ESTIMATED statistics
    into the resulting LogicalRDD, and size-only estimation MULTIPLIES
    sizeInBytes through inner/outer joins (left-semi/anti keep the left
    size, so degree-peel loops are immune) — a loop whose round output
    joins against an aggregate of the SAME frame therefore multiplies
    the estimate's BIT-LENGTH every round.  The estimate is a
    BigInteger: in the k-truss peel (x3 bit-growth per round) it
    reached millions of digits by round ~17 and the driver stalled
    20-130 s per round inside ``BigInteger.multiplyToomCook3`` during
    stats propagation — with plan size, RDD lineage, GC, JIT, and AQE
    all measured innocent on a 300-edge graph.

    The guard is ADAPTIVE because the reset is not free (an extra
    columnar cache build per call — measured +40-70% on the sf0.1
    graph-family rows when applied unconditionally): the cheap bare
    checkpoint runs first, and only when its copied estimate has
    compounded past ``_STATS_BITS_CAP`` bits does the persist-backed
    reset kick in.  One-shot and linear-growth sites (HITS, label
    propagation) never pay; a multiplicative loop pays one cache build
    every few rounds and its estimate never exceeds a few hundred
    bits, keeping every planning pass O(1) (flat ~0.5 s k-truss rounds
    at any peel depth; pinned by tests/test_plans.py).

    Equivalent role to the reference's per-iteration collects, but the
    data stays distributed on the executors instead of landing on the
    driver.  On a real cluster with lost-executor concerns, swap for
    reliable ``checkpoint()`` against a checkpoint dir; local mode
    doesn't need it.
    """
    out = df.localCheckpoint(eager=True)
    return out if _estimate_sane(out) else _stats_reset(out)


def _cut(df: DataFrame) -> DataFrame:
    """The per-round lineage cut of :func:`fixpoint`: a LAZY
    ``localCheckpoint`` whose blocks the round's measure writes, with
    :func:`materialize`'s estimate guard probed on the optimized plan
    (which needs no materialization).  Only a compounded estimate pays
    the eager persist-backed reset."""
    return df.localCheckpoint(eager=False) if _estimate_sane(df) else _stats_reset(df)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame], Any],
    *,
    max_rounds: int | None,
    until: str = "zero",
    name: str = "fixpoint",
    strict: bool = True,
) -> tuple[DataFrame, int, bool]:
    """Run ``state = step(state)`` to a fixpoint; returns
    ``(state, rounds, converged)``.

    - **Lineage cut** after every round (:func:`_cut`): lazy, so the
      round's measure is the action that writes it, and the
      size-estimate guard keeps joins against the loop's own aggregates
      from compounding Catalyst's estimate.
    - **Measure** after every round: ``measure(state)`` — one action,
      the loop's own count or aggregate.
    - **Stop test**: a measure of ``0`` always stops (no row changed,
      or nothing is left to peel).  ``until="zero"`` stops on nothing
      else — the measure counts rows the LAST round changed, and a
      repeat of a non-zero count is still progress.
      ``until="stable"`` also stops when the measure equals the
      previous round's — for measures of the state itself (a size, a
      fingerprint) that only move while the loop does.
    - **Round budget**: ``max_rounds`` (None = unbounded).  Running out
      raises one error for every loop, ``"<name> did not converge in N
      rounds"``; with ``strict=False`` it returns ``converged=False``
      instead, for callers that recover (escalate to another
      algorithm, fold more work per round).

    The returned state is always the one the last measure read, so its
    checkpoint is already materialized.
    """
    if until not in ("zero", "stable"):
        raise ValueError(f"unknown stop test {until!r} (expected 'zero' or 'stable')")
    prev = None
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        state = _cut(step(state))
        rounds += 1
        m = measure(state)
        if m == 0 or (until == "stable" and m == prev):
            return state, rounds, True
        prev = m
    if strict:
        raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")
    return state, rounds, False
