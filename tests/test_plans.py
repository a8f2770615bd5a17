"""Plan-quality assertions: the scale guarantees the engine claims must be
visible in the physical plan, not just believed.

- Filters reach the parquet scan (PushedFilters).
- Projections prune the read schema (ReadSchema contains only what the
  query needs).
- The neighborhood subgraph rewrite plans as equi-joins, NOT the
  BroadcastNestedLoopJoin the reference's OR-predicate semi-join forces.
- The power-iteration step broadcasts the score vector, not the edges.
"""

from pyspark.sql import functions as F

from bigdata_hits_spark.operators.graph import neighborhood
from bigdata_hits_spark.sources import derived
from bigdata_hits_spark.sources.readers import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushed_to_parquet_scan(spark, sf_dir_oracle):
    orders = load_table(spark, sf_dir_oracle, "orders")
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].splitlines()[0]


def test_projection_prunes_read_schema(spark, sf_dir_oracle):
    li = load_table(spark, sf_dir_oracle, "lineitem")
    q = li.select("l_orderkey", "l_partkey")
    plan = _formatted(q)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_partkey" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_neighborhood_rewrite_avoids_nested_loop_join(spark, sf_dir_oracle):
    g = derived.g_pp(spark, sf_dir_oracle)
    sub = neighborhood(g, derived.G_PP_TOPIC)
    plan = _plan(sub.edges)
    assert "BroadcastNestedLoopJoin" not in plan


def test_composite_topk_plan_shape(spark, sf_dir_oracle):
    """The Q3-shaped composite must broadcast the dimension sides (no
    sort-merge join at this dim/fact ratio), keep the status filter at
    the orders scan, and run top-k as TakeOrderedAndProject (per-partition
    heaps), not a global sort."""
    from bigdata_hits_spark.queries import queries

    df = queries()["composite_order_revenue_topk"](spark, sf_dir_oracle)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    formatted = _formatted(df)
    pushed = [
        line for line in formatted.splitlines()
        if "PushedFilters" in line and "o_orderstatus" in line
    ]
    assert pushed


def test_bucketed_join_has_no_exchange(spark, sf_dir_oracle):
    """Two tables bucketed+sorted on the join key must join with ZERO
    Exchange (the write-time shuffle is reused by every later join) —
    the persistent-layout story for repeated fact-fact joins at scale.

    Uses the session's default warehouse dir (repo-local
    ``spark-warehouse/``, gitignored): warehouse.dir is a static conf
    that cannot be repointed per-test."""
    from pyspark.sql import functions as F

    from bigdata_hits_spark.sources.bucketed import read_bucketed, write_bucketed

    li = load_table(spark, sf_dir_oracle, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir_oracle, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "t_li_bucketed", "l_orderkey", buckets=8)
    write_bucketed(orders, "t_ord_bucketed", "o_orderkey", buckets=8)
    try:
        a = read_bucketed(spark, "t_li_bucketed")
        b = read_bucketed(spark, "t_ord_bucketed")
        # hint("merge"): at sf0.01 the orders side is broadcast-sized, so
        # Catalyst would pick BHJ and the bucket layout would never engage;
        # at real scale SMJ is what it picks on its own.
        joined = (
            a.join(b.hint("merge"), a["l_orderkey"] == b["o_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed join still exchanges:\n{plan}"
        assert "SortMergeJoin" in plan
        # (A task-local Sort remains: Spark 3+ ignores bucket-file sort
        # order by default — spark.sql.legacy.bucketedTableScan
        # .outputOrdering.  The shuffle elimination is the scale win;
        # the in-task sort is memory-local.)
        # correctness spot check: same result as the unbucketed join
        expected = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert joined.count() == expected.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_clear_orphaned_location_rejects_unsafe_names(spark, tmp_path):
    """ADVICE r10: the orphan-cleanup helper rmtrees a path derived from
    the table NAME, so the name must be a bare identifier — path
    separators, dots (db.tbl), and traversal sequences are rejected
    before any filesystem touch."""
    import pytest

    from bigdata_hits_spark.sources.bucketed import clear_orphaned_location

    for bad in ("../etc", "a/b", "db.tbl", "a b", "", "x\\y"):
        with pytest.raises(ValueError, match="bare unqualified identifier"):
            clear_orphaned_location(spark, bad)
    # a safe name on a MISSING dir is a clean no-op
    clear_orphaned_location(spark, "t_never_written_anywhere_42")


def test_power_step_broadcasts_scores_not_edges(spark, sf_dir_oracle):
    from bigdata_hits_spark.operators.ranking import _hits_edges, _uniform_init, _step
    from bigdata_hits_spark.plans.iterate import materialize

    g = derived.g_ps(spark, sf_dir_oracle)
    eh, ea = _hits_edges(g, None, "broadcast")
    n = g.memo(("n_nodes",), g.nodes.count)
    scores = materialize(_uniform_init(g.nodes, n))
    plan = _plan(_step(eh, scores))
    # the build (broadcast) side must be the checkpointed score vector
    build_section = plan.split("BroadcastExchange")[1]
    assert "ExistingRDD" in build_section.split("BroadcastHashJoin")[0] or "ExistingRDD" in build_section
    # and the streamed side must come from the cached, pre-partitioned edges
    assert "InMemoryTableScan" in plan


def test_sessionize_single_shuffle_on_user(spark, sf_dir_oracle):
    """Gap sessionization must shuffle ONCE on user_id: lag, running sum,
    and the final grouped agg all reuse the same hash partitioning."""
    from bigdata_hits_spark.operators.events import sessionize

    ev = load_table(spark, sf_dir_oracle, "events")
    plan = _plan(sessionize(ev))
    # exactly one exchange (hashpartitioning on user_id); a second exchange
    # would mean the window partitioning isn't being reused by the agg
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"
    assert "user_id" in plan.split("Exchange hashpartitioning")[1].splitlines()[0]


def test_dedup_plans_have_no_cartesian_products(spark, sf_dir_oracle):
    """Every fuzzy-dedup path must candidate-generate via equi-joins —
    a CartesianProduct/BroadcastNestedLoopJoin anywhere means the
    stop-shingle/banding guard failed and the plan is O(n^2) at scale."""
    from bigdata_hits_spark.operators import dedup as D

    docs = load_table(spark, sf_dir_oracle, "documents")
    for df in (
        D.minhash_near_duplicates(docs),
        D.simhash_near_duplicates(docs),
        D.ngram_jaccard_pairs(docs),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_anti_join_filter_pushed_to_orders_scan(spark, sf_dir_oracle):
    """The de-vacuated anti-join must push the status filter into the
    orders parquet scan, not filter post-join."""
    from bigdata_hits_spark.queries import queries

    df = queries()["anti_join_idle_customers"](spark, sf_dir_oracle)
    formatted = _formatted(df)
    pushed = [
        line for line in formatted.splitlines()
        if "PushedFilters" in line and "o_orderstatus" in line
    ]
    assert pushed


def test_power_step_shuffle_mode_has_no_broadcast(spark, sf_dir_oracle):
    """The big-vector mode's plan must not broadcast anything: the score
    vector exchanges onto the edges' existing hash partitioning (shuffle
    hash join), the edges themselves never move."""
    from bigdata_hits_spark.operators.ranking import _hits_edges, _uniform_init, _step
    from bigdata_hits_spark.plans.iterate import materialize

    g = derived.g_ps(spark, sf_dir_oracle)
    eh, ea = _hits_edges(g, None, "shuffle")
    n = g.memo(("n_nodes",), g.nodes.count)
    scores = materialize(_uniform_init(g.nodes, n))
    plan = _plan(_step(eh, scores, "shuffle"))
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    # edges stream from cache; only the score vector exchanges pre-join
    assert "InMemoryTableScan" in plan


def test_bucketed_ranking_edges_no_exchange(spark, sf_dir_oracle, monkeypatch):
    """Prepared HITS step relations persisted as bucketed tables must run
    the power step with ZERO edge-sized shuffle on a cold session — the
    bucketed scan satisfies the grouped sum's distribution, so the only
    exchange left is the broadcast of the (node-sized) score vector.
    The test graph is below LOCAL_MAX_EDGES, so the cap is lowered to
    rank it on the Spark tier the bucketed layout serves."""
    from pyspark.sql import functions as F

    from bigdata_hits_spark.operators import ranking
    from bigdata_hits_spark.operators.ranking import (
        _hits_edges,
        _step,
        attach_ranking_edges,
        hits,
        persist_ranking_edges,
    )
    from bigdata_hits_spark.sources.derived import _g_ps

    monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)
    g = _g_ps(spark, sf_dir_oracle)
    g2 = _g_ps(spark, sf_dir_oracle)  # fresh graph: no in-session prepared state
    try:
        persist_ranking_edges(g, "t_rank_edges", buckets=8)
        attach_ranking_edges(g2, "t_rank_edges")
        eh, _ea = _hits_edges(g2, None, "broadcast")
        scores = g2.nodes.select("id", F.lit(1.0).alias("score"))
        plan = _step(eh, scores, "broadcast")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan

        # end-to-end: the bucketed-edge loop computes the same ranking
        a = {(r["id"], round(r["score"], 7)) for r in hits(g, k=3).auths.collect()}
        b = {(r["id"], round(r["score"], 7)) for r in hits(g2, k=3).auths.collect()}
        assert a == b and len(a) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_rank_edges_hub")
        spark.sql("DROP TABLE IF EXISTS t_rank_edges_auth")
        g.release()
        g2.release()


def test_time_partitioned_scan_prunes(spark, sf_dir_oracle, tmp_path):
    """A date filter over the time-partitioned events layout must prune at
    PLANNING time: PartitionFilters carries the predicate, the data-filter
    list doesn't re-apply it, and the pruned scan reads fewer partition
    directories than exist."""
    from bigdata_hits_spark.sources.bucketed import (
        read_time_partitioned,
        write_time_partitioned,
    )

    events = load_table(spark, sf_dir_oracle, "events")
    path = str(tmp_path / "events_by_date")
    write_time_partitioned(events, path)

    back = read_time_partitioned(spark, path)
    n_dates = back.select("event_date").distinct().count()
    assert n_dates > 1, "testdata spans one date; pruning test needs several"
    one_date = back.select(F.max("event_date")).first()[0]
    q = back.filter(F.col("event_date") == F.lit(one_date)).select("event_id")
    formatted = _formatted(q)
    part_lines = [l for l in formatted.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("event_date" in l for l in part_lines)
    # row parity with the unpartitioned table filtered the slow way
    expect = events.filter(
        F.to_date(F.timestamp_seconds(F.expr("ts_ns div 1000000000"))) == F.lit(one_date)
    ).count()
    assert q.count() == expect > 0


#: Broadcast-nested-loop allowance per declared query — every entry is a
#: documented, deliberately-bounded build side; everything NOT listed is
#: held to zero, so a future query that plans an accidental BNLJ (or any
#: cartesian product anywhere) fails this file by default.
#:
#: Categories:
#: - one-row scalar attach (crossJoin(broadcast(<1-row aggregate>)) —
#:   ranks.py ntile_exact, profiling bounds, bm25/tfidf n_docs,
#:   skew_report total): a BNLJ whose build side is one row is a
#:   constant-fold, not a scale risk.  The ranking families carry none:
#:   plans/iterate.py normalized divides by a driver-side literal.
#: - fixed tiny probe set (ann_cosine_topk's 5 pinned query vectors
#:   against the corpus — the exact-baseline design, fan-out 5n).
#: - embedding_neardup_pairs: the DELIBERATE all-pairs exact baseline
#:   (exact=True-gated, similarity.py) — the one declared perf-weak row.
_BNLJ_ALLOWED = {
    # scalar attaches in the relational/stat surface
    "grand_agg_l2": 1,
    "scalar_normalize": 1,
    "text_unigram_logprob": 1,
    "quality_ntile_gate": 1,
    "orders_price_window_stats": 1,
    "skew_report": 1,
    "orders_price_histogram": 1,
    "text_bm25": 1,
    "text_tfidf": 1,
    "sparse_cosine_topk_docs": 1,
    "collocations_pmi_docs": 2,  # unigram-total + bigram-total one-row attaches
    # n-total attach on the CDF, on the edge interpolation, and the
    # (B-1)-element inner-edge array attach on the data — all one-row
    "orders_price_equidepth": 3,
    "events_decayed_engagement": 1,  # as-of max-timestamp one-row attach
    "orders_price_qnorm": 1,  # n one-row attach for (rank-1)/(n-1)
    # fixed tiny probe set / deliberate exact baseline
    "ann_cosine_topk": 1,
    # the distributed MMR arm embeds the same deliberate exact-cosine
    # candidate pass (probe x corpus) as ann_cosine_topk; at real scale
    # the candidate generator is the LSH/IVF path per the docstring
    "retrieval_mmr": 1,
    # recall report embeds the exact-cosine truth pass (probe x corpus)
    # plus the LSH arm's bounded query-side attach
    "ann_lsh_recall": 2,
    # same shape as ann_lsh_recall: the exact-cosine truth pass (a
    # deliberate probe x corpus baseline over the tiny query set) is
    # referenced by both the hit semi-join and the truth counts
    "ann_ivfq_recall": 2,
    "embedding_neardup_pairs": 1,
    "domain_mix_docs": 1,  # grand-total one-row attach on the host counts
    "keywords_per_source": 1,  # corpus-doc-count one-row attach on tf-idf
    # equidepth's 3 one-row attaches + PSI's edge-array and new-total
    "orders_price_psi": 5,
    "sketch_token_topk": 1,  # n one-row attach for the MG error bound
    # per-iteration norm attach in the power-iteration loop (one per
    # round; the d-count attach on v0 makes iters + 1; the lazy
    # checkpoints truncate the visible plan to the last attach)
    "embedding_pca_top": 16,
    "embedding_pca_project": 16,
    # chain-2 norm attaches + the lam deflation attach (chain-1 plan is
    # truncated behind the deflated matrix's lazy checkpoint)
    "embedding_pca_top2": 18,
    "embedding_pca_project2": 18,
    "community_modularity": 1,  # 2m one-row attach
    "community_modularity_lp": 1,  # 2m one-row attach
    "domain_reweight_plan": 1,  # total-weight one-row attach
    "vocab_coverage_top100": 1,  # corpus-token-total one-row attach
    "graph_degree_distribution": 1,  # node-count one-row attach
    "graph_reciprocity": 1,  # two grand aggregates cross-joined (1-row x 1-row)
}


def test_all_declared_queries_plan_clean(spark, sf_dir_oracle, monkeypatch):
    """EVERY declared query — current and future, auto-derived from the
    registry instead of a per-round name list — must plan zero cartesian
    products and no broadcast-nested-loop joins beyond its documented
    allowance (_BNLJ_ALLOWED; default 0).  This is the scale guarantee
    each docstring states, pinned for the whole surface at once.

    The same pass holds every query to its recorded SHUFFLE BUDGET
    (tests/plan_shuffle_budget.json): the number of shuffle exchanges in
    the plan must not exceed the audited record — an increase is a scale
    regression (a lost broadcast, a lost partitioning reuse) unless
    deliberately re-recorded.  A DECREASE passes but prints a
    re-record hint, since session warm-state can shave an exchange
    non-deterministically (materialized memo stats flipping a join
    strategy) and a hard equality would flake on it.  Regenerate with
    ``python scripts/gen_shuffle_budget.py`` and commit the diff.

    The ranking rows rank their sf0.01 graphs on the driver by default;
    LOCAL_MAX_EDGES is lowered so their Spark-tier plans — the ones that
    run above the cap — stay held to the budget."""
    import json
    import os

    from bigdata_hits_spark import queries as q
    from bigdata_hits_spark.operators import ranking
    from bigdata_hits_spark.plans.audit import count_shuffles

    monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)

    budget_path = os.path.join(os.path.dirname(__file__), "plan_shuffle_budget.json")
    with open(budget_path) as fh:
        budget = json.load(fh)

    reg = q.queries()
    failures = []
    for name, fn in reg.items():
        plan = _plan(fn(spark, sf_dir_oracle))
        cp = plan.count("CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        allowed = _BNLJ_ALLOWED.get(name, 0)
        if cp or bnlj > allowed:
            failures.append(f"{name}: cartesian={cp} bnlj={bnlj} allowed={allowed}")
        shuffles = count_shuffles(plan)
        if name not in budget:
            failures.append(
                f"{name}: no shuffle budget recorded — run scripts/gen_shuffle_budget.py"
            )
        elif shuffles > budget[name]:
            failures.append(
                f"{name}: {shuffles} shuffle exchanges, budget {budget[name]} "
                f"(REGRESSION; re-record via scripts/gen_shuffle_budget.py if deliberate)"
            )
        elif shuffles < budget[name]:
            print(
                f"shuffle budget: {name} improved to {shuffles} "
                f"(budget {budget[name]}) — consider re-recording"
            )
    assert not failures, "\n".join(failures)


def test_count_shuffles_regex_classification():
    """The budget counts SHUFFLE exchanges only: hash/range/single/
    round-robin partitionings count; BroadcastExchange (no big-side
    network pass) and ReusedExchange (no second execution) do not."""
    from bigdata_hits_spark.plans.audit import count_shuffles

    plan = "\n".join(
        [
            "Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS",
            "Exchange rangepartitioning(v#2 ASC NULLS FIRST, 8)",
            "Exchange SinglePartition, EXECUTOR_BROADCAST",
            "Exchange RoundRobinPartitioning(16)",
            "BroadcastExchange HashedRelationBroadcastMode(List(k#1))",
            "ReusedExchange [k#1], Exchange hashpartitioning(k#1, 32)",
        ]
    )
    # the ReusedExchange line still CONTAINS the literal text of the
    # exchange it points at, and that text matches — the gate counts the
    # plan as printed, which is stable for a budget pin
    assert count_shuffles(plan) == 5
    assert count_shuffles("") == 0
    assert count_shuffles("BroadcastExchange only") == 0


def test_materialize_resets_size_estimate(spark):
    """materialize must capture the REAL materialized size, not copy the
    origin plan's estimate: size-only estimation multiplies sizeInBytes
    through inner/outer joins, so an iterative loop that checkpoints a
    join against an aggregate of its OWN previous output compounds the
    estimate's bit-length exponentially.  The estimate is a BigInteger —
    in the k-truss peel it reached millions of digits by round ~17 and
    the driver stalled 20-130 s/round inside BigInteger.multiply during
    stats propagation.  Five self-join rounds (on a non-unique key, so
    the estimate really multiplies — a join against a per-key aggregate
    is estimated at the left side's size): the estimate's bit-length
    doubles per round to ~10^160; the persist-backed materialize stays
    at the actual few-KB size.  The fixpoint harness's lazy per-round
    cut carries the same guard: five compounding rounds under a measure
    that never repeats and never reaches 0, so none of them stops."""
    from bigdata_hits_spark.plans.iterate import fixpoint, materialize

    def self_join(df):
        pairs = df.join(df.select("a", F.col("b").alias("b2")), "a")
        return df.join(pairs.select("a", "b").distinct(), ["a", "b"])

    start = materialize(
        spark.range(100).select((F.col("id") % 10).alias("a"), F.col("id").alias("b"))
    )
    df = start
    for _ in range(5):
        df = materialize(self_join(df))
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size < 10**9, f"size estimate compounding through materialize: {size}"

    counts = []

    def count(d):
        counts.append(d.count())
        return len(counts)

    ck, rounds, converged = fixpoint(
        start, self_join, count, max_rounds=5, until="stable", strict=False
    )
    assert (rounds, converged) == (5, False)
    n = counts[-1]
    assert n == 100
    size = int(ck._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size < 10**9, f"size estimate compounding through the fixpoint cut: {size}"


def _chain(spark, n):
    """(id, done, changed) over ids 0..n-1 with only id 0 done."""
    return spark.range(n).select(
        "id", (F.col("id") == 0).alias("done"), F.lit(False).alias("changed")
    )


def _spread_two(state):
    """One round: every id one or two past a done id becomes done, so a
    round marks (at most) two new ids — a changed-count that REPEATS
    round after round while the loop still makes progress."""
    s = state.select("id", "done")
    done = s.filter("done")
    hit = (
        done.select((F.col("id") + 1).alias("id"))
        .union(done.select((F.col("id") + 2).alias("id")))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    h = F.coalesce(F.col("hit"), F.lit(False))
    return s.join(hit, "id", "left").select(
        "id", (F.col("done") | h).alias("done"), (~F.col("done") & h).alias("changed")
    )


def _n_changed(state):
    return state.filter("changed").count()


def _n_done(state):
    return state.filter("done").count()


def test_fixpoint_zero_stop_ignores_repeated_changed_count(spark):
    """until="zero" stops only when a round changes no row: the
    changed-count reads 2 at each of rounds 1-4 of a 9-id chain and
    must not stop the loop; round 5 is the first after the chain is
    exhausted.  Read as a stable measure, the same repeated 2 would
    stop it at round 2 with ids undone."""
    from bigdata_hits_spark.plans.iterate import fixpoint

    seen = []

    def changed(d):
        seen.append(_n_changed(d))
        return seen[-1]

    out, rounds, converged = fixpoint(
        _chain(spark, 9), _spread_two, changed, max_rounds=20
    )
    assert (rounds, converged) == (5, True)
    assert seen == [2, 2, 2, 2, 0]
    assert _n_done(out) == 9

    early, rounds, _ = fixpoint(
        _chain(spark, 9), _spread_two, _n_changed, max_rounds=20, until="stable"
    )
    assert rounds == 2 and _n_done(early) == 5


def test_fixpoint_stable_stops_on_unchanged_measure(spark):
    """until="stable" stops at the first round whose measure equals the
    previous round's: done-counts 3, 5, 7, 9, 9 stop at round 5."""
    from bigdata_hits_spark.plans.iterate import fixpoint

    out, rounds, converged = fixpoint(
        _chain(spark, 9), _spread_two, _n_done, max_rounds=20, until="stable"
    )
    assert (rounds, converged) == (5, True)
    assert _n_done(out) == 9


def test_fixpoint_budget_error_message(spark):
    """Running out of rounds raises one message for every loop."""
    import pytest

    from bigdata_hits_spark.plans.iterate import fixpoint

    with pytest.raises(RuntimeError, match=r"^spread did not converge in 2 rounds$"):
        fixpoint(_chain(spark, 9), _spread_two, _n_changed, max_rounds=2, name="spread")
    with pytest.raises(ValueError, match="stop test"):
        fixpoint(_chain(spark, 9), _spread_two, _n_changed, max_rounds=2, until="never")


def test_fixpoint_returns_non_convergence(spark):
    """strict=False hands non-convergence back to the caller with the
    state the last budgeted round reached (measured, so materialized)."""
    from bigdata_hits_spark.plans.iterate import fixpoint

    out, rounds, converged = fixpoint(
        _chain(spark, 9), _spread_two, _n_changed, max_rounds=2, strict=False
    )
    assert (rounds, converged) == (2, False)
    assert _n_done(out) == 5


#: Jobs per power iteration on the 300-node / 2,000-edge graph below,
#: recorded when the PageRank and personalized-PageRank loops were
#: merged: a ranking loop may get cheaper per iteration, never dearer.
#: The local tier iterates in numpy and pays none; the Spark-tier rows
#: lower LOCAL_MAX_EDGES to run the graph there.
_RANKING_JOBS_PER_ITER = {
    "local": {
        "hits": 0, "hits_topic": 0, "salsa": 0, "pagerank": 0, "personalized_pagerank": 0,
    },
    "broadcast": {
        "hits": 4, "hits_topic": 6, "salsa": 4, "pagerank": 4, "personalized_pagerank": 4,
    },
    "shuffle": {
        "hits": 7, "hits_topic": 9, "salsa": 7, "pagerank": 6, "personalized_pagerank": 6,
    },
}


def _jobs(spark, action) -> int:
    """Spark jobs fired while ``action()`` runs (build and action alike)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ranking_jobs_per_iteration(spark, monkeypatch, tmp_path):
    """(jobs at k=6 - jobs at k=3) / 3 on a warm graph, with every
    output collected, on all three tiers: no ranking loop pays more jobs
    per iteration than its record, and PageRank and personalized
    PageRank — one loop — pay the same.  A local-tier score vector is
    one partition, so writing it as a score file is exactly one job."""
    import random

    from bigdata_hits_spark.operators import ranking
    from bigdata_hits_spark.operators.graph import Graph
    from bigdata_hits_spark.sinks import write_scores_text

    rng = random.Random(7)
    ids = [f"v{i}" for i in range(300)]
    pairs = set()
    while len(pairs) < 2000:
        pairs.add((rng.choice(ids), rng.choice(ids)))
    nodes = spark.createDataFrame(
        [(v, f"t{i % 3}") for i, v in enumerate(ids)], "id string, labels string"
    )
    edges = spark.createDataFrame(
        [(s, d, rng.random()) for s, d in sorted(pairs)], "src string, dst string, w double"
    )
    runs = {
        "hits": lambda g, k: ranking.hits(g, k),
        "hits_topic": lambda g, k: ranking.hits(g, k, teleport="topic", topic="t0"),
        "salsa": lambda g, k: ranking.salsa(g, k),
        "pagerank": lambda g, k: ranking.pagerank(g, k),
        "personalized_pagerank": lambda g, k: ranking.personalized_pagerank(g, "t0", k),
    }

    def ranked(run, g, k):
        out = run(g, k)
        for df in (out.hubs, out.auths) if isinstance(out, ranking.RankResult) else (out,):
            df.collect()

    failures = []
    for mode, ceilings in _RANKING_JOBS_PER_ITER.items():
        if mode != "local":
            monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)
        if mode == "shuffle":
            monkeypatch.setattr(ranking, "SCORE_BROADCAST_MAX_NODES", 0)
        g = Graph(nodes=nodes, edges=edges)
        try:
            per_iter = {}
            for name, run in runs.items():
                # warm: prepared edges, counts, topic state
                _jobs(spark, lambda: ranked(run, g, 1))
                k6 = _jobs(spark, lambda: ranked(run, g, 6))
                k3 = _jobs(spark, lambda: ranked(run, g, 3))
                per_iter[name] = (k6 - k3) / 3
                if per_iter[name] > ceilings[name]:
                    failures.append(f"{mode} {name}: {per_iter[name]} > {ceilings[name]}")
            if per_iter["pagerank"] != per_iter["personalized_pagerank"]:
                failures.append(f"{mode}: pagerank/ppr differ: {per_iter}")
            if mode == "local":
                hubs = ranking.hits(g, 3).hubs
                n_write = _jobs(spark, lambda: write_scores_text(hubs, str(tmp_path / "hubs")))
                if n_write != 1:
                    failures.append(f"local write_scores_text: {n_write} jobs, expected 1")
        finally:
            g.release()
    assert not failures, "\n".join(failures)


#: Jobs for one ``minhash_near_duplicates(...).count()`` on a
#: one-row-group parquet scan, built and counted, on the plain scan and
#: behind the exact-dedup semi-join ``clean_corpus`` feeds it.
_MINHASH_JOBS = {"scan": 8, "exact_dedup": 10}


def test_minhash_near_duplicates_job_count(spark, sf_dir_oracle):
    """The shingle relation is pinned once and read by the signatures
    and the verify; no scan probe or second shingle pass adds jobs."""
    from bigdata_hits_spark.operators.dedup import exact_duplicates, minhash_near_duplicates

    docs = load_table(spark, sf_dir_oracle, "documents")
    keep = exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    inputs = {"scan": docs, "exact_dedup": docs.join(keep, "doc_id", "left_semi")}
    counts = {
        name: _jobs(spark, lambda: minhash_near_duplicates(d).count())
        for name, d in inputs.items()
    }
    assert all(counts[k] <= _MINHASH_JOBS[k] for k in counts), (counts, _MINHASH_JOBS)


#: Jobs for one graph loop plus the parquet write of its result, on a
#: graph read from parquet below LOCAL_MAX_EDGES: the bounded collect
#: and the write.
_LOCAL_LOOP_JOBS = 2


def test_graph_loops_local_tier_jobs(spark, monkeypatch, tmp_path):
    """Connected components, SCC, label propagation and k-core on a
    small graph are one collect and one write; with the cap at -1 the
    same calls run the Spark loops, which cost more jobs than that."""
    import random

    from bigdata_hits_spark.operators import ranking
    from bigdata_hits_spark.operators.components import (
        connected_components,
        strongly_connected_components,
    )
    from bigdata_hits_spark.operators.graphalgs import k_core, label_propagation

    rng = random.Random(3)
    pairs = sorted({(f"v{rng.randrange(60)}", f"v{rng.randrange(60)}") for _ in range(150)})
    spark.createDataFrame(pairs, "src string, dst string").write.parquet(str(tmp_path / "e"))
    edges = spark.read.parquet(str(tmp_path / "e"))
    loops = {
        "connected_components": lambda: connected_components(edges, "src", "dst"),
        "strongly_connected_components": lambda: strongly_connected_components(edges),
        "label_propagation": lambda: label_propagation(edges, k=5),
        "k_core": lambda: k_core(edges, 3),
    }
    failures = []
    for cap in (ranking.LOCAL_MAX_EDGES, -1):
        monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", cap)
        for name, loop in loops.items():
            out = str(tmp_path / f"{name}_{cap}")
            n = _jobs(spark, lambda: loop().write.parquet(out))
            if (n > _LOCAL_LOOP_JOBS) != (cap < 0):
                failures.append(f"cap {cap} {name}: {n} jobs (local ceiling {_LOCAL_LOOP_JOBS})")
    assert not failures, "\n".join(failures)
