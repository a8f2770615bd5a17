#!/usr/bin/env python
"""Scale smoke (VERDICT r6 #6): time the flagship, the graph family,
the dedup family, and the corpus-cleaning composite at a LARGER scale
factor than the per-round bench, and record the result as
``BENCH_sf1_r{N}.json``.

The point is not another headline — it is converting the "plans you'd
want at 100x scale" design arguments into at least one 10x measurement:
does anything fall over (OOM, spill storm, quadratic blow-up) on the
step from ~600k to ~6M rows?  Two passes, min per query, with the
scan_project canary per pass for host-speed context.

Usage: SPARK_GRAFT_SF_DIR=/root/repo/.scale/sf1 python scripts/bench_scale.py \
           [--out BENCH_sf1_r07.json] [--passes 2]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_hits_spark import queries as q
from bigdata_hits_spark.session import get_spark

#: The scale-sensitive families: iterative ranking (flagship), the whole
#: graph-analytics family, every near-dup/dedup path, similarity/
#: clustering, and the end-to-end cleaning composite.
SMOKE = [
    "scan_project",
    "base_hits_k8",
    "pagerank_k3",
    "graph_triangles",
    "graph_clustering_coefficient",
    "graph_label_propagation",
    "graph_label_propagation_k6",
    "graph_connected_components",
    "graph_bfs_distance",
    "kcore",
    "graph_link_prediction",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_semantic",
    "dedup_minhash_incremental",
    "contamination_ngrams",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "kmeans_embeddings",
    "kmeans_parallel_embeddings",
    "clean_corpus_docs",
    "pack_docs_nextfit",
    "events_sessionize",
    "events_cooccurrence_hourly",
    # round-7/8 families (VERDICT r7 #4): the operators whose scale story
    # is newest — dims-sized PCA iteration (should be near-flat: only the
    # one covariance agg sees the corpus), seed-restricted PageRank,
    # modularity scoring (alone and over the LP partition), the MMR
    # rerank, and deflation-based top-2 PCA.
    "embedding_pca_top",
    "embedding_pca_project",
    "embedding_pca_top2",
    "ppr_topic_k3",
    "ppr_topic_weighted_k3",
    "community_modularity",
    "community_modularity_lp",
    "retrieval_mmr",
    # round-8 families (VERDICT r8 #2): weighted LP (2x unweighted LP's
    # per-round traffic — confirm linear), the leakage-safe split (re-runs
    # minhash + components + split end-to-end, the most expensive extra),
    # the span-dup profile, multi-touch attribution ((user, bin)-keyed
    # range join), the bootstrap's 32x row fan-out, the quantized-IVF
    # serving path, and feature propagation.
    "graph_label_propagation_weighted",
    "leakage_safe_split_docs",
    "dedup_ngram_profile",
    "events_multitouch_attribution",
    "bootstrap_order_value_ci",
    "ann_ivf_quantized_topk",
    "feature_smooth_parts",
    # round-9 families (VERDICT r9 #3): winnow fingerprints (report +
    # the fp-posting pair join — the one to watch under near-dup-scaled
    # data), the MAD outlier screen, the md5-portable epoch shuffle,
    # distinct-n diversity, and the toxicity regexp screen.
    "winnow_dup_report",
    "winnow_dedup_pairs",
    "outlier_price_report",
    "epoch_shuffle_docs",
    "diversity_distinct2_source",
    "toxicity_screen_docs",
    # round-10 (VERDICT r9 #7): triangles served from the persisted
    # degree-ordered bucketed layout — the cold-pass answer (registered
    # in main() after the layout is written; build time recorded
    # separately as triangles_layout_build_sec).
    "graph_triangles_layout",
    # round-10 families: the iterative FW-BW SCC (the scale-shape
    # question is round count vs diameter at 10x), its condensation
    # projection (memo reuse), quality-ranked survivor election
    # (components + window), the IVF-PQ serving path (codebook train +
    # encode + probe), telemetry event dedup, and the tokenizer-planning
    # aggregations.
    "graph_scc",
    "graph_condensation",
    "dedup_survivors_quality",
    "ann_ivfpq_topk",
    "events_dedup_consecutive",
    "vocab_coverage_top100",
    "bpe_pair_counts_top50",
    "graph_degree_distribution",
    "graph_reciprocity",
    # round-11 (VERDICT r10 #2): the two rows added after the r10 smoke —
    # k-truss (now on the degree-ordered orientation; the scale question
    # is per-round wedge volume staying triangle-shaped) and the
    # per-source OOV screen (token explode + broadcast top-N join).
    "graph_ktruss",
    "vocab_oov_by_source",
    # round-11 (VERDICT r10 #3): SCC served from the persisted labeling
    # (registered in main() after the build; build cost recorded as
    # scc_layout_build_sec).
    "graph_scc_layout",
    # round-12 rows: the chunk explode (zero-shuffle row fan-out — the
    # scale question is output volume only), its per-source padding
    # rollup, and the stateful streaming sessionizer (state volume and
    # the two-batch availableNow drain scale with users x events).
    "chunk_docs_tokens",
    "chunk_padding_waste",
    "streaming_sessionize",
    # round-13 (VERDICT r12 #1): clustering coefficient served from the
    # persisted triangle layout (registered in main() after the build) —
    # the in-session path's 98.6 s warm at sf1 was the largest measured
    # 10x cost left; the serving twin should read ~the layout triangle
    # cost.  Plus the new rows: the incremental crawl-dedup streaming
    # twin and the multi-merge BPE trainer.
    "graph_clustering_coefficient_layout",
    "streaming_incremental_dedup",
    "bpe_merges_k4",
    # round-13 rows: logreg training (iters full scans + scalar aggs —
    # should be flat-per-round at any sf), the landmark harmonic
    # centrality (|seeds| x nodes frontier state), and IVF served from
    # the persisted bucketed postings (registered in main(); build cost
    # recorded as ivf_layout_build_sec).
    "logreg_train_langid",
    "graph_harmonic_sampled",
    "ann_ivf_layout",
    # first ORACLE-backed streaming row (append-mode pair emissions make
    # the sink rollup deterministic): per-user state volume and the
    # two-batch drain are the scale question.
    "streaming_transition_matrix",
]


def merge_smoke_records(records: list[dict]) -> dict:
    """Merge >=2 same-round scale-smoke session records into one
    committed artifact: per-query MIN across sessions (VERDICT r12 #7 —
    the wedge family swings ~1.6-2x session-to-session at 10x, so a
    single-session smoke row is weak evidence for round-over-round scale
    claims; the cross-session min removes the session smear the same way
    bench.py --merge does for the local bench).  ``queries_cold`` merges
    by min across each session's own pass-0 (every contributing number
    is still a genuinely cold first derivation), per-session canaries
    and per_pass lists are retained, and build costs keep each session's
    reading as a list."""
    if not records:
        raise ValueError("merge_smoke_records needs at least one record")

    def _min_map(key: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in records:
            for name, t in r.get(key, {}).items():
                if not isinstance(t, (int, float)):
                    continue
                prev = out.get(name)
                out[name] = t if prev is None or prev < 0 else (
                    min(prev, t) if t >= 0 else prev
                )
        return out

    timings = _min_map("queries")
    per_pass: dict[str, list] = {}
    for r in records:
        for name, ts in r.get("per_pass", {}).items():
            per_pass.setdefault(name, []).append(ts)
    return {
        "metric": "scale_smoke_query_sec",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": _min_map("queries_cold"),
        "queries_warm": _min_map("queries_warm"),
        "per_pass": per_pass,
        "canary_sec": [r.get("canary_sec", []) for r in records],
        "sessions": len(records),
        "session_totals": [r.get("value") for r in records],
        "triangles_layout_build_sec": [
            r.get("triangles_layout_build_sec") for r in records
        ],
        "scc_layout_build_sec": [r.get("scc_layout_build_sec") for r in records],
        "ivf_layout_build_sec": [r.get("ivf_layout_build_sec") for r in records],
        "ann_build_sec": [r.get("ann_build_sec") for r in records],
        "sf_dir": records[0].get("sf_dir"),
        "n_failed": max(r.get("n_failed", 0) for r in records),
    }


def _merge_main(argv: list[str]) -> None:
    out = "BENCH_sf1_merged.json"
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    paths = [a for a in argv if not a.startswith("--")]
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    rec = merge_smoke_records(records)
    rec["merged_from"] = [os.path.basename(p) for p in paths]
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps({k: rec[k] for k in ("metric", "value", "sessions", "session_totals", "n_failed")}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scale/sf1")
    # Default out-file derives the in-progress round from the driver's
    # BENCH_r{N}.json records (VERDICT r8 #2: the name was hardcoded per
    # round and went stale the moment a round closed).
    import bench as _bench

    _round = _bench._current_round(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out = f"BENCH_sf1_r{_round:02d}.json"
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
    passes = 2
    if "--passes" in sys.argv:
        passes = int(sys.argv[sys.argv.index("--passes") + 1])
    spark = get_spark("bigdata-hits-spark-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    from bigdata_hits_spark.operators.ranking import hits
    from bigdata_hits_spark.sources.derived import g_ps

    registry = {
        "base_hits_k8": lambda s, d: q.rank_union(hits(g_ps(s, d), k=8)),
        **registry,
    }

    # Write the persisted degree-ordered triangle layout ONCE (the
    # nightly-ingestion cost), then serve graph_triangles_layout from it
    # in both passes — pass 0 is the COLD measurement VERDICT r9 #7 asks
    # for (target: within ~1.5x the warm in-session triangles number).
    from bigdata_hits_spark.operators.graphalgs import (
        persist_triangle_layout,
        triangle_counts_from_layout,
    )
    from bigdata_hits_spark.sources.derived import g_pp

    t0 = time.time()
    persist_triangle_layout(g_pp(spark, sf_dir).edges, "t_scale_tri", buckets=32)
    layout_build = round(time.time() - t0, 3)
    print(f"triangles layout build: {layout_build}", file=sys.stderr)
    registry["graph_triangles_layout"] = lambda s, d: triangle_counts_from_layout(
        s, "t_scale_tri"
    )
    # Clustering coefficient served from the SAME layout (VERDICT r12
    # #1): no extra build cost — the serving twin reuses t_scale_tri.
    from bigdata_hits_spark.operators.graphalgs import (
        clustering_coefficient_from_layout,
    )

    registry["graph_clustering_coefficient_layout"] = (
        lambda s, d: clustering_coefficient_from_layout(s, "t_scale_tri")
    )

    # Same nightly-build-then-serve split for the SCC labeling (VERDICT
    # r10 #3): build once on the graph_scc row's exact subgraph, serve
    # graph_scc_layout from the table in both passes — pass 0 is the
    # cold measurement (target: ~table-scan cost vs the 80 s in-session
    # fixpoints).
    from bigdata_hits_spark.operators.components import persist_scc_labels
    from bigdata_hits_spark.queries_graph import SCC_MAX_WEIGHT
    from pyspark.sql import functions as F

    scc_edges = (
        g_pp(spark, sf_dir)
        .edges.filter(F.col("weight") <= SCC_MAX_WEIGHT)
        .select("src", "dst")
    )
    scc_layout_build = persist_scc_labels(scc_edges, "t_scale_scc")
    print(f"scc layout build: {scc_layout_build}", file=sys.stderr)
    registry["graph_scc_layout"] = lambda s, d: s.table("t_scale_scc")

    # ANN index COLD-build costs at 10x (VERDICT r10 #5): the serving
    # rows below reuse session-cached indexes, so the builds are timed
    # here once, explicitly — the 100x index-build story as a number.
    from bigdata_hits_spark.operators.similarity import (
        IVF_CENTROIDS,
        ivf_centroids_cached,
        ivfq_index_cached,
        pq_codebooks_cached,
        pq_index_cached,
    )
    from bigdata_hits_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    cents = ivf_centroids_cached(emb, IVF_CENTROIDS)
    ivf_centroid_build = round(time.time() - t0, 3)
    t0 = time.time()
    ivfq_index_cached(emb, cents, IVF_CENTROIDS, "vec_id", "embedding").count()
    ivfq_build = round(time.time() - t0, 3)
    t0 = time.time()
    books = pq_codebooks_cached(emb)
    pq_index_cached(emb, books, cents, IVF_CENTROIDS, "vec_id", "embedding").count()
    ivfpq_build = round(time.time() - t0, 3)
    print(
        f"ann builds: centroids {ivf_centroid_build}, ivfq {ivfq_build}, "
        f"ivfpq {ivfpq_build}",
        file=sys.stderr,
    )

    # IVF persisted-index build/serve split (round 13): pay quantizer +
    # assignment once here, serve ann_ivf_layout from the bucketed
    # postings in both passes — pass 0 is the cold serve measurement.
    from bigdata_hits_spark.operators.similarity import (
        ivf_topk_from_index,
        persist_ivf_index,
    )
    from bigdata_hits_spark.queries_similarity import N_QUERIES, TOP_K

    t0 = time.time()
    persist_ivf_index(emb, "t_scale_ivf")
    ivf_layout_build = round(time.time() - t0, 3)
    print(f"ivf layout build: {ivf_layout_build}", file=sys.stderr)

    def _ann_ivf_layout(s, d):
        qs = load_table(s, d, "embeddings").filter(F.col("vec_id") < N_QUERIES)
        return ivf_topk_from_index(s, "t_scale_ivf", qs, k=TOP_K)

    registry["ann_ivf_layout"] = _ann_ivf_layout

    def canary() -> float:
        ts = []
        for _ in range(3):
            t0 = time.time()
            registry["scan_project"](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.time() - t0)
        return round(sorted(ts)[1], 3)

    timings: dict[str, float] = {}
    per_pass: dict[str, list[float]] = {}
    canaries: list[float] = []
    n_run = 0
    for p in range(passes):
        canaries.append(canary())
        print(f"scale canary {p}: {canaries[-1]}", file=sys.stderr)
        for name in SMOKE:
            gc.collect()
            # Same dead-block discipline as bench.py: completed queries
            # leave lazily-checkpointed RDDs whose Python refs are
            # garbage, but Spark only unpersists them after a JVM GC —
            # at 35 queries/pass the accumulated storage evicts the
            # memoized graph relations and pass-2 graph queries re-derive
            # them inside their timed windows (measured: triangles 92 s
            # in-smoke vs 57 s warm isolated before this cadence).
            n_run += 1
            if n_run % 10 == 0:
                try:
                    spark._jvm.System.gc()
                except Exception:
                    pass
            t0 = time.time()
            try:
                registry[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 3)
            except Exception as e:
                print(f"scale smoke FAILED {name}: {e}", file=sys.stderr)
                dt = -1.0
            print(f"scale pass {p} {name}: {dt}", file=sys.stderr)
            per_pass.setdefault(name, []).append(dt)
            prev = timings.get(name)
            timings[name] = dt if prev is None or prev < 0 else (
                min(prev, dt) if dt >= 0 else prev
            )
    # Labeled cold/warm split (VERDICT r12 #8): pass 0 of a fresh session
    # is the COLD number (first derivation — for memo-served rows like
    # graph_scc this is the algorithm's cost); later passes are warm
    # serves.  First-class fields so no consumer has to reverse-engineer
    # per_pass to avoid quoting a memo read as the algorithm cost.
    queries_cold = {n: ts[0] for n, ts in per_pass.items() if ts}
    queries_warm = {
        n: min((t for t in ts[1:] if t >= 0), default=-1.0)
        for n, ts in per_pass.items()
    }
    rec = {
        "metric": "scale_smoke_query_sec",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": queries_cold,
        "queries_warm": queries_warm,
        "per_pass": per_pass,
        "triangles_layout_build_sec": layout_build,
        "scc_layout_build_sec": scc_layout_build,
        "ivf_layout_build_sec": ivf_layout_build,
        "ann_build_sec": {
            "ivf_centroids": ivf_centroid_build,
            "ivfq_index": ivfq_build,
            "ivfpq_codebooks_plus_index": ivfpq_build,
        },
        "canary_sec": canaries,
        "sf_dir": sf_dir,
        "n_failed": sum(1 for t in timings.values() if t < 0),
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out
    )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    if "--merge" in sys.argv:
        _merge_main(sys.argv[sys.argv.index("--merge") + 1 :])
    else:
        main()
