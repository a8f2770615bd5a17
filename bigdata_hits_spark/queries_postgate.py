"""Post-gate declared queries: operator families added after the 50-slot
gate prefix froze (round 3 onward) — k-core, per-group caps, int8
quantization, incremental MinHash dedup, and the round-4/5/6 families
(curation, ranks, range joins, profiling, events, CDC, retrieval fusion,
clustering, robust stats, validation, splits, grouping sets).

Like queries_graph.py, this module loads LAST in queries._load_extensions,
so its oracle-backed entries land AFTER the 50-slot gate prefix — the
local harness (scripts/check_oracle.py) and the driver still verify them
with the full row/schema/value discipline, without displacing a gate slot.

Oracle formulations follow the repo's portability discipline: k-core is
the peeling loop unrolled as CTE rounds past its measured fixpoint depth
(extra rounds are no-ops, so the unroll only needs an upper bound);
quantization arithmetic is associated IDENTICALLY on both sides; MinHash
estimates reuse the md5-derived hash chain of queries_dedup.py, and the
match fraction is an exact multiple of 1/16 (bit-identical doubles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_hits_spark.operators import dedup as DD
from bigdata_hits_spark.operators.graphalgs import k_core
from bigdata_hits_spark.operators.sampling import cap_per_group
from bigdata_hits_spark.operators.similarity import quantize_embeddings
from bigdata_hits_spark.oracles import duck_hex_to_long
from bigdata_hits_spark.queries import register
from bigdata_hits_spark.queries_graph import _SYM_CTE, _sym
from bigdata_hits_spark.sources import derived
from bigdata_hits_spark.sources.readers import load_table

#: k chosen so the sf0.01 part->part graph peels NON-trivially (9 rounds
#: measured) to a non-empty core (1906 of 2000 nodes) — a fixpoint the
#: oracle can only match by reproducing the simultaneous-peel semantics.
KCORE_K = 41
#: CTE unroll depth: measured fixpoint depth 9 + margin (rounds past the
#: fixpoint drop nothing, so over-unrolling cannot change the answer).
KCORE_UNROLL = 12

CAP_PER_SOURCE = 10


def _kcore_sql(k: int = KCORE_K, unroll: int = KCORE_UNROLL) -> str:
    # AS MATERIALIZED: each round references its predecessor 3× (degree
    # CTE once, edge filter twice); inlined, the scan tree grows 3^unroll
    # and DuckDB runs out of file handles re-opening the parquet.
    ctes = [
        f"e0 AS MATERIALIZED ({derived.G_PP_EDGES_SQL})",
        _SYM_CTE.replace("sym AS (", "sym AS MATERIALIZED (", 1),
    ]
    prev = "sym"
    for i in range(1, unroll + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT a AS id, COUNT(*) AS deg FROM {prev} GROUP BY a)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT s.a, s.b FROM {prev} s "
            f"JOIN d{i} da ON da.id = s.a AND da.deg >= {k} "
            f"JOIN d{i} db ON db.id = s.b AND db.deg >= {k})"
        )
        prev = f"s{i}"
    return "WITH " + ", ".join(ctes) + f" SELECT DISTINCT a AS id FROM {prev}"


@register("kcore", _kcore_sql())
def q_kcore(spark, sf_dir):
    """Nodes of the k-core of the part->part graph —
    operators/graphalgs.py k_core (simultaneous peeling with the
    escalating-batch fixpoint loop); the oracle unrolls the same peel as
    degree-filter CTE rounds."""
    g = derived.g_pp(spark, sf_dir)
    return k_core(g.edges, KCORE_K, sym=_sym(g))


@register(
    "cap_per_group_docs",
    f"SELECT doc_id, source FROM ("
    f"SELECT doc_id, source, ROW_NUMBER() OVER ("
    f"PARTITION BY source ORDER BY doc_id DESC) AS rn FROM documents) "
    f"WHERE rn <= {CAP_PER_SOURCE}",
)
def q_cap_per_group(spark, sf_dir):
    """Domain balancing: at most CAP_PER_SOURCE docs per source, highest
    doc_id first — operators/sampling.py cap_per_group's salted two-phase
    plan vs the single-window top-N twin.  doc_id is unique, so the
    deterministic hash tiebreak never fires and the survivor set is
    engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", CAP_PER_SOURCE, order_col="doc_id").select(
        "doc_id", "source"
    )


_QUANT_SQL = (
    "WITH s AS (SELECT vec_id, embedding, "
    "list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) AS mx "
    "FROM embeddings), "
    "el AS (SELECT vec_id, embedding, mx, unnest(range(len(embedding))) AS i FROM s) "
    "SELECT vec_id, CAST(i AS INT) AS pos, "
    "CASE WHEN mx > 0 THEN "
    "CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) / (mx / 127.0)) AS INT) "
    "ELSE 0 END AS q, "
    "ROUND(CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END, 9) AS q_scale "
    "FROM el"
)


@register("quantize_embeddings", _QUANT_SQL)
def q_quantize_embeddings(spark, sf_dir):
    """Symmetric per-vector int8 quantization —
    operators/similarity.py quantize_embeddings, exploded to one row per
    (vector, dimension) so the driver's value-hash covers every quantized
    coordinate (array columns would hash engine-specifically).  The
    division is associated identically on both sides: x / (max|x| / 127)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round(F.col("q_scale"), 9).alias("q_scale"),
        F.posexplode("q_embedding").alias("pos", "qv"),
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("qv").cast("int").alias("q"),
        "q_scale",
    )


def _incremental_est_sql() -> str:
    from bigdata_hits_spark.queries_dedup import _SHINGLE_CTES

    values = ", ".join(f"({j}, {a}, {b})" for j, a, b in DD.MINHASH_PARAMS)
    x = duck_hex_to_long("md5(shingle)", 8)
    return (
        f"WITH {_SHINGLE_CTES}, "
        f"tok AS (SELECT id, {x} % {DD.MINHASH_P} AS x FROM sh), "
        f"params(j, a, b) AS (VALUES {values}), "
        f"mh AS (SELECT id, j, MIN((a * x + b) % {DD.MINHASH_P}) AS v "
        "FROM tok CROSS JOIN params GROUP BY id, j), "
        f"bands AS (SELECT id, j // {DD.ROWS_PER_BAND} AS band_id, "
        "string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS sig "
        f"FROM mh GROUP BY id, j // {DD.ROWS_PER_BAND}), "
        "cand AS (SELECT DISTINCT b1.id AS id1, b2.id AS id2 FROM bands b1 "
        "JOIN bands b2 ON b1.band_id = b2.band_id AND b1.sig = b2.sig "
        "WHERE b1.id % 2 = 1 AND b2.id % 2 = 0), "
        "est AS (SELECT c.id1, c.id2, "
        f"CAST(SUM(CASE WHEN m1.v = m2.v THEN 1 ELSE 0 END) AS DOUBLE) / {DD.NUM_HASHES} "
        "AS est_jaccard FROM cand c "
        "JOIN mh m1 ON m1.id = c.id1 JOIN mh m2 ON m2.id = c.id2 AND m2.j = m1.j "
        "GROUP BY c.id1, c.id2) "
        "SELECT id1, id2, est_jaccard FROM est"
    )


@register("dedup_minhash_incremental", _incremental_est_sql())
def q_dedup_minhash_incremental(spark, sf_dir):
    """Stage 2 of operators/dedup.py minhash_dedup_incremental: the new
    batch (odd doc_ids) banded against a signature-only historical corpus
    (even doc_ids), candidate pairs scored by the MinHash match-fraction
    estimate (signature_jaccard_estimate) — the path where yesterday's
    100 TB is never re-read.  Per-doc signatures are independent, so the
    oracle computes them over the full table and splits by parity."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new_sigs = DD.minhash_signatures(new)
    old_sigs = DD.minhash_signatures(old)
    nb = DD.band_rows(new_sigs).select(F.col("id").alias("id1"), "band_id", "sig")
    ob = DD.band_rows(old_sigs).select(F.col("id").alias("id2"), "band_id", "sig")
    cand = nb.join(ob, ["band_id", "sig"]).select("id1", "id2").distinct()
    return DD.signature_jaccard_estimate(cand, new_sigs, old_sigs)


CHUNK_MAX = 32
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_MAX - CHUNK_OVERLAP

_CHUNK_SQL = (
    "WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents), "
    "c AS (SELECT doc_id, toks, "
    f"GREATEST(1, (len(toks) - {CHUNK_OVERLAP} + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE}) "
    "AS n_chunks FROM t), "
    "e AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx FROM c) "
    "SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, "
    f"array_to_string(toks[chunk_idx * {_CHUNK_STRIDE} + 1 : "
    f"chunk_idx * {_CHUNK_STRIDE} + {CHUNK_MAX}], ' ') AS chunk_text, "
    f"len(toks[chunk_idx * {_CHUNK_STRIDE} + 1 : "
    f"chunk_idx * {_CHUNK_STRIDE} + {CHUNK_MAX}]) AS n_tokens "
    "FROM e"
)


@register("chunk_documents", _CHUNK_SQL)
def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (operators/sampling.py
    chunk_documents): windows of CHUNK_MAX whitespace tokens, CHUNK_OVERLAP
    shared between consecutive windows — the long-document preparation
    step before packing.  Pure Column expressions vs DuckDB's 1-based
    inclusive list slicing (Spark's slice(start, length) covers the same
    positions)."""
    from bigdata_hits_spark.operators.sampling import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, CHUNK_MAX, CHUNK_OVERLAP)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


#: Mixture rates for the declared query: downsample src0, keep src1,
#: upsample src2 2.5x (epochs!), drop every other source.
MIX_RATES = {"src0": 0.25, "src1": 1.0, "src2": 2.5}


def _mixture_sql() -> str:
    u = duck_hex_to_long("md5('mix' || '|' || CAST(doc_id AS VARCHAR))", 8)
    case = " ".join(
        f"WHEN source = '{g}' THEN {float(r)}" for g, r in MIX_RATES.items()
    )
    return (
        f"WITH r AS (SELECT doc_id, source, {u} / 4294967296.0 AS u, "
        f"CASE {case} ELSE 0.0 END AS rate FROM documents), "
        "c AS (SELECT doc_id, source, "
        "CAST(FLOOR(rate) + CASE WHEN u < rate - FLOOR(rate) THEN 1 ELSE 0 END AS INT) "
        "AS n_copies FROM r) "
        "SELECT doc_id, source, CAST(unnest(range(n_copies)) AS INT) AS epoch "
        "FROM c WHERE n_copies > 0"
    )


@register("mixture_sample", _mixture_sql())
def q_mixture_sample(spark, sf_dir):
    """Deterministic training-mixture composition
    (operators/sampling.py mixture_sample): per-source rates downsample
    (hash-fraction keep), upsample (floor(rate) copies + one more for a
    hash-fraction of rows, 0-based epoch index), or drop.  The md5-derived
    uniform makes the exact row multiset engine-portable."""
    from bigdata_hits_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_sample(docs, "source", MIX_RATES, key_col="doc_id")
    return out.select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


def _profile_sql() -> str:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    parts = []
    for c in cols:
        parts.append(
            "SELECT "
            f"'{c}' AS \"column\", COUNT(*) AS n_rows, "
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct, "
            f"CAST(MIN({c}) AS VARCHAR) AS min_value, "
            f"CAST(MAX({c}) AS VARCHAR) AS max_value FROM orders"
        )
    return " UNION ALL ".join(parts)


@register("profile_orders", _profile_sql())
def q_profile_orders(spark, sf_dir):
    """One-pass table profile (operators/profiling.py profile_table,
    exact_distinct=True for the gate): per-column rows/nulls/distincts
    and stringified extrema over a 5-column orders projection.  The
    approx (HLL++) mode is the scale default; exactness here is what
    makes the numbers engine-portable."""
    from bigdata_hits_spark.operators.profiling import profile_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    return profile_table(orders, exact_distinct=True)


from bigdata_hits_spark.operators import events as EV
from bigdata_hits_spark.queries_events import _events_us


_SLIDE_S = EV.SLIDE_NS // 1_000_000_000


@register(
    "events_sliding_agg",
    "WITH e AS (SELECT event_type, value, "
    f"epoch_ns(ts) // {EV.SLIDE_NS} AS slot FROM events), "
    f"x AS (SELECT event_type, value, (slot - i) * {_SLIDE_S} AS window_start_s "
    f"FROM e CROSS JOIN (SELECT unnest(range({EV.HOUR_NS // EV.SLIDE_NS})) AS i)) "
    "SELECT window_start_s, event_type, COUNT(*) AS n, "
    "ROUND(CAST(SUM(value) AS DOUBLE), 6) AS total_value "
    "FROM x GROUP BY 1, 2",
)
def q_events_sliding(spark, sf_dir):
    """Overlapping sliding windows (1h window, 15min slide) —
    operators/events.py sliding_event_counts; membership via bounded
    sequence explode on both engines (no self/range join)."""
    return EV.sliding_event_counts(_events_us(spark, sf_dir))


_UNIGRAM_SQL = (
    "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents), "
    "counts AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w), "
    "tot AS (SELECT SUM(c) AS total, COUNT(*) AS vocab FROM counts), "
    "probs AS (SELECT w, LN((c + 1.0) / (total + 1.0 * vocab)) AS lp "
    "FROM counts CROSS JOIN tot) "
    "SELECT t.doc_id, COUNT(*) AS n_tokens, "
    "ROUND(AVG(lp), 6) AS avg_logprob "
    "FROM toks t JOIN probs USING (w) GROUP BY t.doc_id"
)


@register("text_unigram_logprob", _UNIGRAM_SQL)
def q_unigram_logprob(spark, sf_dir):
    """Self-trained unigram LM quality score
    (operators/textstats.py unigram_logprob): mean add-1-smoothed log
    probability of each document's tokens under the corpus's own
    unigram distribution — the dependency-free perplexity gate."""
    from bigdata_hits_spark.operators.textstats import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


BOILERPLATE_MIN_DF = 2

_BOILER_SQL = (
    "WITH t AS (SELECT doc_id, str_split(text, chr(10)) AS l FROM documents), "
    "e AS (SELECT doc_id, unnest(range(len(l))) AS pos, l FROM t), "
    "lines AS (SELECT doc_id, CAST(pos AS INT) AS pos, l[pos + 1] AS line FROM e), "
    "h AS (SELECT doc_id, pos, line, md5(line) AS hh FROM lines), "
    "dfc AS (SELECT hh, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY hh), "
    f"fl AS (SELECT doc_id, pos, line, (df >= {BOILERPLATE_MIN_DF}) AS com "
    "FROM h JOIN dfc USING (hh)) "
    "SELECT doc_id, "
    "COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT com), '') "
    "AS clean_text, "
    "SUM(CASE WHEN com THEN 0 ELSE 1 END) AS n_lines_kept, "
    "SUM(CASE WHEN com THEN 1 ELSE 0 END) AS n_lines_dropped "
    "FROM fl GROUP BY doc_id"
)


@register("strip_boilerplate", _BOILER_SQL)
def q_strip_boilerplate(spark, sf_dir):
    """Line-level boilerplate removal (operators/dedup.py
    strip_boilerplate, min_df=2): lines repeating across >= 2 documents
    drop, documents rebuild from surviving lines in original order.
    On the single-line driver corpus this degenerates to emptying
    exact-duplicate texts — which is exactly what the oracle must also
    conclude."""
    from bigdata_hits_spark.operators.dedup import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    out = strip_boilerplate(docs, min_df=BOILERPLATE_MIN_DF)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("long").alias("n_lines_dropped"),
    )


SPAN_N = 5
SPAN_MIN_COUNT = 2

_SPAN_SQL = (
    "WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents), "
    "tt AS (SELECT doc_id, tk, len(tk) AS n_tokens FROM t), "
    f"w AS (SELECT doc_id, unnest(range(n_tokens - {SPAN_N} + 1)) AS pos, tk "
    f"FROM tt WHERE n_tokens >= {SPAN_N}), "
    f"keys AS (SELECT doc_id, pos, md5(array_to_string(tk[pos + 1 : pos + {SPAN_N}], ' ')) AS h FROM w), "
    f"freq AS (SELECT h FROM keys GROUP BY h HAVING COUNT(*) >= {SPAN_MIN_COUNT}), "
    "fl AS (SELECT doc_id, pos FROM keys WHERE h IN (SELECT h FROM freq)), "
    f"cov AS (SELECT doc_id, COUNT(DISTINCT p) AS covered_tokens FROM "
    f"(SELECT doc_id, unnest(range(pos, pos + {SPAN_N})) AS p FROM fl) GROUP BY doc_id) "
    "SELECT tt.doc_id, tt.n_tokens, COALESCE(cov.covered_tokens, 0) AS covered_tokens, "
    "ROUND(COALESCE(cov.covered_tokens, 0) / CAST(tt.n_tokens AS DOUBLE), 7) AS coverage_frac "
    "FROM tt LEFT JOIN cov ON tt.doc_id = cov.doc_id"
)


@register("repeated_span_coverage", _SPAN_SQL)
def q_repeated_span_coverage(spark, sf_dir):
    """Repeated-substring coverage (operators/dedup.py
    repeated_ngram_coverage, n=5): per document, the token fraction
    inside >= twice-occurring 5-token windows — the Lee et al. 2022
    signal that document-level dedup cannot see."""
    from bigdata_hits_spark.operators.dedup import repeated_ngram_coverage

    docs = load_table(spark, sf_dir, "documents")
    out = repeated_ngram_coverage(docs, n=SPAN_N, min_count=SPAN_MIN_COUNT)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("covered_tokens").cast("long").alias("covered_tokens"),
        "coverage_frac",
    )


_REMOVE_SQL = (
    "WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents), "
    "tt AS (SELECT doc_id, tk, len(tk) AS n_tokens FROM t), "
    f"w AS (SELECT doc_id, unnest(range(n_tokens - {SPAN_N} + 1)) AS pos, tk "
    f"FROM tt WHERE n_tokens >= {SPAN_N}), "
    f"keys AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, "
    f"md5(array_to_string(tk[pos + 1 : pos + {SPAN_N}], ' ')) AS h FROM w), "
    "rk AS (SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS c, "
    "ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM keys), "
    f"losers AS (SELECT doc_id, pos FROM rk WHERE c >= {SPAN_MIN_COUNT} AND rn > 1), "
    f"dropped AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + {SPAN_N})) AS p FROM losers), "
    "ex AS (SELECT doc_id, unnest(range(len(tk))) AS p, tk FROM tt), "
    "tokpos AS (SELECT doc_id, CAST(p AS BIGINT) AS p, tk[p + 1] AS tok FROM ex), "
    "kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp "
    "LEFT JOIN dropped d ON d.doc_id = tp.doc_id AND d.p = tp.p WHERE d.p IS NULL), "
    "reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text, "
    "COUNT(*) AS kept_tokens FROM kept GROUP BY doc_id) "
    "SELECT tt.doc_id, COALESCE(reb.clean_text, '') AS clean_text, tt.n_tokens, "
    "tt.n_tokens - COALESCE(reb.kept_tokens, 0) AS removed_tokens "
    "FROM tt LEFT JOIN reb ON tt.doc_id = reb.doc_id"
)


@register("remove_repeated_spans", _REMOVE_SQL)
def q_remove_repeated_spans(spark, sf_dir):
    """Keep-first repeated-span excision (operators/dedup.py
    remove_repeated_spans, n=5): the globally first occurrence of each
    repeated 5-token window survives, every other occurrence's tokens
    are removed and documents rebuild from the remainder."""
    from bigdata_hits_spark.operators.dedup import remove_repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    out = remove_repeated_spans(docs, n=SPAN_N, min_count=SPAN_MIN_COUNT)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("removed_tokens").cast("long").alias("removed_tokens"),
    )


_ROLLUP_SQL = (
    "SELECT o_orderstatus, o_orderpriority, "
    "GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid, "
    "COUNT(*) AS n, ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 4) AS revenue "
    "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
)


@register("rollup_orders_revenue", _ROLLUP_SQL)
def q_rollup_orders(spark, sf_dir):
    """Hierarchical ROLLUP aggregate (status -> priority -> grand total)
    with an explicit grouping id — the OLAP grouping-sets primitive,
    executed as Spark's native Expand + single hash-agg (one pass over
    the data for all three levels)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")
    )


PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pivot_sql() -> str:
    cols = ", ".join(
        f"COALESCE(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END), 0) "
        f"AS \"p{i + 1}\""
        for i, p in enumerate(PIVOT_PRIORITIES)
    )
    return f"SELECT o_orderstatus, {cols} FROM orders GROUP BY o_orderstatus"


@register("pivot_orders_priority", _pivot_sql())
def q_pivot_orders(spark, sf_dir):
    """Pivot: order counts by status with one column per priority — the
    wide-format OLAP primitive.  The value set is DECLARED (not
    discovered), so Spark skips the extra distinct-values job and the
    plan is a single hash-agg; the oracle is plain conditional
    aggregation over the same fixed columns."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .count()
    )
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"p{i + 1}")
            for i, p in enumerate(PIVOT_PRIORITIES)
        ],
    )


UNPIVOT_METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _unpivot_sql() -> str:
    arms = " UNION ALL ".join(
        f"SELECT l_returnflag, '{m}' AS metric, "
        f"ROUND(CAST(SUM({m}) AS DOUBLE), 4) AS total FROM lineitem GROUP BY l_returnflag"
        for m in UNPIVOT_METRICS
    )
    return arms


@register("unpivot_lineitem_metrics", _unpivot_sql())
def q_unpivot_lineitem(spark, sf_dir):
    """Unpivot (melt): the four lineitem measures rotated long into
    (returnflag, metric, total) rows — the inverse reshape of
    pivot_orders_priority, via Spark's native unpivot (one Expand, no
    join).  Aggregation first, melt second: the Expand multiplies only
    the flag-count-sized aggregate, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        *[F.round(F.sum(m), 4).alias(m) for m in UNPIVOT_METRICS]
    )
    return agg.unpivot(
        ["l_returnflag"], UNPIVOT_METRICS, "metric", "total"
    )


ASOF_TOL_NS = EV.HOUR_NS  # matches older than 1h (event time) null out

_ASOF_TOL_SQL = (
    "WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type, value FROM events), "
    "u AS ("
    "SELECT user_id, ts_ns, 1 AS side, NULL::BIGINT AS tb, event_id, "
    "NULL::BIGINT AS p_id, NULL::DOUBLE AS p_value, NULL::BIGINT AS p_ts FROM e "
    "WHERE event_type = 'click' "
    "UNION ALL "
    "SELECT user_id, ts_ns, 0, event_id, NULL, event_id, value, ts_ns FROM e "
    "WHERE event_type = 'purchase'), "
    "f AS (SELECT user_id, ts_ns, side, event_id, "
    "LAST_VALUE(p_id IGNORE NULLS) OVER w AS purchase_id, "
    "LAST_VALUE(p_value IGNORE NULLS) OVER w AS purchase_value, "
    "LAST_VALUE(p_ts IGNORE NULLS) OVER w AS purchase_ts "
    "FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, side, tb "
    "ROWS UNBOUNDED PRECEDING)) "
    "SELECT event_id AS click_id, user_id, ts_ns // 1000 AS ts_us, "
    f"CASE WHEN ts_ns - purchase_ts <= {ASOF_TOL_NS} THEN purchase_id END AS purchase_id, "
    f"CASE WHEN ts_ns - purchase_ts <= {ASOF_TOL_NS} THEN purchase_value END AS purchase_value "
    "FROM f WHERE side = 1"
)


@register("events_asof_tolerance", _ASOF_TOL_SQL)
def q_events_asof_tolerance(spark, sf_dir):
    """Tolerance-bounded as-of attribution (operators/asof.py asof_join
    with tolerance=1h): matches staler than the window null out — pandas
    merge_asof tolerance semantics on the same union + single-window
    plan (no range join)."""
    from bigdata_hits_spark.operators.asof import asof_join
    from bigdata_hits_spark.queries_events import _events_us

    ev = _events_us(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts_ns")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_ns", "event_id", "value"
    )
    joined = asof_join(
        clicks,
        purchases,
        on="ts_ns",
        by="user_id",
        value_cols=["event_id", "value"],
        tiebreak="event_id",
        tolerance=ASOF_TOL_NS,
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.col("event_id_r").alias("purchase_id"),
        F.col("value_r").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Round-4 (late): distributed exact NTILE quality gate, CUBE grouping sets,
# frame-based moving average
# ---------------------------------------------------------------------------

NTILE_N = 4


def _ntile_sql() -> str:
    from bigdata_hits_spark.queries_text import QUALITY_SQL_EXPR

    return (
        "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), "
        f"q AS (SELECT doc_id, {QUALITY_SQL_EXPR} AS quality FROM t) "
        f"SELECT doc_id, quality, NTILE({NTILE_N}) OVER "
        "(ORDER BY quality DESC NULLS LAST, doc_id) AS tile FROM q"
    )


@register("quality_ntile_gate", _ntile_sql())
def q_quality_ntile_gate(spark, sf_dir):
    """Exact NTILE(4) quality bucketing of the corpus — the "keep the
    top quartile by quality" curation gate, computed DISTRIBUTIVELY
    (operators/ranks.py ntile_exact: range-partition on the sort order,
    bucket-count prefix offsets, per-bucket local windows) instead of
    the single-task unpartitioned window the oracle's NTILE plans.
    Total order pinned by the (quality DESC NULLS LAST, doc_id) tiebreak
    on BOTH sides, so tile boundaries are engine-independent."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.ranks import ntile_exact

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", TX.round_portable(TX.quality_score(F.col("text"))).alias("quality")
    )
    out = ntile_exact(
        scored, NTILE_N, [F.desc_nulls_last("quality"), F.asc("doc_id")], tile_col="tile"
    )
    return out.select("doc_id", "quality", "tile")


_CUBE_SQL = (
    "SELECT o_orderstatus, o_orderpriority, "
    "GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid, "
    "COUNT(*) AS n, ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 4) AS revenue "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
)


@register("cube_orders_revenue", _CUBE_SQL)
def q_cube_orders(spark, sf_dir):
    """CUBE over (status, priority) — all four grouping sets (both,
    status-only, priority-only, grand total) in ONE Expand + single
    hash-agg pass, completing the grouping-sets trio next to
    rollup_orders_revenue.  The Expand multiplies rows by the number of
    grouping sets BEFORE the partial aggregate, so at scale the partial
    agg (map-side combine on low-cardinality keys) absorbs the 4x
    blow-up before any exchange."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")
    )


MAVG_DAYS = 7

_MAVG_SQL = (
    "WITH d AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day, "
    "ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 4) AS revenue "
    "FROM orders GROUP BY 1) "
    "SELECT day, revenue, "
    f"ROUND(AVG(revenue) OVER (ORDER BY day ROWS BETWEEN {MAVG_DAYS - 1} PRECEDING "
    "AND CURRENT ROW), 4) AS mavg "
    "FROM d"
)


@register("orders_moving_avg", _MAVG_SQL)
def q_orders_moving_avg(spark, sf_dir):
    """Trailing 7-day moving average of daily revenue — the window-FRAME
    primitive (ROWS BETWEEN), complementing the rank/tile windows.  The
    frame runs over the DAY-GRAIN aggregate (bounded by calendar days —
    thousands of rows at any corpus scale), never the fact table, so the
    unpartitioned window is aggregate-sized by construction; the heavy
    lifting is the ordinary day groupBy with map-side partials."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    daily = orders.groupBy(
        F.to_date("o_orderdate").cast("string").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = Window.orderBy("day").rowsBetween(-(MAVG_DAYS - 1), Window.currentRow)
    return daily.select(
        "day", "revenue", F.round(F.avg("revenue").over(w), 4).alias("mavg")
    )


BAND_W = 4000  # half-width of each customer's typical-price band, exact integer

_RANGE_JOIN_SQL = (
    "WITH b AS (SELECT o_custkey, "
    f"ROUND(AVG(o_totalprice)) - {BAND_W} AS lo, "
    f"ROUND(AVG(o_totalprice)) + {BAND_W} AS hi "
    "FROM orders GROUP BY o_custkey) "
    "SELECT o.o_orderkey, COUNT(*) AS n_bands FROM orders o "
    "JOIN b ON o.o_totalprice BETWEEN b.lo AND b.hi "
    "GROUP BY o.o_orderkey"
)


@register("range_join_price_bands", _RANGE_JOIN_SQL)
def q_range_join_price_bands(spark, sf_dir):
    """Non-equi interval-containment join with NO shared key: for each
    order, how many customers' typical-price bands (rounded mean +- 4000
    — integer bounds, so BETWEEN decisions cannot flip on cross-engine
    float association) contain its price.  The oracle writes the naive
    BETWEEN theta-join; the engine runs operators/rangejoin.py
    range_join_bins — intervals exploded onto a price grid, probe rows
    hashed to their one grid bin, equi-join + exact filter — which is
    O(candidates) instead of the CartesianProduct/BNLJ Catalyst would
    otherwise plan.  Bin width = the band half-width, so each interval
    replicates to exactly 3 bins."""
    from bigdata_hits_spark.operators.rangejoin import range_join_bins

    orders = load_table(spark, sf_dir, "orders")
    avg_p = F.round(F.avg("o_totalprice"))
    bands = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (avg_p - BAND_W).alias("lo"), (avg_p + BAND_W).alias("hi")
    )
    probe = orders.select("o_orderkey", "o_totalprice")
    joined = range_join_bins(probe, bands, "o_totalprice", "lo", "hi", float(BAND_W))
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_bands"))


LEV_MAX_DIST = 2

_LEV_SQL = (
    "WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL) "
    "SELECT a.p_name AS name_a, b.p_name AS name_b, "
    "CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist "
    "FROM n a JOIN n b ON a.p_name < b.p_name "
    f"WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX_DIST}"
)


@register("dedup_levenshtein_names", _LEV_SQL)
def q_dedup_levenshtein_names(spark, sf_dir):
    """Edit-distance near-dup over distinct part names —
    operators/dedup.py levenshtein_neardup_pairs: the length-band
    candidate join (complete for edit distance <= d, since each edit
    changes length by at most 1) with the exact levenshtein verify on
    candidates only.  The oracle is the naive all-pairs theta-join the
    engine refuses to plan."""
    parts = load_table(spark, sf_dir, "part")
    return DD.levenshtein_neardup_pairs(parts, "p_name", max_dist=LEV_MAX_DIST)


_MEDIAN_SQL = (
    "SELECT p_brand, COUNT(*) AS n, "
    "ROUND(CAST(quantile_cont(p_retailprice, 0.5) AS DOUBLE), 4) AS med, "
    "ROUND(CAST(quantile_cont(p_retailprice, 0.9) AS DOUBLE), 4) AS p90 "
    "FROM part GROUP BY p_brand"
)


@register("median_price_per_brand", _MEDIAN_SQL)
def q_median_price_per_brand(spark, sf_dir):
    """Exact per-group continuous percentiles (median + p90 retail price
    per brand) — the EXACT percentile aggregate, linear-interpolation
    semantics identical across engines (verified: Spark percentile ==
    DuckDB quantile_cont to the rounded digit).  Exactness buffers each
    group's values in the aggregate state, fine for bounded groups like
    brands; unbounded groups at corpus scale should use the
    percentile_approx twin (t-digest state, mergeable map-side), the
    same approx/exact split profile_orders documents for distincts."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("p_retailprice", F.lit(0.5)), 4).alias("med"),
        F.round(F.percentile("p_retailprice", F.lit(0.9)), 4).alias("p90"),
    )


BFS_DEPTH = 3
BFS_SEED_MOD = 97


def _bfs_sql(k: int = BFS_DEPTH) -> str:
    ctes = [
        f"e0 AS MATERIALIZED ({derived.G_PP_EDGES_SQL})",
        _SYM_CTE.replace("sym AS (", "sym AS MATERIALIZED (", 1),
        f"seeds AS (SELECT DISTINCT 'P' || p_partkey AS id FROM part "
        f"WHERE p_partkey % {BFS_SEED_MOD} = 0)",
        "r0 AS MATERIALIZED (SELECT id, 0 AS dist FROM seeds)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"n{i} AS (SELECT DISTINCT s.a AS id FROM sym s "
            f"JOIN r{i - 1} r ON s.b = r.id)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT id, dist FROM r{i - 1} UNION ALL "
            f"SELECT n.id, {i} AS dist FROM n{i} n "
            f"LEFT JOIN r{i - 1} p ON n.id = p.id WHERE p.id IS NULL)"
        )
    return "WITH " + ", ".join(ctes) + f" SELECT id, CAST(dist AS BIGINT) AS dist FROM r{k}"


@register("graph_bfs_distance", _bfs_sql())
def q_graph_bfs_distance(spark, sf_dir):
    """Multi-source BFS hop distances (depth 3, every 97th part as a
    seed) on the part->part graph — operators/graphalgs.py
    bfs_distances; the oracle unrolls the frontier rounds as
    anti-joined union CTEs."""
    from bigdata_hits_spark.operators.graphalgs import bfs_distances
    from bigdata_hits_spark.queries_graph import _sym

    g = derived.g_pp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_partkey") % BFS_SEED_MOD == 0).select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("id")
    )
    out = bfs_distances(g.edges, seeds, max_depth=BFS_DEPTH, sym=_sym(g))
    return out.select("id", F.col("dist").cast("long").alias("dist"))


_JSON_PROPS_SQL = (
    "SELECT event_type, "
    "CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket, "
    "COUNT(*) AS n, ROUND(CAST(SUM(value) AS DOUBLE), 4) AS total_value "
    "FROM events GROUP BY 1, 2"
)


@register("events_json_props", _JSON_PROPS_SQL)
def q_events_json_props(spark, sf_dir):
    """Semi-structured extraction: the events ``props`` JSON string
    parsed with a DECLARED schema (``from_json`` — JVM-side Jackson, a
    Column expression inside whole-stage codegen, never a Python UDF)
    and aggregated per (event_type, k-decile).  Parsing with a declared
    schema skips the schema-inference pass a 100 TB ``spark.read.json``
    would pay; the oracle uses DuckDB's json_extract."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k LONG")["k"]
    return ev.groupBy(
        "event_type", F.floor(k / 10).cast("long").alias("k_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_STATS_SQL = (
    "SELECT l_returnflag, COUNT(*) AS n, "
    "ROUND(CAST(stddev_samp(l_quantity) AS DOUBLE), 4) AS sd_qty, "
    "ROUND(CAST(stddev_samp(l_extendedprice) AS DOUBLE), 4) AS sd_price, "
    "ROUND(CAST(var_samp(l_quantity) AS DOUBLE), 4) AS var_qty, "
    "ROUND(CAST(var_samp(l_extendedprice) AS DOUBLE), 0) AS var_price, "
    "ROUND(CAST(corr(l_quantity, l_extendedprice) AS DOUBLE), 6) AS corr_qty_price "
    "FROM lineitem GROUP BY l_returnflag"
)


@register("lineitem_metric_stats", _STATS_SQL)
def q_lineitem_metric_stats(spark, sf_dir):
    """Second-moment statistical aggregates per return flag — sample
    stddev, variance, and Pearson correlation, the distribution-shape
    profile a feature-engineering pass reads before normalizing columns.
    Both engines accumulate numerically stable merged moments
    (Welford-style M2), so the values agree at these roundings.

    Variance rounding is MAGNITUDE-MATCHED (the r4-waived column, now
    wired): var_qty (~208) rounds at 4 decimals with ~1e9x margin, but
    var_price (~9e8) cannot — Spark's partial-merge order drifts the
    value ~5e-7 run to run and cross-engine association error reaches
    ~1e-2, so it rounds at 0 decimals where the measured boundary margin
    (0.046) is ~40x the worst drift.  sqrt compresses the same error
    below 1e-4, which is why the stddevs keep their finer rounding.
    One hash-agg pass, map-side partial moments."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.var_samp("l_extendedprice"), 0).alias("var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


_PRICE_RANK_SQL = (
    "WITH b AS (SELECT o_orderkey, "
    "CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket FROM orders) "
    "SELECT o_orderkey, bucket, "
    "RANK() OVER (ORDER BY bucket DESC) AS rnk, "
    "DENSE_RANK() OVER (ORDER BY bucket DESC) AS drnk FROM b"
)


@register("orders_price_rank", _PRICE_RANK_SQL)
def q_orders_price_rank(spark, sf_dir):
    """Global RANK and DENSE_RANK over a deliberately tie-heavy key
    (price k$-bucket, ~30-way ties) — operators/ranks.py global_rank's
    tie-safe distributed path: equal sort keys co-locate under range
    partitioning, so bucket offsets (row counts for RANK, distinct-key
    counts for DENSE_RANK) stay exact where a wrong design would split
    a peer group across buckets.  The oracle is the single-task window
    pair the engine refuses to plan."""
    from bigdata_hits_spark.operators.ranks import global_rank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bucket"),
    )
    ranked = global_rank(orders, [F.desc("bucket")], rank_col="rnk", method="rank")
    dense = global_rank(
        orders,
        [F.desc("bucket")],
        rank_col="drnk",
        method="dense_rank",
        key_cols=[F.col("bucket")],
    )
    return ranked.join(dense.select("o_orderkey", "drnk"), "o_orderkey").select(
        "o_orderkey", "bucket", "rnk", "drnk"
    )


_RESOLVE_SQL = (
    "WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part "
    "WHERE p_name IS NOT NULL), "
    "dup AS (SELECT a.name AS name_a, b.name AS name_b FROM n a "
    "JOIN n b ON a.name < b.name "
    f"WHERE levenshtein(a.name, b.name) <= {LEV_MAX_DIST}), "
    "e AS (SELECT name_a AS src, name_b AS dst FROM dup "
    "UNION SELECT name_b, name_a FROM dup), "
    "reach AS (SELECT src AS id, src AS comp FROM e "
    "UNION SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id), "
    "comp AS (SELECT id, MIN(comp) AS canonical FROM reach GROUP BY id) "
    "SELECT n.name, COALESCE(c.canonical, n.name) AS canonical "
    "FROM n LEFT JOIN comp c ON n.name = c.id"
)


@register("entity_resolution_names", _RESOLVE_SQL)
def q_entity_resolution_names(spark, sf_dir):
    """The full entity-resolution composite under one oracle —
    operators/pipeline.py resolve_entities: length-band levenshtein
    pairs, transitive closure via auto-escalating connected components,
    lexicographic-minimum canonical per cluster, self-mapping for
    untouched names.  The oracle recomputes the same closure as a
    recursive CTE over the naive pair theta-join (the
    dedup_components oracle pattern)."""
    from bigdata_hits_spark.operators.pipeline import resolve_entities

    parts = load_table(spark, sf_dir, "part")
    return resolve_entities(parts, "p_name", max_dist=LEV_MAX_DIST)


_WINDOW_STATS_SQL = (
    "WITH b AS (SELECT o_orderkey, "
    "CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket FROM orders) "
    "SELECT o_orderkey, bucket, "
    "ROUND(PERCENT_RANK() OVER (ORDER BY bucket DESC), 9) AS prank, "
    "ROUND(CUME_DIST() OVER (ORDER BY bucket DESC), 9) AS cdist FROM b"
)


@register("orders_price_window_stats", _WINDOW_STATS_SQL)
def q_orders_price_window_stats(spark, sf_dir):
    """PERCENT_RANK and CUME_DIST over the tie-heavy price bucket —
    operators/ranks.py rank_stats, which computes the whole global
    window-rank family in one pass from peer-safe bucket offsets (peers
    co-located because partitioning uses the peer-level order only).
    The ratios are exact integer quotients in doubles, identical across
    engines at 9-digit rounding."""
    from bigdata_hits_spark.operators.ranks import rank_stats

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bucket"),
    )
    stats = rank_stats(orders, [F.desc("bucket")], [F.col("bucket")])
    return stats.select(
        "o_orderkey",
        "bucket",
        F.round("percent_rank", 9).alias("prank"),
        F.round("cume_dist", 9).alias("cdist"),
    )


WSAMPLE_SCALE = 1.0 / 500.0


def _wsample_sql() -> str:
    u = duck_hex_to_long("md5('0|' || CAST(doc_id AS VARCHAR))", 8)
    return (
        f"SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, "
        f"CAST({u} AS DOUBLE) / 4294967296.0 AS u FROM documents) "
        f"WHERE u < LEAST(1.0, CAST(n_chars AS DOUBLE) * {WSAMPLE_SCALE!r})"
    )


@register("weighted_sample_docs", _wsample_sql())
def q_weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted Bernoulli sample (keep probability
    min(1, n_chars/500)) — operators/sampling.py weighted_sample.  The
    md5-derived uniform is an exact 32-bit rational and the threshold an
    IEEE product, so the keep set is bit-identical across engines — the
    portable alternative to ln/pow priority-sampling keys."""
    from bigdata_hits_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", WSAMPLE_SCALE).select("doc_id", "n_chars")


@register(
    "orders_band_count_sweep",
    _RANGE_JOIN_SQL,  # identical answer, counting formulation
)
def q_orders_band_count_sweep(spark, sf_dir):
    """The same per-order band-containment counts as
    range_join_price_bands, computed by operators/rangejoin.py
    interval_count_sweep — the sweep-line formulation that never
    materializes a (probe, interval) pair: contains(p) = #{lo <= p} -
    #{hi < p} over one range-partitioned event stream, O(n log n) with
    ZERO dependence on interval width (the pair join's candidate volume
    grows with width x probe density).  Same oracle, deliberately: two
    physical strategies pinned to one answer."""
    from bigdata_hits_spark.operators.rangejoin import interval_count_sweep

    orders = load_table(spark, sf_dir, "orders")
    avg_p = F.round(F.avg("o_totalprice"))
    bands = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (avg_p - BAND_W).alias("lo"), (avg_p + BAND_W).alias("hi")
    )
    probe = orders.select("o_orderkey", "o_totalprice")
    counted = interval_count_sweep(
        probe, bands, "o_totalprice", "lo", "hi", count_col="n_bands"
    )
    return counted.filter(F.col("n_bands") > 0).select("o_orderkey", "n_bands")


TOPFRAC_BY = 0.3


def _topfrac_by_sql() -> str:
    from bigdata_hits_spark.queries_text import QUALITY_SQL_EXPR

    return (
        "WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS w "
        "FROM documents), "
        f"q AS (SELECT doc_id, source, {QUALITY_SQL_EXPR} AS quality FROM t), "
        "r AS (SELECT doc_id, source, quality, "
        "ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY quality DESC NULLS LAST, doc_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY source) AS ng FROM q) "
        f"SELECT doc_id, source, quality FROM r WHERE rn <= CEIL(ng * {TOPFRAC_BY})"
    )


@register("quality_top_frac_by_source", _topfrac_by_sql())
def q_quality_top_frac_by_source(spark, sf_dir):
    """Per-source quality gate: the top 30% of documents WITHIN each
    source (operators/ranks.py top_fraction_by) — the diversity-
    preserving form of the global cut, where a high-quality source
    cannot crowd a noisier one out of the mix.  Partitioned window, so
    the plan is the ordinary hash-exchange-per-group shape; tiebreak on
    doc_id pins the boundary on both sides."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.ranks import top_fraction_by

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.round_portable(TX.quality_score(F.col("text"))).alias("quality")
    )
    kept = top_fraction_by(
        scored, TOPFRAC_BY, "source", [F.desc_nulls_last("quality"), F.asc("doc_id")]
    )
    return kept.select("doc_id", "source", "quality")


# --- round 5: the sign-LSH scale path under a FULL oracle -----------------
#
# The production embedding-dedup plan (lsh_candidate_pairs +
# verify_cosine_pairs) was previously covered only by recall-floor tests;
# this entry pins it rows+schema+hash.  The testdata has no true near-dups
# at dedup-regime thresholds (max pairwise cosine ~0.51), so the query
# augments the corpus with deterministically perturbed copies — coordinate
# i scaled by 1.05 (even i) / 0.95 (odd i), identical IEEE double ops on
# both engines — giving planted pairs at cosine ~0.9988.  The oracle
# reproduces the ENTIRE path: the integer-parity hyperplane matrix
# (operators/similarity.py _hyperplane_matrix), sign-bit signatures,
# banded candidate join, and the rounded-cosine verify.  Banding recall is
# part of the contract (both sides lose the same pairs), and the ~70k
# original-vs-original candidates all verify-FAIL, so the verify stage is
# exercised non-trivially.

LSH_ORACLE_PLANES = 32
LSH_ORACLE_BANDS = 4
LSH_ORACLE_T = 0.95
LSH_PERT_IDS = 250  # vec_id < this gets a perturbed twin at id + 100000


def _neardup_lsh_sql() -> str:
    planes, bands = LSH_ORACLE_PLANES, LSH_ORACLE_BANDS
    bb = planes // bands
    mask = (1 << bb) - 1
    return (
        "WITH el0 AS (SELECT vec_id, CAST(x AS DOUBLE) AS x, i - 1 AS i0 "
        "FROM (SELECT vec_id, unnest(embedding) AS x, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings)), "
        "el AS (SELECT vec_id, x, i0 FROM el0 "
        "UNION ALL SELECT vec_id + 100000, "
        "x * (CASE WHEN i0 % 2 = 0 THEN 1.05 ELSE 0.95 END), i0 "
        f"FROM el0 WHERE vec_id < {LSH_PERT_IDS}), "
        # hyperplane h(j,i) = +1 iff (i*(2654435761+j) + j*40503) % 2 == 0
        "dots AS (SELECT vec_id, j, SUM(x * CASE WHEN "
        "(i0*(2654435761+j) + j*40503) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS d "
        f"FROM el CROSS JOIN (SELECT unnest(range({planes})) AS j) pl "
        "GROUP BY vec_id, j), "
        "sigs AS (SELECT vec_id, SUM(CASE WHEN d > 0 THEN "
        "(CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig FROM dots GROUP BY vec_id), "
        f"bands AS (SELECT vec_id, b, (sig >> (b*{bb})) & {mask} AS bs "
        f"FROM sigs CROSS JOIN (SELECT unnest(range({bands})) AS b) bb), "
        "cand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2 "
        "FROM bands a JOIN bands c ON a.b = c.b AND a.bs = c.bs "
        "AND a.vec_id < c.vec_id), "
        "norms AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM el GROUP BY vec_id), "
        "pdots AS (SELECT id1, id2, SUM(a1.x * a2.x) AS dot FROM cand "
        "JOIN el a1 ON a1.vec_id = id1 "
        "JOIN el a2 ON a2.vec_id = id2 AND a2.i0 = a1.i0 GROUP BY id1, id2), "
        "cos AS (SELECT id1, id2, ROUND(dot / (n1.nrm * n2.nrm), 6) AS cosine "
        "FROM pdots JOIN norms n1 ON n1.vec_id = id1 "
        "JOIN norms n2 ON n2.vec_id = id2) "
        "SELECT id1, id2, CAST(cosine AS DOUBLE) AS cosine FROM cos "
        f"WHERE cosine >= {LSH_ORACLE_T}"
    )


@register("embedding_neardup_lsh", _neardup_lsh_sql())
def q_embedding_neardup_lsh(spark, sf_dir):
    """Dedup-regime near-dup pairs via the PRODUCTION path: sign-LSH
    banded candidates + exact cosine verify (the operators/similarity.py
    near_duplicate_pairs front door at tau >= LSH_SAFE_THRESHOLD).
    Candidate-bounded equi-join work — the plan that survives 100 TB —
    proven exact against a DuckDB twin of the full pipeline.

    Known fragility: the oracle recomputes the sign bits via DuckDB
    float sums whose accumulation order differs from the numpy matmul
    on the Spark side, so a hyperplane dot product near 0 could flip a
    bit between engines.  The current testdata clears it by a wide
    margin, and tests/test_similarity.py
    test_lsh_oracle_fixture_dot_margin guards the fixture (min |dot|
    across the augmented corpus must exceed an epsilon) so a future
    testdata refresh fails THERE, loudly, not as a mystery hash
    mismatch in the driver gate."""
    from bigdata_hits_spark.operators.similarity import near_duplicate_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = emb.filter(F.col("vec_id") < LSH_PERT_IDS).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * F.when(i % 2 == 0, F.lit(1.05)).otherwise(F.lit(0.95)),
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    return near_duplicate_pairs(
        aug, LSH_ORACLE_T, planes=LSH_ORACLE_PLANES, bands=LSH_ORACLE_BANDS
    )


# --- round 5: skew_report under an oracle ---------------------------------

SKEW_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority")
SKEW_K = 20


def _skew_report_sql() -> str:
    branches = []
    for c in SKEW_COLS:
        branches.append(
            f"(SELECT '{c}' AS \"column\", "
            f"COALESCE(CAST({c} AS VARCHAR), 'NULL') AS key, COUNT(*) AS cnt "
            f"FROM orders GROUP BY 2 "
            f"ORDER BY cnt DESC, key LIMIT {SKEW_K})"
        )
    return (
        "WITH tot AS (SELECT COUNT(*) AS n FROM orders), "
        "u AS (" + " UNION ALL ".join(branches) + "), "
        "r AS (SELECT \"column\", key, cnt, ROW_NUMBER() OVER ("
        "PARTITION BY \"column\" ORDER BY cnt DESC, key) AS rank FROM u) "
        "SELECT \"column\", key, cnt, "
        "ROUND(CAST(cnt AS DOUBLE) / (SELECT n FROM tot), 6) AS share, rank FROM r"
    )


@register("skew_report", _skew_report_sql())
def q_skew_report(spark, sf_dir):
    """Top-20 heaviest values per candidate join/group key on orders
    (operators/profiling.py skew_report) — deterministic given the
    (cnt desc, key) tiebreak, so the TakeOrderedAndProject top-k path is
    fully oracle-checkable (its plan shape stays pinned in
    tests/test_profiling.py).  o_custkey is near-uniform (rank exercised
    deep into ties), o_orderstatus/o_orderpriority are genuinely skewed
    few-value keys — the report's actual use case."""
    from bigdata_hits_spark.operators.profiling import skew_report

    orders = load_table(spark, sf_dir, "orders")
    return skew_report(orders, list(SKEW_COLS), k=SKEW_K)


# --- round 5: salted_join under an oracle ---------------------------------

_SALTED_JOIN_SQL = (
    "SELECT l_orderkey, l_linenumber, l_suppkey, s_name "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
)


@register("salted_join_lineitem_supplier", _SALTED_JOIN_SQL)
def q_salted_join(spark, sf_dir):
    """The skew-mitigation twin of skew_report: salt the probe side,
    replicate the dim side across salts, join on (key, salt)
    (operators/relops.py salted_join).  The oracle is the PLAIN join —
    salting is a physical strategy that must never change the answer,
    and the nondeterministic per-row salt draw must wash out entirely
    (the right row exists under every salt value)."""
    from bigdata_hits_spark.operators.relops import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return salted_join(li, supp, "l_suppkey", "s_suppkey", salts=8).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "s_name"
    )


# --- round 5: canonical_url under an oracle -------------------------------
#
# The Spark side runs the REAL canonicalizer (functions/text.py
# canonical_url — regex decomposition, host/scheme folding, tracking-param
# strip, param sort, slash trim) on messy URLs synthesized per doc_id arm;
# the oracle derives each arm's expected canonical form ANALYTICALLY —
# an independent derivation, so a regression in any canonicalization rule
# breaks the hash instead of being faithfully reproduced.


def _canon_url_sql() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms_raw = [
        f"'https://WWW.Example.com:443/docs/' || {i} || '?utm_source=x&b=2&a=1#frag'",
        f"'http://Example.com:80/' || source || '/' || {i} || '/'",
        f"'example.com/a/' || {i} || '?z=9&gclid=abc'",
        "'https://example.com/p?fbclid=1&sessionid=2'",
        f"'HTTP://www.Site.org/Case/' || {i}",
        "'https://site.org/x/?b=2&a=10'",
    ]
    arms_canon = [
        f"'https://example.com/docs/' || {i} || '?a=1&b=2'",
        f"'http://example.com/' || source || '/' || {i}",
        f"'example.com/a/' || {i} || '?z=9'",
        "'https://example.com/p'",
        f"'http://site.org/Case/' || {i}",
        "'https://site.org/x?a=10&b=2'",
    ]
    case = lambda arms: (
        "CASE " + " ".join(
            f"WHEN doc_id % 6 = {n} THEN {a}" for n, a in enumerate(arms)
        ) + " END"
    )
    return (
        f"SELECT doc_id, {case(arms_raw)} AS url, {case(arms_canon)} AS canon "
        "FROM documents"
    )


# --- round 5: equi-width histogram --------------------------------------

HIST_BINS = 20


def _histogram_sql() -> str:
    return (
        "WITH b AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn, "
        "MAX(CAST(o_totalprice AS DOUBLE)) AS mx FROM orders), "
        "w AS (SELECT mn, CASE WHEN mx > mn THEN (mx - mn) / "
        f"{HIST_BINS} ELSE CAST(1.0 AS DOUBLE) END AS w FROM b), "
        "c AS (SELECT LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - mn) / w) "
        f"AS BIGINT), {HIST_BINS - 1}) AS bucket, COUNT(*) AS cnt "
        "FROM orders, w WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        f"g AS (SELECT unnest(range({HIST_BINS})) AS bucket, mn, w FROM w) "
        "SELECT g.bucket, ROUND(mn + g.bucket * w, 6) AS lo, "
        "ROUND(mn + (g.bucket + 1) * w, 6) AS hi, COALESCE(cnt, 0) AS cnt "
        "FROM g LEFT JOIN c ON g.bucket = c.bucket"
    )


@register("orders_price_histogram", _histogram_sql())
def q_orders_price_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order prices
    (operators/profiling.py histogram): in-plan bounds attach, one
    bucket hash-agg, empty buckets materialized off the bounds row —
    the distribution profile behind skew triage and range-join bin
    sizing."""
    from bigdata_hits_spark.operators.profiling import histogram

    orders = load_table(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", bins=HIST_BINS)


# --- round 5: gap-filled hourly rollup ------------------------------------


def _gapfill_sql() -> str:
    from bigdata_hits_spark.operators.events import HOUR_NS

    return (
        f"WITH h AS (SELECT epoch_ns(ts) // {HOUR_NS} AS bucket_hour, event_type, "
        "COUNT(*) AS n, ROUND(CAST(SUM(value) AS DOUBLE), 6) AS total_value "
        "FROM events GROUP BY 1, 2), "
        "s AS (SELECT event_type, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi "
        "FROM h GROUP BY event_type), "
        "g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket_hour FROM s) "
        "SELECT g.bucket_hour, g.event_type, COALESCE(h.n, 0) AS n, "
        "COALESCE(h.total_value, CAST(0.0 AS DOUBLE)) AS total_value "
        "FROM g LEFT JOIN h ON h.event_type = g.event_type "
        "AND h.bucket_hour = g.bucket_hour"
    )


@register("events_hourly_gapfill", _gapfill_sql())
def q_events_hourly_gapfill(spark, sf_dir):
    """Tumbling hourly rollup with quiet hours materialized as zero rows
    per event type (operators/events.py hourly_counts_gapfilled) — the
    dense grid time-series consumers need; fan-out is span-hours per
    type via a bounded sequence explode, never event-sized."""
    from bigdata_hits_spark.operators.events import hourly_counts_gapfilled
    from bigdata_hits_spark.queries_events import _events_us

    return hourly_counts_gapfilled(_events_us(spark, sf_dir))


# --- round 5: snapshot diff (dataset-versioning CDC) ----------------------
#
# The "new" snapshot is derived from orders deterministically in BOTH
# engines: keys % 97 == 0 deleted, % 101 == 0 price-bumped (+1.0),
# % 103 == 0 cloned at key + 10_000_000 (inserted).


def _snapshot_diff_sql() -> str:
    return (
        "WITH newsnap AS ("
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 "
        "ELSE o_totalprice END AS o_totalprice, o_orderstatus "
        "FROM orders WHERE o_orderkey % 97 <> 0 "
        "UNION ALL "
        "SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus "
        "FROM orders WHERE o_orderkey % 103 = 0), "
        "o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), "
        "j AS (SELECT o.o_orderkey AS ok, n.o_orderkey AS nk, "
        "o.o_totalprice AS op, n.o_totalprice AS np, "
        "o.o_orderstatus AS os, n.o_orderstatus AS ns "
        "FROM o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey), "
        "d AS (SELECT CASE WHEN ok IS NULL THEN 'inserted' "
        "WHEN nk IS NULL THEN 'deleted' "
        "WHEN NOT (op IS NOT DISTINCT FROM np AND os IS NOT DISTINCT FROM ns) "
        "THEN 'changed' END AS status, * FROM j) "
        "SELECT status, COALESCE(nk, ok) AS o_orderkey, "
        "CASE WHEN status = 'deleted' THEN op ELSE np END AS o_totalprice, "
        "CASE WHEN status = 'deleted' THEN os ELSE ns END AS o_orderstatus "
        "FROM d WHERE status IS NOT NULL"
    )


@register("orders_snapshot_diff", _snapshot_diff_sql())
def q_orders_snapshot_diff(spark, sf_dir):
    """Dataset-versioning diff (operators/relops.py snapshot_diff): one
    full-outer key join classifies rows inserted / deleted / changed
    (NULL-safe value compare) between the orders table and a
    deterministically perturbed new snapshot; output is change-sized."""
    from bigdata_hits_spark.operators.relops import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    kept = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    )
    added = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    return snapshot_diff(orders, kept.unionByName(added), ["o_orderkey"])


# --- round 5: alternate physical strategies pinned to the same oracles ----


@register("quality_top_frac_skew_safe", _topfrac_by_sql())
def q_quality_top_frac_skew_safe(spark, sf_dir):
    """The SKEW-SAFE bucketed variant of the per-source quality gate
    (operators/ranks.py top_fraction_by skew_safe=True: range-partition
    on (group, order), per-(group, bucket) prefix offsets, bounded
    window tasks) declared against the SAME oracle as
    quality_top_frac_by_source — two physical strategies pinned to one
    answer, the same discipline as the range-join/sweep pair."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.ranks import top_fraction_by

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.round_portable(TX.quality_score(F.col("text"))).alias("quality")
    )
    kept = top_fraction_by(
        scored,
        TOPFRAC_BY,
        "source",
        [F.desc_nulls_last("quality"), F.asc("doc_id")],
        skew_safe=True,
    )
    return kept.select("doc_id", "source", "quality")


LP_ENCODED_K = 6


def _lp_k6_sql() -> str:
    from bigdata_hits_spark.queries_graph import _label_propagation_sql

    return _label_propagation_sql(LP_ENCODED_K)


@register("graph_label_propagation_k6", _lp_k6_sql())
def q_graph_label_propagation_k6(spark, sf_dir):
    """Label propagation at k=6 — above the rank-encoding threshold, so
    this declared row runs the RANK-ENCODED long-id loop
    (operators/graphalgs.py, round-5 A/B promotion) and proves it exact
    against the same unrolled window-mode CTE oracle family as the k=3
    string-path row."""
    from bigdata_hits_spark.operators.graphalgs import label_propagation
    from bigdata_hits_spark.queries_graph import _sym

    g = derived.g_pp(spark, sf_dir)
    return label_propagation(g.edges, k=LP_ENCODED_K, sym=_sym(g))


# --- round 5: funnel + cohort retention -----------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_sql() -> str:
    a, b, c = FUNNEL_STEPS
    return (
        "WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events), "
        f"s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM e WHERE event_type = '{a}' "
        "GROUP BY user_id), "
        "s2 AS (SELECT e.user_id, MIN(ts) AS t_2 FROM e "
        f"JOIN s1 ON e.user_id = s1.user_id WHERE event_type = '{b}' AND ts > t_1 "
        "GROUP BY e.user_id), "
        "s3 AS (SELECT e.user_id, MIN(ts) AS t_3 FROM e "
        f"JOIN s2 ON e.user_id = s2.user_id WHERE event_type = '{c}' AND ts > t_2 "
        "GROUP BY e.user_id) "
        "SELECT s1.user_id, t_1, t_2, t_3, "
        "1 + (CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) "
        "+ (CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS n_steps "
        "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id "
        "LEFT JOIN s3 ON s1.user_id = s3.user_id"
    )


@register("events_funnel", _funnel_sql())
def q_events_funnel(spark, sf_dir):
    """Ordered view -> click -> purchase funnel per user
    (operators/events.py funnel_steps): each step's first timestamp
    strictly after the previous step's, k user-keyed aggregates chained
    by user-id joins — nothing event-sized joins anything event-sized."""
    from bigdata_hits_spark.operators.events import funnel_steps
    from bigdata_hits_spark.queries_events import _events_us

    return funnel_steps(_events_us(spark, sf_dir), list(FUNNEL_STEPS))


def _cohort_sql() -> str:
    from bigdata_hits_spark.operators.events import DAY_NS

    return (
        f"WITH d AS (SELECT DISTINCT user_id, epoch_ns(ts) // {DAY_NS} AS day "
        "FROM events), "
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id) "
        "SELECT cohort_day, d.day - f.cohort_day AS day_offset, "
        "COUNT(DISTINCT d.user_id) AS n_users "
        "FROM d JOIN f ON d.user_id = f.user_id GROUP BY 1, 2"
    )


@register("events_cohort_retention", _cohort_sql())
def q_events_cohort_retention(spark, sf_dir):
    """Daily cohort-retention triangle (operators/events.py
    cohort_retention): users bucketed by first active day, counted per
    later-active-day offset; one event-sized distinct, then user-sized
    work only."""
    from bigdata_hits_spark.operators.events import cohort_retention
    from bigdata_hits_spark.queries_events import _events_us

    return cohort_retention(_events_us(spark, sf_dir))


# --- round 5: BM25 weights ------------------------------------------------


def _bm25_sql() -> str:
    from bigdata_hits_spark.operators.textstats import BM25_B, BM25_K1

    one_minus_b = 1.0 - BM25_B
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term), "
        "dl AS (SELECT doc_id, SUM(c) AS n_tokens FROM tc GROUP BY doc_id), "
        "dfc AS (SELECT term, COUNT(*) AS df FROM tc GROUP BY term), "
        "t AS (SELECT COUNT(*) AS n_docs, AVG(n_tokens) AS avgdl FROM dl) "
        "SELECT tc.doc_id, tc.term, "
        "ROUND(LN((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) "
        "+ CAST(1.0 AS DOUBLE)) "
        f"* CAST(tc.c AS DOUBLE) * {BM25_K1 + 1.0} / "
        f"(CAST(tc.c AS DOUBLE) + {BM25_K1} * (CAST({one_minus_b} AS DOUBLE) "
        f"+ CAST({BM25_B} AS DOUBLE) * dl.n_tokens / avgdl)), 7) AS bm25 "
        "FROM tc JOIN dl ON tc.doc_id = dl.doc_id "
        "JOIN dfc ON tc.term = dfc.term CROSS JOIN t"
    )


@register("text_bm25", _bm25_sql())
def q_text_bm25(spark, sf_dir):
    """Per-(doc, term) Okapi BM25 weights (operators/textstats.py
    bm25_weights — Lucene +1 idf, tf saturation, length normalization);
    tf-idf's retrieval-grade successor, feedable straight into
    sparse_cosine_topk."""
    from bigdata_hits_spark.operators.textstats import bm25_weights

    docs = load_table(spark, sf_dir, "documents")
    return bm25_weights(docs)


# --- round 5: sparse (tf-idf) cosine retrieval ----------------------------

SPARSE_TOPK = 5
SPARSE_N_QUERIES = 25
SPARSE_MAX_DF = 50


def _sparse_cosine_sql() -> str:
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term), "
        "dl AS (SELECT doc_id, SUM(c) AS n_tokens FROM tc GROUP BY doc_id), "
        "dfc0 AS (SELECT term, COUNT(*) AS df FROM tc GROUP BY term), "
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "pf AS (SELECT tc.doc_id, tc.term, "
        "ROUND(tc.c / dl.n_tokens * LN(nd.n_docs / dfc0.df), 7) AS w "
        "FROM tc JOIN dl ON tc.doc_id = dl.doc_id "
        "JOIN dfc0 ON tc.term = dfc0.term CROSS JOIN nd), "
        "p AS (SELECT * FROM pf WHERE w <> 0), "
        "dfc AS (SELECT term, COUNT(*) AS dfp FROM p GROUP BY term), "
        "cap AS (SELECT p.doc_id, p.term, p.w FROM p "
        f"JOIN dfc ON p.term = dfc.term AND dfc.dfp <= {SPARSE_MAX_DF}), "
        "norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM cap GROUP BY doc_id), "
        "dots AS (SELECT q.doc_id AS qid, c.doc_id AS cid, SUM(q.w * c.w) AS dot "
        "FROM cap q JOIN cap c ON q.term = c.term AND q.doc_id <> c.doc_id "
        f"WHERE q.doc_id < {SPARSE_N_QUERIES} GROUP BY qid, cid), "
        "cos AS (SELECT qid, cid, ROUND(dot / (nq.nrm * nc.nrm), 9) AS cosine "
        "FROM dots JOIN norms nq ON nq.doc_id = qid "
        "JOIN norms nc ON nc.doc_id = cid), "
        "r AS (SELECT qid, cid, cosine, ROW_NUMBER() OVER ("
        "PARTITION BY qid ORDER BY cosine DESC, cid) AS rn FROM cos) "
        "SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine FROM r "
        f"WHERE rn <= {SPARSE_TOPK}"
    )


@register("sparse_cosine_topk_docs", _sparse_cosine_sql())
def q_sparse_cosine_topk_docs(spark, sf_dir):
    """Lexical retrieval: top-5 tf-idf-cosine neighbors for the first 25
    documents via the inverted-index posting join
    (operators/similarity.py sparse_cosine_topk) with the df<=50
    stop-term cap — the sparse complement to the dense ANN family.  The
    oracle reproduces postings (the proven text_tfidf twin), zero-weight
    drop, df cap, shared-term dots, and the ranked cut."""
    from bigdata_hits_spark.operators.similarity import sparse_cosine_topk
    from bigdata_hits_spark.operators import textstats

    docs = load_table(spark, sf_dir, "documents")
    postings = textstats.tfidf(docs)
    queries_df = docs.filter(F.col("doc_id") < SPARSE_N_QUERIES).select("doc_id")
    return sparse_cosine_topk(
        postings, queries_df, k=SPARSE_TOPK, w_col="tfidf", max_df=SPARSE_MAX_DF
    )


@register("canonical_url_docs", _canon_url_sql())
def q_canonical_url_docs(spark, sf_dir):
    from bigdata_hits_spark.functions.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    arms = [
        F.concat(F.lit("https://WWW.Example.com:443/docs/"), i, F.lit("?utm_source=x&b=2&a=1#frag")),
        F.concat(F.lit("http://Example.com:80/"), F.col("source"), F.lit("/"), i, F.lit("/")),
        F.concat(F.lit("example.com/a/"), i, F.lit("?z=9&gclid=abc")),
        F.lit("https://example.com/p?fbclid=1&sessionid=2"),
        F.concat(F.lit("HTTP://www.Site.org/Case/"), i),
        F.lit("https://site.org/x/?b=2&a=10"),
    ]
    url = F.when(F.col("doc_id") % 6 == 0, arms[0])
    for n in range(1, 6):
        url = url.when(F.col("doc_id") % 6 == n, arms[n])
    return docs.select(
        "doc_id", url.alias("url"), canonical_url(url).alias("canon")
    )


# --- round 6: the composed corpus cleaner under one end-to-end oracle -----

#: clean_corpus arguments for the declared row.  The near-dup threshold is
#: the SAME 0.2 the dedup gate rows use, so the sf0.01 corpus actually
#: forms clusters and the survivor election is exercised (at the library
#: default 0.5 the fixture has no near-dup pairs and stage 3 is a no-op).
CLEAN_MIN_QUALITY = 0.4
CLEAN_NEAR_T = 0.2


def _clean_corpus_sql() -> str:
    """DuckDB twin of operators/pipeline.py clean_corpus with the default
    stages on: quality floor -> exact dedup -> MinHash+LSH near-dup pairs
    -> connected-components survivor election -> per-doc stat columns.
    Composed from the already-proven stage oracles (queries_text quality/
    lang/fingerprint expressions, queries_dedup shingle/minhash/verify
    chain, the dedup_components recursive closure), re-rooted on the
    upstream stage's survivor set instead of the raw table."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.oracles import duck_token_hash
    from bigdata_hits_spark.queries_text import QUALITY_RAW_SQL_EXPR, _sql_in

    x = duck_hex_to_long("md5(shingle)", 8)
    values = ", ".join(f"({j}, {a}, {b})" for j, a, b in DD.MINHASH_PARAMS)
    score_cols = ", ".join(
        f"len(list_filter(w, x -> x IN ({_sql_in(TX.STOPWORDS[lang])}))) "
        f"/ (CASE WHEN len(w) > 0 THEN len(w) ELSE 1 END) AS s_{lang}"
        for lang in TX.LANG_ORDER
    )
    lang_case = (
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' "
        "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' "
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"
    )
    return (
        "WITH RECURSIVE "
        "d0 AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), "
        # 1. quality floor — UNROUNDED, as the Spark filter computes it
        # (tests/test_pipeline.py guards the fixture's boundary margin).
        f"q AS (SELECT doc_id, text, w, {QUALITY_RAW_SQL_EXPR} AS quality FROM d0), "
        f"qf AS (SELECT * FROM q WHERE quality >= {CLEAN_MIN_QUALITY}), "
        # 2. exact dedup: min doc_id per body hash among quality survivors
        "keep AS (SELECT MIN(doc_id) AS doc_id FROM qf GROUP BY md5(text)), "
        "ex AS (SELECT qf.* FROM qf JOIN keep ON qf.doc_id = keep.doc_id), "
        # 3. MinHash+LSH near-dup pairs over the exact-dedup survivors —
        # the queries_dedup chain re-rooted on ex
        "shl AS (SELECT doc_id, list_distinct(list_transform("
        "range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END), "
        "i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS shs FROM ex), "
        "sh AS (SELECT doc_id AS id, unnest(shs) AS shingle FROM shl), "
        f"tok AS (SELECT id, {x} % {DD.MINHASH_P} AS x FROM sh), "
        f"params(j, a, b) AS (VALUES {values}), "
        f"mh AS (SELECT id, j, MIN((a * x + b) % {DD.MINHASH_P}) AS v "
        "FROM tok CROSS JOIN params GROUP BY id, j), "
        f"bands AS (SELECT id, j // {DD.ROWS_PER_BAND} AS band_id, "
        "string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS sig "
        f"FROM mh GROUP BY id, j // {DD.ROWS_PER_BAND}), "
        "cand AS (SELECT DISTINCT b1.id AS id1, b2.id AS id2 FROM bands b1 "
        "JOIN bands b2 ON b1.band_id = b2.band_id AND b1.sig = b2.sig AND b1.id < b2.id), "
        "inter AS (SELECT c.id1, c.id2, COUNT(*) AS n_inter FROM cand c "
        "JOIN sh s1 ON s1.id = c.id1 "
        "JOIN sh s2 ON s2.id = c.id2 AND s2.shingle = s1.shingle "
        "GROUP BY c.id1, c.id2), "
        "sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id), "
        "jac AS (SELECT i.id1, i.id2, "
        "ROUND(CAST(i.n_inter / (z1.n + z2.n - i.n_inter) AS DOUBLE), 7) AS jaccard "
        "FROM inter i JOIN sizes z1 ON z1.id = i.id1 JOIN sizes z2 ON z2.id = i.id2), "
        f"dup AS (SELECT id1, id2 FROM jac WHERE jaccard >= {CLEAN_NEAR_T}), "
        # 4. transitive closure + survivor election (dedup_components
        # pattern): drop every non-minimum member of each cluster
        "e AS (SELECT id1 AS src, id2 AS dst FROM dup "
        "UNION SELECT id2, id1 FROM dup), "
        "reach AS (SELECT src AS id, src AS comp FROM e "
        "UNION SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id), "
        "comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id), "
        "drops AS (SELECT id FROM comp WHERE id <> component), "
        "surv AS (SELECT ex.* FROM ex LEFT JOIN drops ON ex.doc_id = drops.id "
        "WHERE drops.id IS NULL), "
        # 5. per-doc stat columns for survivors (text-oracle expressions)
        f"ls AS (SELECT doc_id, {score_cols} FROM surv), "
        "fpe AS (SELECT doc_id, w, unnest(range(len(w))) AS i FROM surv), "
        f"fph AS (SELECT doc_id, {duck_token_hash('w[i + 1]')} * (i + 1) AS term FROM fpe), "
        f"fp AS (SELECT doc_id, CAST(SUM(term) % {TX.FINGERPRINT_MOD} AS BIGINT) AS fingerprint "
        "FROM fph GROUP BY doc_id) "
        "SELECT s.doc_id, (FLOOR(s.quality * 10000000.0 + 0.5) / 10000000.0) AS quality, "
        "len(s.w) AS n_tokens, "
        f"len(regexp_extract_all(s.text, '{TX.BPE_SPLIT_PATTERN}')) AS n_bpe_tokens, "
        f"{lang_case} AS lang_pred, fp.fingerprint AS fingerprint "
        "FROM surv s JOIN ls ON ls.doc_id = s.doc_id "
        "JOIN fp ON fp.doc_id = s.doc_id"
    )


@register("clean_corpus_docs", _clean_corpus_sql())
def q_clean_corpus_docs(spark, sf_dir):
    """The composed corpus cleaner END TO END under one oracle — the
    single function a training-data user actually calls
    (operators/pipeline.py clean_corpus), with the default stages on:
    quality floor (>= 0.4, unrounded as the operator filters it), exact
    dedup (min-id per body hash), MinHash+LSH near-dup pairs at the
    dedup-gate threshold 0.2, connected-components survivor election,
    and the per-doc stat columns (quality/token counts/lang/fingerprint)
    appended for survivors.  Stage ordering and the inter-stage column
    contracts are exactly what the oracle's CTE chain reproduces.

    Honestly excluded arms (library defaults, off): the line-level
    boilerplate strip (``boilerplate_min_df``), the unigram-LM floor
    (``min_unigram_logprob``), and the embedding/semantic stage
    (``vectors``) — each is individually oracle-backed
    (strip_boilerplate, text_unigram_logprob, dedup_semantic); this row
    proves the default composition whole."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.pipeline import clean_corpus

    docs = load_table(spark, sf_dir, "documents")
    cleaned = clean_corpus(
        docs, min_quality=CLEAN_MIN_QUALITY, near_dup_threshold=CLEAN_NEAR_T
    )
    return cleaned.select(
        "doc_id",
        TX.round_portable(F.col("quality")).alias("quality"),
        "n_tokens",
        "n_bpe_tokens",
        "lang_pred",
        "fingerprint",
    )


#: Character budget for the declared token-budget cut: ~2/3 of the sf0.01
#: corpus's n_chars total, so the boundary lands mid-permutation and the
#: kept set is a real prefix (not all or nothing) at every tested scale.
TOKEN_BUDGET = 100_000


def _token_budget_sql() -> str:
    key = duck_hex_to_long("md5(CAST(doc_id AS VARCHAR))", 15)
    return (
        f"WITH h AS (SELECT doc_id, n_chars, {key} AS hk FROM documents), "
        "c AS (SELECT doc_id, n_chars, SUM(n_chars) OVER ("
        "ORDER BY hk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h) "
        f"SELECT doc_id, n_chars FROM c WHERE cum <= {TOKEN_BUDGET}"
    )


@register("sample_token_budget", _token_budget_sql())
def q_sample_token_budget(spark, sf_dir):
    """The global token-budget cut (operators/sampling.py
    sample_to_token_budget) under a full oracle: keep the prefix of a
    fixed pseudo-random permutation whose running n_chars total stays
    within TOKEN_BUDGET.  The Spark side runs the distributed two-phase
    bucketed prefix-sum (per-bucket totals -> exclusive offsets -> local
    running sums); the oracle is the single window the engine refuses to
    plan — survivors are identical by construction.  The permutation key
    is the portable md5-prefix long (order_key=) rather than the
    xxhash64 default, so both engines order identically; keys are
    md5(doc_id)-derived and collision-free on the fixture.  Sequence
    PACKING (pack_documents) honestly stays library-only: its greedy
    per-partition first-fit is partition-shape-dependent by design and
    has no SQL twin (property-tested in tests/test_sampling.py)."""
    from bigdata_hits_spark.operators.sampling import sample_to_token_budget

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    key = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return sample_to_token_budget(
        docs, TOKEN_BUDGET, "n_chars", order_key=key
    ).select("doc_id", "n_chars")


def _funnel_sessioned_sql() -> str:
    from bigdata_hits_spark.operators.events import SESSION_GAP_NS

    a, b, c = FUNNEL_STEPS
    return (
        "WITH o AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events), "
        "l AS (SELECT user_id, event_type, ts_ns, event_id, "
        "LAG(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev FROM o), "
        "a AS (SELECT user_id, event_type, ts_ns, "
        f"CAST(SUM(CASE WHEN prev IS NULL OR ts_ns - prev > {SESSION_GAP_NS} "
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id "
        "ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM l), "
        f"s1 AS (SELECT user_id, session_idx, MIN(ts_ns) AS t_1 FROM a "
        f"WHERE event_type = '{a}' GROUP BY user_id, session_idx), "
        "s2 AS (SELECT a.user_id, a.session_idx, MIN(a.ts_ns) AS t_2 FROM a "
        "JOIN s1 ON a.user_id = s1.user_id AND a.session_idx = s1.session_idx "
        f"WHERE a.event_type = '{b}' AND a.ts_ns > s1.t_1 GROUP BY a.user_id, a.session_idx), "
        "s3 AS (SELECT a.user_id, a.session_idx, MIN(a.ts_ns) AS t_3 FROM a "
        "JOIN s2 ON a.user_id = s2.user_id AND a.session_idx = s2.session_idx "
        f"WHERE a.event_type = '{c}' AND a.ts_ns > s2.t_2 GROUP BY a.user_id, a.session_idx) "
        "SELECT s1.user_id, s1.session_idx, t_1, t_2, t_3, "
        "1 + (CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) "
        "+ (CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS n_steps "
        "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id AND s1.session_idx = s2.session_idx "
        "LEFT JOIN s3 ON s1.user_id = s3.user_id AND s1.session_idx = s3.session_idx"
    )


@register("events_funnel_sessioned", _funnel_sessioned_sql())
def q_events_funnel_sessioned(spark, sf_dir):
    """The WITHIN-SESSION funnel — funnel_steps composed with the
    sessionize assignment (operators/events.py funnel_steps_sessioned):
    view -> click -> purchase must complete inside one 30-min-gap
    session, one row per (user, session) containing a view.  The oracle
    chains the events_sessionize window CTE into the events_funnel step
    CTEs keyed by (user_id, session_idx)."""
    from bigdata_hits_spark.operators.events import funnel_steps_sessioned
    from bigdata_hits_spark.queries_events import _events_us

    return funnel_steps_sessioned(_events_us(spark, sf_dir), list(FUNNEL_STEPS))


RRF_DEMO_K = 5


def _rrf_sql() -> str:
    from bigdata_hits_spark.operators.similarity import RRF_K0

    return (
        "WITH r1 AS (SELECT o_custkey AS qid, o_orderkey AS cid, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS r FROM orders), "
        "r2 AS (SELECT o_custkey AS qid, o_orderkey AS cid, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate DESC, o_orderkey ASC) AS r FROM orders), "
        f"u AS (SELECT qid, cid, 1.0 / ({RRF_K0} + r) AS c FROM r1 "
        f"UNION ALL SELECT qid, cid, 1.0 / ({RRF_K0} + r) AS c FROM r2), "
        "f AS (SELECT qid, cid, ROUND(SUM(c), 7) AS rrf FROM u GROUP BY qid, cid) "
        "SELECT qid, cid, rrf FROM f "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cid ASC) <= {RRF_DEMO_K}"
    )


@register("rrf_fuse_orders", _rrf_sql())
def q_rrf_fuse_orders(spark, sf_dir):
    """Reciprocal-rank fusion (operators/similarity.py rrf_fuse) under a
    full oracle: two per-customer order rankings — by total price and by
    order date — fused via 1/(k0 + rank) sums, top-RRF_DEMO_K per
    customer.  The demo rankings are relational (exact ranks on both
    engines), but the operator is the retrieval-fusion step: feed it
    sparse_cosine_topk + ann lists to combine lexical and dense
    retrieval without score calibration."""
    from bigdata_hits_spark.operators.similarity import rrf_fuse

    orders = load_table(spark, sf_dir, "orders")
    by_price = orders.select(
        F.col("o_custkey").alias("qid"),
        F.col("o_orderkey").alias("cid"),
        F.col("o_totalprice").alias("score"),
    )
    by_date = orders.select(
        F.col("o_custkey").alias("qid"),
        F.col("o_orderkey").alias("cid"),
        F.col("o_orderdate").alias("score"),
    )
    return rrf_fuse([by_price, by_date], k=RRF_DEMO_K)


# --- round 6: distributed k-means under a full unrolled-CTE oracle --------
#
# The centroid-training step the IVF index assumes (operators/
# clustering.py): Lloyd's iterations with literal-centroid projection
# assignment and one map-side-combined hash-agg recompute per round.
# The oracle unrolls the SAME trajectory as CTE rounds: seeds = vectors
# of the k smallest vec_ids, squared-L2 distances ROUNDed to 6, argmin
# with the smallest-cluster tiebreak, centroid means ROUNDed to 6 —
# every cross-engine float value passes through a shared round, the
# rounded-cosine discipline.  tests/test_clustering.py guards the
# fixture: best-vs-second-best distance gaps and distance/mean values
# must clear the rounding boundaries by wide margins, so a testdata
# refresh that lands near a boundary fails THERE, loudly.

KMEANS_Q_K = 4
KMEANS_Q_ITERS = 3


def _kmeans_sql(k: int = KMEANS_Q_K, iters: int = KMEANS_Q_ITERS) -> str:
    ctes = [
        "el AS MATERIALIZED (SELECT vec_id, CAST(x AS DOUBLE) AS x, i - 1 AS i0 "
        "FROM (SELECT vec_id, unnest(embedding) AS x, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings))",
        f"seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c "
        f"FROM (SELECT DISTINCT vec_id FROM el ORDER BY vec_id LIMIT {k}))",
        "c0 AS MATERIALIZED (SELECT s.c, e.i0, e.x AS cx "
        "FROM seeds s JOIN el e ON e.vec_id = s.vec_id)",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT e.vec_id, c.c, "
            "ROUND(SUM((e.x - c.cx) * (e.x - c.cx)), 6) AS dist "
            f"FROM el e JOIN {prev} c ON c.i0 = e.i0 GROUP BY e.vec_id, c.c)"
        )
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT vec_id, c, dist FROM "
            "(SELECT vec_id, c, dist, ROW_NUMBER() OVER "
            f"(PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d{t}) WHERE rn = 1)"
        )
        if t < iters:
            ctes.append(
                f"c{t} AS MATERIALIZED (SELECT a.c, e.i0, ROUND(AVG(e.x), 6) AS cx "
                f"FROM a{t} a JOIN el e ON e.vec_id = a.vec_id GROUP BY a.c, e.i0)"
            )
            prev = f"c{t}"
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, c AS cluster, dist FROM a{iters}"
    )


@register("kmeans_embeddings", _kmeans_sql())
def q_kmeans_embeddings(spark, sf_dir):
    """Lloyd's k-means on the embeddings corpus (operators/clustering.py
    kmeans): KMEANS_Q_ITERS assignment steps, centroid updates between
    them, seeds = the KMEANS_Q_K smallest vec_ids.  Output is the final
    (vec_id, cluster, dist) assignment — dist the rounded squared-L2 to
    the winning centroid — proven against a DuckDB twin that unrolls the
    identical trajectory as CTE rounds.  Assignment is a shuffle-free
    literal-centroid projection; each update is one map-side-combined
    hash-agg collecting k*dim rounded means (O(1) driver state)."""
    from bigdata_hits_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans(emb, KMEANS_Q_K, iters=KMEANS_Q_ITERS).assignments


# --- round 6: event-sequence analytics ------------------------------------


def _transitions_sql() -> str:
    return (
        "WITH seq AS (SELECT user_id, event_type, "
        "LAG(event_type) OVER (PARTITION BY user_id "
        "ORDER BY epoch_ns(ts), event_id) AS prev_type FROM events), "
        "c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n "
        "FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2) "
        "SELECT prev_type, next_type, n, "
        "ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p "
        "FROM c"
    )


@register("events_transition_matrix", _transitions_sql())
def q_events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of per-user event sequences
    (operators/events.py transition_counts): (prev_type, next_type, n,
    row-normalized p) over the (ts, event_id)-ordered stream — the
    next-event-prediction / behavior-modeling primitive.  One user-keyed
    window shuffle, then |types|^2-sized aggregates."""
    from bigdata_hits_spark.operators.events import transition_counts
    from bigdata_hits_spark.queries_events import _events_us

    return transition_counts(_events_us(spark, sf_dir))


ANOMALY_Z = 2.0


def _anomaly_sql() -> str:
    from bigdata_hits_spark.operators.events import HOUR_NS

    return (
        f"WITH h AS (SELECT epoch_ns(ts) // {HOUR_NS} AS bucket_hour, "
        "event_type, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        "s AS (SELECT event_type, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi "
        "FROM h GROUP BY event_type), "
        "g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket_hour FROM s), "
        "grid AS (SELECT g.bucket_hour, g.event_type, COALESCE(h.n, 0) AS n "
        "FROM g LEFT JOIN h ON h.event_type = g.event_type "
        "AND h.bucket_hour = g.bucket_hour), "
        "st AS (SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sigma "
        "FROM grid GROUP BY event_type) "
        "SELECT grid.event_type, bucket_hour, n, "
        "ROUND((n - mu) / sigma, 6) AS z "
        "FROM grid JOIN st ON st.event_type = grid.event_type "
        f"WHERE sigma > 0 AND ABS(ROUND((n - mu) / sigma, 6)) >= {ANOMALY_Z}"
    )


@register("events_hourly_anomaly", _anomaly_sql())
def q_events_hourly_anomaly(spark, sf_dir):
    """Hourly ingestion anomalies (operators/events.py
    hourly_anomalies): hours whose count is a |z| >= ANOMALY_Z outlier
    for its event type, moments taken over the GAP-FILLED grid so quiet
    hours depress the mean instead of vanishing.  z rounds before the
    threshold compare — the engine-portable cut."""
    from bigdata_hits_spark.operators.events import hourly_anomalies
    from bigdata_hits_spark.queries_events import _events_us

    return hourly_anomalies(_events_us(spark, sf_dir), z_threshold=ANOMALY_Z)


@register("kmeans_parallel_embeddings", None)  # seeding quality path: the
# md5-coin draw is portable in principle, but the ||-round trajectory
# (per-round cost scalars feeding sampling probabilities) would need a
# scalar-coupled unrolled CTE; deliberately rows-only, like the ANN
# approximate paths.  Quality and determinism are pinned in
# tests/test_clustering.py (inertia beats first-k; partitioning-stable).
def q_kmeans_parallel_embeddings(spark, sf_dir):
    """Lloyd's k-means seeded by deterministic k-means||
    (operators/clustering.py kmeans_parallel_seeds) — the quality init
    for real corpora where the smallest ids share a source.

    Fixture parameters are tuned for ACTION count, not data volume (the
    embeddings fixture is 2k rows; every pass is planning-bound): one
    oversampled draw round with the same expected candidate mass as the
    two-round default (rounds x oversample = 1 x 4k vs 2 x 2k), seed
    vectors handed straight from the draw (no lookup job), and two Lloyd
    steps — seed well, iterate little, the production shape when init
    quality is paid for up front.  Seeding quality under these exact
    params is pinned by the inertia pytest (tests/test_clustering.py)."""
    from bigdata_hits_spark.operators.clustering import (
        kmeans,
        kmeans_parallel_seeds,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds, vecs = kmeans_parallel_seeds(
        emb, KMEANS_Q_K, rounds=1, oversample=4 * KMEANS_Q_K, return_vectors=True
    )
    return kmeans(
        emb, KMEANS_Q_K, iters=2, seed_ids=seeds, seed_vectors=vecs
    ).assignments


# --- round 6: robust statistics (winsorize / median-MAD outliers) ---------

WINSOR_LO, WINSOR_HI = 0.05, 0.95

_WINSOR_SQL = (
    "WITH b AS (SELECT p_brand, "
    f"ROUND(CAST(quantile_cont(p_retailprice, {WINSOR_LO}) AS DOUBLE), 6) AS lo, "
    f"ROUND(CAST(quantile_cont(p_retailprice, {WINSOR_HI}) AS DOUBLE), 6) AS hi "
    "FROM part GROUP BY p_brand) "
    "SELECT p_partkey, p.p_brand, p_retailprice, "
    "ROUND(LEAST(GREATEST(p_retailprice, lo), hi), 6) AS p_retailprice_w "
    "FROM part p JOIN b ON b.p_brand = p.p_brand"
)


@register("winsorize_prices", _WINSOR_SQL)
def q_winsorize_prices(spark, sf_dir):
    """Per-brand winsorization of retail price (operators/ranks.py
    winsorize): values clamped into the exact [5th, 95th] percentile
    band of their brand — one group-sized percentile aggregate joined
    back, then a pure clamp projection.  Bounds and output rounded so
    the interpolated percentiles stay engine-portable."""
    from bigdata_hits_spark.operators.ranks import winsorize

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    return winsorize(part, "p_retailprice", "p_brand", WINSOR_LO, WINSOR_HI)


MAD_THRESHOLD = 3.0

_MAD_SQL = (
    "WITH med AS (SELECT o_orderpriority, "
    "ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 6) AS med "
    "FROM orders GROUP BY o_orderpriority), "
    "mad AS (SELECT o.o_orderpriority, "
    "ROUND(CAST(quantile_cont(ABS(o_totalprice - med), 0.5) AS DOUBLE), 6) AS mad "
    "FROM orders o JOIN med ON med.o_orderpriority = o.o_orderpriority "
    "GROUP BY o.o_orderpriority), "
    "z AS (SELECT o.o_orderpriority, o_orderkey, o_totalprice, "
    "ROUND(0.6745 * (o_totalprice - med) / mad, 6) AS z "
    "FROM orders o "
    "JOIN med ON med.o_orderpriority = o.o_orderpriority "
    "JOIN mad ON mad.o_orderpriority = o.o_orderpriority "
    "WHERE mad > 0) "
    "SELECT o_orderpriority, o_orderkey, o_totalprice, z FROM z "
    f"WHERE ABS(z) >= {MAD_THRESHOLD}"
)


@register("mad_outliers_orders", _MAD_SQL)
def q_mad_outliers_orders(spark, sf_dir):
    """Median/MAD robust outliers (operators/ranks.py mad_outliers):
    orders whose modified z-score |0.6745 (x - med) / MAD| within their
    priority class exceeds MAD_THRESHOLD — the 50%-breakdown-point
    answer to mean/stddev masking (hourly_anomalies' moments would be
    dragged by the very outliers they hunt).  Two group-sized percentile
    aggregates + two group-keyed joins; z rounds before the cut."""
    from bigdata_hits_spark.operators.ranks import mad_outliers

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return mad_outliers(
        orders, "o_totalprice", "o_orderpriority", threshold=MAD_THRESHOLD
    )


# --- round 6: declarative data-quality validation -------------------------

VALIDATE_PRICE_HI = 200_000.0


def _validate_sql() -> str:
    return (
        "WITH checks AS ("
        "SELECT 'not_null' AS rule, 'o_custkey' AS \"column\", "
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS violations, COUNT(*) AS total FROM orders "
        "UNION ALL SELECT 'unique', 'o_orderkey', "
        "COUNT(*) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders "
        "UNION ALL SELECT 'accepted_values', 'o_orderstatus', "
        "CAST(SUM(CASE WHEN o_orderstatus IS NULL "
        "OR o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT), "
        "COUNT(*) FROM orders "
        "UNION ALL SELECT 'in_range', 'o_totalprice', "
        "CAST(SUM(CASE WHEN o_totalprice IS NULL "
        f"OR o_totalprice BETWEEN 0 AND {VALIDATE_PRICE_HI} THEN 0 ELSE 1 END) "
        "AS BIGINT), COUNT(*) FROM orders "
        "UNION ALL SELECT 'matches', 'o_orderpriority', "
        "CAST(SUM(CASE WHEN o_orderpriority IS NULL "
        "OR regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) "
        "AS BIGINT), COUNT(*) FROM orders "
        "UNION ALL SELECT 'foreign_key', 'o_custkey', "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders o "
        "LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c "
        "ON o.o_custkey = c.c_custkey "
        "WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL), "
        "COUNT(*) FROM orders) "
        "SELECT rule, \"column\", violations, total, violations = 0 AS passed "
        "FROM checks"
    )


@register("validate_orders", _validate_sql())
def q_validate_orders(spark, sf_dir):
    """Deequ-style validation suite over orders (operators/validate.py
    check_table): five row-level rules compiled into ONE wide aggregate
    (stack-pivoted in-plan to rule rows) plus one key-only FK pass
    against customer — (rule, column, violations, total, passed).  The
    in_range bound is set below the price maximum so the suite
    exercises a FAILING rule, not just zeros."""
    from bigdata_hits_spark.operators import validate as V

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return V.check_table(
        orders,
        [
            V.not_null("o_custkey"),
            V.unique("o_orderkey"),
            V.accepted_values("o_orderstatus", ["O", "F", "P"]),
            V.in_range("o_totalprice", 0.0, VALIDATE_PRICE_HI),
            V.matches("o_orderpriority", "^[1-5]-"),
            V.foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )


# --- round 6: cross-engine-reproducible train/val/test split --------------

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_sql() -> str:
    from bigdata_hits_spark.operators.sampling import _SPLIT_BUCKETS

    hex_long = duck_hex_to_long("md5('0|' || CAST(doc_id AS VARCHAR))", 8)
    bucket = f"({hex_long} % {_SPLIT_BUCKETS})"
    # Cumulative 1/10000-granularity ranges, identical to the Spark
    # when-chain: [0, 8000) train, [8000, 9000) val, rest test.
    return (
        "SELECT doc_id, source, "
        f"CASE WHEN {bucket} < 8000 THEN 'train' "
        f"WHEN {bucket} < 9000 THEN 'val' ELSE 'test' END AS split "
        "FROM documents"
    )


@register("split_docs", _split_sql())
def q_split_docs(spark, sf_dir):
    """Deterministic train/val/test assignment over documents
    (operators/sampling.py deterministic_split, portable=True): the
    split label is a pure function of doc_id through the md5-derived
    bucket, so the oracle — and any downstream trainer — re-derives the
    IDENTICAL membership from raw keys.  Split membership is a
    contamination contract, which is exactly why the declared arm is
    the cross-engine-reproducible one; the xxhash64 fast path stays for
    engine-internal use.  Pure narrow projection: no shuffle, no state,
    survives any scale by construction."""
    from bigdata_hits_spark.operators.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_split(docs, "doc_id", dict(SPLIT_WEIGHTS), portable=True)


# --- round 6: explicit GROUPING SETS (the irregular member) ---------------

_GSETS_SQL = (
    "SELECT o_orderstatus, o_orderpriority, "
    "GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid, "
    "COUNT(*) AS n, ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 4) AS revenue "
    "FROM orders "
    "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"
)


@register("grouping_sets_orders", _GSETS_SQL)
def q_grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS — the irregular member ROLLUP and CUBE
    cannot express: status-level and priority-level aggregates ONLY (no
    combined cell, no grand total), each row tagged with the grouping
    id.  Same execution shape as the other two (ONE Expand + single
    hash-agg pass, 2x row blow-up absorbed by the map-side partial
    before any exchange) — at scale this replaces two separate groupBy
    passes + union with one scan."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (
                F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")
    )


# --- round 6: incremental rollup maintenance (CDC delta -> stored agg) ----

_INCR_ROLLUP_SQL = (
    # The oracle recomputes the rollup DIRECTLY over the perturbed new
    # snapshot (same deterministic perturbation as orders_snapshot_diff);
    # the Spark side gets there by merging a retraction-stream delta into
    # the OLD rollup — so a green row proves incremental == recompute.
    "WITH newsnap AS (SELECT o_orderkey, o_orderpriority, "
    "CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 "
    "ELSE o_totalprice END AS o_totalprice "
    "FROM orders WHERE o_orderkey % 97 <> 0 "
    "UNION ALL "
    "SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice "
    "FROM orders WHERE o_orderkey % 103 = 0) "
    "SELECT o_orderpriority, COUNT(*) AS n, "
    "ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue "
    "FROM newsnap GROUP BY o_orderpriority"
)


@register("orders_rollup_incremental", _INCR_ROLLUP_SQL)
def q_orders_rollup_incremental(spark, sf_dir):
    """Incremental rollup maintenance (operators/relops.py
    snapshot_delta + apply_delta_rollup): the priority-level COUNT+SUM
    rollup of the orders table is updated to the perturbed new snapshot
    by merging a change-sized retraction stream — the old fact rows are
    never re-aggregated, so the refresh costs O(|delta| + |groups|).
    The oracle recomputes the rollup directly from the new snapshot:
    both paths must agree at the served rounding (sums of 2-dp prices
    are exact 2-dp values, 5e-3 from any 2-dp rounding boundary, vs
    ~1e-6 worst-case float accumulation-order noise)."""
    from bigdata_hits_spark.operators.relops import (
        apply_delta_rollup,
        snapshot_delta,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    kept = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    added = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderpriority",
        "o_totalprice",
    )
    new = kept.unionByName(added)
    old_agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("o_totalprice")
    )
    delta = snapshot_delta(orders, new, ["o_orderkey"])
    maintained = apply_delta_rollup(
        old_agg, delta, ["o_orderpriority"], ["o_totalprice"]
    )
    return maintained.select(
        "o_orderpriority",
        "n",
        F.round(F.col("o_totalprice"), 2).alias("revenue"),
    )


# --- round 6: PMI collocations (phrase mining) ----------------------------

#: 900 of 916 distinct bigrams clear this at sf0.01 — big enough to
#: exercise the joins, filtered enough that the pre-join cut matters.
COLLOC_MIN_COUNT = 5

_COLLOC_SQL = (
    "WITH t AS (SELECT string_split(COALESCE(text, ''), ' ') AS w FROM documents), "
    "uc AS (SELECT t, COUNT(*) AS c FROM (SELECT unnest(w) AS t FROM t) GROUP BY t), "
    "u AS (SELECT CAST(SUM(c) AS DOUBLE) AS u FROM uc), "
    "bc AS (SELECT a, b, COUNT(*) AS c_ab FROM "
    "(SELECT w[i + 1] AS a, w[i + 2] AS b FROM "
    "(SELECT w, unnest(range(len(w) - 1)) AS i FROM t)) GROUP BY a, b), "
    "n AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n FROM bc) "
    "SELECT bc.a, bc.b, c_ab, "
    "ROUND(LN(CAST(c_ab AS DOUBLE)) + 2 * LN(u.u) - LN(n.n) "
    "- LN(CAST(ua.c AS DOUBLE)) - LN(CAST(ub.c AS DOUBLE)), 7) AS pmi "
    "FROM bc JOIN uc ua ON ua.t = bc.a JOIN uc ub ON ub.t = bc.b "
    "CROSS JOIN u CROSS JOIN n "
    f"WHERE c_ab >= {COLLOC_MIN_COUNT}"
)


@register("collocations_pmi_docs", _COLLOC_SQL)
def q_collocations_pmi_docs(spark, sf_dir):
    """Adjacent-bigram PMI collocations over the documents corpus
    (operators/textstats.py collocations) — the phrase-mining signal
    for tokenizer vocab curation and boilerplate phrase discovery.
    Two count aggregates + frequent-bigram-sized joins; PMI evaluated
    as a log-of-integer-counts sum rounded identically on both sides."""
    from bigdata_hits_spark.operators import textstats

    docs = load_table(spark, sf_dir, "documents")
    return textstats.collocations(docs, min_count=COLLOC_MIN_COUNT)


# --- round 6: equi-depth histogram (exact distributed quantile edges) -----

#: Power of two ON PURPOSE: j/B is then exactly representable, so an
#: engine computing the f*(n-1) order-statistic position in doubles
#: (DuckDB) lands on the same statistics as the engine's exact integer
#: quotient/remainder path (operators/profiling.py equidepth_histogram).
EQUIDEPTH_BUCKETS = 8

_EQUIDEPTH_SQL = (
    "WITH q AS (SELECT quantile_cont(o_totalprice, "
    f"[{', '.join(str(j) + '.0/' + str(EQUIDEPTH_BUCKETS) for j in range(EQUIDEPTH_BUCKETS + 1))}]) AS bs FROM orders), "
    "bounds AS (SELECT i AS bucket, ROUND(CAST(bs[i + 1] AS DOUBLE), 6) AS b "
    f"FROM q, (SELECT unnest(range({EQUIDEPTH_BUCKETS + 1})) AS i)), "
    "assign AS (SELECT (SELECT COUNT(*) FROM bounds "
    f"WHERE bucket BETWEEN 1 AND {EQUIDEPTH_BUCKETS - 1} AND b < o.o_totalprice) AS bucket "
    "FROM orders o WHERE o_totalprice IS NOT NULL), "
    "cnt AS (SELECT bucket, COUNT(*) AS cnt FROM assign GROUP BY bucket) "
    "SELECT lo.bucket, lo.b AS lo, hi.b AS hi, COALESCE(cnt.cnt, 0) AS cnt "
    "FROM bounds lo JOIN bounds hi ON hi.bucket = lo.bucket + 1 "
    "LEFT JOIN cnt ON cnt.bucket = lo.bucket "
    f"WHERE lo.bucket < {EQUIDEPTH_BUCKETS}"
)


@register("orders_price_equidepth", _EQUIDEPTH_SQL)
def q_orders_price_equidepth(spark, sf_dir):
    """Equi-depth histogram of order totals (operators/profiling.py
    equidepth_histogram): exact j/8-quantile bucket edges computed
    DISTRIBUTED — range-partitioned value-domain CDF + integer-rational
    boundary positions + arithmetic boundary-cover explode — while the
    oracle uses DuckDB's buffering quantile_cont; a green row proves
    the distributed path lands on the same order statistics."""
    from bigdata_hits_spark.operators.profiling import equidepth_histogram

    orders = load_table(spark, sf_dir, "orders")
    return equidepth_histogram(orders, "o_totalprice", buckets=EQUIDEPTH_BUCKETS)


# --- round 6: changelog -> snapshot compaction (latest row per key) -------

_LATEST_SQL = (
    "SELECT user_id, ts_ns, event_id, event_type, value FROM ("
    "SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value, "
    "ROW_NUMBER() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"
)


@register("events_latest_per_user", _LATEST_SQL)
def q_events_latest_per_user(spark, sf_dir):
    """Changelog-to-snapshot compaction (operators/relops.py
    latest_by_key): the newest event per user as ONE max_by hash
    aggregate — map-side partial combine collapses hot keys before the
    exchange, where the oracle's row_number idiom would sort every
    version of a hot key in one task.  Ordered at the shared
    microsecond grain (queries_events._events_us) with event_id as the
    total-order tiebreak."""
    from bigdata_hits_spark.operators.relops import latest_by_key
    from bigdata_hits_spark.queries_events import _events_us

    ev = _events_us(spark, sf_dir).select(
        "user_id", "ts_ns", "event_id", "event_type", "value"
    )
    return latest_by_key(ev, ["user_id"], ["ts_ns", "event_id"])


# --- round 6: exponentially time-decayed aggregates -----------------------

#: 6 hours in integer nanoseconds — ages are exact long differences.
DECAY_HALF_LIFE_NS = 6 * 3_600_000_000_000


@register(
    "events_decayed_engagement",
    "WITH m AS (SELECT MAX(epoch_ns(ts)) AS mx FROM events), "
    "w AS (SELECT event_type, value, "
    "ROUND(POWER(2.0, -(CAST(m.mx - epoch_ns(ts) AS DOUBLE) "
    f"/ {DECAY_HALF_LIFE_NS}.0)), 9) AS w FROM events, m) "
    "SELECT event_type, ROUND(SUM(w), 6) AS decayed_n, "
    "ROUND(SUM(w * value), 6) AS decayed_value FROM w GROUP BY event_type",
)
def q_events_decayed_engagement(spark, sf_dir):
    """Freshness-weighted engagement (operators/events.py decayed_agg):
    per-type event count and value sum with a 6-hour half-life decay —
    ONE hash aggregate, weight projection in-plan, as-of attached as a
    one-row broadcast.  Weights rounded to 9 before summing so the two
    engines' pow() ulps cannot diverge the sums."""
    from bigdata_hits_spark.operators.events import decayed_agg
    from bigdata_hits_spark.queries_events import _events_us

    return decayed_agg(_events_us(spark, sf_dir), DECAY_HALF_LIFE_NS)


# --- round 6: rank-based quantile normalization ---------------------------


@register(
    "orders_price_qnorm",
    "SELECT o_orderkey, o_totalprice, "
    "ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice), 9) AS q FROM orders",
)
def q_orders_price_qnorm(spark, sf_dir):
    """Quantile normalization of order totals (operators/ranks.py
    quantile_normalize): PERCENT_RANK mapped distributively via the
    range-bucket prefix-offset rank machinery — the oracle is the
    single-task window the engine refuses to plan.  (rank-1)/(n-1) is
    one IEEE double division of exact longs, identical on both
    engines."""
    from bigdata_hits_spark.operators.ranks import quantile_normalize

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return quantile_normalize(orders, "o_totalprice")


# --- round 6: co-occurrence graph construction ----------------------------

#: Deliberately BINDING at sf0.01 (hourly user baskets reach more
#: distinct event types than this), so the oracle verifies the cap
#: semantics, not just the pair counting.
COOC_CAP = 3

_COOC_SQL = (
    "WITH it AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' || "
    f"CAST(epoch_ns(ts) // {3_600_000_000_000} AS VARCHAR) AS b, "
    "event_type AS item FROM events), "
    "capped AS (SELECT b, item FROM (SELECT b, item, "
    "ROW_NUMBER() OVER (PARTITION BY b ORDER BY item DESC) AS rn FROM it) "
    f"WHERE rn <= {COOC_CAP}) "
    "SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_baskets "
    "FROM capped a JOIN capped c ON a.b = c.b AND a.item < c.item "
    "GROUP BY 1, 2"
)


@register("events_cooccurrence_hourly", _COOC_SQL)
def q_events_cooccurrence_hourly(spark, sf_dir):
    """Event-type co-occurrence graph over hourly user-activity baskets
    (operators/events.py cooccurrence_pairs): distinct items per
    basket, hot baskets capped to their COOC_CAP greatest items via the
    skew-safe salted cap BEFORE the per-basket self-join, pair counts
    as the edge list.  The cap is binding at sf0.01, so the oracle
    checks the capped semantics end to end."""
    from bigdata_hits_spark.operators.events import cooccurrence_pairs
    from bigdata_hits_spark.queries_events import _events_us

    ev = _events_us(spark, sf_dir).select(
        "user_id",
        # integer div, NOT float: ts_ns ~1.7e18 exceeds double's 2^53
        # exact range, so float division could misbucket boundary events
        F.expr("ts_ns div 3600000000000").alias("bucket_hour"),
        "event_type",
    )
    return cooccurrence_pairs(
        ev, ["user_id", "bucket_hour"], "event_type",
        max_items_per_basket=COOC_CAP,
    )


# --- round 6: group-median imputation -------------------------------------


@register(
    "impute_prices_by_brand",
    # NULLs are synthesized deterministically (every 37th part key) so
    # the fixture exercises fill + passthrough on a NULL-free table.
    "WITH t AS (SELECT p_partkey, p_brand, "
    "CASE WHEN p_partkey % 37 = 0 THEN NULL ELSE p_retailprice END AS price "
    "FROM part), "
    "s AS (SELECT p_brand, ROUND(CAST(quantile_cont(price, 0.5) AS DOUBLE), 6) "
    "AS m FROM t GROUP BY p_brand) "
    "SELECT p_partkey, t.p_brand, price, COALESCE(price, m) AS price_filled "
    "FROM t LEFT JOIN s ON t.p_brand = s.p_brand",
)
def q_impute_prices_by_brand(spark, sf_dir):
    """Group-median imputation (operators/ranks.py impute_missing):
    every 37th part's price is deterministically NULLed, then filled
    from ITS BRAND's median — non-NULL prices pass through untouched.
    One group-sized percentile aggregate joined back (quantile_cont
    interpolation parity, the median_price_per_brand discipline)."""
    from bigdata_hits_spark.operators.ranks import impute_missing

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.when(F.col("p_partkey") % 37 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("p_retailprice"))
        .alias("price"),
    )
    return impute_missing(part, "price", group_col="p_brand")


# --- round 6: SCD2 history, inter-arrival cadence, embedding profile ------


_SCD2_SQL = (
    "WITH o AS (SELECT user_id, event_id, event_type, value, "
    "(epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events) "
    "SELECT user_id, event_id, event_type, value, "
    "ts_ns // 1000 AS valid_from_us, "
    "LEAD(ts_ns // 1000) OVER "
    "(PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_us, "
    "CASE WHEN LEAD(ts_ns) OVER "
    "(PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL "
    "THEN 1 ELSE 0 END AS is_current FROM o"
)


@register("scd2_user_events", _SCD2_SQL)
def q_scd2_user_events(spark, sf_dir):
    """Type-2 SCD history build (operators/relops.py scd2_history): the
    per-user event changelog becomes a versioned dimension with
    [valid_from, valid_to) microsecond bounds and an is_current flag —
    one LEAD window per key, the dimension an as-of join then probes.
    Compared at the microsecond grain for the same reason as
    events_asof_attribution (oracle reads us-truncated timestamps)."""
    from bigdata_hits_spark.operators.relops import scd2_history
    from bigdata_hits_spark.queries_events import _events_us

    ev = _events_us(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value", "ts_ns"
    )
    hist = scd2_history(ev, ["user_id"], ["ts_ns", "event_id"])
    return hist.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.expr("valid_from div 1000").alias("valid_from_us"),
        F.expr("valid_to div 1000").alias("valid_to_us"),
        "is_current",
    )


_INTERARRIVAL_SQL = (
    "WITH o AS (SELECT user_id, event_id, event_type, "
    "(epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events), "
    "g AS (SELECT event_type, ts_ns - LAG(ts_ns) OVER "
    "(PARTITION BY user_id ORDER BY ts_ns, event_id) AS gap_ns FROM o) "
    "SELECT event_type, COUNT(*) AS n_gaps, "
    "MIN(gap_ns) AS min_gap_ns, MAX(gap_ns) AS max_gap_ns, "
    "ROUND(CAST(SUM(gap_ns) AS DOUBLE) / COUNT(*) / 1e9, 6) AS avg_gap_s "
    "FROM g WHERE gap_ns IS NOT NULL GROUP BY event_type"
)


@register("events_interarrival", _INTERARRIVAL_SQL)
def q_events_interarrival(spark, sf_dir):
    """Inter-arrival cadence profile (operators/events.py
    interarrival_stats): time since the user's previous event, grouped
    by the current event's type.  Gap min/max/sum stay exact int64
    nanos; the mean converts to seconds with both engines associating
    (sum/n)/1e9 identically."""
    from bigdata_hits_spark.operators.events import interarrival_stats
    from bigdata_hits_spark.queries_events import _events_us

    return interarrival_stats(_events_us(spark, sf_dir))


_DIM_STATS_SQL = (
    "SELECT u.i AS dim, COUNT(*) AS n, "
    "ROUND(AVG(CAST(embedding[u.i + 1] AS DOUBLE)), 6) AS avg_v, "
    "ROUND(STDDEV_SAMP(CAST(embedding[u.i + 1] AS DOUBLE)), 6) AS sd_v, "
    "MIN(CAST(embedding[u.i + 1] AS DOUBLE)) AS min_v, "
    "MAX(CAST(embedding[u.i + 1] AS DOUBLE)) AS max_v "
    "FROM embeddings e CROSS JOIN "
    "(SELECT UNNEST(range(64)) AS i) u GROUP BY 1"
)


@register("embedding_dim_stats", _DIM_STATS_SQL)
def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding moments (operators/profiling.py
    array_dim_stats): mean/stddev/min/max for each of the 64 dimensions
    — the whitening profile + encoder-drift check.  Spark explodes
    (partial aggregation keeps the shuffle dims-sized); DuckDB has no
    UNNEST WITH ORDINALITY, so the oracle cross-joins the 64 ordinals
    and indexes — same (dim, value) multiset, same double-widened
    leaves, stddev/avg agreeing at 6 digits (values ~1e-2, n=500; the
    established lineitem_metric_stats margin argument)."""
    from bigdata_hits_spark.operators.profiling import array_dim_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return array_dim_stats(emb, "embedding")


# --- round 6: feature hashing, bigram LM, experiment readout --------------


N_HASH_FEATURES = 64


def _feature_hash_sql(d: int = N_HASH_FEATURES) -> str:
    from bigdata_hits_spark.oracles import duck_token_hash

    return (
        "WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term "
        "FROM documents) "
        f"SELECT doc_id, {duck_token_hash('term')} % {d} AS bucket, "
        "COUNT(*) AS tf FROM t GROUP BY 1, 2"
    )


@register("feature_hash_docs", _feature_hash_sql())
def q_feature_hash_docs(spark, sf_dir):
    """Hashing-trick bag-of-words (operators/textstats.py feature_hash):
    tokens hashed into 64 buckets by the portable md5-hex8 hash, counted
    per (doc, bucket) — the vocabulary-free featurizer.  One exploded
    hash-agg; the oracle reproduces the identical hash arithmetic."""
    from bigdata_hits_spark.operators.textstats import feature_hash

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash(docs, N_HASH_FEATURES)


BIGRAM_MIN_COUNT = 2

_BIGRAM_LM_SQL = (
    "WITH t AS (SELECT string_split(text, ' ') AS w FROM documents), "
    "p AS (SELECT UNNEST(list_zip(w, w[2:])) AS z FROM t), "
    "b AS (SELECT z[1] AS w1, z[2] AS w2 FROM p WHERE z[2] IS NOT NULL), "
    "c AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY 1, 2), "
    "l AS (SELECT w1, w2, n, ROUND(LN(CAST(n AS DOUBLE) / "
    "SUM(n) OVER (PARTITION BY w1)), 6) AS logp FROM c) "
    f"SELECT w1, w2, n, logp FROM l WHERE n >= {BIGRAM_MIN_COUNT}"
)


@register("bigram_lm_docs", _BIGRAM_LM_SQL)
def q_bigram_lm_docs(spark, sf_dir):
    """MLE bigram language model (operators/textstats.py bigram_lm):
    conditional next-token log-probabilities ln(n(w1 w2)/n(w1 _)) with
    the rare tail pruned after normalization.  Spark zips each token
    array with its own tail in-row; the oracle's list_zip produces the
    same pair multiset, and exact-integer count ratios make the ln
    bit-identical before the shared rounding."""
    from bigdata_hits_spark.operators.textstats import bigram_lm

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm(docs, min_count=BIGRAM_MIN_COUNT)


def _experiment_sql(convert_type: str = "purchase", n_variants: int = 2) -> str:
    h = duck_hex_to_long("md5(CAST(user_id AS VARCHAR))", 8)
    return (
        "WITH u AS (SELECT user_id, MAX(CASE WHEN event_type = "
        f"'{convert_type}' THEN 1 ELSE 0 END) AS converted "
        "FROM events GROUP BY user_id) "
        f"SELECT {h} % {n_variants} AS variant, COUNT(*) AS n_users, "
        "SUM(converted) AS n_conversions, "
        "ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conv_rate "
        "FROM u GROUP BY 1"
    )


@register("experiment_conversion_events", _experiment_sql())
def q_experiment_conversion_events(spark, sf_dir):
    """Hash-split A/B conversion readout (operators/events.py
    experiment_conversion): users assigned to 2 variants by the portable
    md5 coin, conversion = any purchase event.  Two stacked hash aggs;
    the oracle reproduces the identical assignment hash."""
    from bigdata_hits_spark.operators.events import experiment_conversion

    return experiment_conversion(load_table(spark, sf_dir, "events"))


# --- round 6 (cont.): regression, weighted median, ids, domains, text norm


_LINREG_SQL = (
    "SELECT l_suppkey, COUNT(*) AS n, "
    "ROUND(CASE WHEN VAR_POP(l_quantity) > 0 THEN "
    "COVAR_POP(l_quantity, l_extendedprice) / VAR_POP(l_quantity) END, 6) "
    "AS slope, "
    "ROUND(CASE WHEN VAR_POP(l_quantity) > 0 THEN "
    "AVG(l_extendedprice) - (COVAR_POP(l_quantity, l_extendedprice) / "
    "VAR_POP(l_quantity)) * AVG(l_quantity) END, 2) AS intercept, "
    "ROUND(CASE WHEN VAR_POP(l_quantity) > 0 AND VAR_POP(l_extendedprice) > 0 "
    "THEN COVAR_POP(l_quantity, l_extendedprice) * "
    "COVAR_POP(l_quantity, l_extendedprice) / "
    "(VAR_POP(l_quantity) * VAR_POP(l_extendedprice)) END, 6) AS r2 "
    "FROM lineitem GROUP BY l_suppkey"
)


@register("linreg_price_by_supplier", _LINREG_SQL)
def q_linreg_price_by_supplier(spark, sf_dir):
    """Per-supplier OLS trend of extended price over quantity
    (operators/profiling.py grouped_linreg): slope/intercept/r2 from
    one hash aggregate of merged moments — the million-segment
    regression shape.  Both engines accumulate Welford-style merged
    moments; measured cross-engine drift at sf0.01 is <=1e-9 relative
    on every statistic, so the (6, 2, 6) roundings hold with wide
    margin (slope ~1e3, intercept ~1e3-1e4, r2 in [0, 1] — the
    lineitem_metric_stats magnitude-tier argument)."""
    from bigdata_hits_spark.operators.profiling import grouped_linreg

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_linreg(li, "l_quantity", "l_extendedprice", "l_suppkey")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CORR_MATRIX_SQL = " UNION ALL ".join(
    f"SELECT '{a}' AS x, '{b}' AS y, ROUND(CORR({a}, {b}), 6) AS corr "
    "FROM lineitem"
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


@register("corr_matrix_lineitem", _CORR_MATRIX_SQL)
def q_corr_matrix_lineitem(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the four lineitem metrics
    (operators/profiling.py corr_matrix): all six upper-triangle pairs
    from ONE hash aggregate, stacked to tidy (x, y, corr) rows.  corr
    is scale-free, so the 6-digit rounding has ~1e6x margin over the
    merged-moment association drift."""
    from bigdata_hits_spark.operators.profiling import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS)


_WMEDIAN_SQL = (
    "WITH r AS (SELECT l_returnflag, l_extendedprice, "
    "SUM(l_quantity) OVER (PARTITION BY l_returnflag "
    "ORDER BY l_extendedprice, l_orderkey, l_linenumber "
    "ROWS UNBOUNDED PRECEDING) AS cum, "
    "SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot "
    "FROM lineitem WHERE l_extendedprice IS NOT NULL "
    "AND l_quantity IS NOT NULL AND l_quantity > 0) "
    "SELECT l_returnflag, MIN(l_extendedprice) AS wmedian_l_extendedprice "
    "FROM r WHERE cum * 2 >= tot GROUP BY l_returnflag"
)


@register("weighted_median_price", _WMEDIAN_SQL)
def q_weighted_median_price(spark, sf_dir):
    """Quantity-weighted median extended price per return flag
    (operators/ranks.py weighted_median): the median of the MASS, not
    the rows.  The running weight sum is order-invariant at every
    distinct value boundary, so the selected value is deterministic
    under ties; quantities are small integers in doubles, so the sums
    are exact and the crossing comparison cannot flip cross-engine.
    The output value is a data value — compared exactly, no rounding."""
    from bigdata_hits_spark.operators.ranks import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        "l_extendedprice",
        "l_quantity",
        "l_returnflag",
        tiebreak=["l_orderkey", "l_linenumber"],
    )


_ASSIGN_IDS_SQL = (
    "SELECT doc_id, source, ROW_NUMBER() OVER ("
    "ORDER BY md5('0|' || CAST(doc_id AS VARCHAR)), doc_id) AS new_id "
    "FROM documents"
)


@register("docs_assign_ids", _ASSIGN_IDS_SQL)
def q_docs_assign_ids(spark, sf_dir):
    """Stable contiguous 1-based ids over the corpus in md5-shuffled
    order (operators/ranks.py assign_stable_ids): the deterministic id
    mint before sharding/addressing, hash-ordered so any id slice is an
    unbiased sample.  Spark runs the two-phase global_rank (range
    exchange + bucket-offset broadcast — no single-task window); the
    oracle is the plain ROW_NUMBER over the same portable md5 key, hex
    strings ordering identically in both engines (ASCII)."""
    from bigdata_hits_spark.operators.ranks import assign_stable_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_stable_ids(docs, "doc_id")


def _domain_mix_sql() -> str:
    host = (
        "CASE WHEN doc_id % 5 IN (0, 1) THEN source || '.example.com' "
        "WHEN doc_id % 5 = 2 THEN 'mirror.site.org' "
        "WHEN doc_id % 5 = 3 THEN source || '.news.net' "
        "ELSE NULL END"
    )
    return (
        f"WITH h AS (SELECT {host} AS host FROM documents), "
        "c AS (SELECT host, COUNT(*) AS n_docs FROM h GROUP BY host) "
        "SELECT host, n_docs, ROUND(CAST(n_docs AS DOUBLE) / "
        "CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS share FROM c"
    )


@register("domain_mix_docs", _domain_mix_sql())
def q_domain_mix_docs(spark, sf_dir):
    """Per-domain corpus mix (operators/textstats.py domain_mix over
    functions/text.py url_host): host share of the corpus, the first
    table a curation review reads.  URLs are synthesized per doc_id arm
    to exercise scheme-less forms, userinfo, mixed-case hosts, explicit
    ports, and a no-authority URL (NULL host row); the oracle declares
    the EXPECTED host per arm independently (the canonical_url_docs
    discipline), so the extraction regex is verified, not reproduced."""
    from bigdata_hits_spark.operators.textstats import domain_mix

    docs = load_table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    src = F.col("source")
    arms = [
        F.concat(F.lit("https://WWW."), src, F.lit(".Example.COM:443/a/"), i),
        F.concat(F.lit("http://user:pw@"), src, F.lit(".example.com:8080/b?x=1")),
        F.lit("ftp://Mirror.site.ORG/c"),
        F.concat(src, F.lit(".News.net/path")),
        F.lit("https:///nohost/path"),
    ]
    url = F.when(F.col("doc_id") % 5 == 0, arms[0])
    for n in range(1, 5):
        url = url.when(F.col("doc_id") % 5 == n, arms[n])
    return domain_mix(docs.select(url.alias("url")), "url")


_NORMALIZE_SQL = (
    "WITH n AS (SELECT doc_id, text || chr(13) || chr(10) || chr(9) || "
    "'MIXED  Case Z' || chr(7) AS noisy FROM documents) "
    "SELECT doc_id, LOWER(TRIM(regexp_replace(regexp_replace(noisy, "
    "'[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS norm "
    "FROM n"
)


@register("normalize_text_docs", _NORMALIZE_SQL)
def q_normalize_text_docs(spark, sf_dir):
    """Canonical text normalization (functions/text.py normalize_text):
    control chars -> space, whitespace runs collapsed, trimmed,
    lowercased — the shared pre-pass for every dedup key.  Input is the
    corpus text with injected CRLF/tab/BEL + case/double-space noise so
    the normalization is actually exercised; the explicit hex character
    class keeps Java regex (Spark) and RE2 (DuckDB) byte-identical, and
    the output is an exact string compare."""
    from bigdata_hits_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    noisy = F.concat(F.col("text"), F.lit("\r\n\tMIXED  Case Z\x07"))
    return docs.select("doc_id", normalize_text(noisy).alias("norm"))


def _welch_sql() -> str:
    h = duck_hex_to_long("md5(CAST(user_id AS VARCHAR))", 8)
    return (
        "WITH u AS (SELECT user_id, SUM(value) AS m FROM events GROUP BY user_id), "
        f"v AS (SELECT {h} % 2 AS v, COUNT(*) AS n, AVG(m) AS mean, "
        "VAR_SAMP(m) AS var FROM u GROUP BY 1), "
        "w AS (SELECT MAX(CASE WHEN v = 0 THEN n END) AS n_a, "
        "MAX(CASE WHEN v = 1 THEN n END) AS n_b, "
        "MAX(CASE WHEN v = 0 THEN mean END) AS ma, "
        "MAX(CASE WHEN v = 1 THEN mean END) AS mb, "
        "MAX(CASE WHEN v = 0 THEN var END) AS va, "
        "MAX(CASE WHEN v = 1 THEN var END) AS vb FROM v) "
        "SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b, "
        "ROUND(CASE WHEN n_a >= 2 AND n_b >= 2 AND va / n_a + vb / n_b > 0 "
        "THEN (ma - mb) / SQRT(va / n_a + vb / n_b) END, 6) AS t_stat, "
        "ROUND(CASE WHEN n_a >= 2 AND n_b >= 2 AND va / n_a + vb / n_b > 0 "
        "THEN POWER(va / n_a + vb / n_b, 2) / "
        "(POWER(va / n_a, 2) / (n_a - 1) + POWER(vb / n_b, 2) / (n_b - 1)) "
        "END, 6) AS df FROM w"
    )


@register("experiment_welch_events", _welch_sql())
def q_experiment_welch_events(spark, sf_dir):
    """Welch's unequal-variance t readout on revenue-per-user
    (operators/events.py experiment_welch) over the same md5 hash split
    as experiment_conversion_events: sufficient statistics from two
    stacked hash aggs + a 2-row pivot, t/df as guarded projections.
    Merged-moment drift is ~1e-12 relative; every rounded output is
    O(1)-O(1e3), so 6 digits holds with >=1e6x margin."""
    from bigdata_hits_spark.operators.events import experiment_welch

    return experiment_welch(load_table(spark, sf_dir, "events"))


AUTOCORR_LAGS = (1, 24)


def _autocorr_sql() -> str:
    from bigdata_hits_spark.operators.events import HOUR_NS

    grid = (
        f"h AS (SELECT epoch_ns(ts) // {HOUR_NS} AS bucket_hour, event_type, "
        "COUNT(*) AS n FROM events GROUP BY 1, 2), "
        "s AS (SELECT event_type, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi "
        "FROM h GROUP BY event_type), "
        "g AS (SELECT s.event_type, unnest(range(lo, hi + 1)) AS bucket_hour FROM s), "
        "grid AS (SELECT g.event_type, g.bucket_hour, "
        "CAST(COALESCE(h.n, 0) AS DOUBLE) AS x FROM g LEFT JOIN h "
        "ON h.event_type = g.event_type AND h.bucket_hour = g.bucket_hour)"
    )
    arms = " UNION ALL ".join(
        f"SELECT a.event_type, {k} AS lag, COUNT(*) AS n_pairs, "
        "ROUND(CASE WHEN VAR_POP(a.x) > 0 AND VAR_POP(b.x) > 0 THEN "
        "COVAR_POP(a.x, b.x) / SQRT(VAR_POP(a.x) * VAR_POP(b.x)) END, 6) "
        "AS autocorr FROM grid a JOIN grid b ON a.event_type = b.event_type "
        f"AND a.bucket_hour = b.bucket_hour + {k} GROUP BY a.event_type"
        for k in AUTOCORR_LAGS
    )
    return f"WITH {grid} {arms}"


@register("events_hourly_autocorr", _autocorr_sql())
def q_events_hourly_autocorr(spark, sf_dir):
    """Lag-1 and lag-24 autocorrelation of each type's hourly count
    series over the gap-filled grid (operators/events.py
    hourly_autocorr): burstiness and daily-cycle strength.  Counts are
    exact integers, r is scale-free and moment-built with zero-variance
    guards, so the 6-digit rounding has ~1e6x margin."""
    from bigdata_hits_spark.operators.events import hourly_autocorr
    from bigdata_hits_spark.queries_events import _events_us

    return hourly_autocorr(_events_us(spark, sf_dir), lags=AUTOCORR_LAGS)


_ZIPF_SQL = (
    "WITH tf AS (SELECT term, COUNT(*) AS freq FROM "
    "(SELECT unnest(string_split(text, ' ')) AS term FROM documents) "
    "GROUP BY term), "
    "r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) "
    "AS rank FROM tf), "
    "l AS (SELECT LN(rank) AS x, LN(freq) AS y FROM r) "
    "SELECT COUNT(*) AS n_types, "
    "ROUND(CASE WHEN VAR_POP(x) > 0 THEN COVAR_POP(x, y) / VAR_POP(x) END, 6) "
    "AS slope, "
    "ROUND(CASE WHEN VAR_POP(x) > 0 THEN AVG(y) - (COVAR_POP(x, y) / "
    "VAR_POP(x)) * AVG(x) END, 6) AS intercept, "
    "ROUND(CASE WHEN VAR_POP(x) > 0 AND VAR_POP(y) > 0 THEN "
    "COVAR_POP(x, y) * COVAR_POP(x, y) / (VAR_POP(x) * VAR_POP(y)) END, 6) "
    "AS r2 FROM l"
)


@register("zipf_fit_docs", _ZIPF_SQL)
def q_zipf_fit_docs(spark, sf_dir):
    """Whole-vocabulary Zipf slope (operators/textstats.py zipf_fit):
    ln(freq) ~ ln(rank) OLS over the term-frequency table, ranked by the
    distributed two-phase global_rank with a deterministic term
    tiebreak.  Logs and merged moments drift ~1e-12 cross-engine; slope
    is O(1), intercept O(10), r2 in [0,1], so 6 digits holds with wide
    margin."""
    from bigdata_hits_spark.operators.textstats import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"))


KEYWORDS_K = 10


def _keywords_sql(k: int = KEYWORDS_K) -> str:
    return (
        "WITH tok AS (SELECT source AS grp, doc_id, "
        "unnest(string_split(text, ' ')) AS term FROM documents), "
        "tf AS (SELECT grp, term, COUNT(*) AS tf FROM tok GROUP BY grp, term), "
        "dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS dfv FROM tok GROUP BY term), "
        "n AS (SELECT COUNT(*) AS nd FROM documents), "
        "scored AS (SELECT grp, tf.term, tf, "
        "ROUND(tf * LN(CAST(nd AS DOUBLE) / dfv), 6) AS score "
        "FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp "
        "ORDER BY score DESC, term ASC) AS rn FROM scored) "
        f"SELECT grp AS source, term, tf, score FROM r WHERE rn <= {k}"
    )


@register("keywords_per_source", _keywords_sql())
def q_keywords_per_source(spark, sf_dir):
    """Top-10 tf-idf keywords per source (operators/textstats.py
    keywords_per_group): one token explode, two vocab-sized hash aggs,
    a term-keyed equi-join, and a per-source top-k window ORDERED ON THE
    ROUNDED score with a term tiebreak — rank is deterministic under
    last-ulp ln() drift, so the selected sets match cross-engine."""
    from bigdata_hits_spark.operators.textstats import keywords_per_group

    return keywords_per_group(load_table(spark, sf_dir, "documents"), k=KEYWORDS_K)


CHECKSUM_BUCKETS = 64
_CK_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _checksum_sql() -> str:
    from bigdata_hits_spark.oracles import duck_hex_to_long
    from bigdata_hits_spark.operators.relops import CHECKSUM_SUM_MOD

    canon_all = "md5(" + " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(1))" for c in _CK_COLS
    ) + ")"
    canon_key = "md5(COALESCE(CAST(o_orderkey AS VARCHAR), chr(1)))"
    h = duck_hex_to_long(canon_all, 15)
    b = duck_hex_to_long(canon_key, 8)
    return (
        f"WITH r AS (SELECT {b} % {CHECKSUM_BUCKETS} AS bucket, {h} AS h "
        "FROM orders) "
        "SELECT bucket, COUNT(*) AS n_rows, BIT_XOR(h) AS xor_hash, "
        f"CAST(SUM(h % {CHECKSUM_SUM_MOD}) AS BIGINT) AS sum_hash "
        "FROM r GROUP BY bucket"
    )


@register("orders_table_checksum", _checksum_sql())
def q_orders_table_checksum(spark, sf_dir):
    """Anti-entropy bucket checksums of orders (operators/relops.py
    table_checksum): 64 key-bucketed rows of (count, 60-bit xor, modular
    sum) — the replica-divergence triage digest.  All three aggregates
    are exact integers, so the compare is bit-exact; the oracle
    reproduces the md5 rendering and the positional hex parse."""
    from bigdata_hits_spark.operators.relops import table_checksum

    orders = load_table(spark, sf_dir, "orders")
    return table_checksum(
        orders, ["o_orderkey"], _CK_COLS, buckets=CHECKSUM_BUCKETS
    )


def _session_trigrams_sql() -> str:
    from bigdata_hits_spark.operators.events import SESSION_GAP_NS

    return (
        "WITH o AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, "
        "event_type FROM events), "
        "l AS (SELECT *, LAG(ts_ns) OVER (PARTITION BY user_id "
        "ORDER BY ts_ns, event_id) AS prev FROM o), "
        "a AS (SELECT user_id, event_id, ts_ns, event_type, "
        f"CAST(SUM(CASE WHEN prev IS NULL OR ts_ns - prev > {SESSION_GAP_NS} "
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id "
        "ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) "
        "AS sess FROM l), "
        "g AS (SELECT LAG(event_type, 2) OVER w AS t1, "
        "LAG(event_type, 1) OVER w AS t2, event_type AS t3, "
        "LAG(sess, 2) OVER w AS s1, LAG(sess, 1) OVER w AS s2, sess FROM a "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)), "
        "c AS (SELECT t1, t2, t3, COUNT(*) AS count FROM g "
        "WHERE s1 = sess AND s2 = sess GROUP BY t1, t2, t3) "
        "SELECT t1, t2, t3, count, ROUND(CAST(count AS DOUBLE) / "
        "SUM(count) OVER (PARTITION BY t1, t2), 6) AS p FROM c"
    )


@register("events_session_trigrams", _session_trigrams_sql())
def q_events_session_trigrams(spark, sf_dir):
    """Within-session event-type trigrams with prefix-normalized p
    (operators/events.py session_path_ngrams, n=3): the order-3 Markov
    path model over the sessionized stream — one user-keyed window
    shuffle serves both session assignment and the lags; the oracle
    chains the sessionize CTE into double-LAG same-session filters."""
    from bigdata_hits_spark.operators.events import session_path_ngrams
    from bigdata_hits_spark.queries_events import _events_us

    return session_path_ngrams(_events_us(spark, sf_dir), n=3)


OUTLIER_K = 5


def _centroid_outliers_sql(k: int = OUTLIER_K) -> str:
    return (
        "WITH j AS (SELECT d.source, e.vec_id AS doc_id, e.embedding AS v "
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id), "
        "el AS (SELECT source, doc_id, unnest(range(len(v))) AS i, v FROM j), "
        "x AS (SELECT source, doc_id, i, CAST(v[i + 1] AS DOUBLE) AS x FROM el), "
        "c AS (SELECT source, i, AVG(x) AS cx FROM x GROUP BY source, i), "
        "dist AS (SELECT x.source, x.doc_id, "
        "ROUND(SQRT(SUM((x.x - c.cx) * (x.x - c.cx))), 6) AS dist "
        "FROM x JOIN c ON c.source = x.source AND c.i = x.i "
        "GROUP BY x.source, x.doc_id), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY dist DESC, doc_id ASC) AS rn FROM dist) "
        f"SELECT source, doc_id, dist FROM r WHERE rn <= {k}"
    )


@register("embedding_centroid_outliers", _centroid_outliers_sql())
def q_embedding_centroid_outliers(spark, sf_dir):
    """Top-5 farthest-from-centroid docs per source
    (operators/similarity.py centroid_outliers): the embedding-space
    contamination screen.  Distances round at 6 digits BEFORE the
    ordering (doc_id tiebreak), so the per-source top-k sets match
    cross-engine under float-sum drift."""
    from bigdata_hits_spark.operators.similarity import centroid_outliers

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outliers(docs, emb, k=OUTLIER_K)


#: Deterministic planted drift for the PSI declared row: every third
#: order's price is scaled 1.2x in the "new" snapshot (both engines
#: derive it identically from orders — the snapshot_diff discipline).
_PSI_NEW = "o_totalprice * CASE WHEN o_orderkey % 3 = 0 THEN 1.2 ELSE 1.0 END"


def _psi_sql() -> str:
    from bigdata_hits_spark.operators.profiling import PSI_FLOOR

    B = EQUIDEPTH_BUCKETS
    fr = f"CAST('{PSI_FLOOR!r}' AS DOUBLE)"
    return (
        "WITH q AS (SELECT quantile_cont(o_totalprice, "
        f"[{', '.join(str(j) + '.0/' + str(B) for j in range(B + 1))}]) AS bs FROM orders), "
        "bounds AS (SELECT i AS bucket, ROUND(CAST(bs[i + 1] AS DOUBLE), 6) AS b "
        f"FROM q, (SELECT unnest(range({B + 1})) AS i)), "
        "aref AS (SELECT (SELECT COUNT(*) FROM bounds "
        f"WHERE bucket BETWEEN 1 AND {B - 1} AND b < o.o_totalprice) AS bucket "
        "FROM orders o WHERE o_totalprice IS NOT NULL), "
        "cref AS (SELECT bucket, COUNT(*) AS c FROM aref GROUP BY bucket), "
        f"newt AS (SELECT {_PSI_NEW} AS x FROM orders WHERE o_totalprice IS NOT NULL), "
        "anew AS (SELECT (SELECT COUNT(*) FROM bounds "
        f"WHERE bucket BETWEEN 1 AND {B - 1} AND b < n.x) AS bucket FROM newt n), "
        "cnew AS (SELECT bucket, COUNT(*) AS c FROM anew GROUP BY bucket), "
        "base AS (SELECT lo.bucket, lo.b AS lo, hi.b AS hi, "
        "CAST(COALESCE(cref.c, 0) AS DOUBLE) / (SELECT SUM(c) FROM cref) AS pr, "
        "CAST(COALESCE(cnew.c, 0) AS DOUBLE) / (SELECT SUM(c) FROM cnew) AS pn "
        "FROM bounds lo JOIN bounds hi ON hi.bucket = lo.bucket + 1 "
        "LEFT JOIN cref ON cref.bucket = lo.bucket "
        "LEFT JOIN cnew ON cnew.bucket = lo.bucket "
        f"WHERE lo.bucket < {B}) "
        "SELECT bucket, lo, hi, ROUND(pr, 6) AS p_ref, ROUND(pn, 6) AS p_new, "
        f"ROUND((GREATEST(pn, {fr}) - GREATEST(pr, {fr})) * "
        f"LN(GREATEST(pn, {fr}) / GREATEST(pr, {fr})), 6) AS psi_term "
        "FROM base"
    )


@register("orders_price_psi", _psi_sql())
def q_orders_price_psi(spark, sf_dir):
    """PSI drift report between orders prices and a deterministically
    drifted snapshot (operators/profiling.py psi_report): reference
    equi-depth edges from the distributed exact-quantile machinery,
    count-edges-below-x assignment on both sides, floored log terms.
    p values are exact-integer ratios; psi is the only float op."""
    from bigdata_hits_spark.operators.profiling import psi_report

    orders = load_table(spark, sf_dir, "orders")
    new = orders.select(F.expr(_PSI_NEW).alias("price"))
    return psi_report(orders.select(F.col("o_totalprice").alias("price")), new,
                      "price", buckets=EQUIDEPTH_BUCKETS)


CATPROF_COLS = ["o_orderstatus", "o_orderpriority"]
CATPROF_K = 4


def _catprof_sql() -> str:
    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS value FROM orders"
        for c in CATPROF_COLS
    )
    return (
        f"WITH p AS ({stacked}), "
        "c AS (SELECT col, value, COUNT(*) AS n FROM p GROUP BY col, value), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY col "
        "ORDER BY n DESC, value ASC NULLS FIRST) AS rn, "
        "ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY col), 6) AS share "
        "FROM c) "
        f'SELECT col AS "column", value, n, share FROM r WHERE rn <= {CATPROF_K}'
    )


@register("orders_categorical_profile", _catprof_sql())
def q_orders_categorical_profile(spark, sf_dir):
    """Top-4 values per categorical orders column
    (operators/profiling.py categorical_profile): one stacked scan, one
    vocabulary-sized hash agg, per-column windows with the NULL sort
    order pinned explicitly (the engines' defaults differ)."""
    from bigdata_hits_spark.operators.profiling import categorical_profile

    orders = load_table(spark, sf_dir, "orders")
    return categorical_profile(orders, CATPROF_COLS, k=CATPROF_K)


_DEDUP_RATE_SQL = (
    "WITH t AS (SELECT source, md5(text) AS h, COUNT(*) AS n "
    "FROM documents GROUP BY source, md5(text)) "
    "SELECT source, SUM(n) AS n_docs, COUNT(*) AS n_unique, "
    "ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS dup_rate "
    "FROM t GROUP BY source"
)


@register("dedup_rate_by_source", _DEDUP_RATE_SQL)
def q_dedup_rate_by_source(spark, sf_dir):
    """Within-source exact-duplicate pressure (operators/dedup.py
    dedup_rate_by_group): two stacked hash aggs on (source, md5) keys —
    bodies never shuffle; the curation readout that sets per-source
    dedup budgets."""
    from bigdata_hits_spark.operators.dedup import dedup_rate_by_group

    return dedup_rate_by_group(load_table(spark, sf_dir, "documents"))


@register("sketch_token_topk", None)  # MG weights are placement-dependent: rows-only
def q_sketch_token_topk(spark, sf_dir):
    """Misra-Gries heavy-hitter tokens over the corpus
    (operators/sketches.py freq_items_sketch): bounded-memory top-20
    candidates with count bounds, for the vocabulary-exceeds-memory
    regime.  Candidate weights depend on row placement, so the row is
    declared rows-only; the MG invariants are pytest-enforced
    (tests/test_sketches.py)."""
    from bigdata_hits_spark.functions.text import tokens
    from bigdata_hits_spark.operators.sketches import freq_items_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return freq_items_sketch(toks, "token", k=20)


STRAT_FRACS = {"src0": 1.0, "src3": 0.5, "src7": 0.25}
_STRAT_SEED = 4


def _stratified_sql() -> str:
    from bigdata_hits_spark.operators.sampling import _SPLIT_BUCKETS

    h = duck_hex_to_long(
        f"md5('{_STRAT_SEED}|' || CAST(doc_id AS VARCHAR))", 8
    )
    arms = " OR ".join(
        f"(source = '{v}' AND {h} % {_SPLIT_BUCKETS} < "
        f"{int(round(f * _SPLIT_BUCKETS))})"
        for v, f in STRAT_FRACS.items()
    )
    return f"SELECT doc_id, source FROM documents WHERE {arms}"


@register("stratified_sample_docs", _stratified_sql())
def q_stratified_sample_docs(spark, sf_dir):
    """Deterministic per-stratum sampling (operators/sampling.py
    stratified_sample_portable): keep decisions are a pure function of
    (seed, doc_id) via the portable md5 bucket, so BOTH engines keep the
    identical row set — the reproducible twin of sampleBy for mixture
    construction.  Narrow map, no shuffle; exact row compare."""
    from bigdata_hits_spark.operators.sampling import stratified_sample_portable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample_portable(
        docs, "source", STRAT_FRACS, "doc_id", seed=_STRAT_SEED
    )


_SENTENCE_SQL = (
    "WITH p AS (SELECT doc_id, list_filter("
    "string_split_regex(text, '[.!?]+( |$)'), s -> TRIM(s) <> '') AS sents "
    "FROM documents), "
    "t AS (SELECT doc_id, sents, list_transform(sents, "
    "s -> len(string_split(TRIM(s), ' '))) AS tp FROM p) "
    "SELECT doc_id, len(sents) AS n_sentences, "
    "ROUND(CASE WHEN len(sents) > 0 THEN "
    "CAST(list_aggregate(tp, 'sum') AS DOUBLE) / len(sents) END, 6) "
    "AS avg_sentence_tokens, "
    "list_aggregate(tp, 'max') AS max_sentence_tokens FROM t"
)


@register("sentence_stats_docs", _SENTENCE_SQL)
def q_sentence_stats_docs(spark, sf_dir):
    """Per-document sentence shape (operators/textstats.py
    sentence_stats): pragmatic regex segmentation — the declared
    contract is the regex itself, byte-identical in Java regex and RE2
    (split parity probed on terminator runs, trailing terminators, and
    unterminated text) — with empty segments dropped and the corpus'
    whitespace token convention per sentence.  Pure Column expressions,
    zero shuffles."""
    from bigdata_hits_spark.operators.textstats import sentence_stats

    return sentence_stats(load_table(spark, sf_dir, "documents"))


ROLLING_DAYS = 7


def _rolling_users_sql() -> str:
    from bigdata_hits_spark.operators.events import DAY_NS

    return (
        f"WITH ud AS (SELECT DISTINCT user_id, epoch_ns(ts) // {DAY_NS} AS d "
        "FROM events), "
        "s AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ud), "
        "c AS (SELECT DISTINCT user_id, unnest(range(d, d + "
        f"{ROLLING_DAYS})) AS day FROM ud), "
        "n AS (SELECT day, COUNT(*) AS n_users FROM c GROUP BY day), "
        "g AS (SELECT unnest(range(lo, hi + 1)) AS day FROM s) "
        "SELECT g.day, COALESCE(n.n_users, 0) AS n_users "
        "FROM g LEFT JOIN n ON n.day = g.day"
    )


@register("events_rolling_7d_users", _rolling_users_sql())
def q_events_rolling_7d_users(spark, sf_dir):
    """Exact rolling 7-day distinct users per day (operators/events.py
    rolling_distinct_users): sliding COUNT DISTINCT does not decompose
    over a window frame, so the plan replicates the distinct (user,
    day) relation to its <= 7 trailing day-buckets — work after the one
    event-sized agg is users-per-day x 7, independent of event volume.
    Exact integer counts; exact compare."""
    from bigdata_hits_spark.operators.events import rolling_distinct_users
    from bigdata_hits_spark.queries_events import _events_us

    return rolling_distinct_users(_events_us(spark, sf_dir), ROLLING_DAYS)


_MONTHLY_GROWTH_SQL = (
    "WITH m AS (SELECT date_trunc('month', o_orderdate) AS period_start, "
    "ROUND(SUM(o_totalprice), 6) AS total FROM orders GROUP BY 1) "
    "SELECT period_start, total, "
    "ROUND((total - LAG(total) OVER (ORDER BY period_start)) / "
    "LAG(total) OVER (ORDER BY period_start), 6) AS pct_change FROM m"
)


@register("orders_monthly_growth", _MONTHLY_GROWTH_SQL)
def q_orders_monthly_growth(spark, sf_dir):
    """Month-over-month revenue growth (operators/events.py
    period_over_period): one hash agg to month grain + a lag window
    over the month-sized rollup (the documented free single-partition
    case).  Totals round BEFORE the ratio so both engines divide
    identical doubles."""
    from bigdata_hits_spark.operators.events import period_over_period

    orders = load_table(spark, sf_dir, "orders")
    return period_over_period(orders, "o_orderdate", "o_totalprice", "month")


def _centroid_sim_sql() -> str:
    return (
        "WITH j AS (SELECT d.source AS g, e.embedding AS v "
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id), "
        "el AS (SELECT g, unnest(range(len(v))) AS i, v FROM j), "
        "x AS (SELECT g, i, CAST(v[i + 1] AS DOUBLE) AS x FROM el), "
        "c AS (SELECT g, i, AVG(x) AS c FROM x GROUP BY g, i), "
        "dots AS (SELECT a.g AS g1, b.g AS g2, SUM(a.c * b.c) AS dot "
        "FROM c a JOIN c b ON a.i = b.i AND a.g < b.g GROUP BY a.g, b.g), "
        "norms AS (SELECT g, SQRT(SUM(c * c)) AS n FROM c GROUP BY g) "
        "SELECT g1, g2, ROUND(CASE WHEN n1.n > 0 AND n2.n > 0 "
        "THEN dot / (n1.n * n2.n) END, 6) AS cosine "
        "FROM dots JOIN norms n1 ON n1.g = g1 JOIN norms n2 ON n2.g = g2"
    )


@register("source_centroid_similarity", _centroid_sim_sql())
def q_source_centroid_similarity(spark, sf_dir):
    """Pairwise cosine between source centroids
    (operators/similarity.py group_centroid_similarity): the k x k
    source-affinity matrix — after the one corpus-sized centroid agg,
    every comparison runs on the groups x dims relation.  Centroid
    averages drift ~1e-13 cross-engine and cosine is scale-free, so 6
    digits holds with wide margin."""
    from bigdata_hits_spark.operators.similarity import group_centroid_similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return group_centroid_similarity(docs, emb)


_TWA_SQL = (
    "WITH o AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type, "
    "value FROM events), "
    "l AS (SELECT event_type, value, LEAD(ts_ns) OVER (PARTITION BY user_id "
    "ORDER BY ts_ns, event_id) - ts_ns AS dt FROM o) "
    "SELECT event_type, COUNT(*) AS n_intervals, "
    "ROUND(SUM(value * dt) / SUM(CAST(dt AS DOUBLE)), 6) AS twa "
    "FROM l WHERE dt IS NOT NULL GROUP BY event_type"
)


@register("events_time_weighted_avg", _TWA_SQL)
def q_events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average event value per type (operators/events.py
    time_weighted_avg): LOCF weighting by the exact nanosecond gap to
    the user's next event — the irregular-sampling mean.  One user-keyed
    window shuffle + one hash agg; weights are exact longs, so the
    ratio drifts ~1e-12 and 6 digits holds with wide margin."""
    from bigdata_hits_spark.operators.events import time_weighted_avg
    from bigdata_hits_spark.queries_events import _events_us

    return time_weighted_avg(_events_us(spark, sf_dir))


# --- round 7: deterministic sequence packing ------------------------------

PACK_MAX_TOKENS = 512


def _pack_nextfit_sql(max_tokens: int = PACK_MAX_TOKENS) -> str:
    # Grouped-reset recursive CTE: walk the documents in global md5(id)
    # order (bucket = 2-hex md5 prefix, so buckets are contiguous ranges
    # of that order) carrying (pack index, running token total) as the
    # recursion state; a bucket change or an overflow opens a new pack —
    # exactly the operator's sequential next-fit, O(n) iterations on the
    # 500-doc gate corpus.
    return (
        "WITH RECURSIVE d AS ("
        "SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key, "
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket, "
        "len(string_split(text, ' ')) AS n, "
        "row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
        "FROM documents), "
        "p AS ("
        "SELECT rn, doc_id, bucket, n, 0 AS pk, n AS run FROM d WHERE rn = 1 "
        "UNION ALL "
        "SELECT d.rn, d.doc_id, d.bucket, d.n, "
        "CASE WHEN d.bucket <> p.bucket THEN 0 "
        f"WHEN p.run + d.n > {max_tokens} THEN p.pk + 1 ELSE p.pk END, "
        f"CASE WHEN d.bucket <> p.bucket OR p.run + d.n > {max_tokens} "
        "THEN d.n ELSE p.run + d.n END "
        "FROM d JOIN p ON d.rn = p.rn + 1) "
        "SELECT doc_id, n AS n_tokens, "
        "bucket || '_' || CAST(pk AS VARCHAR) AS pack_id FROM p"
    )


@register("pack_docs_nextfit", _pack_nextfit_sql())
def q_pack_docs_nextfit(spark, sf_dir):
    """Deterministic next-fit sequence packing over the documents table
    (operators/sampling.py pack_documents_nextfit) — the declarable twin
    of the greedy per-partition packer, whose bins are a pure function
    of the data (md5-order buckets) instead of physical placement.
    Token counts are the whitespace tokenizer already proven portable by
    text_token_count."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.sampling import pack_documents_nextfit

    docs = load_table(spark, sf_dir, "documents")
    with_n = docs.select(
        "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_documents_nextfit(
        with_n, PACK_MAX_TOKENS, token_col="n_tokens", id_col="doc_id"
    )


# --- round 7: embedding whitening / covariance / PCA, readability --------

_STANDARDIZE_SQL = (
    "WITH el AS (SELECT vec_id, unnest(range(len(embedding))) AS i, "
    "embedding AS v FROM embeddings), "
    "x AS (SELECT vec_id, i, CAST(v[i + 1] AS DOUBLE) AS x FROM el), "
    # mu/sd rounded to 12 digits on BOTH engines before standardizing, so
    # each side's ~1e-15 float-sum-order drift cannot reach the z cells
    # (mirrors operators/similarity.py standardize_embeddings).
    "s AS (SELECT i, ROUND(AVG(x), 12) AS mu, "
    "ROUND(STDDEV_SAMP(x), 12) AS sd FROM x GROUP BY i) "
    "SELECT x.vec_id AS id, x.i AS dim, "
    "ROUND(CASE WHEN s.sd > 0 THEN (x.x - s.mu) / s.sd ELSE 0.0 END, 6) AS z "
    "FROM x JOIN s ON s.i = x.i"
)


@register("embedding_standardize", _STANDARDIZE_SQL)
def q_embedding_standardize(spark, sf_dir):
    """Per-dimension z-score whitening (operators/similarity.py
    standardize_embeddings), exploded to (id, dim, z) rows so every
    standardized cell is compared — the library operator returns the
    array form; one dims-keyed agg + a literal-stats shuffle-free
    projection."""
    from bigdata_hits_spark.operators.similarity import standardize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    out = standardize_embeddings(emb)
    return out.select("id", F.posexplode("zvec").alias("dim", "z"))


_COVARIANCE_SQL = (
    "WITH el AS (SELECT unnest(range(len(embedding))) AS i, "
    "embedding AS v FROM embeddings), "
    "p AS (SELECT i, CAST(v[i + 1] AS DOUBLE) AS x, "
    "unnest(range(len(v))) AS j, v FROM el), "
    "q AS (SELECT i, j, x, CAST(v[j + 1] AS DOUBLE) AS y FROM p WHERE j >= i), "
    "a AS (SELECT i, j, COUNT(*) AS n, SUM(x * y) AS sxy, SUM(x) AS sx, "
    "SUM(y) AS sy FROM q GROUP BY i, j) "
    "SELECT i, j, ROUND((sxy - sx * sy / n) / n, 6) AS cov FROM a"
)


@register("embedding_covariance", _COVARIANCE_SQL)
def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle population covariance of the embedding space
    (operators/profiling.py array_covariance): double-posexplode fan-out
    collapsed by map-side partials into ONE (i, j)-keyed exchange; cov
    assembled from the same four sums on both engines."""
    from bigdata_hits_spark.operators.profiling import array_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return array_covariance(emb)


PCA_ITERS = 15


def _pca_base() -> list:
    # The covariance pipeline shared by every PCA oracle: el..cov..cf.
    # cf is referenced by every unrolled iteration: MATERIALIZED, or
    # DuckDB re-expands the whole covariance pipeline (and re-opens
    # the parquet) per reference — 15 iterations blew EMFILE.
    return [
        "el AS (SELECT unnest(range(len(embedding))) AS i, "
        "embedding AS v FROM embeddings)",
        "p AS (SELECT i, CAST(v[i + 1] AS DOUBLE) AS x, "
        "unnest(range(len(v))) AS j, v FROM el)",
        "q AS (SELECT i, j, x, CAST(v[j + 1] AS DOUBLE) AS y FROM p "
        "WHERE j >= i)",
        "a AS (SELECT i, j, COUNT(*) AS n, SUM(x * y) AS sxy, SUM(x) AS sx, "
        "SUM(y) AS sy FROM q GROUP BY i, j)",
        "cov AS MATERIALIZED (SELECT i, j, "
        "ROUND((sxy - sx * sy / n) / n, 6) AS c FROM a)",
        "cf AS MATERIALIZED (SELECT i, j, c FROM cov "
        "UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i < j)",
    ]


def _pca_iter_chain(iters: int, mat: str, pfx: str = "") -> tuple:
    # The Spark power iteration over matrix CTE ``mat`` unrolled as a
    # CTE chain ({pfx}v0..{pfx}v{iters}): identical recurrence,
    # identical per-step ROUND(..., 6) pins (operators/profiling.py
    # PCA_ITER_DIGITS), so the trajectory is engine-exact.  Returns
    # (cte_parts, final_vector_cte_name).
    parts = [
        f"{pfx}v0 AS (SELECT DISTINCT i AS dim, "
        f"ROUND(1.0 / SQRT((SELECT COUNT(DISTINCT i) FROM {mat})), 6) AS v "
        f"FROM {mat})"
    ]
    prev = f"{pfx}v0"
    # Every w/v CTE is MATERIALIZED: w{t} is referenced twice (norm +
    # division) and v{t} feeds the next round, so inlined CTEs re-expand
    # the whole chain — 2^iters work (measured: 3 iters 0.2 s, 6 iters
    # 4.0 s, 9 iters minutes).  Materialization makes each step O(dims),
    # the same reason the Spark loop pins w per iteration.  w and n are
    # deliberately UNROUNDED — rounding w lands on exact decimal
    # half-boundaries where Spark (decimal HALF_UP) and DuckDB (binary
    # double) disagree; see operators/profiling.py PCA_ITER_DIGITS.
    for t in range(1, iters + 1):
        parts.append(
            f"{pfx}w{t} AS MATERIALIZED (SELECT {mat}.i AS dim, "
            f"SUM({mat}.c * {prev}.v) AS w "
            f"FROM {mat} JOIN {prev} ON {prev}.dim = {mat}.j GROUP BY {mat}.i)"
        )
        parts.append(
            f"{pfx}n{t} AS (SELECT SQRT(SUM(w * w)) AS n FROM {pfx}w{t})"
        )
        parts.append(
            f"{pfx}v{t} AS MATERIALIZED (SELECT dim, "
            f"ROUND(w / (SELECT n FROM {pfx}n{t}), 6) AS v FROM {pfx}w{t})"
        )
        prev = f"{pfx}v{t}"
    return parts, prev


def _pca_chain(iters: int = PCA_ITERS) -> tuple:
    # Backwards-compatible single-component chain: base + iteration over
    # cf, returned as ("WITH ...", final_vector_cte_name).
    chain, prev = _pca_iter_chain(iters, "cf")
    return "WITH " + ", ".join(_pca_base() + chain), prev


def _pca_sql(iters: int = PCA_ITERS) -> str:
    chain, prev = _pca_chain(iters)
    return chain + f" SELECT dim, ROUND(v, 6) AS loading FROM {prev}"


def _pca_project_sql(iters: int = PCA_ITERS) -> str:
    # Same pinned trajectory, then one dot product per vector against
    # the final loading vector — mirrors profiling.pca_project's
    # broadcast join + id-keyed fold.
    chain, prev = _pca_chain(iters)
    return chain + (
        ", el2 AS (SELECT vec_id, unnest(range(len(embedding))) AS i, "
        "embedding AS v2 FROM embeddings), "
        "x2 AS (SELECT vec_id, i, CAST(v2[i + 1] AS DOUBLE) AS x FROM el2) "
        f"SELECT x2.vec_id AS id, ROUND(SUM(x2.x * {prev}.v), 6) AS score "
        f"FROM x2 JOIN {prev} ON {prev}.dim = x2.i GROUP BY x2.vec_id"
    )


@register("embedding_pca_top", _pca_sql())
def q_embedding_pca_top(spark, sf_dir):
    """Top principal component (operators/profiling.py
    pca_top_component): one distributed covariance aggregate, then the
    15-round power iteration over the collected dims²-bounded matrix,
    trajectory pinned per step at PCA_ITER_DIGITS on both engines."""
    from bigdata_hits_spark.operators.profiling import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_component(emb, iters=PCA_ITERS)


_READABILITY_SQL = (
    "SELECT doc_id, "
    "len(string_split(text, ' ')) AS n_words, "
    "GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences, "
    "len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables, "
    "ROUND(206.835 "
    "- 1.015 * CAST(len(string_split(text, ' ')) AS DOUBLE) "
    "/ CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) "
    "- 84.6 * CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) "
    "/ CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS flesch "
    "FROM documents"
)


@register("readability_docs", _READABILITY_SQL)
def q_readability_docs(spark, sf_dir):
    """Flesch reading-ease per document (operators/textstats.py
    readability): three JVM-side regexp counts over one scan,
    shuffle-free."""
    from bigdata_hits_spark.operators.textstats import readability

    docs = load_table(spark, sf_dir, "documents")
    return readability(docs)


@register("embedding_pca_project", _pca_project_sql())
def q_embedding_pca_project(spark, sf_dir):
    """Every vector's coordinate along the top principal component
    (operators/profiling.py pca_project): the dims-sized loading vector
    broadcast-joins the posexploded corpus and ONE id-keyed hash agg
    folds the dot product — the 1-D curriculum/bucketing score."""
    from bigdata_hits_spark.operators.profiling import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, iters=PCA_ITERS)


def _pca_top2_sql(iters: int = PCA_ITERS) -> str:
    # Deflation unrolled: chain 1 over cf, then cf2 = cf - lam1 v1 v1^T
    # with lam1 = the chain's final norm rounded at 6 (the SAME in-plan
    # scalar pin the Spark side broadcasts), then chain 2 over cf2.
    # Multiplication order matches operators/profiling.py
    # pca_components exactly — (lam * v_i) * v_j, left-associative — so
    # the deflated cells are bit-identical IEEE results on both engines
    # and deliberately NOT re-rounded (exact-decimal half-boundary
    # landmine; see PCA_ITER_DIGITS).
    parts = _pca_base()
    c1, prev1 = _pca_iter_chain(iters, "cf")
    parts += c1
    lam = f"(SELECT ROUND(n, 6) FROM n{iters})"
    parts.append(
        f"cf2 AS MATERIALIZED (SELECT cf.i, cf.j, "
        f"cf.c - {lam} * a.v * b.v AS c "
        f"FROM cf JOIN {prev1} a ON a.dim = cf.i "
        f"JOIN {prev1} b ON b.dim = cf.j)"
    )
    c2, prev2 = _pca_iter_chain(iters, "cf2", "d")
    parts += c2
    return (
        "WITH " + ", ".join(parts) + " "
        f"SELECT 0 AS component, dim, ROUND(v, 6) AS loading FROM {prev1} "
        f"UNION ALL "
        f"SELECT 1 AS component, dim, ROUND(v, 6) AS loading FROM {prev2}"
    )


@register("embedding_pca_top2", _pca_top2_sql())
def q_embedding_pca_top2(spark, sf_dir):
    """Top TWO principal components by power iteration with deflation
    (operators/profiling.py pca_components): one distributed covariance
    aggregate, then both trajectories (and the C - lam v v^T deflation
    between them) over the collected dims²-bounded matrix with the same
    per-step pins.  Orthogonality of the extracted pair is pinned in
    tests/test_profiling.py."""
    from bigdata_hits_spark.operators.profiling import pca_components

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_components(emb, r=2, iters=PCA_ITERS)


#: Every 100th vector plays the query set for the MMR reranker row.
MMR_QUERY_MOD = 100


@register("retrieval_mmr", None)  # rows-only: greedy MMR is a sequential
# argmax chain (each pick changes the next margin) with no tractable SQL
# twin — the kmeans|| precedent.  Determinism and the lam=1 plain-top-k
# equivalence are pinned in tests/test_similarity.py.
def q_retrieval_mmr(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-k
    (operators/similarity.py mmr_topk) for a fixed query subset: exact
    top-pool candidates per query on the cluster, bounded greedy rerank
    driver-side."""
    from bigdata_hits_spark.operators.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % MMR_QUERY_MOD == 0)
    return mmr_topk(emb, queries, k=5, pool=25, lam=0.7)


# --- round 7: personalized PageRank ---------------------------------------

PPR_K = 3


def _ppr_sql() -> str:
    from bigdata_hits_spark.oracles import ppr_oracle

    return ppr_oracle(
        derived.G_PP_EDGES_SQL,
        derived.G_PP_NODES_SQL,
        topic=derived.G_PP_TOPIC,
        k=PPR_K,
    )


@register("ppr_topic_k3", _ppr_sql())
def q_ppr_topic(spark, sf_dir):
    """Personalized PageRank seeded on the topic label set
    (operators/ranking.py personalized_pagerank): PageRank's pinned-edge
    power iteration with teleport mass uniform over the seeds — the
    graph-proximity recommender primitive.  One vector-only exchange
    plus the fused checkpoint+norm job per iteration."""
    from bigdata_hits_spark.operators.ranking import personalized_pagerank

    g = derived.g_pp(spark, sf_dir)
    scores = personalized_pagerank(g, derived.G_PP_TOPIC, k=PPR_K)
    return scores.select("id", F.round(F.col("score"), 7).alias("score"))


def _ppr_weighted_sql() -> str:
    from bigdata_hits_spark.oracles import ppr_oracle

    return ppr_oracle(
        derived.G_PP_EDGES_SQL,
        derived.G_PP_NODES_SQL,
        topic=derived.G_PP_TOPIC,
        k=PPR_K,
        weighted=True,
    )


@register("ppr_topic_weighted_k3", _ppr_weighted_sql())
def q_ppr_topic_weighted(spark, sf_dir):
    """Personalized PageRank with EDGE-STRENGTH transition mass
    (operators/ranking.py personalized_pagerank, weight="weight"): the
    recommendation-with-interaction-counts path — transition probability
    proportional to edge weight instead of out-degree share.  Same
    pinned-edge iteration shape as the unweighted row; only the
    column-normalizer changes (SUM(weight) per src)."""
    from bigdata_hits_spark.operators.ranking import personalized_pagerank

    g = derived.g_pp(spark, sf_dir)
    scores = personalized_pagerank(g, derived.G_PP_TOPIC, k=PPR_K, weight="weight")
    return scores.select("id", F.round(F.col("score"), 7).alias("score"))


# --- round 7: community quality (modularity) -------------------------------


def _modularity_sql() -> str:
    return (
        f"WITH e0 AS ({derived.G_PP_EDGES_SQL}), "
        f"n0 AS ({derived.G_PP_NODES_SQL}), "
        f"{_SYM_CTE}, "
        "am AS (SELECT id, labels AS community FROM n0), "
        "pairc AS (SELECT ca.community AS community, COUNT(*) AS internal_edges "
        "FROM sym JOIN am ca ON ca.id = sym.a JOIN am cb ON cb.id = sym.b "
        "WHERE ca.community = cb.community GROUP BY ca.community), "
        "deg AS (SELECT a AS id, COUNT(*) AS k FROM sym GROUP BY a), "
        "pc AS (SELECT community, COUNT(*) AS n_nodes, "
        "SUM(COALESCE(k, 0)) AS degree_sum "
        "FROM am LEFT JOIN deg ON deg.id = am.id GROUP BY community), "
        "m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM sym) "
        "SELECT pc.community, n_nodes, "
        "COALESCE(internal_edges, 0) AS internal_edges, degree_sum, "
        "ROUND(COALESCE(internal_edges, 0) / (SELECT m FROM m2) "
        "- (degree_sum / (SELECT m FROM m2)) "
        "* (degree_sum / (SELECT m FROM m2)), 6) AS contribution "
        "FROM pc LEFT JOIN pairc ON pairc.community = pc.community"
    )


@register("community_modularity", _modularity_sql())
def q_community_modularity(spark, sf_dir):
    """Newman modularity of the brand partition over the part graph,
    decomposed per community (operators/graphalgs.py
    community_modularity — global Q = SUM(contribution)): the community
    -quality readout for any node clustering.  Two node-sized attaches,
    two hash aggs, one in-plan 2m scalar."""
    from bigdata_hits_spark.operators.graphalgs import community_modularity

    g = derived.g_pp(spark, sf_dir)
    return community_modularity(
        g.edges,
        g.nodes.select("id", F.col("labels").alias("community")),
        sym=_sym(g),
    )


def _modularity_lp_sql() -> str:
    from bigdata_hits_spark.queries_graph import LP_ROUNDS, _lp_ctes

    ctes = _lp_ctes(LP_ROUNDS)
    # sym feeds every LP round plus three modularity aggregates; am feeds
    # three — pin both against DuckDB's re-inlining (the 2^refs landmine).
    ctes[1] = ctes[1].replace("sym AS (", "sym AS MATERIALIZED (", 1)
    ctes.append(
        f"am AS MATERIALIZED (SELECT id, community FROM l{LP_ROUNDS})"
    )
    ctes.append(
        "pairc AS (SELECT ca.community AS community, COUNT(*) AS internal_edges "
        "FROM sym JOIN am ca ON ca.id = sym.a JOIN am cb ON cb.id = sym.b "
        "WHERE ca.community = cb.community GROUP BY ca.community)"
    )
    ctes.append("deg AS (SELECT a AS id, COUNT(*) AS k FROM sym GROUP BY a)")
    ctes.append(
        "pc AS (SELECT community, COUNT(*) AS n_nodes, "
        "SUM(COALESCE(k, 0)) AS degree_sum "
        "FROM am LEFT JOIN deg ON deg.id = am.id GROUP BY community)"
    )
    ctes.append("m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM sym)")
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT pc.community, n_nodes, "
        "COALESCE(internal_edges, 0) AS internal_edges, degree_sum, "
        "ROUND(COALESCE(internal_edges, 0) / (SELECT m FROM m2) "
        "- (degree_sum / (SELECT m FROM m2)) "
        "* (degree_sum / (SELECT m FROM m2)), 6) AS contribution "
        "FROM pc LEFT JOIN pairc ON pairc.community = pc.community"
    )


@register("community_modularity_lp", _modularity_lp_sql())
def q_community_modularity_lp(spark, sf_dir):
    """Modularity of the LABEL-PROPAGATION partition (graphalgs.py
    label_propagation -> community_modularity): the "is the clustering
    real" readout users run after LP — and an integration pin binding the
    two operators' semantics (the oracle feeds the SAME unrolled LP CTE
    into the same modularity aggregation).  LP's every-node-in-sym
    assignment means n_nodes here counts connected nodes only; the
    brand-partition row keeps the all-nodes convention."""
    from bigdata_hits_spark.operators.graphalgs import (
        community_modularity,
        label_propagation,
    )
    from bigdata_hits_spark.queries_graph import LP_ROUNDS

    g = derived.g_pp(spark, sf_dir)
    sym = _sym(g)
    assign = label_propagation(g.edges, k=LP_ROUNDS, sym=sym)
    return community_modularity(g.edges, assign, sym=sym)


# --- round 8: span-level duplication profile -------------------------------

DUPNGRAM_MIN_DOCS = 2


def _dup_ngram_sql() -> str:
    from bigdata_hits_spark.queries_dedup import _SHINGLE_CTES

    h = duck_hex_to_long("md5(shingle)", 8)
    return (
        f"WITH {_SHINGLE_CTES}, "
        f"tok AS (SELECT id, {h} AS h FROM sh), "
        "dfc AS (SELECT h, COUNT(*) AS df FROM tok GROUP BY h), "
        "per AS (SELECT id, COUNT(*) AS n_shingles, "
        f"CAST(SUM(CASE WHEN df >= {DUPNGRAM_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
        "FROM tok JOIN dfc ON dfc.h = tok.h GROUP BY id) "
        "SELECT d.doc_id AS id, COALESCE(n_shingles, 0) AS n_shingles, "
        "COALESCE(n_dup, 0) AS n_dup, "
        "ROUND(COALESCE(n_dup / n_shingles, 0.0), 7) AS dup_fraction "
        "FROM documents d LEFT JOIN per ON per.id = d.doc_id"
    )


@register("dedup_ngram_profile", _dup_ngram_sql())
def q_dedup_ngram_profile(spark, sf_dir):
    """Per-document cross-doc duplicated-shingle fraction
    (operators/dedup.py duplicated_ngram_profile): the span-level
    duplication signal pairwise dedup misses — boilerplate and template
    stitching.  Two narrow long-keyed exchanges; full-corpus output."""
    from bigdata_hits_spark.operators.dedup import duplicated_ngram_profile

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_ngram_profile(docs, min_docs=DUPNGRAM_MIN_DOCS)


# --- round 8: domain reweighting plan --------------------------------------

REWEIGHT_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def _reweight_sql() -> str:
    srcs = ", ".join(f"'{g}'" for g in REWEIGHT_TARGETS)
    case = (
        "CASE source "
        + " ".join(
            f"WHEN '{g}' THEN CAST({float(s)!r} AS DOUBLE)"
            for g, s in REWEIGHT_TARGETS.items()
        )
        + " END"
    )
    return (
        "WITH w AS (SELECT source, COUNT(*) AS n_rows, "
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS weight "
        f"FROM documents WHERE source IN ({srcs}) GROUP BY source), "
        "t AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM w) "
        "SELECT source, n_rows, weight, "
        "ROUND(weight / total, 7) AS current_share, "
        f"{case} AS target_share, "
        f"ROUND({case} * total / weight, 7) AS rate "
        "FROM w CROSS JOIN t"
    )


@register("domain_reweight_plan", _reweight_sql())
def q_domain_reweight_plan(spark, sf_dir):
    """Token-share domain reweighting plan (operators/sampling.py
    domain_reweight_plan): the per-source rates that steer the retained
    mixture to the target token shares, ready to feed mixture_sample.
    One group-keyed agg + an in-plan one-row total attach."""
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.operators.sampling import domain_reweight_plan

    docs = load_table(spark, sf_dir, "documents")
    with_n = docs.select(
        "source", F.size(TX.tokens(F.col("text"))).alias("n_tokens")
    )
    return domain_reweight_plan(with_n, "source", REWEIGHT_TARGETS, weight_col="n_tokens")


# --- round 8: leakage-safe splits + r-D PCA projection ---------------------


def _leakage_split_sql() -> str:
    from bigdata_hits_spark.operators.sampling import _SPLIT_BUCKETS
    from bigdata_hits_spark.queries_dedup import _components_sql

    comp_sql = _components_sql()
    comp_tail = " SELECT id, MIN(comp) AS component FROM reach GROUP BY id"
    ctes = comp_sql.split(comp_tail, 1)[0]
    hex_long = duck_hex_to_long(
        "md5('0|' || CAST(COALESCE(c.component, d.doc_id) AS VARCHAR))", 8
    )
    bucket = f"({hex_long} % {_SPLIT_BUCKETS})"
    # Cumulative 1/10000-granularity ranges from SPLIT_WEIGHTS, identical
    # to the Spark when-chain: [0, 8000) train, [8000, 9000) val, rest.
    return (
        ctes
        + ", comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id) "
        "SELECT d.doc_id, d.source, "
        f"CASE WHEN {bucket} < 8000 THEN 'train' "
        f"WHEN {bucket} < 9000 THEN 'val' ELSE 'test' END AS split "
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"
    )


@register("leakage_safe_split_docs", _leakage_split_sql())
def q_leakage_safe_split_docs(spark, sf_dir):
    """Train/val/test assignment keyed on the MinHash near-dup COMPONENT
    (operators/sampling.py leakage_safe_split): every member of a
    duplicate family lands in the same split, the contamination guard
    row-keyed splitting cannot give.  The oracle recomputes the identical
    components (recursive CTE over the same pair query) and the identical
    md5 bucket from the component key."""
    from bigdata_hits_spark.operators.components import connected_components
    from bigdata_hits_spark.operators.sampling import leakage_safe_split
    from bigdata_hits_spark.queries_dedup import (
        MINHASH_MAX_BUCKET_DECLARED,
        MINHASH_THRESHOLD,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_near_duplicates(
        docs, threshold=MINHASH_THRESHOLD, max_bucket=MINHASH_MAX_BUCKET_DECLARED
    )
    comps = connected_components(pairs)
    return leakage_safe_split(
        docs.select("doc_id", "source"), comps, dict(SPLIT_WEIGHTS)
    )


def _pca_project2_sql(iters: int = PCA_ITERS) -> str:
    # The top-2 deflation chain, then one (vector x component) dot fold —
    # the r-D twin of _pca_project_sql.
    top2 = _pca_top2_sql(iters)
    ctes = top2.split(" SELECT 0 AS component, dim,", 1)[0]
    final1 = f"v{iters}"
    final2 = f"dv{iters}"
    return (
        ctes
        + f", vv AS (SELECT 0 AS component, dim, v FROM {final1} "
        f"UNION ALL SELECT 1 AS component, dim, v FROM {final2}), "
        "el2 AS (SELECT vec_id, unnest(range(len(embedding))) AS i, "
        "embedding AS v2 FROM embeddings), "
        "x2 AS (SELECT vec_id, i, CAST(v2[i + 1] AS DOUBLE) AS x FROM el2) "
        "SELECT x2.vec_id AS id, vv.component, "
        "ROUND(SUM(x2.x * vv.v), 6) AS score "
        "FROM x2 JOIN vv ON vv.dim = x2.i GROUP BY x2.vec_id, vv.component"
    )


@register("embedding_pca_project2", _pca_project2_sql())
def q_embedding_pca_project2(spark, sf_dir):
    """Every vector's coordinates in the top-2 principal subspace
    (operators/profiling.py pca_project_components): the r x dims
    loading relation broadcast-joins the posexploded corpus, one
    (id, component)-keyed hash agg folds both dot products in a single
    pass — the 2-D curriculum/visualization embedding."""
    from bigdata_hits_spark.operators.profiling import pca_project_components

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project_components(emb, r=2, iters=PCA_ITERS)


# --- round 8: graph feature smoothing --------------------------------------

FEATSMOOTH_K = 3
FEATSMOOTH_ALPHA = 0.5


def _featsmooth_sql() -> str:
    # z-score v0 with 12-digit-pinned mu/sd (the standardize discipline):
    # the divide-by-irrational-stddev makes v0 generic, which is what
    # keeps every per-round blend ROUND(...) off decimal half-boundaries
    # (operators/graphalgs.py feature_propagation docstring).  sym and f0
    # feed every unrolled round: MATERIALIZED.
    a = FEATSMOOTH_ALPHA
    ctes = [
        f"e0 AS ({derived.G_PP_EDGES_SQL})",
        _SYM_CTE.replace("sym AS (", "sym AS MATERIALIZED (", 1),
        "st AS (SELECT ROUND(AVG(p_retailprice), 12) AS mu, "
        "ROUND(STDDEV_SAMP(p_retailprice), 12) AS sd FROM part)",
        "f0 AS MATERIALIZED (SELECT 'P' || p_partkey AS id, "
        "(p_retailprice - (SELECT mu FROM st)) / (SELECT sd FROM st) AS v "
        "FROM part)",
    ]
    prev = "f0"
    for i in range(1, FEATSMOOTH_K + 1):
        ctes.append(
            f"n{i} AS (SELECT s.a AS id, AVG(f.v) AS m "
            f"FROM sym s JOIN {prev} f ON f.id = s.b GROUP BY s.a)"
        )
        ctes.append(
            f"f{i} AS MATERIALIZED (SELECT f0.id, "
            f"ROUND({1.0 - a!r} * f0.v + {a!r} * COALESCE(n{i}.m, f0.v), 7) AS v "
            f"FROM f0 LEFT JOIN n{i} ON n{i}.id = f0.id)"
        )
        prev = f"f{i}"
    return "WITH " + ", ".join(ctes) + f" SELECT id, v FROM {prev}"


@register("feature_smooth_parts", _featsmooth_sql())
def q_feature_smooth_parts(spark, sf_dir):
    """Graph feature smoothing with restart (operators/graphalgs.py
    feature_propagation): three rounds of neighborhood averaging of the
    z-scored part price over the part graph — the node-feature twin of
    personalized PageRank, with the same pinned-edge round shape.  v0's
    z-score divides by the 12-digit-pinned stddev, making every rounded
    blend engine-generic."""
    from bigdata_hits_spark.operators.graphalgs import feature_propagation

    g = derived.g_pp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    st = part.agg(
        F.round(F.avg("p_retailprice"), 12).alias("mu"),
        F.round(F.stddev_samp("p_retailprice"), 12).alias("sd"),
    ).first()
    feats = part.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("id"),
        ((F.col("p_retailprice") - F.lit(float(st["mu"]))) / F.lit(float(st["sd"]))).alias("v"),
    )
    return feature_propagation(
        g.edges,
        feats,
        k=FEATSMOOTH_K,
        alpha=FEATSMOOTH_ALPHA,
        value_col="v",
        sym=_sym(g),
    )


# --- round 8: matryoshka truncation ----------------------------------------

TRUNC_DIMS = 16

_TRUNC_SQL = (
    f"WITH el AS (SELECT vec_id, unnest(range({TRUNC_DIMS})) AS i, "
    "embedding AS v FROM embeddings), "
    "x AS (SELECT vec_id, i, CAST(v[i + 1] AS DOUBLE) AS x FROM el), "
    "n AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM x GROUP BY vec_id) "
    "SELECT x.vec_id AS id, x.i AS dim, "
    "ROUND(CASE WHEN nrm > 0 THEN x.x / nrm ELSE 0.0 END, 6) AS value "
    "FROM x JOIN n ON n.vec_id = x.vec_id"
)


@register("embedding_truncate_renorm", _TRUNC_SQL)
def q_embedding_truncate_renorm(spark, sf_dir):
    """Matryoshka truncate-to-16 + L2 renormalization
    (operators/similarity.py truncate_renormalize), exploded to
    (id, dim, value) so every renormalized cell is compared; the
    library form returns the array.  Shuffle-free row-local
    projection; the divide-by-irrational-norm keeps rounded cells
    engine-generic."""
    from bigdata_hits_spark.operators.similarity import truncate_renormalize

    emb = load_table(spark, sf_dir, "embeddings")
    out = truncate_renormalize(emb, TRUNC_DIMS)
    return out.select("id", F.posexplode("tvec").alias("dim", "value"))


# --- round 8: bootstrap confidence intervals --------------------------------

BOOT_B = 32


def _bootstrap_sql() -> str:
    coin = duck_hex_to_long(
        "md5('0|' || CAST(b AS VARCHAR) || '|' || CAST(k AS VARCHAR))", 8
    )
    return (
        f"WITH r AS (SELECT o_orderpriority AS grp, "
        "CAST(o_totalprice AS DOUBLE) AS v, o_orderkey AS k, "
        f"unnest(range({BOOT_B})) AS b FROM orders), "
        f"kept AS (SELECT grp, b, v FROM r WHERE {coin} < 2147483648), "
        "means AS (SELECT grp, b, AVG(v) AS m FROM kept GROUP BY grp, b) "
        "SELECT grp AS o_orderpriority, COUNT(*) AS n_replicates, "
        "ROUND(AVG(m), 6) AS mean, "
        "ROUND(CAST(quantile_cont(m, 0.025) AS DOUBLE), 6) AS lo_ci, "
        "ROUND(CAST(quantile_cont(m, 0.975) AS DOUBLE), 6) AS hi_ci "
        "FROM means GROUP BY grp"
    )


@register("bootstrap_order_value_ci", _bootstrap_sql())
def q_bootstrap_order_value_ci(spark, sf_dir):
    """Subsampling-bootstrap CI for mean order value per priority
    (operators/profiling.py bootstrap_mean_ci): 32 deterministic
    md5-coin half-replicates — an exact INTEGER coin compare, so the
    replicate membership is engine-identical — one (group, replicate)
    hash agg, then the interpolated percentile band over the B
    replicate means."""
    from bigdata_hits_spark.operators.profiling import bootstrap_mean_ci

    orders = load_table(spark, sf_dir, "orders")
    return bootstrap_mean_ci(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", B=BOOT_B
    )


# --- round 8: weighted label propagation -------------------------------------

LPW_K = 3

_SYMW_CTE = (
    "symw AS MATERIALIZED (SELECT a, b, SUM(CAST(weight AS DOUBLE)) AS w FROM ("
    "SELECT src AS a, dst AS b, weight FROM e0 "
    "UNION ALL SELECT dst AS a, src AS b, weight FROM e0"
    ") WHERE a <> b GROUP BY a, b)"
)


def _lpw_sql(k: int = LPW_K) -> str:
    ctes = [f"e0 AS ({derived.G_PP_EDGES_SQL})", _SYMW_CTE]
    ctes.append("l0 AS (SELECT DISTINCT a AS id, a AS community FROM symw)")
    for i in range(1, k + 1):
        ctes.append(
            f"l{i} AS (SELECT id, community FROM ("
            f"SELECT s.a AS id, l.community, "
            "ROW_NUMBER() OVER (PARTITION BY s.a "
            "ORDER BY ROUND(SUM(s.w), 6) DESC, l.community ASC) AS rn "
            f"FROM symw s JOIN l{i - 1} l ON s.b = l.id "
            "GROUP BY s.a, l.community) WHERE rn = 1)"
        )
    return "WITH " + ", ".join(ctes) + f" SELECT id, community FROM l{k}"


@register("graph_label_propagation_weighted", _lpw_sql())
def q_graph_label_propagation_weighted(spark, sf_dir):
    """WEIGHTED label propagation (operators/graphalgs.py
    label_propagation_weighted): per round every node adopts the
    min-of-heaviest incident label by total edge weight — the
    interaction-strength community variant, completing the weighted arm
    of the graph family (weighted HITS/SALSA/PageRank/PPR already
    exist).  l_quantity weights are integer-valued, so the rounded
    SUM(w) tie-compare is exact on both engines."""
    from bigdata_hits_spark.operators.graphalgs import (
        label_propagation_weighted,
        weighted_symmetric_edges,
    )
    from bigdata_hits_spark.plans.iterate import materialize

    g = derived.g_pp(spark, sf_dir)
    sym_w = g.memo(
        ("symw_edges",),
        lambda: materialize(
            weighted_symmetric_edges(g.edges).repartition("b")
        ),
    )
    return label_propagation_weighted(g.edges, k=LPW_K, sym_w=sym_w)


# --- round 8: ANN recall evaluation -----------------------------------------


@register("ann_lsh_recall", None)  # rows-only: the LSH candidate path has no
# SQL twin (the banded sign-signature generator is the ann_lsh_topk
# precedent); invariants and a known-fixture recall value are pinned in
# tests/test_similarity.py.
def q_ann_lsh_recall(spark, sf_dir):
    """Per-query recall@10 of the multiprobe sign-LSH path against the
    exact cosine top-k (operators/similarity.py ann_recall_report) —
    the index-tuning readout; k-bounded semi-join compare."""
    from bigdata_hits_spark.operators.similarity import ann_recall_report

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_recall_report(emb, queries, k=10, method="lsh", multiprobe=True)


# --- round 8: linear multi-touch attribution --------------------------------

MTA_WINDOW_NS = 2 * EV.HOUR_NS


def _mta_sql() -> str:
    return (
        "WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, "
        "event_type, CAST(value AS DOUBLE) AS value FROM events), "
        "c AS (SELECT user_id, event_id AS conv_id, ts_ns AS cts, value AS v "
        "FROM e WHERE event_type = 'purchase'), "
        "t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type, "
        "ts_ns AS tts FROM e WHERE event_type IN ('view', 'click')), "
        "p AS (SELECT c.user_id, c.conv_id, c.v, t.touch_type "
        "FROM c JOIN t ON t.user_id = c.user_id "
        f"AND t.tts BETWEEN c.cts - {MTA_WINDOW_NS} AND c.cts), "
        "n AS (SELECT conv_id, COUNT(*) AS n FROM p GROUP BY conv_id) "
        "SELECT p.user_id, p.touch_type, COUNT(*) AS n_touches, "
        "ROUND(SUM(p.v / n.n), 6) AS credit "
        "FROM p JOIN n ON n.conv_id = p.conv_id "
        "GROUP BY p.user_id, p.touch_type"
    )


@register("events_multitouch_attribution", _mta_sql())
def q_events_multitouch(spark, sf_dir):
    """Linear multi-touch attribution (operators/events.py
    multi_touch_attribution): every purchase's value splits equally
    across the user's views/clicks in the 2h lookback — the
    fairness-over-recency counterpart of the as-of last-touch row.
    Pair generation is a (user, bin)-keyed equi-join (each conversion
    interval replicates to <= 2 bins), never a non-equi join."""
    from bigdata_hits_spark.operators.events import multi_touch_attribution
    from bigdata_hits_spark.queries_events import _events_us

    return multi_touch_attribution(_events_us(spark, sf_dir), window_ns=MTA_WINDOW_NS)


@register("compression_ratio_docs", None)  # rows-only: zlib has no DuckDB
# twin; determinism (fixed level, fixed library) and the
# repetitive-beats-prose ordering are pinned in tests/test_textstats.py.
def q_compression_ratio_docs(spark, sf_dir):
    """zlib compression ratio per document (operators/textstats.py
    compression_stats): the machine-generated/boilerplate signal the
    n-gram repetition fractions miss at long repetition units.
    Arrow-batched kernel, shuffle-free scan."""
    from bigdata_hits_spark.operators.textstats import compression_stats

    return compression_stats(load_table(spark, sf_dir, "documents"))


def _dedup_savings_sql() -> str:
    from bigdata_hits_spark.queries_dedup import _components_sql

    comp_sql = _components_sql()
    comp_tail = " SELECT id, MIN(comp) AS component FROM reach GROUP BY id"
    ctes = comp_sql.split(comp_tail, 1)[0]
    return (
        ctes
        + ", comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id), "
        # 'tok' is taken by the minhash chain - use a distinct CTE name
        "tkc AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents), "
        "j AS (SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component, t.n "
        "FROM tkc t LEFT JOIN comp c ON c.id = t.doc_id) "
        "SELECT component, COUNT(*) AS n_docs, "
        "CAST(SUM(n) AS BIGINT) AS tokens_total, "
        "CAST(SUM(n) - ARG_MIN(n, doc_id) AS BIGINT) AS tokens_saved "
        "FROM j GROUP BY component HAVING COUNT(*) > 1"
    )


@register("dedup_savings_report", _dedup_savings_sql())
def q_dedup_savings_report(spark, sf_dir):
    """Token savings per near-dup family (operators/dedup.py
    dedup_savings): the dedup-ROI readout — tokens removed if each
    MinHash family keeps only its smallest-id survivor.  The oracle
    recomputes the identical components (recursive CTE over the same
    pair query) and the identical arg-min survivor."""
    from bigdata_hits_spark.operators.components import connected_components
    from bigdata_hits_spark.operators.dedup import dedup_savings
    from bigdata_hits_spark.functions import text as TX
    from bigdata_hits_spark.queries_dedup import (
        MINHASH_MAX_BUCKET_DECLARED,
        MINHASH_THRESHOLD,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_near_duplicates(
        docs, threshold=MINHASH_THRESHOLD, max_bucket=MINHASH_MAX_BUCKET_DECLARED
    )
    comps = connected_components(pairs)
    with_n = docs.select("doc_id", F.size(TX.tokens(F.col("text"))).alias("n_tokens"))
    return dedup_savings(with_n, comps)


@register("ann_ivf_quantized_topk", None)  # rows-only like the other
# approximate ANN paths (the numpy quantizer/probe kernels have no SQL
# twin); recall and quantization-error floors pinned in
# tests/test_similarity.py.
def q_ann_ivf_quantized(spark, sf_dir):
    """IVF top-k over the int8-quantized corpus (operators/similarity.py
    ivf_quantized_topk): the 4-8x-smaller-index serving path — bucket
    equi-join candidates, asymmetric quantized scoring, full-precision
    queries."""
    from bigdata_hits_spark.operators.similarity import ivf_quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_quantized_topk(emb, queries, k=10)


@register("ann_ivfq_recall", None)  # rows-only like the other ANN recall
# report (the numpy probe kernel has no SQL twin); the rerank arm's
# exactness is equality-tested against ivf_topk in tests/test_similarity.py.
def q_ann_ivfq_recall(spark, sf_dir):
    """Per-query recall@k of the int8-quantized IVF serving path WITH
    the full-precision rerank arm (operators/similarity.py
    ann_recall_report method='ivfq' over ivf_quantized_topk rerank=True)
    — the measured answer to "what does quantization cost at this
    probe/rerank setting" (VERDICT r8 #3)."""
    from bigdata_hits_spark.operators.similarity import ann_recall_report

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_recall_report(emb, queries, k=10, method="ivfq", rerank=True)


def _toxicity_sql() -> str:
    from bigdata_hits_spark.operators.textstats import (
        TOXICITY_BLOCKLISTS,
        blocklist_pattern,
    )

    counts = ", ".join(
        f"len(regexp_extract_all(lower(text), '{blocklist_pattern(ws)}')) AS n_{c}"
        for c, ws in TOXICITY_BLOCKLISTS.items()
    )
    total = " + ".join(f"n_{c}" for c in TOXICITY_BLOCKLISTS)
    return (
        f"WITH c AS (SELECT doc_id, {counts} FROM documents) "
        f"SELECT doc_id, {', '.join('n_' + c for c in TOXICITY_BLOCKLISTS)}, "
        f"{total} AS n_blocked, "
        f"CASE WHEN {total} > 0 THEN 1 ELSE 0 END AS flagged FROM c"
    )


@register("toxicity_screen_docs", _toxicity_sql())
def q_toxicity_screen(spark, sf_dir):
    """Per-document blocklist/toxicity match counts by category
    (operators/textstats.py toxicity_screen): the corpus-curation screen
    beside pii_screen (VERDICT r8 #6) — whole-word regexp counts over
    lower(text), portable across Java regex and RE2 by restricting the
    alternation to lowercase-alnum words and ASCII ``\\b`` boundaries."""
    from bigdata_hits_spark.operators.textstats import toxicity_screen

    return toxicity_screen(load_table(spark, sf_dir, "documents"))


_EPOCH_SHUFFLE_SQL = (
    "SELECT doc_id, source, ROW_NUMBER() OVER ("
    "ORDER BY md5('0|2|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos "
    "FROM documents"
)


@register("epoch_shuffle_docs", _EPOCH_SHUFFLE_SQL)
def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-2 training order (operators/sampling.py
    epoch_shuffle): contiguous 1-based positions in md5(seed|epoch|key)
    order, re-derivable by any engine with md5 (VERDICT r8 #7).  Spark
    runs the two-phase global_rank (range exchange + bucket-offset
    broadcast); the oracle is the plain ROW_NUMBER over the same
    portable key — hex strings order identically in both engines."""
    from bigdata_hits_spark.operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_shuffle(docs, "doc_id", epoch=2)


@register(
    "dedup_exact_normalized",
    "SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) "
    "AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups "
    "FROM documents GROUP BY 1",
)
def q_dedup_exact_normalized(spark, sf_dir):
    """Exact dedup over canonicalized text (operators/dedup.py
    exact_duplicates_normalized): lowercase + punctuation/whitespace
    collapse before hashing, so trivially-reformatted duplicates join
    one family.  The normalization regex stays in the Java/RE2-identical
    subset; only the md5 key shuffles."""
    return DD.exact_duplicates_normalized(load_table(spark, sf_dir, "documents"))


def _diversity_sql(n: int = 2) -> str:
    return (
        "WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents), "
        f"g AS (SELECT source, list_aggregate(w[i + 1:i + {n}], 'string_agg', ' ') AS ng "
        f"FROM (SELECT source, w, unnest(range(len(w) - {n - 1})) AS i FROM t "
        f"WHERE len(w) >= {n})), "
        "pg AS (SELECT source, ng, COUNT(*) AS c FROM g GROUP BY source, ng) "
        "SELECT source, CAST(SUM(c) AS BIGINT) AS n_ngrams, "
        "COUNT(*) AS n_distinct, "
        "ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 7) AS distinct_ratio "
        "FROM pg GROUP BY source"
    )


@register("diversity_distinct2_source", _diversity_sql())
def q_diversity_distinct2(spark, sf_dir):
    """Distinct-2 diversity per source (operators/textstats.py
    distinct_ngram_diversity): share of bigram occurrences that are
    distinct types — the mode-collapse / templated-content screen
    across documents within a source.  Two-level aggregation, compact
    n-gram keys only."""
    from bigdata_hits_spark.operators.textstats import distinct_ngram_diversity

    return distinct_ngram_diversity(load_table(spark, sf_dir, "documents"))


def _winnow_fp_ctes(k: int = 4, w: int = 4) -> str:
    """The shared winnowing-selection CTE chain ending at ``f`` =
    DISTINCT (doc_id, fp) — MATERIALIZED because both consumers
    reference it more than once (the multi-ref CTE discipline)."""
    cap = DD.WINNOW_POSCAP
    x = duck_hex_to_long(
        f"md5(list_aggregate(wd[i + 1:i + {k}], 'string_agg', ' '))", 8
    )
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents), "
        f"e AS (SELECT doc_id, wd, unnest(range(len(wd) - {k - 1})) AS i "
        f"FROM t WHERE len(wd) >= {k}), "
        f"g AS (SELECT doc_id, i AS pos, {x} AS x FROM e), "
        f"kk AS (SELECT doc_id, pos, x * {cap} + ({cap - 1} - pos) AS key FROM g), "
        "s AS (SELECT doc_id, pos, MIN(key) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin, "
        "COUNT(*) OVER (PARTITION BY doc_id) AS n FROM kk), "
        f"f AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // {cap} AS fp FROM s "
        f"WHERE pos <= GREATEST(n - {w}, 0))"
    )


def _winnow_sql(k: int = 4, w: int = 4) -> str:
    return (
        _winnow_fp_ctes(k, w)
        + ", d AS (SELECT fp, COUNT(*) AS dfq FROM f GROUP BY fp) "
        "SELECT f.doc_id AS id, COUNT(*) AS n_fp, "
        "CAST(SUM(CASE WHEN d.dfq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared, "
        "ROUND(CAST(SUM(CASE WHEN d.dfq > 1 THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ COUNT(*), 7) AS shared_frac "
        "FROM f JOIN d ON f.fp = d.fp GROUP BY f.doc_id"
    )


@register("winnow_dup_report", _winnow_sql())
def q_winnow_dup_report(spark, sf_dir):
    """Winnowing fingerprint duplication report (operators/dedup.py
    winnow_dup_report; Schleimer et al. 2003): per-document share of
    window-minimum k-gram fingerprints shared with other documents —
    the MOSS-style positional copied-content signal at ~2/(w+1) the
    n-gram volume.  The (hash asc, pos desc) tie rule is packed into
    one int64 so both engines select identical fingerprints via a
    plain windowed MIN."""
    return DD.winnow_dup_report(load_table(spark, sf_dir, "documents"))


#: Declared-query fingerprint df cap, deliberately BELOW the sf0.01 max
#: fp doc-frequency (3) so the stop-fingerprint exclusion BINDS under
#: the oracle (32 fps dropped, 25 -> 23 pairs); the operator default
#: (dedup.WINNOW_MAX_DF) is the production value.
WINNOW_MAX_DF_DECLARED = 2


def _winnow_pairs_sql(
    threshold: float = 0.35,
    k: int = 4,
    w: int = 4,
    max_df: int = WINNOW_MAX_DF_DECLARED,
) -> str:
    return (
        _winnow_fp_ctes(k, w)
        + ", dfc AS (SELECT fp FROM f GROUP BY fp "
        f"HAVING COUNT(*) <= {max_df}), "
        "fk AS MATERIALIZED (SELECT f.doc_id, f.fp FROM f JOIN dfc ON f.fp = dfc.fp), "
        "z AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM fk GROUP BY doc_id), "
        "i AS (SELECT f1.doc_id AS id1, f2.doc_id AS id2, COUNT(*) AS n_inter "
        "FROM fk f1 JOIN fk f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id "
        "GROUP BY f1.doc_id, f2.doc_id), "
        "jac AS (SELECT id1, id2, "
        "ROUND(CAST(i.n_inter AS DOUBLE) / (z1.n + z2.n - i.n_inter), 7) AS jaccard "
        "FROM i JOIN z z1 ON z1.doc_id = i.id1 JOIN z z2 ON z2.doc_id = i.id2) "
        f"SELECT id1, id2, jaccard FROM jac WHERE jaccard >= {threshold}"
    )


@register("winnow_dedup_pairs", _winnow_pairs_sql())
def q_winnow_dedup_pairs(spark, sf_dir):
    """Near-duplicate pairs by winnowed-fingerprint Jaccard
    (operators/dedup.py winnow_near_duplicates): the MOSS pairing arm —
    position-aware candidates (any shared >= w+k-1-token run guarantees
    a shared fingerprint) complementing the set-based MinHash screen;
    candidates from an 8-byte-fp self-join, one (id1, id2)-keyed
    verify.  The max_df stop-fingerprint cap is BINDING at sf0.01
    (df-3 fps excluded in both engines), so the quadratic-posting
    guard is exercised, not declared-only."""
    return DD.winnow_near_duplicates(
        load_table(spark, sf_dir, "documents"), max_df=WINNOW_MAX_DF_DECLARED
    )


_OUTLIER_SQL = (
    "WITH med AS MATERIALIZED (SELECT o_orderpriority AS grp, COUNT(*) AS n, "
    "median(o_totalprice) AS med FROM orders GROUP BY 1), "
    "st AS MATERIALIZED (SELECT o.o_orderpriority AS grp, MIN(m.n) AS n, "
    "MIN(m.med) AS med, median(ABS(o.o_totalprice - m.med)) AS mad "
    "FROM orders o JOIN med m ON o.o_orderpriority = m.grp GROUP BY 1), "
    "outl AS (SELECT o.o_orderpriority AS grp, COUNT(*) AS n_outliers "
    "FROM orders o JOIN st ON o.o_orderpriority = st.grp "
    "WHERE ROUND(st.mad, 6) > 0 AND ABS(0.6745 * (o.o_totalprice "
    "- ROUND(st.med, 6)) / ROUND(st.mad, 6)) > 3.5 GROUP BY 1) "
    "SELECT st.grp AS o_orderpriority, st.n, ROUND(st.med, 7) AS med, "
    "ROUND(st.mad, 7) AS mad, COALESCE(outl.n_outliers, 0) AS n_outliers "
    "FROM st LEFT JOIN outl ON st.grp = outl.grp"
)


@register("outlier_price_report", _OUTLIER_SQL)
def q_outlier_price_report(spark, sf_dir):
    """Robust per-group outlier screen by modified z-score
    (operators/profiling.py robust_outlier_report; Iglewicz & Hoaglin
    1993): median/MAD-based so the rule resists the outliers it hunts.
    The z compare uses median and MAD rounded to 6 in BOTH engines (the
    divide-by-derived-quantity discipline); exact interpolated medians
    (Spark percentile == DuckDB median at p*(n-1))."""
    from bigdata_hits_spark.operators.profiling import robust_outlier_report

    orders = load_table(spark, sf_dir, "orders")
    return robust_outlier_report(orders, "o_totalprice", "o_orderpriority")


@register(
    "vocab_coverage_top100",
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), "
    "counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token), "
    "total AS (SELECT SUM(cnt) AS t FROM counts), "
    "ranked AS (SELECT token, cnt, "
    "ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank, "
    "SUM(cnt) OVER (ORDER BY cnt DESC, token "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM counts) "
    "SELECT token, cnt, rank, ROUND(CAST(cum AS DOUBLE) / t, 6) AS cum_share "
    "FROM ranked, total WHERE rank <= 100",
)
def q_vocab_coverage(spark, sf_dir):
    """Tokenizer vocabulary-truncation plan (operators/textstats.py
    vocab_coverage): top-100 corpus tokens with rank + cumulative
    token-mass share.  The cum_share ratio divides exact integer
    prefix sums by the exact integer total in both engines (one
    division, then round), so 6 digits is drift-free."""
    from bigdata_hits_spark.operators.textstats import vocab_coverage

    return vocab_coverage(load_table(spark, sf_dir, "documents"), top_n=100)


@register(
    "bpe_pair_counts_top50",
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), "
    "wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word), "
    "pairs AS (SELECT substring(word, i, 2) AS pair, cnt FROM wc, "
    "UNNEST(generate_series(1, length(word) - 1)) AS t(i)), "
    "pc AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pairs GROUP BY pair), "
    "ranked AS (SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank "
    "FROM pc) SELECT pair, cnt, rank FROM ranked WHERE rank <= 50",
)
def q_bpe_pair_counts(spark, sf_dir):
    """First BPE merge iteration (operators/textstats.py
    bpe_pair_counts): top-50 adjacent character pairs by corpus
    frequency over the frequency-weighted DISTINCT-WORD table.  Pure
    integer counts — exact."""
    from bigdata_hits_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_n=50)


BPE_MERGES = 4


def _bpe_chain_sql(merges: int = BPE_MERGES) -> str:
    # Unrolled CTE per merge round (the kcore unroll precedent).  The
    # greedy non-overlapping left-to-right merge is SQL `replace()` over
    # a chr(31)-delimited encoding where every symbol is wrapped as
    # SEP||sym||SEP: replace scans left-to-right and never rescans its
    # own output — exactly BPE's merge discipline — and the double
    # separator between symbols means a pair pattern can only match at
    # symbol boundaries (no prefix false-positives like (a,a) matching
    # inside [a, ab]).  Assumes chr(31) never occurs in corpus text.
    # ``word`` rides along so the encode row can map symbol counts back.
    S = "chr(31)"
    sql = (
        "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), "
        "wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word), "
        f"e0 AS (SELECT word, regexp_replace(word, '([\\s\\S])', {S} || '\\1' || {S}, 'g') AS e, cnt "
        "FROM wc WHERE length(word) >= 2)"
    )
    for r in range(1, merges + 1):
        p = r - 1
        sql += (
            f", s{r} AS (SELECT string_split(trim(e, {S}), {S} || {S}) AS syms, cnt FROM e{p})"
            f", x{r} AS (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i FROM s{r})"
            f", p{r} AS (SELECT syms[i] AS lft, syms[i + 1] AS rgt, CAST(SUM(cnt) AS BIGINT) AS cnt "
            f"FROM x{r} GROUP BY lft, rgt)"
            f", b{r} AS (SELECT lft, rgt, cnt FROM p{r} ORDER BY cnt DESC, lft, rgt LIMIT 1)"
            f", e{r} AS (SELECT w.word, replace(w.e, {S} || b.lft || {S} || {S} || b.rgt || {S}, "
            f"{S} || b.lft || b.rgt || {S}) AS e, w.cnt FROM e{p} w, b{r} b)"
        )
    return sql


def _bpe_train_sql(merges: int = BPE_MERGES) -> str:
    parts = [
        f'SELECT CAST({r - 1} AS BIGINT) AS merge_idx, lft AS "left", rgt AS "right", '
        f"lft || rgt AS merged, cnt FROM b{r}"
        for r in range(1, merges + 1)
    ]
    return _bpe_chain_sql(merges) + " " + " UNION ALL ".join(parts)


@register("bpe_merges_k4", _bpe_train_sql())
def q_bpe_merges(spark, sf_dir):
    """Multi-merge BPE trainer (operators/textstats.py bpe_train,
    VERDICT r12 #6): BPE_MERGES successive merges, each round
    re-pairing against the symbol table the previous merge produced —
    the tokenizer-training loop whose single step bpe_pair_counts_top50
    verifies.  Exact integer counts and a deterministic (cnt desc,
    left, right) tiebreak make the merge table cell-exact; the oracle
    unrolls the loop as chained CTEs with the greedy merge expressed as
    boundary-safe string replace over a chr(31)-delimited encoding."""
    from bigdata_hits_spark.operators.textstats import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), merges=BPE_MERGES)


def _bpe_encode_sql(merges: int = BPE_MERGES) -> str:
    S = "chr(31)"
    return (
        _bpe_chain_sql(merges)
        + f", sizes AS (SELECT word, len(string_split(trim(e, {S}), {S} || {S})) "
        f"AS n_syms FROM e{merges}), "
        "tokd AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents), "
        "per AS (SELECT source, word, COUNT(*) AS n FROM tokd "
        "WHERE length(word) >= 1 GROUP BY source, word), "
        # length-1 words never enter the merge chain: one symbol each
        "j AS (SELECT p.source, p.n, length(p.word) AS wlen, "
        "COALESCE(s.n_syms, 1) AS n_syms FROM per p "
        "LEFT JOIN sizes s ON s.word = p.word) "
        "SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens, "
        "CAST(SUM(n * wlen) AS BIGINT) AS n_chars, "
        "CAST(SUM(n * n_syms) AS BIGINT) AS n_bpe_symbols, "
        "ROUND(CAST(SUM(n * n_syms) AS DOUBLE) / SUM(n * wlen), 6) "
        "AS symbols_per_char FROM j GROUP BY source"
    )


@register("bpe_encode_by_source", _bpe_encode_sql())
def q_bpe_encode_by_source(spark, sf_dir):
    """ENCODE the corpus under the bpe_merges_k4-trained symbol table
    (operators/textstats.py bpe_encode_token_counts): per source, the
    corpus position count under the learned vocabulary plus
    symbols_per_char — the token-budget readout a pretraining mix
    consumes and the first tokenizer-quality signal (which sources the
    learned merges compress).  Exact integer sums in both engines; one
    double division then round, drift-free."""
    from bigdata_hits_spark.operators.textstats import bpe_encode_token_counts

    return bpe_encode_token_counts(
        load_table(spark, sf_dir, "documents"), merges=BPE_MERGES
    )


#: Dedup window for the DECLARED events row: the synthetic corpus's
#: per-user cadence is minutes, so the operator's 5 s production default
#: never fires there; 10 min makes the drop predicate BINDING at sf0.01
#: (27 drops) so the gate actually exercises the filter.
EVENTS_DEDUP_WINDOW_NS = 600_000_000_000


@register(
    "events_dedup_consecutive",
    "WITH o AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type, value "
    "FROM events), "
    "l AS (SELECT *, "
    "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS pt, "
    "LAG(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS pts FROM o) "
    "SELECT event_id, user_id, ts_ns, event_type, value FROM l "
    "WHERE NOT COALESCE(pt = event_type "
    f"AND ts_ns - pts <= {EVENTS_DEDUP_WINDOW_NS}, FALSE)",
)
def q_events_dedup_consecutive(spark, sf_dir):
    """Ingestion telemetry dedup (operators/events.py dedup_consecutive):
    drop events repeating the same user's same event_type within the
    window of the previous RAW event — at-least-once-delivery replays
    and double-clicks.  Pure lag comparison, one shuffle on user_id;
    passthrough columns only, so the compare is exact."""
    from bigdata_hits_spark.operators.events import dedup_consecutive
    from bigdata_hits_spark.queries_events import _events_us

    return dedup_consecutive(
        _events_us(spark, sf_dir), window_ns=EVENTS_DEDUP_WINDOW_NS
    )


def _survivors_quality_sql() -> str:
    # Reuse the dedup_components recursive-CTE clustering verbatim and
    # elect per-cluster argmax-quality survivors on top of it.
    from bigdata_hits_spark.queries_dedup import _components_sql
    from bigdata_hits_spark.queries_text import QUALITY_SQL_EXPR

    comp_sql = _components_sql()
    ctes, final = comp_sql.rsplit(" SELECT id, MIN(comp)", 1)
    return (
        ctes
        + ", comp AS (SELECT id, MIN(comp)"
        + final
        + "), tq AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), "
        f"q AS (SELECT doc_id, {QUALITY_SQL_EXPR} AS quality FROM tq), "
        "m AS (SELECT q.doc_id, q.quality, COALESCE(c.component, q.doc_id) AS component "
        "FROM q LEFT JOIN comp c ON c.id = q.doc_id), "
        "sz AS (SELECT component, COUNT(*) AS n_members FROM m GROUP BY component), "
        "r AS (SELECT m.doc_id, m.quality, sz.n_members, ROW_NUMBER() OVER "
        "(PARTITION BY m.component ORDER BY m.quality DESC, m.doc_id) AS rn "
        "FROM m JOIN sz ON sz.component = m.component) "
        "SELECT doc_id, quality, n_members FROM r WHERE rn = 1"
    )


@register("dedup_survivors_quality", _survivors_quality_sql())
def q_dedup_survivors_quality(spark, sf_dir):
    """Quality-ranked survivor election (operators/components.py
    dedup_survivors_ranked): MinHash near-dup pairs -> connected
    components -> keep each cluster's HIGHEST-quality member (ties by
    min doc_id), singletons pass through — the production dedup policy,
    vs dedup_components' min-id convention.  Ordering runs on the
    7-digit-rounded quality on BOTH engines (the quality_ntile_gate
    parity discipline), so the argmax is drift-free."""
    from bigdata_hits_spark.functions.text import quality_score, round_portable
    from bigdata_hits_spark.operators.components import dedup_survivors_ranked
    from bigdata_hits_spark.queries_dedup import (
        MINHASH_MAX_BUCKET_DECLARED,
        MINHASH_THRESHOLD,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", round_portable(quality_score(F.col("text"))).alias("quality")
    )
    pairs = DD.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"),
        threshold=MINHASH_THRESHOLD,
        max_bucket=MINHASH_MAX_BUCKET_DECLARED,
    )
    return dedup_survivors_ranked(docs, pairs, "quality")


@register("ann_ivfpq_topk", None)  # rows-only like the other approximate
# ANN paths (numpy codebook training has no SQL twin); recall floor and
# rerank exactness pinned in tests/test_similarity.py.
def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-k (operators/similarity.py ivfpq_topk): coarse IVF
    probe + asymmetric scoring against the 8-byte product-quantization
    reconstruction, full-precision rerank of the survivor pool — the
    32x-smaller-index serving shape (FAISS IVFPQ)."""
    from bigdata_hits_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_topk(emb, queries, k=10, rerank=True)


def _degree_dist_sql() -> str:
    # Degrees over the SAME symmetric distinct non-loop edge set the
    # whole graph family uses (_SYM_CTE).
    return (
        f"WITH e0 AS ({derived.G_PP_EDGES_SQL}), "
        f"{_SYM_CTE}, "
        "d AS (SELECT a AS id, COUNT(*) AS degree FROM sym GROUP BY a) "
        "SELECT degree, COUNT(*) AS n_nodes, "
        "ROUND(CAST(SUM(COUNT(*)) OVER (ORDER BY degree DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
        "/ (SELECT COUNT(*) FROM d), 6) AS ccdf "
        "FROM d GROUP BY degree"
    )


@register("graph_degree_distribution", _degree_dist_sql())
def q_graph_degree_distribution(spark, sf_dir):
    """Undirected degree histogram with the complementary CDF — the
    first diagnostic of any graph workload (power-law check, hub-cap
    sizing for the triangle/link-prediction degree caps).  One hash agg
    over symmetrized 8-byte-keyed edges, one tiny window over the
    DISTINCT-DEGREE rows (hundreds, not nodes).  ccdf = share of nodes
    with degree >= this row's."""
    from bigdata_hits_spark.queries_graph import _sym

    g = derived.g_pp(spark, sf_dir)
    sym = _sym(g)
    deg = (
        sym.select(F.col("a").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("degree").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "degree",
            "n_nodes",
            F.round(
                F.sum("n_nodes").over(w).cast("double") / F.col("__n"), 6
            ).alias("ccdf"),
        )
    )


@register(
    "graph_reciprocity",
    f"WITH e0 AS ({derived.G_PP_EDGES_SQL}), "
    "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), "
    "r AS (SELECT COUNT(*) AS n_edges, "
    "SUM(EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)::int) "
    "AS n_reciprocal FROM e) "
    "SELECT n_edges, CAST(n_reciprocal AS BIGINT) AS n_reciprocal, "
    "ROUND(CAST(n_reciprocal AS DOUBLE) / n_edges, 6) AS reciprocity FROM r",
)
def q_graph_reciprocity(spark, sf_dir):
    """Directed-edge reciprocity of g_pp: the share of distinct non-loop
    edges whose reverse also exists — the standard directed-graph health
    metric (1.0 = effectively undirected, ~0 = feed-forward).  One
    left-semi self-join on 8-byte-keyed (src, dst) pairs + a grand agg;
    the oracle's EXISTS subquery is the same semi-join."""
    g = derived.g_pp(spark, sf_dir)
    e = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    m = recip.agg(F.count(F.lit(1)).alias("n_reciprocal"))
    return (
        n.crossJoin(m)
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(
                F.col("n_reciprocal").cast("double") / F.col("n_edges"), 6
            ).alias("reciprocity"),
        )
    )


#: k-truss parameter and oracle unroll: support >= KTRUSS_K - 2.
#: k=4 keeps a non-degenerate truss at BOTH declared scales (130 edges
#: at sf0.01, 162 at sf0.1; the 5-truss is empty at sf0.1).  Measured
#: peeling fixpoint depth at sf0.01 is 18 rounds; rounds past the
#: fixpoint drop nothing (the kcore unroll argument), so 22 only needs
#: to be an upper bound.
KTRUSS_K = 4
KTRUSS_UNROLL = 22


def _ktruss_sql(k: int = KTRUSS_K, unroll: int = KTRUSS_UNROLL) -> str:
    # Same AS MATERIALIZED discipline as _kcore_sql: each round
    # references its predecessor multiple times; inlined, the scan tree
    # grows exponentially with unroll depth.
    ctes = [
        f"e0 AS MATERIALIZED ({derived.G_PP_EDGES_SQL})",
        _SYM_CTE.replace("sym AS (", "sym AS MATERIALIZED (", 1),
        "o0 AS MATERIALIZED (SELECT a AS lo, b AS hi FROM sym WHERE a < b)",
    ]
    prev = "o0"
    for i in range(1, unroll + 1):
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z "
            f"FROM {prev} w1 JOIN {prev} w2 ON w2.lo = w1.lo AND w1.hi < w2.hi "
            f"JOIN {prev} w3 ON w3.lo = w1.hi AND w3.hi = w2.hi)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT lo, hi, COUNT(*) AS cnt FROM ("
            f"SELECT x AS lo, y AS hi FROM t{i} UNION ALL "
            f"SELECT x, z FROM t{i} UNION ALL SELECT y, z FROM t{i}) GROUP BY lo, hi)"
        )
        ctes.append(
            f"o{i} AS MATERIALIZED (SELECT o.lo, o.hi FROM {prev} o "
            f"JOIN s{i} s ON s.lo = o.lo AND s.hi = o.hi AND s.cnt >= {k - 2})"
        )
        prev = f"o{i}"
    return "WITH " + ", ".join(ctes) + f" SELECT lo, hi FROM {prev}"


@register("graph_ktruss", _ktruss_sql())
def q_graph_ktruss(spark, sf_dir):
    """Edges of the KTRUSS_K-truss (k=4: support >= 2) of the part->part graph
    (operators/graphalgs.py k_truss: iterative triangle-support peel) —
    the EDGE-grained cohesion filter beside kcore's degree peel.  The
    oracle unrolls the identical peel as triangle-support CTE rounds
    past the measured fixpoint depth (the kcore oracle pattern);
    surviving (lo, hi) pairs are DATA values, so the compare is
    exact."""
    from bigdata_hits_spark.operators.graphalgs import k_truss

    g = derived.g_pp(spark, sf_dir)
    return k_truss(g.edges, KTRUSS_K, sym=_sym(g))


#: Vocabulary size for the per-source OOV screen.
OOV_VOCAB_N = 24


@register(
    "vocab_oov_by_source",
    "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token), "
    "vocab AS (SELECT token FROM counts "
    f"ORDER BY cnt DESC, token LIMIT {OOV_VOCAB_N}), "
    "j AS (SELECT t.source, (v.token IS NOT NULL) AS known FROM tok t "
    "LEFT JOIN vocab v ON v.token = t.token) "
    "SELECT source, COUNT(*) AS n_tokens, "
    "CAST(SUM((NOT known)::int) AS BIGINT) AS n_oov, "
    "ROUND(CAST(SUM((NOT known)::int) AS DOUBLE) / COUNT(*), 6) AS oov_rate "
    "FROM j GROUP BY source",
)
def q_vocab_oov_by_source(spark, sf_dir):
    """Per-source out-of-vocabulary rate against the corpus top-N vocab
    (operators/textstats.py vocab_coverage's truncation, applied): the
    domain-mix diagnostic for a fixed tokenizer budget — a source whose
    oov_rate spikes is the one the vocab underserves.  The vocab is a
    distributed top-N (orderBy/limit) broadcast to the token stream;
    one hash agg per source.  Integer counts + one rounded division —
    exact."""
    from bigdata_hits_spark.functions.text import tokens as tok_fn

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tok_fn(F.col("text"))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(OOV_VOCAB_N)
        .select("token", F.lit(True).alias("known"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("known").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


@register("streaming_hourly_agg", None)  # incremental execution: rows-only
def q_streaming_hourly_agg(spark, sf_dir):
    """Hourly event counts computed by the STRUCTURED STREAMING twin
    (streaming/jobs.py hourly_event_counts_stream): the events parquet
    is staged as a file-source stream, drained with
    ``trigger(availableNow=True)`` into a memory sink, and the result
    compared row-for-row against the batch operator INSIDE the query —
    any stream/batch divergence raises instead of returning (VERDICT
    r10 #4: the 642-LoC streaming surface gets a declared row the
    per-round harness exercises, not just pytest).  Streaming output
    order and micro-batch boundaries are engine-internal, so the row is
    declared rows-only; the equivalence assertion inside IS the value
    check, against the batch plan DuckDB already verifies via
    events_hourly_agg."""
    import os
    import shutil
    import tempfile

    from bigdata_hits_spark.operators.events import hourly_event_counts
    from bigdata_hits_spark.streaming.jobs import (
        hourly_event_counts_stream,
        read_events_stream,
        run_to_memory,
    )

    # Unique per-invocation staging dir: a fixed path would let two
    # concurrent runs (bench + pytest) clobber each other mid-stream.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stage = tempfile.mkdtemp(prefix=".tmp_stream_hourly_", dir=repo_root)
    try:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "part-0.parquet"),
        )
        run_to_memory(
            hourly_event_counts_stream(read_events_stream(spark, stage)),
            "t_stream_hourly_agg",
        )
        # Detach from the memory sink and the staging dir before cleanup.
        streamed = spark.table("t_stream_hourly_agg").localCheckpoint()
    finally:
        spark.catalog.dropTempView("t_stream_hourly_agg")
        shutil.rmtree(stage, ignore_errors=True)
    # Pinned: the batch twin feeds THREE actions (count + both exceptAll
    # directions); unpinned it re-executed per action (r13 optimization —
    # same rows, one execution).
    batch = hourly_event_counts(load_table(spark, sf_dir, "events")).select(
        *streamed.columns
    ).localCheckpoint()
    n_stream, n_batch = streamed.count(), batch.count()
    if (
        n_stream != n_batch
        or streamed.exceptAll(batch).count()
        or batch.exceptAll(streamed).count()
    ):
        raise AssertionError(
            f"stream-batch divergence in hourly counts: "
            f"{n_stream} streamed vs {n_batch} batch rows"
        )
    return streamed


@register("streaming_sessionize", None)  # incremental execution: rows-only
def q_streaming_sessionize(spark, sf_dir):
    """Gap sessionization computed by the STATEFUL streaming twin
    (streaming/jobs.py sessionize_stream, ``applyInPandasWithState``):
    the events are staged as TWO time-split parquet files and drained
    with ``maxFilesPerTrigger=1`` + ``trigger(availableNow=True)``, so
    per-user session state genuinely carries across a micro-batch
    boundary — a user whose events straddle the median timestamp has
    the open session resumed in batch 2 (VERDICT r11 #7: the stateful
    streaming surface gets a declared row, not just pytest).

    Staging re-encodes time as bigint epoch-nanos (``ts_ns AS ts``) so
    the stream reader's dtype dispatch round-trips EXACT nanos; a
    timestamp re-encode would truncate to micros and could split a gap
    differently from the batch plan.  Update-sink semantics: the LATEST
    emission per (user_id, session_idx) is the session's final shape,
    and since a session only ever grows within its key,
    ``max(struct(n_events, end_s, start_s))`` selects it
    deterministically.  Stream/batch divergence vs the window-function
    operator (whose plan DuckDB already verifies via events_sessionize)
    raises instead of returning; micro-batch boundaries make emission
    multiplicity engine-internal, so the row is declared rows-only —
    the in-query equivalence IS the value check."""
    import os
    import shutil
    import tempfile

    from bigdata_hits_spark.operators.events import sessionize
    from bigdata_hits_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
        sessionize_stream,
    )

    # Unique per-invocation staging dir (concurrent bench + pytest safe).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stage = tempfile.mkdtemp(prefix=".tmp_stream_sessionize_", dir=repo_root)
    ev = load_table(spark, sf_dir, "events")
    med = ev.select(F.expr("approx_percentile(ts_ns, 0.5)")).first()[0]
    raw = ev.select(
        *[c for c in ev.columns if c not in ("ts", "ts_ns")],
        F.col("ts_ns").alias("ts"),
    )
    try:
        halves = (raw.filter(F.col("ts") <= med), raw.filter(F.col("ts") > med))
        for i, half in enumerate(halves):
            tmp = os.path.join(stage, f"_write{i}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            os.replace(os.path.join(tmp, part), os.path.join(stage, f"{i}.parquet"))
            shutil.rmtree(tmp)
            # FileStreamSource orders by modification time; pin it
            # explicitly so "all ts <= median" is always batch 1 and the
            # per-user in-order contract holds across the boundary.
            os.utime(os.path.join(stage, f"{i}.parquet"), (1_000_000 + i, 1_000_000 + i))
        run_to_memory(
            sessionize_stream(
                read_events_stream(spark, stage, max_files_per_trigger=1)
            ),
            "t_stream_sessionize",
            output_mode="update",
        )
        streamed = spark.table("t_stream_sessionize").localCheckpoint()
    finally:
        spark.catalog.dropTempView("t_stream_sessionize")
        shutil.rmtree(stage, ignore_errors=True)
    # Both sides pinned: latest feeds count + 2 exceptAll + the returned
    # sink write, the batch twin count + 2 exceptAll — unpinned, each
    # re-executed its full plan per action (r13 optimization — same
    # rows, one execution each).
    latest = (
        streamed.groupBy("user_id", "session_idx")
        .agg(F.max(F.struct("n_events", "end_s", "start_s")).alias("s"))
        .select("user_id", "session_idx", "s.n_events", "s.start_s", "s.end_s")
        .localCheckpoint()
    )
    batch = sessionize(ev).select(*latest.columns).localCheckpoint()
    n_stream, n_batch = latest.count(), batch.count()
    if (
        n_stream != n_batch
        or latest.exceptAll(batch).count()
        or batch.exceptAll(latest).count()
    ):
        raise AssertionError(
            f"stream-batch divergence in sessionization: "
            f"{n_stream} streamed vs {n_batch} batch sessions"
        )
    return latest


@register("streaming_incremental_dedup", None)  # incremental execution: rows-only
def q_streaming_incremental_dedup(spark, sf_dir):
    """Continuous-corpus-construction dedup computed by the STREAMING
    twin (streaming/jobs.py incremental_dedup_stream, ``foreachBatch`` +
    a persistent signature-only store): the documents table is staged as
    TWO parity-split parquet files (even doc_ids = the "historical
    crawl", odd = the "new crawl", the same split the oracle-green
    dedup_minhash_incremental row uses) and drained with
    ``maxFilesPerTrigger=1`` + ``trigger(availableNow=True)``, so batch
    2's docs are deduped against a signature store that batch 1 wrote —
    yesterday's corpus is never re-read, its state is 16 longs/doc
    (VERDICT r12 #2: the production crawl-ingest path gets a declared
    row, not just pytest).

    Equivalence is asserted IN-QUERY against the batch operator applied
    sequentially (minhash_dedup_incremental on evens-vs-empty, then
    odds-vs-evens' survivor signatures — deterministic: banded candidate
    generation + min-id survivor election); any divergence raises
    instead of returning.  Micro-batch boundaries and file-sink append
    multiplicity are engine-internal, so the row is declared rows-only —
    the in-query equivalence IS the value check, against the operator
    whose stage-2 estimate DuckDB already verifies via
    dedup_minhash_incremental."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from bigdata_hits_spark.operators.dedup import (
        NUM_HASHES,
        minhash_dedup_incremental,
    )
    from bigdata_hits_spark.streaming.jobs import incremental_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stage = tempfile.mkdtemp(prefix=".tmp_stream_dedup_", dir=repo_root)
    src = os.path.join(stage, "src")
    os.makedirs(src)
    try:
        halves = (
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
        for i, half in enumerate(halves):
            tmp = os.path.join(stage, f"_write{i}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            os.replace(os.path.join(tmp, part), os.path.join(src, f"{i}.parquet"))
            shutil.rmtree(tmp)
            # FileStreamSource orders by modification time; pin it so the
            # even half is ALWAYS the first micro-batch (the store's
            # contents at batch 2 are then deterministic).
            os.utime(os.path.join(src, f"{i}.parquet"), (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        store = os.path.join(stage, "sig_store")
        out = os.path.join(stage, "survivors")
        q = incremental_dedup_stream(
            stream, store, out, checkpoint=os.path.join(stage, "ckpt")
        )
        q.awaitTermination()
        streamed = (
            spark.read.parquet(out)
            .select("doc_id", "source", F.length("text").alias("n_chars"))
            .localCheckpoint()  # detach from the staging dir before cleanup
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # Batch twin: the same two-step incremental computation, no streaming
    # machinery — foreachBatch's sequential micro-batch discipline is
    # exactly this fold.
    sig_schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"h{j}", T.LongType()) for j in range(NUM_HASHES)]
    )
    empty_store = spark.createDataFrame([], sig_schema)
    surv1, sigs1 = minhash_dedup_incremental(halves[0], empty_store)
    surv2, _ = minhash_dedup_incremental(halves[1], sigs1.localCheckpoint())
    # Pinned: the twin is the two full dedup pipelines; unpinned it
    # re-executed BOTH per action (count + 2 exceptAll — r13
    # optimization, same rows, one execution).
    batch = surv1.unionByName(surv2).select(
        "doc_id", "source", F.length("text").alias("n_chars")
    ).localCheckpoint()
    n_stream, n_batch = streamed.count(), batch.count()
    if (
        n_stream != n_batch
        or streamed.exceptAll(batch).count()
        or batch.exceptAll(streamed).count()
    ):
        raise AssertionError(
            f"stream-batch divergence in incremental dedup: "
            f"{n_stream} streamed vs {n_batch} batch survivors"
        )
    return streamed


def _assortativity_sql() -> str:
    # Exact decimal/hugeint sums, then one mirrored double expression:
    # double SUMS would be order-nondeterministic across partitions, so
    # both engines sum in exact integer arithmetic and only the final
    # Pearson assembly runs in floating point (deterministic given exact
    # inputs; round 6 leaves ~9 orders of margin over double noise).
    return (
        f"WITH e0 AS ({derived.G_PP_EDGES_SQL}), "
        + _SYM_CTE
        + ", deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a), "
        "j AS (SELECT d1.deg AS deg_a, d2.deg AS deg_b FROM sym s "
        "JOIN deg d1 ON d1.a = s.a JOIN deg d2 ON d2.a = s.b), "
        "agg AS (SELECT COUNT(*) AS n_edges, "
        "CAST(SUM(CAST(deg_a AS HUGEINT)) AS DOUBLE) AS sx, "
        "CAST(SUM(CAST(deg_b AS HUGEINT)) AS DOUBLE) AS sy, "
        "CAST(SUM(CAST(deg_a * deg_b AS HUGEINT)) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(deg_a * deg_a AS HUGEINT)) AS DOUBLE) AS sxx, "
        "CAST(SUM(CAST(deg_b * deg_b AS HUGEINT)) AS DOUBLE) AS syy "
        "FROM j) "
        "SELECT n_edges, ROUND("
        "(CAST(n_edges AS DOUBLE) * sxy - sx * sy) / "
        "sqrt((CAST(n_edges AS DOUBLE) * sxx - sx * sx) * "
        "(CAST(n_edges AS DOUBLE) * syy - sy * sy)), 6) AS assortativity "
        "FROM agg"
    )


@register("graph_assortativity", _assortativity_sql())
def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of g_pp (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetric edge set — the
    one-number mixing diagnostic (hubs-link-hubs vs hubs-link-leaves)
    that decides whether degree-skew mitigations (salting, broadcast
    thresholds) matter on a given corpus graph.  Plan: one degree
    aggregate, two node-id equi-joins to attach endpoint degrees, one
    grand aggregate of exact decimal sums — degrees shuffle as scalars,
    never edge bodies, and every sum is map-side-combinable.  The
    Pearson assembly runs in doubles AFTER the exact sums, mirrored
    expression-for-expression in the oracle, so the compare is exact."""
    g = derived.g_pp(spark, sf_dir)
    sym = _sym(g)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select("a", F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b"))
    j = sym.join(da, "a").join(db, "b")
    dec = "decimal(38,0)"
    agg = j.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.col("deg_a").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("deg_b").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("deg_a") * F.col("deg_b")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("deg_a") * F.col("deg_a")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("deg_b") * F.col("deg_b")).cast(dec)).cast("double").alias("syy"),
    )
    n_d = F.col("n_edges").cast("double")
    return agg.select(
        "n_edges",
        F.round(
            (n_d * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n_d * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n_d * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "vocab_hapax_by_source",
    "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "c AS (SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY source, token) "
    "SELECT source, COUNT(*) AS n_types, "
    "CAST(SUM((cnt = 1)::int) AS BIGINT) AS n_hapax, "
    "ROUND(CAST(SUM((cnt = 1)::int) AS DOUBLE) / COUNT(*), 6) AS hapax_rate "
    "FROM c GROUP BY source",
)
def q_vocab_hapax_by_source(spark, sf_dir):
    """Per-source hapax-legomena share: the fraction of a source's
    distinct token types that occur exactly once there — the third
    tokenizer-planning diagnostic beside vocab_coverage (truncation
    cost) and vocab_oov (fixed-budget miss rate): a high hapax share
    flags a source whose tail vocabulary a learned tokenizer cannot
    amortize (typos, ids, boilerplate noise).  Two hash aggregates —
    (source, token) counts then a per-source rollup — both map-side
    combinable; integer counts + one rounded division, exact."""
    from bigdata_hits_spark.functions.text import tokens as tok_fn

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tok_fn(F.col("text"))).alias("token"))
    per_type = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_type.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_hapax"
            ),
        )
        .select(
            "source",
            "n_types",
            "n_hapax",
            F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 6).alias(
                "hapax_rate"
            ),
        )
    )


#: Chunking defaults sized so the synthetic ~54-token documents emit a
#: realistic 1-4 chunks each (a production 2k/1.5k setting would leave
#: every test doc single-chunk and the overlap path dead).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def _chunk_sql() -> str:
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        f"k AS (SELECT doc_id, w, CASE WHEN len(w) <= {c} THEN 1 "
        f"ELSE 1 + CAST(CEIL((len(w) - {c}) / {s}.0) AS INT) END AS nc FROM t), "
        "e AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS i FROM k) "
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, "
        f"CAST(len(list_slice(w, i*{s} + 1, i*{s} + {c})) AS BIGINT) AS n_chunk_tokens, "
        f"array_to_string(list_slice(w, i*{s} + 1, i*{s} + {c}), ' ') AS chunk_text "
        "FROM e"
    )


@register("chunk_docs_tokens", _chunk_sql())
def q_chunk_docs_tokens(spark, sf_dir):
    """Fixed-size token-window chunks with overlap
    (operators/textstats.py chunk_tokens): every document exploded into
    CHUNK_TOKENS-token windows at CHUNK_STRIDE offsets — the
    pretraining-prep step that turns variable-length documents into
    context-sized training examples, with the 8-token overlap
    preserving cross-boundary context.  Chunk starts, lengths, and
    texts are exact integer/slice arithmetic on the whitespace token
    array, so the DuckDB twin (generate_series + list_slice) compares
    cell-exact.  Zero shuffles: one sequence+explode+slice per row,
    data-parallel with the scan."""
    from bigdata_hits_spark.operators.textstats import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, CHUNK_TOKENS, CHUNK_STRIDE)


@register(
    "chunk_padding_waste",
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), "
    f"k AS (SELECT doc_id, source, w, CASE WHEN len(w) <= {CHUNK_TOKENS} THEN 1 "
    f"ELSE 1 + CAST(CEIL((len(w) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT) END AS nc FROM t), "
    f"e AS (SELECT source, len(list_slice(w, i*{CHUNK_STRIDE} + 1, "
    f"i*{CHUNK_STRIDE} + {CHUNK_TOKENS})) AS nt "
    "FROM (SELECT source, w, unnest(generate_series(0, nc - 1)) AS i FROM k)) "
    "SELECT source, COUNT(*) AS n_chunks, "
    f"CAST(SUM(nt) AS BIGINT) AS n_tokens, "
    f"CAST(SUM({CHUNK_TOKENS} - nt) AS BIGINT) AS n_pad_tokens, "
    f"ROUND(CAST(SUM({CHUNK_TOKENS} - nt) AS DOUBLE) / ({CHUNK_TOKENS} * COUNT(*)), 6) AS pad_frac "
    "FROM e GROUP BY source",
)
def q_chunk_padding_waste(spark, sf_dir):
    """Per-source padding waste if every CHUNK_TOKENS-token chunk were
    padded to the full context window: the diagnostic that decides
    between naive pad-to-length batching and packing
    (pack_docs_nextfit) — a source with high pad_frac (many short
    tails) is where packing buys its throughput.  One zero-shuffle
    chunk explode (operators/textstats.py chunk_tokens) then a single
    map-side-combinable hash aggregate on source; integer sums + one
    rounded division, exact against the DuckDB twin."""
    from bigdata_hits_spark.operators.textstats import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_tokens(
        docs.select(F.col("source").alias("doc_id"), "text"),
        CHUNK_TOKENS,
        CHUNK_STRIDE,
    ).withColumnRenamed("doc_id", "source")
    return ch.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
        F.sum(F.lit(CHUNK_TOKENS) - F.col("n_chunk_tokens")).alias("n_pad_tokens"),
        F.round(
            F.sum(F.lit(CHUNK_TOKENS) - F.col("n_chunk_tokens")).cast("double")
            / (F.lit(CHUNK_TOKENS) * F.count(F.lit(1))),
            6,
        ).alias("pad_frac"),
    )


# --- round 13: classifier training (the quality/lang filter model) --------

#: Four full-batch rounds at lr = 0.5 — enough for the trajectory to be
#: non-trivial (weights move every round) while the unrolled oracle
#: stays 2 CTEs per round.
LOGREG_ITERS = 4
LOGREG_LR = 0.5

#: The surface-feature columns (bias first) and their declared-output
#: aliases, shared by both logreg rows and their oracles.
_LOGREG_FEATS = ["f_bias", "f_loglen", "f_space", "f_vowel"]

#: DuckDB twin of _logreg_features(): y + f0..f3 from documents.  The
#: Spark expressions below compute the literally identical doubles
#: (integer length arithmetic, one cast-double division, ln/10) so the
#: only cross-engine float risk is last-ulp exp() inside the averaged
#: sigmoid — absorbed by the ROUND(GRAD_DIGITS) on every gradient
#: component (operators/classify.py module docstring).
_LOGREG_FEATS_CTE = (
    "feats AS MATERIALIZED (SELECT "
    "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
    "1.0 AS f0, "
    "ln(1 + n_chars) / 10.0 AS f1, "
    "CAST(n_chars - length(replace(text, ' ', '')) AS DOUBLE) / n_chars AS f2, "
    "CAST(n_chars - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE) "
    "/ n_chars AS f3 FROM documents)"
)


def _logreg_features(docs, keep: tuple = ()):
    """(features..., label) projection for the lang-id filter model:
    bias, log-length (scaled /10 to keep gradients O(0.1)), space
    ratio, vowel ratio — all exact integer counts + one double
    division except ln (last-ulp engine risk, absorbed downstream).
    ``keep`` carries passthrough columns (e.g. source) for scoring."""
    n = F.col("n_chars")
    return docs.select(
        *[F.col(c) for c in keep],
        F.lit(1.0).alias("f_bias"),
        (F.log(F.lit(1) + n) / F.lit(10.0)).alias("f_loglen"),
        ((n - F.length(F.regexp_replace("text", " ", ""))).cast("double") / n).alias(
            "f_space"
        ),
        (
            (n - F.length(F.regexp_replace("text", "[aeiou]", ""))).cast("double") / n
        ).alias("f_vowel"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("__y"),
    )


def _logreg_train_ctes(iters: int = LOGREG_ITERS, lr: float = LOGREG_LR) -> list:
    """The unrolled training trajectory as CTE rounds (the kcore/kmeans
    discipline): g{t} = rounded avg gradient under w{t-1}, w{t} =
    w{t-1} - lr * g{t} in exact doubles arithmetic (lr is a power of
    two), gn = left-to-right g.g dot — associated identically to the
    driver arithmetic in operators/classify.py."""
    from bigdata_hits_spark.operators.classify import GRAD_DIGITS

    ctes = [
        _LOGREG_FEATS_CTE,
        "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)",
    ]
    z = "(w.w0 * f.f0 + w.w1 * f.f1 + w.w2 * f.f2 + w.w3 * f.f3)"
    for t in range(1, iters + 1):
        gsel = ", ".join(
            f"ROUND(AVG((1.0 / (1.0 + exp(-{z})) - f.y) * f.f{j}), {GRAD_DIGITS}) AS g{j}"
            for j in range(4)
        )
        ctes.append(f"g{t} AS (SELECT {gsel} FROM feats f, w{t - 1} w)")
        wsel = ", ".join(f"w.w{j} - {lr} * g.g{j} AS w{j}" for j in range(4))
        ctes.append(
            f"w{t} AS (SELECT {wsel}, "
            "sqrt(g.g0 * g.g0 + g.g1 * g.g1 + g.g2 * g.g2 + g.g3 * g.g3) AS gn "
            f"FROM g{t} g, w{t - 1} w)"
        )
    return ctes


def _logreg_train_sql(iters: int = LOGREG_ITERS) -> str:
    rows = " UNION ALL ".join(
        f"SELECT {t} AS round, w0 AS w_bias, w1 AS w_loglen, w2 AS w_space, "
        f"w3 AS w_vowel, gn AS grad_norm FROM w{t}"
        for t in range(1, iters + 1)
    )
    return "WITH " + ", ".join(_logreg_train_ctes(iters)) + " " + rows


def _logreg_fit(spark, sf_dir):
    from bigdata_hits_spark.operators.classify import logistic_regression

    docs = load_table(spark, sf_dir, "documents")
    return logistic_regression(
        _logreg_features(docs), _LOGREG_FEATS, "__y", iters=LOGREG_ITERS, lr=LOGREG_LR
    )


@register("logreg_train_langid", _logreg_train_sql())
def q_logreg_train_langid(spark, sf_dir):
    """Distributed logistic-regression training for the lang-id filter
    model (operators/classify.py logistic_regression): LOGREG_ITERS
    full-batch gradient rounds over surface features of ``documents``,
    output = the whole weight trajectory (round, weights, grad L2
    norm).  Each round is one scan + one map-side-combined hash-agg
    collecting 4 rounded scalars — O(1) driver state, everything
    (sigmoid included) in whole-stage codegen; the oracle unrolls the
    identical trajectory as CTE rounds and compares cell-exact."""
    res = _logreg_fit(spark, sf_dir)
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    schema = StructType(
        [StructField("round", IntegerType())]
        + [
            StructField(c, DoubleType())
            for c in ("w_bias", "w_loglen", "w_space", "w_vowel", "grad_norm")
        ]
    )
    rows = [(r.round, *r.weights, r.grad_norm) for r in res.history]
    return spark.createDataFrame(rows, schema)


@register(
    "logreg_score_by_source",
    "WITH "
    + ", ".join(_logreg_train_ctes())
    + ", sc AS (SELECT f.source, "
    "1.0 / (1.0 + exp(-(w.w0 * f.f0 + w.w1 * f.f1 + w.w2 * f.f2 + w.w3 * f.f3))) AS p "
    "FROM (SELECT source, "
    "1.0 AS f0, ln(1 + n_chars) / 10.0 AS f1, "
    "CAST(n_chars - length(replace(text, ' ', '')) AS DOUBLE) / n_chars AS f2, "
    "CAST(n_chars - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE) "
    f"/ n_chars AS f3 FROM documents) f, w{LOGREG_ITERS} w) "
    "SELECT source, COUNT(*) AS n_docs, ROUND(AVG(p), 6) AS mean_p "
    "FROM sc GROUP BY source",
)
def q_logreg_score_by_source(spark, sf_dir):
    """Corpus-wide screening under the trained filter model
    (operators/classify.py predict_proba): train LOGREG_ITERS rounds,
    then ONE shuffle-free literal-weight scoring projection over the
    corpus rolled up per source (count + rounded mean predicted
    probability) — the serve half of the train/serve pair, and the
    shape a 100 TB screening pass takes: the model is 4 driver scalars,
    the corpus never moves except one map-side-combinable aggregate."""
    from bigdata_hits_spark.operators.classify import predict_proba

    res = _logreg_fit(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    feats = _logreg_features(docs, keep=("source",))
    scored = predict_proba(feats, res)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("p"), 6).alias("mean_p"),
    )


# --- round 13: sampled harmonic centrality (landmark BFS) -----------------

#: ~10 landmark seeds at sf0.01 (2000 parts / 211) — enough that most
#: nodes see several landmarks at depth 4 while the per-seed state
#: stays a small multiple of the node vector.
HARMONIC_SEED_MOD = 211
HARMONIC_DEPTH = 4
#: HARD landmark cap (first k qualifying keys in key order).  Without
#: it the modulo rule scales the landmark count WITH the data — at the
#: 10x smoke that meant ~950 seeds x ~200k reachable nodes of frontier
#: state and a 1293 s row (vs ~2 s at sf0.1), the textbook
#: sampled-centrality mistake: the estimator's whole point is a FIXED
#: landmark budget at any graph size.  Not binding at sf0.01 (~9
#: qualifiers), so the small-sf trajectory is unchanged.
HARMONIC_SEEDS_K = 16


def _harmonic_sql(k: int = HARMONIC_DEPTH) -> str:
    # Frontier rounds unrolled per (seed, id) — the _bfs_sql shape with
    # the seed key carried through; the final rollup excludes each
    # seed's 0-distance to itself, mirroring harmonic_centrality_sampled.
    ctes = [
        f"e0 AS MATERIALIZED ({derived.G_PP_EDGES_SQL})",
        _SYM_CTE.replace("sym AS (", "sym AS MATERIALIZED (", 1),
        f"seeds AS (SELECT 'P' || p_partkey AS seed FROM ("
        f"SELECT DISTINCT p_partkey FROM part "
        f"WHERE p_partkey % {HARMONIC_SEED_MOD} = 0 "
        f"ORDER BY p_partkey LIMIT {HARMONIC_SEEDS_K}))",
        "r0 AS MATERIALIZED (SELECT seed, seed AS id, 0 AS dist FROM seeds)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"n{i} AS (SELECT DISTINCT r.seed, s.a AS id FROM sym s "
            f"JOIN r{i - 1} r ON s.b = r.id WHERE r.dist = {i - 1})"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT seed, id, dist FROM r{i - 1} UNION ALL "
            f"SELECT n.seed, n.id, {i} AS dist FROM n{i} n "
            f"LEFT JOIN r{i - 1} p ON p.seed = n.seed AND p.id = n.id "
            "WHERE p.id IS NULL)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT id, COUNT(*) AS n_reached, "
        f"ROUND(SUM(1.0 / dist), 6) AS harmonic FROM r{k} "
        "WHERE dist > 0 GROUP BY id"
    )


@register("graph_harmonic_sampled", _harmonic_sql())
def q_graph_harmonic_sampled(spark, sf_dir):
    """Sampled harmonic centrality on the part->part graph
    (operators/graphalgs.py harmonic_centrality_sampled): sum(1/d) to
    every ~211th part as a landmark, depth HARMONIC_DEPTH — the
    Eppstein-Wang-style landmark estimator in Boldi-Vigna's harmonic
    form, the node-importance measure that (unlike raw closeness)
    survives disconnected graphs.  The landmark set is HARD-CAPPED at
    the first HARMONIC_SEEDS_K qualifying keys (the fixed budget that
    makes the estimator scale-free — the uncapped modulo rule cost
    1293 s at the 10x smoke, see HARMONIC_SEEDS_K), so the per-seed
    frontier loop keeps k x nodes state and never moves the pinned
    edge relation; the rounded sum is engine-portable because depth-4
    distances make it a rational over lcm 12, which cannot land on a
    rounding tie.  Oracle: the (seed, id)-keyed unrolled frontier
    CTEs."""
    from bigdata_hits_spark.operators.graphalgs import harmonic_centrality_sampled

    g = derived.g_pp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    seeds = (
        part.filter(F.col("p_partkey") % HARMONIC_SEED_MOD == 0)
        .select("p_partkey")
        .distinct()
        .orderBy("p_partkey")
        .limit(HARMONIC_SEEDS_K)
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
    )
    return harmonic_centrality_sampled(
        g.edges, seeds, max_depth=HARMONIC_DEPTH, sym=_sym(g)
    )


# --- round 13: streaming transition-matrix maintenance --------------------


@register("streaming_transition_matrix", _transitions_sql())
def q_streaming_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix maintained by the STATEFUL
    streaming twin (streaming/jobs.py transition_pairs_stream): events
    staged as TWO time-split files, drained with maxFilesPerTrigger=1 +
    availableNow so per-user (last event type) state genuinely carries
    across a micro-batch boundary — a user's pair straddling the median
    timestamp is formed FROM state in batch 2.  The pair emissions are
    append-mode and final, so (unlike the update-sink sessionize row)
    the sink rollup is deterministic and this is the first streaming
    row with a full DuckDB oracle: it shares events_transition_matrix's
    _transitions_sql twin.  In-query stream/batch equivalence against
    operators/events.py transition_counts raises on divergence on top
    of that."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from bigdata_hits_spark.operators.events import transition_counts
    from bigdata_hits_spark.queries_events import _events_us
    from bigdata_hits_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
        transition_pairs_stream,
    )

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stage = tempfile.mkdtemp(prefix=".tmp_stream_transitions_", dir=repo_root)
    ev = load_table(spark, sf_dir, "events")
    med = ev.select(F.expr("approx_percentile(ts_ns, 0.5)")).first()[0]
    raw = ev.select(
        *[c for c in ev.columns if c not in ("ts", "ts_ns")],
        F.col("ts_ns").alias("ts"),
    )
    try:
        halves = (raw.filter(F.col("ts") <= med), raw.filter(F.col("ts") > med))
        for i, half in enumerate(halves):
            tmp = os.path.join(stage, f"_write{i}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            os.replace(os.path.join(tmp, part), os.path.join(stage, f"{i}.parquet"))
            shutil.rmtree(tmp)
            # FileStreamSource orders by modification time; pin it so
            # "all ts <= median" is always batch 1 (the per-user
            # in-order contract across the boundary).
            os.utime(os.path.join(stage, f"{i}.parquet"), (1_000_000 + i, 1_000_000 + i))
        run_to_memory(
            transition_pairs_stream(
                read_events_stream(spark, stage, max_files_per_trigger=1)
            ),
            "t_stream_transitions",
            output_mode="append",
        )
        pairs = spark.table("t_stream_transitions").localCheckpoint()
    finally:
        spark.catalog.dropTempView("t_stream_transitions")
        shutil.rmtree(stage, ignore_errors=True)
    c = pairs.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    out = c.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev_type")),
            6,
        ).alias("p"),
    )
    # Both sides pinned: out feeds 2 exceptAll + the returned sink
    # write, the batch twin both exceptAll directions — unpinned, each
    # re-executed per action (r13 optimization — same rows, one
    # execution each).
    out = out.localCheckpoint()
    batch = transition_counts(_events_us(spark, sf_dir)).select(
        *out.columns
    ).localCheckpoint()
    if out.exceptAll(batch).count() or batch.exceptAll(out).count():
        raise AssertionError("stream-batch divergence in transition matrix")
    return out
