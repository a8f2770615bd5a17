"""Table profiling: the one-pass "ANALYZE" a pipeline runs before and
after every curation stage (did dedup drop the nulls? did the join
explode a column's cardinality?).

Beyond-reference breadth (the reference has no profiling surface); the
operator is a single wide aggregation whose output is COLUMN-count-sized
— the only driver-facing data is one row per column, at any input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def profile_table(df: DataFrame, exact_distinct: bool = False) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_value, max_value): one
    row per input column, values rendered as strings so heterogeneous
    column types share one schema.

    ``exact_distinct=False`` (default, the 100 TB mode) uses
    ``approx_count_distinct`` (HLL++, one pass, no expand).  ``True``
    computes exact distincts — Spark plans multiple COUNT(DISTINCT) via
    an Expand (rows × columns before the partial agg), which is the
    honest cost of exactness; use it on samples or when the gate needs
    bit-reproducible numbers (the declared oracle query does).

    Min/max order strings lexicographically on both engines for string
    columns and numerically otherwise; the rendered value is the
    engine-portable ``CAST(x AS STRING)`` of the typed extremum.
    """
    from bigdata_hits_spark.sources.readers import spread_small_scan

    # exact_distinct plans an Expand (rows x columns) ahead of the
    # partial agg — a per-row fan-out that a single-row-group scan runs
    # on ONE task; spread it first (no-op on multi-split inputs; r13).
    # Counts/min/max/distinct are partitioning-independent, so the
    # profile is unchanged.
    df = spread_small_scan(df, df.columns[0])
    distinct = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = []
    for c in df.columns:
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            distinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__rows_{c}").alias("n_rows"),
            F.col(f"__nulls_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in df.columns
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def histogram(df: DataFrame, col: str, bins: int = 20, digits: int = 6) -> DataFrame:
    """(bucket, lo, hi, cnt): equi-width histogram of a numeric column —
    the distribution-shape profile behind skew triage, outlier gates,
    and range-join bin sizing.  Every bucket appears, empty ones with
    cnt 0; NULLs are excluded (they are `profile_table`'s n_nulls, not a
    distribution point); values at the maximum clamp into the top bucket
    (standard closed-top-bucket convention).

    Fully in-plan: one (min, max) aggregate row broadcast-attached (the
    engine's one-row scalar pattern, no driver round-trip), one hash-agg
    on the bucket id, and a bounded ``sequence`` explode of the bucket
    ids off the bounds row so empty buckets materialize without a
    data-sized join.  A constant column (max <= min) degenerates to one
    bucket of width 1."""
    if bins <= 0:
        raise ValueError(f"histogram needs bins >= 1, got {bins}")
    x = F.col(col).cast("double")
    bounds = df.agg(
        F.min(x).alias("__mn"), F.max(x).alias("__mx")
    ).select(
        "__mn",
        F.when(F.col("__mx") > F.col("__mn"), (F.col("__mx") - F.col("__mn")) / bins)
        .otherwise(F.lit(1.0))
        .alias("__w"),
    )
    counts = (
        df.filter(x.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.floor((x - F.col("__mn")) / F.col("__w")).cast("long"),
                F.lit(bins - 1),
            ).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = bounds.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(bins - 1).cast("long"))).alias(
            "bucket"
        ),
        "__mn",
        "__w",
    )
    return (
        grid.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.round(F.col("__mn") + F.col("bucket") * F.col("__w"), digits).alias("lo"),
            F.round(F.col("__mn") + (F.col("bucket") + 1) * F.col("__w"), digits).alias(
                "hi"
            ),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )


def skew_report(df: DataFrame, cols: list[str], k: int = 20) -> DataFrame:
    """(column, key, cnt, share, rank): the ``k`` heaviest values of each
    candidate join/group key with their row shares — the diagnosis you
    run BEFORE choosing a shuffle strategy.  A top key holding >1% of a
    100 TB table is the hot partition that stalls a plain hash shuffle;
    this report is what says "salt this key" (cap_per_group's two-phase
    pattern), "broadcast that side", or "let AQE's skew split handle
    it".

    One hash-agg per column (map-side combined) + a
    TakeOrderedAndProject top-k on the aggregate (per-partition heaps,
    driver merges k rows — NO global sort even when the key is
    near-unique and the aggregate row-sized); the total-row scalar
    attaches in-plan via the engine's one-row broadcast, and the rank
    window runs over the k already-taken rows only.  Keys are
    stringified so one report frame covers heterogeneous column types;
    NULL keys report as the literal 'NULL' bucket (a null-heavy join
    key is the classic skew culprit and must not vanish from the
    report).
    """
    if not cols:
        raise ValueError("skew_report needs at least one column")
    total = df.agg(F.count(F.lit(1)).alias("__N"))
    parts = []
    for c in cols:
        counts = (
            df.groupBy(F.coalesce(F.col(c).cast("string"), F.lit("NULL")).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        topk = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(k)
        w = Window.orderBy(F.desc("cnt"), F.asc("key"))  # over <= k rows
        topk = topk.withColumn("rank", F.row_number().over(w)).withColumn(
            "column", F.lit(c)
        )
        parts.append(topk)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("cnt") / F.col("__N"))
        .select("column", "key", "cnt", F.round("share", 6).alias("share"), "rank")
    )


def equidepth_histogram(
    df: DataFrame, col: str, buckets: int = 8, digits: int = 6
) -> DataFrame:
    """(bucket, lo, hi, cnt): EQUI-DEPTH histogram — bucket edges are the
    exact ``j/buckets`` quantiles (``quantile_cont`` interpolation), so
    each bucket holds ~n/buckets rows instead of an equal value span.
    The partner of :func:`histogram` for skewed columns, where equi-width
    puts 99% of rows in one bar.

    **Exact at scale without buffering the column.**  Single-pass exact
    quantile aggregates (and DuckDB's ``quantile_cont``) hold a
    value->count map per aggregation buffer, centralizing the whole
    VALUE DOMAIN into one task at the final merge.  This plan keeps the
    domain distributed:

    - CDF: one hash-agg to distinct values (map-side combined), one
      range exchange over values, per-range-bucket prefix offsets (the
      ``ranks.py`` machinery) — each value row gets the 0-based index
      span [__lo, __hi] it occupies in the global sort.
    - Boundary positions are EXACT integer rationals: the order-
      statistic position ``f_j*(n-1)`` becomes quotient and remainder
      of ``j*(n-1)`` by B — no float positioning at any n.  With
      ``buckets`` a power of two, ``j/B`` is exactly representable, so
      an engine computing ``f*(n-1)`` in doubles (DuckDB) lands on the
      SAME order statistics; the final interpolated edge is rounded to
      ``digits`` on both engines either way.
    - Each boundary's order statistics are located by ARITHMETIC, not a
      non-equi join: a value row covering sort positions [lo, hi]
      derives the j-range of boundaries landing inside it and explodes
      exactly those js — output is (buckets+1)-row-sized, and no
      BroadcastNestedLoopJoin ever touches the value domain.
    - Assignment reuses :func:`histogram`'s shape: the (B-1)-element
      inner-edge array attaches as a one-row broadcast and a sequential
      fold counts edges strictly below x (a value EQUAL to an edge goes
      to the lower bucket, identically on both engines).

    NULLs are excluded; an empty (or all-NULL) input yields an empty
    result.  The two tiny windows (range-bucket offsets, edge ``lead``)
    run over bucket-count-sized relations — the documented free case.
    Positional arithmetic uses floor/ceil of long-over-long division,
    exact while positions*B stay below 2^53 (the ``ranks._ceil_div``
    bound, far beyond any real row count)."""
    if buckets <= 0:
        raise ValueError(f"equidepth_histogram needs buckets >= 1, got {buckets}")
    from bigdata_hits_spark.operators.ranks import _ceil_div, _ranged_pinned

    B = int(buckets)
    x = F.col(col).cast("double")
    spark = df.sparkSession
    num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    vals = (
        df.filter(x.isNotNull())
        .groupBy(x.alias("v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ranged = _ranged_pinned(vals, [F.col("v").asc()], num_buckets)
    pid_counts = ranged.groupBy("__pid").agg(F.sum("__c").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pid_counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    total = pid_counts.agg(F.sum("__n").alias("__nn"))  # one row
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Pinned: both boundary probes scan the CDF, and without the pin
    # each probe re-derives the whole offsets/window subtree (a second
    # range exchange over the value domain for nothing).
    cdf = (
        ranged.join(F.broadcast(offsets), "__pid")
        .select(
            "v",
            "__c",
            (F.col("__off") + F.coalesce(F.sum("__c").over(w_local), F.lit(0))).alias(
                "__lo"
            ),
        )
        .withColumn("__hi", F.col("__lo") + F.col("__c") - 1)
        .crossJoin(F.broadcast(total))
        .localCheckpoint(eager=False)
    )
    nm1 = (F.col("__nn") - 1).cast("long")

    def _floor_div(a: Column, b: Column) -> Column:
        return F.floor(a / b).cast("long")

    def _probe(pos_shift: int, out: str) -> DataFrame:
        """One row per boundary j whose probed order statistic
        (j*(n-1)) div B + pos_shift falls inside this value's span:
        j*(n-1) div B in [__lo - shift, __hi - shift]."""
        lo = F.col("__lo") - F.lit(pos_shift)
        hi = F.col("__hi") - F.lit(pos_shift)
        jmin = F.when(nm1 == 0, F.lit(0).cast("long")).otherwise(
            F.greatest(_ceil_div(lo * B, nm1), F.lit(0).cast("long"))
        )
        # (j*(n-1)) div B <= hi  <=>  j*(n-1) <= hi*B + B-1
        jmax = F.when(nm1 == 0, F.lit(B).cast("long")).otherwise(
            F.least(_floor_div(hi * B + (B - 1), nm1), F.lit(B).cast("long"))
        )
        seq = F.when(jmax >= jmin, F.sequence(jmin, jmax)).otherwise(
            F.array().cast("array<long>")
        )
        return cdf.select(F.explode(seq).alias("j"), F.col("v").alias(out))

    # probe1: x at floor position; probe2: x one position later (only
    # consumed when the remainder is non-zero, i.e. interpolation needed)
    edges = (
        _probe(0, "x1")
        .join(_probe(1, "x2"), "j", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "j",
            F.round(
                F.when(
                    (F.col("j") * nm1) % B == 0, F.col("x1")
                ).otherwise(
                    F.col("x1")
                    + (((F.col("j") * nm1) % B) / F.lit(float(B)))
                    * (F.coalesce(F.col("x2"), F.col("x1")) - F.col("x1"))
                ),
                digits,
            ).alias("b"),
        )
    )
    w_lead = Window.orderBy("j")  # (buckets+1)-row relation: free
    bucket_rows = (
        edges.select(
            F.col("j").alias("bucket"),
            F.col("b").alias("lo"),
            F.lead("b").over(w_lead).alias("hi"),
        )
        .filter(F.col("bucket") < B)
    )
    inner = edges.filter((F.col("j") >= 1) & (F.col("j") <= B - 1)).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "b"))), lambda t: t["b"]
        ).alias("__edges")
    )
    counts = (
        df.filter(x.isNotNull())
        .crossJoin(F.broadcast(inner))
        .groupBy(
            F.aggregate(
                "__edges",
                F.lit(0).cast("long"),
                lambda acc, b: acc + F.when(b < x, 1).otherwise(0),
            ).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bucket_rows.join(counts, "bucket", "left").select(
        "bucket", "lo", "hi", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )

def array_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """(dim, n, avg_v, sd_v, min_v, max_v): per-dimension moments of an
    ``array<float>`` column — the feature-distribution profile a
    training pipeline reads before whitening/normalizing embeddings and
    the drift check it re-reads after every re-embedding run (a
    dimension whose mean wandered or variance collapsed is a broken
    encoder head).

    Plan: posexplode to (dim, value) then ONE hash aggregate keyed by
    dim.  The explode multiplies rows by the dimensionality, but partial
    aggregation collapses every task's slice to |dims| partial-moment
    rows BEFORE the exchange — the shuffle moves O(partitions x dims)
    rows at any corpus size, and the output is dims-sized.  Values cast
    to double at the leaf so both engines aggregate the same exact
    float-widened inputs."""
    exploded = df.select(F.posexplode(vec_col).alias("dim", "__v")).select(
        "dim", F.col("__v").cast("double").alias("__v")
    )
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("__v"), digits).alias("avg_v"),
        F.round(F.stddev_samp("__v"), digits).alias("sd_v"),
        F.min("__v").alias("min_v"),
        F.max("__v").alias("max_v"),
    )


def grouped_linreg(
    df: DataFrame,
    x: str,
    y: str,
    by: str,
    digits_slope: int = 6,
    digits_intercept: int = 2,
    digits_r2: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y = slope * x +
    intercept``: one row per ``by`` group with ``(n, slope, intercept,
    r2)`` — the million-segment regression a feature pipeline runs to
    fit a trend per key (price elasticity per supplier, drift per
    source) without ever collecting a group to the driver.

    slope = covar_pop(x, y) / var_pop(x), intercept = avg(y) -
    slope * avg(x), r2 = covar_pop(x, y)^2 / (var_pop(x) * var_pop(y))
    — all five sufficient statistics come out of ONE hash aggregate with
    map-side partial moments, so the shuffle moves O(partitions x
    groups) partial-moment rows and the plan is a single exchange at any
    input size; groups scale to any cardinality because nothing is ever
    broadcast.  Both Spark and the declared DuckDB oracle accumulate
    numerically stable merged moments (Welford M2), so the ratios agree
    at the default roundings with wide margin (the
    lineitem_metric_stats argument; see the declared row for measured
    margins).  Degenerate groups yield NULL rather than an error:
    var_pop(x) == 0 (all x equal) nulls all three, var_pop(y) == 0
    additionally nulls r2 (0/0; CORR's convention) — the divisions are
    built from the moment aggregates and guarded, NOT F.corr, whose
    internal division runs inside the aggregate itself and throws under
    ANSI mode before any projection-level guard can apply.  Rounding
    defaults are magnitude-tiered: intercepts inherit the raw scale of
    ``y`` so they round coarser than the scale-free r2/slope.
    """
    var_x = F.var_pop(x)
    var_y = F.var_pop(y)
    cov = F.covar_pop(x, y)
    slope = cov / var_x
    return df.groupBy(by).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.when(var_x > 0, slope), digits_slope
        ).alias("slope"),
        F.round(
            F.when(var_x > 0, F.avg(y) - slope * F.avg(x)), digits_intercept
        ).alias("intercept"),
        F.round(
            F.when((var_x > 0) & (var_y > 0), cov * cov / (var_x * var_y)),
            digits_r2,
        ).alias("r2"),
    )


def corr_matrix(df: DataFrame, cols: list[str], digits: int = 6) -> DataFrame:
    """Pairwise Pearson correlation of ``cols`` as tidy rows ``(x, y,
    corr)`` for the upper triangle (x < y in the given column order) —
    the redundancy screen a feature-selection pass reads to drop
    near-duplicate numeric features.

    All C(k, 2) correlations come from ONE hash aggregate (each pair an
    agg expression with map-side partial co-moments), then a k^2-sized
    stack to rows — the plan is one exchange to a single combined row
    plus a constant-sized explode, regardless of input row count.  corr
    is scale-free (|corr| <= 1) and both engines accumulate merged
    co-moments, so cross-engine drift is ~1e-12 and the default rounding
    has ~1e6x margin.  Constant-x columns yield NULL corr (var == 0),
    preserved as NULL rows."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [
        F.round(F.corr(a, b), digits).alias(f"__c_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', __c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (x, y, corr)")
    )


#: Probability floor for PSI terms — the standard guard that keeps the
#: log defined when a bucket is empty on one side (PSI convention).
PSI_FLOOR = 1e-6


def psi_report(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    buckets: int = 8,
    digits: int = 6,
    floor: float = PSI_FLOOR,
) -> DataFrame:
    """Population Stability Index drift report between a REFERENCE
    snapshot and a NEW snapshot of a numeric column: one row per
    reference equi-depth bucket with ``(bucket, lo, hi, p_ref, p_new,
    psi_term)`` where ``psi_term = (p_new - p_ref) * ln(p_new /
    p_ref)`` — the training-serving-skew / data-drift monitor every ML
    feature pipeline runs between refreshes (sum the terms: < 0.1
    stable, > 0.25 investigate).

    Buckets are the reference's EXACT equi-depth edges
    (:func:`equidepth_histogram` — the distributed quotient/remainder
    quantile machinery, value domain never centralized), so each
    reference bucket holds ~1/B mass by construction and the report
    reads as "where did the mass move".  New rows are assigned by the
    shared count-edges-strictly-below-x fold over the (B-1)-element
    rounded inner-edge array (ties to the lower bucket, identically on
    both engines); values outside the reference range clamp into the
    first/last bucket — drift OFF the end of the ref distribution is
    exactly what the edge buckets must catch.  Probabilities are floored
    at ``floor`` before the log (the PSI convention for empty buckets).

    Plan: the histogram's own aggregates for the reference side, then
    ONE narrow projection + B-row hash agg over the new snapshot, a
    B-row join, and two one-row attaches (edge array, new-side total) —
    nothing row-sized shuffles beyond the histogram's value-distinct
    agg.  p values are ratios of exact integer counts, psi the only
    float op, so 6 digits holds with ~1e9x margin."""
    eh = equidepth_histogram(ref, col, buckets, digits=digits).localCheckpoint(
        eager=False
    )
    w_all = Window.partitionBy()
    ref_p = eh.select(
        "bucket",
        "lo",
        "hi",
        (F.col("cnt") / F.sum("cnt").over(w_all)).alias("__pr"),
    )
    edges = eh.filter(F.col("bucket") >= 1).agg(
        F.sort_array(F.collect_list("lo")).alias("__edges")
    )
    x = F.col(col).cast("double")
    assigned = (
        new.filter(x.isNotNull())
        .select(x.alias("__x"))
        .crossJoin(F.broadcast(edges))
        .select(
            F.aggregate(
                "__edges",
                F.lit(0),
                lambda acc, e: acc + F.when(e < F.col("__x"), 1).otherwise(0),
            ).alias("bucket")
        )
    )
    new_counts = assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("__cn"))
    n_new = new_counts.agg(F.sum("__cn").alias("__N"))
    pr = F.greatest(F.col("__pr"), F.lit(floor))
    pn = F.greatest(
        F.coalesce(F.col("__cn") / F.col("__N"), F.lit(0.0)), F.lit(floor)
    )
    return (
        ref_p.join(new_counts, "bucket", "left")
        .crossJoin(F.broadcast(n_new))
        .select(
            "bucket",
            "lo",
            "hi",
            F.round("__pr", digits).alias("p_ref"),
            F.round(F.coalesce(F.col("__cn") / F.col("__N"), F.lit(0.0)), digits).alias("p_new"),
            F.round((pn - pr) * F.log(pn / pr), digits).alias("psi_term"),
        )
    )


def categorical_profile(
    df: DataFrame, cols: list[str], k: int = 5, digits: int = 6
) -> DataFrame:
    """Top-``k`` values of each categorical column in one pass:
    ``(column, value, n, share)`` — the sibling of :func:`profile_table`
    for the categorical side: one glance shows vocabulary collapse
    (one value at 99%), label typos in the tail, and NULL share (NULL
    is profiled as a value row, not silently dropped).

    Plan: ONE scan stacks the requested columns to (column, value)
    pairs (narrow explode, fan-out = len(cols)), one hash agg to the
    union of the columns' value vocabularies, a per-column window for
    the top-k cut and the share denominator (partition = one column's
    distinct values — vocabulary-bounded, never row-bounded).  Ties
    order on (n desc, value asc NULLS FIRST) — pinned explicitly
    because the engines' default NULL sort order differs.  Values are
    rendered via CAST(x AS STRING) so mixed-type column lists profile
    into one result (the table_checksum portability caveat applies to
    floats)."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("__p")
    ).select("__p.column", "__p.value")
    counts = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("n"))
    w_col = Window.partitionBy("column")
    w_rank = w_col.orderBy(F.desc("n"), F.asc_nulls_first("value"))
    return (
        counts.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn(
            "share", F.round(F.col("n") / F.sum("n").over(w_col), digits)
        )
        .filter(F.col("__rn") <= k)
        .select("column", "value", "n", "share")
    )


def array_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """(i, j, cov) for i <= j: the upper triangle of the POPULATION
    covariance matrix of an ``array<float>`` column — the input to
    whitening transforms and PCA, and the correlation structure a
    pipeline inspects when an encoder's dimensions stop being
    independent.

    Plan: double posexplode fans each vector to its dims^2/2 upper
    pairs, then ONE hash aggregate keyed by (i, j) accumulates
    (n, sum xy, sum x, sum y); cov = (sxy - sx*sy/n) / n is assembled
    from the sums identically on both engines, so drift is ~1e-15 and 6
    digits holds with wide margin.  Partial aggregation collapses every
    task's fan-out to dims^2/2 partial rows before the exchange — the
    shuffle moves O(partitions x dims^2) regardless of corpus size.
    The fan-out itself is dims^2/2 per row: fine to a few hundred dims;
    for 1k+ dims prefer an Arrow-batched X^T X kernel per partition
    (the same merge shape, numpy matmul instead of explode) — this
    operator deliberately stays JVM-only for the profile-sized regime.
    """
    from bigdata_hits_spark.sources.readers import spread_small_scan

    # The dims^2/2 fan-out below is the operator's whole cost and runs
    # map-side on the scan's tasks — a single-row-group table would do
    # it all on one core (r13; see spread_small_scan).  The covariance
    # cells survive partitioning changes by the rounding margin the
    # docstring argues (~1e-15 drift vs 6 digits).
    df = spread_small_scan(df.select(F.col(vec_col).alias("__v")), "__v")
    el = df.select(
        F.posexplode("__v").alias("i", "__x"), F.col("__v")
    )
    pairs = el.select(
        "i",
        F.col("__x").cast("double").alias("x"),
        F.posexplode("__v").alias("j", "__y"),
    ).filter(F.col("j") >= F.col("i"))
    agg = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("__y").cast("double")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum(F.col("__y").cast("double")).alias("sy"),
    )
    return agg.select(
        "i",
        "j",
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n"),
            digits,
        ).alias("cov"),
    )


#: Power-iteration rounding: the covariance cells and each iteration's
#: NORMALIZED vector are rounded to this many decimals on BOTH engines
#: so the 15-step trajectory is engine-exact (the kmeans
#: trajectory-oracle discipline) — but the intermediate matrix-vector
#: product w and its norm are deliberately NOT rounded.  Measured
#: failure mode: rounding w puts it on exact decimal half-boundaries
#: (6-decimal cov x 6-decimal v products are exact decimals, e.g.
#: 0.125 * 0.009436 = 0.0011795), where Spark's round (decimal-string
#: HALF_UP via BigDecimal.valueOf) and DuckDB's (on the binary double,
#: which sits a hair BELOW the decimal half) disagree — 5 of 64 w1
#: cells flipped.  Dividing by the irrational norm first makes v
#: generic, so its half-boundary hits are measure-zero, and the
#: unrounded w itself is engine-stable to ~1e-18 (sums of exact
#: sub-53-bit products).
PCA_ITER_DIGITS = 6


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 15,
    digits: int = 6,
) -> DataFrame:
    """(dim, loading): the top principal component of an
    ``array<float>`` column — one distributed covariance aggregate,
    then power iteration over the collected dims²-bounded matrix — the
    "which direction carries the variance" profile read before
    dimensionality reduction, and the cheap
    degenerate-encoder detector (a single dominant loading means a
    dimension swallowed the space).

    The only corpus-sized pass is the covariance aggregate
    (:func:`array_covariance`, memoized per session); the dims² matrix
    it produces is then collected and the power iteration runs ON THE
    DRIVER (:func:`_power_iterate_local`) — dims is the embedding
    width, so the collect is corpus-free and the eigensolve is driver
    microseconds at any scale.  Fixed start + fixed iteration count +
    per-step rounding (``PCA_ITER_DIGITS``, replicated bit-exactly by
    ``_round_half_up``) make the trajectory a pure function of the
    data — deterministic across runs, partitionings, and engines (the
    declared oracle unrolls the same recurrence as a CTE chain)."""
    cfull = _sym_covariance(df, vec_col)
    dims, C = _collect_cov(cfull)
    v, _ = _power_iterate_local(C, iters)
    return df.sparkSession.createDataFrame(
        [(int(d), _round_half_up(x, digits)) for d, x in zip(dims, v)],
        "dim int, loading double",
    )


#: Session-lifetime cache of PERSISTED symmetric covariance relations,
#: keyed on (applicationId, corpus plan semantic hash, vec_col) — the
#: `_IVF_CACHE` discipline.  The covariance aggregate is the ONLY
#: corpus-sized pass in the whole PCA family (top/top2/project/project2
#: all start from it); re-running the dims^2/2 fan-out per query was a
#: bench artifact.  The cached relation is dims^2 rows — trivially
#: memory-resident at any corpus scale.
_COV_CACHE: dict[tuple, DataFrame] = {}


def _sym_covariance(df: DataFrame, vec_col: str) -> DataFrame:
    """The full-symmetry covariance relation (i, j, cov), pinned (lazy
    localCheckpoint — same in-plan behavior the iteration loop was tuned
    against; an explicit persist() was A/B-rejected: it halved pass-0 but
    DOUBLED the warm top2/project2 loops) and memoized per (session,
    corpus plan, column), so the corpus-sized aggregate runs ONCE per
    session across the whole PCA family."""
    spark = df.sparkSession
    key = (spark.sparkContext.applicationId, df.semanticHash(), vec_col)
    if key not in _COV_CACHE:
        live = spark.sparkContext.applicationId
        for stale in [k for k in _COV_CACHE if k[0] != live]:
            _COV_CACHE.pop(stale)
        cov = array_covariance(df, vec_col=vec_col, digits=PCA_ITER_DIGITS)
        _COV_CACHE[key] = cov.unionByName(
            cov.filter(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cov"
            )
        ).localCheckpoint(eager=False)
    return _COV_CACHE[key]


def _round_half_up(x: float, digits: int) -> float:
    """Exact replica of Spark's ``round()`` on DoubleType:
    ``BigDecimal.valueOf(x)`` parses ``Double.toString(x)`` (the
    shortest round-trip decimal — same contract as Python ``repr``)
    and ``setScale(digits, HALF_UP)`` rounds that decimal string, so
    the Python twin is Decimal(repr(x)) quantized HALF_UP."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal(1).scaleb(-digits), rounding=decimal.ROUND_HALF_UP
        )
    )


def _collect_cov(cfull: DataFrame) -> tuple[list[int], list[list[float]]]:
    """Collect the symmetric covariance relation to a dense driver-side
    matrix.  dims² rows — bounded by the embedding WIDTH, never the
    corpus (the repo's k-/dim-bounded collect discipline), so at any
    corpus scale this is a few thousand scalars."""
    rows = cfull.collect()
    dims = sorted({r["i"] for r in rows})
    index = {d: k for k, d in enumerate(dims)}
    d = len(dims)
    C = [[0.0] * d for _ in range(d)]
    for r in rows:
        C[index[r["i"]]][index[r["j"]]] = r["cov"] if r["cov"] is not None else 0.0
    return dims, C


def _power_iterate_local(
    C: list[list[float]], iters: int
) -> tuple[list[float], float]:
    """``iters`` rounds of w = C v on the driver — the r13 optimization
    of the old in-plan loop, which ran ~1 broadcast-norm barrier + 1
    dims-sized join/agg job per iteration (15–30 chained jobs per
    declared PCA row, 2.0–4.1 s each at sf0.1 with the covariance memo
    already warm).  The local solve replaces all of it with driver
    microseconds, leaving the only corpus-sized work where it belongs
    (the covariance aggregate and the projection join).

    Trajectory parity: v0, every per-step normalized v, and the final
    lam are rounded at PCA_ITER_DIGITS with :func:`_round_half_up` —
    bit-identical to Spark's round() on the same operands.  The
    unrounded w and its norm differ from the old plan (and from the
    DuckDB oracle) only in summation ORDER (fsum here — correctly
    rounded, hence partitioning-independent), which the oracle design
    already absorbs: the division by the irrational norm keeps every
    rounded cell off the half-boundary landmine (see PCA_ITER_DIGITS)
    — re-verified cell-exact against the unrolled-CTE oracles at
    sf0.01 and sf0.1.  Returns (v, lam).

    Degenerate input: when ``C v`` is all zeros — an all-zero
    covariance (constant vectors), or a v in C's null space after
    deflation — there is no direction to normalize, so iteration stops
    and the current v is returned with ``lam = 0.0``: zero variance
    reads as eigenvalue 0 instead of a ZeroDivisionError.  An empty
    matrix (no dims) returns ``([], 0.0)``."""
    import math

    d = len(C)
    if d == 0:
        return [], 0.0
    v = [_round_half_up(1.0 / math.sqrt(d), PCA_ITER_DIGITS)] * d
    nrm = 0.0
    for _ in range(iters):
        w = [math.fsum(C[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = math.sqrt(math.fsum(x * x for x in w))
        if nrm == 0.0:
            break
        v = [_round_half_up(x / nrm, PCA_ITER_DIGITS) for x in w]
    return v, _round_half_up(nrm, PCA_ITER_DIGITS)


def pca_components(
    df: DataFrame,
    vec_col: str = "embedding",
    r: int = 2,
    iters: int = 15,
    digits: int = 6,
) -> DataFrame:
    """(component, dim, loading) for the top ``r`` principal components
    by power iteration WITH DEFLATION: after extracting v_c with
    eigenvalue lambda_c (the final ||w|| of its iteration), the matrix
    becomes C <- C - lambda_c * v_c v_c^T and the next component
    re-iterates on it.  Everything after the one corpus-sized
    covariance aggregate is dims²-bounded and runs on the driver
    (:func:`_power_iterate_local`), so top-r is driver microseconds
    regardless of corpus scale.

    Engine portability (the declared-oracle contract): lambda and every
    v cell are rounded per step at PCA_ITER_DIGITS, and the deflated
    cell is computed as ``cov - lam * v_i * v_j`` with identical
    left-associative order on both engines, so the deflated cells are
    bit-identical IEEE results of identical-rounded operands; the next
    trajectory then re-pins per step exactly like the first.  Deflated
    cells are deliberately NOT re-rounded — they are exact-decimal
    differences sitting ON half-boundaries, the PCA_ITER_DIGITS
    landmine; the division by each step's irrational norm restores
    genericity before the next round."""
    if r < 1:
        raise ValueError(f"r must be >= 1, got {r}")
    dims, C = _collect_cov(_sym_covariance(df, vec_col))
    d = len(dims)
    rows = []
    for c in range(r):
        v, lam = _power_iterate_local(C, iters)
        rows += [
            (c, int(dim), _round_half_up(x, digits)) for dim, x in zip(dims, v)
        ]
        if c < r - 1:
            # Deflation C <- C - lam v v^T with the SAME left-associative
            # per-cell order the oracle pins: cov - (lam * v_i) * v_j,
            # deliberately NOT re-rounded (see the class docstring note
            # on the half-boundary landmine).
            C = [
                [C[i][j] - lam * v[i] * v[j] for j in range(d)] for i in range(d)
            ]
    return df.sparkSession.createDataFrame(
        rows, "component int, dim int, loading double"
    )


def pca_project_components(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    r: int = 2,
    iters: int = 15,
    digits: int = 6,
) -> DataFrame:
    """(id, component, score): every vector's coordinates in the top-r
    principal subspace — :func:`pca_components`' loading vectors (r x
    dims rows, broadcast-sized) joined onto the posexploded corpus with
    ONE (id, component)-keyed hash agg folding the dot products; the
    r-D twin of :func:`pca_project`, same collapse-before-exchange
    shape."""
    v = pca_components(df, vec_col=vec_col, r=r, iters=iters, digits=PCA_ITER_DIGITS)
    el = df.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("dim", "__x")
    ).select("id", "dim", F.col("__x").cast("double").alias("__x"))
    return (
        el.join(F.broadcast(v), "dim")
        .groupBy("id", "component")
        .agg(F.round(F.sum(F.col("__x") * F.col("loading")), digits).alias("score"))
    )


def pca_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 15,
    digits: int = 6,
) -> DataFrame:
    """(id, score): each vector's coordinate along the top principal
    component — the 1-D "what axis explains this corpus" embedding used
    for curriculum ordering, coarse bucketing, and eyeballing clusters
    before paying for full k-means.

    The loading vector from :func:`pca_top_component` is dims-sized, so
    it broadcast-joins onto the posexploded vectors and ONE id-keyed
    hash agg folds the dot product — fan-out collapses map-side exactly
    like the covariance agg; nothing row-sized shuffles unkeyed."""
    v = pca_top_component(df, vec_col=vec_col, iters=iters, digits=PCA_ITER_DIGITS)
    el = df.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("dim", "__x")
    ).select("id", "dim", F.col("__x").cast("double").alias("__x"))
    return (
        el.join(F.broadcast(v), "dim")
        .groupBy("id")
        .agg(F.round(F.sum(F.col("__x") * F.col("loading")), digits).alias("score"))
    )


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    B: int = 32,
    lo: float = 0.025,
    hi: float = 0.975,
    seed: int = 0,
    digits: int = 6,
) -> DataFrame:
    """(group, n_replicates, mean, lo_ci, hi_ci): a subsampling
    confidence interval for each group's mean — the "is this per-source
    quality delta real or noise" readout that turns the profiling
    family's point estimates into decisions.

    DETERMINISTIC resampling (the repo's portable-coin discipline):
    replicate ``b`` keeps a row iff the first 8 md5 hex digits of
    ``seed|b|key`` fall below 2^31 — an exact INTEGER compare, no float
    coin — so every replicate is a pure function of the data,
    reproducible across runs, partitionings, and engines.  Half-rate
    subsampling (m ≈ n/2 without replacement) rather than Efron
    with-replacement draws: Poisson replication isn't portably
    derivable from one uniform, and m-out-of-n subsampling is a
    consistent bootstrap with the same plumbing.  The CI is the
    [lo, hi] interpolated percentile band over the B replicate means.

    Plan: one bounded B-way fan-out (explode of a literal range,
    collapses map-side), ONE (group, b)-keyed hash agg for replicate
    means, then a group-keyed exact percentile over B values — state is
    B doubles per group, never row-sized.  Everything before the mean
    is exact integers; means and percentile bounds round at ``digits``
    after count division keeps them generic."""
    if B < 2:
        raise ValueError(f"B must be >= 2, got {B}")
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"need 0 <= lo < hi <= 1, got ({lo}, {hi})")
    coin = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(seed),
                    F.col("__b"),
                    F.col(key_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    rep = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("double").alias("__v"),
            F.col(key_col).alias(key_col),
        )
        .withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .filter(coin < F.lit(1 << 31))
    )
    means = rep.groupBy("grp", "__b").agg(F.avg("__v").alias("__m"))
    return (
        means.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_replicates"),
            F.round(F.avg("__m"), digits).alias("mean"),
            F.round(F.percentile("__m", F.lit(float(lo))), digits).alias("lo_ci"),
            F.round(F.percentile("__m", F.lit(float(hi))), digits).alias("hi_ci"),
        )
        .select(F.col("grp").alias(group_col), "n_replicates", "mean", "lo_ci", "hi_ci")
    )


def robust_outlier_report(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_thresh: float = 3.5,
    digits: int = 7,
) -> DataFrame:
    """(group, n, med, mad, n_outliers): per-group robust outlier screen
    by modified z-score (Iglewicz & Hoaglin 1993): an observation is an
    outlier when |0.6745 (x - median) / MAD| exceeds ``z_thresh``
    (3.5 is the standard cut).  Median/MAD resist the very outliers a
    mean/stddev rule would absorb — the screen that catches corrupted
    numeric feeds (price glitches, sensor spikes) without first
    cleaning them.

    Determinism/portability: median is the exact interpolated quantile
    (Spark ``percentile`` = DuckDB ``median``, both at index
    p·(n-1)); the z rule uses median and MAD ROUNDED to 6 first, so the
    threshold compare is a pure function of identical inputs in any
    engine (the divide-by-derived-quantity rounding discipline).
    Groups with MAD = 0 (over half the mass on one value) report
    n_outliers = 0 by convention — the rule is undefined there; pair
    with an exact-frequency screen for degenerate feeds.

    Scale note: exact medians sort within each group (two group-keyed
    aggregations + two broadcastable group-sized joins).  At corpus
    scale swap ``percentile`` for ``percentile_approx`` — the report
    shape is unchanged; the declared query pins the exact contract."""
    v = F.col(value_col)
    grouped = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(v, F.lit(0.5)).alias("__med"),
    )
    j = df.select(F.col(group_col).alias("grp"), v.alias("__v")).join(
        grouped, "grp"
    )
    stats = (
        j.groupBy("grp")
        .agg(
            F.first("n").alias("n"),
            F.first("__med").alias("__med"),
            F.percentile(F.abs(F.col("__v") - F.col("__med")), F.lit(0.5)).alias(
                "__mad"
            ),
        )
        .withColumn("__med6", F.round("__med", 6))
        .withColumn("__mad6", F.round("__mad", 6))
    )
    z = F.abs(
        F.lit(0.6745) * (F.col("__v") - F.col("__med6")) / F.col("__mad6")
    )
    outliers = (
        df.select(F.col(group_col).alias("grp"), v.alias("__v"))
        .join(stats.select("grp", "__med6", "__mad6"), "grp")
        .filter((F.col("__mad6") > 0) & (z > z_thresh))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        stats.join(outliers, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.round("__med", digits).alias("med"),
            F.round("__mad", digits).alias("mad"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
    )
