"""profile_table: one-pass per-column profiling."""

from pyspark.sql import functions as F

from bigdata_hits_spark.operators.profiling import profile_table


def test_profile_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (3, "a", 2.5), (4, None, None)],
        "k long, s string, v double",
    )
    prof = {r["column"]: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(prof) == {"k", "s", "v"}
    assert all(prof[c]["n_rows"] == 4 for c in prof)
    assert prof["s"]["n_nulls"] == 1 and prof["v"]["n_nulls"] == 2
    assert prof["k"]["n_distinct"] == 4 and prof["s"]["n_distinct"] == 2
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "4"
    assert prof["s"]["min_value"] == "a" and prof["s"]["max_value"] == "b"


def test_profile_approx_mode_no_expand(spark):
    """The scale default (HLL++) must not plan an Expand (the exact
    mode's rows-times-columns blowup)."""
    df = spark.createDataFrame([(i, f"s{i % 7}") for i in range(100)], "k long, s string")
    approx = profile_table(df)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    prof = {r["column"]: r for r in approx.collect()}
    # HLL++ is exact-ish at tiny cardinalities
    assert abs(prof["s"]["n_distinct"] - 7) <= 1
    exact_plan = (
        profile_table(df, exact_distinct=True)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan  # the documented cost of exactness


def test_skew_report(spark):
    from bigdata_hits_spark.operators.profiling import skew_report
    from pyspark.sql import functions as F

    # hot key 'h' = 50% of rows, nulls 10%, long tail for the rest
    rows = [("h",)] * 50 + [(None,)] * 10 + [(f"t{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "k string").withColumn(
        "other", F.lit("x")
    )
    rep = skew_report(df, ["k", "other"], k=3).collect()
    by_col = {}
    for r in rep:
        by_col.setdefault(r["column"], []).append(r)
    ks = sorted(by_col["k"], key=lambda r: r["rank"])
    assert [(r["key"], r["cnt"]) for r in ks] == [("h", 50), ("NULL", 10), ("t0", 1)]
    assert ks[0]["share"] == 0.5
    (o,) = by_col["other"]
    assert (o["key"], o["cnt"], o["share"], o["rank"]) == ("x", 100, 1.0, 1)


def test_skew_report_plan_no_global_sort(spark):
    from bigdata_hits_spark.operators.profiling import skew_report

    df = spark.range(1000).selectExpr("id as k")
    plan = skew_report(df, ["k"], k=5)._jdf.queryExecution().executedPlan().toString()
    # top-k must be TakeOrderedAndProject, not a range-partitioned sort
    assert "TakeOrderedAndProject" in plan


def test_histogram_buckets_and_empty_bins(spark):
    from bigdata_hits_spark.operators.profiling import histogram

    # values 0..9 plus an outlier at 100: with 10 bins over [0, 100],
    # bin 0 holds 0..9, bin 9 holds the max (clamped), bins 1..8 empty
    df = spark.createDataFrame([(float(v),) for v in range(10)] + [(100.0,), (None,)], "x double")
    got = {r["bucket"]: (r["lo"], r["hi"], r["cnt"]) for r in histogram(df, "x", bins=10).collect()}
    assert len(got) == 10
    assert got[0] == (0.0, 10.0, 10)
    assert got[9] == (90.0, 100.0, 1)
    for b in range(1, 9):
        assert got[b][2] == 0, b
    # NULL excluded from every bucket
    assert sum(v[2] for v in got.values()) == 11


def test_histogram_constant_column(spark):
    from bigdata_hits_spark.operators.profiling import histogram

    df = spark.createDataFrame([(5.0,)] * 4, "x double")
    got = histogram(df, "x", bins=3).collect()
    by_b = {r["bucket"]: r["cnt"] for r in got}
    assert by_b == {0: 4, 1: 0, 2: 0}


def test_equidepth_histogram_balances_buckets(spark):
    from bigdata_hits_spark.operators.profiling import equidepth_histogram

    # 0..799: every bucket should hold exactly 100 rows
    df = spark.createDataFrame([(float(i),) for i in range(800)], "x double")
    got = {r["bucket"]: r for r in equidepth_histogram(df, "x", buckets=8).collect()}
    assert set(got) == set(range(8))
    assert all(got[b]["cnt"] == 100 for b in range(8))
    # edges are the exact j/8 quantiles of 0..799: 99.875, 199.75, ...
    assert got[0]["lo"] == 0.0 and got[7]["hi"] == 799.0
    assert got[1]["lo"] == got[0]["hi"] == 99.875


def test_equidepth_histogram_skewed_beats_equiwidth(spark):
    from bigdata_hits_spark.operators.profiling import equidepth_histogram, histogram

    # 99% of mass at the bottom; one huge outlier stretches the range
    data = [(float(i % 100),) for i in range(990)] + [(1_000_000.0,)] * 10
    df = spark.createDataFrame(data, "x double")
    eqw = {r["bucket"]: r["cnt"] for r in histogram(df, "x", bins=4).collect()}
    eqd = {r["bucket"]: r["cnt"] for r in equidepth_histogram(df, "x", 4).collect()}
    assert eqw[0] == 990 and max(eqd.values()) <= 500  # depth buckets stay balanced
    assert sum(eqd.values()) == 1000


def test_equidepth_histogram_edge_cases(spark):
    from bigdata_hits_spark.operators.profiling import equidepth_histogram

    one = spark.createDataFrame([(7.0,)], "x double")
    got = equidepth_histogram(one, "x", buckets=4).collect()
    assert len(got) == 4 and sum(r["cnt"] for r in got) == 1
    assert all(r["lo"] == 7.0 and r["hi"] == 7.0 for r in got)

    const = spark.createDataFrame([(2.0,)] * 50, "x double")
    by_b = {r["bucket"]: r["cnt"] for r in equidepth_histogram(const, "x", 4).collect()}
    assert by_b == {0: 50, 1: 0, 2: 0, 3: 0}  # ties at an edge go DOWN

    empty = spark.createDataFrame([(None,)], "x double")
    assert equidepth_histogram(empty, "x", 4).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="buckets"):
        equidepth_histogram(one, "x", 0)


def test_array_dim_stats_moments_per_dimension(spark):
    from bigdata_hits_spark.operators.profiling import array_dim_stats

    df = spark.createDataFrame(
        [(1, [0.0, 4.0]), (2, [2.0, 4.0]), (3, [4.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in array_dim_stats(df, "embedding").collect()}
    assert set(out) == {0, 1}
    d0 = out[0]
    assert d0["n"] == 3 and d0["avg_v"] == 2.0
    assert d0["min_v"] == 0.0 and d0["max_v"] == 4.0
    assert d0["sd_v"] == 2.0  # sample stddev of {0,2,4}
    d1 = out[1]
    assert d1["avg_v"] == 4.0 and d1["sd_v"] == 0.0


def test_grouped_linreg_exact_lines(spark):
    from bigdata_hits_spark.operators.profiling import grouped_linreg

    df = spark.createDataFrame(
        [
            ("g1", 1.0, 2.0), ("g1", 2.0, 4.0), ("g1", 3.0, 6.0),
            ("g2", 1.0, 1.0), ("g2", 2.0, 1.0), ("g2", 3.0, 1.0),
            ("g3", 2.0, 1.0), ("g3", 2.0, 5.0),
        ],
        "g string, x double, y double",
    )
    out = {r["g"]: r for r in grouped_linreg(df, "x", "y", "g").collect()}
    assert out["g1"]["slope"] == 2.0 and out["g1"]["intercept"] == 0.0
    assert out["g1"]["r2"] == 1.0 and out["g1"]["n"] == 3
    # constant y: slope 0, intercept = mean(y), r2 undefined (corr NULL)
    assert out["g2"]["slope"] == 0.0 and out["g2"]["intercept"] == 1.0
    assert out["g2"]["r2"] is None
    # constant x: the fit is undefined entirely
    assert out["g3"]["slope"] is None and out["g3"]["intercept"] is None


def test_corr_matrix_signs_and_pairs(spark):
    from bigdata_hits_spark.operators.profiling import corr_matrix

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0)],
        "a double, b double, c double",
    )
    rows = {(r["x"], r["y"]): r["corr"] for r in corr_matrix(df, ["a", "b", "c"]).collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}  # upper triangle only
    assert rows[("a", "b")] == 1.0
    assert rows[("a", "c")] == -1.0
    assert rows[("b", "c")] == -1.0


def test_psi_report_identical_distributions_score_zero(spark):
    from bigdata_hits_spark.operators.profiling import psi_report

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    out = psi_report(ref, ref, "x", buckets=4).collect()
    assert len(out) == 4
    assert all(r["psi_term"] == 0.0 for r in out)
    assert all(abs(r["p_ref"] - 0.25) < 0.02 for r in out)


def test_psi_report_detects_planted_shift_and_clamps_range(spark):
    from bigdata_hits_spark.operators.profiling import psi_report

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    # shift everything past the reference max: all mass -> last bucket
    new = spark.createDataFrame([(float(i + 1000),) for i in range(100)], "x double")
    out = {r["bucket"]: r for r in psi_report(ref, new, "x", buckets=4).collect()}
    assert out[3]["p_new"] == 1.0
    assert all(out[b]["p_new"] == 0.0 for b in (0, 1, 2))
    total = sum(r["psi_term"] for r in out.values())
    assert total > 1.0  # massive drift scores massively


def test_psi_report_empty_bucket_uses_floor_not_nan(spark):
    import math

    from bigdata_hits_spark.operators.profiling import PSI_FLOOR, psi_report

    ref = spark.createDataFrame([(float(i),) for i in range(64)], "x double")
    new = spark.createDataFrame([(1.0,)], "x double")
    out = psi_report(ref, new, "x", buckets=4).collect()
    assert all(r["psi_term"] is not None and not math.isnan(r["psi_term"]) for r in out)
    empty = [r for r in out if r["p_new"] == 0.0]
    assert empty  # three empty buckets, each floored at PSI_FLOOR
    for r in empty:
        expected = (PSI_FLOOR - r["p_ref"]) * math.log(PSI_FLOOR / max(r["p_ref"], PSI_FLOOR))
        assert abs(r["psi_term"] - round(expected, 6)) <= 1e-6


def test_categorical_profile_topk_shares_and_nulls(spark):
    from bigdata_hits_spark.operators.profiling import categorical_profile

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), (None, 2), (None, 3)],
        "s string, v int",
    )
    out = categorical_profile(df, ["s", "v"], k=2)
    rows = {(r["column"], r["value"]): r for r in out.collect()}
    assert rows[("s", "a")]["n"] == 2 and rows[("s", "a")]["share"] == 0.4
    assert ("s", None) in rows  # NULL profiled as a value
    # v: 2 appears twice, ties 1 vs 3 broken by value asc -> "1"
    assert rows[("v", "2")]["n"] == 2
    assert ("v", "1") in rows and ("v", "3") not in rows


def test_array_covariance_matches_numpy(spark):
    import numpy as np

    from bigdata_hits_spark.operators.profiling import array_covariance

    rng = [[float(((i * 7 + j * 13) % 10) - 4.5) for j in range(4)] for i in range(30)]
    df = spark.createDataFrame([(r,) for r in rng], "embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"] for r in array_covariance(df).collect()}
    want = np.cov(np.array(rng).T, bias=True)
    assert len(got) == 10  # 4*5/2 upper-triangle cells
    for (i, j), c in got.items():
        assert i <= j
        assert abs(c - want[i][j]) < 1e-6


def test_pca_top_component_matches_numpy_eigh(spark):
    import numpy as np

    from bigdata_hits_spark.operators.profiling import pca_top_component

    # anisotropic cloud: a dominant direction along (1, 1, 0, 0)
    rng = np.random.RandomState(7)
    base = rng.normal(size=(200, 4)) * np.array([1.0, 1.0, 0.2, 0.1])
    base[:, 1] = base[:, 0] * 0.9 + base[:, 1] * 0.1
    df = spark.createDataFrame(
        [(r.tolist(),) for r in base], "embedding array<double>"
    )
    got = pca_top_component(df, iters=15).collect()
    v = np.zeros(4)
    for r in got:
        v[r["dim"]] = r["loading"]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5
    cov = np.cov(base.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(abs(float(np.dot(v, top))) - 1.0) < 1e-3


def test_pca_top_component_deterministic_across_partitionings(spark):
    from bigdata_hits_spark.operators.profiling import pca_top_component

    rows = [([float((i * 3 + d) % 7) for d in range(5)],) for i in range(50)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    a = sorted(map(tuple, pca_top_component(df, iters=8).collect()))
    b = sorted(map(tuple, pca_top_component(df.repartition(9), iters=8).collect()))
    assert a == b


def test_pca_components_orthogonal_and_match_numpy(spark):
    """Deflation extracts the top-2 eigenpair directions: each loading
    vector is unit-norm, the pair is near-orthogonal (finite iterations
    + 6-digit per-step rounding bound the residual), component 0 equals
    pca_top_component, and both align with numpy's eigh."""
    import numpy as np

    from bigdata_hits_spark.operators.profiling import (
        pca_components,
        pca_top_component,
    )

    rng = np.random.RandomState(7)
    base = rng.normal(size=(200, 4)) * np.array([2.0, 1.0, 0.3, 0.1])
    df = spark.createDataFrame(
        [(r.tolist(),) for r in base], "embedding array<double>"
    )
    got = pca_components(df, r=2, iters=15).collect()
    V = np.zeros((2, 4))
    for r in got:
        V[r["component"], r["dim"]] = r["loading"]
    assert abs(np.linalg.norm(V[0]) - 1.0) < 1e-5
    assert abs(np.linalg.norm(V[1]) - 1.0) < 1e-5
    assert abs(float(np.dot(V[0], V[1]))) < 1e-3
    cov = np.cov(base.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    assert abs(abs(float(np.dot(V[0], evecs[:, -1]))) - 1.0) < 1e-3
    assert abs(abs(float(np.dot(V[1], evecs[:, -2]))) - 1.0) < 1e-3
    top1 = {r["dim"]: r["loading"] for r in pca_top_component(df, iters=15).collect()}
    for r in got:
        if r["component"] == 0:
            assert r["loading"] == top1[r["dim"]]


def test_pca_project_components_is_per_component_dot(spark):
    import numpy as np

    from bigdata_hits_spark.operators.profiling import (
        pca_components,
        pca_project_components,
    )

    rng = np.random.RandomState(3)
    base = rng.normal(size=(60, 3)) * np.array([2.0, 0.7, 0.2])
    df = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    V = np.zeros((2, 3))
    for r in pca_components(df, r=2, iters=12).collect():
        V[r["component"], r["dim"]] = r["loading"]
    got = {
        (r["id"], r["component"]): r["score"]
        for r in pca_project_components(df, r=2, iters=12).collect()
    }
    assert len(got) == 120
    for i in range(60):
        for c in range(2):
            assert abs(got[(i, c)] - float(np.dot(base[i], V[c]))) < 1e-4


def test_bootstrap_mean_ci_brackets_truth_and_is_deterministic(spark):
    """CI brackets the true mean on a well-behaved group, replicate
    membership is partition-invariant, and guards reject bad params."""
    import pytest

    from bigdata_hits_spark.operators.profiling import bootstrap_mean_ci

    rows = [(i, "g", float(100 + (i * 37) % 50)) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, grp string, v double")
    out = bootstrap_mean_ci(df, "grp", "v", "k", B=16).collect()
    assert len(out) == 1
    r = out[0]
    true_mean = sum(v for _, _, v in rows) / len(rows)
    assert r["lo_ci"] <= true_mean <= r["hi_ci"]
    assert r["lo_ci"] <= r["mean"] <= r["hi_ci"]
    assert r["n_replicates"] == 16
    again = bootstrap_mean_ci(df.repartition(7), "grp", "v", "k", B=16).collect()[0]
    assert tuple(again) == tuple(r)
    with pytest.raises(ValueError, match="B must be"):
        bootstrap_mean_ci(df, "grp", "v", "k", B=1)
    with pytest.raises(ValueError, match="lo < hi"):
        bootstrap_mean_ci(df, "grp", "v", "k", lo=0.9, hi=0.1)


def test_robust_outlier_report_known_values(spark):
    from bigdata_hits_spark.operators.profiling import robust_outlier_report

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0),
         ("z", 5.0), ("z", 5.0), ("z", 5.0), ("z", 9.0)],
        "grp string, v double",
    )
    rows = {r["grp"]: r for r in robust_outlier_report(df, "v", "grp").collect()}
    g = rows["g"]
    # median 3, MAD = median(|x-3|) = median([2,1,0,1,97]) = 1
    assert g["n"] == 5 and g["med"] == 3.0 and g["mad"] == 1.0
    # only 100 has |0.6745*(x-3)/1| > 3.5
    assert g["n_outliers"] == 1
    # MAD = 0 (interpolated median of [0,0,0,4] = 0): convention 0 outliers
    z = rows["z"]
    assert z["mad"] == 0.0 and z["n_outliers"] == 0


def test_pca_constant_vectors_zero_variance(spark):
    """Constant vectors have an all-zero covariance: the power iteration
    has no direction to normalize, so it stops at the start vector with
    eigenvalue 0 instead of dividing by a zero norm."""
    from bigdata_hits_spark.operators.profiling import (
        _power_iterate_local,
        pca_components,
        pca_top_component,
    )

    df = spark.createDataFrame([([1.0, 2.0, 3.0],)] * 20, "embedding array<double>")
    start = round(1 / 3 ** 0.5, 6)
    top = sorted(map(tuple, pca_top_component(df, iters=8).collect()))
    assert top == [(0, start), (1, start), (2, start)]
    both = pca_components(df, r=2, iters=8).collect()
    assert sorted((r["component"], r["dim"]) for r in both) == [
        (c, d) for c in range(2) for d in range(3)
    ]
    assert all(r["loading"] == start for r in both)
    assert _power_iterate_local([[0.0] * 3] * 3, 5) == ([start] * 3, 0.0)
    assert _power_iterate_local([], 5) == ([], 0.0)
