"""Table-level checks over the corpus and the driver star schema."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from medea_spark.checks import (
    chi_square_p_value,
    column_stats,
    drift_decision,
    duplicate_keys,
    lang_size_histogram,
    orphan_rows,
    referential_report,
    top_k,
    uniqueness_report,
)
from medea_spark.corpus import dim_repos, generate_corpus

from tests.conftest import TESTDATA


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, 3000, seed=42).cache()
    yield df
    df.unpersist()


def test_column_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d")], ["x", "y"]
    )
    stats = {r["col_name"]: r for r in column_stats(df, ["x", "y"], exact_distinct=True).collect()}
    assert stats["x"]["n_rows"] == 4
    assert stats["x"]["n_nulls"] == 1
    assert stats["x"]["null_rate"] == 0.25
    assert stats["x"]["min_value"] == "1" and stats["x"]["max_value"] == "3"
    assert stats["x"]["distinct_count"] == 3
    assert stats["y"]["n_nulls"] == 1


def test_duplicate_keys_salted_equals_plain(corpus):
    keys = ["repo", "path", "commit"]
    salted = duplicate_keys(corpus, keys, salted=True).orderBy(*keys).collect()
    plain = duplicate_keys(corpus, keys, salted=False).orderBy(*keys).collect()
    assert salted == plain
    assert len(salted) > 0  # generator injects duplicates


def test_uniqueness_report(corpus):
    row = uniqueness_report(corpus, ["repo", "path", "commit"]).collect()[0]
    assert row["total_rows"] == 3000
    assert row["distinct_keys"] + row["surplus_rows"] == 3000
    assert row["duplicate_keys"] > 0


def test_referential_orphans(spark, corpus):
    dim = dim_repos(spark)
    orphans = orphan_rows(corpus, dim, "repo")
    report = referential_report(corpus, dim, "repo").collect()
    assert orphans.count() > 0  # generator withholds some repos
    assert all(r["repo"].startswith("repo-") for r in report)
    # broadcast anti-join must appear in the physical plan
    plan = orphans._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_drift_detected_between_base_and_drifted(spark):
    base = lang_size_histogram(generate_corpus(spark, 4000, seed=42, drift=False))
    same = lang_size_histogram(generate_corpus(spark, 4000, seed=43, drift=False))
    drifted = lang_size_histogram(generate_corpus(spark, 4000, seed=42, drift=True))
    no_drift = drift_decision(same, base)
    yes_drift = drift_decision(drifted, base)
    assert not no_drift["drifted"], no_drift
    assert yes_drift["drifted"], yes_drift
    assert yes_drift["statistic"] > no_drift["statistic"]


def test_psi_statistic_orders_drift(spark):
    """PSI: ~0 for an identical distribution, larger under real drift
    than under resampling noise, and a hand-computed two-cell case is
    exact."""
    from medea_spark.checks import psi_statistic

    base = lang_size_histogram(generate_corpus(spark, 4000, seed=42, drift=False))
    same = lang_size_histogram(generate_corpus(spark, 4000, seed=43, drift=False))
    drifted = lang_size_histogram(generate_corpus(spark, 4000, seed=42, drift=True))
    self_psi = psi_statistic(base, base).collect()[0]
    noise_psi = psi_statistic(same, base).collect()[0].psi
    drift_psi = psi_statistic(drifted, base).collect()[0].psi
    assert self_psi.psi == 0.0 and self_psi.n_cells > 0
    assert drift_psi > noise_psi >= 0.0
    assert drift_psi > 0.1  # the standard "shift" threshold

    # hand case: cur 90/10 vs base 50/50
    cur = spark.createDataFrame([("a", 90), ("b", 10)], ["lang", "cnt"])
    bas = spark.createDataFrame([("a", 50), ("b", 50)], ["lang", "cnt"])
    got = psi_statistic(cur, bas).collect()[0].psi
    want = round((0.9 - 0.5) * math.log(0.9 / 0.5) + (0.1 - 0.5) * math.log(0.1 / 0.5), 6)
    assert got == want


def test_psi_statistic_empty_side_is_null(spark):
    """An empty current or baseline side gives a NULL psi (like
    ks_statistic), not the finite value an epsilon floor would invent."""
    from medea_spark.checks import psi_statistic

    full = spark.createDataFrame([("a", 90), ("b", 10)], ["lang", "cnt"])
    empty = full.limit(0)
    for cur, bas in ((empty, full), (full, empty)):
        row = psi_statistic(cur, bas).collect()[0]
        assert row.psi is None
        assert row.n_cells == 2


def test_chi_square_p_value_sanity():
    # Known quantiles: chi2(0.95, dof=4) ≈ 9.488, chi2(0.99, dof=4) ≈ 13.277
    assert math.isclose(chi_square_p_value(9.488, 4), 0.05, abs_tol=2e-3)
    assert math.isclose(chi_square_p_value(13.277, 4), 0.01, abs_tol=1e-3)
    assert chi_square_p_value(0.0, 4) == 1.0


def test_size_bucket_histogram(corpus):
    hist = lang_size_histogram(
        corpus.withColumn("n_chars", F.length("content")), size_col="n_chars"
    )
    rows = hist.collect()
    assert all(r["cnt"] > 0 for r in rows)
    assert {"lang", "size_bucket", "cnt"} == set(hist.columns)


def test_top_k_deterministic(spark):
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    a = top_k(df, ["lang"], 3).collect()
    b = top_k(df, ["lang"], 3).collect()
    assert a == b and len(a) == 3


def test_check_suite_single_pass(spark):
    """Every rule kind in one aggregate; known data, exact metrics."""
    from medea_spark.checks import (
        accepted_values,
        in_range,
        matches,
        min_rows,
        not_null,
        run_check_suite,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "click", 5.0),
            (2, "view", 150.0),     # out of range
            (3, None, 7.0),         # null type
            (3, "click", 8.0),      # duplicate id
            (5, "weird!", 9.0),     # regex + accepted fail
        ],
        ["event_id", "event_type", "value"],
    )
    rules = [
        not_null("event_type"),
        in_range("value", 0, 100),
        matches("event_type", "^[a-z]+$"),
        accepted_values("event_type", ["click", "view"]),
        unique(["event_id"]),
        min_rows(3),
        min_rows(10, rule_id="min_rows:impossible"),
    ]
    got = {r.rule_id: (r.metric, r.passed) for r in run_check_suite(df, rules).collect()}
    assert got["not_null:event_type"] == (1, False)
    assert got["in_range:value"] == (1, False)
    assert got["matches:event_type"] == (1, False)
    assert got["accepted_values:event_type"] == (1, False)
    assert got["unique:event_id"] == (1, False)
    assert got["min_rows:3"] == (5, True)
    assert got["min_rows:impossible"] == (5, False)
    # tolerances flip the verdicts
    got2 = {
        r.rule_id: r.passed
        for r in run_check_suite(
            df, [not_null("event_type", max_violations=1)]
        ).collect()
    }
    assert got2["not_null:event_type"] is True


def test_check_suite_rejects_duplicate_ids(spark):
    import pytest

    from medea_spark.checks import min_rows, run_check_suite

    with pytest.raises(ValueError, match="duplicate rule_ids"):
        run_check_suite(spark.range(1), [min_rows(1, rule_id="x"), min_rows(2, rule_id="x")])


def test_column_quantiles_exact_and_approx(spark):
    """Exact path: linear interpolation on a hand-computable series
    (0..999 -> q50 = 499.5); approx path: rank error within the
    1/accuracy GK bound; all-NULL columns yield NULL, and NULLs are
    ignored."""
    from pyspark.sql import functions as F

    from medea_spark.checks import column_quantiles

    df = spark.range(1000).select(
        F.col("id").cast("double").alias("x"),
        F.lit(None).cast("double").alias("all_null"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("half_null"),
    )
    exact = {
        (r.col_name, r.prob): r.value
        for r in column_quantiles(
            df, ["x", "all_null", "half_null"], probs=(0.25, 0.5, 0.75), approx=False
        ).collect()
    }
    assert exact[("x", 0.5)] == 499.5
    assert exact[("x", 0.25)] == 249.75
    assert exact[("all_null", 0.5)] is None
    # NULLs ignored: half_null holds evens 0..998 -> median 499.0
    assert exact[("half_null", 0.5)] == 499.0

    approx = {
        (r.col_name, r.prob): r.value
        for r in column_quantiles(
            df, ["x"], probs=(0.25, 0.5, 0.75), approx=True, accuracy=10000
        ).collect()
    }
    # rank error <= n/accuracy = 0.1 ranks -> within 1 value of exact
    for p, want in ((0.25, 249.75), (0.5, 499.5), (0.75, 749.25)):
        assert abs(approx[("x", p)] - want) <= 1.0

    import pytest

    with pytest.raises(ValueError, match="at least one column"):
        column_quantiles(df, [])


def test_unique_null_key_semantics(spark):
    """Struct keys make all-NULL rows ONE distinct group (documented):
    3 rows with NULL ids = 1 group -> surplus 2, not the SQL
    count(distinct)-skips-NULLs answer of 3."""
    from medea_spark.checks import run_check_suite, unique

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (None, "c"), (1, "d"), (1, "e")],
        ["event_id", "x"],
    )
    got = {r.rule_id: r.metric for r in run_check_suite(df, [unique(["event_id"])]).collect()}
    assert got["unique:event_id"] == 3  # 5 rows - 2 groups (NULL-group + {1})


def test_unique_approx_hll_no_expand(spark):
    """unique(approx=True): the HLL estimate lands within the rsd band
    on a known-cardinality table, and the plan contains NO Expand node
    (the whole point — exact countDistinct would add one)."""
    from pyspark.sql import functions as F

    from medea_spark.checks import run_check_suite, unique

    df = spark.range(20000).select(
        F.col("id").alias("event_id"), (F.col("id") % 500).alias("user_id")
    )
    rules = [
        unique(["user_id"], approx=True, rsd=0.02, max_violations=20000),
        unique(["event_id"], approx=True, rsd=0.02, max_violations=1000),
    ]
    got = {r.rule_id: r.metric for r in run_check_suite(df, rules).collect()}
    # true surplus: 20000-500=19500 and 0; HLL rsd=0.02 -> +-3 sigma bands
    assert abs(got["unique_approx:user_id"] - 19500) <= 3 * 0.02 * 500 + 1
    assert got["unique_approx:event_id"] <= 3 * 0.02 * 20000
    plan = df.agg(*[r.metric_expr.alias(f"m{i}") for i, r in enumerate(rules)])
    assert "Expand" not in plan._jdf.queryExecution().executedPlan().toString()
    # SEVERAL exact uniques on different keys DO expand (the documented
    # cost this path avoids; a single distinct agg plans without Expand)
    exact = df.agg(
        unique(["user_id"]).metric_expr.alias("m1"),
        unique(["event_id"]).metric_expr.alias("m2"),
    )
    assert "Expand" in exact._jdf.queryExecution().executedPlan().toString()


def test_unique_sampled_matches_manual_estimator(spark):
    """unique_sampled is deterministic: recompute the hash-slice
    estimator in plain Python over the same rows and demand equality
    (the same arithmetic the DuckDB oracle runs)."""
    import hashlib

    from pyspark.sql import functions as F

    from medea_spark.checks import run_check_suite, unique_sampled

    rows = [(i, f"u{i % 37}") for i in range(4000)] + [(None, None)] * 3
    df = spark.createDataFrame(rows, ["event_id", "name"])
    shift = 2
    got = {
        r.rule_id: (r.metric, r.passed)
        for r in run_check_suite(
            df, [unique_sampled(["name"], shift=shift, max_violations=10**6)]
        ).collect()
    }

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    keys = {("u%d" % (i % 37)) for i in range(4000)} | {"\x00"}
    sampled = {k for k in keys if h60(k) < (1 << 60) >> shift}
    est = len(sampled) * (1 << shift)
    want = max(0, 4003 - est)
    assert got["unique_sampled:name"] == (want, True)


def test_relationship_violations_cardinalities(spark):
    """many_to_one flags only duplicated right keys; one_to_one flags
    both sides with the right labels; NULL keys are ignored."""
    import pytest

    from medea_spark.checks import relationship_violations

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "e")], ["k", "x"]
    )
    right = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (2, "r2b"), (None, "rn")], ["k", "y"]
    )
    m2o = {
        r.key: (r.left_count, r.right_count, r.violation)
        for r in relationship_violations(left, right, "k").collect()
    }
    assert m2o == {2: (1, 2, "duplicate_right")}
    o2o = {
        r.key: r.violation
        for r in relationship_violations(left, right, "k", expected="one_to_one").collect()
    }
    assert o2o == {1: "duplicate_left", 2: "duplicate_right"}
    with pytest.raises(ValueError, match="expected"):
        relationship_violations(left, right, "k", expected="many_to_many")


def test_k_anonymity_report(spark):
    """Groups below k surface with their sizes; NULL combos count as
    groups; a k-anonymous table yields an empty report."""
    import pytest

    from medea_spark.checks import k_anonymity_report

    rows = [("a", 1)] * 5 + [("b", 1)] * 2 + [(None, 2)] * 1
    df = spark.createDataFrame(rows, ["q1", "q2"])
    got = {
        (r.q1, r.q2): r.group_size
        for r in k_anonymity_report(df, ["q1", "q2"], k=5).collect()
    }
    assert got == {("b", 1): 2, (None, 2): 1}
    assert k_anonymity_report(df, ["q1", "q2"], k=2).count() == 1  # only the NULL singleton
    assert k_anonymity_report(df.filter("q1 = 'a'"), ["q1"], k=5).count() == 0
    with pytest.raises(ValueError, match="at least one"):
        k_anonymity_report(df, [], k=5)
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity_report(df, ["q1"], k=1)


def test_benford_report_known_distribution(spark):
    """A perfectly Benford-weighted sample yields near-zero chi2 terms;
    a uniform-digit sample deviates; zero/negative/NULL excluded."""
    import math

    from pyspark.sql import functions as F

    from medea_spark.checks import BENFORD_P, benford_report

    rows = []
    for d in range(1, 10):
        rows += [(float(d) * 10 ** (i % 3),) for i in range(round(BENFORD_P[d] * 1000))]
    rows += [(0.0,), (-5.0,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    rep = {r.digit: r for r in benford_report(df, "x").collect()}
    assert set(rep) == set(range(1, 10))
    n = sum(r.observed for r in rep.values())
    assert n == sum(round(BENFORD_P[d] * 1000) for d in range(1, 10))
    # observed ≈ expected everywhere (rounding of the 1000-sample split)
    assert all(abs(r.observed - r.expected) < 1.0 for r in rep.values())
    assert sum(r.chi2_term for r in rep.values()) < 0.1

    uni = spark.createDataFrame([(float(d),) for d in range(1, 10) for _ in range(100)], "x double")
    bad = benford_report(uni, "x").agg(F.sum("chi2_term")).collect()[0][0]
    assert bad > 50  # uniform digits are wildly non-Benford


def test_fd_violations(spark):
    """Violating determinants surface with variant counts and min/max
    examples; NULL dependents are skipped; a held dependency yields an
    empty result; NULL determinants group like values."""
    import pytest

    from medea_spark.checks import fd_violations

    df = spark.createDataFrame(
        [
            (1, "a"), (1, "a"), (1, "b"),          # violated: 2 variants
            (2, "c"), (2, None),                   # held: NULL dep skipped
            (3, "d"),                              # held
            (None, "x"), (None, "y"),              # NULL determinant, violated
        ],
        ["k", "v"],
    )
    got = {
        r.k: (r.n_rows, r.n_variants, r.variant_min, r.variant_max)
        for r in fd_violations(df, "k", "v").collect()
    }
    assert got == {1: (3, 2, "a", "b"), None: (2, 2, "x", "y")}
    held = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert fd_violations(held, "k", "v").count() == 0
    with pytest.raises(ValueError, match="determinant"):
        fd_violations(df, [], "v")


def test_mad_outliers(spark):
    """Planted extremes are flagged, inliers are not; MAD=0 flags any
    deviation from the median; approx path agrees with exact on
    well-separated data; NULLs excluded from counts."""
    import pytest

    from medea_spark.checks import mad_outliers

    # 99 values near 10 plus one extreme, and a NULL
    rows = [(float(10 + (i % 5)), ) for i in range(99)] + [(1e6,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    exact = mad_outliers(df, ["x"], approx=False).collect()[0]
    assert exact.col_name == "x"
    assert exact.n_values == 100
    assert exact.n_outliers == 1
    assert exact.outlier_rate == 0.01
    assert 10.0 <= exact.median <= 14.0 and exact.mad > 0
    approx = mad_outliers(df, ["x"], approx=True).collect()[0]
    assert approx.n_outliers == 1

    # constant-majority column: MAD = 0, every non-median value flagged
    const = spark.createDataFrame(
        [(5.0,)] * 10 + [(5.1,), (4.9,)], "x double"
    )
    row = mad_outliers(const, ["x"], approx=False).collect()[0]
    assert row.mad == 0.0 and row.n_outliers == 2

    with pytest.raises(ValueError, match="at least one column"):
        mad_outliers(df, [])


def test_ks_statistic(spark):
    """KS distance: identical samples give 0; disjoint samples give 1;
    a known hand-computed case matches; NULLs excluded; the binned
    path approximates the exact statistic within 1/bins."""
    import pytest

    from medea_spark.checks import ks_statistic

    same = spark.createDataFrame([(float(i % 7),) for i in range(70)], "x double")
    row = ks_statistic(same, same, "x").collect()[0]
    assert row.ks_stat == 0.0
    assert row.n_current == 70 and row.n_baseline == 70 and row.n_values == 7

    lo = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    hi = spark.createDataFrame([(float(i + 100),) for i in range(10)], "x double")
    assert ks_statistic(lo, hi, "x").collect()[0].ks_stat == 1.0

    # hand case: A={1,2,3,4}, B={3,4,5,6} -> max gap at x=2: |2/4 - 0| = 0.5
    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    b = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "x double")
    assert ks_statistic(a, b, "x").collect()[0].ks_stat == 0.5

    # NULLs excluded from both counts
    withnull = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    row = ks_statistic(withnull, withnull, "x").collect()[0]
    assert row.n_current == 2 and row.ks_stat == 0.0

    # binned path: shifted uniform, exact stat 0.25; 8 bins keeps it close
    cur = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    base = spark.createDataFrame([(float(i + 25),) for i in range(100)], "x double")
    exact = ks_statistic(cur, base, "x").collect()[0].ks_stat
    binned = ks_statistic(cur, base, "x", bins=8).collect()[0]
    assert abs(binned.ks_stat - exact) <= 1 / 8 + 1e-9
    assert binned.n_values <= 8

    with pytest.raises(ValueError, match="bins"):
        ks_statistic(cur, base, "x", bins=1)


def test_ks_statistic_grouped(spark):
    """by= computes an independent per-segment KS: a drifted group and
    an identical group report separately; a group present on only one
    side yields NULL ks_stat (not a divide-by-zero) with its zero
    count visible."""
    from medea_spark.checks import ks_statistic

    cur = spark.createDataFrame(
        [("drift", float(i)) for i in range(10)]
        + [("same", float(i % 4)) for i in range(12)]
        + [("novel", 1.0), ("novel", 2.0)],
        ["seg", "x"],
    )
    base = spark.createDataFrame(
        [("drift", float(i + 100)) for i in range(10)]
        + [("same", float(i % 4)) for i in range(12)],
        ["seg", "x"],
    )
    rows = {r.seg: r for r in ks_statistic(cur, base, "x", by=["seg"]).collect()}
    assert set(rows) == {"drift", "same", "novel"}
    assert rows["drift"].ks_stat == 1.0
    assert rows["same"].ks_stat == 0.0
    assert rows["novel"].ks_stat is None
    assert rows["novel"].n_current == 2 and rows["novel"].n_baseline == 0
    # per-group counts, not global
    assert rows["drift"].n_current == 10 and rows["same"].n_values == 4


def test_wasserstein_distance(spark):
    """W1 distance: identical samples give 0; a constant shift of a
    point mass gives exactly the shift; a hand-computed mixed case
    matches; NULLs excluded; W1 ranks a big shift above a small one
    where KS saturates at 1 for both."""
    from medea_spark.checks import ks_statistic, wasserstein_distance

    same = spark.createDataFrame([(float(i % 7),) for i in range(70)], "x double")
    row = wasserstein_distance(same, same, "x").collect()[0]
    assert row.w1_distance == 0.0
    assert row.n_current == 70 and row.n_baseline == 70 and row.n_values == 7

    # point masses at 0 vs 3: all mass moves distance 3
    p0 = spark.createDataFrame([(0.0,)] * 5, "x double")
    p3 = spark.createDataFrame([(3.0,)] * 5, "x double")
    assert wasserstein_distance(p0, p3, "x").collect()[0].w1_distance == 3.0

    # hand case: A={0,1}, B={0,2} uniform -> F_A-F_B = 0.5 on [1,2), W1 = 0.5
    a = spark.createDataFrame([(0.0,), (1.0,)], "x double")
    b = spark.createDataFrame([(0.0,), (2.0,)], "x double")
    assert wasserstein_distance(a, b, "x").collect()[0].w1_distance == 0.5

    # NULLs excluded
    withnull = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    row = wasserstein_distance(withnull, withnull, "x").collect()[0]
    assert row.n_current == 2 and row.w1_distance == 0.0

    # magnitude awareness: disjoint shifts of 10 vs 100 both give KS=1,
    # but W1 scales with the shift
    base = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    near = spark.createDataFrame([(float(i + 10),) for i in range(10)], "x double")
    far = spark.createDataFrame([(float(i + 100),) for i in range(10)], "x double")
    assert ks_statistic(near, base, "x").collect()[0].ks_stat == 1.0
    assert ks_statistic(far, base, "x").collect()[0].ks_stat == 1.0
    w_near = wasserstein_distance(near, base, "x").collect()[0].w1_distance
    w_far = wasserstein_distance(far, base, "x").collect()[0].w1_distance
    assert w_near == 10.0 and w_far == 100.0


def test_time_gaps(spark):
    """Missing buckets between observed min/max surface in order;
    a complete timeline yields no rows; NULL timestamps ignored;
    empty input yields empty output; bad granularity raises."""
    import datetime as dt

    import pytest

    from medea_spark.checks import time_gaps

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    present_hours = [0, 1, 2, 5, 6, 9]  # gaps at 3, 4, 7, 8
    rows = [(base + dt.timedelta(hours=h, minutes=17),) for h in present_hours]
    rows.append((None,))
    df = spark.createDataFrame(rows, "ts timestamp")
    got = [r.bucket for r in time_gaps(df, "ts", "hour").collect()]
    assert got == [base + dt.timedelta(hours=h) for h in (3, 4, 7, 8)]

    complete = spark.createDataFrame(
        [(base + dt.timedelta(hours=h),) for h in range(5)], "ts timestamp"
    )
    assert time_gaps(complete, "ts", "hour").count() == 0

    empty = spark.createDataFrame([], "ts timestamp")
    assert time_gaps(empty, "ts", "hour").count() == 0

    # day granularity truncates within-day spread to one bucket
    two_days = spark.createDataFrame(
        [(base,), (base + dt.timedelta(days=3, hours=11),)], "ts timestamp"
    )
    got = [r.bucket for r in time_gaps(two_days, "ts", "day").collect()]
    assert got == [base + dt.timedelta(days=1), base + dt.timedelta(days=2)]

    with pytest.raises(ValueError, match="granularity"):
        time_gaps(df, "ts", "fortnight")


def test_volume_anomalies(spark):
    """A planted spike and a silent (zero-filled) hour are both
    flagged; steady volumes are not; MAD=0 flags any deviation;
    bad granularity raises."""
    import datetime as dt

    import pytest

    from medea_spark.checks import volume_anomalies

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    # 11 steady hours of ~10 events, hour 5 silent, hour 8 spiking to 200
    for h in range(12):
        if h == 5:
            continue
        n = 200 if h == 8 else 10 + (h % 3)  # 10/11/12 steady band
        rows += [(base + dt.timedelta(hours=h, minutes=m % 60),) for m in range(n)]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {r.bucket.hour: r for r in volume_anomalies(df, "ts", "hour", 3.5).collect()}
    assert set(got) == {5, 8}
    assert got[5].cnt == 0 and got[5].modified_z < -3.5
    assert got[8].cnt == 200 and got[8].modified_z > 3.5
    assert got[5].median_cnt > 0 and got[5].mad_cnt > 0

    # constant volumes: MAD = 0, one deviating hour flagged
    const = []
    for h in range(6):
        n = 7 if h != 2 else 9
        const += [(base + dt.timedelta(hours=h, minutes=m),) for m in range(n)]
    cdf = spark.createDataFrame(const, "ts timestamp")
    flagged = volume_anomalies(cdf, "ts", "hour", 3.5).collect()
    assert [r.bucket.hour for r in flagged] == [2]
    assert flagged[0].mad_cnt == 0.0 and flagged[0].modified_z is None

    with pytest.raises(ValueError, match="granularity"):
        volume_anomalies(df, "ts", "decade")


def test_monotonic_violations(spark):
    """Regressions within a key surface with their predecessor; first
    row per key never violates; keys are independent; NULL values
    break the chain without poisoning it; strict mode flags ties;
    bad args raise."""
    import pytest

    from medea_spark.checks import monotonic_violations

    df = spark.createDataFrame(
        [
            ("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 11.0),  # 3 regresses
            ("a", 4, 11.0),                                   # tie: ok nondecr
            ("b", 1, 5.0), ("b", 2, 4.0),                     # 2 regresses
            ("c", 1, 7.0), ("c", 2, None), ("c", 3, 1.0),     # NULL breaks chain
        ],
        ["k", "seq", "v"],
    )
    got = [(r.k, r.seq, r.prev_value, r.value)
           for r in monotonic_violations(df, "k", "seq", "v").collect()]
    assert got == [("a", 3, 12.0, 11.0), ("b", 2, 5.0, 4.0)]

    strict = [(r.k, r.seq)
              for r in monotonic_violations(df, "k", "seq", "v",
                                            "strict_increasing").collect()]
    assert ("a", 4) in strict and ("a", 3) in strict

    desc = [(r.k, r.seq)
            for r in monotonic_violations(df, "k", "seq", "v",
                                          "nonincreasing").collect()]
    assert desc == [("a", 2)]

    with pytest.raises(ValueError, match="direction"):
        monotonic_violations(df, "k", "seq", "v", "sideways")
    with pytest.raises(ValueError, match="at least one"):
        monotonic_violations(df, [], "seq", "v")


def _py_ks_w1(a: list[int], b: list[int]) -> tuple[float, float, int]:
    """Pure-Python reference for the exact two-sample KS distance and
    1-Wasserstein distance over the merged distinct-value support —
    the same cumulative-ECDF arithmetic the Spark plans execute."""
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    xs = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    cum_a = cum_b = 0
    ks = 0.0
    w1 = 0.0
    for i, x in enumerate(xs):
        cum_a += ca.get(x, 0)
        cum_b += cb.get(x, 0)
        d = abs(cum_a / na - cum_b / nb)
        ks = max(ks, d)
        if i + 1 < len(xs):
            w1 += d * float(xs[i + 1] - x)
    return ks, w1, len(xs)


def test_ks_wasserstein_differential_vs_pure_python(spark):
    """Hypothesis differential: random integer samples judged by BOTH
    the Spark distinct-value ECDF plans and a 15-line pure-Python
    reference.  Catches off-by-one ECDF alignment, gap handling, and
    count bookkeeping that fixed examples might miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medea_spark.checks import ks_statistic, wasserstein_distance

    sample = st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=30)

    @settings(max_examples=10, deadline=None)
    @given(a=sample, b=sample)
    def run(a, b):
        ks_ref, w1_ref, n_vals = _py_ks_w1(a, b)
        da = spark.createDataFrame([(float(x),) for x in a], "x double")
        db = spark.createDataFrame([(float(x),) for x in b], "x double")
        ks_row = ks_statistic(da, db, "x").collect()[0]
        w1_row = wasserstein_distance(da, db, "x").collect()[0]
        # ks_stat/w1_distance are round(·, 6) in the plan; compare with
        # a half-ulp-at-scale-6 tolerance instead of re-rounding (Python
        # round is banker's, Spark's is HALF_UP — they differ on ties)
        assert abs(ks_row.ks_stat - ks_ref) <= 5e-7
        assert abs(w1_row.w1_distance - w1_ref) <= 5e-7
        assert ks_row.n_current == len(a) and ks_row.n_baseline == len(b)
        assert ks_row.n_values == n_vals == w1_row.n_values

    run()


def test_categorical_entropy_hand_cases(spark):
    """Uniform column -> normalized 1.0; constant -> 0; NULL is its own
    category; ln-based values match a hand computation."""
    import math

    from medea_spark.checks import categorical_entropy

    df = spark.createDataFrame(
        [("a", "x", None), ("b", "x", None), ("c", "x", None), ("d", "x", "v")],
        "u string, const string, mostly_null string",
    )
    out = {r["col_name"]: r for r in categorical_entropy(df, ["u", "const", "mostly_null"]).collect()}
    assert out["u"]["n_distinct"] == 4
    assert abs(out["u"]["entropy"] - math.log(4)) < 1e-6
    assert out["u"]["normalized_entropy"] == 1.0
    assert out["const"]["entropy"] == 0.0 and out["const"]["normalized_entropy"] == 0.0
    # mostly_null: counts {NULL: 3, v: 1} -> H = ln(4) - (3 ln 3)/4
    exp = math.log(4) - 3 * math.log(3) / 4
    assert out["mostly_null"]["n_distinct"] == 2
    assert abs(out["mostly_null"]["entropy"] - exp) < 1e-6

    import pytest as _pytest

    with _pytest.raises(ValueError):
        categorical_entropy(df, [])


def test_pairwise_corr_hand_cases(spark):
    """Perfect linear -> 1, anti -> -1, constant -> NULL corr, and
    pairwise NULL deletion drops only the rows where EITHER is NULL."""
    from medea_spark.checks import pairwise_corr

    df = spark.createDataFrame(
        [
            (1.0, 2.0, -1.0, 5.0),
            (2.0, 4.0, -2.0, 5.0),
            (3.0, 6.0, -3.0, 5.0),
            (4.0, None, -4.0, 5.0),
        ],
        "x double, y double, z double, c double",
    )
    out = {(r["col_a"], r["col_b"]): r for r in pairwise_corr(df, ["x", "y", "z", "c"]).collect()}
    assert out[("x", "y")]["n"] == 3 and abs(out[("x", "y")]["corr"] - 1.0) < 1e-9
    assert out[("x", "z")]["n"] == 4 and abs(out[("x", "z")]["corr"] + 1.0) < 1e-9
    assert out[("x", "c")]["corr"] is None  # zero variance side
    assert out[("y", "z")]["n"] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pairwise_corr(df, ["x"])


def test_uniqueness_report_null_key_parts(spark):
    """distinct_keys skips keys with a NULL part (SQL count(distinct)),
    while duplicate_keys and surplus_rows count a repeated NULL-part
    key like any other; the salted path gives the same numbers."""
    rows = (
        [("r1", "p1")] * 2
        + [("r1", None)] * 3
        + [(None, None)]
        + [("r2", "p2")]
    )
    df = spark.createDataFrame(rows, "repo string, path string").repartition(3)
    keys = ["repo", "path"]
    plain = uniqueness_report(df, keys).collect()
    salted = uniqueness_report(df, keys, salted=True).collect()
    assert plain == salted
    assert plain[0].asDict() == {
        "total_rows": 7,
        "distinct_keys": 2,
        "duplicate_keys": 2,
        "surplus_rows": 3,
    }
    dups = {(r.repo, r.path): r.dup_count for r in duplicate_keys(df, keys).collect()}
    assert dups == {("r1", "p1"): 2, ("r1", None): 3}


def test_uniqueness_report_empty_input(spark):
    """Empty input: four zeros, not NULLs, on both paths."""
    empty = spark.createDataFrame([], "repo string, path string")
    for salted in (False, True):
        row = uniqueness_report(empty, ["repo", "path"], salted=salted).collect()
        assert [tuple(r) for r in row] == [(0, 0, 0, 0)]


def test_referential_report_dim_duplicates_and_nulls(spark):
    """Duplicate and NULL dimension keys change nothing: the same
    orphan rows, most orphan rows first, ties by key (NULL first)."""
    fact = spark.createDataFrame(
        [(k,) for k in ["k1"] * 3 + ["k2"] + ["k3"] * 2 + ["k5"] * 2 + [None] + ["k4"] * 3],
        "k string",
    ).repartition(3)
    messy = spark.createDataFrame([("k1",), ("k1",), ("k2",), (None,), (None,)], "k string")
    clean = spark.createDataFrame([("k1",), ("k2",)], "k string")
    want = [("k4", 3), ("k3", 2), ("k5", 2), (None, 1)]
    for dim in (messy, clean):
        assert [tuple(r) for r in referential_report(fact, dim, "k").collect()] == want


def test_chi_square_statistic_hand_value(spark):
    """Hand-computed statistic over a novel cell (zero baseline, 0.5
    pseudo-count) and a vanished cell (zero current)."""
    from medea_spark.checks import chi_square_statistic

    cur = spark.createDataFrame([("a", 30), ("b", 10), ("c", 5)], "lang string, cnt long")
    base = spark.createDataFrame([("a", 20), ("b", 20), ("d", 10)], "lang string, cnt long")
    row = chi_square_statistic(cur, base).collect()[0]
    # e = b * 45 / 50 where b > 0, else 0.5
    want = (30 - 18) ** 2 / 18 + (10 - 18) ** 2 / 18 + (5 - 0.5) ** 2 / 0.5 + (0 - 9) ** 2 / 9
    assert math.isclose(row.statistic, want, rel_tol=1e-12)
    assert (row.dof, row.n_current, row.n_baseline) == (3, 45, 50)


def test_run_check_suite_rule_order_and_schema(spark):
    """One result row per rule, in rule order (not id order), typed
    exactly as RESULT_SCHEMA."""
    from medea_spark.checks import min_rows, not_null, run_check_suite, unique
    from medea_spark.checks.suite import RESULT_SCHEMA

    df = spark.createDataFrame([(1, "a"), (1, None)], "id long, x string")
    rules = [unique(["id"]), min_rows(5), not_null("x"), min_rows(1, rule_id="a_floor")]
    out = run_check_suite(df, rules)
    assert out.schema == RESULT_SCHEMA
    assert [tuple(r) for r in out.collect()] == [
        ("unique:id", "unique", "id", 1, 0, False),
        ("min_rows:5", "min_rows", "", 2, 5, False),
        ("not_null:x", "not_null", "x", 1, 0, False),
        ("a_floor", "min_rows", "", 2, 1, True),
    ]


@pytest.fixture(scope="module")
def keyed_scan(spark, tmp_path_factory):
    """A small parquet scan with duplicate keys, orphan repos and two
    size buckets per language — the shape the table checks plan on."""
    path = str(tmp_path_factory.mktemp("checks_jobs") / "keyed.parquet")
    spark.range(2000).select(
        F.concat(F.lit("repo-"), F.lpad((F.col("id") % 20).cast("string"), 4, "0")).alias("repo"),
        F.concat(F.lit("p"), (F.col("id") % 1700).cast("string")).alias("path"),
        F.lit("c0ffee").alias("commit"),
        F.element_at(F.array(*map(F.lit, ["json", "yaml", "toml"])), (F.col("id") % 3 + 1).cast("int")).alias("lang"),
        F.repeat(F.lit("x"), (F.col("id") % 7 + 1).cast("int")).alias("content"),
    ).repartition(4).write.parquet(path)
    return spark.read.parquet(path)


def _jobs(spark, group, action):
    """Spark jobs ``action()`` submits, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_check_job_ceilings(spark, keyed_scan):
    """Each table check stays at its job count (under AQE every query
    stage is a job); the driver-built relations plan as LocalRelation
    and are read without any job."""
    from medea_spark.checks import (
        accepted_values,
        not_null,
        psi_statistic,
        run_check_suite,
        unique,
    )

    df = keyed_scan
    keys = ["repo", "path", "commit"]
    sized = F.length("content").alias("size")
    current = lang_size_histogram(df.filter(F.col("lang") != "toml").select("lang", sized), "lang", "size")
    baseline = lang_size_histogram(df.select("lang", sized), "lang", "size")
    dim = dim_repos(spark, n_repos=20, orphan_every=7)
    rules = [not_null("content"), accepted_values("lang", ["json", "yaml"]), unique(keys)]
    checks = {
        "uniqueness_report": (lambda: uniqueness_report(df, keys).first(), 3),
        "uniqueness_report_salted": (lambda: uniqueness_report(df, keys, salted=True).first(), 4),
        "referential_report": (lambda: referential_report(df, dim, "repo").collect(), 3),
        "drift_decision": (
            lambda: drift_decision(current, baseline, on=["lang", "size_bucket"]),
            5,
        ),
        "psi_statistic": (
            lambda: psi_statistic(current, baseline, on=["lang", "size_bucket"]).collect(),
            4,
        ),
        "run_check_suite": (lambda: run_check_suite(df, rules).collect(), 3),
    }
    for name, (action, ceiling) in checks.items():
        got = _jobs(spark, f"ceiling-{name}", action)
        assert got <= ceiling, (name, got, ceiling)

    suite = run_check_suite(df, rules)
    for rel in (suite, dim):
        assert "LocalRelation" in rel._jdf.queryExecution().analyzed().toString()
    assert _jobs(spark, "ceiling-read-results", lambda: (suite.collect(), dim.collect())) == 0


def test_repeated_suite_compiles_no_new_code(spark, tmp_path_factory):
    """A census-shaped sequence planned a second time in one session
    compiles no generated class: the session's codegen cache holds the
    sequence's whole working set.  At Spark's default of 100 entries
    the second round recompiled 53-62 of the first round's 101."""
    from medea_spark.checks import (
        accepted_values,
        matches,
        min_rows,
        not_null,
        run_check_suite,
        unique,
    )
    from medea_spark.corpus import corpus_schema_graph
    from medea_spark.engine import validate_table, validate_table_dispatched
    from medea_spark.engine.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    base = str(tmp_path_factory.mktemp("codegen_cache") / "base.parquet")
    drift = base.replace("base", "drift")
    generate_corpus(spark, 1200, seed=5, num_partitions=4).write.parquet(base)
    generate_corpus(spark, 300, seed=5, drift=True, num_partitions=2).write.parquet(drift)
    graph = corpus_schema_graph()
    keys = ["repo", "path", "commit"]
    langs = ["json", "yaml", "toml", "xml", "cfg"]
    rules = [
        not_null("content"),
        accepted_values("lang", langs),
        matches("commit", "^[0-9a-f]{16}$"),
        unique(keys),
        min_rows(1),
    ]

    def census_round():
        df = spark.read.parquet(base)
        run = validate_table(df, graph, num_partitions=8)
        run.summary.collect()
        run.violations.groupBy("failed_constraint").count().collect()
        judged = validate_table_dispatched(df, {lang: graph for lang in langs[:4]}, key_col="lang")
        judged.groupBy("lang", "is_valid").count().collect()
        column_stats(df, keys + ["lang", "content"]).collect()
        uniqueness_report(df, keys, salted=True).first()
        referential_report(df, dim_repos(spark), "repo").collect()
        sized = F.length("content").alias("size")
        drift_decision(
            lang_size_histogram(spark.read.parquet(drift).select("lang", sized), "lang", "size"),
            lang_size_histogram(df.select("lang", sized), "lang", "size"),
            on=["lang", "size_bucket"],
        )
        run_check_suite(df, rules).collect()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    census_round()
    first = compiles.getCount()
    census_round()
    assert compiles.getCount() - first == 0
