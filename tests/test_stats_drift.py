"""Profiling, HLL sketches, profile quantile accuracy, drift detection."""

import pyspark.sql.functions as F
import pytest

from mds_provider_spark.operators import drift as DR
from mds_provider_spark.operators import stats as ST


@pytest.fixture(scope="module")
def num_df(spark):
    rows = [(i, float(i % 100), None if i % 10 == 0 else float(i)) for i in range(1000)]
    return spark.createDataFrame(rows, "id long, a double, b double")


def test_profile_single_pass(spark, num_df):
    prof = {r.column_name: r for r in ST.profile(num_df, ["a", "b"]).collect()}
    assert prof["a"].n_rows == 1000
    assert prof["a"].null_count == 0 and prof["b"].null_count == 100
    assert prof["b"].null_rate == pytest.approx(0.1)
    assert prof["a"].min_val == 0.0 and prof["a"].max_val == 99.0
    assert abs(prof["a"].approx_distinct - 100) <= 3
    assert len(prof["a"].quantiles) == len(ST.DEFAULT_PROBS)


def test_profile_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "x double")
    r = ST.profile(empty, ["x"]).collect()[0]
    assert (r.n_rows, r.null_count, r.null_rate, r.approx_distinct) == (0, 0, None, 0)
    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    r = ST.profile(allnull, ["x"]).collect()[0]
    assert (r.n_rows, r.null_count, r.null_rate) == (2, 2, 1.0)
    assert r.min_val is None and r.approx_distinct == 0


def test_profile_is_one_aggregate(spark, num_df):
    plan = ST.profile(num_df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    # exactly one shuffle: partial agg -> final agg
    assert plan.count("Exchange") == 1, plan


@pytest.mark.parametrize("n", [10, 1_000, 100_000])
def test_profile_distinct_partition_invariant_and_bounded(spark, n):
    """``approx_distinct`` is read from the merged sketch: the same on 1,
    4 and 16 input partitions, and within 3·rsd of the true count, for a
    bigint column (hashed as is) and a double column (hashed as string)."""
    got = set()
    for parts in (1, 4, 16):
        x = spark.range(0, 3 * n, 1, parts).select((F.col("id") % n).alias("x"))
        df = x.select("x", (F.col("x") / 7.0).alias("d"))
        got.add(tuple(r.approx_distinct for r in ST.profile(df, ["x", "d"]).collect()))
    assert len(got) == 1, got
    for est in got.pop():
        assert abs(est - n) <= 3 * 0.02 * n


def test_hll_sketch_merge_matches_union(spark, num_df):
    half1 = num_df.where("id < 500")
    half2 = num_df.where("id >= 500")
    merged = ST.merge_hll(
        ST.hll_sketches(half1, ["a"]).unionByName(ST.hll_sketches(half2, ["a"]))
    ).collect()[0]
    direct = ST.hll_sketches(num_df, ["a"]).collect()[0]
    assert merged.estimate == direct.estimate  # sketch merge is lossless vs single pass


def test_profile_quantile_close_to_exact(spark, num_df):
    got = ST.profile(num_df, ["a"], probs=[0.5]).collect()[0].quantiles
    exact = num_df.agg(F.expr("percentile(a, 0.5)")).collect()[0][0]
    assert len(got) == 1
    assert got[0] == pytest.approx(exact, abs=2.0)


def test_drift_detects_shift(spark):
    base = spark.range(5000).select((F.col("id") % 100).cast("double").alias("x"))
    shifted = spark.range(5000).select(
        ((F.col("id") % 100) + 40).cast("double").alias("x")
    )
    b = DR.snapshot(base, ["x"], "base")
    cur = DR.snapshot(shifted, ["x"], "cur")
    findings = DR.drift_violations(cur, b).collect()
    assert [r.rule_id for r in findings] == ["drift:x"]
    # no drift when identical
    assert DR.drift_violations(b, b).count() == 0


def test_drift_detects_null_rate_change(spark):
    a = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    b = spark.range(1000).select(
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).cast("double").alias("x")
    )
    f = DR.drift_violations(DR.snapshot(b, ["x"], "cur"), DR.snapshot(a, ["x"], "base"))
    rows = f.collect()
    assert len(rows) == 1 and rows[0].nr_shift > 0.3


def test_profile_quantiles_merge_accuracy(spark):
    """Many input partitions exercise the sketch's partial+final merge;
    the result must stay within the sketch envelope of the exact
    quantiles."""
    probs = [0.25, 0.5, 0.75]
    df = spark.range(20000).select(
        (F.col("id") % 1000).cast("double").alias("a")
    ).repartition(50)
    got = ST.profile(df, ["a"], probs=probs).collect()[0].quantiles
    exact = df.agg(F.expr("percentile(a, array(0.25, 0.5, 0.75))")).collect()[0][0]
    for p, g, e in zip(probs, got, exact):
        assert abs(g - e) <= 0.02 * 1000, (p, g, e)


# ---------------------------------------------- histogram drift (PSI/JS)


def test_psi_flags_shape_shift_quantile_drift_misses(spark):
    """The PSI use-case: a symmetric bimodal split leaves the median
    (and the quantile-span check at its default threshold) quiet while
    the distribution has plainly changed — PSI must fire."""
    base = spark.range(10000).select(
        (F.lit(50.0) + (F.col("id") % 11) - 5).alias("x")  # tight around 50
    )
    cur = spark.range(10000).select(
        F.when(F.col("id") % 2 == 0, F.lit(10.0) + (F.col("id") % 11) - 5)
        .otherwise(F.lit(90.0) + (F.col("id") % 11) - 5)
        .alias("x")  # bimodal at 10 and 90; median still ~50-ish bucket-wise
    )
    out = DR.histogram_drift(cur, base, {"x": (0.0, 100.0)}).collect()
    assert len(out) == 1
    r = out[0]
    assert r.verdict == "drift" and r.psi > 1.0, r
    assert r.js_div > 0.1
    assert r.n_cur == 10000 and r.n_base == 10000


def test_psi_identical_distributions_ok(spark):
    df = spark.range(5000).select((F.col("id") % 97).cast("double").alias("x"))
    out = DR.histogram_drift(df, df, {"x": (0.0, 97.0)}).collect()[0]
    assert out.verdict == "ok" and abs(out.psi) < 1e-9 and abs(out.js_div) < 1e-9


def test_psi_nulls_and_out_of_range_clamp(spark):
    """Nulls are excluded from the mass; values outside [lo, hi) land in
    the edge buckets instead of vanishing (tail drift is still drift)."""
    base = spark.range(1000).select((F.col("id") % 10).cast("double").alias("x"))
    cur = spark.range(1000).select(
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.lit(1e9))  # all mass clamps into the top bucket
        .cast("double")
        .alias("x")
    )
    r = DR.histogram_drift(cur, base, {"x": (0.0, 10.0)}).collect()[0]
    assert r.n_cur == 750 and r.n_base == 1000
    assert r.verdict == "drift"


def test_psi_multi_column_single_scan(spark):
    """All profiled columns ride one exploded projection — the physical
    plan must contain exactly ONE scan of the input per side."""
    df = spark.range(2000).select(
        (F.col("id") % 7).cast("double").alias("a"),
        (F.col("id") % 13).cast("double").alias("b"),
    )
    out = DR.histogram_drift(df, df, {"a": (0.0, 7.0), "b": (0.0, 13.0)})
    assert {r.column_name for r in out.collect()} == {"a", "b"}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Range (0, 2000") == 2, plan  # one per side, not per column


def test_category_drift_new_vanished_shift(spark):
    base = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50 + [("gone",)] * 10, "c string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 80 + [("b",)] * 20 + [("fresh",)] * 10, "c string"
    )
    out = {r.category: r for r in DR.category_drift(cur, base, "c").collect()}
    assert out["fresh"].status == "new" and out["fresh"].n_baseline == 0
    assert out["gone"].status == "vanished" and out["gone"].n_current == 0
    # a: 80/110 vs 50/110 -> share_shift; b likewise
    assert out["a"].status == "share_shift" and out["b"].status == "share_shift"
    assert abs(out["a"].share_current - round(80 / 110, 6)) < 1e-12
    assert set(out) == {"fresh", "gone", "a", "b"}


def test_category_drift_null_category_matches_nullsafe(spark):
    base = spark.createDataFrame([("x",), (None,)], "c string")
    cur = spark.createDataFrame([("x",), (None,)], "c string")
    # identical distributions incl. the NULL group -> no findings
    assert DR.category_drift(cur, base, "c").count() == 0


def test_category_drift_stable_under_threshold(spark):
    base = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "c string")
    cur = spark.createDataFrame([("a",)] * 51 + [("b",)] * 49, "c string")
    assert DR.category_drift(cur, base, "c", share_threshold=0.02).count() == 0


def test_partition_health_flags_only_bad_partition(spark):
    from mds_provider_spark.operators import stats as ST

    rows = []
    for p in range(4):
        for i in range(100):
            # part 2: 20% nulls; others: 1% nulls
            v = None if (p == 2 and i % 5 == 0) or (p != 2 and i % 100 == 0) \
                else float(i)
            rows.append((p, v))
    df = spark.createDataFrame(rows, "part_id int, value double")
    out = ST.partition_health(df, "part_id", ["value"], ratio_threshold=3.0)
    got = out.collect()
    assert len(got) == 1 and got[0].part == 2 and got[0].n_null == 20
    # global rate = 23/400; part rate .2 > 3x
    assert got[0].part_null_rate == 0.2
    assert got[0].global_null_rate == round(23 / 400, 6)


def test_partition_health_zero_global_rate_any_null_flags(spark):
    from mds_provider_spark.operators import stats as ST

    rows = [(0, 1.0)] * 50 + [(1, None)] + [(1, 1.0)] * 49
    df = spark.createDataFrame(rows, "part_id int, value double")
    # with 1 null out of 100 global rate > 0 -> ratio path: 1/50 vs 3*(1/100)
    out = ST.partition_health(df, "part_id", ["value"]).collect()
    assert len(out) == 0  # 0.02 < 0.03: under threshold
    out2 = ST.partition_health(df, "part_id", ["value"],
                               ratio_threshold=1.5).collect()
    assert len(out2) == 1 and out2[0].part == 1


# ---------------------------------------------------- embedding drift


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, grp string, embedding array<float>")


def test_embedding_drift_identical_snapshots_are_stationary(spark):
    rows = [(i, "a", [float(i % 3), 1.0, -0.5]) for i in range(30)]
    df = _vec_df(spark, rows)
    out = DR.embedding_drift(df, df, group_col="grp", dim=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.centroid_cosine == 1.0
    assert r.centroid_shift_l2 == 0.0
    assert r.mean_norm_base == r.mean_norm_cur
    assert r.n_base == r.n_cur == 30


def test_embedding_drift_detects_shift_and_scale(spark):
    base = _vec_df(spark, [(i, "g", [1.0, 0.0, 0.0]) for i in range(20)])
    # rotated 90 degrees and doubled in magnitude
    cur = _vec_df(spark, [(i, "g", [0.0, 2.0, 0.0]) for i in range(20)])
    r = DR.embedding_drift(cur, base, group_col="grp", dim=3).collect()[0]
    assert r.centroid_cosine == 0.0
    assert r.centroid_shift_l2 == pytest.approx(5**0.5, abs=1e-4)
    assert r.mean_norm_base == pytest.approx(1.0, abs=1e-4)
    assert r.mean_norm_cur == pytest.approx(2.0, abs=1e-4)


def test_embedding_drift_drops_ragged_and_single_side_groups(spark):
    base = _vec_df(spark, [
        (1, "a", [1.0, 0.0]), (2, "a", [1.0, 0.0, 9.0]),  # ragged drops
        (3, "only_base", [1.0, 0.0]),
        (4, None, [1.0, 0.0]),  # NULL group participates as a group
    ])
    cur = _vec_df(spark, [(1, "a", [1.0, 0.0]), (4, None, [1.0, 0.0])])
    out = DR.embedding_drift(cur, base, group_col="grp", dim=2)
    got = {r.group_value: r for r in out.collect()}
    assert "only_base" not in got  # inner join: category_drift owns it
    assert got["a"].n_base == 1 and got["a"].n_cur == 1
    # NULL group keys drop at the null-strict join: a missing group key
    # is a not_null rule finding, not a geometry finding
    assert None not in got


def test_embedding_summary_drops_rows_with_null_or_nan_elements(spark):
    """A NULL or NaN element inside a correctly-sized vector must drop
    the WHOLE row from the summary (like wrong-dim vectors) — folding
    the remaining elements while still counting the row skews the
    centroid with no finding raised (round-6 advice; Spark quantizes a
    NULL element to NULL and casts NaN to 0, both silently)."""
    df = spark.createDataFrame(
        [([float("nan"), 1.0],), ([None, 1.0],), ([0.5, 1.0],), ([0.25, 2.0],)],
        "embedding array<double>",
    )
    out = {r.pos: (int(r.s), r.n) for r in DR.embedding_summary(df, dim=2).collect()}
    # only the two clean rows fold: pos0 = 500000+250000, pos1 = 1M+2M
    assert out == {0: (750000, 2), 1: (3000000, 2)}
