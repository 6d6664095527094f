"""Cross-row / cross-table consistency checks.

The reference's validation is strictly per-record (jsonschema walk per
payload); warehouse-grade validation also needs the relational layer:
functional dependencies (one clip_id -> one sr_hz/codec), and aggregate
reconciliation between a rollup column and the detail rows it claims to
summarize (order total vs its line items; daily clip-count manifest vs
the clip table). Both are single-shuffle DataFrame aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mds_provider_spark.session import local_frame


def fd_violations(
    df: DataFrame, determinant: list[str], dependent: str
) -> DataFrame:
    """Keys violating the functional dependency determinant -> dependent.

    One hash aggregation on the determinant (map-side partial
    count_distinct); a key appears in the output iff more than one
    distinct dependent value (nulls counted separately via the
    null-flag max) exists for it. At 10^12 rows this is the same
    shuffle the uniqueness check pays — on a table bucketed by the
    determinant it is shuffle-free.
    """
    return (
        df.groupBy(*determinant)
        .agg(
            F.count_distinct(F.col(dependent)).alias("n_variants"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .where(F.col("n_variants") > 1)
    )


def reconcile_aggregate(
    rollup: DataFrame,
    detail: DataFrame,
    key: str,
    rollup_col: str,
    detail_expr,
    tolerance: float = 0.01,
) -> DataFrame:
    """One-row reconciliation summary: does the rollup column equal the
    aggregated detail rows, per key, within ``tolerance``?

    ``detail_expr`` is a per-detail-row Column already cast to an exact
    DECIMAL (engine-portable summation; float sums drift across
    engines and partition orders). Plan: one shuffle of the detail on
    ``key`` (map-side partial sum), a key-to-key join with the rollup
    (co-located/shuffle-free when both tables are bucketed by the key),
    then a single global aggregate. Rollup keys with NO detail rows
    reconcile against 0 — a missing-details mismatch, not a pass.
    """
    sums = detail.groupBy(F.col(key)).agg(detail_expr.alias("_detail_sum"))
    j = rollup.join(sums, key, "left").select(
        F.col(rollup_col).cast("decimal(18,6)").alias("_r"),
        F.coalesce(F.col("_detail_sum"), F.lit(0).cast("decimal(18,6)")).alias(
            "_d"
        ),
    )
    diff = F.abs(F.col("_r") - F.col("_d"))
    return j.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(diff > tolerance, 1).otherwise(0)).cast("long").alias(
            "n_mismatch"
        ),
        F.round(F.sum(diff).cast("double"), 2).alias("total_abs_diff"),
        F.round(F.max(diff).cast("double"), 2).alias("max_abs_diff"),
    )


# Benford expected first-digit probabilities log10(1 + 1/d), embedded as
# literals so BOTH engines use the identical doubles (no dependence on
# either engine's log10 rounding).
BENFORD_P = {
    1: 0.30102999566398120,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_screen(df: DataFrame, col: str, scale: int = 100) -> DataFrame:
    """First-significant-digit screen against Benford's law.

    Fabricated or truncated monetary/measurement columns show flat or
    spiky first-digit histograms; naturally-generated multiplicative
    data follows log10(1+1/d). The digit is taken from the STRING form
    of the scaled integer value (portable across engines — no log10
    calls, whose last-ulp rounding is not guaranteed to agree between
    libm implementations). One scan, 9-row output: per-digit observed
    count/share, expected share, and the chi-squared term
    (obs-exp)^2/exp on counts; compare the total against the
    chi-squared(8) critical value for the chosen alpha.
    """
    ints = df.select(
        F.abs(F.round(F.col(col).cast("double") * scale).cast("bigint")).alias("_v")
    ).where(F.col("_v") > 0)
    d = ints.select(
        F.substring(F.col("_v").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    spark = df.sparkSession
    expected = local_frame(
        spark, [(k, v) for k, v in BENFORD_P.items()], "digit int, p_exp double"
    )
    from pyspark.sql.window import Window

    # window-sum over the 9-row joined result, NOT a second aggregation
    # of `counts` — that would duplicate the scan subtree in the plan
    # (the PSI lesson).
    j = (
        expected.join(F.broadcast(counts), "digit", "left")
        .fillna(0, ["n_obs"])
        .withColumn("n_total", F.sum("n_obs").over(Window.partitionBy(F.lit(1))))
    )
    exp_n = F.col("p_exp") * F.col("n_total")
    return j.select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round(F.col("n_obs") / F.col("n_total"), 6).alias("p_obs"),
        F.round("p_exp", 6).alias("p_exp"),
        F.round((F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 6).alias(
            "chi2_term"
        ),
    )
