"""Explicit salted groupBy."""

import pyspark.sql.functions as F

from mds_provider_spark.operators.stats import salted_group_count


def test_salted_group_count_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0), ("cold", 2.0)],
        "k string, v double",
    ).repartition(8)
    got = {
        r.k: (r.n_rows, r.sum_v)
        for r in salted_group_count(df, ["k"], {"v": "sum"}).collect()
    }
    want = {
        r.k: (r.n_rows, r.sum_v)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want


def test_salted_group_count_two_stage_plan(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    plan = (
        salted_group_count(df, ["k"], {"v": "max"})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") >= 2, plan
