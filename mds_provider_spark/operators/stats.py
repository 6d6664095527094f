"""Single-pass per-column profiling (BASELINE.json A1–A3, A5).

The reference has no stats at all (per-record validation only); the north
star mandates per-column null rate, min/max, approx-distinct (HLL) and
quantile sketches. ALL of it is computed in ONE wide aggregate over ONE
scan — Catalyst runs it as a single partial+final hash-agg job whose
shuffle carries exactly one partially-aggregated row per input partition
(sketches included: HLL and the GK/KLL-style percentile_approx buffers are
mergeable, so partial/merge two-stage combination is what the built-in
physical plan already does — the explicit requirement of BASELINE.json).

Output is long format (one row per column) so it feeds the drift
comparator and the snapshot table directly.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from mds_provider_spark.session import local_frame

DEFAULT_PROBS = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


# the input types ``hll_sketch_agg`` takes as they are; others go as strings
_HLL_INPUT = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _is_numeric(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, _NUMERIC)


def hll_lg_k(rsd: float) -> int:
    """The smallest DataSketches ``lgConfigK`` whose relative standard
    error 1.04/sqrt(2^lgK) is at most ``rsd`` (0.02 -> 12), within the
    library's range [4, 21]."""
    return min(max(math.ceil(2 * math.log2(1.04 / rsd)), 4), 21)


def _hll_input(df: DataFrame, col: str) -> Column:
    c = F.col(col)
    return c if isinstance(df.schema[col].dataType, _HLL_INPUT) else c.cast("string")


def _hll_estimate(sketch: Column) -> Column:
    """Distinct estimate of a sketch column, read from its union with
    itself. A single un-merged sketch answers with the HIP estimator,
    whose value depends on how the input was partitioned (10^5 distinct
    values: 101,148 on one partition, 102,878 on four); a union sketch
    answers the same on any partitioning."""
    return F.hll_sketch_estimate(F.hll_union(sketch, sketch))


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.02) -> Column:
    """The library's one approximate distinct count: a DataSketches HLL
    aggregate of ``col`` at ``hll_lg_k(rsd)``, estimated from the merged
    sketch (``_hll_estimate``), so the count does not depend on the input
    partitioning. NULLs are not counted; no rows or only NULLs give 0."""
    return _hll_estimate(F.hll_sketch_agg(_hll_input(df, col), hll_lg_k(rsd)))


def profile(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    probs: Sequence[float] = DEFAULT_PROBS,
    rsd: float = 0.02,
    exact_distinct: bool = False,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """One row per column: (column_name, n_rows, null_count, null_rate,
    min_val, max_val, approx_distinct, quantiles).

    ``approx_distinct`` comes from the function of that name: a
    DataSketches HLL at ``lgConfigK = hll_lg_k(rsd)``, estimated from the
    merged sketch, so it is the same on any input partitioning; 3·rsd is
    its ~99.7 % relative error bound. ``exact_distinct=True`` swaps it for
    count(distinct) — used only by the DuckDB oracle path at test scale
    (HLL estimates are engine-specific); production keeps the sketch.

    ``group_cols`` give one row per (group, column), group columns first.

    Single job: wide agg -> 1 row per group -> explode(array<struct>)
    back to long.
    """
    cols = list(cols or df.columns)
    aggs: list = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(f"_null_{c}")
        )
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"_dist_{c}"))
        else:
            aggs.append(approx_distinct(df, c, rsd).alias(f"_dist_{c}"))
        if _is_numeric(df, c):
            aggs.append(F.min(F.col(c).cast("double")).alias(f"_min_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"_max_{c}"))
            aggs.append(
                F.percentile_approx(F.col(c).cast("double"), list(probs), 10000).alias(
                    f"_q_{c}"
                )
            )
    wide = df.groupBy(*group_cols).agg(*aggs)

    structs = []
    for c in cols:
        numeric = _is_numeric(df, c)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("null_count"),
                F.try_divide(F.col(f"_null_{c}"), F.col("_n")).alias("null_rate"),
                (F.col(f"_min_{c}") if numeric else F.lit(None).cast("double")).alias("min_val"),
                (F.col(f"_max_{c}") if numeric else F.lit(None).cast("double")).alias("max_val"),
                F.col(f"_dist_{c}").cast("long").alias("approx_distinct"),
                (F.col(f"_q_{c}") if numeric else F.lit(None).cast("array<double>")).alias("quantiles"),
            )
        )
    return wide.select(
        *group_cols, F.explode(F.array(*structs)).alias("s")
    ).select(*group_cols, "s.*")


def salted_group_count(
    df: DataFrame, keys: Sequence[str], agg_cols: dict[str, str] | None = None
) -> DataFrame:
    """Explicitly salted groupBy for pathologically hot keys (BASELINE:
    "salted hash-aggregation", hot codecs).

    Stage 1 groups by (input-partition-id, keys) — identical hot keys on
    M input partitions produce M partial rows hashed to M reducers; stage
    2 merges the partials per key. Spark's partial aggregation usually
    does this implicitly for algebraic aggs; the explicit form guarantees
    it for any agg expression and makes the two-stage shape visible in
    the plan (and to the optimizer-skeptical reader).
    """
    keys = list(keys)
    aggs1 = [F.count(F.lit(1)).alias("_cnt")]
    aggs2 = [F.sum("_cnt").alias("n_rows")]
    for col, how in (agg_cols or {}).items():
        if how == "sum":
            aggs1.append(F.sum(col).alias(f"_s_{col}"))
            aggs2.append(F.sum(f"_s_{col}").alias(f"sum_{col}"))
        elif how == "min":
            aggs1.append(F.min(col).alias(f"_m_{col}"))
            aggs2.append(F.min(f"_m_{col}").alias(f"min_{col}"))
        elif how == "max":
            aggs1.append(F.max(col).alias(f"_x_{col}"))
            aggs2.append(F.max(f"_x_{col}").alias(f"max_{col}"))
        else:
            raise ValueError(f"unsupported agg {how!r}")
    partial = df.groupBy(F.spark_partition_id().alias("_salt"), *keys).agg(*aggs1)
    return partial.groupBy(*keys).agg(*aggs2)


def hll_sketches(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Mergeable HLL sketch bytes per column (Spark >= 3.5 Datasketches).

    These are the partial sketches BASELINE.json's "two-stage
    partial/merge aggregation for sketch combination" refers to: sketches
    from independent runs/partitions merge via ``hll_union_agg`` without
    rescanning data — e.g. daily sketches folding into a monthly profile.
    Every value is hashed as a string, so sketches of any run merge;
    ``estimate`` is read from the merged sketch (``_hll_estimate``).
    """
    aggs = [F.hll_sketch_agg(F.col(c).cast("string")).alias(c) for c in cols]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(c).alias("sketch"),
            _hll_estimate(F.col(c)).alias("estimate"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def merge_hll(sketches: DataFrame) -> DataFrame:
    """Final merge stage: union sketch rows (e.g. from many runs) by column."""
    return sketches.groupBy("column_name").agg(
        F.hll_union_agg("sketch").alias("sketch")
    ).select(
        "column_name",
        "sketch",
        F.hll_sketch_estimate("sketch").alias("estimate"),
    )


def mg_partition_summaries(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """Stage-1 Misra–Gries sketch: one ``capacity``-counter summary per
    input partition (vectorized: pandas value_counts per Arrow batch;
    each trim subtracts the (cap+1)-th largest weight, so a partition
    undercounts any value by at most n_part/(cap+1) — the classic
    mergeable-summaries bound). Output rows are (value string,
    weight long), plus ONE NULL-value row per partition carrying its
    non-null row count. Shared by ``frequent_items`` (batch, with exact
    verify) and the streaming marker-borne heavy-hitter snapshots."""
    import pandas as pd

    # A per-partition fold over value_counts, not a row loop, so not on
    # session.map_rows.
    cap = int(capacity)

    def mg(batches) -> "pd.DataFrame":
        counters: dict = {}
        n = 0
        for pdf in batches:
            vc = pdf["v"].dropna().value_counts()
            n += int(vc.sum())
            for value, c in vc.items():
                counters[value] = counters.get(value, 0) + int(c)
            if len(counters) > cap:
                ws = sorted(counters.values(), reverse=True)
                d = ws[cap]  # (cap+1)-th largest
                counters = {k: w - d for k, w in counters.items() if w > d}
        yield pd.DataFrame(
            {
                "value": pd.array(list(counters) + [None], dtype="string"),
                "weight": pd.array(
                    list(counters.values()) + [n], dtype="int64"
                ),
            }
        )

    return df.select(F.col(col).cast("string").alias("v")).mapInPandas(
        mg, "value string, weight long"
    )


def mg_merged_top(
    df: DataFrame, col: str, capacity: int, n: int
) -> "tuple[int, list]":
    """Merge the per-partition Misra–Gries summaries of ``col`` and return
    ``(n_nonnull, rows)``: the column's non-null count and the top ``n``
    merged ``(value, est)`` rows by est desc, value asc. One bounded
    collect of n+1 rows (the NULL total row sorts first); the merged set
    itself, up to partitions*(capacity+1) rows, never reaches the driver.
    ``frequent_items`` and the stream's marker-borne summaries share it."""
    head = (
        mg_partition_summaries(df, col, capacity)
        .groupBy("value").agg(F.sum("weight").alias("est"))
        .orderBy(F.col("value").isNotNull(), F.desc("est"), F.asc("value"))
        .limit(n + 1)
        .collect()
    )
    if head and head[0]["value"] is None:
        return int(head[0]["est"]), head[1:]
    return 0, head


def frequent_items(
    df: DataFrame,
    col: str,
    threshold_frac: float,
    mg_capacity: int = 256,
    max_candidates: int = 65536,
) -> DataFrame:
    """EXACT heavy hitters at sketch cost: every value whose frequency is
    >= ``threshold_frac`` of the column's non-null count, with its exact
    count — found via per-partition Misra–Gries summaries so the full
    groupBy over all distinct values (the thing that dies on a 100 TB
    high-cardinality column) never runs.

    The hot-codec / hot-provider detector BASELINE.json's skew handling
    implies: heavy keys found here feed ``salted_group_count`` and the
    AQE skew knobs. mds-provider has no analog (per-record walks can't
    see frequency at all).

    Three stages, two scans, all bounds explicit:

    1. SKETCH (one scan): ``mapInPandas`` keeps a Misra–Gries summary of
       ``mg_capacity`` counters per input partition (vectorized via
       pandas value_counts per Arrow batch; the trim subtracts the
       (cap+1)-th largest weight from all counters, destroying >=
       (cap+1)*d count per trim, so each partition undercounts any value
       by at most n_part/(cap+1) — the classic mergeable-summaries
       bound). Each partition also emits one NULL-value row carrying its
       non-null row count.
    2. MERGE (shuffle of <= partitions * (cap+1) tiny rows): summing
       summary weights per value gives est(v) >= count(v) - n/(cap+1) —
       NO false negatives above the cutoff. Candidates are values with
       est >= threshold - n/(cap+1); their number is capped by
       ``max_candidates`` and a breach RAISES (the hot-set-cap
       discipline: loud, never silently wrong).
    3. VERIFY (one scan): exact counts for the candidate subset via a
       broadcast semi-join (bounded by the cap), filtered to the true
       threshold. Output: (value <original dtype>, cnt).

    Soundness precondition (checked, raises): threshold must exceed the
    sketch slack n/(cap+1) — i.e. ``threshold_frac > 1/(mg_capacity+1)``
    — otherwise a heavy value could be trimmed out of every summary.
    """
    import math

    if threshold_frac <= 0 or threshold_frac > 1:
        raise ValueError(f"threshold_frac must be in (0, 1]: {threshold_frac}")
    if threshold_frac <= 1.0 / (mg_capacity + 1):
        raise ValueError(
            f"threshold_frac={threshold_frac} is within the Misra-Gries "
            f"slack 1/(mg_capacity+1)={1.0 / (mg_capacity + 1):.6f}: a "
            "heavy value could be trimmed from every partition summary. "
            "Raise mg_capacity above 1/threshold_frac - 1."
        )
    cap = int(mg_capacity)
    # The merged summary set holds up to partitions*(cap+1) rows — a
    # driver-OOM at 10^6 partitions if collected. The one collect is its
    # NULL total row plus the top max_candidates+1 rows by estimate.
    # Sorting by est is sound because the candidate set is {v: est >=
    # cutoff} — if the LAST collected row still clears the cutoff the set
    # may be truncated and the loud cap check fires; otherwise every
    # candidate is inside the collected prefix.
    n_total, rest = mg_merged_top(df, col, cap, max_candidates + 1)
    if n_total == 0:
        return df.select(F.col(col).alias("value")).limit(0).withColumn(
            "cnt", F.lit(0).cast("long")
        )
    threshold = int(math.ceil(threshold_frac * n_total))
    cutoff = threshold - n_total // (cap + 1)
    if len(rest) > max_candidates and int(rest[-1]["est"]) >= cutoff:
        raise RuntimeError(
            f"frequent_items: more than max_candidates="
            f"{max_candidates} candidates survive the cutoff — the "
            "column is too high-entropy for this threshold; raise "
            "the threshold or the cap"
        )
    cands = [r["value"] for r in rest if int(r["est"]) >= cutoff]
    spark = df.sparkSession
    # "_fi_cand" dodges collisions with the caller's own columns (the
    # left_semi join resolves both sides' names in one scope)
    cand_df = local_frame(spark, [(c,) for c in cands], "_fi_cand string")
    return (
        df.where(F.col(col).isNotNull())
        .join(
            F.broadcast(cand_df),  # bounded by max_candidates
            F.col(col).cast("string") == F.col("_fi_cand"),
            "left_semi",
        )
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(threshold))
    )


def partition_health(
    df: DataFrame,
    part_col: str,
    cols: Sequence[str],
    ratio_threshold: float = 3.0,
) -> DataFrame:
    """Per-PARTITION null-rate screen — "find the bad file": a writer
    that dropped a column shows up as one partition whose null rate
    dwarfs the table's, invisible to global profiles (diluted) and
    expensive to localize from row violations.

    One partial/final aggregation to (partition × columns), a broadcast
    1-row global rollup OF THE SUMMARY (no second scan), exact integer
    rates. Emits (part, column) pairs whose null rate exceeds
    ``ratio_threshold`` × the global rate for that column (global rate
    0 means any partition null flags).
    """
    cols = list(cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}"))
    per = df.groupBy(F.col(part_col).alias("part")).agg(*aggs)
    glob = per.agg(
        F.sum("_n").alias("_gn"),
        *[F.sum(f"_null_{c}").alias(f"_gnull_{c}") for c in cols],
    )
    wide = per.crossJoin(F.broadcast(glob))
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"_null_{c}").cast("long").alias("n_null"),
            F.col(f"_gnull_{c}").cast("long").alias("g_null"),
        )
        for c in cols
    ]
    ex = wide.select(
        "part", F.col("_n").cast("long").alias("n_rows"),
        F.col("_gn").cast("long").alias("g_rows"),
        F.explode(F.array(*structs)).alias("s"),
    ).select("part", "n_rows", "g_rows", "s.*")
    part_rate = F.col("n_null").cast("double") / F.col("n_rows").cast("double")
    glob_rate = F.col("g_null").cast("double") / F.col("g_rows").cast("double")
    flagged = (F.col("n_null") > 0) & (
        (F.col("g_null") == 0)
        | (part_rate > F.lit(float(ratio_threshold)) * glob_rate)
    )
    return ex.where(flagged).select(
        "part", "column_name", "n_rows", "n_null",
        F.round(part_rate, 6).alias("part_null_rate"),
        F.round(glob_rate, 6).alias("global_null_rate"),
    )
