"""Distribution-drift detection vs a baseline snapshot (BASELINE.json A5/J2).

One sketch path: every snapshot, grouped or not, takes its quantiles
and distinct counts from ``stats.profile`` (built-in
``percentile_approx``, a deterministic GK-style mergeable sketch, and
DataSketches HLL; partial+final automatic). Histogram (PSI/JS)
and categorical drift count exactly and need no sketch.

The comparison itself is a broadcast join of two tiny snapshot tables
(one row per column) — never a data-scale shuffle.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.operators.stats import DEFAULT_PROBS, profile
from mds_provider_spark.session import local_frame

# ------------------------------------------------------------- snapshots


def snapshot(
    df: DataFrame,
    cols: Sequence[str],
    snapshot_id: str,
    probs: Sequence[float] = DEFAULT_PROBS,
) -> DataFrame:
    """Per-column sketch rows in SNAPSHOT_SCHEMA shape (FIXTURES.md §3):
    ``stats.profile``'s quantiles and its ``approx_distinct``, a
    DataSketches HLL estimate at lgConfigK 12 read from the merged sketch,
    so a snapshot does not depend on the input partitioning."""
    return profile(df, cols, probs=probs).select(
        F.lit(snapshot_id).alias("snapshot_id"),
        "column_name",
        "quantiles",
        "null_rate",
        "approx_distinct",
        "min_val",
        "max_val",
    )


def grouped_snapshot(
    df: DataFrame,
    group_col: str,
    cols: Sequence[str],
    snapshot_id: str,
    probs: Sequence[float] = DEFAULT_PROBS,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-GROUP sketch rows — the hot-codec drift surface: one snapshot
    row per (group value, column), so a distribution shift confined to
    one codec/provider is visible even when the global profile barely
    moves (a 70%-hot codec drowns the others in an ungrouped sketch).

    ``stats.profile`` with the group key in its groupBy: ONE hash
    aggregate over ONE scan; the shuffle carries one partial row per
    (input partition, group). Skewed group values are exactly the
    partial-aggregation case Spark handles map-side.

    ``rsd`` sets the HLL sketch size, ``lgConfigK = stats.hll_lg_k(rsd)``
    (0.02 -> 12); each group's distinct count is read from its merged
    sketch, like ``snapshot``'s.

    Compare two of these with
    ``drift_violations(..., join_cols=(group_col, "column_name"))``.
    """
    return profile(
        df, cols, probs=probs, rsd=rsd, group_cols=[group_col]
    ).select(F.lit(snapshot_id).alias("snapshot_id"), "*").drop("null_count")


def drift_violations(
    current: DataFrame,
    baseline: DataFrame,
    quantile_rel_threshold: float = 0.25,
    null_rate_abs_threshold: float = 0.05,
    distinct_rel_threshold: float = 0.5,
    keep_cols: Sequence[str] = (),
    join_cols: Sequence[str] = ("column_name",),
) -> DataFrame:
    """Compare two snapshot tables -> drift findings (rule_id drift:<col>).

    A column drifts when any quantile moved by more than
    ``quantile_rel_threshold`` relative to the baseline's (max-min) span,
    or null_rate moved by more than the absolute threshold, or distinct
    count changed by more than the relative threshold. Both inputs are
    one-row-per-column — broadcast join, trivially cheap at any scale.

    ``keep_cols`` are passed through from ``current`` to the findings —
    e.g. ``["batch_id"]`` when ``current`` carries one snapshot per
    streaming micro-batch, yielding per-batch findings in one comparison.
    """
    join_cols = list(join_cols)
    b = F.broadcast(
        baseline.select(
            *join_cols,
            F.col("quantiles").alias("q_base"),
            F.col("null_rate").alias("nr_base"),
            F.col("approx_distinct").alias("d_base"),
            F.col("min_val").alias("min_base"),
            F.col("max_val").alias("max_base"),
        )
    )
    j = current.join(b, join_cols, "inner")
    span = F.greatest(F.col("max_base") - F.col("min_base"), F.lit(1e-12))
    max_q_shift = F.when(
        F.col("quantiles").isNotNull() & F.col("q_base").isNotNull(),
        F.array_max(
            F.zip_with("quantiles", "q_base", lambda c, bse: F.abs(c - bse) / span)
        ),
    ).otherwise(F.lit(0.0))
    nr_shift = F.abs(F.col("null_rate") - F.col("nr_base"))
    d_shift = F.abs(F.col("approx_distinct") - F.col("d_base")) / F.greatest(
        F.col("d_base"), F.lit(1)
    )
    return (
        j.withColumn("max_q_shift", max_q_shift)
        .withColumn("nr_shift", nr_shift)
        .withColumn("d_shift", d_shift)
        .where(
            (F.col("max_q_shift") > quantile_rel_threshold)
            | (F.col("nr_shift") > null_rate_abs_threshold)
            | (F.col("d_shift") > distinct_rel_threshold)
        )
        .select(
            *keep_cols,
            F.concat(F.lit(S.DRIFT + ":"), F.col("column_name")).alias("rule_id"),
            *join_cols,
            F.round("max_q_shift", 6).alias("max_q_shift"),
            F.round("nr_shift", 6).alias("nr_shift"),
            F.round("d_shift", 6).alias("d_shift"),
        )
    )


# ------------------------------------------- histogram drift (PSI / JS)


def bucket_counts(
    df: DataFrame, bins: dict[str, tuple[float, float]], n_bins: int
) -> DataFrame:
    """(column_name, bucket) -> cnt for every column in ``bins``, ONE scan.

    All columns are bucketed in a single projection (an array of structs,
    exploded), so the input is read once no matter how many columns are
    profiled; the shuffle after the partial aggregation carries at most
    n_cols * n_bins rows per input partition. Values outside [lo, hi)
    clamp into the edge buckets (PSI convention: the tails drift too).
    """
    structs = []
    for c, (lo, hi) in bins.items():
        width = (hi - lo) / n_bins
        b = F.floor((F.col(c).cast("double") - F.lit(float(lo))) / F.lit(width))
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
        structs.append(
            F.when(
                F.col(c).isNotNull(),
                F.struct(F.lit(c).alias("column_name"), b.alias("bucket")),
            )
        )
    return (
        df.select(F.explode(F.array(*structs)).alias("s"))
        .where(F.col("s").isNotNull())
        .groupBy("s.column_name", "s.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_drift(
    current: DataFrame,
    baseline: DataFrame,
    bins: dict[str, tuple[float, float]],
    n_bins: int = 10,
    eps: float = 1e-4,
    psi_warn: float = 0.1,
    psi_drift: float = 0.2,
) -> DataFrame:
    """Population-stability-index + Jensen-Shannon drift per column.

    The industry-standard companion to quantile drift (a shape change
    that leaves the median alone — bimodality, tail inflation — moves
    PSI while ``drift_violations`` stays quiet). Fixed [lo, hi) bucket
    grids per column make the statistic deterministic and
    engine-portable; Laplace smoothing ``(cnt + eps) / (total +
    n_bins*eps)`` keeps empty buckets finite on BOTH sides, and the
    full column x bucket grid is generated explicitly so a bucket empty
    in both sides still contributes its (nonzero, totals-dependent)
    smoothed term exactly as the oracle computes it.

    Scale: one scan per side (all columns in one exploded projection,
    map-side combined), then arithmetic over a <= n_cols*n_bins-row
    grid with broadcast joins — no data-scale shuffle anywhere.
    PSI thresholds follow the conventional 0.1 (warn) / 0.2 (drift).
    JS divergence is reported in nats, from the same smoothed masses.
    """
    return psi_from_counts(
        current.sparkSession,
        bucket_counts(current, bins, n_bins),
        bucket_counts(baseline, bins, n_bins),
        list(bins),
        n_bins=n_bins,
        eps=eps,
        psi_warn=psi_warn,
        psi_drift=psi_drift,
    )


def psi_from_counts(
    spark,
    cur_counts: DataFrame,
    base_counts: DataFrame,
    columns: Sequence[str],
    n_bins: int = 10,
    eps: float = 1e-4,
    psi_warn: float = 0.1,
    psi_drift: float = 0.2,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """PSI/JS arithmetic over pre-aggregated (column_name, bucket, cnt)
    tables — shared by batch ``histogram_drift`` and the streaming
    marker-borne path (where ``cur_counts`` carries a ``batch_id``
    group column and one PSI row is emitted per batch x column).

    Inputs are histogram-scale (n_groups * n_cols * n_bins rows), never
    data-scale; every join and window here is over that grid.
    """
    gcols = list(group_cols)
    buckets = local_frame(
        spark, [(c,) for c in columns], "column_name string"
    ).select(
        "column_name",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bucket"),
    )
    if gcols:
        grid = cur_counts.select(*gcols).distinct().crossJoin(buckets)
    else:
        grid = buckets
    cur = cur_counts.withColumnRenamed("cnt", "c_cur")
    base = base_counts.withColumnRenamed("cnt", "c_base")
    g = (
        grid.join(cur, gcols + ["column_name", "bucket"], "left")
        .join(base, ["column_name", "bucket"], "left")
        .fillna(0, ["c_cur", "c_base"])
    )
    # window-sum, NOT groupBy+self-join: a join against a re-aggregation
    # of g would duplicate the whole bucket-count subtree in the plan
    # (two scans of each input side); the window keeps one scan per side
    # and runs over the tiny grid.
    from pyspark.sql.window import Window

    w = Window.partitionBy(*(gcols + ["column_name"]))
    j = g.withColumn("n_cur", F.sum("c_cur").over(w)).withColumn(
        "n_base", F.sum("c_base").over(w)
    )
    p = (F.col("c_cur") + F.lit(eps)) / (F.col("n_cur") + F.lit(n_bins * eps))
    q = (F.col("c_base") + F.lit(eps)) / (F.col("n_base") + F.lit(n_bins * eps))
    m = (p + q) / F.lit(2.0)
    psi_term = (p - q) * F.log(p / q)
    js_term = (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0)
    return (
        j.groupBy(*gcols, "column_name", "n_cur", "n_base")
        .agg(F.sum(psi_term).alias("_psi"), F.sum(js_term).alias("_js"))
        .select(
            *gcols,
            "column_name",
            F.round("_psi", 6).alias("psi"),
            F.round("_js", 6).alias("js_div"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.col("n_base").cast("long").alias("n_base"),
            F.when(F.col("_psi") > psi_drift, F.lit("drift"))
            .when(F.col("_psi") > psi_warn, F.lit("warn"))
            .otherwise(F.lit("ok"))
            .alias("verdict"),
        )
    )


def category_drift(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    share_threshold: float = 0.02,
) -> DataFrame:
    """Categorical drift: values that APPEARED, VANISHED, or shifted
    share between a baseline and the current run — the "codec enum
    grew a new member" check that numeric sketches (quantiles, PSI over
    fixed numeric bins) are blind to.

    Each side collapses to one row per category first (partial+final
    hash agg — the shuffle carries category cardinality, not rows), the
    two tiny summaries full-outer join null-safely, and totals arrive
    as broadcast 1-row aggregates of the summaries themselves (no
    second scan of the inputs, no single-partition window). Shares are
    single divisions of exact integer counts — bit-replayable.

    Emits only findings: status 'new' (absent from baseline),
    'vanished' (absent from current), or 'share_shift'
    (|share_current - share_baseline| > share_threshold).
    """
    cat = F.col(col).cast("string")
    cur = current.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n_current")
    )
    base = baseline.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n_baseline")
    )
    tc = cur.agg(F.sum("n_current").alias("_tc"))
    tb = base.agg(F.sum("n_baseline").alias("_tb"))
    j = (
        cur.alias("c")
        .join(base.alias("b"),
              F.col("c.category").eqNullSafe(F.col("b.category")),
              "full_outer")
        .select(
            F.coalesce(F.col("c.category"), F.col("b.category")).alias("category"),
            F.col("c.n_current").alias("n_current"),
            F.col("b.n_baseline").alias("n_baseline"),
        )
        .crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(tb))
    )
    share_cur = F.coalesce(F.col("n_current"), F.lit(0)).cast("double") / F.col("_tc").cast("double")
    share_base = F.coalesce(F.col("n_baseline"), F.lit(0)).cast("double") / F.col("_tb").cast("double")
    status = (
        F.when(F.col("n_baseline").isNull(), F.lit("new"))
        .when(F.col("n_current").isNull(), F.lit("vanished"))
        .when(F.abs(share_cur - share_base) > F.lit(float(share_threshold)),
              F.lit("share_shift"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(
            "category",
            F.coalesce(F.col("n_current"), F.lit(0)).cast("long").alias("n_current"),
            F.coalesce(F.col("n_baseline"), F.lit(0)).cast("long").alias("n_baseline"),
            F.round(share_cur, 6).alias("share_current"),
            F.round(share_base, 6).alias("share_baseline"),
            "status",
        )
    )


# ------------------------------------------------- embedding-space drift


def embedding_summary(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = None,
    dim: int = 64,
    grid: int = 1_000_000,
) -> DataFrame:
    """Exact, MERGEABLE embedding summary: one row per (group, pos)
    with ``s`` = sum of grid-quantized elements (decimal-exact), ``n``
    = vector count, ``nq`` = sum of grid-quantized per-row magnitudes.
    Order-free integer arithmetic throughout, so summaries from
    different partitions/batches/days merge by plain addition — the
    property both ``embedding_drift`` and the marker-borne streaming
    variant build on.

    ONE scan → one (grp, pos) partial/merge aggregate; the per-row
    magnitude rides the same explode (rq repeats per pos, so its
    per-(grp,pos) sum is the per-group sum at EVERY pos — a cheap
    duplication that saves a second scan and a join). Vectors that are
    NULL or not exactly ``dim`` long drop (the shape rule owns those);
    NULL group keys drop too (a missing group key is a ``not_null``
    finding, not a geometry finding — and this keeps the dict/JSON
    forms free of None-key ambiguity).

    Overflow discipline: every accumulator is decimal(38,0) from the
    FIRST addition (never a long partial that wraps), and the per-row
    magnitude fold squares in decimal — sums stay exact past 10^12
    rows x |x|~10 x grid 1e6. The summary-SCALE final fold
    (``drift_from_summaries``) then runs on unbounded Python ints, so
    no product of sums can overflow anywhere.
    """
    g = (F.col(group_col).cast("string") if group_col
         else F.lit("all")).alias("grp")
    dec = "decimal(38,0)"
    qarr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * grid).cast("long"),
    )
    # exact integer magnitude on the SAME grid: sum of squared
    # quantized elements (decimal accumulator — a long would wrap at
    # dim x (grid*|x|)^2 ~ 9e18), one sqrt+floor per row — order-free
    sumsq = F.aggregate(
        qarr,
        F.lit(0).cast(dec),
        lambda a, v: a + v.cast(dec) * v.cast(dec),
    )
    # Malformed ELEMENTS drop whole-row, exactly like wrong-dim vectors
    # (round-6 advice): a NULL element inside a correctly-sized vector
    # quantizes to NULL, which would silently drop that single element
    # from the per-dimension sum while the row still incremented n —
    # skewing the centroid with no finding raised; a NaN element
    # quantizes to an engine-dependent integer (Spark casts NaN->0).
    # The shape/type rules own flagging such vectors; the summary
    # simply must not fold them.
    rows = df.where(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & F.forall(
            F.col(vec_col),
            lambda x: x.isNotNull() & ~F.isnan(x.cast("double")),
        )
    ).select(
        g,
        qarr.alias("_q"),
        F.floor(F.sqrt(sumsq.cast("double"))).cast("long").alias("rq"),
    ).where(F.col("grp").isNotNull())
    return (
        rows.select("grp", "rq", F.posexplode("_q").alias("pos", "q"))
        .groupBy("grp", "pos")
        .agg(
            F.sum(F.col("q").cast(dec)).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("rq").cast(dec)).alias("nq"),
        )
    )


def embedding_drift(
    current: DataFrame,
    baseline: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = None,
    dim: int = 64,
    grid: int = 1_000_000,
) -> DataFrame:
    """Embedding-SPACE drift between two snapshots of a vector table —
    the representation-health twin of the numeric/categorical drift
    checks: per group (e.g. label, language, data source), how far did
    the centroid move and did vector magnitudes change?

    Output per group: ``n_base``, ``n_cur``, ``centroid_cosine``
    (cosine between the two group centroids — 1.0 means no rotation),
    ``centroid_shift_l2`` (L2 distance between centroids),
    ``mean_norm_base`` / ``mean_norm_cur`` (mean vector magnitude —
    collapse/explosion detector). Groups present in only one snapshot
    are a ``category_drift`` finding, not a geometry finding — they are
    excluded here (inner join on group); NULL group keys drop at the
    null-strict join (a missing group key is a ``not_null`` finding).

    Engine-portability discipline: every element is quantized to an
    integer grid (``floor(x * grid)``) FIRST, all cross-row sums are
    exact integer/decimal arithmetic (order-free — no float summation
    across rows anywhere), and each output double is ONE fixed
    expression over those exact sums, so DuckDB/Trino replay the
    metrics bit-for-bit. Cosine is computed over per-dimension SUM
    vectors (scaling by 1/n cancels in cosine, so no division enters
    the exact stage).

    Scale shape: one ``posexplode`` scan per side into a (group, pos)
    partial/merge aggregate — shuffle rows = groups x dim x partitions,
    independent of table size. The FINAL fold runs driver-side on the
    collected summaries with unbounded Python ints: products of sums
    reach ~(n x grid x |x|)^2 ~ 10^76 at the 10^12-row design point,
    past ANY fixed-width accumulator (decimal(38,0) products overflow
    to NULL and would silently drop exactly the drifted dimensions), so
    summary-scale bignum is the only representation that keeps the
    "exact at any corpus size" claim true. Driver cost is
    O(groups x dim) — ``group_col`` must be LOW-cardinality
    (label/domain/source), the same contract as the marker-borne
    streaming variant (which shares this code).
    """
    spark = current.sparkSession
    base_s = embedding_baseline(baseline, vec_col, group_col, dim, grid)
    cur_s = embedding_baseline(current, vec_col, group_col, dim, grid)
    return local_frame(
        spark,
        drift_from_summaries(base_s, cur_s),
        "group_value string, n_base long, n_cur long, "
        "centroid_cosine double, centroid_shift_l2 double, "
        "mean_norm_base double, mean_norm_cur double",
    )


def _round_half_up6(x: float) -> float:
    """Match Spark's ``round(double, 6)`` (BigDecimal.valueOf → shortest
    decimal string → HALF_UP) so driver-side metrics replay the same
    values an in-plan round would — Python's builtin round() is
    half-even and disagrees on exact .5e-6 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def drift_from_summaries(base: dict, cur: dict) -> list[tuple]:
    """The exact summary-scale drift fold shared by ``embedding_drift``
    (batch) and ``committed_stream_embedding_drift`` (marker reader):
    given two ``embedding_baseline``-shaped dicts, return one metrics
    tuple per group present in BOTH (groups on one side only are a
    ``category_drift`` finding). All integer arithmetic is unbounded
    Python int — no overflow at any corpus size; each emitted double is
    one fixed expression over the exact sums, rounded exactly like
    Spark's HALF_UP. Raises on a dim/grid mismatch between the two
    summaries."""
    if (int(base["dim"]), int(base["grid"])) != (
        int(cur["dim"]), int(cur["grid"])
    ):
        raise ValueError(
            f"baseline dim/grid {(base['dim'], base['grid'])} does not "
            f"match current dim/grid {(cur['dim'], cur['grid'])}"
        )
    grid = int(cur["grid"])
    rows = []
    for grp in sorted(set(base["groups"]) & set(cur["groups"])):
        gb, gc = base["groups"][grp], cur["groups"][grp]
        sb = [int(x) for x in gb["s"]]
        sc = [int(x) for x in gc["s"]]
        nb, nc = int(gb["n"]), int(gc["n"])
        dot = sum(a * c for a, c in zip(sb, sc))
        b2 = sum(a * a for a in sb)
        c2 = sum(c * c for c in sc)
        sq = sum((a * nc - c * nb) ** 2 for a, c in zip(sb, sc))
        rows.append((
            grp, nb, nc,
            _round_half_up6(
                float(dot) / (math.sqrt(float(b2)) * math.sqrt(float(c2)))
            ) if b2 and c2 else None,
            _round_half_up6(
                math.sqrt(float(sq)) / (float(nb) * float(nc) * grid)
            ),
            _round_half_up6(float(int(gb["nq"])) / (float(nb) * grid)),
            _round_half_up6(float(int(gc["nq"])) / (float(nc) * grid)),
        ))
    return rows


def embedding_baseline(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = None,
    dim: int = 64,
    grid: int = 1_000_000,
) -> dict:
    """Collect an ``embedding_summary`` into the portable dict the
    marker-borne streaming reader consumes: ``{"dim", "grid",
    "groups": {grp: {"n", "nq", "s": [dim ints]}}}``. Driver size is
    O(groups x dim) — the baseline snapshot you persist once (e.g.
    last week's corpus) and hand to
    ``committed_stream_embedding_drift``."""
    groups: dict = {}
    for r in embedding_summary(df, vec_col, group_col, dim, grid).collect():
        g = groups.setdefault(r["grp"], {"n": 0, "nq": 0, "s": [0] * dim})
        g["s"][int(r["pos"])] = int(r["s"])
        g["n"] = int(r["n"])
        g["nq"] = int(r["nq"])
    return {"dim": int(dim), "grid": int(grid), "groups": groups}
