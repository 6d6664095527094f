"""Two-stage (partial/merge) duplicate-key detection (BASELINE.json A4).

The reference delegates primary-key integrity to Postgres
(``ON CONFLICT (trip_id) DO ...`` in mds/db.py ≈L220–300). At 10^12 rows
the skew hazard is a pathological key repeating billions of times; the
defense is partial (map-side) aggregation: each input partition counts
its own rows per key BEFORE the exchange, so a key living on M input
partitions ships exactly M partial rows — never its raw rows — and the
stage-2 reducer merges at most M small counts per key.

``groupBy(key).count()`` compiles to exactly that shape
(``partial_count`` under the scan, ONE exchange of (key, count) rows,
final merge — plan-asserted in tests/test_operators.py). Earlier rounds
spelled the two stages out with an explicit
``groupBy(spark_partition_id(), key)`` salt; that guaranteed the same
property but added a SECOND full exchange of (salt, key, count) rows —
pure overhead, since rows of one (partition-id, key) group never span
partitions (measured 2.3x slower at 600k unique keys, round-7
optimization). The explicit form survives as
``stats.salted_group_count`` for non-algebraic aggregates where the
reader wants the shape visible in the code.

The final duplicate set is tiny relative to input, so every downstream
join against it broadcasts.

The product path (``plans.runner.keyed_violations``) does not use the
semi-join below: there each unique key's duplicate count is a
``count(1)`` window over the key's exchange, which the transcript join
shares, so the table is shuffled once for every cross-row check. That is
skew-safe in a different way: a hot key goes to one task, but the
window's and the join's row buffers spill past a row threshold and the
plan builds no per-key array, so the key costs disk, not task memory
(tests/test_keyed.py runs a key repeated 10^5 times). The operators here
stay the stand-alone form, and the reference the keyed plan is tested
against.

Broadcast contract: NO forced hint anywhere in this module. These
operators exist precisely because a table might be corrupt — and on a
corrupt or wrongly-merged 10^12-row table the duplicated-key set is
unbounded (a constant fraction of the corpus), so a forced
``F.broadcast(dup)`` would override Spark's size-based planning exactly
when it matters most. With AQE on (session.py default) the duplicate-set
side of each semi-join is re-planned at runtime from its TRUE post-
aggregation size: healthy table → tiny set → AQE converts the join to
broadcast on its own (asserted in tests/test_uniqueness.py); corrupt
table → big set → sort-merge, which is the only join that survives.
Same policy as operators/dedup.py's drop-set joins (round-3 fix).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.rules import Rule


def duplicate_keys(df: DataFrame, cols: Sequence[str], salt_partitions: int | None = None) -> DataFrame:
    """Return one row per duplicated key: (*cols, n_rows).

    Rows with a NULL key component are EXCLUDED: SQL groupBy would pool
    all NULLs into one group and report them as "duplicates", but
    null-ness is the missing_field rule's finding, not a uniqueness
    violation (JSON-Schema keeps `required` and uniqueness independent).
    """
    cols = list(cols)
    present = df.select(*cols)
    for c in cols:
        present = present.where(F.col(c).isNotNull())
    # partial_count runs map-side (the module docstring's two-stage
    # shape) — one exchange of (key, partial) rows, skew-immune
    return (
        present.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def duplicate_exemplars(
    df: DataFrame,
    cols: Sequence[str],
    order_by: Sequence[str],
    keep: str = "first",
) -> DataFrame:
    """Keep-one dedup picker (SURVEY.md §2.5): for each duplicated key,
    rank conflicting rows deterministically and mark the exemplar.

    Returns the conflicting rows with (dup_rank, is_exemplar). Uses
    ``row_number() over (partition by key order by ...)`` — the window
    only runs over the duplicate subset (semi-joined, never the full
    table), so no full-data window shuffle. The semi-join carries no
    broadcast hint: AQE broadcasts when the dup set is genuinely small
    (see module docstring).
    """
    from pyspark.sql import Window

    cols = list(cols)
    dup = duplicate_keys(df, cols).select(*cols)
    subset = df.join(dup, cols, "left_semi")
    ordering = [F.col(c).asc() if keep == "first" else F.col(c).desc() for c in order_by]
    w = Window.partitionBy(*cols).orderBy(*ordering)
    return subset.withColumn("dup_rank", F.row_number().over(w)).withColumn(
        "is_exemplar", F.col("dup_rank") == 1
    )


def duplicate_rule(cols: Sequence[str], predicate) -> Rule:
    """The ``duplicate_id`` rule of unique key ``cols`` (id, column and
    message), shared by ``duplicate_violations`` and the runner's keyed
    plan, where ``predicate`` reads the row's windowed duplicate count."""
    name = ",".join(cols)
    return Rule(S.rule_id(S.DUPLICATE_ID, name), name,
                f"duplicate key on ({', '.join(cols)})", predicate)


def duplicate_violations(
    df: DataFrame,
    cols: Sequence[str],
    key_col: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """Violation rows for duplicated keys, canonical shape.

    Every row that belongs to a duplicated key is reported (the reference
    semantics: each conflicting record is an error), found by a semi-join
    of the duplicate-key set back onto the table. No forced broadcast:
    AQE upgrades the join to broadcast at runtime when the set is small,
    and falls back to sort-merge when the table is corrupt enough that
    it isn't (see module docstring).
    """
    cols = list(cols)
    dup = duplicate_keys(df, cols).select(*cols)
    r = duplicate_rule(cols, lambda: F.lit(True))  # the semi-join is the predicate
    return (
        df.join(dup, cols, "left_semi")
        .select(
            F.lit(r.rule_id).alias("rule_id"),
            F.col(key_col).alias("clip_id"),
            F.lit(r.column).alias("column_name"),
            F.lit(r.message).alias("message"),
            F.col(part_col).alias("part_id"),
        )
    )
