"""Profile-to-rules suggestion engine (auto-generated constraint suites).

The reference validates against a FIXED schema document fetched from the
MDS repo (mds/schemas.py); real validation deployments also need the
inverse — infer a candidate constraint suite FROM the data, review it,
then enforce it (the Great-Expectations/"profiler" workflow, public
pattern). Spark-first shape:

* phase 1 — ONE aggregation pass over the table computes every
  column's profile simultaneously (count / nulls / distinct / min /
  max); map-side combined, one shuffle of a single row.
* decision — the one-row profile is collected to the driver. This is
  metadata-scale (a few doubles per column), not a data collect; the
  emission logic is plain Python over that row.
* phase 2 — only for string columns whose distinct count passed the
  ``enum_max_distinct`` gate, a second bounded aggregation collects the
  sorted value set (bounded by the gate, so the collect is safe at any
  table size).

Determinism: min/max are rounded IN the Spark plan (HALF_UP, matching
DuckDB's round) and enum values are sorted with ``array_sort`` (binary
UTF8 order, matching DuckDB ``list_sort``), so an oracle can replay the
whole suggestion table in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from mds_provider_spark import rules as R
from mds_provider_spark.operators.stats import approx_distinct
from mds_provider_spark.session import local_frame

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

SUGGESTION_SCHEMA = (
    "column_name string, rule_kind string, lo double, hi double, "
    "enum_vals string, null_rate double, n_distinct long"
)


def suggest_rules(
    df: DataFrame,
    columns: list[str] | None = None,
    enum_max_distinct: int = 20,
    required_max_null_rate: float = 0.0,
    exact_distinct: bool = True,
    robust_k: float | None = None,
) -> DataFrame:
    """Suggest a constraint suite from the data itself.

    Per column emits:
      * ``required``   when null_rate <= required_max_null_rate, else
      * ``null_rate``  recording the observed rate as the threshold;
      * ``range``      [min, max] for numeric columns;
      * ``enum``       sorted CSV of values for string columns whose
                       distinct count <= enum_max_distinct.

    ``exact_distinct=False`` swaps ``count_distinct`` for
    ``stats.approx_distinct`` (DataSketches HLL) — the 100 TB setting,
    where the enum gate only needs an order-of-magnitude answer. Exact is the default
    so the suggestion table is reproducible for the oracle.

    ``robust_k``: when set, numeric columns ALSO get a
    ``robust_range`` suggestion [med - k*1.4826*MAD, med + k*1.4826*MAD]
    — the observed [min, max] is corrupted by the very outliers a range
    rule should catch (one glitch value permanently widens the contract
    to admit all future glitches). Medians/MAD come from
    ``percentile_approx`` in one extra pass (suggestion-grade: a
    reviewed starting point, not an oracle-replayable statistic — so
    robust rows are emitted only on request).
    """
    cols = columns or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        else:
            aggs.append(approx_distinct(df, c).alias(f"_d_{c}"))
        if isinstance(fields[c], _NUMERIC):
            aggs.append(F.round(F.min(F.col(c).cast("double")), 6).alias(f"_min_{c}"))
            aggs.append(F.round(F.max(F.col(c).cast("double")), 6).alias(f"_max_{c}"))
    prof = df.agg(*aggs).collect()[0].asDict()

    enum_cands = [
        c for c in cols
        if isinstance(fields[c], T.StringType)
        and prof[f"_d_{c}"] <= enum_max_distinct
    ]
    enum_vals: dict[str, str] = {}
    if enum_cands:
        ev = df.agg(*[
            F.array_join(F.array_sort(F.collect_set(F.col(c))), ",").alias(c)
            for c in enum_cands
        ]).collect()[0].asDict()
        enum_vals = {c: ev[c] for c in enum_cands}

    num_cols = [c for c in cols if isinstance(fields[c], _NUMERIC)]
    robust: dict[str, tuple[float, float]] = {}
    if robust_k is not None and num_cols:
        meds = df.agg(*[
            F.percentile_approx(F.col(c).cast("double"), 0.5, 10000)
            .alias(c) for c in num_cols
        ]).collect()[0].asDict()
        mads = df.agg(*[
            F.percentile_approx(
                F.abs(F.col(c).cast("double") - F.lit(meds[c])), 0.5, 10000
            ).alias(c)
            for c in num_cols if meds[c] is not None
        ]).collect()[0].asDict() if any(
            meds[c] is not None for c in num_cols) else {}
        for c in num_cols:
            med, mad = meds.get(c), mads.get(c)
            if med is not None and mad is not None and mad > 0:
                half = robust_k * 1.4826 * mad
                robust[c] = (round(med - half, 6), round(med + half, 6))

    n = prof["_n"]
    rows = []
    for c in cols:
        nn, d = prof[f"_nn_{c}"], int(prof[f"_d_{c}"])
        null_rate = (n - nn) / n if n else 0.0
        kind = "required" if null_rate <= required_max_null_rate else "null_rate"
        rows.append((c, kind, None, None, None, null_rate, d))
        if isinstance(fields[c], _NUMERIC):
            rows.append(
                (c, "range", prof[f"_min_{c}"], prof[f"_max_{c}"], None, null_rate, d)
            )
            if c in robust:
                rows.append(
                    (c, "robust_range", robust[c][0], robust[c][1], None,
                     null_rate, d)
                )
        if c in enum_vals:
            rows.append((c, "enum", None, None, enum_vals[c], null_rate, d))
    out = local_frame(df.sparkSession, rows, SUGGESTION_SCHEMA)
    # round in the PLAN (HALF_UP, oracle-portable), not in Python
    # (banker's rounding would diverge at ties)
    return out.select(
        "column_name", "rule_kind", "lo", "hi", "enum_vals",
        F.round("null_rate", 6).alias("null_rate"), "n_distinct",
    )


def to_config(suggestions: DataFrame) -> list[dict]:
    """Suggestion table -> ``rules.from_config`` spec (JSON-serializable).

    Completes the profiler workflow: profile -> review the suggestion
    table -> persist the accepted suite as version-controlled JSON
    (``rules.save_config``) -> enforce on every future run
    (``rules.load_config``), with no code change between steps. Only
    enforceable kinds map (``null_rate`` rows are observations, not
    constraints — they are skipped, same as ``to_ruleset``). The
    suggestion table is metadata-scale, so the collect is bounded.
    """
    spec: list[dict] = []
    for row in suggestions.orderBy("column_name", "rule_kind").collect():
        if row.rule_kind == "required":
            spec.append({"kind": "not_null", "column": row.column_name})
        elif row.rule_kind in ("range", "robust_range"):
            spec.append({
                "kind": "in_range", "column": row.column_name,
                "lo": row.lo, "hi": row.hi,
            })
        elif row.rule_kind == "enum":
            spec.append({
                "kind": "is_in", "column": row.column_name,
                "values": row.enum_vals.split(","),
            })
    return spec


def to_ruleset(
    suggestions: DataFrame, key_col: str, part_col: str
) -> R.RuleSet:
    """Materialize a suggestion table into an enforceable RuleSet.

    The roundtrip invariant (pytest-covered): rules suggested FROM a
    table produce ZERO violations when enforced ON that same table.
    Routed through ``to_config`` so the in-memory and persisted-JSON
    paths cannot drift.
    """
    return R.from_config(to_config(suggestions), key_col, part_col)
