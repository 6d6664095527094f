"""Declarative rule set -> single-pass Catalyst validation.

This module is the Spark-native restatement of mds-provider's validation
core (mds/schemas.py ≈L150–300: ``DataValidator.validate`` walking
``jsonschema.Draft6Validator.iter_errors`` per record, wrapping each error
in ``DataValidationError``). Instead of an interpreted per-record walk, a
``RuleSet`` compiles ALL row-level rules into ONE projection:

    df.select(key, part,
              filter(array(when(pred_1, struct_1), ..., when(pred_n, struct_n)),
                     x -> x is not null) AS hits)

which Catalyst fuses into a single whole-stage-codegen stage over the
scan — one pass over 100 TB regardless of rule count, with column pruning
limited to exactly the columns the rules reference. Violation rows and
per-partition verdicts come from ``plans.runner.keyed_violations`` and
``keyed_verdicts`` over that projection (``keyed_plan`` with no cross-row
checks), the same builders ``api.Validator`` and the batch runner use.

JSON-Schema keywords: each scalar keyword is one ``Check`` here (its
violation test on a value Column), and ``schema_compiler._keyword_checks``
is the one keyword -> check table. The column rules are those checks at
a column (``column_rule``), ``element_rule`` lifts one to a field of
array elements:
  enum / items.enum   -> is_in / elements_in   (P3)
  minimum/maximum     -> in_range              (P4)
  pattern/format      -> matches               (P5)
  minItems/maxItems   -> array_size            (P6)
  minLength/maxLength, const, multipleOf, uniqueItems, contains
                      -> min_length/max_length, const_value,
                         multiple_of, unique_items, contains_match
Outside the table: required -> not_null (P1), type -> castable (P2),
and cross-row uniqueness -> unique_key (A4, a count over the key's
exchange in the keyed plan).

Rule semantics: a rule FIRES (emits a violation row) when its predicate is
True. NULL handling is explicit per rule kind — e.g. ``is_in`` does not
fire on NULL (that's ``not_null``'s job), mirroring JSON Schema where
``enum`` and ``required`` are independent keywords.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from mds_provider_spark import schema as S

# ------------------------------------------------------------------ rules


@dataclass(frozen=True)
class Rule:
    """One row-level constraint compiled to a Catalyst predicate.

    ``predicate`` returns a Column that is True IFF the row violates the
    rule. Must be null-safe: it must never return NULL (wrap with
    coalesce(..., False) semantics where needed) so the compiled
    hit-array has deterministic size.
    """

    rule_id: str
    column: str
    message: str
    predicate: Callable[[], Column]

    def hit(self) -> Column:
        return F.when(
            self.predicate(),
            F.struct(
                F.lit(self.rule_id).alias("rule_id"),
                F.lit(self.column).alias("column_name"),
                F.lit(self.message).alias("message"),
            ),
        )


def _nn(col: str, pred: Column) -> Column:
    """Guard: only fire when the column is present (non-null)."""
    return F.col(col).isNotNull() & F.coalesce(pred, F.lit(False))


def _any(conds: list[Column]) -> Column:
    out = conds[0]
    for extra in conds[1:]:
        out = out | extra
    return out


# ---------------------------------------------------------- keyword checks


@dataclass(frozen=True)
class Check:
    """One JSON-Schema keyword's violation test on a value Column.

    ``test(x)`` is True iff a NON-NULL value ``x`` violates the keyword;
    ``x`` may be a column, a struct field or an array entry. What a NULL
    ``x`` means is the position's call: an absent property never
    violates (``present_violation``); a JSON-null array entry violates
    unless ``null_ok`` (``entry_violation``) — draft-06 type-specific
    keywords are vacuous on null, while enum/const/type fail on it unless
    null is an allowed value. A rule built from a check has id
    ``kind:<name>`` and message ``"<name> <what>"``.
    ``schema_compiler._keyword_checks`` is the one keyword -> check table.
    """

    kind: str
    what: str
    test: Callable[[Column], Column]
    null_ok: bool = True


def present_violation(x: Column, check: Check) -> Column:
    """``x`` is present and violates ``check`` (NULL = absent property)."""
    return x.isNotNull() & F.coalesce(check.test(x), F.lit(False))


def entry_violation(x: Column, check: Check) -> Column:
    """Array entry ``x`` violates ``check`` (NULL = JSON null)."""
    v = present_violation(x, check)
    return v if check.null_ok else x.isNull() | v


def enum_check(allowed: Sequence) -> Check:
    vals = list(allowed)
    # NULL is tested apart: x IN (.., NULL) is NULL for a non-member,
    # which every position would read as "no violation"
    members = [v for v in vals if v is not None]
    return Check(
        S.BAD_ENUM,
        f"not in allowed set {vals}",
        (lambda x: ~x.isin(members)) if members else (lambda x: F.lit(True)),
        null_ok=len(members) < len(vals),
    )


def const_check(value) -> Check:
    if value is None:  # every non-null value violates {const: null}
        return Check(S.BAD_ENUM, "must equal None", lambda x: F.lit(True))
    return Check(
        S.BAD_ENUM, f"must equal {value!r}", lambda x: x != F.lit(value), null_ok=False
    )


def range_check(lo=None, hi=None, lo_inclusive: bool = True, hi_inclusive: bool = True) -> Check:
    def test(x: Column) -> Column:
        conds = []
        if lo is not None:
            conds.append(x < lo if lo_inclusive else x <= lo)
        if hi is not None:
            conds.append(x > hi if hi_inclusive else x >= hi)
        return _any(conds)

    bounds = f"[{lo},{hi}]" if lo_inclusive and hi_inclusive else f"({lo},{hi})"
    return Check(S.OUT_OF_RANGE, f"out of range {bounds}", test)


def pattern_check(regex: str, kind: str = S.BAD_FORMAT) -> Check:
    return Check(kind, f"does not match /{regex}/", lambda x: ~x.rlike(regex))


def min_length_check(n: int) -> Check:
    """JSON-Schema ``minLength``: RAW character count (draft-06 does NOT
    trim — whitespace-only strings satisfy minLength>=1). For the
    stricter engine semantics use ``non_empty``."""
    return Check(S.BAD_SHAPE, f"shorter than {n} characters", lambda x: F.length(x) < n)


def max_length_check(n: int) -> Check:
    return Check(S.BAD_SHAPE, f"longer than {n} characters", lambda x: F.length(x) > n)


def multiple_of_check(divisor: int) -> Check:
    """JSON-Schema ``multipleOf`` (integer divisors)."""
    return Check(
        S.OUT_OF_RANGE,
        f"not a multiple of {divisor}",
        lambda x: F.pmod(x, F.lit(divisor)) != 0,
    )


def size_check(min_items: int | None = None, max_items: int | None = None) -> Check:
    def test(x: Column) -> Column:
        conds = []
        if min_items is not None:
            conds.append(F.size(x) < min_items)
        if max_items is not None:
            conds.append(F.size(x) > max_items)
        return _any(conds)

    return Check(S.BAD_SHAPE, f"array size outside [{min_items},{max_items}]", test)


def unique_items_check() -> Check:
    return Check(
        S.BAD_SHAPE,
        "has duplicate array elements",
        lambda x: F.size(F.array_distinct(x)) < F.size(x),
    )


def elements_in_check(allowed: Sequence) -> Check:
    """``items: {enum}``: some entry (a JSON null included, unless null is
    allowed) is outside the set."""
    enum = enum_check(allowed)
    return Check(
        S.BAD_ENUM,
        "has element(s) outside allowed set",
        lambda x: F.exists(x, lambda e: entry_violation(e, enum)),
    )


def contains_check(element_pred: Callable[[Column], Column], description: str) -> Check:
    """JSON-Schema draft-06 ``contains``: NO entry satisfies the
    subschema. ``element_pred(e)`` is the per-entry satisfaction
    predicate (the schema compiler builds it from entry checks)."""
    return Check(
        S.BAD_SHAPE,
        f"has no element matching: {description}",
        lambda x: ~F.exists(x, lambda e: F.coalesce(element_pred(e), F.lit(False))),
    )


def column_rule(col: str, check: Check) -> Rule:
    """``check`` on column (or dotted struct path) ``col``; a NULL value is
    absent and never fires (that is ``not_null``'s job)."""
    return Rule(
        S.rule_id(check.kind, col),
        col,
        f"{col} {check.what}",
        lambda: present_violation(F.col(col), check),
    )


def not_null(col: str) -> Rule:
    return Rule(
        S.rule_id(S.MISSING_FIELD, col),
        col,
        f"required field {col} is missing",
        lambda: F.col(col).isNull(),
    )


def is_in(col: str, allowed: Sequence) -> Rule:
    return column_rule(col, enum_check(allowed))


def in_range(
    col: str,
    lo=None,
    hi=None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
) -> Rule:
    return column_rule(col, range_check(lo, hi, lo_inclusive, hi_inclusive))


def matches(col: str, regex: str, kind: str = S.BAD_FORMAT) -> Rule:
    return column_rule(col, pattern_check(regex, kind))


def min_length(col: str, n: int) -> Rule:
    return column_rule(col, min_length_check(n))


def max_length(col: str, n: int) -> Rule:
    return column_rule(col, max_length_check(n))


def const_value(col: str, value) -> Rule:
    return column_rule(col, const_check(value))


def multiple_of(col: str, divisor: int) -> Rule:
    return column_rule(col, multiple_of_check(divisor))


def array_size(col: str, min_items: int | None = None, max_items: int | None = None) -> Rule:
    return column_rule(col, size_check(min_items, max_items))


def elements_in(col: str, allowed: Sequence) -> Rule:
    return column_rule(col, elements_in_check(allowed))


def unique_items(col: str) -> Rule:
    return column_rule(col, unique_items_check())


def contains_match(
    col: str, element_pred: Callable[[Column], Column], description: str
) -> Rule:
    return column_rule(col, contains_check(element_pred, description))


def non_empty(col: str, kind: str = S.EMPTY_TEXT) -> Rule:
    """Fires on whitespace-only / empty strings (stricter than JSON-Schema
    minLength — see min_length_check). NULL is not_null's job."""
    return Rule(
        S.rule_id(kind, col),
        col,
        f"{col} is empty or whitespace-only",
        lambda: _nn(col, F.length(F.trim(F.col(col))) == 0),
    )


def castable(col: str, to_type: str) -> Rule:
    """JSON-Schema ``type``: value present but not castable to target type."""
    return Rule(
        S.rule_id(S.BAD_TYPE, col),
        col,
        f"{col} not castable to {to_type}",
        lambda: _nn(col, F.col(col).try_cast(to_type).isNull()),
    )


def nested_required(col: str, parent: str) -> Rule:
    """``required`` inside a NESTED object schema: fires only when the
    enclosing object is present (JSON Schema evaluates a subschema only
    against instances that have the property — a missing parent is the
    parent's own ``required``/type problem, not the child's). ``col`` is
    the dotted struct path (e.g. ``event_location.geometry``); Catalyst
    resolves it with zero-cost struct field access, no flattening."""
    return Rule(
        S.rule_id(S.MISSING_FIELD, col),
        col,
        f"required field {col} is missing",
        lambda: F.col(parent).isNotNull() & F.col(col).isNull(),
    )


def _epath(x: Column, fpath: tuple[str, ...]) -> Column:
    for f in fpath:
        x = x[f]
    return x


def _edotted(col: str, fpath: tuple[str, ...]) -> str:
    return f"{col}[].{'.'.join(fpath)}"


def element_required(
    col: str, fpath: tuple[str, ...], parent_fpath: tuple[str, ...] | None = None
) -> Rule:
    """``items.properties`` + ``required``: some array element (or its
    nested sub-object, when ``parent_fpath`` is given) is present but
    missing the required field. One ``exists`` over the array — a single
    codegen loop, no explode/shuffle."""
    name = _edotted(col, fpath)

    def pred() -> Column:
        def bad(x: Column) -> Column:
            present = (
                _epath(x, parent_fpath).isNotNull() if parent_fpath else x.isNotNull()
            )
            return present & _epath(x, fpath).isNull()

        return _nn(col, F.exists(F.col(col), bad))

    return Rule(
        S.rule_id(S.MISSING_FIELD, name),
        name,
        f"array {col} has element(s) missing required {'.'.join(fpath)}",
        pred,
    )


def element_rule(col: str, fpath: tuple[str, ...], check: Check) -> Rule:
    """``check`` on field ``fpath`` of the elements of array ``col`` (e.g.
    ``route.features[].geometry.type``): fires when some element has the
    field present and violating. One ``exists`` over the array."""
    name = _edotted(col, fpath)
    return Rule(
        S.rule_id(check.kind, name),
        name,
        f"{name} {check.what}",
        lambda: _nn(
            col,
            F.exists(F.col(col), lambda x: present_violation(_epath(x, fpath), check)),
        ),
    )


def required_with(col: str, present_col: str) -> Rule:
    """JSON-Schema ``dependencies`` (property-array form): when
    ``present_col`` is present, ``col`` must be too. Distinct from
    ``required_if``, which conditions on the VALUE of another column."""
    return Rule(
        S.rule_id(S.MISSING_FIELD, col),
        col,
        f"{col} required when {present_col} is present",
        lambda: F.col(present_col).isNotNull() & F.col(col).isNull(),
    )


def required_if(col: str, when_col: str, when_values: Sequence) -> Rule:
    """Conditional requirement (JSON-Schema ``dependencies``/if-then; MDS
    uses these — e.g. event_type_reason required for some event_types):
    ``col`` must be non-null when ``when_col`` is in ``when_values``."""
    vals = list(when_values)
    return Rule(
        S.rule_id(S.MISSING_FIELD, col),
        col,
        f"{col} required when {when_col} in {vals}",
        lambda: F.col(when_col).isin(vals) & F.col(col).isNull(),
    )


def rate_band(
    text_col: str,
    dur_ms_col: str,
    lo: float,
    hi: float,
) -> Rule:
    """Cross-field consistency: characters-per-second of ``text_col``
    against ``dur_ms_col`` must sit inside [lo, hi] — the speech-corpus
    sanity check that a transcript plausibly fits its clip (a 200 ms
    clip cannot carry a paragraph; an hour of audio with three words is
    a pairing bug upstream, not a transcription).

    Layered like the PCM check: fires only when BOTH fields are
    individually valid (non-null, non-empty text, positive duration) —
    rows already flagged by not_null/non_empty/in_range are not
    double-reported here. Band endpoints are INCLUSIVE (rate == lo or
    hi passes). Pure Catalyst arithmetic; the division is IEEE double
    on every engine, so oracles replay it exactly.
    """
    rate = F.length(F.col(text_col)) / (F.col(dur_ms_col) / F.lit(1000.0))
    return Rule(
        S.rule_id(S.INCONSISTENT, text_col),
        text_col,
        f"chars/sec outside [{lo}, {hi}] vs {dur_ms_col}",
        lambda: (
            F.col(text_col).isNotNull()
            & (F.length(F.col(text_col)) > 0)
            & F.col(dur_ms_col).isNotNull()
            & (F.col(dur_ms_col) > 0)
            & ((rate < F.lit(lo)) | (rate > F.lit(hi)))
        ),
    )


def allowed_when(
    col: str,
    when_col: str,
    when_value,
    allowed: Sequence,
) -> Rule:
    """Value-dependent enum (JSON-Schema if/then over two properties —
    the idiom mds-provider's MDS schemas express as conditional
    subschemas): when ``when_col`` equals ``when_value``, ``col`` must
    be in ``allowed``. E.g. codec 'opus' only exists at
    {8000, 16000, 24000, 48000} Hz — any other pairing is metadata
    corruption even though both values pass their own enums. NULL in
    either column never fires (not_null owns absence)."""
    vals = list(allowed)
    return Rule(
        S.rule_id(S.INCONSISTENT, col),
        col,
        f"{col} must be in {vals} when {when_col} == {when_value!r}",
        lambda: (
            (F.col(when_col) == F.lit(when_value))
            & F.col(col).isNotNull()
            & ~F.col(col).isin(vals)
        ),
    )


def unique_key(cols: str | Sequence[str]) -> "UniqueKey":
    return UniqueKey(tuple([cols] if isinstance(cols, str) else cols))


@dataclass(frozen=True)
class UniqueKey:
    """Cross-row uniqueness; compiled separately (needs a shuffle).

    On the product path a ``count(1)`` window over the key's exchange
    (``plans.runner.keyed_violations``); stand-alone, the two-stage hash
    aggregation of operators/uniqueness.py. Both report every row of a
    duplicated non-NULL key.
    """

    cols: tuple[str, ...]

    @property
    def rule_id(self) -> str:
        return S.rule_id(S.DUPLICATE_ID, ",".join(self.cols))


# --------------------------------------------------------------- rule set


@dataclass
class RuleSet:
    """The Spark analog of one MDS JSON Schema document + validator.

    ``key_col`` plays the role of the record identifier in violation rows
    (mds-provider reports the failing instance; we report its key).
    """

    rules: list[Rule] = field(default_factory=list)
    unique_keys: list[UniqueKey] = field(default_factory=list)
    key_col: str = "clip_id"
    part_col: str = "part_id"

    def add(self, *rules) -> "RuleSet":
        for r in rules:
            if isinstance(r, UniqueKey):
                self.unique_keys.append(r)
            else:
                self.rules.append(r)
        return self

    # -- compilation -------------------------------------------------

    _HIT_TYPE = "array<struct<rule_id:string,column_name:string,message:string>>"

    def hits_column(self) -> Column:
        """array<struct<rule_id,column_name,message>> of fired rules."""
        if not self.rules:
            # F.array() with no children is array<void>; keep the shape typed
            return F.expr(f"cast(array() as {self._HIT_TYPE})")
        arr = F.array(*[r.hit() for r in self.rules])
        return F.filter(arr, lambda x: x.isNotNull())

    def violations(self, df: DataFrame) -> DataFrame:
        """Row-level violations in the canonical VIOLATIONS_SCHEMA order:
        ``keyed_violations`` over this rule set's ``keyed_plan`` without
        unique keys or transcripts.

        Does NOT include cross-row (unique/referential) violations — those
        need shuffles and come from the full keyed plan. Keeping this path
        shuffle-free means it pipelines with the scan at 100 TB.
        """
        from mds_provider_spark.plans.runner import keyed_plan, keyed_violations

        return keyed_violations(keyed_plan(replace(self, unique_keys=[]), df))

    def verdicts(self, df: DataFrame) -> DataFrame:
        """Per-partition pass/fail (BASELINE.json: per-partition verdicts):
        ``keyed_verdicts`` over the same row-rules-only plan as
        ``violations``.

        Partial aggregation is automatic (hash agg partial+final); the
        shuffle moves one row per (input partition x part_id), not data.
        """
        from mds_provider_spark.plans.runner import keyed_plan, keyed_verdicts

        return keyed_verdicts(keyed_plan(replace(self, unique_keys=[]), df))

    def verdicts_from_violations(
        self, df: DataFrame, all_violations: DataFrame
    ) -> DataFrame:
        """Per-partition verdicts WITHOUT re-evaluating rules.

        Preferred at scale when the violation rows are already
        materialized: n_rows comes from a count-only scan (with the table
        partitioned by part_id this reads parquet metadata, zero data
        pages), and the violation counts come from the tiny violations
        set — no second pass over 100 TB. The join is null-safe: a NULL
        part_id's violations count against its NULL-part rows.
        """
        rows = df.groupBy(F.col(self.part_col).alias("part_id")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        viol = all_violations.groupBy(F.col("part_id").alias("_vp")).agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        return (
            rows.join(F.broadcast(viol), F.col("part_id").eqNullSafe(F.col("_vp")), "left")
            .select(
                "part_id",
                F.when(F.coalesce(F.col("n_violations"), F.lit(0)) > 0, F.lit("fail"))
                .otherwise(F.lit("pass"))
                .alias("status"),
                "n_rows",
                F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
            )
        )


_RULE_FACTORIES = {
    "not_null": lambda c, p: not_null(c),
    "is_in": lambda c, p: is_in(c, p["values"]),
    "in_range": lambda c, p: in_range(
        c, lo=p.get("lo"), hi=p.get("hi"),
        lo_inclusive=p.get("lo_inclusive", True),
        hi_inclusive=p.get("hi_inclusive", True),
    ),
    "matches": lambda c, p: matches(c, p["regex"]),
    "non_empty": lambda c, p: non_empty(c),
    "min_length": lambda c, p: min_length(c, p["n"]),
    "max_length": lambda c, p: max_length(c, p["n"]),
    "castable": lambda c, p: castable(c, p["type"]),
    "array_size": lambda c, p: array_size(c, p.get("min_items"), p.get("max_items")),
    "elements_in": lambda c, p: elements_in(c, p["values"]),
    "unique_items": lambda c, p: unique_items(c),
    "const": lambda c, p: const_value(c, p["value"]),
    "multiple_of": lambda c, p: multiple_of(c, p["divisor"]),
    "required_if": lambda c, p: required_if(c, p["when_col"], p["when_values"]),
}


def from_config(
    spec: list[dict], key_col: str, part_col: str = "part_id"
) -> RuleSet:
    """Config-driven rule sets: ``[{"kind": ..., "column": ..., ...}]``.

    The deployment-side analog of the reference's registry/config pattern
    (mds/providers.py + ConfigFile): rule sets live in version-controlled
    JSON next to the pipeline config, loaded per run — no code change to
    add a constraint. ``{"kind": "unique_key", "columns": [...]}`` adds a
    cross-row uniqueness check.
    """
    rs = RuleSet(key_col=key_col, part_col=part_col)
    for item in spec:
        kind = item["kind"]
        if kind == "unique_key":
            rs.add(unique_key(item["columns"]))
            continue
        factory = _RULE_FACTORIES.get(kind)
        if factory is None:
            raise ValueError(f"unknown rule kind {kind!r}")
        rs.add(factory(item["column"], item))
    return rs


def save_config(
    spec: list[dict], path: str, key_col: str, part_col: str = "part_id"
) -> None:
    """Persist a ``from_config`` spec as a versioned JSON suite document.

    The durable half of the config-driven pattern: a suite saved here is
    the reviewable, diff-able artifact that lives next to the pipeline
    config (the reference keeps its constraint source — the fetched JSON
    Schema — as exactly such a checked-in document). Round-trip
    guarantee: ``load_config(path)`` builds the identical RuleSet,
    validated eagerly at save time by compiling the spec once (a typo'd
    kind fails HERE, not at 2am in the enforcement job).
    """
    import json

    from_config(spec, key_col=key_col, part_col=part_col)  # validate now
    doc = {
        "version": 1,
        "key_col": key_col,
        "part_col": part_col,
        "rules": spec,
    }
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic: readers never see a partial suite


def load_config(path: str) -> RuleSet:
    """Load a ``save_config`` suite document into an enforceable RuleSet."""
    import json

    with open(path) as f:
        doc = json.load(f)
    if doc.get("version") != 1:
        raise ValueError(
            f"unsupported rule-suite version {doc.get('version')!r} in {path}"
        )
    return from_config(
        doc["rules"], key_col=doc["key_col"], part_col=doc["part_col"]
    )


def mds_clip_rules() -> RuleSet:
    """The flagship rule set for the audio-clip table (BASELINE.json).

    Deliberately does NOT include not_null("bytes"): the binary column is
    checked inside the PCM stage (functions/audio.pcm_violations), the
    only stage that scans it — keeping the rule projection's parquet read
    byte-free (column pruning excludes the audio payload entirely).
    """
    rs = RuleSet(key_col="clip_id", part_col="part_id")
    rs.add(
        not_null("clip_id"),
        matches("clip_id", S.UUID_RE),
        not_null("transcript"),
        non_empty("transcript"),
        is_in("sr_hz", S.SR_HZ_ENUM),
        in_range("dur_ms", lo=0, lo_inclusive=False),
        is_in("codec", S.CODEC_ENUM),
        unique_key("clip_id"),
    )
    return rs


def violation_rates(
    violations: DataFrame,
    n_rows: int,
    z: float = 1.959964,
    rule_col: str = "rule_id",
) -> DataFrame:
    """Per-rule violation RATE with a Wilson score interval — the
    statistically honest verdict layer. A raw rate of 0.0004 means
    nothing without n; the Wilson interval (well-behaved at p≈0 and
    small n, unlike the normal approximation) gives the release gate a
    defensible bound: block when ``ci_high`` crosses the budget, not
    when a point estimate wiggles.

    ``n_rows`` is the checked-row denominator the caller already knows
    (one count of the validated table). One tiny aggregation over the
    violation rows; every emitted double is ONE fixed expression over
    exact integer counts and the z literal, so an oracle replays the
    interval bit-for-bit.
    """
    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    g = violations.groupBy(rule_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_violations")
    )
    n = F.lit(float(n_rows))
    zz = F.lit(float(z)) * F.lit(float(z))
    p = F.col("n_violations").cast("double") / n
    denom = F.lit(1.0) + zz / n
    center = p + zz / (F.lit(2.0) * n)
    half = F.lit(float(z)) * F.sqrt(
        p * (F.lit(1.0) - p) / n + zz / (F.lit(4.0) * n * n)
    )
    return g.select(
        rule_col,
        "n_violations",
        F.lit(int(n_rows)).alias("n_rows"),
        F.round(p, 6).alias("rate"),
        F.round(F.greatest((center - half) / denom, F.lit(0.0)), 6).alias("ci_low"),
        F.round(F.least((center + half) / denom, F.lit(1.0)), 6).alias("ci_high"),
    )
