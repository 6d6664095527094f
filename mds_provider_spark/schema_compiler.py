"""JSON Schema -> RuleSet compiler: the direct switch-over surface.

The reference validates records by walking a draft-06 MDS JSON Schema
with ``jsonschema.Draft6Validator.iter_errors`` per record
(mds/schemas.py ≈L150–220, Schema/DataValidator). This module compiles
the SAME schema documents into the engine's RuleSet — one Catalyst
projection instead of a Python walk per record, same rule-id/violation-row
contract.

Scalar keywords: one table, ``_keyword_checks``, maps each keyword to one
``rules.Check`` (its violation test on a value Column):

  keyword                                  check                    rule kind
  enum                                     enum_check               bad_enum
  const                                    const_check              bad_enum
  pattern, format: uuid                    pattern_check            bad_format
  minLength / maxLength (raw length)       min_/max_length_check    bad_shape
  minimum / maximum / exclusive* (_bounds) range_check              out_of_range
  multipleOf (positive integer)            multiple_of_check        out_of_range
  minItems / maxItems                      size_check               bad_shape
  uniqueItems                              unique_items_check       bad_shape
  items: {enum}                            elements_in_check        bad_enum
  contains                                 contains_check           bad_shape
  type (combinator branches, entries)      _type_check              bad_type

Every keyword compiles at every position. A position decides only how it
addresses the value, its presence guard and what NULL means:

  column / nested property   F.col(path), NULL = absent    _compile_scalar
  array-element field        x.f in exists(array, x -> ..)  _compile_items
  element-branch field       x.f in a combinator branch     _element_branch_violation
  array entry                contains, tuple items,         _entry_sat
                             additionalItems, propertyNames;
                             NULL = JSON null (``rules.entry_violation``)

Outside branches and entries ``type`` is structural: the strict read
schema enforces it (rule P2 ``castable`` covers string-typed reads).

The positions compile the structural keywords themselves: ``required``,
``properties`` and nested objects; ``items`` as an object schema (one
``exists`` loop per rule over array<struct>) or as a list (tuple
validation) with ``additionalItems``; ``patternProperties`` /
``propertyNames`` / ``minProperties`` / ``maxProperties`` against the
declared-name universe the strict read schema guarantees; internal
``$ref``/``definitions`` (inlined up front by ``resolve_refs``, so raw
fetched MDS schema documents compile unmodified); and the combinators
``allOf``/``anyOf``/``oneOf``/``not``/``dependencies`` plus the draft-07
``if``/``then``/``else``, whose branches compile to deferred predicates
fused into the same single projection as every other rule.

Unsupported keywords are returned, not silently dropped — callers
decide whether that's an error.

Uniqueness has no JSON-Schema keyword; pass ``unique`` explicitly (the
reference gets it from the Postgres PK instead, mds/db.py).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import functions as F

from mds_provider_spark import rules as R
from mds_provider_spark import schema as S

# JSON-Schema ``type`` -> regex over Spark's typeof() name for the value.
# Used only inside combinator branches and at array entries, where
# ``type`` is discriminating (oneOf:[{type:string},{type:null}] is the
# canonical nullable idiom) — elsewhere ``type`` stays structural. The check is column-typed: a value's JSON type is decided by the
# column's Spark type plus nullness. Divergence from draft-06, documented:
# ``integer`` does not accept float/double columns that happen to hold
# zero-fraction values (jsonschema's 2.0-is-an-integer nicety needs value
# introspection that would break analysis on non-numeric branches).
_TYPE_RE = {
    "string": r"^(string|varchar|char)",
    "integer": r"^(tinyint|smallint|int|bigint)$",
    "number": r"^(tinyint|smallint|int|bigint|float|double)$|^decimal",
    "boolean": r"^boolean$",
    "array": r"^array<",
    "object": r"^(struct|map)<",
}


def _type_check(tl: list) -> "R.Check":
    """Branch/entry ``type``: a non-null value's JSON type is decided by
    ``typeof()`` — constant per column, so Catalyst folds it — and JSON
    null satisfies iff the list admits "null" (SQL NULL plays JSON null
    at entries). Callers must pre-validate names against _TYPE_RE."""
    pats = "|".join(_TYPE_RE[t] for t in tl if t != "null")
    return R.Check(
        S.BAD_TYPE,
        f"is not of JSON type {tl}",
        (lambda x: ~F.typeof(x).rlike(pats)) if pats else (lambda x: F.lit(True)),
        null_ok="null" in tl,
    )


def _check_type_names(val, where: str, unsupported: list[str]) -> list | None:
    """Validate a ``type`` keyword value; returns the type list or None
    (with an ``unsupported`` entry) when a name has no typeof mapping."""
    tl = [val] if isinstance(val, str) else list(val)
    bad = [t for t in tl if t != "null" and t not in _TYPE_RE]
    if bad:
        unsupported.append(f"{where}.type:{bad}")
        return None
    return tl


_ANNOTATIONS = ("description", "title", "default", "examples", "$comment", "$schema", "$id")

# Combinator keywords compiled by _compile_combinators (round 4). The MDS
# provider schemas gate event_type_reason / associated_trip on event_type
# through these (mds/schemas.py walks them via jsonschema ≈L30–90).
# if/then/else is the draft-07 spelling of the same conditionals —
# compiled too, so post-0.4 schema documents also work.
_COMBINATOR_KEYS = ("allOf", "anyOf", "oneOf", "not", "dependencies", "if", "then", "else")
# the combinators an array element (and its fields) can carry
_ELEMENT_COMBINATORS = ("allOf", "anyOf", "oneOf", "not")
# keywords an object inside an array element compiles
_ELEMENT_OBJECT_KEYS = (
    "type", "properties", "required", "additionalProperties",
    *_ELEMENT_COMBINATORS, *_ANNOTATIONS,
)
_BOUND_KEYS = ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum")


def _subrules(
    spec: dict,
    unsupported: list[str],
    prefix: str,
    parent: str | None,
    scalar_path: str | None,
) -> list:
    """Compile a combinator BRANCH into a throwaway RuleSet and return its
    rules — only their deferred predicates are reused; the branch's own
    rule ids/messages never surface (jsonschema likewise reports the
    combinator, not the branch internals). Unsupported keywords inside a
    branch propagate to the caller's list (strict mode still raises).

    ``type`` is compiled HERE (in_branch=True below) because inside a
    branch it discriminates — a type-only branch like {type: "string"}
    must be satisfied exactly by string values, not vacuously by
    everything (the round-4 bug: such branches compiled to zero rules and
    counted as always-satisfied, so oneOf:[string,null] flagged every
    present value and not:{type:...} always fired). At an object-position
    branch ``type`` compiles to a constant (satisfied iff the list admits
    "object") — sound because the instance is provably a non-null struct
    whenever the combinator fires: the record root always exists, and a
    NESTED object's combinators carry an ``F.col(parent).isNotNull()``
    guard (``_compile_combinators``), under the compiler-wide contract
    that SQL NULL at a property position means the property is ABSENT
    (the differential harness drops None keys for jsonschema the same
    way), and draft-06 applies a subschema only to present instances."""
    rs = R.RuleSet(key_col="", part_col="")
    if scalar_path is not None:
        _compile_scalar(rs, unsupported, scalar_path, spec, in_branch=True)
    else:
        _compile_object(
            rs, unsupported, spec, prefix=prefix, parent=parent, in_branch=True
        )
        if "type" in spec:
            tl = _check_type_names(spec["type"], prefix.rstrip(".") or "$", unsupported)
            if tl is not None and "object" not in tl:
                rs.add(
                    R.Rule(
                        S.rule_id(S.BAD_TYPE, prefix.rstrip(".") or "$"),
                        prefix.rstrip(".") or "$",
                        f"instance is an object; branch requires type {tl}",
                        lambda: F.lit(True),
                    )
                )
    return rs.rules


def _combinator_fold(kind: str, viols: list):
    """The one place combinator semantics live: fold branch-VIOLATION
    callables into the combinator's violation. Works for both deferred
    record-level thunks (no args) and per-element predicates (x arg) —
    every caller's branches are null-safe (coalesced), so the folds
    never yield NULL. anyOf: violated iff ALL branches violated; oneOf:
    violated iff #satisfied != 1; allOf: violated iff ANY branch
    violated; not: violated iff the single branch is satisfied."""
    if kind == "anyOf":
        def bad(*a):
            out = F.lit(True)
            for v in viols:
                out = out & v(*a)
            return out
    elif kind == "oneOf":
        def bad(*a):
            n_sat = F.lit(0)
            for v in viols:
                n_sat = n_sat + F.when(v(*a), F.lit(0)).otherwise(F.lit(1))
            return n_sat != 1
    elif kind == "allOf":
        def bad(*a):
            out = F.lit(False)
            for v in viols:
                out = out | v(*a)
            return out
    elif kind == "not":
        def bad(*a):
            return ~viols[0](*a)
    else:  # pragma: no cover - internal misuse
        raise ValueError(kind)
    return bad


def _branch_violation(rules: list):
    """Deferred Column: True iff the row violates ANY of the branch's
    rules (i.e. fails the branch subschema). Null-safe by construction —
    every rule predicate is coalesced, so the OR never yields NULL."""

    def col():
        out = F.lit(False)
        for r in rules:
            out = out | F.coalesce(r.predicate(), F.lit(False))
        return out

    return col


def _compile_combinators(
    rs: "R.RuleSet",
    unsupported: list[str],
    spec: dict,
    prefix: str,
    parent: str | None,
    scalar_path: str | None = None,
) -> None:
    """anyOf/oneOf/allOf/not/dependencies/if-then-else at either the
    object level (``scalar_path is None``: branches are object subschemas
    evaluated against the record at dotted ``prefix``) or the property
    level (branches are scalar specs for the single column
    ``scalar_path``).

    Everything compiles to ONE deferred Catalyst predicate per combinator
    — branch satisfaction is just the negated OR of the branch's compiled
    rule predicates, so the whole construct stays inside the same
    whole-stage-codegen projection as every other rule (no extra pass,
    no Python). Presence guards mirror jsonschema's evaluation scope: a
    property-level combinator only fires when the property is present,
    a nested-object one only when the enclosing object is."""
    where = scalar_path if scalar_path is not None else (prefix.rstrip(".") or "$")

    def guard():
        if scalar_path is not None:
            return F.col(scalar_path).isNotNull()
        if parent is not None:
            return F.col(parent).isNotNull()
        return None

    def wrap(pred):
        def g():
            base = F.coalesce(pred(), F.lit(False))
            gd = guard()
            return base if gd is None else gd & base

        return g

    def branch_viols(branches):
        return [
            _branch_violation(_subrules(b, unsupported, prefix, parent, scalar_path))
            for b in branches
        ]

    for branch in spec.get("allOf", []):
        # conjunction == union of rule sets: compile each branch IN PLACE
        # so per-keyword rule ids and messages survive intact
        if scalar_path is not None:
            _compile_scalar(rs, unsupported, scalar_path, branch)
        else:
            _compile_object(rs, unsupported, branch, prefix=prefix, parent=parent)

    if "anyOf" in spec:
        viols = branch_viols(spec["anyOf"])
        name = f"{where}.anyOf"
        rs.add(
            R.Rule(
                S.rule_id(S.COMBINATOR, name),
                name,
                f"{where} matches none of {len(viols)} anyOf branches",
                wrap(_combinator_fold("anyOf", viols)),
            )
        )

    if "oneOf" in spec:
        viols = branch_viols(spec["oneOf"])
        name = f"{where}.oneOf"
        rs.add(
            R.Rule(
                S.rule_id(S.COMBINATOR, name),
                name,
                f"{where} must match exactly one of {len(viols)} oneOf branches",
                wrap(_combinator_fold("oneOf", viols)),
            )
        )

    if "not" in spec:
        viols = [
            _branch_violation(
                _subrules(spec["not"], unsupported, prefix, parent, scalar_path)
            )
        ]
        name = f"{where}.not"
        rs.add(
            R.Rule(
                S.rule_id(S.COMBINATOR, name),
                name,
                f"{where} matches a forbidden (not) schema",
                wrap(_combinator_fold("not", viols)),
            )
        )

    if "if" in spec and ("then" in spec or "else" in spec):
        if_viol = _branch_violation(
            _subrules(spec["if"], unsupported, prefix, parent, scalar_path)
        )
        then_viol = (
            _branch_violation(
                _subrules(spec["then"], unsupported, prefix, parent, scalar_path)
            )
            if "then" in spec
            else (lambda: F.lit(False))
        )
        else_viol = (
            _branch_violation(
                _subrules(spec["else"], unsupported, prefix, parent, scalar_path)
            )
            if "else" in spec
            else (lambda: F.lit(False))
        )
        name = f"{where}.if"
        rs.add(
            R.Rule(
                S.rule_id(S.COMBINATOR, name),
                name,
                f"{where} fails its if/then/else conditional",
                wrap(lambda: F.when(~if_viol(), then_viol()).otherwise(else_viol())),
            )
        )

    if scalar_path is None:
        for prop, dep in spec.get("dependencies", {}).items():
            ppath = f"{prefix}{prop}"
            if isinstance(dep, (list, tuple)):
                for d in dep:
                    rs.add(R.required_with(f"{prefix}{d}", ppath))
            elif isinstance(dep, dict):
                viol = _branch_violation(
                    _subrules(dep, unsupported, prefix, parent, None)
                )
                name = f"{ppath}.dependencies"
                rs.add(
                    R.Rule(
                        S.rule_id(S.COMBINATOR, name),
                        name,
                        f"record fails the schema required when {ppath} is present",
                        lambda viol=viol, ppath=ppath: F.col(ppath).isNotNull()
                        & F.coalesce(viol(), F.lit(False)),
                    )
                )
            else:
                unsupported.append(f"{ppath}.dependencies:{dep!r}")
    elif "dependencies" in spec:
        unsupported.append(f"{where}.dependencies")


def _bounds(spec: dict) -> tuple:
    """(lo, lo_inclusive, hi, hi_inclusive) from min/max keywords.

    Draft-06 numeric ``exclusiveMinimum``/``exclusiveMaximum`` are bounds
    in their own right; when BOTH forms appear (legal) the stricter wins —
    x<m (inclusive min m) is implied by x<=e (exclusive min e) when e>=m.
    Draft-04 BOOLEAN exclusives are modifiers on minimum/maximum instead:
    ``{minimum: 5, exclusiveMinimum: true}`` means x>5 (bool must be
    checked FIRST — bool is an int subclass, and comparing it numerically
    mis-compiled the bound as inclusive-5 or even lo=True)."""
    lo, lo_inc = None, True
    ex_min = spec.get("exclusiveMinimum")
    if isinstance(ex_min, bool):  # draft-04 form
        if "minimum" in spec:
            lo, lo_inc = spec["minimum"], not ex_min
    elif ex_min is not None and (
        "minimum" not in spec or ex_min >= spec["minimum"]
    ):
        lo, lo_inc = ex_min, False
    elif "minimum" in spec:
        lo, lo_inc = spec["minimum"], True

    hi, hi_inc = None, True
    ex_max = spec.get("exclusiveMaximum")
    if isinstance(ex_max, bool):
        if "maximum" in spec:
            hi, hi_inc = spec["maximum"], not ex_max
    elif ex_max is not None and (
        "maximum" not in spec or ex_max <= spec["maximum"]
    ):
        hi, hi_inc = ex_max, False
    elif "maximum" in spec:
        hi, hi_inc = spec["maximum"], True
    return lo, lo_inc, hi, hi_inc


def _keyword_checks(
    spec: dict,
    where: str,
    unsupported: list[str],
    typed: bool = False,
    own: Sequence[str] = (),
) -> list:
    """THE keyword table: the ``R.Check`` of every scalar keyword in
    ``spec``, in spec order, then the bounds (``_bounds``) and
    ``minItems``/``maxItems`` as one check each. Every position compiles
    its scalar keywords here and nowhere else.

    ``type`` is a check only where it discriminates (``typed``: inside
    combinator branches and at array entries); elsewhere it is
    structural. ``items`` is a table keyword in its enum form only.
    Keywords in ``own`` are the position's to compile; any other keyword
    outside the table is reported as ``<where>.<kw>``."""
    checks = []
    for kw, val in spec.items():
        if kw == "enum":
            checks.append(R.enum_check(val))
        elif kw == "const":
            checks.append(R.const_check(val))
        elif kw == "pattern":
            checks.append(R.pattern_check(val))
        elif kw == "format" and val == "uuid":
            checks.append(R.pattern_check(S.UUID_RE))
        elif kw == "minLength":
            # faithful draft-06 semantics: raw length, no trimming
            checks.append(R.min_length_check(int(val)))
        elif kw == "maxLength":
            checks.append(R.max_length_check(int(val)))
        elif (kw == "multipleOf" and isinstance(val, int)
              and not isinstance(val, bool) and val > 0):
            checks.append(R.multiple_of_check(val))
        elif kw == "uniqueItems":
            if val:
                checks.append(R.unique_items_check())
        elif kw == "items" and isinstance(val, dict) and set(val) <= {"enum", "type"}:
            if "enum" in val:
                checks.append(R.elements_in_check(val["enum"]))
        elif kw == "contains" and isinstance(val, dict):
            sat, desc = _entry_sat(val, f"{where}.contains", unsupported)
            checks.append(R.contains_check(sat, desc))
        elif kw == "type":
            tl = _check_type_names(val, where, unsupported) if typed else None
            if tl is not None:
                checks.append(_type_check(tl))
        elif kw in ("format", "multipleOf", "contains"):
            unsupported.append(f"{where}.{kw}:{val!r}")
        elif kw in ("minItems", "maxItems", *_BOUND_KEYS, *_ANNOTATIONS, *own):
            pass  # sizes and bounds below; annotations; the position's own
        else:
            unsupported.append(f"{where}.{kw}")
    lo, lo_inc, hi, hi_inc = _bounds(spec)
    if lo is not None or hi is not None:
        checks.append(R.range_check(lo, hi, lo_inc, hi_inc))
    if "minItems" in spec or "maxItems" in spec:
        checks.append(R.size_check(spec.get("minItems"), spec.get("maxItems")))
    return checks


def _entry_sat(spec: dict, where: str, unsupported: list[str]):
    """Deferred per-ENTRY satisfaction predicate ``x -> Column`` for a
    scalar subschema, and its description. Entries are ``contains``
    candidates, tuple positions, ``additionalItems`` tails and property
    names; NULL is a JSON null there (``R.entry_violation``), exactly as
    jsonschema treats it: type-specific keywords are vacuous on it,
    enum/const/type fail on it unless null is allowed."""
    checks = _keyword_checks(spec, where, unsupported, typed=True)

    def sat(x):
        out = F.lit(True)
        for c in checks:
            out = out & ~R.entry_violation(x, c)
        return out

    desc = ", ".join(
        f"{k}={spec[k]!r}" for k in sorted(spec) if k not in ("type", *_ANNOTATIONS)
    ) or "any element"
    return sat, desc


def _compile_tuple_items(
    rs: "R.RuleSet",
    unsupported: list[str],
    col: str,
    specs: list,
    additional,
) -> None:
    """Draft-06 tuple validation: ``items`` as a LIST of positional
    subschemas plus ``additionalItems`` (false = length cap; schema =
    constraint on the tail). Compiles to positional ``get()`` checks and
    one ``exists`` over the tail slice — all inside the same projection,
    no explode. A position is only checked when the array is long enough
    (jsonschema: shorter arrays are vacuously valid per position)."""
    sats = []
    for i, s in enumerate(specs):
        if not isinstance(s, dict):
            unsupported.append(f"{col}.items[{i}]")
            sats.append(None)
            continue
        sat, _ = _entry_sat(s, f"{col}.items[{i}]", unsupported)
        sats.append(sat)
    n = len(specs)

    def pred():
        c = F.col(col)
        out = F.lit(False)
        for i, sat in enumerate(sats):
            if sat is None:
                continue
            # F.get is always null-on-out-of-bounds (ANSI-safe); the size
            # guard decides presence, the sat fragments decide null entries
            out = out | (
                (F.size(c) > i) & ~F.coalesce(sat(F.get(c, i)), F.lit(False))
            )
        return c.isNotNull() & out

    rs.add(
        R.Rule(
            S.rule_id(S.BAD_SHAPE, f"{col}.items"),
            f"{col}.items",
            f"{col} has tuple position(s) violating their item schemas",
            pred,
        )
    )

    if additional is False:
        rs.add(
            R.Rule(
                S.rule_id(S.BAD_SHAPE, f"{col}.additionalItems"),
                f"{col}.additionalItems",
                f"{col} longer than its {n} tuple positions (additionalItems: false)",
                lambda: F.col(col).isNotNull() & (F.size(F.col(col)) > n),
            )
        )
    elif isinstance(additional, dict):
        sat, desc = _entry_sat(additional, f"{col}.additionalItems", unsupported)
        rs.add(
            R.Rule(
                S.rule_id(S.BAD_SHAPE, f"{col}.additionalItems"),
                f"{col}.additionalItems",
                f"{col} has tail element(s) beyond position {n} violating: {desc}",
                lambda: F.col(col).isNotNull()
                & F.exists(
                    F.slice(
                        F.col(col),
                        F.lit(n + 1),
                        F.greatest(F.size(F.col(col)) - n, F.lit(0)),
                    ),
                    lambda e: ~F.coalesce(sat(e), F.lit(False)),
                ),
            )
        )
    elif additional not in (None, True):
        unsupported.append(f"{col}.additionalItems:{additional!r}")


def _compile_scalar(
    rs: "R.RuleSet",
    unsupported: list[str],
    path: str,
    spec: dict,
    in_branch: bool = False,
) -> None:
    """Rules for one non-object property at dotted path ``path``: one
    column rule per table check, plus ``items`` as a list (tuple
    validation) or an object schema, plus the combinators.

    ``in_branch=True`` (combinator branch compilation) additionally
    compiles ``type`` — see ``_subrules`` for why branches need it and
    the main path doesn't."""
    items = spec.get("items")
    # draft-06: additionalItems only means something next to tuple items;
    # otherwise it is DEFINED to be ignored — not a silent drop
    own = ("additionalItems", *_COMBINATOR_KEYS)
    if isinstance(items, list):
        _compile_tuple_items(rs, unsupported, path, items, spec.get("additionalItems"))
        own += ("items",)
    elif _object_items(items):
        _compile_items(rs, unsupported, path, items)
        own += ("items",)
    for c in _keyword_checks(spec, path, unsupported, typed=in_branch, own=own):
        rs.add(R.column_rule(path, c))
    if any(k in spec for k in _COMBINATOR_KEYS):
        _compile_combinators(rs, unsupported, spec, "", None, scalar_path=path)


def _object_items(items) -> bool:
    """``items`` is an object schema with something to compile per element."""
    return (
        isinstance(items, dict)
        and items.get("type") == "object"
        and ("properties" in items or "required" in items
             or any(k in items for k in _ELEMENT_COMBINATORS))
    )


# object-level keywords _compile_object consumes (or legitimately treats
# as structural/annotation). Anything else is reported in ``unsupported``
# — never silently dropped.
_OBJECT_KEYS = (
    "type",
    "properties",
    "required",
    "additionalProperties",  # enforced by the strict read schema (P7)
    "definitions",  # inert after resolve_refs() inlining
    "patternProperties",
    "propertyNames",
    "minProperties",
    "maxProperties",
    *_COMBINATOR_KEYS,
    *_ANNOTATIONS,
)


def _compile_object(
    rs: "R.RuleSet",
    unsupported: list[str],
    schema: dict,
    prefix: str,
    parent: str | None,
    in_branch: bool = False,
) -> None:
    """Recurse an object schema: dotted-path rules for nested properties.

    The reference walks the FULL instance per record (mds/schemas.py
    ≈L150-220 via jsonschema) — nested GeoJSON specs included. Catalyst
    struct-field access makes the nested restatement free: a rule on
    ``event_location.geometry.type`` prunes and codegens exactly like a
    top-level column. Nested ``required`` is guarded on the enclosing
    object being present (jsonschema only evaluates subschemas against
    instances that HAVE the property).

    ``patternProperties`` / ``propertyNames`` / ``minProperties`` /
    ``maxProperties`` compile against the DECLARED property-name universe:
    under the engine's strict read schema the struct fields are exactly
    the declared properties, so name-keyed keywords resolve statically
    (``patternProperties`` patterns with Python ``re`` at compile time,
    ``propertyNames`` as table checks on name literals that Catalyst
    folds) and only the per-row presence (non-null) is decided at
    runtime."""
    props: dict = schema.get("properties", {})
    required = schema.get("required", [])
    where = prefix.rstrip(".") or "$"

    for kw in schema:
        if kw not in _OBJECT_KEYS:
            unsupported.append(f"{where}.{kw}")

    if any(k in schema for k in _COMBINATOR_KEYS):
        _compile_combinators(rs, unsupported, schema, prefix, parent)

    for name in required:
        path = f"{prefix}{name}"
        rs.add(R.not_null(path) if parent is None else R.nested_required(path, parent))

    # name-keyed keywords against the static declared-name universe
    pat_props = schema.get("patternProperties")
    if isinstance(pat_props, dict):
        if not props:
            unsupported.append(f"{where}.patternProperties")
        else:
            for pat, subspec in pat_props.items():
                if not isinstance(subspec, dict):
                    unsupported.append(f"{where}.patternProperties:{pat}")
                    continue
                for name in props:
                    if re.search(pat, name) is None:
                        continue
                    path = f"{prefix}{name}"
                    # applies IN ADDITION to the properties subschema
                    if subspec.get("type") == "object":
                        _compile_object(
                            rs, unsupported, subspec,
                            prefix=f"{path}.", parent=path, in_branch=in_branch,
                        )
                    else:
                        _compile_scalar(
                            rs, unsupported, path, subspec, in_branch=in_branch
                        )
    elif pat_props is not None:
        unsupported.append(f"{where}.patternProperties")

    pn = schema.get("propertyNames")
    if isinstance(pn, dict):
        if not props:
            unsupported.append(f"{where}.propertyNames")
        # names are static under the strict read schema: each declared
        # name is a literal entry, so Catalyst folds the check to a
        # constant and only the property's presence is decided per row
        name_sat, _ = _entry_sat(pn, f"{where}.propertyNames", unsupported)
        for name in props:
            path = f"{prefix}{name}"
            rs.add(
                R.Rule(
                    S.rule_id(S.BAD_FORMAT, path),
                    path,
                    f"property name {name!r} violates propertyNames schema",
                    lambda path=path, name=name: F.col(path).isNotNull()
                    & ~name_sat(F.lit(name)),
                )
            )
    elif pn is not None and pn is not True:
        unsupported.append(f"{where}.propertyNames")

    if "minProperties" in schema or "maxProperties" in schema:
        if not props:
            # report exactly the keyword(s) actually present — naming a
            # keyword the schema doesn't contain sends the author hunting
            for kw in ("minProperties", "maxProperties"):
                if kw in schema:
                    unsupported.append(f"{where}.{kw}")
        else:
            lo = schema.get("minProperties")
            hi = schema.get("maxProperties")
            paths = [f"{prefix}{n}" for n in props]

            def n_present():
                out = F.lit(0)
                for p in paths:
                    out = out + F.col(p).isNotNull().cast("int")
                return out

            def pred(lo=lo, hi=hi):
                cond = F.lit(False)
                if lo is not None:
                    cond = cond | (n_present() < int(lo))
                if hi is not None:
                    cond = cond | (n_present() > int(hi))
                if parent is not None:
                    cond = F.col(parent).isNotNull() & cond
                return cond

            rs.add(
                R.Rule(
                    S.rule_id(S.BAD_SHAPE, f"{where}.properties"),
                    f"{where}.properties",
                    f"{where} present-property count outside [{lo},{hi}]",
                    pred,
                )
            )

    for name, spec in props.items():
        path = f"{prefix}{name}"
        if not isinstance(spec, dict):
            unsupported.append(path)
            continue
        if spec.get("type") == "object":
            # recurse — the object-level keyword sweep and every
            # name-keyed keyword are handled inside the recursion
            _compile_object(
                rs, unsupported, spec,
                prefix=f"{path}.", parent=path, in_branch=in_branch,
            )
            continue
        _compile_scalar(rs, unsupported, path, spec, in_branch=in_branch)


def _element_branch_violation(obj_spec: dict, fpath: tuple, where: str,
                              unsupported: list[str]):
    """Per-ELEMENT branch violation for combinators inside an ``items``
    object schema (e.g. GeoJSON's oneOf over geometry types): returns a
    deferred x -> Column that is True iff array element ``x`` violates
    ``obj_spec`` (fields addressed relative to the element via
    ``fpath``). Mirrors jsonschema: a field absent on the element is
    only a violation under ``required``. Nested combinators at the
    branch root (allOf/anyOf/oneOf/not) recurse; any other branch-root
    keyword is reported unsupported — never silently dropped."""
    makers = []  # list of deferred (x -> Column) violation fragments

    # nested combinators inside the branch recurse on the SAME element
    for kind in _ELEMENT_COMBINATORS:
        if kind not in obj_spec:
            continue
        branches = [obj_spec["not"]] if kind == "not" else obj_spec[kind]
        subs = [
            _element_branch_violation(s, fpath, f"{where}.{kind}", unsupported)
            for s in branches
        ]
        makers.append(_combinator_fold(kind, subs))
    # branch-root ``type``: discriminating inside combinators (same fix
    # as _subrules) — the instance is the element (or its sub-struct),
    # present whenever the branch is evaluated
    if "type" in obj_spec:
        tl = _check_type_names(obj_spec["type"], where, unsupported)
        if tl is not None:
            makers.append(lambda x, c=_type_check(tl):
                          R.present_violation(R._epath(x, fpath), c))
    for kw in obj_spec:
        if kw not in _ELEMENT_OBJECT_KEYS:
            unsupported.append(f"{where}.{kw}")

    for f in obj_spec.get("required", []):
        makers.append(lambda x, fp=fpath + (f,): R._epath(x, fp).isNull())
    for f, fs in obj_spec.get("properties", {}).items():
        fp = fpath + (f,)
        if not isinstance(fs, dict):
            unsupported.append(f"{where}.{f}")
            continue
        if fs.get("type") == "object":
            inner = _element_branch_violation(fs, fp, f"{where}.{f}", unsupported)
            makers.append(lambda x, fp=fp, inner=inner:
                          R._epath(x, fp).isNotNull() & inner(x))
            continue
        # a field keyword is evaluated only when the field is present
        for c in _keyword_checks(fs, f"{where}.{f}", unsupported, typed=True):
            makers.append(lambda x, fp=fp, c=c: R.present_violation(R._epath(x, fp), c))

    def viol(x):
        out = F.lit(False)
        for m in makers:
            out = out | F.coalesce(m(x), F.lit(False))
        return out

    return viol


def _compile_items(
    rs: "R.RuleSet", unsupported: list[str], col: str, items_spec: dict
) -> None:
    """``items`` with an object schema (array<struct>): compile the
    element-level keyword subset as ONE ``exists``/``forall`` loop per
    rule over the array column — no explode, no shuffle. Field paths may
    nest (e.g. route.features[].geometry.type)."""

    def elem_guard(x, fpath: tuple):
        return R._epath(x, fpath).isNotNull() if fpath else x.isNotNull()

    def add_elem_combinators(obj_spec: dict, fpath: tuple) -> None:
        """Combinators INSIDE the element schema (e.g. GeoJSON's oneOf
        over geometry types): one exists-loop rule per combinator, fused
        into the same projection — a row fires when ANY element violates
        the construct."""
        base = R._edotted(col, fpath) if fpath else f"{col}[]"
        for kw in ("anyOf", "oneOf", "not"):
            if kw not in obj_spec:
                continue
            branches = (
                [obj_spec["not"]] if kw == "not" else obj_spec[kw]
            )
            viols = [
                _element_branch_violation(b, fpath, f"{base}.{kw}", unsupported)
                for b in branches
            ]
            name = f"{base}.{kw}"
            bad = _combinator_fold(kw, viols)
            msg = {
                "anyOf": f"{base} has element(s) matching none of {len(viols)} anyOf branches",
                "oneOf": f"{base} has element(s) not matching exactly one of {len(viols)} oneOf branches",
                "not": f"{base} has element(s) matching a forbidden (not) schema",
            }[kw]

            def pred(bad=bad, fpath=fpath):
                return _nn_items(
                    F.exists(
                        F.col(col), lambda x: elem_guard(x, fpath) & bad(x)
                    )
                )

            rs.add(R.Rule(S.rule_id(S.COMBINATOR, name), name, msg, pred))
        for kw in ("dependencies", "if", "then", "else"):
            if kw in obj_spec:
                unsupported.append(f"{base}.{kw}")

    def _nn_items(c):
        return F.col(col).isNotNull() & F.coalesce(c, F.lit(False))

    def walk(obj_spec: dict, fpath: tuple, parent_fpath: tuple | None) -> None:
        for branch in obj_spec.get("allOf", []):
            walk(branch, fpath, parent_fpath)  # conjunction = rule union
        add_elem_combinators(obj_spec, fpath)
        for f in obj_spec.get("required", []):
            rs.add(R.element_required(col, fpath + (f,), parent_fpath))
        for f, fs in obj_spec.get("properties", {}).items():
            fp = fpath + (f,)
            dotted = R._edotted(col, fp)
            if not isinstance(fs, dict):
                unsupported.append(dotted)
                continue
            if fs.get("type") == "object":
                if _object_items(fs):
                    walk(fs, fp, fp)
                for kw in fs:
                    if kw not in _ELEMENT_OBJECT_KEYS:
                        unsupported.append(f"{dotted}.{kw}")
                continue
            for c in _keyword_checks(fs, dotted, unsupported, own=_ELEMENT_COMBINATORS):
                rs.add(R.element_rule(col, fp, c))
            if any(k in fs for k in _ELEMENT_COMBINATORS):
                add_field_combinators(fs, f, fp, dotted)

    def add_field_combinators(fs: dict, fname: str, fp: tuple, dotted: str) -> None:
        """Combinators on a scalar FIELD of an array element (e.g.
        features[].coords with anyOf of range branches). Branches are
        scalar specs for that field; jsonschema evaluates them only when
        the field is present on the element — guarded the same way.
        Reuses _element_branch_violation by wrapping each branch as
        {properties: {field: branch}}."""

        def field_viols(branches):
            return [
                _element_branch_violation(
                    {"properties": {fname: b}}, fp[:-1], dotted, unsupported
                )
                for b in branches
            ]

        for kw in ("anyOf", "oneOf", "not", "allOf"):
            if kw not in fs:
                continue
            branches = [fs["not"]] if kw == "not" else fs[kw]
            viols = field_viols(branches)
            name = f"{dotted}.{kw}"
            bad = _combinator_fold(kw, viols)
            msg = {
                "allOf": f"{dotted} has element field(s) violating an allOf branch",
                "anyOf": f"{dotted} has element field(s) matching none of {len(viols)} anyOf branches",
                "oneOf": f"{dotted} has element field(s) not matching exactly one of {len(viols)} oneOf branches",
                "not": f"{dotted} has element field(s) matching a forbidden (not) schema",
            }[kw]

            def pred(bad=bad, fp=fp):
                return _nn_items(
                    F.exists(
                        F.col(col),
                        lambda x: R._epath(x, fp).isNotNull() & bad(x),
                    )
                )

            rs.add(R.Rule(S.rule_id(S.COMBINATOR, name), name, msg, pred))

    walk(items_spec, (), None)


# dict-valued keywords whose VALUES are name->schema maps (keys are data,
# not schemas — a property literally named "$ref" must not be resolved)
_SCHEMA_MAPS = ("properties", "patternProperties", "definitions")
# keywords whose values are instance data, copied verbatim
_DATA_KEYS = ("enum", "const", "default", "examples")


def resolve_refs(schema: dict, max_depth: int = 64) -> dict:
    """Inline internal JSON-Pointer references (``#/definitions/...`` and
    any other ``#/``-rooted pointer) so the rest of the compiler never
    sees ``$ref``. The raw MDS schema documents the reference fetches
    (mds/schemas.py ≈L30–90 — raw GitHub JSON) carry a ``definitions``
    section addressed this way.

    Draft-06 semantics, matching ``jsonschema.Draft6Validator``: a schema
    object containing ``$ref`` IS the referenced schema — sibling
    keywords are ignored. Cyclic references raise (a recursive schema has
    no bounded row-rule form — better loud than a silently-partial rule
    set), as do external (non-``#``) references and pointers with no
    target. ``enum``/``const``/``default``/``examples`` values are data
    and are copied verbatim, never dereferenced.
    """

    def deref(ptr: str):
        if not ptr.startswith("#"):
            raise ValueError(f"external $ref not resolvable: {ptr}")
        node = schema
        for tok in ptr[1:].split("/"):
            if not tok:
                continue
            tok = tok.replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                try:
                    node = node[int(tok)]
                except (ValueError, IndexError):
                    raise ValueError(f"$ref target not found: {ptr}") from None
            elif isinstance(node, dict) and tok in node:
                node = node[tok]
            else:
                raise ValueError(f"$ref target not found: {ptr}")
        return node

    def walk(node, active: frozenset, depth: int, is_schema: bool):
        # ``depth`` counts $ref EXPANSIONS only (never plain tree
        # nesting): a deeply-nested but ref-free schema must not trip
        # the guard — it bounds chained expansions that the cycle set
        # cannot (a->b->c->... of distinct pointers).
        if isinstance(node, dict):
            if is_schema and isinstance(node.get("$ref"), str):
                ptr = node["$ref"]
                if ptr in active:
                    raise ValueError(f"cyclic $ref: {ptr}")
                if depth >= max_depth:
                    raise ValueError(
                        f"$ref expansion exceeds depth {max_depth}: {ptr}")
                return walk(deref(ptr), active | {ptr}, depth + 1, True)
            out = {}
            for k, v in node.items():
                if is_schema and k in _SCHEMA_MAPS and isinstance(v, dict):
                    out[k] = {
                        pk: walk(pv, active, depth, True)
                        for pk, pv in v.items()
                    }
                elif is_schema and k == "dependencies" and isinstance(v, dict):
                    out[k] = {
                        pk: (
                            walk(pv, active, depth, True)
                            if isinstance(pv, dict)
                            else pv
                        )
                        for pk, pv in v.items()
                    }
                elif is_schema and k in _DATA_KEYS:
                    out[k] = v  # data, not schema
                else:
                    out[k] = walk(v, active, depth, is_schema)
            return out
        if isinstance(node, list):
            return [walk(v, active, depth, is_schema) for v in node]
        return node

    return walk(schema, frozenset(), 0, True)


def from_json_schema(
    schema: dict,
    key_col: str,
    part_col: str = "part_id",
    unique: Sequence[str] | None = None,
    strict: bool = True,
) -> tuple[R.RuleSet, list[str]]:
    """Compile an object schema (nested objects and object-arrays
    included) into a RuleSet. Internal ``$ref``s are inlined first
    (``resolve_refs``), so RAW fetched MDS schema documents — which carry
    ``definitions`` + ``#/definitions/...`` pointers — compile unmodified.

    Returns (ruleset, unsupported) where ``unsupported`` lists keyword
    paths that have no row-level Catalyst mapping. ``strict=True`` raises
    on unsupported keywords instead.
    """
    if schema.get("type") not in (None, "object"):
        raise ValueError("top-level schema must be an object schema")

    schema = resolve_refs(schema)
    rs = R.RuleSet(key_col=key_col, part_col=part_col)
    unsupported: list[str] = []
    _compile_object(rs, unsupported, schema, prefix="", parent=None)

    for cols in unique or []:
        rs.add(R.unique_key(cols))

    if strict and unsupported:
        raise ValueError(f"unsupported JSON-Schema keywords: {unsupported}")
    return rs, unsupported
