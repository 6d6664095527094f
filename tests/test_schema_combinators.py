"""Combinator compilation (anyOf/oneOf/allOf/not/dependencies/if-then-else),
differentially tested against the reference mechanism itself —
``jsonschema.Draft6Validator`` (Draft7 for if/then/else) deciding record
validity. The conditional patterns here are the ones the real MDS 0.4
provider schemas use: event_type gates event_type_reason (oneOf over
const+enum branches), associated_trip is required for user pick-up /
drop-off events (anyOf with a ``not`` arm). mds-provider walks exactly
these via jsonschema (mds/schemas.py ≈L30–90, ≈L170–220)."""

import json

import jsonschema
import pytest

from mds_provider_spark.schema_compiler import from_json_schema

# The real MDS status_changes conditional, reconstructed: each event_type
# allows only its own reasons, and user_pick_up/user_drop_off require an
# associated_trip.
EVENT_SCHEMA = {
    "type": "object",
    "required": ["event_type"],
    "properties": {
        "event_type": {"type": "string", "enum": ["available", "removed", "reserved"]},
        "event_type_reason": {"type": "string"},
        "associated_trip": {"type": "string"},
        "battery_pct": {"type": "number"},
    },
    "oneOf": [
        {
            "properties": {
                "event_type": {"const": "available"},
                "event_type_reason": {
                    "enum": ["service_start", "user_drop_off", "rebalance_drop_off"]
                },
            }
        },
        {
            "properties": {
                "event_type": {"const": "removed"},
                "event_type_reason": {"enum": ["service_end", "decommissioned"]},
            }
        },
        {
            "properties": {
                "event_type": {"const": "reserved"},
                "event_type_reason": {"enum": ["user_pick_up"]},
            }
        },
    ],
    "anyOf": [
        {
            "not": {
                "properties": {
                    "event_type_reason": {"enum": ["user_pick_up", "user_drop_off"]}
                }
            }
        },
        {"required": ["associated_trip"]},
    ],
    "dependencies": {"battery_pct": ["event_type_reason"]},
}

EVENT_DDL = (
    "clip_id string, event_type string, event_type_reason string, "
    "associated_trip string, battery_pct double"
)

EVENT_ROWS = [
    # (key, event_type, reason, associated_trip, battery_pct)
    ("ok-avail", "available", "service_start", None, None),
    ("ok-removed", "removed", "decommissioned", None, 0.4),
    ("ok-trip", "reserved", "user_pick_up", "trip-1", None),
    ("ok-dropoff", "available", "user_drop_off", "trip-2", 0.9),
    ("bad-cross-reason", "available", "service_end", None, None),  # reason of 'removed'
    ("bad-missing-trip", "reserved", "user_pick_up", None, None),  # anyOf fails
    ("bad-dropoff-no-trip", "available", "user_drop_off", None, None),
    ("bad-dep", "removed", None, None, 0.2),  # battery_pct without reason
    ("bad-no-type", None, "service_start", None, None),  # required + oneOf ambiguous
]


def _record(row):
    keys = ["event_type", "event_type_reason", "associated_trip", "battery_pct"]
    return {k: v for k, v in zip(keys, row[1:]) if v is not None}


def _ref_valid(schema, record, draft=jsonschema.Draft6Validator):
    return draft(schema, format_checker=jsonschema.FormatChecker()).is_valid(record)


def _spark_invalid_keys(spark, schema, rows, ddl, strict=True):
    import pyspark.sql.functions as F

    rs, unsupported = from_json_schema(schema, key_col="clip_id")
    if strict:
        assert unsupported == [], unsupported
    df = spark.createDataFrame(rows, ddl).withColumn("part_id", F.lit(0))
    return {r.clip_id for r in rs.violations(df).collect()}, rs


def test_mds_conditional_pattern_matches_jsonschema(spark):
    got, rs = _spark_invalid_keys(spark, EVENT_SCHEMA, EVENT_ROWS, EVENT_DDL)
    expect = {
        row[0] for row in EVENT_ROWS if not _ref_valid(EVENT_SCHEMA, _record(row))
    }
    assert got == expect
    assert expect == {
        "bad-cross-reason",
        "bad-missing-trip",
        "bad-dropoff-no-trip",
        "bad-dep",
        "bad-no-type",
    }


def test_combinator_rule_ids_are_stable(spark):
    import pyspark.sql.functions as F

    rs, _ = from_json_schema(EVENT_SCHEMA, key_col="clip_id")
    df = spark.createDataFrame(EVENT_ROWS, EVENT_DDL).withColumn("part_id", F.lit(0))
    by_key = {}
    for r in rs.violations(df).collect():
        by_key.setdefault(r.clip_id, set()).add(r.rule_id)
    assert by_key["bad-cross-reason"] == {"combinator:$.oneOf"}
    assert by_key["bad-missing-trip"] == {"combinator:$.anyOf"}
    # dependencies fires; the anyOf also fails (reason absent makes the
    # `not` arm fail and there is no associated_trip) — jsonschema agrees
    assert by_key["bad-dep"] == {
        "missing_field:event_type_reason",
        "combinator:$.anyOf",
    }
    assert "missing_field:event_type" in by_key["bad-no-type"]


def test_property_level_anyof_and_not(spark):
    schema = {
        "type": "object",
        "properties": {
            "x": {"anyOf": [{"minimum": 100}, {"const": 0}]},
            "y": {"not": {"enum": ["forbidden"]}},
        },
    }
    rows = [
        ("ok-high", 150.0, "fine"),
        ("ok-zero", 0.0, None),
        ("ok-null", None, None),  # absent property: combinator not evaluated
        ("bad-mid", 50.0, None),
        ("bad-forbidden", None, "forbidden"),
    ]
    ddl = "clip_id string, x double, y string"
    got, _ = _spark_invalid_keys(spark, schema, rows, ddl)
    expect = {
        r[0]
        for r in rows
        if not _ref_valid(
            schema, {k: v for k, v in zip(["x", "y"], r[1:]) if v is not None}
        )
    }
    assert got == expect == {"bad-mid", "bad-forbidden"}


def test_allof_is_rule_union(spark):
    schema = {
        "type": "object",
        "allOf": [
            {"required": ["a"], "properties": {"a": {"minimum": 0}}},
            {"properties": {"a": {"maximum": 10}}},
        ],
    }
    rows = [("ok", 5.0), ("bad-low", -1.0), ("bad-high", 11.0), ("bad-missing", None)]
    got, rs = _spark_invalid_keys(spark, schema, rows, "clip_id string, a double")
    assert got == {"bad-low", "bad-high", "bad-missing"}
    # union semantics: the branch rules keep their own precise rule ids
    ids = {r.rule_id for r in rs.rules}
    assert "missing_field:a" in ids and "out_of_range:a" in ids


def test_schema_form_dependencies(spark):
    schema = {
        "type": "object",
        "properties": {"p": {"type": "string"}, "q": {"type": "number"}},
        "dependencies": {"p": {"required": ["q"], "properties": {"q": {"minimum": 1}}}},
    }
    rows = [("ok-no-p", None, None), ("ok-both", "v", 2.0),
            ("bad-missing-q", "v", None), ("bad-low-q", "v", 0.0)]
    got, _ = _spark_invalid_keys(spark, schema, rows, "clip_id string, p string, q double")
    expect = {
        r[0]
        for r in rows
        if not _ref_valid(
            schema, {k: v for k, v in zip(["p", "q"], r[1:]) if v is not None}
        )
    }
    assert got == expect == {"bad-missing-q", "bad-low-q"}


def test_if_then_else_draft7(spark):
    schema = {
        "type": "object",
        "properties": {"kind": {"type": "string"}, "n": {"type": "number"}},
        "if": {"properties": {"kind": {"const": "big"}}, "required": ["kind"]},
        "then": {"properties": {"n": {"minimum": 100}}},
        "else": {"properties": {"n": {"maximum": 10}}},
    }
    rows = [("ok-big", "big", 500.0), ("ok-small", "small", 5.0),
            ("bad-big", "big", 5.0), ("bad-small", "small", 500.0)]
    got, _ = _spark_invalid_keys(
        spark, schema, rows, "clip_id string, kind string, n double"
    )
    expect = {
        r[0]
        for r in rows
        if not _ref_valid(
            schema,
            {k: v for k, v in zip(["kind", "n"], r[1:]) if v is not None},
            draft=jsonschema.Draft7Validator,
        )
    }
    assert got == expect == {"bad-big", "bad-small"}


def test_nested_object_combinator_guarded_on_parent(spark):
    """A combinator inside a nested-object property only fires when the
    enclosing object is present (jsonschema subschema scope)."""
    schema = {
        "type": "object",
        "properties": {
            "loc": {
                "type": "object",
                "anyOf": [{"required": ["lat"]}, {"required": ["name"]}],
            }
        },
    }
    rows = [
        ("ok-absent", None),
        ("ok-lat", (1.0, None)),
        ("ok-name", (None, "pier")),
        ("bad-empty", (None, None)),
    ]
    ddl = "clip_id string, loc struct<lat: double, name: string>"
    got, _ = _spark_invalid_keys(spark, schema, rows, ddl)
    assert got == {"bad-empty"}


def test_combinators_compile_without_active_session():
    """RuleSets must compile with NO SparkSession (driver-side config
    time) — all Column construction stays inside deferred predicates
    (round-4 ADVICE: element enums used to build literals eagerly)."""
    import subprocess
    import sys

    code = (
        "from mds_provider_spark.schema_compiler import from_json_schema\n"
        "import json\n"
        f"schema = json.loads({json.dumps(EVENT_SCHEMA)!r})\n"
        "rs, unsup = from_json_schema(schema, key_col='clip_id')\n"
        "assert unsup == [] and len(rs.rules) > 3\n"
        "schema2 = {'type': 'object', 'properties': {'a': {'type': 'array',"
        " 'items': {'enum': ['x', 'y']}}}}\n"
        "rs2, _ = from_json_schema(schema2, key_col='clip_id')\n"
        "print('OK-NO-SESSION')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0 and "OK-NO-SESSION" in out.stdout, out.stderr


def test_combinator_rules_stay_single_codegen_projection(spark):
    """Combinators must fuse into the SAME one-projection pass as every
    other rule: no extra scan, no Python, whole-stage codegen."""
    import pyspark.sql.functions as F

    rs, _ = from_json_schema(EVENT_SCHEMA, key_col="clip_id")
    df = spark.createDataFrame(EVENT_ROWS, EVENT_DDL).withColumn("part_id", F.lit(0))
    plan = rs.violations(df)._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan
    assert "EvalPython" not in plan
    # one source scan only: every rule (combinators included) reads the
    # same projection — no re-scan per combinator
    assert plan.count("LogicalRDD") <= 1 and plan.count("Scan ") <= 1, plan


def test_contains_keyword_matches_jsonschema(spark):
    """draft-06 ``contains``: array must have >=1 element matching the
    subschema; absent array is valid (presence is ``required``'s job)."""
    schema = {
        "type": "object",
        "properties": {
            "tags": {
                "type": "array",
                "items": {"type": "string"},
                "contains": {"enum": ["electric", "human"]},
            },
            "scores": {"type": "array", "contains": {"minimum": 90}},
        },
    }
    rows = [
        ("ok-tag", ["diesel", "electric"], [10.0]),          # scores has no >=90 -> bad? wait
        ("ok-both", ["human"], [95.0, 1.0]),
        ("ok-absent", None, None),
        ("bad-tags", ["diesel", "steam"], [99.0]),
        ("bad-scores", ["electric"], [1.0, 89.0]),
        ("bad-empty", [], [100.0]),                          # empty array: contains fails
    ]
    ddl = "clip_id string, tags array<string>, scores array<double>"
    got, _ = _spark_invalid_keys(spark, schema, rows, ddl)
    expect = {
        r[0]
        for r in rows
        if not _ref_valid(
            schema,
            {k: v for k, v in zip(["tags", "scores"], r[1:]) if v is not None},
        )
    }
    assert got == expect


def test_element_level_oneof_geojson_geometry(spark):
    """Combinators INSIDE an items object schema — the real GeoJSON
    pattern: a feature's geometry must match exactly one of the Point /
    LineString alternatives. Differential vs jsonschema per record."""
    schema = {
        "type": "object",
        "properties": {
            "features": {
                "type": "array",
                "items": {
                    "type": "object",
                    "required": ["geometry"],
                    "properties": {
                        "geometry": {
                            "type": "object",
                            "oneOf": [
                                {
                                    "properties": {
                                        "type": {"const": "Point"},
                                        "coordinates": {"minItems": 2, "maxItems": 3},
                                    },
                                    "required": ["type", "coordinates"],
                                },
                                {
                                    "properties": {
                                        "type": {"const": "LineString"},
                                        "coordinates": {"minItems": 2},
                                    },
                                    "required": ["type", "coordinates"],
                                },
                            ],
                        }
                    },
                },
            }
        },
    }
    G = "struct<type: string, coordinates: array<double>>"
    ddl = f"clip_id string, features array<struct<geometry: {G}>>"
    rows = [
        ("ok-point", [(("Point", [1.0, 2.0]),)]),
        ("ok-line", [(("LineString", [1.0, 2.0, 3.0]),)]),
        ("bad-kind", [(("Polygon", [1.0, 2.0]),)]),          # matches neither
        ("bad-short-point", [(("Point", [1.0, 2.0, 3.0, 4.0]),)]),  # >3 coords
        ("bad-missing-geom", [((None, None),)]),              # hmm: struct present?
        ("ok-empty", []),
    ]
    got, rs = _spark_invalid_keys(spark, schema, rows, ddl, strict=True)

    def rec(row):
        feats = []
        for (geom,) in row[1]:
            f = {}
            if geom is not None and (geom[0] is not None or geom[1] is not None):
                g = {}
                if geom[0] is not None:
                    g["type"] = geom[0]
                if geom[1] is not None:
                    g["coordinates"] = list(geom[1])
                f["geometry"] = g
            feats.append(f)
        return {"features": feats}

    # NB: Spark structs are never NULL-vs-absent distinguishable once a
    # sibling field exists; the bad-missing-geom row maps to a feature
    # whose geometry is absent in the jsonschema instance.
    expect = set()
    for row in rows:
        r = rec(row)
        if not _ref_valid(schema, r):
            expect.add(row[0])
    assert got == expect, (got, expect)
    assert "bad-kind" in got and "bad-short-point" in got and "ok-point" not in got


def test_randomized_combinator_differential_vs_jsonschema(spark):
    """200 seeded-random schemas with combinators (oneOf/anyOf/not/
    allOf/dependencies over const/enum/range/required branches), 30
    records each: per-record VALIDITY must agree with
    jsonschema.Draft6Validator exactly. This is the semantic-drift
    tripwire for the combinator compiler."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(4242)
    props = ["a", "b", "c"]

    def rand_leaf(p):
        if p == "c":
            return rng.choice(
                [
                    {"const": rng.choice(["x", "y", "z"])},
                    {"enum": rng.sample(["x", "y", "z", "w"], rng.randint(1, 3))},
                    {"minLength": rng.randint(1, 2)},
                ]
            )
        return rng.choice(
            [
                {"const": float(rng.randint(0, 5))},
                {"enum": [float(v) for v in rng.sample(range(6), rng.randint(1, 3))]},
                {"minimum": float(rng.randint(0, 3))},
                {"maximum": float(rng.randint(2, 5))},
                {"minimum": float(rng.randint(0, 2)),
                 "exclusiveMaximum": float(rng.randint(3, 5))},
            ]
        )

    def rand_branch():
        branch = {}
        chosen = rng.sample(props, rng.randint(1, 2))
        branch["properties"] = {p: rand_leaf(p) for p in chosen}
        if rng.random() < 0.4:
            branch["required"] = [rng.choice(chosen)]
        return branch

    def rand_schema():
        schema = {"type": "object", "properties": {
            "a": {"type": "number"}, "b": {"type": "number"},
            "c": {"type": "string"},
        }}
        kind = rng.choice(["oneOf", "anyOf", "allOf", "not", "dependencies", "mix"])
        if kind in ("oneOf", "anyOf", "allOf"):
            schema[kind] = [rand_branch() for _ in range(rng.randint(2, 3))]
        elif kind == "not":
            schema["not"] = rand_branch()
        elif kind == "dependencies":
            trigger = rng.choice(props)
            if rng.random() < 0.5:
                schema["dependencies"] = {
                    trigger: rng.sample([p for p in props if p != trigger],
                                        rng.randint(1, 2))
                }
            else:
                schema["dependencies"] = {trigger: rand_branch()}
        else:
            schema["anyOf"] = [rand_branch(), rand_branch()]
            schema["not"] = rand_branch()
        if rng.random() < 0.3:
            schema["required"] = [rng.choice(props)]
        return schema

    def rand_record():
        rec = {}
        if rng.random() < 0.8:
            rec["a"] = float(rng.randint(0, 5))
        if rng.random() < 0.8:
            rec["b"] = float(rng.randint(0, 5))
        if rng.random() < 0.8:
            rec["c"] = rng.choice(["x", "y", "z", "w", ""])
        return rec

    mismatches = []
    for si in range(200):
        schema = rand_schema()
        records = [rand_record() for _ in range(30)]
        rows = [
            (f"r{i}", r.get("a"), r.get("b"), r.get("c"))
            for i, r in enumerate(records)
        ]
        rs, unsup = from_json_schema(schema, key_col="clip_id")
        assert unsup == [], (schema, unsup)
        df = spark.createDataFrame(
            rows, "clip_id string, a double, b double, c string"
        ).withColumn("part_id", F.lit(0))
        bad = {r.clip_id for r in rs.violations(df).select("clip_id").distinct().collect()}
        v = jsonschema.Draft6Validator(schema)
        for i, rec in enumerate(records):
            want_invalid = not v.is_valid(rec)
            got_invalid = f"r{i}" in bad
            if want_invalid != got_invalid:
                mismatches.append((si, schema, rec, want_invalid, got_invalid))
    assert not mismatches, mismatches[:3]


def test_element_branch_nested_combinators_and_unsupported(spark):
    """Nested combinators at an element-branch root recurse; any other
    branch-root keyword is REPORTED, never silently dropped."""
    schema = {
        "type": "object",
        "properties": {
            "items_": {
                "type": "array",
                "items": {
                    "type": "object",
                    "oneOf": [
                        {
                            "properties": {"t": {"const": "a"}},
                            "anyOf": [{"required": ["x"]}, {"required": ["y"]}],
                        },
                        {"properties": {"t": {"const": "b"}}},
                    ],
                },
            }
        },
    }
    E = "struct<t: string, x: double, y: double>"
    rows = [
        ("ok-a-x", [("a", 1.0, None)]),
        ("ok-a-y", [("a", None, 2.0)]),
        ("ok-b", [("b", None, None)]),
        ("bad-a-neither", [("a", None, None)]),  # branch 1 fails its anyOf
    ]
    got, _ = _spark_invalid_keys(
        spark, schema, rows, f"clip_id string, items_ array<{E}>"
    )

    def rec(row):
        out = []
        for t, x, y in row[1]:
            e = {}
            if t is not None:
                e["t"] = t
            if x is not None:
                e["x"] = x
            if y is not None:
                e["y"] = y
            out.append(e)
        return {"items_": out}

    expect = {r[0] for r in rows if not _ref_valid(schema, rec(r))}
    assert got == expect == {"bad-a-neither"}

    # unsupported branch-root keywords are reported in strict mode
    bad = {
        "type": "object",
        "properties": {
            "arr": {
                "type": "array",
                "items": {
                    "type": "object",
                    "oneOf": [{"properties": {"t": {}}, "minProperties": 1}],
                },
            }
        },
    }
    with pytest.raises(ValueError, match="minProperties"):
        from_json_schema(bad, key_col="clip_id")


def test_element_field_level_combinators(spark):
    """Combinators on a scalar FIELD of an array element: evaluated only
    when the field is present on the element; differential vs jsonschema."""
    schema = {
        "type": "object",
        "properties": {
            "pts": {
                "type": "array",
                "items": {
                    "type": "object",
                    "properties": {
                        "v": {"anyOf": [{"minimum": 100.0}, {"const": 0.0}]},
                        "tag": {"not": {"enum": ["banned"]}},
                        "m": {"oneOf": [{"minimum": 10.0}, {"maximum": 2.0}]},
                    },
                },
            }
        },
    }
    E = "struct<v: double, tag: string, m: double>"
    rows = [
        ("ok-high", [(150.0, "fine", 50.0)]),
        ("ok-zero", [(0.0, None, 1.0)]),
        ("ok-absent", [(None, None, None)]),
        ("bad-mid-v", [(50.0, None, None)]),
        ("bad-banned", [(None, "banned", None)]),
        ("bad-oneof-both", [(None, None, 1.5)]),  # hmm: 1.5 <=2 and not >=10 -> one branch -> ok!
        ("bad-oneof-neither", [(None, None, 5.0)]),
    ]
    got, _ = _spark_invalid_keys(
        spark, schema, rows, f"clip_id string, pts array<{E}>"
    )

    def rec(row):
        out = []
        for v, tag, m in row[1]:
            e = {}
            if v is not None:
                e["v"] = v
            if tag is not None:
                e["tag"] = tag
            if m is not None:
                e["m"] = m
            out.append(e)
        return {"pts": out}

    expect = {r[0] for r in rows if not _ref_valid(schema, rec(r))}
    assert got == expect
    assert {"bad-mid-v", "bad-banned", "bad-oneof-neither"} <= expect
    assert "ok-zero" not in expect and "ok-absent" not in expect


def test_randomized_array_contains_differential_vs_jsonschema(spark):
    """100 seeded-random schemas over an ARRAY property mixing contains /
    minItems / uniqueItems / items.enum with property-level combinators,
    then 40 over an array<struct> whose element fields carry minLength /
    maxLength / format / multipleOf / uniqueItems: per-record validity
    must agree with jsonschema exactly."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(777)

    def rand_schema():
        arr: dict = {"type": "array"}
        kind = rng.choice(["contains", "contains+size", "items-enum", "anyOf-arr"])
        if kind == "contains":
            arr["contains"] = rng.choice(
                [{"minimum": float(rng.randint(1, 4))},
                 {"enum": [float(v) for v in rng.sample(range(6), 2)]},
                 {"const": float(rng.randint(0, 5))}]
            )
        elif kind == "contains+size":
            arr["contains"] = {"minimum": float(rng.randint(1, 4))}
            arr["minItems"] = rng.randint(1, 2)
            if rng.random() < 0.5:
                arr["uniqueItems"] = True
        elif kind == "items-enum":
            arr["items"] = {"enum": [float(v) for v in rng.sample(range(6), 3)]}
            if rng.random() < 0.5:
                arr["maxItems"] = rng.randint(1, 3)
        else:
            arr["anyOf"] = [
                {"minItems": rng.randint(2, 3)},
                {"contains": {"minimum": 4.0}},
            ]
        return {"type": "object", "properties": {"xs": arr}}

    def rand_record():
        if rng.random() < 0.15:
            return {}
        n = rng.randint(0, 4)
        return {"xs": [float(rng.randint(0, 5)) for _ in range(n)]}

    mismatches = []
    for si in range(100):
        schema = rand_schema()
        records = [rand_record() for _ in range(30)]
        rows = [(f"r{i}", r.get("xs")) for i, r in enumerate(records)]
        rs, unsup = from_json_schema(schema, key_col="clip_id")
        assert unsup == [], (schema, unsup)
        df = spark.createDataFrame(
            rows, "clip_id string, xs array<double>"
        ).withColumn("part_id", F.lit(0))
        bad = {
            r.clip_id
            for r in rs.violations(df).select("clip_id").distinct().collect()
        }
        v = jsonschema.Draft6Validator(schema)
        for i, rec in enumerate(records):
            if (not v.is_valid(rec)) != (f"r{i}" in bad):
                mismatches.append((si, schema, rec, f"r{i}" in bad))

    # the same keyword table at array-element fields
    rng2 = random.Random(778)
    strings = ["", "a", "abcd", "0000000a-0000-4000-8000-00000000000a", "not-a-uuid"]

    def rand_field_schema():
        s_spec = rng2.choice([
            {"minLength": rng2.randint(1, 3)},
            {"maxLength": rng2.randint(1, 3)},
            {"minLength": 1, "maxLength": rng2.randint(2, 4)},
            {"format": "uuid"},
        ])
        props = {"s": {"type": "string", **s_spec}}
        if rng2.random() < 0.7:
            props["n"] = {"type": "integer", "multipleOf": rng2.randint(2, 3)}
        if rng2.random() < 0.7:
            props["t"] = {"type": "array", "uniqueItems": True}
        return {"type": "object", "properties": {"fs": {
            "type": "array", "items": {"type": "object", "properties": props}}}}

    def rand_element():
        e = {"s": rng2.choice(strings), "n": rng2.randint(0, 7),
             "t": [rng2.randint(0, 2) for _ in range(rng2.randint(0, 3))]}
        return {k: v for k, v in e.items() if rng2.random() < 0.8}

    for si in range(40):
        schema = rand_field_schema()
        records = [
            {} if rng2.random() < 0.15
            else {"fs": [rand_element() for _ in range(rng2.randint(0, 3))]}
            for _ in range(30)
        ]
        rows = [
            (f"r{i}", None if "fs" not in r else
             [(e.get("s"), e.get("n"), e.get("t")) for e in r["fs"]])
            for i, r in enumerate(records)
        ]
        rs, unsup = from_json_schema(schema, key_col="clip_id")
        assert unsup == [], (schema, unsup)
        df = spark.createDataFrame(
            rows, "clip_id string, fs array<struct<s: string, n: bigint, t: array<bigint>>>"
        ).withColumn("part_id", F.lit(0))
        bad = {
            r.clip_id
            for r in rs.violations(df).select("clip_id").distinct().collect()
        }
        for i, rec in enumerate(records):
            if (not _ref_valid(schema, rec)) != (f"r{i}" in bad):
                mismatches.append((si, schema, rec, f"r{i}" in bad))
    assert not mismatches, mismatches[:3]


def test_element_field_contains(spark):
    """`contains` on an ARRAY FIELD of array elements (features[].scores
    must contain a value >= 90): evaluated only when the field is
    present; differential vs jsonschema."""
    schema = {
        "type": "object",
        "properties": {
            "features": {
                "type": "array",
                "items": {
                    "type": "object",
                    "properties": {
                        "scores": {"type": "array", "contains": {"minimum": 90.0}}
                    },
                },
            }
        },
    }
    E = "struct<scores: array<double>>"
    rows = [
        ("ok-hit", [([10.0, 95.0],)]),
        ("ok-absent", [((None,))]),
        ("bad-low", [([10.0, 20.0],)]),
        ("bad-empty", [([],)]),
        ("bad-one-of-two", [([95.0],), ([1.0],)]),  # second element fails
    ]
    got, _ = _spark_invalid_keys(
        spark, schema, rows, f"clip_id string, features array<{E}>"
    )

    def rec(row):
        return {
            "features": [
                ({"scores": list(s[0])} if s[0] is not None else {}) for s in row[1]
            ]
        }

    expect = {r[0] for r in rows if not _ref_valid(schema, rec(r))}
    assert got == expect == {"bad-low", "bad-empty", "bad-one-of-two"}


def test_contains_null_entries_match_jsonschema(spark):
    """NULL array entries under `contains`: draft-06 type-specific
    keywords (minimum, pattern) are VACUOUS on null — an array of
    [null] SATISFIES contains:{minimum:90} — while enum/const fail on
    null. Differential vs jsonschema (review-pass regression)."""
    schema = {
        "type": "object",
        "properties": {
            "a": {"type": "array", "contains": {"minimum": 90.0}},
            "b": {"type": "array", "contains": {"enum": [1.0, 2.0]}},
        },
    }
    rows = [
        ("null-sats-min", [None], None),       # [null] satisfies minimum (vacuous)
        ("null-fails-enum", None, [None]),     # [null] fails enum
        ("mixed-ok", [5.0, None], [None, 2.0]),
        ("both-fail", [5.0], [9.0]),
    ]
    ddl = "clip_id string, a array<double>, b array<double>"
    got, _ = _spark_invalid_keys(spark, schema, rows, ddl)
    expect = set()
    for key, a, b in rows:
        rec = {}
        if a is not None:
            rec["a"] = a
        if b is not None:
            rec["b"] = b
        if not _ref_valid(schema, rec):
            expect.add(key)
    assert got == expect == {"null-fails-enum", "both-fail"}

    # element-FIELD contains has the same null-entry semantics
    schema2 = {
        "type": "object",
        "properties": {
            "fs": {
                "type": "array",
                "items": {
                    "type": "object",
                    "properties": {
                        "scores": {"type": "array", "contains": {"minimum": 90.0}}
                    },
                },
            }
        },
    }
    rows2 = [("ok-null-entry", [([None],)]), ("bad", [([5.0],)])]
    got2, _ = _spark_invalid_keys(
        spark, schema2, rows2, "clip_id string, fs array<struct<scores: array<double>>>"
    )
    assert got2 == {"bad"}
