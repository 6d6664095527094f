"""JSON-Schema -> RuleSet compiler, differentially tested against the
REFERENCE MECHANISM itself: jsonschema's Draft6 validator walking each
record (exactly what mds-provider does, mds/schemas.py ≈L170–220). For
every record, the set of violated property paths must agree."""

import jsonschema
import pyspark.sql.functions as F
import pytest

from mds_provider_spark.schema_compiler import from_json_schema

# An MDS-trips-flavored schema using every supported keyword.
TRIPS_SCHEMA = {
    "type": "object",
    "required": ["trip_id", "vehicle_type"],
    "properties": {
        "trip_id": {"type": "string", "format": "uuid"},
        "vehicle_type": {"type": "string", "enum": ["bicycle", "scooter", "car"]},
        "trip_distance": {"type": "number", "minimum": 0},
        "trip_duration": {"type": "integer", "exclusiveMinimum": 0, "maximum": 86400},
        "propulsion_type": {
            "type": "array",
            "items": {"type": "string", "enum": ["human", "electric", "combustion"]},
            "minItems": 1,
            "uniqueItems": True,
        },
        "note": {"type": "string", "pattern": "^[a-z A-Z!]*$", "minLength": 1},
    },
}

ROWS = [
    # (trip_id, vehicle_type, distance, duration, propulsion, note)
    ("11111111-1111-4111-8111-111111111111", "scooter", 1200.0, 300, ["electric"], "ok ride"),
    (None, "scooter", 1.0, 10, ["human"], "x"),                       # missing trip_id
    ("not-a-uuid", "scooter", 1.0, 10, ["human"], "x"),               # bad uuid
    ("22222222-2222-4222-8222-222222222222", "rocket", 1.0, 10, ["human"], "x"),  # bad enum
    ("33333333-3333-4333-8333-333333333333", "car", -5.0, 10, ["human"], "x"),    # distance < 0
    ("44444444-4444-4444-8444-444444444444", "car", 1.0, 0, ["human"], "x"),      # duration = 0 (exclusive)
    ("55555555-5555-4555-8555-555555555555", "car", 1.0, 90000, ["human"], "x"),  # duration > max
    ("66666666-6666-4666-8666-666666666666", "car", 1.0, 10, [], "x"),            # minItems
    ("77777777-7777-4777-8777-777777777777", "car", 1.0, 10, ["human", "human"], "x"),  # uniqueItems
    ("88888888-8888-4888-8888-888888888888", "car", 1.0, 10, ["warp"], "x"),      # items.enum
    ("99999999-9999-4999-8999-999999999999", "car", 1.0, 10, ["human"], "digits 123"),  # pattern
    ("aaaaaaaa-aaaa-4aaa-8aaa-aaaaaaaaaaaa", "car", 1.0, 10, ["human"], "   "),  # whitespace: minLength OK (draft-06 does not trim)
    ("bbbbbbbb-bbbb-4bbb-8bbb-bbbbbbbbbbbb", "car", 1.0, 10, ["human"], ""),     # minLength violation
]

COLS = ["trip_id", "vehicle_type", "trip_distance", "trip_duration",
        "propulsion_type", "note"]


def _reference_violated_props(record: dict) -> set:
    """The reference's exact mechanism: draft-6 iter_errors per record.
    'format' needs the checker enabled (as mds-provider relies on)."""
    validator = jsonschema.Draft6Validator(
        TRIPS_SCHEMA, format_checker=jsonschema.FormatChecker()
    )
    out = set()
    for err in validator.iter_errors(record):
        path = list(err.absolute_path)
        out.add(str(path[0]) if path else err.validator_value[0]
                if err.validator == "required" and isinstance(err.validator_value, list)
                else str(path[0]) if path else None)
        if not path and err.validator == "required":
            # jsonschema reports missing keys with empty path; recover name
            out.discard(None)
            missing = [p for p in TRIPS_SCHEMA["required"] if p not in record]
            out.update(missing)
    out.discard(None)
    return out


def test_compiles_and_matches_reference_validator(spark):
    rs, unsupported = from_json_schema(TRIPS_SCHEMA, key_col="trip_id")
    assert unsupported == []

    df = spark.createDataFrame(
        ROWS,
        "trip_id string, vehicle_type string, trip_distance double, "
        "trip_duration long, propulsion_type array<string>, note string",
    ).withColumn("part_id", F.lit(0))

    mine = {}
    for r in rs.violations(df).collect():
        mine.setdefault(r.clip_id, set()).add(r.column_name)

    for row in ROWS:
        record = {c: v for c, v in zip(COLS, row) if v is not None}
        want = _reference_violated_props(record)
        got = mine.get(row[0], set())
        assert got == want, (row[0], got, want)


def test_randomized_differential_vs_jsonschema(spark):
    """300 seeded random records (valid and broken in every dimension):
    the compiled ruleset must agree with jsonschema per record."""
    import random

    rng = random.Random(20240816)
    uuids = [f"{i:08x}-0000-4000-8000-{i:012x}" for i in range(400)]

    def rand_record(i):
        rec = {"k": f"r{i}"}
        rec["trip_id"] = rng.choice([uuids[i], "bad-uuid", None])
        rec["vehicle_type"] = rng.choice(["bicycle", "scooter", "car", "rocket", None])
        rec["trip_distance"] = rng.choice([0.0, 10.5, -3.0, None])
        rec["trip_duration"] = rng.choice([1, 3600, 0, 90000, None])
        rec["propulsion_type"] = rng.choice(
            [["human"], ["electric", "human"], [], ["human", "human"], ["warp"], None]
        )
        rec["note"] = rng.choice(["ok note", "", "   ", "With Caps!", None])
        return rec

    records = [rand_record(i) for i in range(300)]
    rows = [
        (
            r["k"], r["trip_id"], r["vehicle_type"], r["trip_distance"],
            r["trip_duration"], r["propulsion_type"], r["note"],
        )
        for r in records
    ]
    df = spark.createDataFrame(
        rows,
        "k string, trip_id string, vehicle_type string, trip_distance double, "
        "trip_duration long, propulsion_type array<string>, note string",
    ).withColumn("part_id", F.lit(0))

    rs, _ = from_json_schema(TRIPS_SCHEMA, key_col="k")
    mine = {}
    for v in rs.violations(df).collect():
        mine.setdefault(v.clip_id, set()).add(v.column_name)

    validator = jsonschema.Draft6Validator(
        TRIPS_SCHEMA, format_checker=jsonschema.FormatChecker()
    )
    for r in records:
        rec = {k: v for k, v in r.items() if k != "k" and v is not None}
        want = set()
        for err in validator.iter_errors(rec):
            if err.absolute_path:
                want.add(str(err.absolute_path[0]))
            elif err.validator == "required":
                want.update(p for p in TRIPS_SCHEMA["required"] if p not in rec)
        got = mine.get(r["k"], set())
        assert got == want, (r, got, want)


def test_clean_records_have_no_violations(spark):
    rs, _ = from_json_schema(TRIPS_SCHEMA, key_col="trip_id")
    df = spark.createDataFrame(
        [ROWS[0]],
        "trip_id string, vehicle_type string, trip_distance double, "
        "trip_duration long, propulsion_type array<string>, note string",
    ).withColumn("part_id", F.lit(0))
    assert rs.violations(df).count() == 0


def test_unsupported_keywords_strict():
    # patternProperties has no fixed-struct mapping (a parquet column
    # set is closed); contains/combinators compile as of round 4
    bad = {
        "type": "object",
        "properties": {"x": {"type": "object", "patternProperties": {"^a": {}}}},
    }
    with pytest.raises(ValueError, match="patternProperties"):
        from_json_schema(bad, key_col="x")
    rs, unsup = from_json_schema(bad, key_col="x", strict=False)
    assert unsup == ["x.patternProperties"]


def test_maxlength_const_multipleof(spark):
    schema = {
        "type": "object",
        "properties": {
            "k": {"type": "string"},
            "code": {"type": "string", "maxLength": 3},
            "kind": {"const": "clip"},
            "step": {"type": "integer", "multipleOf": 5},
        },
    }
    rs, unsup = from_json_schema(schema, key_col="k")
    assert unsup == []
    df = spark.createDataFrame(
        [
            ("ok", "abc", "clip", 10),
            ("long", "abcd", "clip", 10),   # maxLength
            ("kind", "ab", "song", 10),     # const
            ("mult", "ab", "clip", 7),      # multipleOf
        ],
        "k string, code string, kind string, step long",
    ).withColumn("part_id", F.lit(0))
    got = {(r.rule_id, r.clip_id) for r in rs.violations(df).collect()}
    assert got == {
        ("bad_shape:code", "long"),
        ("bad_enum:kind", "kind"),
        ("out_of_range:step", "mult"),
    }
    # cross-check vs the reference mechanism
    for row in [("long", "abcd", "clip", 10), ("ok", "abc", "clip", 10)]:
        rec = dict(zip(["k", "code", "kind", "step"], row))
        errs = list(jsonschema.Draft6Validator(schema).iter_errors(rec))
        assert bool(errs) == (row[0] != "ok")


def test_unique_passthrough():
    rs, _ = from_json_schema(
        TRIPS_SCHEMA, key_col="trip_id", unique=["trip_id"]
    )
    assert [uk.cols for uk in rs.unique_keys] == [("trip_id",)]


def test_draft04_boolean_exclusive_bounds(spark):
    """Draft-04 BOOLEAN exclusiveMinimum/Maximum modify minimum/maximum;
    the numeric draft-06 comparison must never see a bool (True >= 5 is
    falsy -> the bound silently compiled inclusive before this guard)."""
    schema = {
        "type": "object",
        "properties": {
            "k": {"type": "string"},
            "a": {"type": "integer", "minimum": 5, "exclusiveMinimum": True},
            "b": {"type": "integer", "minimum": 0, "exclusiveMinimum": False},
            "c": {"type": "integer", "maximum": 10, "exclusiveMaximum": True},
        },
    }
    rs, unsup = from_json_schema(schema, key_col="k")
    assert unsup == []
    df = spark.createDataFrame(
        [
            ("ok", 6, 0, 9),
            ("a_at_bound", 5, 0, 9),   # 5 violates exclusive min 5
            ("b_at_bound", 6, 0, 9),   # 0 is fine (exclusiveMinimum: false)
            ("b_below", 6, -1, 9),     # -1 < 0 violates
            ("c_at_bound", 6, 0, 10),  # 10 violates exclusive max 10
        ],
        "k string, a long, b long, c long",
    ).withColumn("part_id", F.lit(0))
    got = {(r.clip_id, r.column_name) for r in rs.violations(df).collect()}
    assert got == {
        ("a_at_bound", "a"),
        ("b_below", "b"),
        ("c_at_bound", "c"),
    }
    # parity with the reference mechanism (Draft4 honors the boolean form)
    v4 = jsonschema.Draft4Validator(schema)
    assert [e.absolute_path[0] for e in v4.iter_errors({"a": 5, "b": 0, "c": 9})] == ["a"]
    assert not list(v4.iter_errors({"a": 6, "b": 0, "c": 9}))


def test_required_only_object_subschema_compiles(spark):
    """'required' without 'properties' is legal JSON Schema and must
    emit nested_required rules (it was silently dropped before)."""
    schema = {
        "type": "object",
        "properties": {
            "k": {"type": "string"},
            "loc": {"type": "object", "required": ["lat"]},
        },
    }
    rs, unsup = from_json_schema(schema, key_col="k")
    assert unsup == []
    df = spark.createDataFrame(
        [("a", (1.0,)), ("b", (None,)), ("c", None)],
        "k string, loc struct<lat:double>",
    ).withColumn("part_id", F.lit(0))
    got = {(r.clip_id, r.column_name) for r in rs.violations(df).collect()}
    assert got == {("b", "loc.lat")}
    # parity: jsonschema flags loc.lat only when loc is present
    v = jsonschema.Draft6Validator(schema)
    assert [list(e.absolute_path) for e in v.iter_errors({"loc": {}})] == [["loc"]]
    assert not list(v.iter_errors({}))


# ------------------------------------------- one keyword table, every position

# the same subschema at each position the compiler addresses a value
_POSITIONS = {
    "column": lambda s: {"properties": {"v": s}},
    "nested_property": lambda s: {
        "properties": {"o": {"type": "object", "properties": {"v": s}}}},
    "property_branch": lambda s: {"properties": {"v": {"anyOf": [s, {"const": "q"}]}}},
    "items_field": lambda s: {"properties": {"a": {
        "type": "array", "items": {"type": "object", "properties": {"v": s}}}}},
    "items_branch_field": lambda s: {"properties": {"a": {
        "type": "array", "items": {"type": "object", "oneOf": [
            {"properties": {"v": s}},
            {"required": ["v"], "properties": {"v": {"const": "q"}}}]}}}},
    "contains_entry": lambda s: {"properties": {"a": {"type": "array", "contains": s}}},
    "tuple_entry": lambda s: {"properties": {"a": {"type": "array", "items": [s]}}},
    "additionalItems_entry": lambda s: {"properties": {"a": {
        "type": "array", "items": [{}], "additionalItems": s}}},
}

_TABLE_KEYWORDS = {
    "enum": {"enum": ["a", "b"]},
    "const": {"const": "a"},
    "pattern": {"pattern": "^a"},
    "format": {"format": "uuid"},
    "minLength": {"minLength": 1},
    "maxLength": {"maxLength": 3},
    "bounds": {"minimum": 0, "exclusiveMaximum": 9},
    "multipleOf": {"multipleOf": 2},
    "minItems": {"minItems": 1},
    "maxItems": {"maxItems": 3},
    "uniqueItems": {"uniqueItems": True},
    "items.enum": {"items": {"enum": ["a"]}},
    "contains": {"contains": {"const": "a"}},
    "type": {"type": ["string", "null"]},
}


_UNSUPPORTED_KEYWORDS = {
    "format:date-time": {"format": "date-time"},
    "multipleOf:0.5": {"multipleOf": 0.5},
    "contains:true": {"contains": True},
}


@pytest.mark.parametrize("keyword", [*_TABLE_KEYWORDS, *_UNSUPPORTED_KEYWORDS])
def test_keyword_compiles_at_every_position_or_none(keyword):
    """No Spark needed: a scalar keyword compiles at every position, or
    is reported unsupported at every position — never a ragged mix."""
    spec = {**_TABLE_KEYWORDS, **_UNSUPPORTED_KEYWORDS}[keyword]
    reported, compiled = {}, {}
    for position, at in _POSITIONS.items():
        rs, unsupported = from_json_schema(
            {"type": "object", **at(spec)}, key_col="k", strict=False)
        reported[position], compiled[position] = unsupported, len(rs.rules)
    if keyword in _UNSUPPORTED_KEYWORDS:
        label = "." + keyword.split(":")[0] + ":"
        assert all(len(u) == 1 and label in u[0] for u in reported.values()), reported
    else:
        assert all(u == [] for u in reported.values()), reported
        # plain ``type`` outside branches and entries is structural
        assert all(compiled.values()) or keyword == "type", compiled


# value "z" violates {"enum": ["a", null]}; NULL/absent and "a" do not
_NULLABLE_ENUM = {"enum": ["a", None]}
_ENUM_CASES = {
    "column": ("v string", [("z", "z"), ("a", "a"), ("absent", None)],
               lambda v: {} if v is None else {"v": v}),
    "nested_property": ("o struct<v: string>",
                        [("z", ("z",)), ("a", ("a",)), ("absent", (None,))],
                        lambda o: {"o": {} if o[0] is None else {"v": o[0]}}),
    "items.enum": ("a array<string>",
                   [("z", ["a", "z"]), ("a", ["a", None]), ("absent", [])],
                   lambda a: {"a": a}),
    "items_field": ("a array<struct<v: string>>",
                    [("z", [("a",), ("z",)]), ("a", [("a",)]), ("absent", [(None,)])],
                    lambda a: {"a": [{} if e[0] is None else {"v": e[0]} for e in a]}),
    "items_branch_field": ("a array<struct<v: string>>",
                           [("z", [("z",)]), ("a", [("a",)]), ("absent", [(None,)])],
                           lambda a: {"a": [{} if e[0] is None else {"v": e[0]}
                                            for e in a]}),
}


@pytest.mark.parametrize("position", sorted(_ENUM_CASES))
def test_nullable_enum_fires_vs_jsonschema(spark, position):
    """``x IN ('a', NULL)`` is NULL for a non-member; the enum check
    must still fire on "z" wherever it is compiled, as jsonschema does."""
    ddl, rows, record = _ENUM_CASES[position]
    if position == "items.enum":
        schema = {"type": "object", "properties": {
            "a": {"type": "array", "items": _NULLABLE_ENUM}}}
    else:
        schema = {"type": "object", **_POSITIONS[position](_NULLABLE_ENUM)}
    rs, unsupported = from_json_schema(schema, key_col="k")
    df = spark.createDataFrame(rows, f"k string, {ddl}").withColumn("part_id", F.lit(0))
    got = {r.clip_id for r in rs.violations(df).collect()}
    validator = jsonschema.Draft6Validator(schema)
    expect = {k for k, v in rows if not validator.is_valid(record(v))}
    assert got == expect == {"z"}
