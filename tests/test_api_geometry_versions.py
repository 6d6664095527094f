"""Facade, geometry (pure-Catalyst point-in-polygon), versions, multimodal."""

import pyspark.sql.functions as F
import pytest

from mds_provider_spark.api import Validator
from mds_provider_spark.functions import geometry as G
from mds_provider_spark.functions import multimodal as MM
from mds_provider_spark.functions.versions import UnsupportedVersionError, Version
from mds_provider_spark.sources import fixtures as FX


def test_validator_facade(spark):
    clips = FX.generate_clips(spark, 200, n_parts=4, seed=3,
                              faults={10: "bad_sr", 20: "dup_clip_id"})
    res = Validator.clips(ref_wave_fn=FX.ref_waveform).validate(clips)
    assert not res.is_valid()
    got = {r.rule_id for r in res.violations.collect()}
    assert got == {"bad_enum:sr_hz", "duplicate_id:clip_id"}
    lines = res.describe()
    assert any("bad_enum:sr_hz" in ln for ln in lines)
    verd = {r.part_id: r.status for r in res.verdicts.collect()}
    assert "fail" in verd.values()


def test_validator_clean_is_valid(spark):
    clips = FX.generate_clips(spark, 50, n_parts=4, seed=3)
    assert Validator.clips().validate(clips).is_valid()


SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]


def test_point_in_polygon(spark):
    df = spark.createDataFrame(
        [("in", 5.0, 5.0), ("out", 15.0, 5.0), ("out2", -1.0, -1.0),
         ("edge-ish", 9.999, 9.999)],
        "k string, lon double, lat double",
    )
    got = {
        r.k: r.inside
        for r in df.select(
            "k",
            G.point_in_polygon(F.col("lon"), F.col("lat"),
                               G.polygon_literal(SQUARE)).alias("inside"),
        ).collect()
    }
    assert got == {"in": True, "out": False, "out2": False, "edge-ish": True}


def test_point_in_polygon_is_codegen(spark):
    df = spark.createDataFrame([(5.0, 5.0)], "lon double, lat double")
    plan = (
        df.select(G.point_in_polygon(F.col("lon"), F.col("lat"),
                                     G.polygon_literal(SQUARE)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_outside_boundary_rule(spark):
    df = spark.createDataFrame(
        [("a", 5.0, 5.0, 0), ("b", 50.0, 5.0, 1)],
        "clip_id string, lon double, lat double, part_id int",
    )
    v = G.outside_boundary_violations(df, "lon", "lat", SQUARE).collect()
    assert [(r.rule_id, r.clip_id) for r in v] == [("outside_boundary:lon,lat", "b")]


def test_geojson_roundtrip(spark):
    df = spark.createDataFrame([(1.5, 2.5, 1546300800000)], "lon double, lat double, ts long")
    j = df.select(G.to_feature_json(F.col("lon"), F.col("lat"), F.col("ts")).alias("gj"))
    back = j.select(G.parse_point_feature("gj").alias("f")).select(
        G.point_lon(F.col("f")).alias("lon"),
        G.point_lat(F.col("f")).alias("lat"),
        F.col("f")["properties"]["timestamp"].alias("ts"),
    ).collect()[0]
    assert (back.lon, back.lat, back.ts) == (1.5, 2.5, 1546300800000)


def test_parse_boundary_geojson():
    txt = '{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}}'
    assert G.parse_boundary_geojson(txt) == [(0, 0), (1, 0), (1, 1), (0, 0)]
    with pytest.raises(ValueError):
        G.parse_boundary_geojson('{"type":"Point","coordinates":[0,0]}')


HOLE = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]
ISLAND = [(20.0, 20.0), (22.0, 20.0), (22.0, 22.0), (20.0, 22.0)]


def test_point_in_rings_hole_and_island(spark):
    df = spark.createDataFrame(
        [("shell", 2.0, 2.0), ("in-hole", 5.0, 5.0), ("island", 21.0, 21.0),
         ("nowhere", 15.0, 15.0), ("above-hole", 5.0, 9.0)],
        "k string, lon double, lat double",
    )
    rings = G.rings_literal([SQUARE, HOLE, ISLAND])
    got = {
        r.k: r.inside
        for r in df.select(
            "k",
            G.point_in_rings(F.col("lon"), F.col("lat"), rings).alias("inside"),
        ).collect()
    }
    assert got == {"shell": True, "in-hole": False, "island": True,
                   "nowhere": False, "above-hole": True}


def test_point_in_rings_is_codegen(spark):
    df = spark.createDataFrame([(5.0, 5.0)], "lon double, lat double")
    plan = (
        df.select(G.point_in_rings(F.col("lon"), F.col("lat"),
                                   G.rings_literal([SQUARE, HOLE])))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_outside_boundary_rule_with_rings(spark):
    df = spark.createDataFrame(
        [("shell", 2.0, 2.0, 0), ("hole", 5.0, 5.0, 0),
         ("island", 21.0, 21.0, 1), ("far", 50.0, 5.0, 1)],
        "clip_id string, lon double, lat double, part_id int",
    )
    v = G.outside_boundary_violations(df, "lon", "lat", [SQUARE, HOLE, ISLAND])
    assert sorted(r.clip_id for r in v.collect()) == ["far", "hole"]
    # single-ring contract unchanged
    v1 = G.outside_boundary_violations(df, "lon", "lat", SQUARE)
    assert sorted(r.clip_id for r in v1.collect()) == ["far", "island"]


def test_parse_boundary_rings_featurecollection():
    import json

    fc = json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": {"type": "Polygon", "coordinates":
                [[[0, 0], [10, 0], [10, 10], [0, 10]],
                 [[4, 4], [6, 4], [6, 6], [4, 6]]]}},
            {"type": "Feature", "geometry": {"type": "MultiPolygon",
                "coordinates": [[[[20, 20], [22, 20], [22, 22], [20, 22]]]]}},
        ],
    })
    rings = G.parse_boundary_rings(fc)
    assert len(rings) == 3 and rings[1][0] == (4.0, 4.0)
    # bare Polygon with hole, Feature, and error path
    assert len(G.parse_boundary_rings(
        '{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1]],[[0.2,0.2],[0.4,0.2],[0.4,0.4]]]}'
    )) == 2
    with pytest.raises(ValueError):
        G.parse_boundary_rings('{"type":"Point","coordinates":[0,0]}')


def test_versions():
    assert Version("0.4.0") == Version("0.4")
    assert Version("0.3.2") < Version("0.4.0") < Version("1.0.0")
    assert Version("0.4.1").supported and not Version("1.0.0").supported
    with pytest.raises(UnsupportedVersionError):
        Version("1.0.0").raise_if_unsupported()
    with pytest.raises(ValueError):
        Version("abc")


def test_image_features_plumbing(spark):
    rows = [("ok", bytes(range(64)), "fake8x8"),
            ("nodec", b"\x01\x02", "png"),       # stub decoder -> decode_ok False
            ("unknown", b"\x01", "tiff")]
    df = spark.createDataFrame(rows, "item_id string, bytes binary, format string")
    got = {r.item_id: r for r in MM.image_features(df).collect()}
    assert got["ok"].decode_ok and (got["ok"].height, got["ok"].width) == (8, 8)
    assert not got["nodec"].decode_ok and got["nodec"].height is None
    assert not got["unknown"].decode_ok


# ------------------------------------------- round-5 facade surfaces


def test_facade_rates_examples_and_schema_gate(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from mds_provider_spark import rules as R

    df = spark.createDataFrame(
        [(f"c{i}", -1 if i < 40 else 100, 0) for i in range(1000)],
        "clip_id string, dur_ms int, part_id int",
    )
    v = Validator(ruleset=R.RuleSet(key_col="clip_id", part_col="part_id")
                  .add(R.in_range("dur_ms", lo=0, lo_inclusive=False)))
    res = v.validate(df)
    rates = {r.rule_id: r for r in res.rates(n_rows=1000).collect()}
    r = rates["out_of_range:dur_ms"]
    assert r.n_violations == 40 and r.ci_low < 0.04 < r.ci_high
    ex = res.examples(k=3).collect()
    assert len(ex) == 3 and all(e.rule_id == "out_of_range:dur_ms" for e in ex)
    # schema gate fires before rules
    gated = Validator(ruleset=v.ruleset, expected_schema=df)
    with _pt.raises(ValueError, match="dur_ms"):
        gated.validate(df.withColumn("dur_ms", F.col("dur_ms").cast("long")))


def test_facade_from_profile_roundtrip(spark):
    df = spark.createDataFrame(
        [(f"c{i}", float(i % 7), "a" if i % 2 else "b", 0) for i in range(200)],
        "clip_id string, num double, cat string, part_id int",
    )
    v = Validator.from_profile(df, key_col="clip_id",
                               columns=["num", "cat"])
    assert v.validate(df).is_valid()     # learned-from == passes-on
    drifted = spark.createDataFrame(
        [("x", 99.0, "c", 0)], "clip_id string, num double, cat string, part_id int")
    assert not v.validate(drifted).is_valid()
