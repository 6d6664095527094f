"""The keyed plan (plans/runner.keyed_plan and the keyed_violations and
keyed_verdicts built from it) against the stand-alone cross-row
operators it replaces on the product path:
same violation multiset, same verdicts, one exchange per table, the same
NULL semantics, and a hot key that finishes under small spill buffers."""

import random
from collections import Counter
from functools import reduce

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from mds_provider_spark import rules as R
from mds_provider_spark import schema as S
from mds_provider_spark.api import Validator
from mds_provider_spark.operators import referential as REF
from mds_provider_spark.operators import uniqueness as U
from mds_provider_spark.plans.runner import keyed_plan, keyed_violations
from mds_provider_spark.sources import fixtures as FX
from mds_provider_spark.session import local_frame

SEED = 23
N = 60
PARTS = 4


def _adversarial(spark):
    """Seeded clips and transcripts with every case the keyed plan must
    get right: a key repeated three times (two codecs), NULL keys on both
    sides, the repeated key with a matching and a differing transcript row,
    orphans both ways, NULL and empty transcripts and a NULL reference,
    and a part (``PARTS``) that holds only transcript orphans."""
    rng = random.Random(SEED)
    faults = {i: k for i, k in zip(rng.sample(range(1, N), len(FX.FAULT_KINDS)),
                                   FX.FAULT_KINDS)}
    clips = [list(FX._make_row(SEED, i, PARTS, faults.get(i))) for i in range(N)]
    clips = [[c, b, int(sr), int(d), codec, t, int(p)]
             for c, b, sr, d, codec, t, p in clips]
    ts = [[row[0], FX.transcript_at(SEED, i), row[6]]
          for i, row in enumerate(clips) if row[0] is not None]
    clean = [i for i in range(N) if i not in faults]
    dup, dup2, lonely, blank, nul, noref = rng.sample(clean, 6)
    clips[dup][2] = 11025  # a row-rule hit on a duplicated key ...
    clips.append(list(clips[dup]))  # same key, same codec
    clips.append(clips[dup][:4] + ["wav" if clips[dup][4] != "wav" else "mp3"]
                 + clips[dup][5:])  # same key, another codec
    clips.append(list(clips[dup2]))  # a second duplicated key
    # ... that has a matching and a differing transcript row
    ts.append([clips[dup][0], "a differing reference", clips[dup][6]])
    ts = [r for r in ts if r[0] != clips[lonely][0]]  # clip-side orphan
    clips[blank][5] = ""
    clips[nul][5] = None
    ts = [[c, None if c == clips[noref][0] else ref, p] for c, ref, p in ts]
    for j, part in enumerate((0, 2)):  # NULL keys, clip side
        clips.append([None, clips[j][1], 8000, 80, "wav", f"null key {j}", part])
    ts += [[None, "null key 0", 1], [None, "no clip", 3]]  # NULL keys, transcript side
    ts += [[FX.clip_id_at(SEED, 10_000 + j), "orphan", part]
           for j, part in enumerate((1, PARTS, PARTS))]
    return (local_frame(spark, [tuple(r) for r in clips], S.CLIPS_SCHEMA),
            local_frame(spark, [tuple(r) for r in ts], S.TRANSCRIPTS_SCHEMA))


def _ruleset(unique):
    rs = R.mds_clip_rules()
    rs.unique_keys = [R.unique_key(cols) for cols in unique]
    return rs


RULESETS = {
    "mds_clip_rules": [("clip_id",)],
    "composite": [("clip_id",), ("clip_id", "codec")],
    "without_key_col": [("transcript",), ("clip_id",)],
}


def _multiset(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.select(*S.VIOLATIONS_SCHEMA.fieldNames()).collect())


@pytest.mark.parametrize("unique", RULESETS.values(), ids=RULESETS.keys())
def test_keyed_equals_standalone_operators(spark, unique):
    clips, ts = _adversarial(spark)
    rs = _ruleset(unique)
    standalone = reduce(DataFrame.unionByName, [
        rs.violations(clips),
        *[U.duplicate_violations(clips, list(uk.cols)) for uk in rs.unique_keys],
        REF.referential_violations(clips, ts),
        REF.transcript_mismatch_violations(clips, ts)])
    got = _multiset(keyed_violations(keyed_plan(rs, clips, ts)))
    assert got == _multiset(standalone)
    # the input really holds each case
    rules = Counter(r for r, *_ in got.elements())
    assert rules["duplicate_id:clip_id"] >= 5
    assert rules["transcript_mismatch:transcript"] >= 3
    assert got[("referential_orphan:clip_id", None, "clips",
                "clip has no transcript row", 2)] == 1
    assert got[("referential_orphan:clip_id", None, "transcripts",
                "transcript has no clip row", 3)] == 1
    assert sum(n for (r, _, col, _, p), n in got.items()
               if p == PARTS and col == "transcripts") == 2


@pytest.mark.parametrize("ref_wave_fn", [None, FX.ref_waveform], ids=["rules", "pcm"])
@pytest.mark.parametrize("unique", RULESETS.values(), ids=RULESETS.keys())
def test_keyed_verdicts_equal_verdicts_from_violations(spark, unique, ref_wave_fn):
    clips, ts = _adversarial(spark)
    rs = _ruleset(unique)
    res = Validator(ruleset=rs, ref_wave_fn=ref_wave_fn).validate(clips, ts)
    got = sorted(tuple(r) for r in res.verdicts.collect())
    assert got == sorted(tuple(r) for r in
                         rs.verdicts_from_violations(clips, res.violations).collect())
    # the transcript-orphan-only part gets no verdict
    assert [p for p, *_ in got] == list(range(PARTS))
    assert ([(f.name, f.dataType) for f in res.verdicts.schema]
            == [(f.name, f.dataType) for f in S.VERDICTS_SCHEMA])


def test_validate_builds_the_keyed_plan_once(spark, monkeypatch):
    """``Validator.validate`` derives its violations and verdicts from one
    ``keyed_plan`` frame."""
    from mds_provider_spark import api

    built = []

    def counting(*args):
        built.append(args)
        return keyed_plan(*args)

    monkeypatch.setattr(api, "keyed_plan", counting)
    clips, ts = _adversarial(spark)
    res = Validator(ref_wave_fn=FX.ref_waveform).validate(clips, ts)
    res.violations.count()
    res.verdicts.collect()
    assert len(built) == 1


def test_null_part_id_verdict_counts_its_violations(spark):
    """A row with a NULL part_id and a rule hit fails its (NULL) part in
    both verdict paths; an equi-join on part_id would report it passing."""
    ok, bad = FX.clip_id_at(SEED, 1), FX.clip_id_at(SEED, 2)
    clips = local_frame(spark, [(ok, None, 8000, 80, "wav", "a", 1),
                                (bad, None, 8000, 80, "xyz", "b", None)], S.CLIPS_SCHEMA)
    res = Validator().validate(clips)
    want = [(1, "pass", 1, 0), (None, "fail", 1, 1)]
    for verdicts in (res.verdicts,
                     R.mds_clip_rules().verdicts_from_violations(clips, res.violations)):
        assert sorted((tuple(r) for r in verdicts.collect()), key=str) == want


def _exchanges_over_scans(df: DataFrame) -> list[int]:
    """Per FileScan of the executed (final adaptive) plan, the number of
    Exchange nodes between it and the root."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    depth = [len(ln) - len(ln.lstrip(" :|+-")) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if "FileScan" not in ln:
            continue
        d, n = depth[i], 0
        for j in range(i - 1, -1, -1):
            if depth[j] < d:
                d, n = depth[j], n + ("Exchange" in lines[j])
        out.append(n)
    return out


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    n = 600
    base = tmp_path_factory.mktemp("keyed")
    FX.generate_clips(spark, n, n_parts=PARTS, seed=5,
                      faults=FX.default_fault_plan(n)).write.parquet(str(base / "c"))
    FX.generate_transcripts(spark, n, n_parts=PARTS, seed=5, missing_idx={9},
                            orphan_count=2).write.parquet(str(base / "t"))
    return str(base / "c"), str(base / "t")


@pytest.mark.parametrize("unique", [RULESETS["mds_clip_rules"], RULESETS["composite"]],
                         ids=["mds_clip_rules", "composite"])
def test_keyed_plan_one_exchange_per_table(spark, stored, unique):
    clips, ts = (spark.read.parquet(p) for p in stored)
    plan = keyed_plan(_ruleset(unique), clips, ts)
    assert _exchanges_over_scans(keyed_violations(plan)) == [1, 1]


def test_keyed_plan_rules_only_is_shuffle_free(spark, stored):
    clips = spark.read.parquet(stored[0])
    assert _exchanges_over_scans(keyed_violations(keyed_plan(_ruleset([]), clips))) == [0]


def test_hot_key_finishes_with_small_spill_buffers(spark):
    """One clip_id repeated 10^5 times (and one transcript row for it):
    the duplicate window and the full-outer join buffer the whole key,
    and both buffers spill past a small row threshold instead of
    holding the key in memory."""
    n, cid = 100_000, FX.clip_id_at(SEED, 0)
    confs = ("spark.sql.windowExec.buffer.spill.threshold",
             "spark.sql.sortMergeJoinExec.buffer.spill.threshold")
    for c in confs:
        spark.conf.set(c, "1024")
    try:
        clips = spark.range(n).select(
            F.lit(cid).alias("clip_id"), F.lit(8000).alias("sr_hz"),
            F.lit(80).alias("dur_ms"), F.lit("wav").alias("codec"),
            F.lit("hello").alias("transcript"), F.lit(0).alias("part_id"))
        ts = local_frame(spark, [(cid, "hello", 0)], S.TRANSCRIPTS_SCHEMA)
        got = dict(keyed_violations(keyed_plan(R.mds_clip_rules(), clips, ts))
                   .groupBy("rule_id").count().collect())
    finally:
        for c in confs:
            spark.conf.unset(c)
    assert got == {"duplicate_id:clip_id": n}


def test_spark_jobs_rules_dense_op(spark, stored):
    """Pins the Spark jobs of the rules-dense op: ``Validator().validate``,
    a violations write and ``verdicts.collect()``. 3 for the write (clip
    and transcript exchanges, write) and 4 for the verdicts (the same two
    exchanges, the per-part aggregation, collect)."""
    clips, ts = (spark.read.parquet(p) for p in stored)
    sc = spark.sparkContext
    sc.setJobGroup("rules_dense", "rules_dense")
    try:
        res = Validator().validate(clips, ts)
        res.violations.write.mode("overwrite").parquet(stored[0] + "_violations")
        write = len(sc.statusTracker().getJobIdsForGroup("rules_dense"))
        res.verdicts.collect()
        total = len(sc.statusTracker().getJobIdsForGroup("rules_dense"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (write, total - write) == (3, 4)
