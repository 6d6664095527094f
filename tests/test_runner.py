"""End-to-end run + checkpoint/resume semantics (BASELINE.json: killed run
resumes from last committed checkpoint without revalidating completed
partitions)."""

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from mds_provider_spark import schema as S
from mds_provider_spark.api import Validator
from mds_provider_spark.plans.checkpoint import CommitLog
from mds_provider_spark.plans.runner import ValidationRun
from mds_provider_spark.rules import from_config
from mds_provider_spark.sources import fixtures as FX

N = 1500
PARTS = 8


@pytest.fixture(scope="module")
def data(spark):
    faults = FX.default_fault_plan(N)
    clips = FX.generate_clips(spark, N, n_parts=PARTS, seed=42, faults=faults).cache()
    ts = FX.generate_transcripts(
        spark, N, n_parts=PARTS, seed=42, missing_idx={77}, orphan_count=1
    ).cache()
    clips.count(), ts.count()
    return clips, ts


def _mk_run(spark, tmp, n_parts=PARTS, **kw):
    return ValidationRun(
        spark,
        out_dir=str(tmp),
        ref_wave_fn=FX.ref_waveform,
        n_parts=n_parts,
        group_size=2,
        **kw,
    )


def test_full_run_and_goldens(spark, tmp_path, data):
    clips, ts = data
    run = _mk_run(spark, tmp_path / "full")
    summary = run.run(clips, ts)
    assert summary["groups_run"] == 4 and summary["groups_skipped"] == 0
    assert summary["rows"] == N

    by_rule = {
        r.rule_id: r["count"]
        for r in run.violations().groupBy("rule_id").count().collect()
    }
    # golden counts for default_fault_plan + {77 missing, 1 orphan} transcripts
    assert by_rule["missing_field:clip_id"] == 1
    assert by_rule["bad_format:clip_id"] == 1
    assert by_rule["duplicate_id:clip_id"] == 2   # both conflicting rows
    assert by_rule["bad_enum:sr_hz"] == 1
    assert by_rule["out_of_range:dur_ms"] == 2    # zero_dur + neg_dur
    assert by_rule["bad_enum:codec"] == 1
    assert by_rule["missing_field:transcript"] == 1
    assert by_rule["empty_transcript:transcript"] == 1
    assert by_rule["bad_pcm:bytes"] == 1
    assert by_rule["missing_field:bytes"] == 1
    # orphans: missing_idx(77) + null_clip_id + bad_uuid clips-side;
    # orphan_count(1) + null/bad/dup original ids transcripts-side
    assert by_rule["referential_orphan:clip_id"] == 7
    # wrong_transcript + dup row (txt of i vs ref of i-1) + empty-space row
    assert by_rule["transcript_mismatch:transcript"] == 3

    verd = {r.part_id: r for r in run.verdicts().collect()}
    assert len(verd) == PARTS
    assert sum(r.n_rows for r in verd.values()) == N
    assert {r.status for r in verd.values()} == {"pass", "fail"} or all(
        r.status == "fail" for r in verd.values()
    )
    # verdict violation total == violation rows on clip-side parts
    assert sum(r.n_violations for r in verd.values()) == run.violations().count()


def test_resume_skips_committed_groups(spark, tmp_path, data):
    clips, ts = data
    out = tmp_path / "resumed"

    # killed after 2 of 4 groups
    first = _mk_run(spark, out, run_id="run-one")
    s1 = first.run(clips, ts, stop_after_groups=2)
    assert s1["groups_run"] == 2

    # resume under a NEW run_id
    second = _mk_run(spark, out, run_id="run-two")
    s2 = second.run(clips, ts)
    assert s2["groups_skipped"] == 2 and s2["groups_run"] == 2

    # committed groups were NOT revalidated: their lineage keeps run-one
    m = second.metrics().select("run_id", "part_id").distinct().collect()
    by_part = {r.part_id: r.run_id for r in m}
    assert sorted(by_part) == list(range(PARTS))
    assert sum(1 for v in by_part.values() if v == "run-one") == 4  # 2 groups x 2 parts
    assert sum(1 for v in by_part.values() if v == "run-two") == 4

    # final output identical to an uninterrupted run
    ref = _mk_run(spark, tmp_path / "uninterrupted")
    ref.run(clips, ts)
    key = lambda t: tuple("" if x is None else str(x) for x in t)
    got = sorted(map(tuple, second.violations().collect()), key=key)
    want = sorted(map(tuple, ref.violations().collect()), key=key)
    assert got == want


def test_rerun_is_noop(spark, tmp_path, data):
    clips, ts = data
    out = tmp_path / "noop"
    _mk_run(spark, out).run(clips, ts)
    s = _mk_run(spark, out).run(clips, ts)
    assert s["groups_run"] == 0 and s["groups_skipped"] == 4


def test_cli_drift_flags(spark, tmp_path, monkeypatch, capsys):
    """tools/run_validation.py drift surface: --emit-snapshot bootstraps,
    --baseline detects the shifted distribution. Runs main() in-process
    (stop() no-op'd so the shared test session survives)."""
    import importlib.util
    import json
    import pathlib

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    spec = importlib.util.spec_from_file_location(
        "run_validation",
        pathlib.Path(__file__).parent.parent / "tools" / "run_validation.py",
    )
    rv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rv)

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    (FX.generate_clips(spark, 400, n_parts=4, seed=42, sr_choices=[8000, 16000])
        .repartition("part_id").write.partitionBy("part_id").parquet(a_dir))
    (FX.generate_clips(spark, 400, n_parts=4, seed=43,
                       sr_choices=[44100, 48000], dur_choices=[320, 400])
        .repartition("part_id").write.partitionBy("part_id").parquet(b_dir))

    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")
    rv.main(["--clips", a_dir, "--out", out_a, "--n-parts", "4",
             "--group-size", "2", "--pcm", "off", "--emit-snapshot"])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["snapshot_written"] and first["rows"] == 400

    rv.main(["--clips", b_dir, "--out", out_b, "--n-parts", "4",
             "--group-size", "2", "--pcm", "off",
             "--baseline", f"{out_a}/snapshot"])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["drift_findings"] >= 1  # sr/dur distributions shifted


def test_emit_clean_quarantine_gate(spark, tmp_path, data):
    clips, ts = data
    run = _mk_run(spark, tmp_path / "clean", emit_clean=True)
    run.run(clips, ts)
    clean = run.clean()
    # exactly: input rows minus NULL ids minus every id in violations
    bad_ids = {
        r.clip_id for r in run.violations().select("clip_id").distinct().collect()
        if r.clip_id is not None
    }
    want = {
        r.clip_id for r in clips.select("clip_id").collect()
        if r.clip_id is not None and r.clip_id not in bad_ids
    }
    got = {r.clip_id for r in clean.select("clip_id").collect()}
    assert got == want and len(got) > 0
    # the gate cannot drift from what was reported: no clean id is ever
    # also a violation id
    assert not (got & bad_ids)
    # clean rows carry the full input row (bytes included)
    assert set(clean.columns) == set(clips.columns)


def test_emit_clean_resume_consistent(spark, tmp_path, data):
    clips, ts = data
    out = tmp_path / "clean_resume"
    run = _mk_run(spark, out, emit_clean=True)
    run.run(clips, ts, stop_after_groups=2)       # simulated kill
    n_partial = _mk_run(spark, out, emit_clean=True)
    s2 = n_partial.run(clips, ts)                 # resume
    assert s2["groups_skipped"] == 2
    full = _mk_run(spark, tmp_path / "clean_full", emit_clean=True)
    full.run(clips, ts)
    a = {r.clip_id for r in n_partial.clean().select("clip_id").collect()}
    b = {r.clip_id for r in full.clean().select("clip_id").collect()}
    assert a == b


@pytest.mark.parametrize("emit_clean", [True, False], ids=["clean", "no_clean"])
def test_counts_reconcile_with_outputs(spark, tmp_path, data, emit_clean):
    """The verdicts, metrics and clean copy the runner builds from the
    counts its writes observe agree with the committed violations; a
    group whose marker is missing lists no metrics rows."""
    clips, ts = data
    run = _mk_run(spark, tmp_path / "full", n_parts=PARTS + 2, emit_clean=emit_clean)
    run.run(clips, ts)
    assert run.verdicts().columns == S.VERDICTS_SCHEMA.fieldNames()
    want = run.ruleset.verdicts_from_violations(clips, run.violations())
    assert sorted(map(tuple, run.verdicts().collect())) == sorted(map(tuple, want.collect()))
    n_rows = {r.part_id: r.n_rows for r in run.verdicts().collect()}
    metrics = {r.part_id: r.rows for r in run.metrics().collect()}
    assert metrics == {p: n_rows.get(p, 0) for p in range(PARTS + 2)}
    if emit_clean:
        named = {r.clip_id for r in run.violations().select("clip_id").collect()}
        ids = [r.clip_id for r in clips.select("clip_id").collect()]
        n_named = sum(1 for c in ids if c is not None and c in named)
        n_null = ids.count(None)
        assert n_named > 0 and n_null > 0
        assert sum(n_rows.values()) == run.clean().count() + n_named + n_null
        part_first = T.StructType(sorted(clips.schema, key=lambda f: f.name != "part_id"))
        assert run.clean(part_first).columns == part_first.fieldNames()

    # crash window: group 0's data is written, its marker is not
    out = tmp_path / "crash"
    _mk_run(spark, out, emit_clean=emit_clean).run(clips, ts, stop_after_groups=1)
    log = CommitLog(str(out))
    for name in os.listdir(log.commits_dir):
        os.remove(os.path.join(log.commits_dir, name))
    assert _mk_run(spark, out).metrics().count() == 0


def test_expected_schema_gate_blocks_before_any_scan(spark, tmp_path, data):
    clips, ts = data
    ok = _mk_run(spark, tmp_path / "sg_ok", expected_schema=clips)
    assert ok.run(clips, ts)["rows"] == N  # matching contract passes
    drifted = clips.withColumn("dur_ms", F.col("dur_ms").cast("long"))
    bad = _mk_run(spark, tmp_path / "sg_bad", expected_schema=clips)
    with pytest.raises(ValueError, match="dur_ms"):
        bad.run(drifted, ts)
    # nothing was written: the gate fired before any group committed
    assert not os.path.exists(str(tmp_path / "sg_bad" / "violations"))


_KEYED_ROWS = [("a", 1, 0), ("a", 2, 0), ("b", None, 1), ("c", 3, 2), ("d", 4, 3)]


@pytest.mark.parametrize("unique", [["k"], [], ["x"]], ids=["unique_k", "no_unique", "unique_x"])
def test_uniqueness_from_ruleset_keys(spark, tmp_path, unique):
    """Both entry points take uniqueness from ``ruleset.unique_keys`` on
    the ruleset's own key column; the runner refuses a unique key that
    does not contain the bucketed key (its duplicates may span groups)."""
    spec = [{"kind": "not_null", "column": "x"}]
    spec += [{"kind": "unique_key", "columns": unique}] if unique else []
    rs = from_config(spec, key_col="k")
    df = spark.createDataFrame(_KEYED_ROWS, "k string, x int, part_id int")
    run = ValidationRun(spark, out_dir=str(tmp_path), ruleset=rs, n_parts=4, group_size=2)
    if unique == ["x"]:
        with pytest.raises(ValueError, match="key column 'k'"):
            run.run(df)
        return
    run.run(df)
    via_api = sorted(map(tuple, Validator(ruleset=rs).validate(df).violations.collect()))
    via_run = sorted(map(tuple, run.violations().select(*S.VIOLATIONS_SCHEMA.names).collect()))
    assert via_api == via_run
    dups = [r for r in via_api if r[0].startswith("duplicate_id")]
    assert len(dups) == (2 if unique else 0)
    assert ("missing_field:x", "b", "x", "required field x is missing", 1) in via_api
