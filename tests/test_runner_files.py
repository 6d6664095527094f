"""File-sliced PCM strategy in the runner must be output-identical to the
row-based strategy (same checkpointed run, same violations)."""

import pyspark.sql.functions as F
import pytest

from mds_provider_spark import schema as S
from mds_provider_spark.operators import drift as DR
from mds_provider_spark.plans.runner import ValidationRun
from mds_provider_spark.sources import fixtures as FX

N = 800
PARTS = 8


def _rows_vs_files(spark, tmp_path, stored, ts, clips_path, n_parts=PARTS):
    """Run both PCM readers over ``stored``; return (rows, files) runs."""
    runs = []
    for strategy in ("rows", "files"):
        run = ValidationRun(
            spark, str(tmp_path / strategy), ref_wave_fn=FX.ref_waveform,
            n_parts=n_parts, group_size=4, pcm_strategy=strategy,
            clips_path=clips_path,
        )
        run.run(stored, ts)
        runs.append(run)
    return runs


def _assert_same(rows_run, files_run):
    key = lambda t: tuple("" if x is None else str(x) for x in t)
    a = sorted(map(tuple, rows_run.violations().collect()), key=key)
    b = sorted(map(tuple, files_run.violations().collect()), key=key)
    assert a == b and len(a) > 0
    assert (sorted(map(tuple, rows_run.verdicts().collect()))
            == sorted(map(tuple, files_run.verdicts().collect())))


@pytest.mark.parametrize("shape", [
    {},
    # 80-480 samples per clip: the short-clip regime
    {"sr_choices": [8000], "dur_choices": [10, 20, 60]},
], ids=["default", "short_clips"])
def test_files_strategy_matches_rows(spark, tmp_path, shape):
    faults = FX.default_fault_plan(N)
    clips = FX.generate_clips(spark, N, n_parts=PARTS, seed=42, faults=faults, **shape)
    ts = FX.generate_transcripts(spark, N, n_parts=PARTS, seed=42)
    clips_path = str(tmp_path / "clips")
    clips.repartition("part_id").write.mode("overwrite").partitionBy("part_id").parquet(clips_path)
    stored = spark.read.parquet(clips_path)
    _assert_same(*_rows_vs_files(spark, tmp_path, stored, ts, clips_path))


def test_files_strategy_several_files_per_part_and_empty_group(spark, tmp_path):
    """Every part written as several parquet files (one task per file),
    plus a third commit group whose parts have no files at all."""
    faults = FX.default_fault_plan(N)
    clips = FX.generate_clips(spark, N, n_parts=PARTS, seed=42, faults=faults)
    ts = FX.generate_transcripts(spark, N, n_parts=PARTS, seed=42)
    clips_path = str(tmp_path / "clips")
    (clips.repartition(3).write.mode("overwrite")
          .option("maxRecordsPerFile", 40).partitionBy("part_id").parquet(clips_path))
    per_part = [len(list((tmp_path / "clips" / f"part_id={p}").glob("*.parquet")))
                for p in range(PARTS)]
    assert min(per_part) >= 2
    stored = spark.read.parquet(clips_path)
    rows_run, files_run = _rows_vs_files(
        spark, tmp_path, stored, ts, clips_path, n_parts=PARTS + 4)
    _assert_same(rows_run, files_run)
    assert files_run.metrics().where(F.col("part_id") >= PARTS).count() == 4


def test_files_strategy_huge_duration_is_a_violation(spark, tmp_path):
    """A dur_ms of 2**31-1 asks for a ~34e9-sample reference; the decoded
    length already disagrees, so the row is one bad_pcm finding and the
    reference is never synthesized (through Validator and the runner)."""
    from mds_provider_spark.api import Validator

    clips = FX.generate_clips(spark, 200, n_parts=4, seed=3)
    victim = clips.orderBy("clip_id").first()["clip_id"]
    clips = clips.withColumn(
        "dur_ms",
        F.when(F.col("clip_id") == victim, F.lit(2**31 - 1)).otherwise(F.col("dur_ms")),
    )
    clips_path = str(tmp_path / "clips")
    clips.write.partitionBy("part_id").parquet(clips_path)
    stored = spark.read.parquet(clips_path)
    pcm_rule = "bad_pcm:bytes"

    res = Validator.clips(ref_wave_fn=FX.ref_waveform).validate(stored)
    got = [tuple(r) for r in res.violations.where(F.col("rule_id") == pcm_rule)
           .select("clip_id", "message").collect()]
    assert got == [(victim, "SNR -inf dB < 30.0 dB")]

    run = ValidationRun(
        spark, str(tmp_path / "out"), ref_wave_fn=FX.ref_waveform, n_parts=4,
        group_size=2, pcm_strategy="files", clips_path=clips_path,
    )
    run.run(stored)
    got = [tuple(r) for r in run.violations().where(F.col("rule_id") == pcm_rule)
           .select("clip_id", "message").collect()]
    assert got == [(victim, "SNR -inf dB < 30.0 dB")]


def test_spark_jobs_per_group_and_drift_pass(spark, tmp_path):
    """Pins the Spark jobs of one commit group and of the drift pass on
    the files reader with emit_clean and a baseline snapshot: per group 7
    for the violations write, 2 for the clean write (key-set broadcast,
    write) and 1 for the verdicts; 5 for the drift pass."""
    n = 2000
    clips = FX.generate_clips(spark, n, n_parts=4, seed=7, faults=FX.default_fault_plan(n))
    ts = FX.generate_transcripts(spark, n, n_parts=4, seed=7, missing_idx={11},
                                 orphan_count=3)
    clips_path, ts_path = str(tmp_path / "clips"), str(tmp_path / "ts")
    for df, path in ((clips, clips_path), (ts, ts_path)):
        df.repartition("part_id").write.partitionBy("part_id").parquet(path)
    stored, ts = spark.read.parquet(clips_path), spark.read.parquet(ts_path)
    snap = str(tmp_path / "snap")
    DR.snapshot(stored, ["sr_hz", "dur_ms"], "baseline").write.parquet(snap)
    baseline = spark.read.schema(S.SNAPSHOT_SCHEMA).parquet(snap)
    sc = spark.sparkContext

    def jobs(tag, stop=None, **kw):
        run = ValidationRun(
            spark, str(tmp_path / tag), ref_wave_fn=FX.ref_waveform, n_parts=4,
            group_size=2, pcm_strategy="files", clips_path=clips_path,
            emit_clean=True, **kw)
        sc.setJobGroup(tag, tag)
        try:
            run.run(stored, ts, stop_after_groups=stop)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    one, two = jobs("one", stop=1), jobs("two", stop=2)
    assert (one, two - one) == (10, 10)
    assert jobs("drift", baseline_snapshot=baseline) - two == 5
