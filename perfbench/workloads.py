"""The two workloads and the registry pass. Each workload has a ``setup``
(inputs from the seed), a ``warmup``, a closed-loop ``op`` (one
validation run) and ``follow_ups``, ops timed once after the loop. Every
op checks its output against the oracle outside its timed segments and
raises ``WrongOutput`` on a mismatch.

* ``pcm_tel``: the product path, ``ValidationRun.run`` with PCM over files,
  ``emit_clean`` and a drift baseline; then, as follow-ups, a no-op resume
  and a one-part revalidation (fingerprint -> delta -> invalidate ->
  resume -> manifest).
* ``rules_dense``: ``api.Validator`` over a table where 5 % of rows carry a
  fault; no PCM, so the JVM layers do all the work.
* ``Registry``: ten analytic registry queries over fixed files, run only
  in the traced run (see README.md for why it is not a timed workload).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from perfbench import inputs, oracle
from perfbench.common import BENCH_DIR, Clock

REGISTRY_QUERIES = (
    "group_split_documents",
    "sessionize_events",
    "pq_ann_embeddings",
    "embedding_drift_labels",
    "minhash_dedup_documents",
    "embedding_near_dup",
    "audio_fingerprint_dedup",
    "paragraph_dedup_documents",
    "audio_quality_clips",
    "filterbank_clips",
)
REGISTRY_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
REGISTRY_PINNED = os.path.join(BENCH_DIR, "registry_pinned.json")
FINGERPRINT_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
DRIFT_COLS = ("sr_hz", "dur_ms")
ROW_LAYERS = ("scan", "rules", "uniqueness", "referential", "transcript", "verdicts")
RUN_LAYERS = ("audio", "checkpoint", "drift", "incremental")


class WrongOutput(AssertionError):
    """An op finished but its output disagrees with the oracle."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


# ---------------------------------------------------------------- pcm_tel


class PcmTel:
    """Telephony clips, ``default_fault_plan``, one missing transcript and
    three orphans, laid out as ``n_parts`` part_ids in groups of
    ``group_size``."""

    name = "pcm_tel"
    layers = ROW_LAYERS + RUN_LAYERS  # every layer the op calls

    def __init__(self, spark, work: str, seed: int, n_rows: int, n_parts: int,
                 group_size: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.clock = Clock()
        self.n_rows, self.n_parts, self.group_size = n_rows, n_parts, group_size
        self.n_groups = -(-n_parts // group_size)
        self.out = os.path.join(work, "run_out")
        self.manifest = os.path.join(work, "manifest")
        self.group_commit_s: list[float] = []

    def setup(self) -> None:
        from mds_provider_spark import schema as S
        from mds_provider_spark.operators import drift as DR
        from mds_provider_spark.operators import incremental as INC
        from mds_provider_spark.sources import fixtures as FX

        self.inp = inputs.generate(
            self.spark, self.work, "clips_tel", self.seed, self.n_rows, self.n_parts,
            inputs.TELEPHONY, FX.default_fault_plan(self.n_rows), 1, 3)
        inputs.PartVersions(self.inp, self.work)
        clips, _ = self.inp.read(self.spark)
        snap = os.path.join(self.work, "baseline_snapshot")
        DR.snapshot(clips, list(DRIFT_COLS), "baseline").write.mode("overwrite").parquet(snap)
        INC.partition_fingerprints(clips, "part_id", FINGERPRINT_COLS).write.mode(
            "overwrite").parquet(self.manifest)
        self.baseline = self.spark.read.schema(S.SNAPSHOT_SCHEMA).parquet(snap)

    def _run_obj(self):
        from mds_provider_spark.plans.runner import ValidationRun
        from mds_provider_spark.sources import fixtures as FX

        return ValidationRun(
            self.spark, self.out, n_parts=self.n_parts, group_size=self.group_size,
            ref_wave_fn=FX.ref_waveform, pcm_strategy="files",
            clips_path=self.inp.clips_dir, emit_clean=True,
            baseline_snapshot=self.baseline, drift_cols=DRIFT_COLS)

    def op(self) -> None:
        """The closed-loop op: a fresh ValidationRun.run, checked. The
        follow-ups resume the last one."""
        shutil.rmtree(self.out, ignore_errors=True)
        clips, ts = self.inp.read(self.spark)
        run = self._run_obj()
        start_unix = time.time()
        with self.clock.timed("run_s"):
            summary = run.run(clips, ts)
        self.group_commit_s.extend(self._commit_times(start_unix))
        self._check_outputs(run, summary, self.n_groups)
        self.last_run = run

    def _check_outputs(self, run, summary: dict, groups_run: int) -> None:
        from mds_provider_spark.plans.checkpoint import CommitLog

        _check(summary["groups_run"] == groups_run,
               f"groups_run {summary['groups_run']} != {groups_run}")
        _check(summary.get("drift_findings") == 0,
               f"drift findings {summary.get('drift_findings')} != 0")
        _check(set(CommitLog(self.out).committed_groups()) == set(range(self.n_groups)),
               "not every group is committed")
        want = self.inp.expected(pcm=True)
        bad = oracle.diff(oracle.violation_counter(run.violations()), want)
        _check(not bad, f"violations: {bad}")
        verdicts = run.verdicts().collect()
        _check(sum(r["n_rows"] for r in verdicts) == self.n_rows, "verdict n_rows")
        clean = run.clean().count()
        _check(clean == self.inp.expected_clean(pcm=True),
               f"clean rows {clean} != {self.inp.expected_clean(pcm=True)}")

    def _commit_times(self, start_unix: float) -> list[float]:
        from mds_provider_spark.plans.checkpoint import CommitLog

        stamps = sorted(m["committed_unix"] for m in CommitLog(self.out).committed_groups().values())
        return [b - a for a, b in zip([start_unix] + stamps[:-1], stamps)]

    def resume(self) -> None:
        """Follow-up 1: a no-op resume of the last run."""
        with self.clock.timed("resume_noop_s"):
            resumed = self.last_run.run(*self.inp.read(self.spark))
        _check(resumed["groups_skipped"] == self.n_groups, f"resume ran {resumed}")

    def revalidate(self) -> None:
        """Follow-up 2: switch one part's file, then revalidate the last
        run, timed from the fingerprint scan to the manifest rewrite
        (tools/run_validation.py --manifest), then checked."""
        from mds_provider_spark.operators import incremental as INC
        from mds_provider_spark.plans.checkpoint import CommitLog

        run = self.last_run
        self.inp.versions.switch()
        clips, ts = self.inp.read(self.spark)
        with self.clock.timed("revalidate_s"):
            cur = INC.partition_fingerprints(clips, "part_id", FINGERPRINT_COLS).persist()
            base = self.spark.read.parquet(self.manifest)
            by_status: dict[str, list[int]] = {}
            for r in INC.partition_delta(cur, base).collect():
                if r["part"] is not None:
                    by_status.setdefault(r["status"], []).append(int(r["part"]))
            dirty = sorted(by_status.get("added", []) + by_status.get("changed", []))
            CommitLog(self.out).invalidate_parts(dirty)
            summary = run.run(clips, ts)
            cur.write.mode("overwrite").parquet(self.manifest)
            cur.unpersist()
        _check(dirty == [self.inp.versions.part],
               f"dirty parts {dirty} != [{self.inp.versions.part}]")
        self._check_outputs(run, summary, 1)

    @property
    def follow_ups(self):
        """Timed once per run, after the loop: together they cost about as
        much as a fresh run, which the time budget keeps for the loop."""
        return (self.resume, self.revalidate)

    def warmup(self) -> None:
        self.op()
        self.group_commit_s.clear()


# ------------------------------------------------------------ rules_dense


class RulesDense:
    """The smallest clip profile with a fault in every 20 rows and 1 % of
    transcripts missing, validated by ``api.Validator`` without PCM."""

    name = "rules_dense"
    layers = ROW_LAYERS
    follow_ups = ()

    def __init__(self, spark, work: str, seed: int, n_rows: int, n_parts: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.clock = Clock()
        self.n_rows, self.n_parts = n_rows, n_parts
        self.out = os.path.join(work, "violations_out")

    def setup(self) -> None:
        faults = oracle.dense_fault_plan(self.n_rows, self.seed)
        self.inp = inputs.generate(
            self.spark, self.work, "clips_dense", self.seed, self.n_rows, self.n_parts,
            inputs.SMALLEST, faults, self.n_rows // 100, 3)

    def warmup(self) -> None:
        # the JVM keeps compiling the planner's hot paths for about ten ops,
        # but cpu_s leaves out the compiler threads (common.tree_cpu_s);
        # what is left falls to within the per-op noise by op 3 or 4
        for _ in range(3):
            self.op()

    def op(self) -> None:
        from mds_provider_spark.api import Validator

        clips, ts = self.inp.read(self.spark)
        with self.clock.timed("run_s"):
            result = Validator().validate(clips, ts)
            result.violations.write.mode("overwrite").parquet(self.out)
            verdicts = result.verdicts.collect()

        want = self.inp.expected(pcm=False)
        got = oracle.violation_counter(self.spark.read.parquet(self.out))
        bad = oracle.diff(got, want)
        _check(not bad, f"violations: {bad}")
        _check(sum(r["n_rows"] for r in verdicts) == self.n_rows, "verdict n_rows")


# --------------------------------------------------------------- registry


def _canon(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _canon(tuple(v))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows (floats to 9 digits)."""
    return hashlib.sha256("\n".join(sorted(_canon(tuple(r)) for r in rows)).encode()).hexdigest()


class Registry:
    """The ten registry queries back to back, each forced by a count with
    the cache cleared after it, then checked against its pinned row count
    and order-insensitive hash outside the timed segment. The inputs are
    fixed files, so the seed does not apply."""

    def __init__(self, spark):
        import __spark_entry__ as entry

        self.spark = spark
        self.clock = Clock()
        self.queries = {n: entry.queries()[n] for n in REGISTRY_QUERIES}
        with open(REGISTRY_PINNED) as f:
            self.pinned = json.load(f)

    def run(self, span) -> None:
        """``span(name)`` wraps each query's timed count."""
        wrong = []
        for name, q in self.queries.items():
            with span(f"registry.{name}"), self.clock.timed("query_s"):
                q(self.spark, REGISTRY_DATA).count()
                self.spark.catalog.clearCache()
            rows = q(self.spark, REGISTRY_DATA).collect()
            self.spark.catalog.clearCache()
            got = {"rows": len(rows), "hash": result_hash(rows)}
            if got != self.pinned[name]:
                wrong.append(f"{name}: {got} != pinned {self.pinned[name]}")
        _check(not wrong, "; ".join(wrong))


WORKLOADS = {cls.name: cls for cls in (PcmTel, RulesDense)}
