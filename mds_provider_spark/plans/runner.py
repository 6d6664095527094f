"""Orchestration: the full validation run, checkpointed and skew-aware.

The 100 TB layout this encodes (and why resume is SOUND per group):
both clips and transcripts are partitioned by ``part_id =
hash(clip_id) % P`` (Iceberg ``bucket(P, clip_id)`` in production;
computed by the fixture generator here). Consequences:

  * duplicates of a unique key that contains the bucketed key column
    (``ruleset.key_col``) ALWAYS share a part_id         -> uniqueness is
    group-local; ``run`` raises ValueError before any scan for any other
    unique key, whose duplicates could span groups unreported
  * a clip and its transcript row ALWAYS share a part_id -> referential +
    transcript-equality joins are group-local
  * therefore validating part-groups independently and committing each
    group atomically loses nothing — a resumed run skips committed groups
    and every cross-row check still sees all the rows it needs.

Per group the input filter is a partition-pruned scan (``part_id IN
(...)`` prunes files/Iceberg manifests), PCM runs in Arrow batches, and
every other check is one keyed plan (``keyed_plan``): the rule
projection, the duplicate-count windows and one full-outer transcript
join, with one exchange per table. Hot-codec skew never enters a shuffle
key here (codec is only aggregated in stats, where partial agg + AQE
handle it).

A group is bound by per-job latency, not rows: its writes count rows per
part as observed metrics, verdicts and the marker's metrics rows come
from those counts (7 Spark jobs per group, files reader + emit_clean).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import (Column, DataFrame, Observation, SparkSession, Window,
                         functions as F, types as T)

from mds_provider_spark import schema as S
from mds_provider_spark.functions import audio
from mds_provider_spark.operators import referential as REF
from mds_provider_spark.operators import uniqueness as U
from mds_provider_spark.plans.checkpoint import CommitLog
from mds_provider_spark.rules import RuleSet, mds_clip_rules
from mds_provider_spark.session import local_frame


def _write_counted(df: DataFrame, parts: list[int], path: str,
                   skip: str | None = None) -> dict[int, int]:
    """Write ``df`` partitioned by part_id; return its rows per part,
    observed in the write's final stage (each task's update applied once,
    even on a stage retry). Rows where column ``skip`` is true are counted
    but not written."""
    seen = Observation()
    out = df.observe(
        seen, *[F.count_if(F.col("part_id") == p).alias(str(p)) for p in parts])
    if skip is not None:
        out = out.where(~F.col(skip)).drop(skip)
    out.write.mode("overwrite").partitionBy("part_id").parquet(path)
    return {p: seen.get[str(p)] for p in parts}


def keyed_plan(ruleset: RuleSet, clips: DataFrame,
               transcripts: DataFrame | None = None) -> DataFrame:
    """The keyed plan: one row per clip row, or per joined (clip,
    transcript) row, as ``(clip_id, part_id, _row, _hits)``. ``_row`` is
    true on exactly one row per clip row; ``_hits`` holds every finding
    of that row: the row rules, a ``duplicate_id`` per unique key,
    ``referential_orphan`` in either direction and ``transcript_mismatch``.

    The clips are projected once. A unique key's duplicate count is a
    ``count(1)`` window over its columns; keys containing ``key_col``
    share the key's exchange with the full-outer transcript join, so each
    table is shuffled once (a key without ``key_col`` pays its own
    exchange, before the shared one). A NULL key component is never a
    duplicate and a NULL key never matches (a one-sided orphan). Several
    transcript rows per key are numbered by a ``row_number`` window, and
    the clip's own findings ride only the row numbered 1 (or the unmatched
    one): no per-key array, so a hot key costs spillable window and join
    buffers, never task memory. Without transcripts and unique keys the
    plan is the rule projection alone, shuffle-free.
    """
    key, part = ruleset.key_col, ruleset.part_col
    own = [uk for uk in ruleset.unique_keys if key not in uk.cols]
    shared = [uk for uk in ruleset.unique_keys if key in uk.cols]
    keep = [key, part, *(["transcript"] if transcripts is not None else []),
            *(col for uk in own + shared for col in uk.cols)]
    c = clips.select(*dict.fromkeys(keep), ruleset.hits_column().alias("_hits"),
                     F.lit(True).alias("_c"))

    def counted(df: DataFrame, uks: list, first: int) -> DataFrame:
        return df.select("*", *[
            reduce(Column.__and__, [F.col(col).isNotNull() for col in uk.cols],
                   F.count(F.lit(1)).over(Window.partitionBy(*uk.cols)) > 1)
            .alias(f"_d{first + i}") for i, uk in enumerate(uks)])

    c = counted(c, own, 0)
    if shared or transcripts is not None:
        c = c.repartition(key)
    c = counted(c, shared, len(own))
    cid, pid, row, cross = F.col(key), F.col(part), F.lit(True), []
    if transcripts is not None:
        t = transcripts.select(F.col(key).alias("_tk"), F.col(part).alias("_tp"),
                                F.col("transcript_ref").alias("_tref"))
        t = t.withColumn("_tn", F.row_number().over(
            Window.partitionBy("_tk").orderBy("_tref")))
        c = c.join(t, F.col(key) == F.col("_tk"), "full_outer")
        present, matched = F.col("_c").isNotNull(), F.col("_tn").isNotNull()
        cid = F.when(present, cid).otherwise(F.col("_tk"))
        pid = F.when(present, pid).otherwise(F.col("_tp"))
        row = present & (~matched | (F.col("_tn") == 1))
        cross = [REF.orphan_rule(key, "clips", lambda: present & ~matched),
                 REF.orphan_rule(key, "transcripts", lambda: ~present),
                 REF.mismatch_rule(lambda: matched & REF.differs("transcript", "_tref"))]
    cross += [U.duplicate_rule(uk.cols, lambda i=i: row & F.col(f"_d{i}"))
              for i, uk in enumerate(own + shared)]
    hits = F.when(row, F.col("_hits")).otherwise(F.expr(f"cast(array() as {RuleSet._HIT_TYPE})"))
    if cross:
        hits = F.concat(hits, F.filter(F.array(*[r.hit() for r in cross]), lambda x: x.isNotNull()))
    return c.select(cid.alias("clip_id"), pid.alias("part_id"), row.alias("_row"),
                    hits.alias("_hits"))


def keyed_violations(plan: DataFrame, pcm: DataFrame | None = None) -> DataFrame:
    """The one violation builder: every finding of a ``keyed_plan`` as
    VIOLATIONS_SCHEMA rows, plus the PCM frame the caller built with its
    reader. The same rows as the union of the row-rule findings and the
    stand-alone ``duplicate_violations``, ``referential_violations`` and
    ``transcript_mismatch_violations``, from one exchange per table.
    ``RuleSet.violations`` is this builder over a row-rules-only plan."""
    v = (plan.select("clip_id", "part_id", F.explode("_hits").alias("h"))
         .select("h.rule_id", "clip_id", "h.column_name", "h.message", "part_id"))
    return v if pcm is None else v.unionByName(pcm)


def keyed_verdicts(plan: DataFrame, pcm: DataFrame | None = None) -> DataFrame:
    """VERDICTS_SCHEMA rows from a ``keyed_plan``: per part, its clip rows
    and the findings ``keyed_violations`` reports, PCM rows counted in; a
    part with no clip rows (only orphan transcripts) gets no verdict.
    Equal to ``ruleset.verdicts_from_violations`` over those violations,
    with one aggregation instead of a second scan. Pass the plan the
    violations came from: the plan is built once for both frames."""
    counts = plan.select(
        "part_id", F.col("_row").cast("long").alias("n_rows"),
        F.size("_hits").cast("long").alias("n_violations"))
    if pcm is not None:
        counts = counts.unionByName(pcm.select(
            "part_id", F.lit(0).cast("long").alias("n_rows"),
            F.lit(1).cast("long").alias("n_violations")))
    return (counts.groupBy("part_id")
            .agg(F.sum("n_rows").alias("n_rows"), F.sum("n_violations").alias("n_violations"))
            .where(F.col("n_rows") > 0)
            .select("part_id",
                    F.when(F.col("n_violations") > 0, F.lit("fail"))
                    .otherwise(F.lit("pass")).alias("status"),
                    "n_rows", "n_violations"))


@dataclass
class ValidationRun:
    spark: SparkSession
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    ruleset: RuleSet = field(default_factory=mds_clip_rules)
    ref_wave_fn: audio.RefWaveFn | None = None
    min_snr_db: float = 30.0
    n_parts: int = 16
    group_size: int = 4  # part_ids per commit group
    # "rows": mapInArrow over the DataFrame (works on any input).
    # "files": Petastorm-style — workers read column-pruned parquet slices
    # directly (requires clips_path, a part_id-partitioned parquet dir);
    # avoids shipping audio bytes over the JVM->Python pipe.
    pcm_strategy: str = "rows"
    clips_path: str | None = None
    # drift detection: a baseline snapshot DataFrame (SNAPSHOT_SCHEMA /
    # operators.drift.snapshot output). When set, run() computes the
    # current snapshot over the listed columns after the per-group loop
    # and writes drift findings to <out>/drift (one tiny broadcast join).
    baseline_snapshot: "DataFrame | None" = None
    drift_cols: tuple[str, ...] = ("sr_hz", "dur_ms")
    # quarantine gate: when True, every group also writes the rows that
    # NO violation touched (row rules, duplicates, referential, PCM) to
    # <out>/clean, inside the same atomic group commit — the validated
    # copy downstream pipelines consume. Identity is required: rows with
    # a NULL key are never clean (they cannot be matched against the
    # cross-row violation set, and any sane ruleset flags them anyway).
    # Its write also counts the input rows the verdicts report.
    emit_clean: bool = False
    # schema contract: when set (StructType or a DataFrame to copy the
    # schema from), run() raises BEFORE any scan if the input's schema
    # drifted (column added/removed/retyped) — milliseconds instead of a
    # million spurious row violations (operators/diff.schema_drift).
    expected_schema: object | None = None

    def _read(self, path: str, schema) -> DataFrame:
        """Read-back with an EXPLICIT schema: a group with zero violations
        writes an empty parquet dir (no footers), and schema inference
        would fail — with the declared schema an empty dir is just an
        empty DataFrame. The select restores the schema's column order:
        Spark appends a partition column (``part_id``) last."""
        return self.spark.read.schema(schema).parquet(path).select(*schema.fieldNames())

    def groups(self) -> list[tuple[int, list[int]]]:
        parts = list(range(self.n_parts))
        return [
            (g, parts[i : i + self.group_size])
            for g, i in enumerate(range(0, len(parts), self.group_size))
        ]

    def _pcm_violations(self, clips: DataFrame, parts: list[int]) -> DataFrame:
        """The group's PCM layer from the configured reader."""
        if self.pcm_strategy == "files":
            if not self.clips_path:
                raise ValueError("pcm_strategy='files' requires clips_path")
            return audio.pcm_violations_over_files(
                self.spark, self.clips_path, self.ref_wave_fn,
                self.min_snr_db, parts=parts,
            )
        return audio.pcm_violations(
            clips, self.ref_wave_fn, self.min_snr_db,
            key_col=self.ruleset.key_col, part_col=self.ruleset.part_col,
        )

    def run(
        self,
        clips: DataFrame,
        transcripts: DataFrame | None = None,
        stop_after_groups: int | None = None,
    ) -> dict:
        """Validate group by group; each group commits atomically.

        ``stop_after_groups`` simulates a kill for the resume test.
        Returns a summary dict (groups run/skipped, rows, violations).
        """
        key = self.ruleset.key_col
        for uk in self.ruleset.unique_keys:
            if key not in uk.cols:
                raise ValueError(
                    f"unique key {uk.cols} does not contain the bucketed key "
                    f"column {key!r}: its duplicates may span groups"
                )
        if self.expected_schema is not None:
            from mds_provider_spark.operators.diff import enforce_schema

            enforce_schema(clips, self.expected_schema)
        log = CommitLog(self.out_dir)
        done_parts = log.committed_parts()
        summary = {"run_id": self.run_id, "groups_run": 0, "groups_skipped": 0,
                   "rows": 0, "violations": 0}
        for gid, parts in self.groups():
            if set(parts) <= done_parts:
                summary["groups_skipped"] += 1
                continue
            if stop_after_groups is not None and summary["groups_run"] >= stop_after_groups:
                break
            t0 = time.monotonic()
            sub = clips.where(F.col("part_id").isin(parts))
            sub_t = (
                transcripts.where(F.col("part_id").isin(parts))
                if transcripts is not None
                else None
            )
            pcm = (self._pcm_violations(sub, parts)
                   if self.ref_wave_fn is not None else None)
            viol = keyed_violations(keyed_plan(self.ruleset, sub, sub_t), pcm)
            # clear the group's partitions first: a crashed attempt may
            # have left rows in a part whose retry writes nothing, and
            # dynamic overwrite would keep them (checkpoint.clear_parts).
            # Zombie-runner guard: re-read the commit log IMMEDIATELY
            # before the destructive clear — a racing runner may have
            # committed this group since done_parts was snapshotted at
            # run() start; clearing a committed group and crashing before
            # the rewrite would leave a valid marker pointing at deleted
            # data (silently skipped on every later resume).
            if set(parts) <= log.committed_parts():
                summary["groups_skipped"] += 1
                continue
            for name in ("violations", "verdicts", "clean"):
                log.clear_parts(name, parts)
            # one shuffle partition per part bounds the violation files
            n_viol = _write_counted(viol.repartition("part_id"), parts, log.path("violations"))
            if self.emit_clean:
                # clean = input minus every key named in the violations
                # just WRITTEN (the gate can't drift from what was
                # reported), flagged so the write counts n_rows first. A
                # positive IN is a hash existence join (NOT IN: nested loop).
                named = (self._read(log.path("violations"), S.VIOLATIONS_SCHEMA)
                         .where(F.col("part_id").isin(parts) & F.col("clip_id").isNotNull())
                         .select("clip_id"))
                flag = F.col(key).isNull() | F.col(key).isin(named)
                n_rows = _write_counted(sub.withColumn("_quarantined", flag), parts,
                                        log.path("clean"), skip="_quarantined")
            else:
                counts = dict(sub.groupBy("part_id").count().collect())
                n_rows = {p: counts.get(p, 0) for p in parts}
            # a part with no input rows gets no verdict, and its violations
            # (orphan transcripts) are not counted in the group's total
            verdicts = [(p, "fail" if n_viol[p] else "pass", n_rows[p], n_viol[p])
                        for p in parts if n_rows[p]]
            (local_frame(self.spark, verdicts, S.VERDICTS_SCHEMA)
                .write.mode("overwrite").partitionBy("part_id")
                .parquet(log.path("verdicts")))
            g_rows = sum(n_rows.values())
            g_viol = sum(v[3] for v in verdicts)
            rate = g_rows / max(time.monotonic() - t0, 1e-9)
            log.commit_group(gid, parts, self.run_id, batch=gid,
                             extra={"rows": g_rows, "violations": g_viol,
                                    "clips_per_sec": rate,
                                    "part_rows": [[p, n_rows[p]] for p in parts]})
            summary["groups_run"] += 1
            summary["rows"] += g_rows
            summary["violations"] += g_viol

        if self.baseline_snapshot is not None:
            # drift pass: one single-pass profile over the table + a
            # broadcast join of two one-row-per-column snapshots; written
            # once per run (not per group — sketches need the full table).
            # Runs even on a pure no-op resume: the caller asked for
            # drift-vs-baseline and the findings are not part of any
            # committed group, so skipping would silently return nothing.
            from mds_provider_spark.operators import drift as DR

            # `cur` is persisted so its full-table aggregate runs once,
            # for the findings and the snapshot write alike.
            cur = DR.snapshot(clips, list(self.drift_cols), self.run_id).persist()
            found = Observation()
            (DR.drift_violations(cur, self.baseline_snapshot)
                .observe(found, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite").parquet(log.path("drift")))
            summary["drift_findings"] = found.get["n"]
            cur.write.mode("overwrite").parquet(log.path("snapshot"))
            cur.unpersist()
        return summary

    # ------------------------------------------------------- read-backs

    def violations(self) -> DataFrame:
        return self._read(CommitLog(self.out_dir).path("violations"), S.VIOLATIONS_SCHEMA)

    def verdicts(self) -> DataFrame:
        return self._read(CommitLog(self.out_dir).path("verdicts"), S.VERDICTS_SCHEMA)

    def metrics(self) -> DataFrame:
        """METRICS_SCHEMA rows plus ``group_id``, one per part of every
        committed group, from the markers (none without ``part_rows``)."""
        rows = [(m["run_id"], p, m["batch"], m["clips_per_sec"], n, g)
                for g, m in sorted(CommitLog(self.out_dir).committed_groups().items())
                for p, n in m.get("part_rows", ())]
        return local_frame(self.spark, rows, T.StructType(
            [*S.METRICS_SCHEMA.fields, T.StructField("group_id", T.IntegerType())]))

    def clean(self, schema=None) -> DataFrame:
        """The validated copy (requires ``emit_clean=True`` runs). Pass
        the input schema to make an all-rows-quarantined group (empty
        parquet dir, no footers) readable."""
        p = CommitLog(self.out_dir).path("clean")
        if schema is not None:
            return self._read(p, schema)
        return self.spark.read.parquet(p)
