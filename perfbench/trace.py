"""The traced run: per-layer wall, CPU, slot use, shuffle, spill and rows.

Spans are recorded from the benchmark's own code around the public call
of each layer (name, start, end, parent, run id), kept in memory and
written to ``spans.jsonl`` at the end. Each span also tags its Spark jobs
with ``setJobGroup(<layer>)``; after the session stops, the event log is
reduced to executor run time, shuffle bytes and spill per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager

from perfbench.common import SLOTS, process_tree, tree_cpu_s
from perfbench.workloads import DRIFT_COLS, FINGERPRINT_COLS

VALIDATION_LAYERS = ("scan", "rules", "uniqueness", "referential", "transcript", "audio",
                     "verdicts", "checkpoint", "drift", "incremental")
LAYER_FIELDS = ("wall_s", "cpu_s", "busy_share", "shuffle_mb", "spill_mb", "rows_out")
KERNEL_TIMES = ("read_s", "decode_s", "ref_synth_s", "snr_s")
KERNEL_COUNTS = ("rows_checked", "rows_skipped", "rows_batch_path", "decode_failed")
KERNEL_SAMPLE_ROWS = 2000
META_GROUP = "_meta"  # jobs that only count outputs; attributed to no layer


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(name, name)
        pids = process_tree()
        cpu0, t0 = tree_cpu_s(pids), time.time()
        try:
            yield
        finally:
            t1 = time.time()
            cpu = tree_cpu_s(process_tree()) - cpu0
            self._stack.pop()
            sc.setJobGroup(parent or META_GROUP, parent or META_GROUP)
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent,
                               "run_id": self.run_id, "cpu_s": cpu})

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def cpu(self, name: str) -> float:
        return sum(s["cpu_s"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run time (s), executor CPU (s), shuffle
    bytes written (MB) and bytes spilled to disk (MB)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    # Spark 4 writes each application's log as a directory of event files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or META_GROUP
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(stage_group.get(ev.get("Stage ID"), META_GROUP),
                                         {"run_s": 0.0, "exec_cpu_s": 0.0,
                                          "shuffle_mb": 0.0, "spill_mb": 0.0})
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return out


def layer_metrics(tracer: Tracer, groups: dict, names) -> dict[str, float]:
    out = {}
    for name in names:
        wall = tracer.wall(name)
        g = groups.get(name, {})
        out[f"{name}.wall_s"] = wall
        out[f"{name}.cpu_s"] = tracer.cpu(name)
        out[f"{name}.busy_share"] = g.get("run_s", 0.0) / (wall * SLOTS) if wall else 0.0
        out[f"{name}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
        out[f"{name}.spill_mb"] = g.get("spill_mb", 0.0)
        out[f"{name}.rows_out"] = float(tracer.rows.get(name, 0))
    return out


# ---------------------------------------------------------------- layers


def trace_validation_layers(tracer: Tracer, inp, work: str, layers, n_parts: int,
                            group_size: int) -> None:
    """Call the public function of each of ``layers`` (the ones the
    workload's op calls) on ``inp`` under its own span and force it the
    way the runner does (a parquet write). Layers left out read 0."""
    from mds_provider_spark import schema as S
    from mds_provider_spark.functions import audio
    from mds_provider_spark.operators import drift as DR
    from mds_provider_spark.operators import incremental as INC
    from mds_provider_spark.operators import referential as REF
    from mds_provider_spark.operators import uniqueness as U
    from mds_provider_spark.plans.checkpoint import CommitLog
    from mds_provider_spark.rules import mds_clip_rules
    from mds_provider_spark.sources import fixtures as FX

    spark = tracer.spark
    base = os.path.join(work, "layers")
    rs = mds_clip_rules()
    # the runner's own layers (checkpoint, drift, incremental) come together
    runner = "checkpoint" in layers

    # untraced set-up for the drift and incremental layers: a baseline
    # snapshot and a manifest of the current version, then a one-part switch
    clips, ts = inp.read(spark)
    if runner:
        baseline = DR.snapshot(clips, list(DRIFT_COLS), "baseline").collect()
        manifest = os.path.join(base, "manifest")
        INC.partition_fingerprints(clips, "part_id", FINGERPRINT_COLS).write.mode(
            "overwrite").parquet(manifest)

    def force(name: str, df) -> None:
        path = os.path.join(base, name)
        with tracer.span(name):
            df.write.mode("overwrite").parquet(path)
        tracer.rows[name] = spark.read.parquet(path).count()

    with tracer.span("scan"):
        tracer.rows["scan"] = spark.read.parquet(inp.clips_dir).count()
    clips, ts = inp.read(spark)
    force("rules", rs.violations(clips))
    force("uniqueness", U.duplicate_violations(clips, ["clip_id"]))
    force("referential", REF.referential_violations(clips, ts))
    force("transcript", REF.transcript_mismatch_violations(clips, ts))
    if "audio" in layers:
        force("audio", audio.pcm_violations_over_files(spark, inp.clips_dir, FX.ref_waveform))

    layer_out = [os.path.join(base, n) for n in
                 ("rules", "uniqueness", "referential", "transcript", "audio") if n in layers]
    violations = spark.read.schema(S.VIOLATIONS_SCHEMA).parquet(*layer_out)
    force("verdicts", rs.verdicts_from_violations(clips, violations))
    if not runner:
        return

    log = CommitLog(os.path.join(base, "commit"))
    parts = list(range(n_parts))
    with tracer.span("checkpoint"):
        for gid, lo in enumerate(range(0, n_parts, group_size)):
            group = parts[lo : lo + group_size]
            log.clear_parts("violations", group)
            (violations.where(violations.part_id.isin(group)).repartition("part_id")
             .write.mode("overwrite").partitionBy("part_id").parquet(log.path("violations")))
            log.commit_group(gid, group, tracer.run_id, batch=gid)
    tracer.rows["checkpoint"] = spark.read.parquet(log.path("violations")).count()

    base_snap = spark.createDataFrame(baseline, S.SNAPSHOT_SCHEMA)
    force("drift", DR.drift_violations(
        DR.snapshot(clips, list(DRIFT_COLS), tracer.run_id), base_snap))

    inp.versions.switch()
    clips, _ = inp.read(spark)
    with tracer.span("incremental"):
        cur = INC.partition_fingerprints(clips, "part_id", FINGERPRINT_COLS)
        delta = INC.partition_delta(cur, spark.read.parquet(manifest)).collect()
        dirty = [r["part"] for r in delta if r["status"] in ("added", "changed")]
        log.invalidate_parts(dirty)
    tracer.rows["incremental"] = len(dirty)


def unit_of(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("busy_share", "ratio"), ("_pct", "%")):
        if metric.endswith(suffix):
            return unit
    return "count"


def pcm_kernel(inp, n_rows: int = KERNEL_SAMPLE_ROWS) -> dict[str, float]:
    """Time the PCM check's kernel in-process over a fixed sample of rows
    read with pyarrow from the same files: read, decode, reference
    synthesis and SNR, plus the row counts of each path. All 0 when
    ``inp`` is None (a workload without a PCM call)."""
    import pyarrow.parquet as pq

    from mds_provider_spark.functions import audio
    from mds_provider_spark.sources import fixtures as FX

    t = dict.fromkeys(KERNEL_TIMES, 0.0)
    c = dict.fromkeys(KERNEL_COUNTS, 0)
    files = [] if inp is None else sorted(
        glob.glob(os.path.join(inp.clips_dir, "part_id=*", "*.parquet")))
    per_file = max(1, -(-n_rows // max(1, len(files))))
    batch_max = audio._BATCH_MAX_SAMPLES
    for path in files:
        t0 = time.perf_counter()
        rb = next(pq.ParquetFile(path).iter_batches(
            batch_size=per_file, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]))
        rows = list(zip(*(rb.column(i).to_pylist() for i in range(5))))
        t["read_s"] += time.perf_counter() - t0
        for cid, buf, sr, dur, codec in rows:
            if (buf is None or cid is None or codec not in audio.DECODERS
                    or sr is None or dur is None or sr <= 0 or dur <= 0):
                c["rows_skipped"] += 1
                continue
            t0 = time.perf_counter()
            try:
                dec = audio.decode(codec, buf)
            except Exception:  # undecodable bytes are a finding, not an error
                c["decode_failed"] += 1
                continue
            t1 = time.perf_counter()
            ref = FX.ref_waveform(cid, sr, dur)
            t2 = time.perf_counter()
            audio.snr_db(ref, dec)
            t3 = time.perf_counter()
            t["decode_s"] += t1 - t0
            t["ref_synth_s"] += t2 - t1
            t["snr_s"] += t3 - t2
            c["rows_checked"] += 1
            if max(1, sr * dur // 1000) <= batch_max:
                c["rows_batch_path"] += 1
    return {**{f"audio.{k}": v for k, v in t.items()},
            **{f"audio.{k}": float(v) for k, v in c.items()}}
