"""Payload JSON round-trip (DataFile parity), registry lookup, streaming."""

import pytest
import json

import pyspark.sql.functions as F
from pyspark.sql import types as T

from mds_provider_spark import rules as R
from mds_provider_spark.sources import payloads as P
from mds_provider_spark.sources import registry as REG
from mds_provider_spark.streaming import stream as STR

TRIP_SCHEMA = T.StructType(
    [
        T.StructField("trip_id", T.StringType()),
        T.StructField("provider_id", T.StringType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("start_time", T.LongType()),
    ]
)


def _write_payload(tmp_path, version="0.4.0", n=5):
    payload = {
        "version": version,
        "data": {
            "trips": [
                {
                    "trip_id": f"t-{i}",
                    "provider_id": "p-1",
                    "trip_distance": 100.0 * i,
                    "start_time": 1546300800000 + i,
                }
                for i in range(n)
            ]
        },
    }
    p = tmp_path / f"payload_{version}.json"
    p.write_text(json.dumps(payload))
    return str(p)


def test_load_records_explodes_payload(spark, tmp_path):
    path = _write_payload(tmp_path)
    rec = P.load_records(spark, path, "trips", TRIP_SCHEMA)
    assert rec.count() == 5
    assert set(rec.columns) >= {"version", "trip_id", "trip_distance", "_version_supported"}
    assert rec.where("_version_supported").count() == 5


def test_unsupported_version_flagged(spark, tmp_path):
    ok = _write_payload(tmp_path, "0.4.0")
    bad = _write_payload(tmp_path, "1.2.0")
    rec = P.load_records(spark, [ok, bad], "trips", TRIP_SCHEMA)
    v = P.unsupported_version_violations(rec, "trip_id")
    assert v.count() == 5
    assert v.select("rule_id").distinct().collect()[0][0] == "unsupported_version:version"


def test_payload_roundtrip(spark, tmp_path):
    path = _write_payload(tmp_path)
    rec = P.load_records(spark, path, "trips", TRIP_SCHEMA, enforce_version=False)
    out = str(tmp_path / "dumped")
    P.dump_payloads(rec, out, "trips", "0.4.0")
    back = P.load_records(spark, out + "/*.json", "trips", TRIP_SCHEMA)
    assert sorted(r.trip_id for r in back.collect()) == [f"t-{i}" for i in range(5)]


def test_registry_find(spark, tmp_path):
    csv = tmp_path / "providers.csv"
    csv.write_text(
        "provider_name,provider_id,url,mds_api_url,gbfs_api_url\n"
        "Lime,63f13c48-34ff-49d2-aca7-cf6a5b6171c3,https://li.me,https://api.li.me,\n"
        "Bird,2411d395-04f2-47c9-ab66-d09e9e3c3251,https://bird.co,https://api.bird.co,\n"
    )
    reg = REG.load_registry(spark, str(csv))
    assert REG.find(reg, "  LIME ").count() == 1
    assert REG.find(reg, "2411d395-04f2-47c9-ab66-d09e9e3c3251").count() == 1
    assert REG.find(reg, "unknown").count() == 0


def test_streaming_dedup_first_arrival_wins(spark, tmp_path):
    """Cross-micro-batch content dedup: the SAME normalized text arriving
    in a later batch (within the watermark) is dropped; distinct content
    passes. Two source files -> two micro-batches with availableNow."""
    import pyspark.sql.functions as F

    from mds_provider_spark.streaming import stream as STR

    src = tmp_path / "dsrc"
    src.mkdir()
    ddl = "doc_id long, text string, ts timestamp"
    b0 = [(1, "the quick brown fox", "2024-01-01 00:00:01"),
          (2, "a different document", "2024-01-01 00:00:02")]
    b1 = [(3, "THE  quick   Brown fox", "2024-01-01 00:00:30"),  # dup of 1 after norm
          (4, "yet another new text", "2024-01-01 00:00:40")]
    import os
    import time as _time

    for name, rows in (("b0", b0), ("b1", b1)):
        spark.createDataFrame(rows, "doc_id long, text string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(src / name))
    # pin micro-batch order: the file source orders by modification time,
    # which can tie at coarse granularity — set b0 strictly older
    now = _time.time()
    for i, name in enumerate(("b0", "b1")):
        for root, _dirs, files in os.walk(str(src / name)):
            for f in files:
                os.utime(os.path.join(root, f), (now - 100 + i * 50,) * 2)
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = STR.streaming_dedup(stream, "text", "ts", "10 minutes")
    q = (
        out.writeStream.format("memory").queryName("sdedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("select * from sdedup").collect())
    assert got == [1, 2, 4], got  # 3 dropped: same digest as 1


def test_streaming_committed_exactly_once_across_restart(spark, tmp_path):
    """Kill/restart over a file stream yields EXACTLY-ONCE violation rows
    (round-4: streaming unified with the CommitLog protocol). Simulates
    the worst crash window: a partial, uncommitted batch dir left by a
    killed attempt must be overwritten by the replay and stay invisible
    to readers until its marker lands."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000, 22050, 44100, 48000]))

    # run 1: file A (one bad row 'b')
    spark.createDataFrame(
        [("a", 16000, 0), ("b", 11025, 0)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f_a"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(stream, rs, out, ckpt).awaitTermination(120)

    got1 = [
        (r.rule_id, r.clip_id)
        for r in STR.committed_stream_violations(spark, out).collect()
    ]
    assert got1 == [("bad_enum:sr_hz", "b")]

    # simulate a crash mid-batch-1: partial junk rows, NO marker
    junk_dir = tmp_path / "out" / "violations" / "batch_id=1"
    spark.createDataFrame(
        [("bad_enum:sr_hz", "JUNK-PARTIAL", "sr_hz", "junk", 0)],
        "rule_id string, clip_id string, column_name string, message string, part_id int",
    ).write.mode("overwrite").parquet(str(junk_dir))
    # reader must NOT see the uncommitted junk
    assert {
        r.clip_id for r in STR.committed_stream_violations(spark, out).collect()
    } == {"b"}

    # restart: file B arrives (bad row 'd'); same checkpoint -> batch 1
    spark.createDataFrame(
        [("c", 48000, 1), ("d", 999, 1)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f_b"))
    stream2 = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(stream2, rs, out, ckpt).awaitTermination(120)

    rows = STR.committed_stream_violations(spark, out).collect()
    # exactly-once: one violation per bad input row, junk overwritten
    assert sorted((r.rule_id, r.clip_id) for r in rows) == [
        ("bad_enum:sr_hz", "b"),
        ("bad_enum:sr_hz", "d"),
    ]

    # a third restart with no new data must add nothing
    stream3 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(stream3, rs, out, ckpt).awaitTermination(120)
    assert STR.committed_stream_violations(spark, out).count() == 2


def test_streaming_replay_of_durable_batch_is_a_no_op(spark, tmp_path):
    """The other crash window: a batch reached its commit marker but
    Spark's own checkpoint commit was lost, so the restart replays it.
    The replay must find the marker and return without rewriting
    anything: same violation rows, same marker."""
    import os

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000, 22050, 44100, 48000]))
    spark.createDataFrame(
        [("a", 16000, 0), ("b", 11025, 0)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f_a"))

    def run():
        stream = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
        STR.validate_stream_committed(stream, rs, out, ckpt).awaitTermination(120)

    def state():
        rows = sorted(
            (r.rule_id, r.clip_id)
            for r in STR.committed_stream_violations(spark, out).collect()
        )
        with open(os.path.join(out, "_commits", "00000.json")) as f:
            return rows, json.load(f)["committed_unix"]

    run()
    before = state()
    assert before[0] == [("bad_enum:sr_hz", "b")]
    # drop Spark's commit of batch 0 (and its checksum): the restart
    # then treats batch 0 as not done and replays it
    spark_commit = os.path.join(ckpt, "commits", "0")
    os.remove(spark_commit)
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    run()
    assert os.path.exists(spark_commit)  # batch 0 was replayed
    assert state() == before


def test_committed_stream_verdicts_from_markers(spark, tmp_path):
    """Per-batch verdicts are derived from commit markers alone
    (metadata-only, no violation scan) — streaming twin of the batch
    runner's per-partition verdicts."""
    src = tmp_path / "vsrc"
    src.mkdir()
    out = str(tmp_path / "vout")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000]))
    spark.createDataFrame(
        [("a", 16000, 0), ("b", 11025, 0)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame(
        [("c", 8000, 1)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f*"))
    STR.validate_stream_committed(
        stream, rs, out, str(tmp_path / "vckpt")
    ).awaitTermination(120)

    verdicts = {
        r.batch_id: (r.status, r.n_rows, r.n_violations)
        for r in STR.committed_stream_verdicts(spark, out).collect()
    }
    assert len(verdicts) == 2
    # one batch has the bad 11025 row -> fail; the other is clean -> pass
    assert sorted(v[0] for v in verdicts.values()) == ["fail", "pass"]
    assert sum(v[1] for v in verdicts.values()) == 3
    assert sum(v[2] for v in verdicts.values()) == 1


def test_committed_stream_rejects_foreign_checkpoint(spark, tmp_path):
    """Batch ids are checkpoint-relative: starting a stream over an
    out_dir whose markers came from a DIFFERENT checkpoint must raise
    (silently skipping new batches was the failure mode)."""
    src = tmp_path / "csrc"
    src.mkdir()
    out = str(tmp_path / "cout")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000]))
    spark.createDataFrame([("a", 16000, 0)], ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))
    stream = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    STR.validate_stream_committed(
        stream, rs, out, str(tmp_path / "ckpt_old")
    ).awaitTermination(120)
    stream2 = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    # a brand-new checkpoint instance (no metadata yet) against existing
    # markers is rejected up front — its batch ids restart at 0
    with pytest.raises(RuntimeError, match="brand-new instance"):
        STR.validate_stream_committed(stream2, rs, out, str(tmp_path / "ckpt_new"))


def test_committed_stream_rejects_recreated_checkpoint_same_path(spark, tmp_path):
    """The round-4 advice scenario: delete and recreate the checkpoint
    dir at the SAME path. Batch ids restart at 0 but path-keyed markers
    would still match, silently skipping every new batch as 'already
    durable'. Markers are keyed on the streaming query id (a UUID per
    checkpoint instance), so the recreated instance is detected and the
    start RAISES."""
    import shutil

    src = tmp_path / "rsrc"
    src.mkdir()
    out = str(tmp_path / "rout")
    ckpt = str(tmp_path / "rckpt")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000]))
    spark.createDataFrame([("a", 11025, 0)], ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))
    stream = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    STR.validate_stream_committed(stream, rs, out, ckpt).awaitTermination(120)
    assert STR.committed_stream_violations(spark, out).count() == 1

    # recreate the checkpoint at the same path -> new instance, ids
    # restart at 0; the old markers must NOT satisfy it
    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    with pytest.raises(RuntimeError, match="brand-new instance"):
        STR.validate_stream_committed(stream2, rs, out, ckpt)


def test_committed_stream_verdicts_raise_on_countless_marker(spark, tmp_path):
    """A marker without n_rows/n_violations (older sink) must raise in
    committed_stream_verdicts, matching committed_stream_part_verdicts —
    defaulting to 0 would report the batch as silently passing."""
    from mds_provider_spark.plans.checkpoint import CommitLog

    out = str(tmp_path / "mout")
    CommitLog(out).commit_group(0, [0], run_id="legacy", batch=0,
                                extra={"kind": "stream_batch"})
    with pytest.raises(RuntimeError, match="no row/violation counts"):
        STR.committed_stream_verdicts(spark, out).collect()


def test_committed_stream_part_verdicts_merge_across_batches(spark, tmp_path):
    """Per-PARTITION verdicts (north rule) across micro-batches: a
    partition whose rows arrive over several batches aggregates them
    all; verdict flips to fail iff any batch contributed violations."""
    src = tmp_path / "psrc"
    src.mkdir()
    out = str(tmp_path / "pout")
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000]))
    # batch 1: part 0 clean, part 1 has a violation
    spark.createDataFrame(
        [("a", 16000, 0), ("b", 11025, 1)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    # batch 2: part 0 gets a violation, part 2 clean
    spark.createDataFrame(
        [("c", 999, 0), ("d", 8000, 2)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f*"))
    STR.validate_stream_committed(
        stream, rs, out, str(tmp_path / "pckpt")
    ).awaitTermination(120)

    got = {
        r.part_id: (r.status, r.n_rows, r.n_violations)
        for r in STR.committed_stream_part_verdicts(spark, out).collect()
    }
    assert got == {
        0: ("fail", 2, 1),  # clean in batch 1, violated in batch 2
        1: ("fail", 1, 1),
        2: ("pass", 1, 0),
    }


def test_committed_stream_drift_detects_shift_exactly_once(spark, tmp_path):
    """Streaming drift through the commit protocol: a mid-stream
    distribution shift is detected in exactly the batch where it lands,
    snapshots ride in the markers (metadata-only reader), and a
    kill/restart replay neither duplicates nor drops a finding."""
    from mds_provider_spark.operators import drift as DR

    src = tmp_path / "dsrc"
    src.mkdir()
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    ddl = "clip_id string, dur_ms int, part_id int"
    rs = R.RuleSet().add(R.in_range("dur_ms", lo=1))

    base_rows = [(f"b{i}", 1000 + (i % 100), 0) for i in range(200)]
    baseline = DR.snapshot(
        spark.createDataFrame(base_rows, ddl), ["dur_ms"], "baseline"
    )

    # batch 0: same distribution as baseline -> no drift
    spark.createDataFrame(base_rows, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f_a"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream, rs, out, ckpt, drift_cols=["dur_ms"]
    ).awaitTermination(120)

    assert STR.committed_stream_drift(spark, out, baseline).count() == 0

    # batch 1 (after restart): shifted distribution -> drift in batch 1
    spark.createDataFrame(
        [(f"s{i}", 50000 + i, 0) for i in range(200)], ddl
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f_b"))
    stream2 = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream2, rs, out, ckpt, drift_cols=["dur_ms"]
    ).awaitTermination(120)

    found = STR.committed_stream_drift(spark, out, baseline).collect()
    assert [(r.batch_id, r.rule_id) for r in found] == [(1, "drift:dur_ms")]
    assert found[0].max_q_shift > 0.25

    # restart with no new data: a replayed/no-op run must change nothing
    stream3 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream3, rs, out, ckpt, drift_cols=["dur_ms"]
    ).awaitTermination(120)
    again = STR.committed_stream_drift(spark, out, baseline).collect()
    assert [(r.batch_id, r.rule_id) for r in again] == [(1, "drift:dur_ms")]

    # snapshots are marker-borne: two batches x one column
    snaps = STR.committed_stream_snapshots(spark, out)
    assert snaps.count() == 2


def test_committed_stream_drift_raises_without_snapshots(spark, tmp_path):
    """Markers written without drift_cols must raise in the drift reader
    (loud policy, matching the other marker readers)."""
    from mds_provider_spark.plans.checkpoint import CommitLog
    from mds_provider_spark.operators import drift as DR

    out = str(tmp_path / "ndout")
    CommitLog(out).commit_group(
        0, [0], run_id="r", batch=0,
        extra={"kind": "stream_batch", "n_rows": 1, "n_violations": 0,
               "per_part": {"0": [1, 0]}},
    )
    baseline = DR.snapshot(
        spark.createDataFrame([("a", 1, 0)], "clip_id string, dur_ms int, part_id int"),
        ["dur_ms"], "baseline",
    )
    with pytest.raises(RuntimeError, match="no drift snapshot"):
        STR.committed_stream_drift(spark, out, baseline).collect()


def test_legacy_markers_need_metadata_older_than_markers(spark, tmp_path):
    """Legacy (path-keyed) markers are trusted ONLY when the checkpoint
    metadata file is older than the oldest such marker — metadata that
    is NEWER means the dir was deleted and recreated after the markers
    were written (batch ids restarted), so the start must raise instead
    of silently skipping new batches."""
    import json as _json
    import os
    import time
    import uuid

    from mds_provider_spark.plans.checkpoint import CommitLog

    src = tmp_path / "lsrc"
    src.mkdir()
    ddl = "clip_id string, sr_hz int, part_id int"
    rs = R.RuleSet().add(R.is_in("sr_hz", [8000, 16000]))
    spark.createDataFrame([("a", 11025, 0)], ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))

    def mk_ckpt(path, mtime):
        os.makedirs(path)
        meta = os.path.join(path, "metadata")
        with open(meta, "w") as f:
            _json.dump({"id": str(uuid.uuid4())}, f)
        os.utime(meta, (mtime, mtime))

    # NEWER metadata than the legacy marker -> recreated instance -> raise
    out_bad = str(tmp_path / "lout_bad")
    ckpt_bad = str(tmp_path / "lckpt_bad")
    CommitLog(out_bad).commit_group(
        0, [0], run_id="legacy", batch=0,
        extra={"kind": "stream_batch",
               "checkpoint": os.path.abspath(ckpt_bad),
               "n_rows": 1, "n_violations": 1, "per_part": {"0": [1, 1]}},
    )
    mk_ckpt(ckpt_bad, time.time() + 3600)
    stream = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    with pytest.raises(RuntimeError, match="legacy"):
        STR.validate_stream_committed(stream, rs, out_bad, ckpt_bad)

    # OLDER metadata -> markers belong to this instance -> accepted, and
    # the marked batch id is honored (skipped as already durable)
    out_ok = str(tmp_path / "lout_ok")
    ckpt_ok = str(tmp_path / "lckpt_ok")
    mk_ckpt(ckpt_ok, time.time() - 3600)
    CommitLog(out_ok).commit_group(
        0, [0], run_id="legacy", batch=0,
        extra={"kind": "stream_batch",
               "checkpoint": os.path.abspath(ckpt_ok),
               "n_rows": 1, "n_violations": 1, "per_part": {"0": [1, 1]}},
    )
    stream2 = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    STR.validate_stream_committed(
        stream2, rs, out_ok, ckpt_ok
    ).awaitTermination(120)
    # batch 0 was marker-skipped: no violations dir was ever written
    assert STR.committed_stream_violations(spark, out_ok).count() == 0


def test_committed_stream_heavy_hitters_exactly_once(spark, tmp_path):
    """Marker-borne Misra-Gries twin: a hot key planted MID-STREAM is
    flagged in exactly the batch where it lands (batch 0, all-distinct
    keys, reports nothing), the summary rides the commit marker with a
    capacity-bounded payload, and a kill/restart replay neither
    duplicates nor drops the alert."""
    src = tmp_path / "hhsrc"
    src.mkdir()
    out = str(tmp_path / "hhout")
    ckpt = str(tmp_path / "hhckpt")
    ddl = "clip_id string, codec string, part_id int"
    rs = R.RuleSet().add(R.not_null("codec"))

    # batch 0: 200 distinct codecs, no hot key
    spark.createDataFrame(
        [(f"a{i}", f"codec_{i}", 0) for i in range(200)], ddl
    ).coalesce(1).write.parquet(str(src / "f_a"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream, rs, out, ckpt, hh_col="codec", hh_capacity=32
    ).awaitTermination(120)
    r0 = STR.committed_stream_heavy_hitters(spark, out, 0.25).collect()
    assert r0 == []

    # batch 1 (restart): 40% of rows share one codec -> hot
    rows1 = [(f"b{i}", "opus" if i % 5 < 2 else f"c_{i}", 0)
             for i in range(300)]
    spark.createDataFrame(rows1, ddl).coalesce(1).write.parquet(
        str(src / "f_b")
    )
    stream2 = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream2, rs, out, ckpt, hh_col="codec", hh_capacity=32
    ).awaitTermination(120)
    found = STR.committed_stream_heavy_hitters(spark, out, 0.25).collect()
    hot = [(r.batch_id, r.value, r.verdict) for r in found
           if r.verdict == "hot"]
    assert hot == [(1, "opus", "hot")], found
    opus = [r for r in found if r.value == "opus"][0]
    # MG bounds bracket the true count (120 of 300)
    assert opus.est_min <= 120 <= opus.est_max and opus.n_rows == 300

    # payload is capacity-bounded even though the batch had ~181 codecs
    from mds_provider_spark.plans.checkpoint import CommitLog

    hh1 = CommitLog(out).committed_groups()[1]["hh"]
    assert len(hh1["counters"]) <= 32

    # restart with no new data: replay must change nothing
    stream3 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream3, rs, out, ckpt, hh_col="codec", hh_capacity=32
    ).awaitTermination(120)
    again = STR.committed_stream_heavy_hitters(spark, out, 0.25).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, found))

    # reader raises on markers written without summaries
    out2, ckpt2 = str(tmp_path / "hhout2"), str(tmp_path / "hhckpt2")
    stream4 = spark.readStream.schema(ddl).parquet(str(src / "f_a"))
    STR.validate_stream_committed(stream4, rs, out2, ckpt2).awaitTermination(120)
    with pytest.raises(RuntimeError, match="no heavy-hitter summary"):
        STR.committed_stream_heavy_hitters(spark, out2, 0.25)


def test_committed_stream_histogram_drift_exactly_once(spark, tmp_path):
    """Marker-borne PSI twin: a mid-stream SHAPE change (bimodality over
    the same range) fires PSI in exactly the batch where it lands, the
    baseline is bucketed on the grid recovered from the markers, and a
    kill/restart replay neither duplicates nor drops a finding."""
    src = tmp_path / "hsrc"
    src.mkdir()
    out = str(tmp_path / "hout")
    ckpt = str(tmp_path / "hckpt")
    ddl = "clip_id string, dur_ms int, part_id int"
    rs = R.RuleSet().add(R.in_range("dur_ms", lo=1))
    bins = {"dur_ms": (0.0, 100.0)}

    base_rows = [(f"b{i}", i % 100, 0) for i in range(400)]  # uniform
    baseline = spark.createDataFrame(base_rows, ddl)

    # batch 0: uniform, same as baseline -> ok
    spark.createDataFrame(base_rows, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f_a"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream, rs, out, ckpt, hist_bins=bins
    ).awaitTermination(120)
    r0 = STR.committed_stream_histogram_drift(spark, out, baseline).collect()
    assert [(r.batch_id, r.verdict) for r in r0] == [(0, "ok")]

    # batch 1 (after restart): bimodal edges, SAME [0,100) range
    bim = [(f"s{i}", (5 if i % 2 else 95) + i % 5, 0) for i in range(400)]
    spark.createDataFrame(bim, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f_b"))
    stream2 = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream2, rs, out, ckpt, hist_bins=bins
    ).awaitTermination(120)
    found = STR.committed_stream_histogram_drift(spark, out, baseline).collect()
    assert [(r.batch_id, r.verdict) for r in found] == [(0, "ok"), (1, "drift")]
    assert found[1].psi > 0.2 and found[1].js_div > 0.0

    # restart with no new data: a replayed/no-op run must change nothing
    stream3 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream3, rs, out, ckpt, hist_bins=bins
    ).awaitTermination(120)
    again = STR.committed_stream_histogram_drift(spark, out, baseline).collect()
    assert [(r.batch_id, r.verdict) for r in again] == [(0, "ok"), (1, "drift")]

    # parity with the batch operator on the same grid: batch 1's PSI from
    # markers == histogram_drift(batch-1 data, baseline) recomputed
    from mds_provider_spark.operators import drift as DR

    direct = DR.histogram_drift(
        spark.createDataFrame(bim, ddl), baseline, bins
    ).collect()[0]
    assert abs(direct.psi - found[1].psi) < 1e-9


def test_committed_stream_histogram_requires_hist_markers(spark, tmp_path):
    """A stream run WITHOUT hist_bins cannot be read back as histogram
    drift — the reader raises loudly instead of fabricating zeros."""
    src = tmp_path / "nsrc"
    src.mkdir()
    out = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nckpt")
    ddl = "clip_id string, dur_ms int, part_id int"
    rs = R.RuleSet().add(R.in_range("dur_ms", lo=1))
    spark.createDataFrame([("a", 5, 0)], ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f_a"))
    stream = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(stream, rs, out, ckpt).awaitTermination(120)
    with pytest.raises(RuntimeError, match="no histogram counts"):
        STR.committed_stream_histogram_drift(
            spark, out, spark.createDataFrame([("a", 5, 0)], ddl)
        ).collect()


def test_committed_stream_embedding_drift_exactly_once(spark, tmp_path):
    """Marker-borne embedding-summary twin: a group rotated MID-STREAM
    is flagged in exactly the batch where it lands, the exact summary
    rides the commit marker with an O(groups x dim) payload, the
    metrics agree with the batch operator's formulas, and a replay
    changes nothing."""
    from mds_provider_spark.operators import drift as DR

    src = tmp_path / "edsrc"
    src.mkdir()
    out = str(tmp_path / "edout")
    ckpt = str(tmp_path / "edckpt")
    ddl = "clip_id string, grp string, embedding array<float>, part_id int"
    rs = R.RuleSet().add(R.not_null("grp"))

    # batch 0: two stable groups -> becomes the baseline
    rows0 = [(f"a{i}", "g1", [1.0, 0.0, 0.0], 0) for i in range(20)] + \
            [(f"b{i}", "g2", [0.0, 1.0, 0.0], 0) for i in range(20)]
    spark.createDataFrame(rows0, ddl).coalesce(1).write.parquet(
        str(src / "f_a"))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1").parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream, rs, out, ckpt, emb_col="embedding", emb_group_col="grp",
        emb_dim=3,
    ).awaitTermination(120)

    # batch 1 (restart): g2 rotated 90 degrees and doubled; g1 unchanged
    rows1 = [(f"c{i}", "g1", [1.0, 0.0, 0.0], 0) for i in range(10)] + \
            [(f"d{i}", "g2", [0.0, 0.0, 2.0], 0) for i in range(10)]
    spark.createDataFrame(rows1, ddl).coalesce(1).write.parquet(
        str(src / "f_b"))
    stream2 = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", "1").parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream2, rs, out, ckpt, emb_col="embedding", emb_group_col="grp",
        emb_dim=3,
    ).awaitTermination(120)

    got = {(r.batch_id, r.group_value): r for r in
           STR.committed_stream_embedding_drift(spark, out).collect()}
    # batch 0 IS the baseline -> only batch 1 rows
    assert set(got) == {(1, "g1"), (1, "g2")}
    assert got[(1, "g1")].centroid_cosine == 1.0
    assert got[(1, "g2")].centroid_cosine == 0.0
    assert abs(got[(1, "g2")].mean_norm_cur - 2.0) < 1e-4
    assert got[(1, "g1")].n_base == 20 and got[(1, "g1")].n_cur == 10

    # explicit baseline from a batch DataFrame (the persisted-snapshot path)
    base_df = spark.createDataFrame(rows0, ddl)
    base = DR.embedding_baseline(base_df, "embedding", "grp", dim=3)
    got2 = {(r.batch_id, r.group_value): r.centroid_cosine for r in
            STR.committed_stream_embedding_drift(spark, out, base).collect()}
    assert got2[(0, "g1")] == 1.0 and got2[(1, "g2")] == 0.0

    # payload shape: groups x dim ints in the marker
    from mds_provider_spark.plans.checkpoint import CommitLog

    emb1 = CommitLog(out).committed_groups()[1]["emb"]
    assert set(emb1["groups"]) == {"g1", "g2"}
    assert len(emb1["groups"]["g2"]["s"]) == 3

    # replay with no new data: nothing changes
    stream3 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(
        stream3, rs, out, ckpt, emb_col="embedding", emb_group_col="grp",
        emb_dim=3,
    ).awaitTermination(120)
    again = {(r.batch_id, r.group_value): r.centroid_cosine for r in
             STR.committed_stream_embedding_drift(spark, out).collect()}
    assert again == {k: v.centroid_cosine for k, v in got.items()}

    # a sink run without emb_col yields markers this reader refuses
    out2 = str(tmp_path / "edout2")
    ckpt2 = str(tmp_path / "edckpt2")
    stream4 = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
    STR.validate_stream_committed(stream4, rs, out2, ckpt2).awaitTermination(120)
    with pytest.raises(RuntimeError, match="emb_col"):
        STR.committed_stream_embedding_drift(spark, out2)


def test_committed_stream_spark_jobs_per_batch(spark, tmp_path):
    """Pins the Spark jobs of one committed micro-batch, counted by the
    query's runId job group: a plain batch takes 3 (the per-part verdicts
    collect, its exchange, the violations write); ``hh_col`` adds the
    Misra-Gries merge's exchange and its one bounded collect, plus the
    batch cache, for 6."""
    src = tmp_path / "jsrc"
    ddl = "clip_id string, codec string, part_id int"
    spark.createDataFrame(
        [(f"a{i}", "opus" if i % 3 else None, i % 4) for i in range(200)], ddl
    ).coalesce(1).write.parquet(str(src / "f_a"))
    rs = R.RuleSet().add(R.not_null("codec"))
    sc = spark.sparkContext

    def jobs(name, **kw):
        stream = spark.readStream.schema(ddl).parquet(str(src / "f_*"))
        q = STR.validate_stream_committed(
            stream, rs, str(tmp_path / f"{name}_out"),
            str(tmp_path / f"{name}_ckpt"), **kw)
        q.awaitTermination(120)
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    assert jobs("plain") == 3
    assert jobs("hh", hh_col="codec", hh_capacity=8) == 6
