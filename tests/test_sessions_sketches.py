"""Sessionization + sketch-verified heavy hitters + round-5 rule/audio
additions: correctness against hand-computed expectations AND physical-
plan shape (the 100 TB claims — one shuffle for sessionize, bounded
broadcast for frequent_items — are asserted, not asserted-in-prose)."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from mds_provider_spark import rules as R
from mds_provider_spark.functions import audio
from mds_provider_spark.operators import sessions as SES
from mds_provider_spark.operators import stats as ST


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u)
         for i, (u, s) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )


# --------------------------------------------------------- sessionize


def test_sessionize_gap_cut_and_stats(spark):
    # user 1: events at t=0, 10, 20_000 (gap 19_990 > 3600 -> new session)
    # user 2: single event; user NULL: dropped
    rows = [(1, 0), (1, 10), (1, 20_000), (2, 5), (None, 7)]
    out = SES.session_stats(_ev(spark, rows), gap_s=3600).collect()
    got = {(r.user_id, r.session_idx): (r.n_events, r.duration_s, r.first_id, r.last_id)
           for r in out}
    assert got == {
        (1, 0): (2, 10, 0, 1),
        (1, 1): (1, 0, 2, 2),
        (2, 0): (1, 0, 3, 3),
    }


def test_sessionize_tie_break_deterministic(spark):
    # two events with IDENTICAL ts: ordering falls back to event_id, so
    # the session tag is stable under any input partitioning
    rows = [(7, 100), (7, 100), (7, 100 + 7200)]
    tagged = SES.sessionize(_ev(spark, rows).repartition(4), gap_s=3600)
    got = sorted((r.event_id, r.session_idx) for r in tagged.collect())
    assert got == [(0, 0), (1, 0), (2, 1)]


def test_sessionize_exactly_one_exchange(spark):
    """The scale claim: lag + running sum + final aggregate all share the
    window's hashpartitioning(key) — Catalyst must plan exactly ONE
    Exchange (subset clustering satisfies the group-by's distribution)."""
    plan = SES.session_stats(_ev(spark, [(1, 0), (2, 5)]), gap_s=60)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_session_boundary_inclusive(spark):
    # gap EXACTLY equal to gap_s does NOT cut (strict > in the operator)
    rows = [(3, 0), (3, 3600)]
    out = SES.session_stats(_ev(spark, rows), gap_s=3600).collect()
    assert len(out) == 1 and out[0].n_events == 2


# ------------------------------------------------------ frequent items


def test_frequent_items_exact_counts(spark):
    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [(None,)] * 10
    df = spark.createDataFrame(rows, "k string").repartition(6)
    out = {r.value: r.cnt
           for r in ST.frequent_items(df, "k", threshold_frac=0.3).collect()}
    # n (non-null) = 85; threshold = ceil(25.5) = 26 -> a and b qualify
    assert out == {"a": 50, "b": 30}


def test_frequent_items_small_capacity_still_no_false_negatives(spark):
    # 40% heavy value hidden among 60 distinct light values, capacity 8:
    # MG trimming may estimate low but the cutoff slack guarantees the
    # heavy value survives to the exact-verify stage
    rows = [("hot",)] * 200 + [(f"v{i}",) for i in range(60)] * 5
    df = spark.createDataFrame(rows, "k string").repartition(5)
    out = {r.value: r.cnt
           for r in ST.frequent_items(df, "k", threshold_frac=0.35,
                                      mg_capacity=8).collect()}
    assert out == {"hot": 200}


def test_frequent_items_threshold_below_slack_raises(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="slack"):
        ST.frequent_items(df, "k", threshold_frac=0.001, mg_capacity=10)


def test_frequent_items_candidate_cap_raises(spark):
    rows = [(f"v{i}",) for i in range(40)] * 3
    df = spark.createDataFrame(rows, "k string")
    with pytest.raises(RuntimeError, match="max_candidates"):
        # every value is heavy at this threshold; cap of 5 must trip
        ST.frequent_items(df, "k", threshold_frac=0.02, max_candidates=5)


def test_frequent_items_driver_collect_bounded_by_candidates(spark, monkeypatch):
    # 600 distinct values across 8 partitions: the merged MG summary set
    # is hundreds of rows (bounded by partitions*(cap+1)), but only ONE
    # value survives the cutoff. Every driver collect inside the operator
    # must be candidate-scale (<= max_candidates + 1 rows), never
    # summary-scale — the 10^6-partition design point makes the summary
    # set a driver-OOM.
    rows = [("hot",)] * 4000 + [(f"v{i}",) for i in range(600)] * 4
    df = spark.createDataFrame(rows, "k string").repartition(8)
    # patch the CONCRETE class (classic/connect subclass the public
    # pyspark.sql.DataFrame and override collect)
    _DF = type(df)
    max_candidates = 10
    seen: list[int] = []
    orig = _DF.collect

    def spy(self):
        out = orig(self)
        seen.append(len(out))
        return out

    monkeypatch.setattr(_DF, "collect", spy)
    result_df = ST.frequent_items(
        df, "k", threshold_frac=0.3, mg_capacity=64,
        max_candidates=max_candidates,
    )
    internal = list(seen)  # collects issued while building the plan
    assert internal, "operator no longer collects anything — update test"
    # +2: the single bounded collect carries the NULL total row plus up
    # to max_candidates+1 candidate rows (round-7 merge of the total
    # and candidate jobs) — still candidate-scale, never summary-scale
    assert max(internal) <= max_candidates + 2, internal
    monkeypatch.undo()
    assert {r.value: r.cnt for r in result_df.collect()} == {"hot": 4000}


def test_frequent_items_broadcast_in_plan(spark):
    rows = [("x",)] * 20 + [("y",)] * 3
    df = spark.createDataFrame(rows, "k string").repartition(3)
    out = ST.frequent_items(df, "k", threshold_frac=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan
    assert [(r.value, r.cnt) for r in out.collect()] == [("x", 20)]


# ----------------------------------------------------- cross-field rules


def test_rate_band_layered_and_inclusive(spark):
    df = spark.createDataFrame(
        [
            ("slow", "ab", 1000, 0),        # 2 cps < 30 -> fires
            ("ok_lo", "abc", 100, 0),       # exactly 30 cps -> passes
            ("fast", "a" * 200, 100, 0),    # 2000 cps > 500 -> fires
            ("null_t", None, 100, 0),       # base-invalid -> silent
            ("empty_t", "", 100, 0),        # base-invalid -> silent
            ("bad_dur", "abc", -5, 0),      # base-invalid -> silent
        ],
        "clip_id string, transcript string, dur_ms int, part_id int",
    )
    rs = R.RuleSet(key_col="clip_id", part_col="part_id").add(
        R.rate_band("transcript", "dur_ms", lo=30.0, hi=500.0)
    )
    got = {r.clip_id for r in rs.violations(df).collect()}
    assert got == {"slow", "fast"}


def test_allowed_when_value_dependent_enum(spark):
    df = spark.createDataFrame(
        [("a", "opus", 48000, 0), ("b", "opus", 44100, 0),
         ("c", "flac", 44100, 0), ("d", "opus", None, 0)],
        "clip_id string, codec string, sr_hz int, part_id int",
    )
    rs = R.RuleSet(key_col="clip_id", part_col="part_id").add(
        R.allowed_when("sr_hz", "codec", "opus", [8000, 16000, 24000, 48000])
    )
    got = {r.clip_id for r in rs.violations(df).collect()}
    assert got == {"b"}  # null sr is not_null's finding; flac unconstrained


# ------------------------------------------------------- audio additions


def test_normalize_wave_hits_target_and_clips():
    t = np.linspace(0, 1, 8000, endpoint=False)
    w = (0.001 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    out = audio.normalize_wave(w, target_rms_dbfs=-20.0)
    rms = float(np.sqrt(np.mean(out.astype(np.float64) ** 2)))
    assert abs(rms - 10 ** (-20 / 20)) < 1e-6
    # silence is returned unchanged, and a spike saturates at 1.0
    assert audio.normalize_wave(np.zeros(16, np.float32)).max() == 0.0
    spike = np.zeros(1000, np.float32)
    spike[0] = 1.0
    assert float(np.abs(audio.normalize_wave(spike, -3.0)).max()) == 1.0


def test_filterbank_frame_count_and_determinism():
    rng = np.random.default_rng(3)
    w = rng.standard_normal(1000).astype(np.float32)
    rows = audio.filterbank_of(w, 8000, n_mels=8, frame=256, hop=128)
    assert len(rows) == (1000 - 256) // 128 + 1
    assert rows == audio.filterbank_of(w, 8000, n_mels=8, frame=256, hop=128)
    # too-short input yields no frames; bad sr yields none
    assert audio.filterbank_of(w[:100], 8000) == []
    assert audio.filterbank_of(w, 0) == []


def test_normalize_clips_skip_contract(spark):
    wav = audio.encode_wav(np.full(800, 0.01, np.float32), 8000)
    df = spark.createDataFrame(
        [("a", bytearray(wav), "wav"), ("b", None, "wav"),
         ("c", bytearray(b"junk"), "nope"), (None, bytearray(wav), "wav")],
        "clip_id string, bytes binary, codec string",
    )
    out = audio.normalize_clips(df).collect()
    assert [r.clip_id for r in out] == ["a"]
    assert abs(out[0].rms_after - 0.1) < 1e-3


# ------------------------------------------------------- grouped drift


def test_grouped_snapshot_and_drift(spark):
    from mds_provider_spark.operators import drift as DR

    base_rows = [("pcm", float(i % 10)) for i in range(200)] + [
        ("opus", float(i % 10)) for i in range(200)
    ]
    # current: pcm unchanged, opus shifted far right
    cur_rows = [("pcm", float(i % 10)) for i in range(200)] + [
        ("opus", 50.0 + float(i % 10)) for i in range(200)
    ]
    mk = lambda rows: spark.createDataFrame(rows, "codec string, v double")
    base = DR.grouped_snapshot(mk(base_rows), "codec", ["v"], "base")
    cur = DR.grouped_snapshot(mk(cur_rows), "codec", ["v"], "cur")
    found = DR.drift_violations(
        cur, base, join_cols=("codec", "column_name")
    ).collect()
    assert [(r.codec, r.rule_id) for r in found] == [("opus", "drift:v")]
    # the global (ungrouped) profile on the same data must ALSO fire --
    # but the grouped result localizes it to the one moved codec, which
    # is the operator's reason to exist
    assert found[0].max_q_shift > 1.0


def test_grouped_snapshot_shape(spark):
    from mds_provider_spark.operators import drift as DR

    df = spark.createDataFrame(
        [("a", 1.0, "x"), ("a", None, "y"), ("b", 3.0, None)],
        "g string, v double, s string",
    )
    rows = DR.grouped_snapshot(df, "g", ["v", "s"], "snap").collect()
    assert {(r.g, r.column_name) for r in rows} == {
        ("a", "v"), ("a", "s"), ("b", "v"), ("b", "s")
    }
    a_v = next(r for r in rows if r.g == "a" and r.column_name == "v")
    assert a_v.null_rate == 0.5 and a_v.min_val == 1.0
    a_s = next(r for r in rows if r.g == "a" and r.column_name == "s")
    assert a_s.quantiles is None  # non-numeric: no quantile sketch
    # each (group, column) row is the ungrouped snapshot of that group
    fields = ("null_rate", "min_val", "max_val", "approx_distinct", "quantiles")
    for r in rows:
        (one,) = [s for s in DR.snapshot(
            df.where(F.col("g") == r.g), ["v", "s"], "snap"
        ).collect() if s.column_name == r.column_name]
        assert [r[f] for f in fields] == [one[f] for f in fields], r


# ------------------------------------------------------- snapshot diff


def test_snapshot_diff_statuses(spark):
    from mds_provider_spark.operators import diff as DIF

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # identical -> absent from diff
         (2, "b", 9.0),        # value change
         (3, "c", 3.0),        # NULL -> value is a change (eqNullSafe)
         (5, "e", 5.0)],       # new key
        "k long, s string, v double",
    )
    got = {(r.k, r.status) for r in DIF.snapshot_diff(old, new, ["k"]).collect()}
    assert got == {(2, "changed"), (3, "changed"), (4, "removed"), (5, "added")}
    counts = {r.status: r.n
              for r in DIF.snapshot_diff_counts(old, new, ["k"]).collect()}
    assert counts == {"changed": 2, "removed": 1, "added": 1}


def test_snapshot_diff_composite_key_and_subset_cols(spark):
    from mds_provider_spark.operators import diff as DIF

    old = spark.createDataFrame(
        [(1, 1, "x", 10.0), (1, 2, "y", 20.0)], "a long, b long, s string, v double"
    )
    new = spark.createDataFrame(
        [(1, 1, "x", 99.0), (1, 2, "z", 20.0)], "a long, b long, s string, v double"
    )
    # comparing only s: the v change on (1,1) is invisible by design
    got = {(r.a, r.b, r.status)
           for r in DIF.snapshot_diff(old, new, ["a", "b"], ["s"]).collect()}
    assert got == {(1, 2, "changed")}


# --------------------------------------------------- streaming sessions


def test_sessionize_stream_session_window(spark, tmp_path):
    import datetime as dt
    import os

    from mds_provider_spark.streaming import stream as STR

    src = tmp_path / "sess_src"
    src.mkdir()
    ddl = "event_id long, ts timestamp, user_id long"
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1),
        (1, t0 + dt.timedelta(minutes=10), 1),     # same session (gap 1h)
        (2, t0 + dt.timedelta(hours=5), 1),        # new session
        (3, t0 + dt.timedelta(minutes=1), 2),
        (4, t0, None),                              # dropped
    ]
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(ddl).parquet(str(src / "f*"))
    q = (
        STR.sessionize_stream(stream, gap="1 hour")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(str(tmp_path), "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.n_events)
           for r in spark.sql("SELECT * FROM sess_test").collect()}
    assert got == {(1, 2), (1, 1), (2, 1)}


# ----------------------------------------------------------- time rollup


def test_time_rollup_buckets_and_exact_sums(spark):
    rows = [
        (dt.datetime(2024, 1, 1, 10, 5), "click", 1.5),
        (dt.datetime(2024, 1, 1, 10, 55), "click", 2.5),
        (dt.datetime(2024, 1, 1, 11, 0), "click", 4.0),   # next bucket
        (dt.datetime(2024, 1, 1, 10, 30), "view", None),  # null sum skipped
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = SES.time_rollup(df, keys=("event_type",), sum_cols=("value",))
    got = {
        (r.bucket_start.hour, r.event_type): (r.n_rows, r.sum_value)
        for r in out.collect()
    }
    from decimal import Decimal

    assert got == {
        (10, "click"): (2, Decimal("4.000000")),
        (11, "click"): (1, Decimal("4.000000")),
        (10, "view"): (1, None),
    }


# ----------------------------------------------------- voiced-rate check


def test_voiced_seconds_kernel():
    sr = 16000
    # 100 ms of tone then 100 ms of silence: ~0.1 s voiced
    t = np.arange(int(0.1 * sr)) / sr
    tone = (0.1 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    w = np.concatenate([tone, np.zeros(int(0.1 * sr), np.float32)])
    v = audio.voiced_seconds_of(w, sr)
    assert abs(v - 0.1) < 0.021  # one 20 ms frame of slack
    assert audio.voiced_seconds_of(np.zeros(3200, np.float32), sr) == 0.0
    assert audio.voiced_seconds_of(np.zeros(0, np.float32), sr) == 0.0


def test_transcript_rate_violations_silence_and_band(spark):
    sr = 16000
    t = np.arange(int(0.2 * sr)) / sr
    tone = (0.1 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    voiced = audio.voiced_seconds_of(tone, sr)  # ~0.2 s
    ok_txt = "x" * int(100 * voiced)            # ~100 cps: inside [30, 500]
    fast_txt = "y" * int(900 * voiced)          # ~900 cps: too fast
    rows = [
        ("ok", bytearray(audio.encode_pcm_s16le(tone)), sr, 200, "pcm_s16le", ok_txt, 0),
        ("fast", bytearray(audio.encode_pcm_s16le(tone)), sr, 200, "pcm_s16le", fast_txt, 0),
        ("silent", bytearray(audio.encode_pcm_s16le(np.zeros(3200, np.float32))),
         sr, 200, "pcm_s16le", "hello", 0),
        ("no_txt", bytearray(audio.encode_pcm_s16le(tone)), sr, 200, "pcm_s16le", "", 0),
        ("no_bytes", None, sr, 200, "pcm_s16le", "hello", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, part_id int",
    )
    out = {r.clip_id: r.message for r in
           audio.transcript_rate_violations(df, lo=30.0, hi=500.0).collect()}
    assert set(out) == {"fast", "silent"}
    assert "silent audio" in out["silent"]


# -------------------------------------------------- embedding quality


def test_embedding_quality_layering(spark):
    from mds_provider_spark.operators import similarity as SIM

    inf = float("inf")
    nan = float("nan")
    unit = [1.0] + [0.0] * 63
    rows = [
        (1, unit),                          # clean -> silent
        (2, [2.0] + [0.0] * 63),            # norm 2 -> out_of_range only
        (3, [nan] + [0.0] * 63),            # NaN -> bad_type ONLY (no norm)
        (4, [-inf] + [0.0] * 63),           # Inf -> bad_type only
        (5, [1.0, 0.0]),                    # wrong dim -> bad_shape ONLY
        (6, None),                          # NULL -> not_null's finding: silent
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_id, r.rule_id)
           for r in SIM.embedding_quality_violations(df).collect()}
    assert got == {
        (2, "out_of_range:embedding_norm"),
        (3, "bad_type:embedding"),
        (4, "bad_type:embedding"),
        (5, "bad_shape:embedding"),
    }


def test_embedding_quality_pure_catalyst_no_shuffle(spark):
    from mds_provider_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(1, [1.0] + [0.0] * 63)], "vec_id long, embedding array<double>"
    )
    plan = SIM.embedding_quality_violations(df)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan        # one scan, zero shuffles
    assert "BatchEvalPython" not in plan, plan  # no Python in the hot path


# ------------------------------------------------- bucket anomalies


def test_anomalous_buckets_integer_exact_z(spark):
    # 9 quiet hours at 10 events + one 100-event spike for type 'a';
    # type 'b' is flat -> silent
    rows = []
    for h in range(10):
        n = 100 if h == 5 else 10
        rows += [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0)] * n
        rows += [(dt.datetime(2024, 1, 1, h, 1), "b", 1.0)] * 10
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    out = SES.anomalous_buckets(roll, ["event_type"], "n_rows", z_threshold=2.5)
    got = [(r.event_type, r.bucket_start.hour, r.n_rows) for r in out.collect()]
    assert got == [("a", 5, 100)]
    # z reproducible from the integer-sum formula
    import math

    s1, s2, n = 9 * 10 + 100, 9 * 100 + 100 * 100, 10
    mean = s1 / n
    sd = math.sqrt((s2 - s1 * mean) / (n - 1.0))
    z = next(r.z for r in out.collect())
    assert abs(z - round((100 - mean) / sd, 6)) < 1e-12


def test_anomalous_buckets_degenerate_groups_silent(spark):
    # single-bucket group (n=1) and zero-variance group: no division
    # blowups, no findings
    rows = [(dt.datetime(2024, 1, 1, 1), "solo", 1.0)] + [
        (dt.datetime(2024, 1, 1, h), "flat", 1.0) for h in range(4)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    assert SES.anomalous_buckets(roll, ["event_type"]).count() == 0


# ------------------------------------------------- IVF index persistence


def test_ivf_index_save_load_roundtrip(spark, tmp_path):
    from mds_provider_spark.operators import similarity as SIM

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.train_ivf_index(corpus, n_lists=4, train_sample=256)
    path = str(tmp_path / "ivf_index")
    SIM.save_ivf_index(spark, cents, path)
    loaded = SIM.load_ivf_index(spark, path)
    assert loaded.shape == cents.shape
    assert np.array_equal(loaded, cents)  # byte-faithful float64

    queries = corpus.where(F.col("vec_id") < 3)
    fresh = SIM.ivf_topk(corpus, queries, k=3, n_lists=4, train_sample=256)
    reused = SIM.ivf_topk(corpus, queries, k=3, centroids=loaded)
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, reused.collect()))


def test_ivf_load_empty_raises(spark, tmp_path):
    from mds_provider_spark.operators import similarity as SIM

    p = str(tmp_path / "empty_ivf")
    spark.createDataFrame([], "list_id int, centroid array<double>") \
        .write.parquet(p)
    with pytest.raises(ValueError, match="empty"):
        SIM.load_ivf_index(spark, p)


# ------------------------------------------------------- bucketed joins


def test_bucketed_join_elides_exchange(spark, tmp_path):
    """The co-location contract: equi-joining two tables bucketed on the
    join key with equal bucket counts must plan ZERO Exchange operators
    (and with sortBy, zero extra Sorts on the bucketed key) — the
    10^12-row join cost model every keyed operator here assumes."""
    from mds_provider_spark.plans import bucketing as B

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    B.write_bucketed(a, "bk_a", "k", n_buckets=8)
    B.write_bucketed(b, "bk_b", "k", n_buckets=8)
    # at test size the planner prefers a broadcast join (and rightly
    # disables bucketing for it); pin the large-table strategy the
    # bucketing exists for by turning auto-broadcast off
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = B.read_bucketed(spark, "bk_a").join(
            B.read_bucketed(spark, "bk_b"), "k"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() == 1000
        # contrast: the same join over plain parquet DOES shuffle
        pa, pb = str(tmp_path / "pa"), str(tmp_path / "pb")
        a.write.parquet(pa)
        b.write.parquet(pb)
        plain = spark.read.parquet(pa).join(spark.read.parquet(pb), "k")
        assert "Exchange hashpartitioning" in \
            plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_groupby_elides_exchange(spark):
    from mds_provider_spark.plans import bucketing as B

    df = spark.range(0, 500).selectExpr("id % 50 AS k", "id AS v")
    B.write_bucketed(df, "bk_g", "k", n_buckets=4)
    try:
        agg = B.read_bucketed(spark, "bk_g").groupBy("k").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_g")


# ----------------------------------------------------- clean / chunk


def test_clean_text_strips_and_counts(spark):
    from mds_provider_spark.operators import text as TX

    rows = [
        (1, "hello <b>world</b> see https://a.b/c?d=1 or mail x@y.co  now"),
        (2, "plain   text\n\nwith   runs"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.clean_text(df, "text").collect()}
    assert out[1].text_clean == "hello world see or mail now"
    assert (out[1].n_html_tag, out[1].n_url, out[1].n_email) == (2, 1, 1)
    assert out[2].text_clean == "plain text with runs"
    assert out[2].n_url == 0
    assert out[3].text_clean is None and out[3].n_email is None


def test_chunk_fixed_windows(spark):
    from mds_provider_spark.operators import text as TX

    txt = "".join(chr(ord("a") + i % 26) for i in range(1000))
    df = spark.createDataFrame(
        [(1, txt), (2, "short"), (3, ""), (4, None)], "doc_id long, text string"
    )
    rows = TX.chunk_fixed(df, "doc_id", "text", size=500, overlap=100).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk))
    # doc 1: starts 0, 400, 800 -> lengths 500, 500, 200; overlap holds
    assert [i for i, _ in sorted(by_doc[1])] == [0, 1, 2]
    c = dict(by_doc[1])
    assert (len(c[0]), len(c[1]), len(c[2])) == (500, 500, 200)
    assert c[0][400:] == c[1][:100]              # 100-char overlap
    assert c[0] + c[1][100:] + c[2][100:] == txt  # full coverage, no gaps
    assert by_doc[2] == [(0, "short")]
    assert 3 not in by_doc and 4 not in by_doc    # empty/null: no chunks


def test_chunk_fixed_bad_overlap_raises(spark):
    from mds_provider_spark.operators import text as TX

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        TX.chunk_fixed(df, "doc_id", "text", size=100, overlap=100)


# --------------------------------------------------- compression ratio


def test_compression_ratio_signals(spark):
    from mds_provider_spark.operators import text as TX

    rows = [
        (1, "ab" * 500),                      # loops -> very compressible
        (2, "".join(chr(33 + (i * 37) % 90) for i in range(1000))),  # dense
        (3, ""),                              # empty -> ratio 1.0
        (4, None),                            # skipped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.compression_ratio(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].ratio < 0.05 < out[2].ratio
    assert out[3].ratio == 1.0 and out[3].n_raw_bytes == 0
    assert out[1].n_raw_bytes == 1000


# ------------------------------------------------------ split leakage


def test_split_assign_deterministic_and_partitioned(spark):
    from mds_provider_spark.operators import text as TX

    df = spark.range(1000).selectExpr("id AS doc_id")
    a = df.select("doc_id", TX.split_assign("doc_id").alias("s")).collect()
    b = df.repartition(7).select(
        "doc_id", TX.split_assign("doc_id").alias("s")).collect()
    assert dict((r.doc_id, r.s) for r in a) == dict((r.doc_id, r.s) for r in b)
    frac = {}
    for r in a:
        frac[r.s] = frac.get(r.s, 0) + 1
    assert set(frac) == {"train", "val", "test"}
    assert frac["train"] > 700  # ~80%


def test_split_leakage_finds_cross_split_dups(spark):
    from mds_provider_spark.operators import text as TX

    # find two ids landing in different splits, give them the same text
    probe = spark.range(200).selectExpr("id AS doc_id").select(
        "doc_id", TX.split_assign("doc_id").alias("s")).collect()
    train_id = next(r.doc_id for r in probe if r.s == "train")
    test_id = next(r.doc_id for r in probe if r.s == "test")
    other = next(r.doc_id for r in probe
                 if r.s == "train" and r.doc_id != train_id)
    rows = [(train_id, "the shared leaking text"),
            (test_id, "The shared   LEAKING text"),   # normalizes equal
            (other, "unique content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.split_leakage(df, "doc_id", "text").collect()
    assert len(out) == 1 and out[0].n_splits == 2 and out[0].n_docs == 2


# ------------------------------------------------- changepoint


def test_changepoint_locates_planted_level_shift(spark):
    # type 'a': 6 hours at 10 events then 6 hours at 50 -> split after
    # hour 5; type 'b' flat -> zero-variance, silent.
    rows = []
    for h in range(12):
        n = 10 if h < 6 else 50
        rows += [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0)] * n
        rows += [(dt.datetime(2024, 1, 1, h, 1), "b", 1.0)] * 7
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    out = SES.changepoint_mean_shift(roll, ["event_type"], "n_rows").collect()
    assert len(out) == 1
    r = out[0]
    assert r.event_type == "a" and r.split_after.hour == 5
    assert (r.n_left, r.n_right) == (6, 6)
    assert r.mean_left == 10.0 and r.mean_right == 50.0 and r.shift == 40.0
    # score reproducible from the exact integer-sum formula
    import math

    s1, n, k = 6 * 10 + 6 * 50, 12, 6
    t2 = 6 * 100 + 6 * 2500
    sd = math.sqrt((t2 - s1 * s1 / n) / (n - 1.0))
    want = abs(50.0 - 10.0) / (sd * math.sqrt(1 / 6 + 1 / 6))
    assert abs(r.score - round(want, 6)) < 1e-12


def test_changepoint_min_buckets_and_degenerate_silent(spark):
    # 3-bucket group (< min_buckets=4) and a flat group: no rows, no
    # division blowups
    rows = [(dt.datetime(2024, 1, 1, h, 1), "short", 1.0) for h in range(3)]
    rows += [(dt.datetime(2024, 1, 1, h, 1), "flat", 1.0) for h in range(8)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    assert SES.changepoint_mean_shift(roll, ["event_type"]).count() == 0


def test_changepoint_single_exchange(spark):
    # all four window specs share one hash-partitioning: exactly one
    # Exchange in the physical plan (the rollup agg's own exchange aside)
    rows = [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0) for h in range(6)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",)).localCheckpoint()
    plan = SES.changepoint_mean_shift(roll, ["event_type"], "n_rows") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ------------------------------------------------- robust (MAD) outliers


def test_robust_anomalous_buckets_spike_found_median_unmoved(spark):
    # 11 quiet hours at 10, one 200-spike: median/MAD ignore the spike
    # entirely (med=10, mad=0 would silence -> use mild jitter instead)
    rows = []
    jitter = [10, 11, 10, 9, 10, 11, 9, 10, 11, 9, 10]
    for h, n in enumerate(jitter + [200]):
        rows += [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0)] * n
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    out = SES.robust_anomalous_buckets(roll, ["event_type"], "n_rows").collect()
    assert len(out) == 1
    r = out[0]
    assert r.bucket_start.hour == 11 and r.n_rows == 200
    # lower median of sorted jitter+200 (n=12 -> rank 6): 10; MAD from
    # deviations [0x5, 1x6, 190] -> rank 6 -> 1
    assert r.median == 10 and r.mad == 1
    assert r.m_score == round(0.6745 * 190.0, 6)


def test_robust_vs_zscore_masking(spark):
    # the case the z-score screen MISSES: a colossal spike inflates sd
    # so its own z stays under 2.5 with few buckets; MAD still flags it
    counts = [10, 12, 9, 11, 10, 13, 2000]
    rows = []
    for h, n in enumerate(counts):
        rows += [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0)] * n
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    z = SES.anomalous_buckets(roll, ["event_type"], "n_rows", z_threshold=2.5)
    robust = SES.robust_anomalous_buckets(roll, ["event_type"], "n_rows")
    assert z.count() == 0          # masked: z of the spike ~ 2.27
    assert robust.count() == 1     # MAD is not draggable


def test_robust_anomalous_buckets_degenerate_silent(spark):
    # mad == 0 (constant series) and n < 4: silent, no division blowups
    rows = [(dt.datetime(2024, 1, 1, h, 1), "flat", 1.0) for h in range(8)]
    rows += [(dt.datetime(2024, 1, 1, h, 1), "tiny", 1.0) for h in range(3)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    assert SES.robust_anomalous_buckets(roll, ["event_type"]).count() == 0


def test_robust_anomalous_buckets_single_exchange(spark):
    rows = [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0) for h in range(6)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",)).localCheckpoint()
    plan = SES.robust_anomalous_buckets(roll, ["event_type"], "n_rows") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ------------------------------------------------- completeness gaps


def test_missing_buckets_finds_dark_hours(spark):
    # data at hours 0,1,2,5,6 -> hours 3,4 missing; key 'b' complete
    rows = [(dt.datetime(2024, 1, 1, h, 1), "a", 1.0) for h in (0, 1, 2, 5, 6)]
    rows += [(dt.datetime(2024, 1, 1, h, 1), "b", 1.0) for h in (0, 1)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    out = SES.missing_buckets(roll, ["event_type"]).collect()
    got = sorted((r.event_type, r.bucket_start.hour) for r in out)
    assert got == [("a", 3), ("a", 4)]


def test_missing_buckets_single_bucket_key_silent(spark):
    rows = [(dt.datetime(2024, 1, 1, 5, 1), "solo", 1.0)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    roll = SES.time_rollup(df, keys=("event_type",))
    assert SES.missing_buckets(roll, ["event_type"]).count() == 0
