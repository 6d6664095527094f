"""Property-based tests (hypothesis) over the engine's pure functions —
codecs, versions, fixture determinism. The reference has no property
tests (SURVEY.md §5.1); these harden exactly the numeric kernels the
distributed paths delegate to. No Spark session needed: fast."""

import numpy as np
from hypothesis import given, settings, strategies as st

from mds_provider_spark.functions import audio
from mds_provider_spark.functions.versions import Version
from mds_provider_spark.sources import fixtures as FX

waves = st.integers(min_value=0, max_value=2**31 - 1).map(
    lambda seed: (
        0.8
        * np.sin(
            2 * np.pi
            * (50 + seed % 500)
            * np.arange(400 + seed % 2000) / 8000.0
        )
    ).astype(np.float32)
)


@settings(max_examples=30, deadline=None)
@given(waves, st.sampled_from(sorted(audio.ENCODERS)))
def test_codec_roundtrip_meets_snr_floor(wave, codec):
    dec = audio.decode(codec, audio.ENCODERS[codec](wave))
    assert dec.size == wave.size
    assert audio.snr_db(wave, dec) >= 30.0


@settings(max_examples=50, deadline=None)
@given(
    st.tuples(st.integers(0, 20), st.integers(0, 20), st.integers(0, 99)),
    st.tuples(st.integers(0, 20), st.integers(0, 20), st.integers(0, 99)),
)
def test_version_ordering_total_and_consistent(a, b):
    va = Version(".".join(map(str, a)))
    vb = Version(".".join(map(str, b)))
    assert (va < vb) == (a < b)
    assert (va == vb) == (a == b)
    assert str(Version(str(va))) == str(va)  # parse/print round-trip


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000), st.integers(0, 2**31 - 1))
def test_fixture_rows_are_pure_functions(i, seed):
    assert FX.clip_id_at(seed, i) == FX.clip_id_at(seed, i)
    assert FX.transcript_at(seed, i) == FX.transcript_at(seed, i)
    cid = FX.clip_id_at(seed, i)
    w1 = FX.ref_waveform(cid, 8000, 100)
    w2 = FX.ref_waveform(cid, 8000, 100)
    assert np.array_equal(w1, w2)
    assert 0 <= FX.part_id_of(cid, 16) < 16


@settings(max_examples=30, deadline=None)
@given(waves)
def test_snr_identity_and_symmetric_degradation(wave):
    assert audio.snr_db(wave, wave) == float("inf")
    noisy = wave + 0.3 * np.ones_like(wave)
    assert audio.snr_db(wave, noisy) < audio.snr_db(wave, wave)


@settings(max_examples=30, deadline=None)
@given(waves)
def test_wav_container_roundtrip_is_exactly_pcm(wave):
    """The RIFF/WAVE container adds framing, not loss: decoding it must
    be bit-identical to the raw s16le round trip."""
    via_wav = audio.decode_wav(audio.encode_wav(wave))
    via_pcm = audio.decode_pcm_s16le(audio.encode_pcm_s16le(wave))
    assert np.array_equal(via_wav, via_pcm)


@settings(max_examples=50, deadline=None)
@given(waves, st.integers(0, 40))
def test_wav_truncation_raises_not_garbage(wave, cut):
    """A truncated container must raise (fault-isolated by callers),
    never silently decode wrong-length audio from a partial buffer."""
    buf = audio.encode_wav(wave)
    trunc = buf[: min(cut, len(buf) - 1)]
    try:
        dec = audio.decode_wav(trunc)
    except Exception:
        return
    # headers may survive the cut; then the data chunk must be shorter
    assert dec.size < wave.size


@settings(max_examples=30, deadline=None)
@given(waves, st.sampled_from([8000, 16000, 44100]))
def test_quality_features_ranges(wave, sr):
    s, c, d, ce = audio.quality_features_of(wave, sr)
    assert 0.0 <= s <= 1.0 and 0.0 <= c <= 1.0
    assert 0.0 <= d <= sr / 2 and 0.0 <= ce <= sr / 2


_BOUND_INT = st.integers(-10, 10)


@settings(max_examples=300, deadline=None)
@given(
    draft4=st.booleans(),
    minimum=st.none() | _BOUND_INT,
    maximum=st.none() | _BOUND_INT,
    ex_min=st.none() | st.booleans(),
    ex_max=st.none() | st.booleans(),
    ex_min6=st.none() | _BOUND_INT,
    ex_max6=st.none() | _BOUND_INT,
    value=st.integers(-12, 12),
)
def test_compiler_bounds_match_jsonschema(
    draft4, minimum, maximum, ex_min, ex_max, ex_min6, ex_max6, value
):
    """_bounds() vs the reference mechanism on bare-number instances,
    BOTH dialects: draft-04 boolean exclusivity modifiers and draft-06
    numeric exclusive bounds (including both-keywords-present)."""
    import jsonschema

    from mds_provider_spark.schema_compiler import _bounds

    spec = {}
    if minimum is not None:
        spec["minimum"] = minimum
    if maximum is not None:
        spec["maximum"] = maximum
    if draft4:
        if ex_min is not None:
            spec["exclusiveMinimum"] = ex_min
        if ex_max is not None:
            spec["exclusiveMaximum"] = ex_max
        validator = jsonschema.Draft4Validator(spec)
    else:
        if ex_min6 is not None:
            spec["exclusiveMinimum"] = ex_min6
        if ex_max6 is not None:
            spec["exclusiveMaximum"] = ex_max6
        validator = jsonschema.Draft6Validator(spec)

    lo, lo_inc, hi, hi_inc = _bounds(spec)
    mine = False
    if lo is not None:
        mine |= value < lo if lo_inc else value <= lo
    if hi is not None:
        mine |= value > hi if hi_inc else value >= hi
    want = bool(list(validator.iter_errors(value)))
    assert mine == want, (spec, value, (lo, lo_inc, hi, hi_inc))


@settings(max_examples=30, deadline=None)
@given(
    st.integers(1, 6),   # frames
    st.integers(1, 24),  # height
    st.integers(1, 24),  # width
    st.integers(0, 2**31 - 1),
    st.integers(1, 4),   # step
)
def test_y4m_roundtrip_and_step_decode(n, h, w, seed, step):
    from mds_provider_spark.functions import video

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    buf = video.encode_y4m(frames, fps=25)
    dec, fps = video.decode_y4m(buf)
    assert fps == (25, 1) and np.array_equal(dec, frames)
    sampled, _ = video.decode_y4m(buf, step=step)
    assert np.array_equal(sampled, frames[::step])


@settings(max_examples=30, deadline=None)
@given(waves, st.sampled_from([8000, 16000]), st.integers(10, 200))
def test_segment_features_cover_exactly(wave, sr, seg_ms):
    segs = audio.segment_features_of(wave, sr, seg_ms)
    assert sum(s[2] for s in segs) == wave.size        # sample conservation
    assert [s[0] for s in segs] == list(range(len(segs)))  # contiguous idx
    sizes = [s[2] for s in segs]
    assert all(x == sizes[0] for x in sizes[:-1])      # only the tail is short
    assert segs[0][1] == 0                             # first starts at 0 ms


# ---------------------------------------- integrity family properties
# One Spark session per test FILE is module-scoped (conftest); hypothesis
# drives many examples through the same session, so each example is a
# small createDataFrame + collect — cheap enough for max_examples=10.


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]),
                  st.integers(min_value=0, max_value=200),
                  st.integers(min_value=1, max_value=40)),
        min_size=1, max_size=60,
    )
)
def test_interval_integrity_coverage_matches_bruteforce(spark, rows):
    from mds_provider_spark.operators import integrity as ING

    data = [(k, s, s + d) for k, s, d in rows]
    df = spark.createDataFrame(data, "k string, s long, e long")
    got = {r.k: r for r in ING.interval_integrity(df, ["k"], "s", "e").collect()}
    by_key: dict = {}
    for k, s, e in data:
        by_key.setdefault(k, []).append((s, e))
    for k, ivs in by_key.items():
        covered = set()
        for s, e in ivs:
            covered.update(range(s, e))
        assert got[k].covered_s == float(len(covered)), (k, ivs)
        assert got[k].n_intervals == len(ivs)
        assert got[k].span_s == float(
            max(e for _, e in ivs) - min(s for s, _ in ivs))


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]),
                  st.integers(min_value=0, max_value=10_000)),
        min_size=1, max_size=80,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_sample_per_group_equals_naive_topk(spark, rows, k):
    import hashlib

    from mds_provider_spark.operators import integrity as ING

    from pyspark.sql import functions as F

    data = [(g, f"id{i}-{v}") for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, id string").repartition(5)
    out = ING.sample_per_group(
        df.withColumn("h", F.md5("id")), ["g"], ["h", "id"], k=k
    ).collect()
    got = sorted((r.g, r.id) for r in out)
    want = []
    for g in {g for g, _ in data}:
        ids = sorted((i for gg, i in data if gg == g),
                     key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))
        want += [(g, i) for i in ids[:k]]
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=12),
             min_size=1, max_size=40)
)
def test_sequence_integrity_bruteforce_parity(spark, poss):
    from collections import Counter

    from mds_provider_spark.operators import integrity as ING

    df = spark.createDataFrame([("k", p) for p in poss], "k string, pos int")
    out = ING.sequence_integrity(df, ["k"], "pos").collect()
    c = Counter(poss)
    dups = sum(1 for v in c.values() if v > 1)
    missing = (max(poss) - min(poss) + 1) - len(c)
    flagged = dups > 0 or missing > 0 or min(poss) != 1
    assert bool(out) == flagged
    if out:
        r = out[0]
        assert (r.n_dup_positions, r.n_missing) == (dups, missing)
        assert r.n_rows == len(poss) and r.n_positions == len(c)


@settings(max_examples=30, deadline=None)
@given(waves, st.floats(min_value=0.1, max_value=10.0))
def test_audio_embedding_gain_moves_all_bins_equally(wave, gain):
    """log-mel centroid property: scaling the waveform by g lifts every
    bin by ~2*log10(g) (power scales by g^2) — the invariant the
    per-codec drift check's mean-norm monitor rides on."""
    e = audio.audio_embedding_of(wave, 8000)
    eg = audio.audio_embedding_of(wave * gain, 8000)
    assert e is not None and eg is not None
    want = 2.0 * np.log10(gain)
    # the 1e-10 log floor breaks the shift invariance for bins holding
    # only leakage energy (a pure sine concentrates in ~one mel bin), so
    # assert it only where the base energy sits well above the floor
    loud = [(a, b) for a, b in zip(e, eg) if a > -6.0 and b > -6.0]
    assert loud, e
    assert all(abs((b - a) - want) < 0.1 for a, b in loud)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=2**31 - 1))
def test_audio_embedding_short_and_bad_sr_skip(seed):
    w = (np.sin(np.arange(seed % 255) / 10.0)).astype(np.float32)
    assert audio.audio_embedding_of(w, 8000) is None  # < one frame
    full = np.sin(np.arange(400) / 10.0).astype(np.float32)
    assert audio.audio_embedding_of(full, 0) is None
    assert audio.audio_embedding_of(full, -1) is None
