"""Audio codec round-trips, SNR math, and the Arrow-batched PCM check."""

import numpy as np
import pytest

from mds_provider_spark import schema as S
from mds_provider_spark.functions import audio
from mds_provider_spark.sources import fixtures as FX


@pytest.mark.parametrize("codec", ["pcm_s16le", "wav", "flac", "opus", "mp3"])
def test_codec_roundtrip_snr(codec):
    wave = FX.ref_waveform("test-clip", 16000, 200)
    enc = audio.ENCODERS[codec](wave)
    dec = audio.decode(codec, enc)
    assert dec.size == wave.size
    got = audio.snr_db(wave, dec)
    # lossless paths are bit-ish exact (>90 dB), lossy stand-ins >=30 dB
    assert got >= 35.0, (codec, got)


def test_snr_detects_corruption():
    wave = FX.ref_waveform("x", 8000, 100)
    noisy = wave + 0.5 * np.random.default_rng(0).standard_normal(wave.size).astype("f4")
    enc = audio.encode_pcm_s16le(noisy)
    dec = audio.decode_pcm_s16le(enc)
    assert audio.snr_db(wave, dec) < 10.0


def test_unknown_codec_raises():
    with pytest.raises(NotImplementedError):
        audio.decode("amr", b"\x00\x01")


def test_pcm_violations_finds_only_bad_rows(spark):
    faults = {5: "bad_pcm"}
    clips = FX.generate_clips(spark, 40, n_parts=4, seed=7, faults=faults)
    v = audio.pcm_violations(clips, FX.ref_waveform).collect()
    assert len(v) == 1
    assert v[0].rule_id == "bad_pcm:bytes"
    assert v[0].clip_id == FX.clip_id_at(7, 5)
    assert "SNR" in v[0].message


def test_pcm_check_owns_null_bytes_and_skips_unknown_codec(spark):
    clips = FX.generate_clips(
        spark, 30, n_parts=4, seed=7, faults={3: "null_bytes", 4: "bad_codec"}
    )
    v = audio.pcm_violations(clips, FX.ref_waveform).collect()
    # null bytes reported HERE (the only stage that scans the binary col);
    # unknown codec is the enum rule's finding -> skipped here
    assert [(r.rule_id, r.clip_id) for r in v] == [
        ("missing_field:bytes", FX.clip_id_at(7, 3))
    ]


def test_audio_features(spark):
    clips = FX.generate_clips(spark, 20, n_parts=4, seed=11)
    feats = audio.audio_features(clips).collect()
    assert len(feats) == 20
    for r in feats:
        assert r.n_samples > 0
        assert 0.1 < r.rms < 0.6
        assert r.zero_crossings > 0


def test_ref_waveform_memo_bit_identical():
    """The per-process second-harmonic memo must not change a single bit
    vs synthesizing both harmonics inline (the generator/checker/oracle
    share this waveform byte-for-byte)."""
    from mds_provider_spark.sources import fixtures as FX

    def ref_inline(clip_id, sr_hz, dur_ms):
        freq, phase = FX._wave_params(clip_id)
        n = max(1, int(sr_hz) * int(dur_ms) // 1000)
        t = np.arange(n, dtype=np.float64) / float(sr_hz)
        w = 0.42 * np.sin(2 * np.pi * freq * t + phase)
        w += 0.11 * np.sin(2 * np.pi * 2.17 * freq * t)
        return w.astype(np.float32)

    ids = [FX.clip_id_at(11, i) for i in range(64)]
    for sr, dur in [(8000, 80), (16000, 200), (44100, 25), (16000, 1)]:
        for cid in ids:
            got = FX.ref_waveform(cid, sr, dur)       # memoized path
            again = FX.ref_waveform(cid, sr, dur)     # warm-memo path
            want = ref_inline(cid, sr, dur)
            assert np.array_equal(got, want)
            assert np.array_equal(again, want)
    with pytest.raises(ValueError):  # memoized arrays are read-only
        next(iter(FX._H2_MEMO.values()))[0] = 0.0


def test_quality_features_kernel_properties():
    import numpy as np

    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr  # 1 s
    # pure 440 Hz tone at healthy level: no silence, no clipping,
    # dominant bin at ~440 Hz, centroid pulled near it
    tone = (0.5 * np.sin(2 * np.pi * 440.0 * t)).astype(np.float32)
    s, c, d, ce = audio.quality_features_of(tone, sr)
    assert s == 0.0 and c == 0.0
    assert abs(d - 440.0) <= 1.0
    assert 200.0 <= ce <= 2000.0
    # digital silence: all-silent frames, no clipping, degenerate spectrum
    s, c, d, ce = audio.quality_features_of(np.zeros(sr, dtype=np.float32), sr)
    assert s == 1.0 and c == 0.0 and ce == 0.0
    # square wave at full scale: heavy clipping, zero silence
    square = np.sign(np.sin(2 * np.pi * 100.0 * t)).astype(np.float32)
    s, c, d, ce = audio.quality_features_of(square, sr)
    assert c > 0.9 and s == 0.0 and abs(d - 100.0) <= 1.0


def test_audio_quality_features_spark_matches_kernel(spark):
    clips = FX.generate_clips(spark, 60, n_parts=4, seed=7)
    got = {r.clip_id: r for r in audio.audio_quality_features(clips).collect()}
    assert len(got) == 60
    for i in range(10):
        cid, buf, sr, _d, codec, _t, _p = FX._make_row(7, i, 4, None)
        w = audio.decode(codec, bytes(buf))
        s, c, d, ce = audio.quality_features_of(w, int(sr))
        r = got[cid]
        assert (r.silence_ratio, r.clipping_ratio) == (s, c)
        assert (r.dominant_hz, r.spectral_centroid_hz) == (d, ce)


def test_segment_clips_covers_waveform_exactly(spark):
    clips = FX.generate_clips(spark, 40, n_parts=4, seed=9)
    segs = audio.segment_clips(clips, segment_ms=50).collect()
    feats = {r.clip_id: r for r in audio.audio_features(clips).collect()}
    by_clip: dict[str, list] = {}
    for r in segs:
        by_clip.setdefault(r.clip_id, []).append(r)
    assert set(by_clip) == set(feats)
    for cid, rows in by_clip.items():
        rows.sort(key=lambda r: r.seg_idx)
        # contiguous indices, total samples == clip samples, tail short
        assert [r.seg_idx for r in rows] == list(range(len(rows)))
        assert sum(r.n_samples for r in rows) == feats[cid].n_samples
        assert all(r.n_samples == rows[0].n_samples for r in rows[:-1])


def test_resample_linear_kernel_properties():
    import numpy as np

    sr = 16000
    t = np.arange(sr // 4, dtype=np.float64) / sr
    tone = (0.5 * np.sin(2 * np.pi * 220.0 * t)).astype(np.float32)
    # identity at same rate
    assert np.array_equal(audio.resample_linear(tone, sr, sr), tone)
    # length scales by the rate ratio
    up = audio.resample_linear(tone, sr, 2 * sr)
    down = audio.resample_linear(tone, sr, sr // 2)
    assert up.size == 2 * tone.size and down.size == tone.size // 2
    # a linear ramp is reproduced exactly by linear interpolation
    ramp = np.linspace(-1.0, 1.0, 1000, dtype=np.float32)
    up_ramp = audio.resample_linear(ramp, 8000, 16000)
    pos = np.arange(up_ramp.size) * 0.5
    expect = np.interp(pos, np.arange(ramp.size), ramp.astype(np.float64))
    assert np.allclose(up_ramp, expect, atol=1e-6)
    # constants stay constant
    const = np.full(500, 0.25, dtype=np.float32)
    assert np.allclose(audio.resample_linear(const, 44100, 16000), 0.25)


def test_resample_clips_spark_matches_kernel(spark):
    clips = FX.generate_clips(spark, 40, n_parts=4, seed=11)
    got = {r.clip_id: r for r in audio.resample_clips(clips, 16000).collect()}
    assert len(got) == 40
    for i in range(8):
        cid, buf, sr, _d, codec, _t, _p = FX._make_row(11, i, 4, None)
        w = audio.decode(codec, bytes(buf))
        r = audio.resample_linear(w, int(sr), 16000)
        row = got[cid]
        assert row.sr_hz == 16000 and row.n_samples == r.size
        assert bytes(row.bytes) == audio.encode_pcm_s16le(r)


def test_wav_truncated_data_chunk_raises():
    """A cut INSIDE the data chunk (header intact, fewer payload bytes
    than the chunk header declares) must raise, never silently decode a
    shorter clip with plausible features."""
    import pytest

    wave = FX.ref_waveform("trunc-clip", 16000, 100)
    buf = audio.encode_wav(wave)
    cut = buf[: 44 + 40]  # 44-byte header + 40 of the declared payload
    with pytest.raises(ValueError, match="truncated"):
        audio.decode_wav(cut)


def test_wav_duplicate_data_chunk_raises():
    """Two data chunks cannot both be 'the' audio — a container carrying
    a second one is rejected outright instead of last-one-wins (which
    would decode attacker-appended audio in place of the original)."""
    import struct

    wave = FX.ref_waveform("dup-clip", 16000, 100)
    buf = audio.encode_wav(wave)
    extra = audio.encode_pcm_s16le(FX.ref_waveform("other", 16000, 50))
    forged = buf + struct.pack("<4sI", b"data", len(extra)) + extra
    with pytest.raises(ValueError, match="duplicate data chunk"):
        audio.decode_wav(forged)


def test_wav_trailing_garbage_raises():
    """1-7 bytes after the final chunk never form a chunk header; the
    strict-container contract rejects them instead of ignoring them."""
    wave = FX.ref_waveform("trail-clip", 16000, 100)
    buf = audio.encode_wav(wave)
    with pytest.raises(ValueError, match="trailing"):
        audio.decode_wav(buf + b"\x00\x01\x02")
    # but the untouched container still decodes
    assert audio.decode_wav(buf).size == wave.size


def test_augment_wave_speed_and_snr():
    """Speed perturbation scales duration by 1/speed; seeded noise lands
    within 0.5 dB of the target SNR; everything is a pure function of
    (clip_id, params, seed)."""
    w = FX.ref_waveform("aug-clip", 16000, 500)
    fast = audio.augment_wave(w, 16000, "aug-clip", speed=1.1)
    slow = audio.augment_wave(w, 16000, "aug-clip", speed=0.9)
    assert abs(fast.size - round(w.size / 1.1)) <= 1
    assert abs(slow.size - round(w.size / 0.9)) <= 1
    noisy = audio.augment_wave(w, 16000, "aug-clip", noise_snr_db=20.0)
    got_snr = audio.snr_db(w, noisy)
    assert 19.5 < got_snr < 20.5, got_snr
    # determinism: same id+seed -> byte-identical; different id -> different noise
    again = audio.augment_wave(w, 16000, "aug-clip", noise_snr_db=20.0)
    assert np.array_equal(noisy, again)
    other = audio.augment_wave(w, 16000, "other-clip", noise_snr_db=20.0)
    assert not np.array_equal(noisy, other)
    # gain
    louder = audio.augment_wave(w * 0.1, 16000, "aug-clip", gain_db=6.0)
    assert np.isclose(
        float(np.abs(louder).max()), float(np.abs(w * 0.1).max()) * 10 ** 0.3,
        rtol=1e-5,
    )


def test_augment_clips_spark_matches_kernel(spark):
    clips = FX.generate_clips(spark, 40, n_parts=4, seed=13)
    got = {
        r.clip_id: r
        for r in audio.augment_clips(
            clips, speed=1.1, noise_snr_db=25.0, seed=7
        ).collect()
    }
    assert len(got) == 40
    for i in range(8):
        cid, buf, sr, _d, codec, _t, _p = FX._make_row(13, i, 4, None)
        w = audio.decode(codec, bytes(buf))
        a = audio.augment_wave(
            w, int(sr), cid, speed=1.1, noise_snr_db=25.0, seed=7
        )
        row = got[cid]
        assert row.n_samples == a.size
        assert bytes(row.bytes) == audio.encode_pcm_s16le(a)


# ------------------------------------------- acoustic fingerprint (HK)


def _chirp(seed: int, sr: int = 16000, ms: int = 400) -> "np.ndarray":
    """Non-stationary test signal: AM-modulated linear chirp (frequency
    sweeps, amplitude envelopes — the band-energy deltas are driven by
    the SIGNAL, unlike a stationary tone where they ride on leakage)."""
    rng = np.random.default_rng(seed)
    n = sr * ms // 1000
    t = np.arange(n, dtype=np.float64) / sr
    f0, f1 = 200 + 300 * rng.random(), 1500 + 1500 * rng.random()
    sweep = np.sin(2 * np.pi * (f0 * t + (f1 - f0) * t * t / (2 * t[-1])))
    env = 0.4 + 0.3 * np.sin(2 * np.pi * (2 + 3 * rng.random()) * t)
    return (env * sweep).astype(np.float32)


def _ber(a: "np.ndarray", b: "np.ndarray") -> float:
    L = min(a.size, b.size)
    x = np.bitwise_xor(a[:L], b[:L])
    return sum(int(v).bit_count() for v in x) / (16.0 * L)


def test_fingerprint_exactly_gain_invariant():
    w = _chirp(7)
    fp = audio.fingerprint_of(w, 16000)
    assert fp.size > 50
    for g in (0.1, 0.5, 2.0, 10.0):
        assert np.array_equal(fp, audio.fingerprint_of(g * w, 16000))


def test_fingerprint_robust_to_quantization_gain_and_noise():
    w = _chirp(11)
    fp = audio.fingerprint_of(w, 16000)
    # int16 round-trip at 0.7 gain plus -40 dBFS additive noise: the
    # Haitsma-Kalker operating point is BER <= 0.35; a true transform
    # copy should sit far inside it.
    rng = np.random.default_rng(3)
    noisy = 0.7 * w + 0.01 * rng.standard_normal(w.size).astype(np.float32)
    dec = audio.decode("pcm_s16le", audio.encode_pcm_s16le(noisy))
    assert _ber(fp, audio.fingerprint_of(dec, 16000)) < 0.3


def test_fingerprint_separates_unrelated_audio():
    a = audio.fingerprint_of(_chirp(21), 16000)
    b = audio.fingerprint_of(_chirp(22), 16000)
    assert _ber(a, b) > 0.35


def test_fingerprint_short_clip_is_empty():
    assert audio.fingerprint_of(np.zeros(100, np.float32), 16000).size == 0
    assert audio.fingerprint_of(_chirp(5), 0).size == 0


def test_fingerprint_near_dup_end_to_end(spark):
    """Exact copy and a gain-transformed copy are both found; unrelated
    clips are not paired. Engine bit counts match the numpy kernel.
    (A 0.7x-gain int16 re-encode keeps BER ~1e-3, so at least one
    4-sub band survives verbatim and LSH buckets the pair; heavier
    additive noise pushes BER toward ~0.2 where exact-band candidate
    recall collapses — that regime is the kernel robustness test's
    territory, not the LSH path's.)"""
    waves = {f"clip-{i}": _chirp(100 + i) for i in range(6)}
    waves["zz-copy"] = waves["clip-0"]
    waves["zz-noisy"] = 0.7 * waves["clip-1"]
    rows = [
        (cid, bytearray(audio.encode_pcm_s16le(w)), 16000, 400, "pcm_s16le")
        for cid, w in waves.items()
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )
    pairs = {
        (r.id_a, r.id_b): (r.bits_differ, r.bits_compared)
        for r in audio.fingerprint_near_dup(
            audio.fingerprint_clips(clips)).collect()
    }
    assert ("clip-0", "zz-copy") in pairs
    assert pairs[("clip-0", "zz-copy")][0] == 0
    assert ("clip-1", "zz-noisy") in pairs
    bd, bc = pairs[("clip-1", "zz-noisy")]
    assert bd * 10000 <= 3500 * bc
    # engine bit count == kernel bit count for the noisy pair
    rows_dict = {r[0]: r[1] for r in rows}
    fa = audio.fingerprint_of(
        audio.decode("pcm_s16le", bytes(rows_dict["clip-1"])), 16000)
    fb = audio.fingerprint_of(
        audio.decode("pcm_s16le", bytes(rows_dict["zz-noisy"])), 16000)
    L = min(fa.size, fb.size)
    kernel_bits = sum(
        int(v).bit_count() for v in np.bitwise_xor(fa[:L], fb[:L]))
    assert bd == kernel_bits and bc == 16 * L
    # no unrelated chirps paired with each other
    unrelated = [p for p in pairs if p[0].startswith("clip-")
                 and p[1].startswith("clip-") ]
    assert unrelated == []


# ------------------------------------------------ acoustic embeddings


def test_audio_embedding_of_shape_skip_and_gain_sensitivity():
    w = FX.ref_waveform("tone-emb", 16000, 400)
    e = audio.audio_embedding_of(w, 16000)
    assert e is not None and len(e) == 8
    # 10x amplitude lifts every log-mel bin by ~2 (log10 of 100x power)
    e_loud = audio.audio_embedding_of(w * 10.0, 16000)
    assert all(abs((b - a) - 2.0) < 0.05 for a, b in zip(e, e_loud))
    # shorter than one frame -> None (layered skip)
    assert audio.audio_embedding_of(w[:100], 16000) is None
    assert audio.audio_embedding_of(w, 0) is None


_CLIP_DDL = ("clip_id string, bytes binary, codec string, sr_hz int, "
             "dur_ms int, transcript string, part_id int")
_SKIP_CASES = {
    # name: (call, declared output DDL, clip_ids the mixed batch emits)
    "audio_features": (
        audio.audio_features,
        "clip_id string, n_samples long, rms double, peak double, zero_crossings long",
        {"ok", None, "sr_zero", "sr_null"}),  # reads no sr_hz, keeps NULL ids
    "audio_quality_features": (
        audio.audio_quality_features,
        "clip_id string, silence_ratio double, clipping_ratio double, "
        "dominant_hz double, spectral_centroid_hz double", {"ok", None}),
    "segment_clips": (
        audio.segment_clips,
        "clip_id string, seg_idx int, start_ms int, n_samples long, rms double",
        {"ok", None}),
    "resample_clips": (
        lambda df: audio.resample_clips(df, 8000),
        "clip_id string, sr_hz int, n_samples long, rms double, bytes binary",
        {"ok", None}),
    "augment_clips": (
        lambda df: audio.augment_clips(df, speed=1.1, noise_snr_db=30.0),
        "clip_id string, sr_hz int, n_samples long, rms double, bytes binary",
        {"ok"}),
    "normalize_clips": (
        audio.normalize_clips,
        "clip_id string, n_samples long, rms_before double, rms_after double, "
        "bytes binary", {"ok", "sr_zero", "sr_null"}),  # NULL id dropped
    "audio_embedding_clips": (
        audio.audio_embedding_clips,
        "clip_id string, codec string, embedding array<double>", {"ok", None}),
    "filterbank_clips": (
        audio.filterbank_clips,
        "clip_id string, frame_idx int, log_energy double, fb_md5 string",
        {"ok", None}),
    "transcript_rate_violations": (
        audio.transcript_rate_violations,
        "rule_id string, clip_id string, column_name string, message string, "
        "part_id int", {"ok"}),
    "fingerprint_clips": (
        audio.fingerprint_clips,
        "clip_id string, n_sub int, fp array<int>, fp_md5 string", {"ok", None}),
    # the PCM check reports NULL and undecodable bytes instead of skipping
    "pcm_violations": (
        lambda df: audio.pcm_violations(df, FX.ref_waveform),
        "rule_id string, clip_id string, column_name string, message string, "
        "part_id int", {"null_bytes", "trunc_wav"}),
}


@pytest.mark.parametrize("name", list(_SKIP_CASES))
def test_audio_embedding_clips_skip_contract(spark, name):
    """Every audio UDF skips NULL bytes, an unknown codec, undecodable
    bytes and (where it reads it) a missing or non-positive sr_hz; a
    batch in which every row is skipped gives 0 rows of exactly the
    declared schema, and skipped rows never disturb the kept ones in the
    same batch."""
    from pyspark.sql.types import StructType

    call, ddl, kept = _SKIP_CASES[name]
    w = FX.ref_waveform("ok", 16000, 400)
    pcm = audio.encode_pcm_s16le(w)
    rows = [
        ("ok", pcm, "pcm_s16le", 16000, 400, "x", 0),
        (None, pcm, "pcm_s16le", 16000, 400, "x", 0),
        ("null_bytes", None, "pcm_s16le", 16000, 400, "x", 0),
        ("bad_codec", pcm, "xyz", 16000, 400, "x", 0),
        ("trunc_wav", audio.encode_wav(w)[:-10], "wav", 16000, 400, "x", 1),
        ("sr_zero", pcm, "pcm_s16le", 0, 400, "x", 1),
        ("sr_null", pcm, "pcm_s16le", None, 400, "x", 1),
    ]
    skipped = [r for r in rows if r[0] not in kept | {"ok", None}]
    out = call(spark.createDataFrame(skipped, _CLIP_DDL).coalesce(1))
    assert out.schema == StructType.fromDDL(ddl)
    assert out.collect() == []

    got = call(spark.createDataFrame(rows, _CLIP_DDL).coalesce(1)).collect()
    assert {r.clip_id for r in got} == kept
    if name == "audio_embedding_clips":
        # the Spark path reproduces the shared kernel bit-for-bit (on the
        # same int16 round-tripped waveform it decodes)
        emb = {r.clip_id: r.embedding for r in got}
        assert emb["ok"] == audio.audio_embedding_of(audio.decode("pcm_s16le", pcm), 16000)


def test_audio_has_one_decode_site():
    """No Spark needed: in audio.py only the feature UDFs' shared loop
    (``_map_decoded``) and the PCM check (``_pcm_frame``) call
    ``decode``, only ``_pcm_frame`` calls ``snr_db`` and ``ref_wave_fn``
    (one SNR site, no second PCM path), and no UDF goes back to a pandas
    batch loop of its own."""
    import ast
    import pathlib

    path = pathlib.Path(audio.__file__)
    src = path.read_text()
    assert "mapInPandas" not in src
    allowed = {"decode": ("_map_decoded", "_pcm_frame"),
               "snr_db": ("_pcm_frame",), "ref_wave_fn": ("_pcm_frame",)}
    callers = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, fn or child.name)  # nested defs count as their outer function
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Name)
                    and child.func.id in allowed):
                callers.append((child.func.id, child.lineno, fn))
            walk(child, fn)

    walk(ast.parse(src, str(path)), None)
    assert {name for name, _, _ in callers} == set(allowed)
    stray = [f"{name}( at audio.py:{line} in {fn}" for name, line, fn in callers
             if fn not in allowed[name]]
    assert not stray, "calls outside their one site: " + ", ".join(stray)


def test_library_has_one_distinct_sketch():
    """No Spark needed: the library counts distinct values approximately
    only through ``stats.approx_distinct`` (DataSketches HLL); nothing in
    the package calls Spark's HLL++ ``approx_count_distinct``."""
    import pathlib

    import mds_provider_spark

    root = pathlib.Path(mds_provider_spark.__file__).parent
    hits = [f"{p.relative_to(root)}:{n}"
            for p in sorted(root.rglob("*.py"))
            for n, line in enumerate(p.read_text().splitlines(), 1)
            if "approx_count_distinct(" in line]
    assert not hits, "HLL++ outside stats.approx_distinct: " + ", ".join(hits)


def test_library_has_one_finding_builder():
    """No Spark needed: the hit array ``_hits`` is exploded into violation
    rows only in ``keyed_violations`` and counted into per-part verdicts
    only in ``keyed_verdicts``; ``RuleSet``, the runner, ``Validator`` and
    the committed stream all go through those two builders."""
    import ast
    import pathlib

    import mds_provider_spark

    def on_hits(arg):
        if isinstance(arg, ast.Call) and arg.args:  # F.col("_hits")
            arg = arg.args[0]
        return isinstance(arg, ast.Constant) and arg.value == "_hits"

    root = pathlib.Path(mds_provider_spark.__file__).parent
    sites = set()

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, rel, child.name)
                continue
            if isinstance(child, ast.Call) and child.args and on_hits(child.args[0]):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("explode", "size"):
                    sites.add((rel, fn, name))
            walk(child, rel, fn)

    for p in sorted(root.rglob("*.py")):
        walk(ast.parse(p.read_text(), str(p)), p.relative_to(root).as_posix(), None)
    assert sites == {("plans/runner.py", "keyed_violations", "explode"),
                     ("plans/runner.py", "keyed_verdicts", "size")}, sorted(sites)


def test_library_has_one_python_batch_boundary():
    """No Spark needed: per-row Python stages run on ``session.map_rows``.
    The only pandas batch loops left in the package (``mapInPandas``,
    ``applyInPandas``, ``applyInPandasWithState``) are fixture
    generation, the HTTP client and the Misra-Gries partition summaries,
    none of which checks rows."""
    import ast
    import pathlib

    import mds_provider_spark

    loops = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
    allowed = {("sources/fixtures.py", None), ("sources/api_client.py", None),
               ("operators/stats.py", "mg_partition_summaries")}
    root = pathlib.Path(mds_provider_spark.__file__).parent
    sites = []

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, rel, fn or child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr in loops:
                sites.append((rel, fn, child.attr, child.lineno))
            walk(child, rel, fn)

    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).as_posix()
        walk(ast.parse(p.read_text(), str(p)), rel, None)
    stray = [f"{attr} at {rel}:{line} in {fn}" for rel, fn, attr, line in sites
             if (rel, None) not in allowed and (rel, fn) not in allowed]
    assert not stray, "pandas batch loops outside session.map_rows: " + ", ".join(stray)
    assert {(rel, fn) for rel, fn, _, _ in sites} >= {
        ("operators/stats.py", "mg_partition_summaries")}


def test_pcm_frame_checks_one_row_at_a_time():
    """No Spark needed: ``_pcm_frame`` finishes row i (decode, reference,
    SNR) before it draws row i+1, so a task holds one decoded clip, not a
    whole Arrow batch of them."""
    sr, dur = 8000, 20
    ids = [FX.clip_id_at(5, i) for i in range(6)]
    events = []

    def rows():
        for i, cid in enumerate(ids):
            events.append(("draw", cid))
            wave = FX.ref_waveform(cid, sr, dur)
            if i == 3:  # one content fault among the rows
                wave = -wave
            yield cid, audio.encode_pcm_s16le(wave), sr, dur, "pcm_s16le", 0

    def ref(cid, sr_hz, dur_ms):
        events.append(("ref", cid))
        return FX.ref_waveform(cid, sr_hz, dur_ms)

    # VIOLATIONS_SCHEMA has _PCM_SCHEMA's fields and converts without a JVM
    out = audio._pcm_frame(rows(), audio.arrow_schema(S.VIOLATIONS_SCHEMA), ref, 30.0)
    assert events == [(kind, cid) for cid in ids for kind in ("draw", "ref")]
    assert out.column("clip_id").to_pylist() == [ids[3]]
