"""Audio codec decode + SNR checks, vectorized over Arrow batches.

BASELINE.json per-row invariant: "decoded-PCM allclose (SNR>=30dB) +
transcript equality ... vectorized pandas/Arrow UDFs (no per-row Python)".

Codec registry
--------------
This container ships no audio libraries (no soundfile/librosa/ffmpeg), so
the registry mixes REAL codecs implementable with numpy/stdlib and
clearly-marked deterministic stand-ins with the same plumbing a real
decoder would use (binary in -> float32 PCM out):

  pcm_s16le : REAL — 16-bit little-endian linear PCM (lossless).
  wav       : REAL — RIFF/WAVE container (public spec) around 16-bit PCM;
              pure-stdlib struct chunk walk; rejects non-PCM / non-16-bit.
  opus      : stand-in — ITU-T G.711 mu-law companding (a REAL lossy
              telephony codec, ~38 dB SNR; public spec) used where a true
              Opus decoder would plug in.
  flac      : stand-in — zlib(DEFLATE) over s16le frames (lossless
              entropy coding, the same shape as FLAC's residual coding).
  mp3       : stand-in — 8-bit linear requantization (lossy, ~44 dB SNR
              on our fixtures) where a true MP3 decoder would plug in.

Real decoders drop in by replacing one entry in ``DECODERS`` — the Spark
plumbing (schema, batch iteration, column pruning) does not change.
Unknown codecs raise NotImplementedError at decode time; the engine's
enum rule catches them BEFORE the PCM stage so the UDF never sees them.

All decode/SNR math is numpy over whole clips inside Arrow batches; the
only per-clip Python is the loop over variable-length binary cells, which
is unavoidable for ragged binary and costs nothing next to the vector
math. Every feature UDF runs that loop through ``_map_decoded`` (skip,
decode, per-clip callback) on the library's one row loop,
``session.map_rows`` (pruned select, one typed Arrow batch out per
input batch). The PCM check keeps its own loop, ``_pcm_frame``: it is
the product's hot path, and its files reader gets rows from parquet
slices, not from a DataFrame.
"""

from __future__ import annotations

import functools
import math
import struct
import zlib
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.session import arrow_batch, arrow_schema, map_rows

# ---------------------------------------------------------------- codecs


def encode_pcm_s16le(wave: np.ndarray) -> bytes:
    x = np.clip(wave, -1.0, 1.0)
    return (x * 32767.0).astype("<i2").tobytes()


def decode_pcm_s16le(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<i2").astype(np.float32) / 32767.0


# G.711 mu-law (mu = 255), vectorized. Public-domain companding math.
_MU = 255.0


def encode_ulaw(wave: np.ndarray) -> bytes:
    x = np.clip(wave, -1.0, 1.0)
    y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    return np.round((y + 1.0) * 127.5).astype(np.uint8).tobytes()


def decode_ulaw(buf: bytes) -> np.ndarray:
    y = np.frombuffer(buf, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0
    return (np.sign(y) * (np.expm1(np.abs(y) * np.log1p(_MU))) / _MU).astype(np.float32)


def encode_flac(wave: np.ndarray) -> bytes:
    return zlib.compress(encode_pcm_s16le(wave), level=6)


def decode_flac(buf: bytes) -> np.ndarray:
    return decode_pcm_s16le(zlib.decompress(buf))


def encode_wav(wave: np.ndarray, sr_hz: int = 16000) -> bytes:
    """REAL RIFF/WAVE container around mono 16-bit PCM (public WAVE
    format spec, pure stdlib). The header's sample rate is container
    metadata only — the engine reads sr from the table column."""
    data = encode_pcm_s16le(wave)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, int(sr_hz), int(sr_hz) * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(buf: bytes) -> np.ndarray:
    """Walk RIFF chunks (word-aligned), require PCM format 1 @ 16 bit,
    decode the data chunk as s16le. Malformed containers raise — the
    calling UDFs fault-isolate decoder errors per clip."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, fmt_code, bits, data = 12, None, None, None
    while pos + 8 <= len(buf):
        cid, sz = struct.unpack_from("<4sI", buf, pos)
        pos += 8
        body = buf[pos : pos + sz]
        if len(body) < sz:
            # chunk declares more bytes than the buffer holds — a cut
            # mid-chunk must raise, never silently decode a short clip
            raise ValueError(f"truncated {cid!r} chunk ({len(body)} < {sz})")
        if cid == b"fmt ":
            if sz < 16:
                raise ValueError("truncated fmt chunk")
            fmt_code, _ch, _sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if data is not None:
                # two data chunks cannot both be "the" audio — reject
                # rather than last-one-wins (strict-container contract)
                raise ValueError("duplicate data chunk")
            data = body
        pos += sz + (sz & 1)  # RIFF chunks are 2-byte aligned
    # pos may overshoot len(buf) by exactly 1 when a final odd-sized
    # chunk's pad byte is omitted at EOF (tolerated, common in the wild);
    # any other residue is trailing garbage that never formed a chunk
    if pos < len(buf) or pos > len(buf) + 1:
        raise ValueError(f"{len(buf) - min(pos, len(buf))} trailing bytes after final chunk")
    if fmt_code != 1 or bits != 16 or data is None:
        raise ValueError("unsupported WAVE format (need PCM s16)")
    return decode_pcm_s16le(data)


def encode_mp3(wave: np.ndarray) -> bytes:
    x = np.clip(wave, -1.0, 1.0)
    return np.round((x + 1.0) * 127.5).astype(np.uint8).tobytes()


def decode_mp3(buf: bytes) -> np.ndarray:
    return (np.frombuffer(buf, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0).astype(
        np.float32
    )


ENCODERS: dict[str, Callable[[np.ndarray], bytes]] = {
    "pcm_s16le": encode_pcm_s16le,
    "wav": encode_wav,
    "opus": encode_ulaw,
    "flac": encode_flac,
    "mp3": encode_mp3,
}

DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "pcm_s16le": decode_pcm_s16le,
    "wav": decode_wav,
    "opus": decode_ulaw,
    "flac": decode_flac,
    "mp3": decode_mp3,
}


def decode(codec: str, buf: bytes) -> np.ndarray:
    dec = DECODERS.get(codec)
    if dec is None:
        raise NotImplementedError(f"no decoder registered for codec {codec!r}")
    return dec(buf)


def snr_db(ref: np.ndarray, dec: np.ndarray) -> float:
    """20*log10(||ref|| / ||ref - dec||); inf when bit-exact."""
    n = min(ref.size, dec.size)
    if n == 0 or ref.size != dec.size:
        return float("-inf")
    # float64 throughout, INCLUDING the signal-power dot: float32 sums
    # round differently, so a clip within an ulp of the threshold would
    # flip violation status, and every pinned violation set with it.
    ref64 = ref[:n].astype(np.float64)
    err = ref64 - dec[:n].astype(np.float64)
    p_sig = float(np.dot(ref64, ref64))
    p_err = float(np.dot(err, err))
    if p_err == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * math.log10(p_sig / p_err)


# ------------------------------------------------------- Spark PCM check

RefWaveFn = Callable[[str, int, int], np.ndarray]
"""(clip_id, sr_hz, dur_ms) -> reference float32 waveform of exactly
``max(1, sr_hz * dur_ms // 1000)`` samples. ``_pcm_frame`` calls it at
most once per decodable row and relies on this length: a clip whose
decoded length differs gets ``SNR -inf`` without the reference being
synthesized, so a huge ``dur_ms`` cannot make a worker allocate it."""

# Read only by perfbench/trace.py:216, for its audio.rows_batch_path
# counter (clips this short); it goes with the next change to the benchmark.
_BATCH_MAX_SAMPLES = 256

_FILES_BATCH_ROWS = 8192  # rows per parquet batch the files reader holds


def _positive(v) -> bool:
    """A usable sr_hz / dur_ms: non-NULL, non-NaN, positive."""
    return v is not None and not math.isnan(v) and int(v) > 0


def _structurally_invalid(cid, sr, dur, codec) -> bool:
    """Shared skip predicate for BOTH pcm paths ('Same results' contract):
    rows already caught by not_null/enum/range rules (NULL key, unknown
    codec, NULL/NaN/non-positive sr or dur) are not content-checked."""
    return (cid is None or codec not in DECODERS
            or not (_positive(sr) and _positive(dur)))


_PCM_SCHEMA = (
    "rule_id string, clip_id string, column_name string, message string, part_id int"
)


# Not on session.map_rows: this is the product's hot PCM path, and the
# files reader's rows come from parquet slices, not from a DataFrame.
def _pcm_frame(rows, arrow, ref_wave_fn: RefWaveFn, min_snr_db: float):
    """The PCM check over ``(cid, buf, sr, dur, codec, part)`` rows, as
    one Arrow batch typed by ``arrow`` (``arrow_schema(_PCM_SCHEMA)``) —
    shared by both readers so they cannot drift. One pass, one decoded
    clip held at a time: NULL bytes are ``missing_field:bytes``;
    structurally invalid rows are skipped; bytes that fail to decode are
    ``bad_pcm``; a decoded length other than ``RefWaveFn``'s is
    ``SNR -inf``; the rest are checked by SNR against ``ref_wave_fn``."""
    rid = S.rule_id(S.BAD_PCM, "bytes")
    rid_null = S.rule_id(S.MISSING_FIELD, "bytes")
    out = []

    def emit(r, c, p, m):
        out.append((r, c, "bytes", m, p))

    for cid, buf, sr, dur, codec, part in rows:
        if buf is None:
            emit(rid_null, cid, part, "required field bytes is missing")
            continue
        if _structurally_invalid(cid, sr, dur, codec):
            continue
        try:
            dec = decode(codec, buf)
        except Exception as exc:  # undecodable bytes ARE a violation
            emit(rid, cid, part, f"decode failed: {type(exc).__name__}")
            continue
        sr, dur = int(sr), int(dur)
        if dec.size != max(1, sr * dur // 1000):
            got = float("-inf")  # length contract (RefWaveFn)
        else:
            got = snr_db(ref_wave_fn(cid, sr, dur), dec)
        if not (got >= min_snr_db):
            emit(rid, cid, part, f"SNR {got:.1f} dB < {min_snr_db:.1f} dB")
    return arrow_batch(out, arrow)


def pcm_violations(
    clips: DataFrame,
    ref_wave_fn: RefWaveFn,
    min_snr_db: float = 30.0,
    key_col: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """bad_pcm violations via mapInArrow (Arrow batches, BASELINE.json).

    Column-pruned input (only 5 columns cross the Arrow boundary — never
    select * before a Python stage). Validation is LAYERED like the
    reference's (a record failing schema checks is not further
    content-checked): rows that already violate structural rules — NULL
    key/bytes/codec, unregistered codec, non-positive duration — are
    skipped here; those findings belong to not_null/enum/range rules.

    This stage also owns the ``missing_field:bytes`` finding: it is the
    ONLY stage that reads the binary column, so the not-null check rides
    along for free and the Catalyst rule projection never scans bytes —
    at 100 TB the audio payload crosses the scan exactly once, here.
    """
    cols = [key_col, "bytes", "sr_hz", "dur_ms", "codec", part_col]
    arrow = arrow_schema(_PCM_SCHEMA)

    def check(batches: Iterator) -> Iterator:
        for rb in batches:
            yield _pcm_frame(zip(*(c.to_pylist() for c in rb.columns)), arrow,
                             ref_wave_fn, min_snr_db)

    return clips.select(*cols).mapInArrow(check, _PCM_SCHEMA)


def pcm_violations_over_files(
    spark,
    clips_dir: str,
    ref_wave_fn: RefWaveFn,
    min_snr_db: float = 30.0,
    parts: "list[int] | None" = None,
) -> DataFrame:
    """File-sliced PCM check: workers read parquet slices DIRECTLY.

    The row-based ``pcm_violations`` ships every audio byte across the
    JVM->Python Arrow pipe. On hosts where that pipe is the bottleneck
    (this sandbox: ~150-250 MB/s flat, regardless of cores), the
    Petastorm-style alternative is to parallelize over FILES: one task
    per parquet file, from ``spark.range(0, n, 1, n)``, so only the file
    ids cross the boundary. The (path, part_id) list travels in the
    closure; each Python worker looks its id up there and reads the
    column-pruned slice with pyarrow at native speed. Same results, no
    bulk transfer, and the file list needs no Python-RDD round trip. At
    cluster scale this is the moral equivalent of a DataSourceV2 scan
    feeding a native decode kernel; locality is traded away (fine on
    object storage, where reads are remote for everyone anyway).

    Input must be a directory of parquet files partitioned by part_id
    (the engine's bucket layout, plans/runner.py).
    """
    import glob
    import re

    keep = set(parts) if parts is not None else None
    files = []
    for f in sorted(glob.glob(f"{clips_dir}/part_id=*/*.parquet")):
        m = re.search(r"part_id=(\d+)", f)
        p = int(m.group(1)) if m else 0
        if keep is None or p in keep:  # manual partition pruning
            files.append((f, p))

    arrow = arrow_schema(_PCM_SCHEMA)

    def check(batches: Iterator) -> Iterator:
        import pyarrow.parquet as pq

        cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]
        for ids in batches:
            for fid in ids.column(0).to_pylist():
                path, part = files[fid]
                pf = pq.ParquetFile(path)
                for rb in pf.iter_batches(batch_size=_FILES_BATCH_ROWS, columns=cols):
                    rows = zip(*(rb.column(c).to_pylist() for c in cols),
                               [part] * rb.num_rows)
                    yield _pcm_frame(rows, arrow, ref_wave_fn, min_snr_db)

    n = len(files)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(check, _PCM_SCHEMA)


# ------------------------------------------------------ feature UDFs


def _map_decoded(
    clips: DataFrame,
    cols: list[str],
    per_clip: Callable[..., "list[tuple]"],
    schema: str,
) -> DataFrame:
    """The decode step behind every audio feature UDF, on
    ``session.map_rows``. ``cols`` is ``[key, "bytes", "codec", *extra]``:
    the pruned select, so the bytes cross the Arrow pipe once and no
    column the UDF does not read crosses at all. Rows with NULL bytes, an
    unregistered codec or bytes that fail to decode are skipped (layered
    contract: those are the not_null/enum/bad_pcm findings). For every
    other row ``per_clip(w, cid, codec, *extra)`` gets the decoded
    waveform and returns the row's output tuples in ``schema`` (DDL)
    order — none to skip the row, several to explode it."""

    def per_row(cid, buf, codec, *extra):
        if buf is None or codec not in DECODERS:
            return ()
        try:
            w = decode(codec, buf)
        except Exception:
            return ()
        return per_clip(w, cid, codec, *extra)

    return map_rows(clips, cols, per_row, schema)


def _rms64(x: np.ndarray) -> float:
    """float64 RMS of a waveform (0.0 when empty)."""
    x = x.astype(np.float64)
    return float(np.sqrt(np.mean(x * x))) if x.size else 0.0


def audio_features(clips: DataFrame, key_col: str = "clip_id") -> DataFrame:
    """Multimodal feature-extraction plumbing: binary -> typed features.

    Decodes each clip and emits (clip_id, n_samples, rms, peak,
    zero_crossings). Image/video analogs would use the same shape —
    their actual decoders are NOT available in this container and would
    plug into DECODERS; the Spark-side contract (``_map_decoded``:
    pruned select, Arrow batches, fixed output schema) is what this
    function demonstrates. NULL ids are kept.
    """

    def feats(w, cid, codec):
        if not w.size:
            return [(cid, 0, 0.0, 0.0, 0)]
        # float32 RMS (not _rms64): the oracle ledger pins these values
        return [(cid, w.size, float(np.sqrt(np.mean(w * w))),
                 float(np.max(np.abs(w))),
                 int(np.count_nonzero(np.diff(np.signbit(w)))))]

    return _map_decoded(
        clips, [key_col, "bytes", "codec"], feats,
        "clip_id string, n_samples long, rms double, peak double, zero_crossings long",
    )


# -------------------------------------------- quality features / segments

_SILENCE_FRAME_MS = 20
_SILENCE_RMS = 0.01
_CLIP_LEVEL = 0.999


def quality_features_of(w: np.ndarray, sr_hz: int) -> tuple:
    """Per-clip audio QUALITY features from a decoded waveform — pure
    numpy/float64, shared by the Spark UDF and the driver-side oracle
    ledger so both compute bit-identical values:

      silence_ratio      : fraction of 20 ms frames with RMS < 0.01
                           (silence/VAD pre-filter for ASR corpora)
      clipping_ratio     : fraction of samples at |x| >= 0.999
                           (hard-clipping detector)
      dominant_hz        : argmax |rfft| bin (DC excluded) in Hz
      spectral_centroid_hz: sum(f*|X|)/sum(|X|) over rfft magnitudes
    """
    x = w.astype(np.float64)
    n = x.size
    if n == 0 or sr_hz <= 0:
        return 1.0, 0.0, 0.0, 0.0
    frame = max(1, int(sr_hz) * _SILENCE_FRAME_MS // 1000)
    n_frames = n // frame
    if n_frames > 0:
        fr = x[: n_frames * frame].reshape(n_frames, frame)
        frms = np.sqrt((fr * fr).mean(axis=1))
        silence = float(np.count_nonzero(frms < _SILENCE_RMS)) / n_frames
    else:
        silence = float(np.sqrt((x * x).mean()) < _SILENCE_RMS)
    clipping = float(np.count_nonzero(np.abs(x) >= _CLIP_LEVEL)) / n
    mag = np.abs(np.fft.rfft(x))
    freqs = np.fft.rfftfreq(n, d=1.0 / float(sr_hz))
    total = float(mag.sum())
    centroid = float((freqs * mag).sum() / total) if total > 0.0 else 0.0
    dominant = float(freqs[1 + int(np.argmax(mag[1:]))]) if mag.size > 1 else 0.0
    return silence, clipping, dominant, centroid


def audio_quality_features(clips: DataFrame, key_col: str = "clip_id") -> DataFrame:
    """Audio-corpus quality screening: (clip_id, silence_ratio,
    clipping_ratio, dominant_hz, spectral_centroid_hz) per decodable
    clip with a positive sr (decode loop and skips: ``_map_decoded``);
    the DSP itself is quality_features_of."""

    def feats(w, cid, codec, sr):
        return [(cid, *quality_features_of(w, int(sr)))] if _positive(sr) else []

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], feats,
        "clip_id string, silence_ratio double, clipping_ratio double, "
        "dominant_hz double, spectral_centroid_hz double",
    )


def segment_features_of(w: np.ndarray, sr_hz: int, segment_ms: int) -> list[tuple]:
    """Fixed-length segmentation of a decoded waveform (the audio
    frame-sample analog): [(seg_idx, start_ms, n_samples, rms)] with a
    final short tail segment kept. Shared UDF/oracle kernel."""
    x = w.astype(np.float64)
    seg = max(1, int(sr_hz) * segment_ms // 1000)
    out = []
    for i, lo in enumerate(range(0, x.size, seg)):
        s = x[lo : lo + seg]
        out.append(
            (
                i,
                int(lo * 1000 // int(sr_hz)),
                int(s.size),
                float(np.sqrt((s * s).mean())) if s.size else 0.0,
            )
        )
    return out


def segment_clips(
    clips: DataFrame, segment_ms: int = 50, key_col: str = "clip_id"
) -> DataFrame:
    """Explode clips into fixed-length segments: (clip_id, seg_idx,
    start_ms, n_samples, rms) — the training-data frame-sampling shape
    (one binary in, many typed rows out). Row count multiplies by
    dur/segment; the batch contract is ``_map_decoded``'s, and rows
    without a positive sr are skipped."""

    def segs(w, cid, codec, sr):
        if not _positive(sr):
            return []
        return [(cid, *seg) for seg in segment_features_of(w, int(sr), segment_ms)]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], segs,
        "clip_id string, seg_idx int, start_ms int, n_samples long, rms double",
    )


# ------------------------------------------------------------- resampling


def resample_linear(w: np.ndarray, sr_from: int, sr_to: int) -> np.ndarray:
    """Linear-interpolation resampling (real DSP, deterministic): output
    sample k sits at source position k*sr_from/sr_to and blends its two
    neighbors. Pure float64 kernel shared by the Spark UDF and the
    oracle ledger. (Production pipelines swap in a windowed-sinc
    resampler the same way a real codec swaps into DECODERS — the
    contract and plumbing are identical.)"""
    if sr_from == sr_to or w.size == 0:
        return w.astype(np.float32)
    n_out = max(1, int(round(w.size * sr_to / sr_from)))
    pos = np.arange(n_out, dtype=np.float64) * (float(sr_from) / float(sr_to))
    i0 = np.floor(pos).astype(np.int64)
    frac = pos - i0
    i0 = np.clip(i0, 0, w.size - 1)
    i1 = np.clip(i0 + 1, 0, w.size - 1)
    x = w.astype(np.float64)
    return (x[i0] * (1.0 - frac) + x[i1] * frac).astype(np.float32)


def resample_clips(
    clips: DataFrame, target_sr: int, key_col: str = "clip_id"
) -> DataFrame:
    """Normalize a mixed-sample-rate corpus to ``target_sr`` (the audio
    'resize' transform): decode -> resample_linear -> re-encode s16le.
    Emits (clip_id, sr_hz=target, n_samples, rms, bytes) — binary IN and
    binary OUT of the Arrow batch, the full multimodal transform shape.
    Undecodable rows and rows without a positive sr are skipped
    (``_map_decoded``'s layered contract)."""

    def work(w, cid, codec, sr):
        if not _positive(sr):
            return []
        r = resample_linear(w, int(sr), target_sr)
        return [(cid, target_sr, r.size, _rms64(r), encode_pcm_s16le(r))]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], work,
        "clip_id string, sr_hz int, n_samples long, rms double, bytes binary",
    )


# ------------------------------------------------------------ augmentation


def _augment_rng(clip_id: str, seed: int) -> "np.random.Generator":
    """Per-clip deterministic RNG: seeded from md5(clip_id) ^ seed, so
    the noise an executor draws for a clip is a pure function of the
    clip id — identical across retries, partitionings, and the oracle
    ledger replay (same discipline as the md5-bucket samplers)."""
    import hashlib

    h = int(hashlib.md5(clip_id.encode()).hexdigest()[:16], 16)
    return np.random.default_rng((h ^ (seed * 0x9E3779B97F4A7C15)) & 0x7FFFFFFFFFFFFFFF)


def augment_wave(
    wave: np.ndarray,
    sr_hz: int,
    clip_id: str,
    speed: float = 1.0,
    gain_db: float = 0.0,
    noise_snr_db: float | None = None,
    seed: int = 1337,
) -> np.ndarray:
    """Deterministic training-data augmentation kernel (float64, shared
    by the Spark UDF and the oracle ledger — byte-exact like
    resample_linear):

    * speed perturbation (the 0.9/1.0/1.1 staple): treat the input as
      playing at sr*speed and resample back to sr — duration scales by
      1/speed, pitch shifts with it (resample-based speed, the cheap
      classic, not time-stretch);
    * gain in dB;
    * additive Gaussian noise at a target SNR, drawn from the per-clip
      seeded RNG (an explicit float64 draw — the dtype is part of the
      byte-exact oracle contract; changing it on either side changes
      every augmented byte);
    * final clip to [-1, 1] (s16le headroom contract).
    """
    out = wave.astype(np.float64)
    if speed != 1.0 and out.size:
        out = resample_linear(out, int(round(sr_hz * speed)), sr_hz).astype(np.float64)
    if gain_db:
        out = out * (10.0 ** (gain_db / 20.0))
    if noise_snr_db is not None and out.size:
        rng = _augment_rng(clip_id, seed)
        noise = rng.standard_normal(out.size, dtype=np.float64)
        p_sig = float(np.mean(out**2))
        p_noise = float(np.mean(noise**2)) or 1.0
        target = p_sig / (10.0 ** (noise_snr_db / 10.0))
        out = out + noise * math.sqrt(target / p_noise)
    return np.clip(out, -1.0, 1.0).astype(np.float32)


def augment_clips(
    clips: DataFrame,
    speed: float = 1.0,
    gain_db: float = 0.0,
    noise_snr_db: float | None = None,
    seed: int = 1337,
    key_col: str = "clip_id",
) -> DataFrame:
    """Corpus-scale audio augmentation (speed perturb / gain / seeded
    noise): decode -> augment_wave -> re-encode s16le in one Arrow pass,
    column-pruned like every audio UDF (``_map_decoded``). Emits
    (clip_id, sr_hz, n_samples, rms, bytes). Undecodable rows, rows
    without a positive sr and rows with a NULL id are skipped (layered
    contract). Retry-stable: augmentation is a pure function of
    (clip_id, params, seed) — a re-run of a crashed partition produces
    byte-identical output, so the checkpoint protocol's overwrite
    semantics hold for augmented data too."""

    def work(w, cid, codec, sr):
        # null id skipped too: the per-clip RNG is keyed on the id, and
        # an unidentified clip is missing_field's finding
        if cid is None or not _positive(sr):
            return []
        a = augment_wave(w, int(sr), str(cid), speed=speed, gain_db=gain_db,
                         noise_snr_db=noise_snr_db, seed=seed)
        return [(cid, int(sr), a.size, _rms64(a), encode_pcm_s16le(a))]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], work,
        "clip_id string, sr_hz int, n_samples long, rms double, bytes binary",
    )


# ------------------------------------------------------------- loudness


def normalize_wave(w: np.ndarray, target_rms_dbfs: float = -20.0) -> np.ndarray:
    """Deterministic loudness normalization kernel (float64 math, shared
    by the Spark UDF and the oracle ledger — byte-exact discipline like
    resample_linear/augment_wave): scale the waveform so its RMS hits
    ``target_rms_dbfs`` dB full-scale, then clip to [-1, 1] (s16le
    headroom contract; a very peaky clip saturates rather than exceeding
    full scale — the standard peak-unaware RMS normalizer). All-zero
    input is returned unchanged (no gain can fix digital silence; the
    silence_ratio screen owns that finding)."""
    x = w.astype(np.float64)
    if x.size == 0:
        return x.astype(np.float32)
    rms = float(np.sqrt(np.mean(x * x)))
    if rms == 0.0:
        return x.astype(np.float32)
    gain = (10.0 ** (target_rms_dbfs / 20.0)) / rms
    return np.clip(x * gain, -1.0, 1.0).astype(np.float32)


def normalize_clips(
    clips: DataFrame,
    target_rms_dbfs: float = -20.0,
    key_col: str = "clip_id",
) -> DataFrame:
    """Corpus-scale loudness normalization: decode -> normalize_wave ->
    re-encode s16le in one Arrow pass (the training-data step that makes
    a corpus gain-comparable before augmentation/featurization). Same
    ``_map_decoded`` contract as augment_clips; undecodable rows and rows
    with a NULL id are skipped (layered contract). Pure function of
    (bytes, target) — retry-stable under the overwrite checkpoint
    protocol. Emits (clip_id, n_samples, rms_before, rms_after, bytes)."""

    def work(w, cid, codec):
        if cid is None:
            return []
        out = normalize_wave(w, target_rms_dbfs)
        return [(cid, out.size, _rms64(w), _rms64(out), encode_pcm_s16le(out))]

    return _map_decoded(
        clips, [key_col, "bytes", "codec"], work,
        "clip_id string, n_samples long, rms_before double, "
        "rms_after double, bytes binary",
    )


# ----------------------------------------------------------- filterbank


def _mel(hz: np.ndarray | float) -> np.ndarray:
    return 2595.0 * np.log10(1.0 + np.asarray(hz, dtype=np.float64) / 700.0)


def _mel_inv(m: np.ndarray) -> np.ndarray:
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


@functools.lru_cache(maxsize=64)
def _mel_filterbank(sr_hz: int, n_bands: int, frame: int) -> np.ndarray:
    """Triangular mel filterbank (n_bands, frame//2+1), HTK spacing —
    cached per (sr, bands, frame): a worker re-derives it once, not once
    per clip. Same construction (op for op) as the historical inline
    loop, so cached energies are bit-identical to fresh ones. Returned
    read-only: every caller shares one array."""
    n_bins = frame // 2 + 1
    mel_pts = _mel_inv(np.linspace(0.0, float(_mel(sr_hz / 2.0)), n_bands + 2))
    bin_hz = np.fft.rfftfreq(frame, d=1.0 / float(sr_hz))
    fb = np.zeros((n_bands, n_bins), dtype=np.float64)
    for m in range(n_bands):
        lo, ctr, hi = mel_pts[m], mel_pts[m + 1], mel_pts[m + 2]
        up = (bin_hz - lo) / (ctr - lo) if ctr > lo else np.zeros(n_bins)
        down = (hi - bin_hz) / (hi - ctr) if hi > ctr else np.zeros(n_bins)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    fb.setflags(write=False)
    return fb


def filterbank_of(
    w: np.ndarray,
    sr_hz: int,
    n_mels: int = 8,
    frame: int = 256,
    hop: int = 128,
) -> list[tuple]:
    """Framed log-mel filterbank energies — the front-end features an ASR
    training pipeline extracts at corpus scale. Pure numpy float64 (no
    torch/librosa in this container; the triangular-filter construction
    is the textbook HTK formulation), shared verbatim by the Spark UDF
    and the driver-side oracle ledger, so the whole decode -> frame ->
    rfft -> mel-project -> log chain must be bit-identical.

    Per frame (rectangular window, no padding — trailing samples beyond
    the last full frame are dropped):
      (frame_idx, log_energy, fb_md5)
    where log_energy = log10(sum |X|^2 + 1e-10) and fb_md5 is the md5 of
    the n_mels float64 filterbank energies' little-endian bytes — an
    engine-portable digest of the full vector (the ledger compares
    digests, not arrays, so the oracle stays a plain string equality in
    any SQL engine)."""
    import hashlib

    x = w.astype(np.float64)
    if sr_hz <= 0 or x.size < frame:
        return []
    fb = _mel_filterbank(int(sr_hz), n_mels, frame)
    n_frames = (x.size - frame) // hop + 1
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    # one batched rfft across frames + einsum for the mel projection:
    # this host's OpenBLAS pays ~ms-scale thread-dispatch overhead on a
    # tiny (n_mels, n_bins) matvec, so N per-frame `fb @ power` calls
    # cost more than the FFTs; einsum stays single-threaded in-core.
    # Row j of the einsum reduces in the same index order as the
    # historical per-frame matvec, and log_e sums the same contiguous
    # row, so digests are a pure function of the same arithmetic.
    power = np.abs(np.fft.rfft(x[idx], axis=1)) ** 2
    energies = np.einsum("fb,mb->fm", power, fb)
    log_e = np.log10(power.sum(axis=1) + 1e-10)
    return [
        (
            i,
            float(log_e[i]),
            hashlib.md5(energies[i].astype("<f8").tobytes()).hexdigest(),
        )
        for i in range(n_frames)
    ]


def audio_embedding_of(
    w: np.ndarray,
    sr_hz: int,
    n_mels: int = 8,
    frame: int = 256,
    hop: int = 128,
) -> "list[float] | None":
    """Fixed-size ACOUSTIC EMBEDDING of a clip: the log of the mean
    per-mel filterbank energy over all frames (a log-mel centroid) —
    the cheapest clip-level representation that still moves when the
    spectral balance of a group of clips moves, which is exactly what
    ``drift.embedding_drift`` consumes for cross-modal representation
    monitoring. Same framing/filterbank arithmetic as
    ``filterbank_of`` (shared verbatim with the driver-side ledger, so
    engine and oracle agree bit-for-bit); the log keeps values O(1-10)
    so the drift operator's integer-grid quantization never overflows
    its decimal accumulators at any corpus size. None when the clip is
    shorter than one frame (layered skip, like the other kernels)."""
    x = w.astype(np.float64)
    if sr_hz <= 0 or x.size < frame:
        return None
    fb = _mel_filterbank(int(sr_hz), n_mels, frame)
    n_frames = (x.size - frame) // hop + 1
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    power = np.abs(np.fft.rfft(x[idx], axis=1)) ** 2
    energies = np.einsum("fb,mb->fm", power, fb)
    cent = np.log10(energies.mean(axis=0) + 1e-10)
    return [float(v) for v in cent]


def audio_embedding_clips(
    clips: DataFrame,
    n_mels: int = 8,
    frame: int = 256,
    hop: int = 128,
    key_col: str = "clip_id",
) -> DataFrame:
    """Corpus-scale acoustic-embedding extraction: one binary row in,
    one (clip_id, codec, embedding array<double>) row out via
    ``_map_decoded`` — the decode/feature stage feeding
    ``drift.embedding_drift`` (group by codec/provider) or the ANN
    family. Same layered skip contract as ``filterbank_clips`` (null
    bytes / unknown codec / decode failure / sr<=0 / shorter than one
    frame rows are absent)."""

    def work(w, cid, codec, sr):
        e = audio_embedding_of(w, int(sr), n_mels, frame, hop) if _positive(sr) else None
        return [] if e is None else [(cid, codec, e)]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], work,
        "clip_id string, codec string, embedding array<double>",
    )


def filterbank_clips(
    clips: DataFrame,
    n_mels: int = 8,
    frame: int = 256,
    hop: int = 128,
    key_col: str = "clip_id",
) -> DataFrame:
    """Corpus-scale filterbank extraction: one binary row in, one typed
    row per frame out (the segment_clips shape). Same layered skip
    contract as audio_quality_features (sr required — mel spacing
    depends on it). Emits (clip_id, frame_idx, log_energy, fb_md5)."""

    def work(w, cid, codec, sr):
        if not _positive(sr):
            return []
        return [(cid, *f) for f in filterbank_of(w, int(sr), n_mels, frame, hop)]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], work,
        "clip_id string, frame_idx int, log_energy double, fb_md5 string",
    )


# ----------------------------------------------------- voiced-rate check


def voiced_seconds_of(w: np.ndarray, sr_hz: int) -> float:
    """Voiced (non-silent) duration from the decoded waveform: fraction
    of 20 ms frames with RMS >= the silence threshold, times the frame
    duration — the same frame/threshold constants as
    ``quality_features_of`` so the two screens agree on what silence is.
    Trailing samples beyond the last full frame count as one extra frame
    when their own RMS clears the threshold."""
    x = w.astype(np.float64)
    if x.size == 0 or sr_hz <= 0:
        return 0.0
    frame = max(1, int(sr_hz) * _SILENCE_FRAME_MS // 1000)
    n_frames = x.size // frame
    voiced = 0
    if n_frames > 0:
        fr = x[: n_frames * frame].reshape(n_frames, frame)
        frms = np.sqrt((fr * fr).mean(axis=1))
        voiced = int(np.count_nonzero(frms >= _SILENCE_RMS))
    tail = x[n_frames * frame :]
    if tail.size and float(np.sqrt((tail * tail).mean())) >= _SILENCE_RMS:
        voiced += 1
    return voiced * (frame / float(sr_hz))


def split_leakage_pairs(
    clips: DataFrame,
    train_pct: int = 80,
    band_frames: int = 4,
    max_ber_bp: int = 3500,
    max_bucket_size: int | None = 10_000,
    key_col: str = "clip_id",
) -> DataFrame:
    """Train/eval ACOUSTIC leakage detection — the audio twin of
    benchmark decontamination (text.contamination): near-identical
    audio (a re-upload at a different mastering level, a gain-tweaked
    copy) leaking across an id-hash train/eval split poisons every
    metric computed on the eval side, and no id- or text-level check
    can see it. The split is the engine-portable md5 router (same
    idiom as text.mix_sample — deterministic, append-stable, exactly
    reproducible in any engine), the pairing is the gain-invariant
    fingerprint LSH, and only pairs CROSSING the split are reported.

    Scale shape: identical to fingerprint_near_dup (one Arrow decode
    pass, banded capped self-join, candidate-proportional verify) plus
    two hash projections — the split assignment adds no shuffle."""
    fps = fingerprint_clips(clips, key_col=key_col)
    pairs = fingerprint_near_dup(
        fps,
        band_frames=band_frames,
        max_ber_bp=max_ber_bp,
        max_bucket_size=max_bucket_size,
    )

    def split_of(c: Column) -> Column:
        return F.when(
            F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long") % 100
            < F.lit(int(train_pct)),
            F.lit("train"),
        ).otherwise(F.lit("eval"))

    return (
        pairs.withColumn("split_a", split_of(F.col("id_a")))
        .withColumn("split_b", split_of(F.col("id_b")))
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "bits_differ")
    )


def duration_violations(
    clips: DataFrame,
    tol_ms: int = 10,
    key_col: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """PAYLOAD-vs-METADATA consistency: the decoded sample count must
    agree with the DECLARED (dur_ms, sr_hz) within ``tol_ms`` — the
    check that catches truncated uploads and stale metadata, which
    every rule trusting dur_ms (rate bands, billing, segment planning)
    silently inherits. Violation iff
    ``|n_samples*1000 - dur_ms*sr_hz| > tol_ms*sr_hz`` — pure integer
    arithmetic (no division, no float), so the oracle replays it
    bit-for-bit.

    Layered: rows with non-positive declared duration or sample rate
    are skipped (those are range-rule findings), and rows whose bytes
    are NULL / codec unknown / decode fails are absent because the
    decode stage (audio_features' skip contract) never emits them.
    One Arrow decode pass; everything after it is Catalyst."""
    feats = audio_features(clips, key_col=key_col).select(key_col, "n_samples")
    decl = clips.select(key_col, "sr_hz", "dur_ms", part_col).where(
        (F.col("dur_ms") > 0) & (F.col("sr_hz") > 0)
    )
    dur = F.col("dur_ms").cast("long")
    sr = F.col("sr_hz").cast("long")
    return (
        decl.join(feats, key_col)
        .where(F.abs(F.col("n_samples") * F.lit(1000) - dur * sr)
               > F.lit(int(tol_ms)) * sr)
        .select(
            F.lit(S.rule_id(S.INCONSISTENT, "duration")).alias("rule_id"),
            key_col,
            "n_samples",
            F.expr("(cast(dur_ms as bigint) * sr_hz) div 1000").alias(
                "expected_samples"),
            part_col,
        )
    )


def transcript_rate_violations(
    clips: DataFrame,
    lo: float = 30.0,
    hi: float = 500.0,
    key_col: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """CROSS-MODALITY consistency: transcript characters per VOICED
    second, measured from the decoded audio itself — the check that
    catches a transcript paired with the wrong (or silent) clip even
    when the metadata speaking-rate band (rules.rate_band, which trusts
    dur_ms) passes. A non-empty transcript over fully-silent audio is
    its own finding ('inconsistent:voiced_rate', "transcript over
    silence").

    Layered like pcm_violations: rows whose base fields are invalid
    (NULL key/bytes, unknown codec, non-positive sr/dur, NULL/empty
    transcript) are skipped — those findings belong to the structural
    rules. Same pruned-select ``_map_decoded`` contract; bytes cross the
    Arrow pipe once.
    """
    rid = S.rule_id(S.INCONSISTENT, "voiced_rate")

    def check(w, cid, codec, sr, dur, txt, part):
        if _structurally_invalid(cid, sr, dur, codec) or not txt:
            return []  # structural / empty_transcript findings
        voiced = voiced_seconds_of(w, int(sr))
        if voiced == 0.0:
            msg = "non-empty transcript over silent audio"
        elif not lo <= len(txt) / voiced <= hi:
            msg = f"chars per voiced second {len(txt) / voiced:.1f} outside [{lo}, {hi}]"
        else:
            return []
        return [(rid, cid, "transcript", msg, part)]

    return _map_decoded(
        clips,
        [key_col, "bytes", "codec", "sr_hz", "dur_ms", "transcript", part_col],
        check, _PCM_SCHEMA,
    )


# ------------------------------------------- acoustic fingerprint (HK)


def band_energies_of(
    w: np.ndarray,
    sr_hz: int,
    n_bands: int = 17,
    frame: int = 256,
    hop: int = 64,
) -> np.ndarray:
    """Framed mel-band energy matrix (n_frames, n_bands) — the spectral
    front end of the Haitsma–Kalker acoustic fingerprint (ISMIR 2002,
    "A Highly Robust Audio Fingerprint System"). Same triangular-filter
    construction as ``filterbank_of`` but returns RAW energies (no log,
    no digest): the fingerprint consumes only the SIGN of energy-delta
    differences, which is invariant under any positive gain. Vectorized
    across frames; shared verbatim by the Spark UDF and the driver-side
    oracle replay, so both sides are bit-identical by construction."""
    x = w.astype(np.float64)
    if sr_hz <= 0 or x.size < frame:
        return np.zeros((0, n_bands), dtype=np.float64)
    fb = _mel_filterbank(int(sr_hz), n_bands, frame)
    n_frames = (x.size - frame) // hop + 1
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    power = np.abs(np.fft.rfft(x[idx], axis=1)) ** 2
    # einsum, not `power @ fb.T`: the (frames, n_bins) x (n_bins, bands)
    # product is far below BLAS's profitable size, and this container's
    # OpenBLAS burns ~1.5-3 ms per call in thread dispatch — measured
    # 7-10x slower than the single-threaded einsum at 247x129x17. The
    # fingerprint consumes only SIGNS of energy deltas and both the
    # engine and the oracle ledger replay share this exact function, so
    # the reduction-order change is invisible to every consumer.
    return np.einsum("fb,mb->fm", power, fb)


def fingerprint_of(
    w: np.ndarray,
    sr_hz: int,
    n_bands: int = 17,
    frame: int = 256,
    hop: int = 64,
) -> np.ndarray:
    """Haitsma–Kalker sub-fingerprint sequence: bit b of sub-fingerprint
    t is 1 iff (E[t,b]-E[t,b+1]) - (E[t-1,b]-E[t-1,b+1]) > 0 — the sign
    of the time-difference of the band-energy difference. n_bands=17
    yields 16 bits per sub-fingerprint, packed into int32. Properties
    the tests pin: exactly invariant under positive gain (energies scale
    by g^2, signs unchanged), and robust (low bit-error rate) to int16
    re-quantization and mild additive noise on non-stationary audio.
    Returns an empty array when the clip yields fewer than two frames."""
    E = band_energies_of(w, sr_hz, n_bands, frame, hop)
    if E.shape[0] < 2:
        return np.zeros(0, dtype=np.int32)
    d = E[:, :-1] - E[:, 1:]
    dd = d[1:] - d[:-1]
    weights = 1 << np.arange(n_bands - 1, dtype=np.int64)
    return ((dd > 0).astype(np.int64) * weights).sum(axis=1).astype(np.int32)


def fingerprint_md5(fp: np.ndarray) -> str:
    """Engine-portable digest of a sub-fingerprint sequence: md5 of the
    int32 little-endian bytes (the ``fb_md5`` convention — the ledger
    compares digests, so the oracle stays a plain string equality)."""
    import hashlib

    return hashlib.md5(np.asarray(fp, dtype="<i4").tobytes()).hexdigest()


def fingerprint_clips(
    clips: DataFrame,
    n_bands: int = 17,
    frame: int = 256,
    hop: int = 64,
    key_col: str = "clip_id",
) -> DataFrame:
    """Corpus-scale acoustic fingerprint extraction: one Arrow pass,
    bytes cross the JVM->Python pipe once, output is one typed row per
    clip — (clip_id, n_sub, fp, fp_md5). Same layered skip contract as
    ``filterbank_clips`` (sr required: mel spacing depends on it)."""

    def work(w, cid, codec, sr):
        if not _positive(sr):
            return []
        fp = fingerprint_of(w, int(sr), n_bands, frame, hop)
        return [(cid, fp.size, fp.tolist(), fingerprint_md5(fp))]

    return _map_decoded(
        clips, [key_col, "bytes", "codec", "sr_hz"], work,
        "clip_id string, n_sub int, fp array<int>, fp_md5 string",
    )


def fingerprint_near_dup(
    fps: DataFrame,
    band_frames: int = 4,
    max_ber_bp: int = 3500,
    bits_per_sub: int = 16,
    id_col: str = "clip_id",
    fp_col: str = "fp",
    max_bucket_size: int | None = 10_000,
    persist_fps: bool = True,
) -> DataFrame:
    """Acoustic near-duplicate pairs via banded fingerprint LSH — the
    audio twin of ``minhash_lsh_candidates`` + exact verify, entirely in
    Catalyst (no Python in the pairing path; the only Python stage is
    the one-pass fingerprint extraction upstream).

    Candidate generation: the sub-fingerprint sequence is cut into
    non-overlapping bands of ``band_frames`` subs; two clips sharing any
    band verbatim land in the same (band, xxhash64) bucket. Buckets
    larger than ``max_bucket_size`` are dropped whole (degenerate
    content; see dedup._cap_buckets — hot set is bounded, broadcast
    anti-join). Verify: exact bit-error count over the common prefix via
    zip_with + bit_count, INTEGER threshold arithmetic
    (bits_differ * 10000 <= max_ber_bp * bits_compared) so engine and
    oracle replay agree with zero float-rounding surface. Haitsma &
    Kalker's published operating point is BER <= 0.35.

    Returns (id_a, id_b, bits_differ, bits_compared) with id_a < id_b.
    Scale shape: one shuffle to bucket, capped self-join, verify join
    touches only candidate ids — the same topology that holds the
    minhash path scan-proportional at 10x data.

    ``persist_fps`` (default True) caches the pruned (id, fp) frame
    before it fans out: the plan references it SIX times (both
    self-join sides, the bucket-cap aggregation, both verify sides),
    and when ``fps`` is a live fingerprint_clips pipeline each
    reference would otherwise re-decode every audio byte through the
    Python worker — six Python map scans in the unpersisted plan. The fp table is ~30x smaller than the audio (a few hundred
    int32s per clip), so MEMORY_AND_DISK is the right trade at any
    scale; lineage is kept (plain persist, not localCheckpoint), and
    callers that already materialized fingerprints to a table can pass
    persist_fps=False."""
    from pyspark import StorageLevel

    from ..operators.dedup import _cap_buckets

    base = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp")).where(
        F.size("_fp") >= band_frames
    )
    if persist_fps:
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    band_rows = (
        base.select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        (F.floor(F.size("_fp") / band_frames)).cast("int") - 1,
                    ),
                    lambda b: F.struct(
                        b.cast("int").alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", F.slice("_fp", b * band_frames + 1, band_frames)
                            ),
                            b,
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select("_id", "bb.band", "bb.bucket")
    )
    band_rows = _cap_buckets(band_rows, ["band", "bucket"], max_bucket_size)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    fa = base.select(F.col("_id").alias("id_a"), F.col("_fp").alias("_fa"))
    fb_ = base.select(F.col("_id").alias("id_b"), F.col("_fp").alias("_fb"))
    L = F.least(F.size("_fa"), F.size("_fb"))
    xor_bits = F.aggregate(
        F.zip_with(
            F.slice("_fa", F.lit(1), L),
            F.slice("_fb", F.lit(1), L),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(fa, "id_a")
        .join(fb_, "id_b")
        .withColumn("bits_differ", xor_bits)
        .withColumn("bits_compared", (F.lit(bits_per_sub) * L).cast("long"))
        .where(
            F.col("bits_differ") * 10000 <= F.lit(max_ber_bp) * F.col("bits_compared")
        )
        .select("id_a", "id_b", "bits_differ", "bits_compared")
    )


def label_noise_pairs(
    clips: DataFrame,
    band_frames: int = 4,
    max_ber_bp: int = 3500,
    max_bucket_size: int | None = 10_000,
    jaccard_max: float = 0.5,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
) -> DataFrame:
    """Label-noise screen: pairs whose AUDIO is near-identical but whose
    transcripts disagree — the validation a 10^12-row clip+transcript
    table needs to catch mislabeled duplicate uploads (same recording
    re-ingested under a different caption), the audio analog of
    mds-provider's cross-field consistency checks.

    Pairing is ``fingerprint_near_dup`` (banded acoustic-fingerprint
    LSH, capped buckets, exact bit-error verify — one Python stage for
    extraction, Catalyst for everything after). Disagreement is a
    normalized token-set Jaccard computed entirely in Catalyst: lower ->
    collapse whitespace -> split -> array_distinct, then
    |intersect| / |union| as ONE double division rounded to 6 (both
    sizes are exact integers, so the value is engine-replayable
    bit-for-bit). Pairs with Jaccard <= ``jaccard_max`` are flagged;
    identical transcripts (Jaccard 1.0) never are. NULL-transcript rows
    drop out (they are the `required` rule's finding, not label noise).

    Returns (rule_id, id_a, id_b, bits_differ, token_jaccard).

    Scale shape: the transcript join touches the full corpus only to
    project (id, token set) — one column-pruned scan per side; the pair
    set it joins against is LSH-bounded (corpus x bands / cap at worst),
    so AQE broadcasts it when small and shuffle-joins on id otherwise.
    No token array ever crosses a shuffle attached to audio bytes."""
    from pyspark import StorageLevel as _SL

    pairs = fingerprint_near_dup(
        fingerprint_clips(clips, key_col=id_col),
        band_frames=band_frames,
        max_ber_bp=max_ber_bp,
        max_bucket_size=max_bucket_size,
        id_col=id_col,
    ).persist(_SL.MEMORY_AND_DISK)
    # ^ referenced three times below (both pair-id arms + the verify
    # chain); unpersisted, each reference re-ran the banded self-join.
    toks = F.array_distinct(
        F.split(
            F.lower(F.trim(F.regexp_replace(F.col(transcript_col), r"\s+", " "))),
            " ",
        )
    )
    # token sets only for ids that appear in a pair (the minhash-verify
    # semi-join discipline): tokenization cost is pair-proportional, not
    # corpus-proportional, and the persisted table serves both join
    # sides instead of re-deriving the corpus scan twice.
    from pyspark import StorageLevel

    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    t = (
        clips.where(F.col(transcript_col).isNotNull())
        .join(pair_ids, id_col, "left_semi")
        .select(F.col(id_col), toks.alias("_toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ta = t.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_ta"))
    tb = t.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_tb"))
    jac = F.round(
        F.size(F.array_intersect("_ta", "_tb")).cast("double")
        / F.size(F.array_union("_ta", "_tb")),
        6,
    )
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            F.lit("label_noise:transcript").alias("rule_id"),
            "id_a",
            "id_b",
            "bits_differ",
            jac.alias("token_jaccard"),
        )
        .where(F.col("token_jaccard") <= F.lit(float(jaccard_max)))
    )
