"""Deterministic synthetic audio+transcript fixture generator.

The analog of mds-provider's fake-data package (``mds/fake/`` in the
<=0.3.x lines: seeded provider/trip generators used as test-input
factories). Everything here is a PURE FUNCTION of (seed, row index) —
independent of Spark partitioning, executor count, or evaluation order —
so golden fixtures are stable and the engine's reference-waveform check
(``ref_waveform``) can recompute the expected PCM from the clip_id alone.
No external data (BASELINE.json), no RNG state shared across rows.

Generation runs distributed via ``spark.range(n).mapInPandas`` — at any
scale each executor synthesizes only its own id range. It makes rows
rather than checking them, so it is not on ``session.map_rows``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from mds_provider_spark import schema as S
from mds_provider_spark.functions import audio

WORDS = (
    "the quick brown fox jumps over a lazy dog while seven wizards "
    "brew strong coffee at midnight near the old harbor wall"
).split()

_CODECS_HOT = ["pcm_s16le"] * 7 + ["wav", "flac", "opus"]  # 70% hot codec -> skew
_DUR_CHOICES = [80, 120, 160, 200, 240, 320, 400]


def _h(seed: int, i: int, salt: str = "") -> int:
    return int.from_bytes(
        hashlib.md5(f"{seed}:{i}:{salt}".encode()).digest()[:8], "big"
    )


def clip_id_at(seed: int, i: int) -> str:
    d = hashlib.md5(f"{seed}:{i}:id".encode()).hexdigest()
    return f"{d[:8]}-{d[8:12]}-{d[12:16]}-{d[16:20]}-{d[20:32]}"


def part_id_of(clip_id: str | None, n_parts: int) -> int:
    if not clip_id:
        return 0
    return int(hashlib.md5(clip_id.encode()).hexdigest()[:8], 16) % n_parts


def sr_hz_at(seed: int, i: int, choices: list[int] | None = None) -> int:
    choices = choices or S.SR_HZ_ENUM
    return choices[_h(seed, i, "sr") % len(choices)]


def dur_ms_at(seed: int, i: int, choices: list[int] | None = None) -> int:
    choices = choices or _DUR_CHOICES
    return choices[_h(seed, i, "dur") % len(choices)]


def codec_at(seed: int, i: int) -> str:
    return _CODECS_HOT[_h(seed, i, "codec") % len(_CODECS_HOT)]


def transcript_at(seed: int, i: int) -> str:
    h = _h(seed, i, "txt")
    n = 3 + h % 6
    return " ".join(WORDS[(h >> (4 * k)) % len(WORDS)] for k in range(n))


# Memoized pure sub-expressions of the reference waveform (guide §4.5:
# per-process state in an importable module, reused across tasks).
# The SECOND harmonic 0.11*sin(2*pi*2.17*f*t) depends only on
# (freq, sr_hz, n) — and ``_wave_params`` quantizes freq to exactly 1000
# distinct values while (sr, dur) come from small enums, so over a large
# table each distinct array recurs thousands of times. Entries hold the
# byte-for-byte result of the original expression (same dtype, same
# operation order), so memoized and direct synthesis are bit-identical
# (pinned by test_ref_waveform_memo_bit_identical). Both caches share
# one byte budget, so adversarial (sr, dur) inputs cannot grow them
# unbounded, and cached arrays are read-only: a caller that writes into
# one raises instead of corrupting every later waveform.
_T_MEMO: dict[tuple[int, int], np.ndarray] = {}
_H2_MEMO: dict[tuple[float, int, int], np.ndarray] = {}
_MEMO_MAX_BYTES = 256 * 1024 * 1024
_memo_bytes = 0


def _memoize(memo: dict, key, arr: np.ndarray) -> np.ndarray:
    """Cache ``arr`` read-only under ``key`` while the budget allows."""
    global _memo_bytes
    if _memo_bytes + arr.nbytes <= _MEMO_MAX_BYTES:
        arr.setflags(write=False)
        memo[key] = arr
        _memo_bytes += arr.nbytes
    return arr


def _time_base(sr_hz: int, n: int) -> np.ndarray:
    """Memoized ``arange(n)/sr``."""
    key = (sr_hz, n)
    t = _T_MEMO.get(key)
    if t is None:
        t = _memoize(_T_MEMO, key, np.arange(n, dtype=np.float64) / float(sr_hz))
    return t


def _second_harmonic(freq: float, sr_hz: int, n: int) -> np.ndarray:
    """Memoized ``0.11*sin(2*pi*2.17*freq*t)``."""
    key = (freq, sr_hz, n)
    w2 = _H2_MEMO.get(key)
    if w2 is None:
        w2 = _memoize(_H2_MEMO, key,
                      0.11 * np.sin(2 * np.pi * 2.17 * freq * _time_base(sr_hz, n)))
    return w2


def ref_waveform(clip_id: str, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Reference PCM, a pure function of (clip_id, sr_hz, dur_ms).

    A two-harmonic sine whose frequency/phase derive from the clip_id
    hash. This is the waveform the PCM invariant compares against
    (BASELINE.json: decoded-PCM allclose at SNR>=30dB vs the reference).
    The second harmonic comes from the per-process memo above — the
    result is bit-identical to synthesizing both harmonics inline.
    """
    freq, phase = _wave_params(clip_id)
    n = max(1, int(sr_hz) * int(dur_ms) // 1000)
    t = _time_base(int(sr_hz), n)
    w = 0.42 * np.sin(2 * np.pi * freq * t + phase)
    w += _second_harmonic(freq, int(sr_hz), n)
    return w.astype(np.float32)


def _wave_params(clip_id: str) -> tuple[float, float]:
    h = int(hashlib.md5(f"wave:{clip_id}".encode()).hexdigest()[:12], 16)
    return 80.0 + (h % 1000) / 1000.0 * 600.0, ((h >> 12) % 6283) / 1000.0


# ------------------------------------------------------------ fault plan

FAULT_KINDS = [
    "null_clip_id",      # -> missing_field:clip_id
    "bad_uuid",          # -> bad_format:clip_id
    "dup_clip_id",       # -> duplicate_id:clip_id (copies id of row i-1)
    "bad_sr",            # -> bad_enum:sr_hz (11025)
    "zero_dur",          # -> out_of_range:dur_ms (0)
    "neg_dur",           # -> out_of_range:dur_ms (-5)
    "bad_codec",         # -> bad_enum:codec ('xyz')
    "null_transcript",   # -> missing_field:transcript
    "empty_transcript",  # -> empty_transcript:transcript
    "bad_pcm",           # -> bad_pcm:bytes (noise at ~8dB SNR)
    "null_bytes",        # -> missing_field:bytes
    "wrong_transcript",  # -> transcript_mismatch:transcript (vs ref table)
]


def default_fault_plan(n_rows: int) -> dict[int, str]:
    """One fault of each kind at fixed, well-spaced row indices."""
    if n_rows < 2 * len(FAULT_KINDS) + 2:
        raise ValueError("need more rows than fault kinds")
    step = n_rows // (len(FAULT_KINDS) + 1)
    return {(k + 1) * step: kind for k, kind in enumerate(FAULT_KINDS)}


# ------------------------------------------------------------- generator


def _make_row(
    seed: int,
    i: int,
    n_parts: int,
    fault: str | None,
    sr_choices: list[int] | None = None,
    dur_choices: list[int] | None = None,
):
    cid: str | None = clip_id_at(seed, i)
    sr = sr_hz_at(seed, i, sr_choices)
    dur = dur_ms_at(seed, i, dur_choices)
    codec = codec_at(seed, i)
    txt: str | None = transcript_at(seed, i)

    if fault == "null_clip_id":
        cid = None
    elif fault == "bad_uuid":
        cid = f"not-a-uuid-{i}"
    elif fault == "dup_clip_id":
        cid = clip_id_at(seed, i - 1)
    elif fault == "bad_sr":
        sr = 11025
    elif fault == "zero_dur":
        dur = 0
    elif fault == "neg_dur":
        dur = -5
    elif fault == "bad_codec":
        codec = "xyz"
    elif fault == "null_transcript":
        txt = None
    elif fault == "empty_transcript":
        txt = "   "
    elif fault == "wrong_transcript":
        txt = (txt or "") + " corrupted"

    wave = ref_waveform(cid or f"row-{i}", max(sr, 1), max(dur, 1))
    if fault == "bad_pcm":
        rng = np.random.default_rng(_h(seed, i, "noise") % (2**32))
        wave = (wave + 0.5 * rng.standard_normal(wave.size).astype(np.float32)).astype(
            np.float32
        )
    enc = audio.ENCODERS.get(codec, audio.encode_pcm_s16le)
    buf: bytes | None = enc(wave)
    if fault == "null_bytes":
        buf = None

    return (
        cid,
        buf,
        np.int32(sr),
        np.int32(dur),
        codec,
        txt,
        np.int32(part_id_of(cid, n_parts)),
    )


def generate_clips(
    spark: SparkSession,
    n_rows: int,
    n_parts: int = 16,
    seed: int = 42,
    faults: dict[int, str] | None = None,
    sr_choices: list[int] | None = None,
    dur_choices: list[int] | None = None,
) -> DataFrame:
    """Distributed deterministic clips table (CLIPS_SCHEMA).

    ``sr_choices``/``dur_choices`` select a size profile (e.g. telephony
    8/16 kHz short clips for transfer-bound benchmarking environments).
    """
    faults = dict(faults or {})

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _make_row(seed, int(i), n_parts, faults.get(int(i)),
                          sr_choices, dur_choices)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(
                rows,
                columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "part_id"],
            )

    # size-derived range partitioning: each mapInPandas task pays a
    # fixed Python-dispatch cost (~10 ms serialized), so a 2k-row table
    # over 32 tasks is mostly overhead; ~256 rows/task floor, clamped
    # to the session's parallelism so big tables keep full width.
    # (range_parts, NOT n_parts — n_parts is the PART_ID routing arity
    # the generator closure captures; shadowing it mis-routed part_id.)
    par = spark.sparkContext.defaultParallelism
    range_parts = max(1, min(par, n_rows // 256 or 1))
    return spark.range(n_rows, numPartitions=range_parts).mapInPandas(
        gen, S.CLIPS_SCHEMA)


def generate_transcripts(
    spark: SparkSession,
    n_rows: int,
    n_parts: int = 16,
    seed: int = 42,
    missing_idx: frozenset[int] | set[int] = frozenset(),
    orphan_count: int = 0,
) -> DataFrame:
    """Reference transcript table (TRANSCRIPTS_SCHEMA, FIXTURES.md §2).

    ``missing_idx`` rows are absent (-> clips-side orphans);
    ``orphan_count`` extra rows with ids beyond the clips range
    (-> transcript-side orphans).
    """
    missing = frozenset(missing_idx)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, refs, parts = [], [], []
            for i in pdf["id"]:
                i = int(i)
                if i < n_rows and i in missing:
                    continue
                cid = clip_id_at(seed, i if i < n_rows else i + 10_000_000)
                ids.append(cid)
                refs.append(transcript_at(seed, i))
                parts.append(np.int32(part_id_of(cid, n_parts)))
            yield pd.DataFrame(
                {"clip_id": ids, "transcript_ref": refs, "part_id": pd.array(parts, dtype="int32")}
            )

    par = spark.sparkContext.defaultParallelism
    total = n_rows + orphan_count
    range_parts = max(1, min(par, total // 256 or 1))
    return spark.range(total, numPartitions=range_parts).mapInPandas(
        gen, S.TRANSCRIPTS_SCHEMA)
