"""Expected violations, derived from the inputs' fault plan alone.

The oracle never runs the engine: it restates, per injected fault, which
``(rule_id, clip_id)`` rows the validation must report (the injection
ledger, as ``clips_validation``'s DuckDB oracle does). Unfaulted rows
contribute nothing except through the transcript table's planted gaps
(missing rows, orphan rows). Clip ids and transcripts are replayed with
the fixture generator's own pure per-row functions.
"""

from __future__ import annotations

import random
from collections import Counter

from mds_provider_spark.sources import fixtures as FX

RowKey = tuple[str, "str | None"]


def dense_fault_plan(n_rows: int, seed: int, every: int = 20) -> dict[int, str]:
    """One fault in each block of ``every`` rows, at a seeded offset,
    cycling through ``FX.FAULT_KINDS``. Offsets stay in [1, every-2], so
    two faulted rows are never adjacent (a ``dup_clip_id`` row copies a
    clean neighbour)."""
    rng = random.Random(seed)
    kinds = FX.FAULT_KINDS
    return {
        b * every + rng.randint(1, every - 2): kinds[b % len(kinds)]
        for b in range(n_rows // every)
    }


def pick_missing(n_rows: int, faults: dict[int, str], count: int, seed: int) -> set[int]:
    """``count`` transcript rows to drop, never a faulted row or the row a
    ``dup_clip_id`` fault copies."""
    banned = set(faults) | {i - 1 for i, k in faults.items() if k == "dup_clip_id"}
    rng = random.Random(seed * 7919 + 1)
    out: set[int] = set()
    while len(out) < count:
        i = rng.randrange(n_rows)
        if i not in banned:
            out.add(i)
    return out


def expected_violations(
    seed: int,
    n_rows: int,
    faults: dict[int, str],
    missing: set[int],
    orphan_count: int,
    pcm: bool,
) -> Counter:
    """Multiset of ``(rule_id, clip_id)`` the full validation must report.

    ``pcm`` says whether the PCM stage runs (it owns ``bad_pcm:bytes`` and
    ``missing_field:bytes``)."""
    want: Counter = Counter()
    cid = lambda i: FX.clip_id_at(seed, i)  # noqa: E731
    orphan = "referential_orphan:clip_id"
    mismatch = "transcript_mismatch:transcript"
    for i in missing:
        want[(orphan, cid(i))] += 1  # clip with no transcript row
    for j in range(orphan_count):  # transcript with no clip row
        want[(orphan, FX.clip_id_at(seed, n_rows + j + 10_000_000))] += 1
    for i, kind in faults.items():
        if kind == "null_clip_id":
            want[("missing_field:clip_id", None)] += 1
            want[(orphan, None)] += 1
            want[(orphan, cid(i))] += 1
        elif kind == "bad_uuid":
            bad = f"not-a-uuid-{i}"
            want[("bad_format:clip_id", bad)] += 1
            want[(orphan, bad)] += 1
            want[(orphan, cid(i))] += 1
        elif kind == "dup_clip_id":
            want[("duplicate_id:clip_id", cid(i - 1))] += 2
            want[(orphan, cid(i))] += 1
            # row i carries row i-1's id, so it is compared with row
            # i-1's reference transcript
            if FX.transcript_at(seed, i) != FX.transcript_at(seed, i - 1):
                want[(mismatch, cid(i - 1))] += 1
        elif kind == "bad_sr":
            want[("bad_enum:sr_hz", cid(i))] += 1
        elif kind in ("zero_dur", "neg_dur"):
            want[("out_of_range:dur_ms", cid(i))] += 1
        elif kind == "bad_codec":
            want[("bad_enum:codec", cid(i))] += 1
        elif kind == "null_transcript":
            want[("missing_field:transcript", cid(i))] += 1
        elif kind == "empty_transcript":
            want[("empty_transcript:transcript", cid(i))] += 1
            want[(mismatch, cid(i))] += 1
        elif kind == "wrong_transcript":
            want[(mismatch, cid(i))] += 1
        elif kind == "bad_pcm":
            if pcm:
                want[("bad_pcm:bytes", cid(i))] += 1
        elif kind == "null_bytes":
            if pcm:
                want[("missing_field:bytes", cid(i))] += 1
        else:
            raise ValueError(f"fault kind {kind!r} has no oracle")
    return want


def violation_counter(df) -> Counter:
    """The ``(rule_id, clip_id)`` multiset of a violations DataFrame."""
    return Counter((r[0], r[1]) for r in df.select("rule_id", "clip_id").collect())


def diff(got: Counter, want: Counter, limit: int = 5) -> str:
    """Short description of a multiset mismatch ('' when equal)."""
    if got == want:
        return ""
    extra = list((got - want).items())[:limit]
    miss = list((want - got).items())[:limit]
    return f"{sum(got.values())} rows vs {sum(want.values())} expected; extra {extra}; missing {miss}"
