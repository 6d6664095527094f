"""Bidirectional referential-integrity checks (BASELINE.json J1).

The reference has no relational joins — FK integrity is delegated to
Postgres constraints in Database.load (mds/db.py). Spark-native: two
``left_anti`` equi-joins (orphans each way). ``left_anti`` is the cheapest
possible formulation: it short-circuits on first match, never materializes
matched rows, and Catalyst/AQE picks broadcast-hash when one side is small
(we hint it explicitly when the caller tells us the dim side is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.rules import Rule
from mds_provider_spark.session import local_frame


def orphans(
    left: DataFrame,
    right: DataFrame,
    key: str,
    key_right: str | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Rows of ``left`` whose key has no match in ``right``."""
    key_right = key_right or key
    rhs = right.select(F.col(key_right).alias(key)).where(F.col(key).isNotNull())
    if broadcast_right:
        rhs = F.broadcast(rhs)
    return left.join(rhs, key, "left_anti")


_ORPHAN_MESSAGES = {"clips": "clip has no transcript row",
                    "transcripts": "transcript has no clip row"}


def orphan_rule(key: str, side: str, predicate) -> Rule:
    """The ``referential_orphan`` rule for an orphan in table ``side``
    (``clips`` or ``transcripts``, its ``column_name``), shared by
    ``referential_violations`` and the runner's keyed plan."""
    return Rule(S.rule_id(S.REFERENTIAL_ORPHAN, key), side, _ORPHAN_MESSAGES[side], predicate)


def mismatch_rule(predicate) -> Rule:
    """The ``transcript_mismatch`` rule, shared by
    ``transcript_mismatch_violations`` and the runner's keyed plan."""
    return Rule(S.rule_id(S.TRANSCRIPT_MISMATCH, "transcript"), "transcript",
                "transcript differs from reference", predicate)


def differs(transcript: str, reference: str):
    """Transcript equality: a present transcript that is not null-safe
    equal to the reference. NULL is missing_field's job."""
    return F.col(transcript).isNotNull() & ~F.col(transcript).eqNullSafe(F.col(reference))


def referential_violations(
    clips: DataFrame,
    transcripts: DataFrame,
    key: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """Orphans both directions, canonical violation shape.

    rule_id is ``referential_orphan:<key>`` in both directions; the
    ``column_name`` field disambiguates which table the orphan lives in
    (clips vs transcripts), matching FIXTURES.md §2.

    ONE full-outer join instead of two anti-joins: both directions need
    the same key-matching, and the pair of anti-joins shuffled each
    table TWICE (four exchanges). A full-outer equi-join shuffles each
    side once and yields both orphan sets as the null-opposite rows —
    NULL keys never equi-match, so a NULL-key row surfaces one-sided
    exactly like the anti-join kept it, and a NULL-key right row can't
    absorb anything (the behavior the anti-joins' rhs null filter
    enforced). Presence flags (not key-nullness) decide sidedness so
    NULL-key rows are never misclassified. Matched rows stream through
    the join and drop immediately — no blowup for the near-unique id
    keys this audit exists for.
    """
    c = clips.select(
        F.col(key).alias("_ck"),
        F.col(part_col).alias("_cp"),
        F.lit(True).alias("_cpres"),
    )
    t = transcripts.select(
        F.col(key).alias("_tk"),
        F.col(part_col).alias("_tp"),
        F.lit(True).alias("_tpres"),
    )
    j = c.join(t, c["_ck"] == t["_tk"], "full_outer")
    in_clips = orphan_rule(key, "clips", lambda: F.col("_tpres").isNull())
    in_ts = orphan_rule(key, "transcripts", lambda: F.col("_cpres").isNull())
    # one filter + one side-conditional projection (NOT a union of two
    # filters over j — that would evaluate the join twice)
    is_clip_orphan = in_clips.predicate()
    return j.where(is_clip_orphan | in_ts.predicate()).select(
        F.lit(in_clips.rule_id).alias("rule_id"),
        F.when(is_clip_orphan, F.col("_ck")).otherwise(F.col("_tk")).alias("clip_id"),
        F.when(is_clip_orphan, F.lit(in_clips.column))
        .otherwise(F.lit(in_ts.column)).alias("column_name"),
        F.when(is_clip_orphan, F.lit(in_clips.message))
        .otherwise(F.lit(in_ts.message)).alias("message"),
        F.when(is_clip_orphan, F.col("_cp")).otherwise(F.col("_tp")).alias("part_id"),
    )


def transcript_mismatch_violations(
    clips: DataFrame,
    transcripts: DataFrame,
    key: str = "clip_id",
    part_col: str = "part_id",
) -> DataFrame:
    """Per-row transcript equality vs the reference text (BASELINE input_hint).

    Equi-join on the key (sort-merge at scale; both sides are the full
    tables) then a null-safe inequality (``differs``).
    """
    r = mismatch_rule(lambda: differs("transcript", "transcript_ref"))
    t = transcripts.select(key, "transcript_ref")
    return (
        clips.select(key, part_col, "transcript")
        .join(t, key, "inner")
        .where(r.predicate())
        .select(
            F.lit(r.rule_id).alias("rule_id"),
            F.col(key).alias("clip_id"),
            F.lit(r.column).alias("column_name"),
            F.lit(r.message).alias("message"),
            F.col(part_col).alias("part_id"),
        )
    )


# ----------------------------------------- bloom-prefiltered referential

_BITS_PER_WORD = 62  # dodge the sign bit and engine shift-overflow edges


def _h(col, offset: int):
    """Portable 60-bit hash slice: both engines read 15 hex chars of the
    same md5, so the bloom is bit-identical and oracle-replayable."""
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), offset, 15), 16, 10
    ).cast("bigint")


def bloom_build(
    parent: DataFrame, key: str, words: int = 4096, materialize: bool = True
) -> DataFrame:
    """Build a Bloom bitmask table (word_idx -> bits) from parent keys.

    k=2 hash functions from disjoint md5 slices. The result is at most
    ``words`` rows (words * 62 bits; 4096 words = 254 Kbits = 32 KB) —
    broadcastable at ANY parent size, which is the point: a broadcast
    hash relation of 10^9 parent keys is impossible, the bloom is 32 KB
    regardless. Build cost is one parent scan; the groupBy shuffles at
    most ``words`` rows per input partition (map-side bit_or). No
    ``distinct`` needed — bit_or is idempotent.

    Sizing: false-positive rate ~ (1 - e^(-2n/m))^2 for n keys and
    m = words*62 bits; pass words >= n/18 for ~1% fp.
    """
    nbits = words * _BITS_PER_WORD
    slices = []
    for off in (1, 16):
        b = _h(key, off) % nbits
        slices.append(
            parent.where(F.col(key).isNotNull()).select(
                (b / _BITS_PER_WORD).cast("bigint").alias("word_idx"),
                F.expr(
                    f"shiftleft(cast(1 as bigint), "
                    f"cast(pmod(conv(substring(md5(cast({key} as string)), {off}, 15), 16, 10) "
                    f"% {nbits}, {_BITS_PER_WORD}) as int))"
                ).alias("mask"),
            )
        )
    u = slices[0].unionByName(slices[1])
    out = u.groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))
    if materialize:
        # The probe joins the bloom TWICE (once per hash); left lazy,
        # the whole parent aggregation would recompute per join. The
        # bloom is a <= words-row / 32 KB artifact — collect it once and
        # re-create it as a local relation (exactly how a production
        # bloom is computed once and shipped to every probe site).
        rows = [(r.word_idx, r.bits) for r in out.collect()]
        return local_frame(
            parent.sparkSession, rows, "word_idx bigint, bits bigint"
        )
    return out


def bloom_definite_orphans(
    child: DataFrame, bloom: DataFrame, key: str, words: int = 4096
) -> DataFrame:
    """Rows of ``child`` whose key is DEFINITELY absent from the parent,
    via the pre-built bloom — ZERO data-scale shuffle.

    Sound-subset semantics: a key failing either bloom probe cannot be
    in the parent (no false negatives in a Bloom filter), so every
    returned row is a true orphan. A fraction ~fp of true orphans
    passes the bloom and is NOT returned — this is the no-shuffle
    SCREEN for 10^12-row referential validation: it catches >=(1-fp)
    of orphans with one child scan + two 32 KB broadcast joins; the
    exact ``orphans()`` anti-join runs only when the screen fires (or
    on the survivors when exact sets are required). Deterministic: the
    same md5 arithmetic replays in the DuckDB oracle bit-for-bit.
    """
    nbits = words * _BITS_PER_WORD
    out = child
    # Compute both probes in the child projection, then two broadcast
    # left joins against the (<= words)-row bitmask table.
    for i, off in enumerate((1, 16)):
        b = _h(key, off) % nbits
        child_w = (b / _BITS_PER_WORD).cast("bigint")
        mask = F.expr(
            f"shiftleft(cast(1 as bigint), "
            f"cast(pmod(conv(substring(md5(cast({key} as string)), {off}, 15), 16, 10) "
            f"% {nbits}, {_BITS_PER_WORD}) as int))"
        )
        out = out.withColumn(f"_w{i}", child_w).withColumn(f"_m{i}", mask)
        w = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
            )
        )
        out = out.join(w, f"_w{i}", "left")
    hit = (
        (F.coalesce(F.col("_b0"), F.lit(0)).bitwiseAND(F.col("_m0")) != 0)
        & (F.coalesce(F.col("_b1"), F.lit(0)).bitwiseAND(F.col("_m1")) != 0)
    )
    return (
        out.where(F.col(key).isNotNull() & ~hit)
        .drop("_w0", "_m0", "_b0", "_w1", "_m1", "_b1")
    )
