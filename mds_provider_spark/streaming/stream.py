"""Streaming validation — the reference has NO streaming (its "paging" is
synchronous HTTP, mds/api.py ≈L150–250); the north rule is batch over
Iceberg. This module exists for the streaming-arrival case: the SAME rule
compiler applied per micro-batch via foreachBatch and committed through
the batch runner's ``CommitLog`` (``validate_stream_committed``,
exactly-once across restarts), so batch and stream share one rule path
(no semantic drift between modes), plus native streaming dedup and
sessionization.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from mds_provider_spark.rules import RuleSet
from mds_provider_spark.session import local_frame


def _checkpoint_identity(checkpoint_dir: str) -> str | None:
    """Streaming query id (UUID) from ``<checkpoint_dir>/metadata`` —
    Spark writes it once at the first start of a checkpoint instance, so
    it uniquely identifies the instance even across delete-and-recreate
    at the same path. None when the instance hasn't started yet."""
    meta = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as f:
            d = json.load(f)
        qid = d.get("id") if isinstance(d, dict) else None
        return str(qid) if qid else None
    except (OSError, ValueError):
        return None


def validate_stream_committed(
    stream_df: DataFrame,
    ruleset: RuleSet,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    run_id: str = "stream",
    drift_cols: "list[str] | None" = None,
    hist_bins: "dict[str, tuple[float, float]] | None" = None,
    hist_n_bins: int = 10,
    hh_col: "str | None" = None,
    hh_capacity: int = 64,
    emb_col: "str | None" = None,
    emb_group_col: "str | None" = None,
    emb_dim: int = 64,
    emb_grid: int = 1_000_000,
) -> StreamingQuery:
    """Streaming validation routed through the SAME ``CommitLog`` protocol
    as batch resume (round-4 unification) -> exactly-once violation rows
    across kill/restart, not just Spark state recovery.

    Per micro-batch: violations land in ``<out>/violations/batch_id=<b>/``
    via full-dir overwrite, then an atomic marker commits batch ``b``.
    foreachBatch replays a batch id unchanged after a restart, so every
    crash window closes:

    * killed mid-write (no marker): the replay overwrites the partial
      dir, then commits — no duplicates, no stragglers;
    * killed after the marker but before Spark's own offset commit: the
      replayed batch sees its marker and SKIPS — the previous write is
      already durable;
    * readers trust ONLY marked batches (``committed_stream_violations``),
      so partial output from a crashed attempt is invisible, exactly like
      the batch runner's group markers.

    At cluster scale the marker+overwrite pair maps to one Iceberg
    ``overwrite(batch_id = b)`` snapshot commit (SCALE.md §Checkpoint).

    A batch id only identifies data RELATIVE to its checkpoint INSTANCE —
    a fresh checkpoint restarts ids at 0, and matching those against an
    old run's markers would silently skip every new batch as "already
    durable". Markers are therefore keyed on the streaming query id from
    ``<checkpoint_dir>/metadata`` (a UUID unique per checkpoint
    instance), NOT the path: deleting and recreating the checkpoint dir
    at the same path yields a new UUID, so the old markers stop matching
    and the guard below RAISES instead of skipping (the silent-data-loss
    mode a path key reintroduced). Markers written before query-id
    keying (path-keyed or unkeyed) are honored only when the checkpoint
    metadata file is OLDER than the oldest such marker — metadata is
    written once at an instance's first start, so that ordering proves
    the markers were written against this very instance (merely
    pre-existing metadata would not: the dir could have been recreated
    after the markers and before this start).

    ``drift_cols``: when set, each micro-batch additionally computes a
    per-column quantile-sketch snapshot (``operators.stats.profile`` —
    one wide partial+final agg over the batch) and embeds it in the
    batch's commit marker, so drift detection inherits the exactly-once
    guarantee for free: a replayed batch is skipped before the snapshot
    recomputes, and ``committed_stream_drift`` reads snapshots from
    markers alone (metadata-only, no data rescan). The marker payload is
    O(|drift_cols| x |probs|) — independent of batch size.

    ``hist_bins``: when set (``{column: (lo, hi)}``, the
    ``histogram_drift`` bins contract), each micro-batch additionally
    embeds its per-column fixed-grid bucket counts in the commit marker
    (payload O(n_cols x hist_n_bins), batch-size independent), so
    ``committed_stream_histogram_drift`` can compute per-batch PSI / JS
    divergence vs a baseline with the same exactly-once guarantee — the
    shape-change detector (bimodality, tail inflation) that quantile
    drift misses, now marker-borne for streams.

    ``hh_col``: when set, each micro-batch embeds a Misra–Gries heavy-
    hitter summary of that column in its commit marker (re-trimmed to
    ``hh_capacity`` counters driver-side — Agarwal et al. mergeable
    summaries, payload O(hh_capacity), batch-size independent), so
    ``committed_stream_heavy_hitters`` raises per-batch hot-key alerts
    (the mid-stream codec/provider hot-spot detector) with the same
    exactly-once guarantee: a replayed batch skips before the sketch
    recomputes.

    ``emb_col``: when set, each micro-batch embeds its EXACT mergeable
    embedding summary (``drift.embedding_summary`` — per group: vector
    count, per-dimension grid-quantized sums, magnitude sum; all
    order-free integer arithmetic) in the commit marker, so
    ``committed_stream_embedding_drift`` computes per-batch centroid
    rotation / displacement / magnitude drift vs a baseline with the
    exactly-once guarantee — the representation-health monitor for
    streaming vector ingest. Payload and driver collect are
    O(groups x emb_dim), batch-size independent; ``emb_group_col``
    must therefore be LOW-cardinality (label/domain/source), the same
    contract as the other marker payloads."""
    from mds_provider_spark.plans.checkpoint import CommitLog

    log = CommitLog(out_dir)
    if ruleset.part_col not in stream_df.columns:
        raise ValueError(
            f"stream is missing the partition column {ruleset.part_col!r} "
            "(violation rows and per-partition verdicts both need it; set "
            "RuleSet.part_col to match the stream schema)"
        )
    path_key = os.path.abspath(checkpoint_dir)
    pre_qid = _checkpoint_identity(checkpoint_dir)
    committed = log.committed_groups()
    if pre_qid is None and committed:
        raise RuntimeError(
            f"out_dir {out_dir!r} holds commit markers but the checkpoint "
            f"at {checkpoint_dir!r} is a brand-new instance (no metadata "
            "yet): its batch ids restart at 0 and matching them against "
            "the existing markers would silently skip new batches — use a "
            "fresh out_dir (or the original checkpoint_dir)"
        )
    # legacy (path-keyed / unkeyed) markers are only trusted when the
    # checkpoint INSTANCE verifiably predates them: metadata merely
    # existing at start does not prove the dir was never deleted and
    # recreated after the markers were written (a recreated instance
    # restarts batch ids at 0, and matching those against old markers
    # silently skips new batches). The metadata file is written once at
    # an instance's first start, so instance-predates-markers holds iff
    # its mtime <= the oldest legacy marker's commit time.
    legacy_keys: set = set()
    if pre_qid is not None:
        legacy = [m for m in committed.values()
                  if m.get("checkpoint") in (path_key, None)]
        if legacy:
            try:
                meta_mtime = os.path.getmtime(
                    os.path.join(checkpoint_dir, "metadata"))
            except OSError:
                meta_mtime = float("inf")
            oldest = min(float(m.get("committed_unix", 0)) for m in legacy)
            if meta_mtime <= oldest:
                legacy_keys = {path_key, None}
            else:
                raise RuntimeError(
                    f"out_dir {out_dir!r} holds legacy (pre-query-id) "
                    f"commit markers older than the checkpoint instance at "
                    f"{checkpoint_dir!r} — the dir was deleted and "
                    "recreated after those markers were written, so its "
                    "batch ids restarted and matching them would silently "
                    "skip new batches; use a fresh out_dir"
                )
    accept_keys = legacy_keys | {pre_qid}
    stale = {
        b: meta.get("checkpoint")
        for b, meta in committed.items()
        if meta.get("checkpoint") not in accept_keys
    }
    if stale:
        raise RuntimeError(
            f"out_dir {out_dir!r} holds commit markers from a different "
            f"checkpoint instance ({next(iter(stale.values()))!r}); batch "
            "ids are checkpoint-relative, so resuming here would silently "
            "skip new batches — use a fresh out_dir (or the original "
            "checkpoint_dir)"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # the query id exists once the stream has started; path fallback
        # only covers an (unexpected) metadata-less runtime
        ckpt_key = _checkpoint_identity(checkpoint_dir) or path_key
        meta = log.committed_groups().get(bid)
        if meta is not None and meta.get("checkpoint") in (
            {ckpt_key} | legacy_keys
        ):
            return  # durable already; this is a post-crash replay
        if drift_cols or hist_bins or hh_col or emb_col:
            # drift/histogram/heavy-hitter mode adds extra passes over
            # the batch; cache it so counts + violations + snapshots
            # share one materialization. Released in the finally below —
            # a failed write/profile must not leave the batch pinned in
            # executor storage across foreachBatch retries.
            batch_df.persist()
        try:
            _process_batch(batch_df, bid, ckpt_key)
        finally:
            if drift_cols or hist_bins or hh_col or emb_col:
                batch_df.unpersist()

    def _process_batch(batch_df: DataFrame, bid: int, ckpt_key: str) -> None:
        target = os.path.join(out_dir, "violations", f"batch_id={bid}")
        # one scan for all counts — per input PARTITION (north rule:
        # per-partition pass/fail), rolled up for the batch marker
        per_part = (
            batch_df.select(
                F.col(ruleset.part_col).alias("part_id"),
                F.size(ruleset.hits_column()).alias("_n"),
            )
            .groupBy("part_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("_n").alias("n_violations"),
            )
            .collect()
        )
        n_rows = sum(int(r["n_rows"]) for r in per_part)
        n_violations = sum(int(r["n_violations"] or 0) for r in per_part)
        ruleset.violations(batch_df).write.mode("overwrite").parquet(target)
        extra = {"kind": "stream_batch",
                 "checkpoint": ckpt_key,
                 "n_rows": n_rows,
                 "n_violations": n_violations,
                 "per_part": {
                     str(r["part_id"]): [int(r["n_rows"]),
                                         int(r["n_violations"] or 0)]
                     for r in per_part
                 }}
        if drift_cols:
            from mds_provider_spark.operators.stats import profile

            def _f(v):
                return None if v is None else float(v)

            extra["drift"] = {
                r["column_name"]: {
                    "quantiles": (
                        None if r["quantiles"] is None
                        else [_f(q) for q in r["quantiles"]]
                    ),
                    "null_rate": _f(r["null_rate"]),
                    "approx_distinct": int(r["approx_distinct"]),
                    "min_val": _f(r["min_val"]),
                    "max_val": _f(r["max_val"]),
                }
                for r in profile(batch_df, drift_cols).collect()
            }
        if hist_bins:
            from mds_provider_spark.operators.drift import bucket_counts

            extra["hist"] = {
                "n_bins": int(hist_n_bins),
                "bins": {c: [float(lo), float(hi)]
                         for c, (lo, hi) in sorted(hist_bins.items())},
                # [column, bucket, cnt] triples — n_cols*n_bins max
                "counts": [
                    [r["column_name"], int(r["bucket"]), int(r["cnt"])]
                    for r in bucket_counts(
                        batch_df, hist_bins, hist_n_bins
                    ).collect()
                ],
            }
        if hh_col:
            from mds_provider_spark.operators.stats import (
                mg_partition_summaries,
            )

            merged = mg_partition_summaries(
                batch_df, hh_col, hh_capacity
            ).groupBy("value").agg(F.sum("weight").alias("est"))
            merged.persist()
            try:
                n_nonnull = int(
                    merged.where(F.col("value").isNull())
                    .agg(F.coalesce(F.sum("est"), F.lit(0)))
                    .first()[0]
                )
                # driver-side MG re-trim to hh_capacity needs only the
                # top cap+1 merged rows (everything below the (cap+1)-th
                # weight is dropped by the trim anyway), so the collect
                # is bounded by the CAPACITY, not by batch partitions —
                # the frequent_items discipline applied to the stream.
                top = (
                    merged.where(F.col("value").isNotNull())
                    .orderBy(F.desc("est"), F.asc("value"))
                    .limit(int(hh_capacity) + 1)
                    .collect()
                )
            finally:
                merged.unpersist()
            d = int(top[-1]["est"]) if len(top) > int(hh_capacity) else 0
            counters = {
                r["value"]: int(r["est"]) - d
                for r in top
                if int(r["est"]) > d
            }
            extra["hh"] = {
                "capacity": int(hh_capacity),
                "n": n_nonnull,
                # [value, weight] pairs, at most hh_capacity of them
                "counters": sorted(
                    ([v, int(w)] for v, w in counters.items()),
                    key=lambda p: (-p[1], p[0]),
                ),
            }
        if emb_col:
            from mds_provider_spark.operators.drift import embedding_baseline

            extra["emb"] = embedding_baseline(
                batch_df, emb_col, emb_group_col, emb_dim, emb_grid
            )
        # marker doubles as the lineage/metrics row (batch-runner parity)
        log.commit_group(
            bid, sorted(int(r["part_id"]) for r in per_part if r["part_id"] is not None),
            run_id=run_id, batch=bid,
            extra=extra)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def committed_stream_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-BATCH pass/fail verdicts from the commit markers alone —
    the streaming twin of the batch runner's per-partition verdicts
    (north rule: per-partition lineage + metrics rows). Metadata-only:
    no violation data is scanned."""
    from mds_provider_spark.plans.checkpoint import CommitLog

    rows = []
    for b, meta in sorted(CommitLog(out_dir).committed_groups().items()):
        if "n_rows" not in meta or "n_violations" not in meta:
            # loud, matching committed_stream_part_verdicts: defaulting a
            # legacy/malformed marker to 0 would report the batch as a
            # PASSING one with no signal that the counts are missing
            raise RuntimeError(
                f"commit marker for batch {b} carries no row/violation "
                "counts (written by an older sink); batch verdicts cannot "
                "be reconstructed from it — recompute from "
                "committed_stream_violations instead"
            )
        rows.append(
            (
                int(b),
                "fail" if int(meta["n_violations"]) > 0 else "pass",
                int(meta["n_rows"]),
                int(meta["n_violations"]),
                str(meta.get("run_id", "")),
            )
        )
    return local_frame(
        spark, rows,
        "batch_id long, status string, n_rows long, n_violations long, run_id string",
    )


def committed_stream_part_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-PARTITION verdicts across all committed batches (north rule:
    per-partition pass/fail) — the streaming analog of the batch
    runner's verdicts table, derived from marker metadata alone and
    merged across batches (a partition whose rows arrived over many
    micro-batches aggregates them all)."""
    from collections import defaultdict

    from mds_provider_spark.plans.checkpoint import CommitLog

    acc: dict[int | None, list[int]] = defaultdict(lambda: [0, 0])
    for b, meta in sorted(CommitLog(out_dir).committed_groups().items()):
        if "per_part" not in meta:
            # loud like the checkpoint-mismatch guard: silently skipping
            # a marked batch would under-count partitions with no signal
            raise RuntimeError(
                f"commit marker for batch {b} carries no per-partition "
                "counts (written by an older sink); per-partition verdicts "
                "cannot be reconstructed from it — recompute from "
                "committed_stream_violations instead"
            )
        for pid, (nr, nv) in meta["per_part"].items():
            # rows with NULL part_id are reported under part_id NULL,
            # never dropped (batch totals and partition totals must agree)
            key = None if pid == "None" else int(pid)
            acc[key][0] += int(nr)
            acc[key][1] += int(nv)
    rows = [
        (pid, "fail" if nv > 0 else "pass", nr, nv)
        for pid, (nr, nv) in sorted(
            acc.items(), key=lambda kv: (kv[0] is None, kv[0] if kv[0] is not None else 0)
        )
    ]
    return local_frame(
        spark, rows, "part_id int, status string, n_rows long, n_violations long"
    )


def committed_stream_snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-batch per-column sketch snapshots from commit markers alone
    (metadata-only) — SNAPSHOT_SCHEMA shape plus ``batch_id``. Raises
    loudly on a marked batch without drift metadata (sink ran without
    ``drift_cols``): silently skipping it would hide a monitoring gap,
    matching the policy of the other marker readers."""
    from mds_provider_spark.plans.checkpoint import CommitLog

    rows = []
    for b, meta in sorted(CommitLog(out_dir).committed_groups().items()):
        if "drift" not in meta:
            raise RuntimeError(
                f"commit marker for batch {b} carries no drift snapshot "
                "(the sink ran without drift_cols); per-batch drift cannot "
                "be reconstructed from markers — rerun the stream with "
                "drift_cols set, or snapshot committed_stream_* output "
                "with operators.drift.snapshot instead"
            )
        for col, s in sorted(meta["drift"].items()):
            rows.append((
                int(b), col,
                None if s["quantiles"] is None
                else [float(q) for q in s["quantiles"]],
                s["null_rate"], int(s["approx_distinct"]),
                s["min_val"], s["max_val"],
            ))
    return local_frame(
        spark, rows,
        "batch_id long, column_name string, quantiles array<double>, "
        "null_rate double, approx_distinct long, min_val double, max_val double",
    )


def committed_stream_drift(
    spark: SparkSession,
    out_dir: str,
    baseline: DataFrame,
    **thresholds,
) -> DataFrame:
    """Per-micro-batch drift findings vs a baseline snapshot — the
    streaming twin of ``operators.drift.drift_violations``, derived from
    marker-borne snapshots alone. Exactly-once per batch follows from
    the commit protocol: a batch's snapshot is written with its marker
    (never on replay), and this reader is a deterministic function of
    markers + baseline, so kill/restart cannot duplicate or drop a
    finding. A distribution shift seeded mid-stream surfaces in exactly
    the batch where it lands. ``thresholds`` forward to
    ``drift_violations`` (quantile_rel/null_rate_abs/distinct_rel)."""
    from mds_provider_spark.operators.drift import drift_violations

    current = committed_stream_snapshots(spark, out_dir)
    return drift_violations(
        current, baseline, keep_cols=["batch_id"], **thresholds
    ).orderBy("batch_id", "column_name")


def committed_stream_histogram_counts(
    spark: SparkSession, out_dir: str
) -> "tuple[DataFrame, dict[str, tuple[float, float]], int]":
    """Per-batch fixed-grid bucket counts from commit markers alone —
    ``(counts_df(batch_id, column_name, bucket, cnt), bins, n_bins)``.
    Raises loudly on a marked batch without histogram metadata or with a
    bin grid that disagrees with the others (PSI across batches is only
    comparable on one grid), matching the other marker readers."""
    from mds_provider_spark.plans.checkpoint import CommitLog

    rows, bins, n_bins = [], None, None
    for b, meta in sorted(CommitLog(out_dir).committed_groups().items()):
        h = meta.get("hist")
        if h is None:
            raise RuntimeError(
                f"commit marker for batch {b} carries no histogram counts "
                "(the sink ran without hist_bins); per-batch PSI cannot be "
                "reconstructed from markers — rerun the stream with "
                "hist_bins set"
            )
        grid = {c: (float(lo), float(hi)) for c, (lo, hi) in h["bins"].items()}
        if bins is None:
            bins, n_bins = grid, int(h["n_bins"])
        elif grid != bins or int(h["n_bins"]) != n_bins:
            raise RuntimeError(
                f"commit marker for batch {b} was written with a different "
                "bin grid than earlier batches; PSI is only comparable on "
                "one grid — use a fresh out_dir when changing hist_bins"
            )
        rows.extend(
            (int(b), c, int(k), int(n)) for c, k, n in h["counts"]
        )
    return (
        local_frame(
            spark, rows, "batch_id long, column_name string, bucket int, cnt long"
        ),
        bins or {},
        n_bins or 0,
    )


def committed_stream_histogram_drift(
    spark: SparkSession,
    out_dir: str,
    baseline: DataFrame,
    eps: float = 1e-4,
    psi_warn: float = 0.1,
    psi_drift: float = 0.2,
) -> DataFrame:
    """Per-micro-batch PSI / JS-divergence drift vs a baseline — the
    streaming twin of ``operators.drift.histogram_drift``, from
    marker-borne bucket counts alone. The bin grid is recovered from the
    markers themselves, so the baseline is bucketed on EXACTLY the grid
    the stream recorded (one scan of the baseline; everything after is
    arithmetic over a batches x n_cols x n_bins grid). Exactly-once per
    batch follows from the commit protocol, same as
    ``committed_stream_drift``: a seeded mid-stream shape change (e.g.
    bimodality that leaves the median alone) surfaces in exactly the
    batch where it lands, and kill/restart cannot duplicate or drop a
    finding."""
    from mds_provider_spark.operators.drift import bucket_counts, psi_from_counts

    cur, bins, n_bins = committed_stream_histogram_counts(spark, out_dir)
    if not bins:
        return local_frame(
            spark, [],
            "batch_id long, column_name string, psi double, js_div double, "
            "n_cur long, n_base long, verdict string",
        )
    return psi_from_counts(
        spark,
        cur,
        bucket_counts(baseline, bins, n_bins),
        list(bins),
        n_bins=n_bins,
        eps=eps,
        psi_warn=psi_warn,
        psi_drift=psi_drift,
        group_cols=["batch_id"],
    ).orderBy("batch_id", "column_name")


def committed_stream_heavy_hitters(
    spark: SparkSession,
    out_dir: str,
    threshold_frac: float = 0.1,
) -> DataFrame:
    """Per-micro-batch hot-key alerts from marker-borne Misra–Gries
    summaries alone — the streaming twin of ``stats.frequent_items``
    (which exactly-verifies with a second scan; a marker reader has no
    data to rescan, so it reports the sketch's PROVEN bounds instead).

    For each marked batch and each summarized value: est_min = the MG
    weight (never exceeds the true count), est_max = weight + n/(cap+1)
    (the summary's undercount bound). Verdicts:

    * ``hot``       — est_min >= threshold: the true count provably
      clears the threshold.
    * ``candidate`` — est_max >= threshold > est_min: cannot be ruled
      out (no false negatives above the slack — a genuinely hot key is
      always at least a candidate in its batch).

    Values with est_max below the threshold are omitted. Exactly-once
    per batch follows from the commit protocol (summaries are written
    with the marker, never on replay); a mid-stream hot key surfaces in
    exactly the batch where it lands. Raises loudly on a marked batch
    without a summary, matching the other marker readers."""
    import math

    from mds_provider_spark.plans.checkpoint import CommitLog

    if threshold_frac <= 0 or threshold_frac > 1:
        raise ValueError(f"threshold_frac must be in (0, 1]: {threshold_frac}")
    rows = []
    for b, meta in sorted(CommitLog(out_dir).committed_groups().items()):
        hh = meta.get("hh")
        if hh is None:
            raise RuntimeError(
                f"commit marker for batch {b} carries no heavy-hitter "
                "summary (the sink ran without hh_col); hot keys cannot "
                "be reconstructed from markers — rerun the stream with "
                "hh_col set"
            )
        n = int(hh["n"])
        if n == 0:
            continue
        cap = int(hh["capacity"])
        if threshold_frac <= 1.0 / (cap + 1):
            raise ValueError(
                f"threshold_frac={threshold_frac} is within the sketch "
                f"slack 1/(capacity+1)={1.0 / (cap + 1):.6f} for batch "
                f"{b}: a hot value could have been trimmed from the "
                "summary — rerun the stream with a larger hh_capacity"
            )
        threshold = int(math.ceil(threshold_frac * n))
        slack = n // (cap + 1)
        for value, weight in hh["counters"]:
            w = int(weight)
            if w + slack < threshold:
                continue
            rows.append(
                (
                    int(b),
                    value,
                    w,
                    w + slack,
                    n,
                    "hot" if w >= threshold else "candidate",
                )
            )
    return local_frame(
        spark, rows,
        "batch_id long, value string, est_min long, est_max long, "
        "n_rows long, verdict string",
    )


def committed_stream_embedding_drift(
    spark: SparkSession,
    out_dir: str,
    baseline: "dict | None" = None,
) -> DataFrame:
    """Per-micro-batch embedding-space drift from marker-borne exact
    summaries alone — the streaming twin of
    ``operators.drift.embedding_drift``. ``baseline`` is a summary dict
    from ``drift.embedding_baseline`` (e.g. of last week's corpus);
    when None, batch 0's summary is the baseline and later batches
    compare against it.

    The marker summaries are exact integers, so the metrics here are
    computed with the SAME formulas as the batch operator (cosine over
    per-dimension sum vectors, displacement via the cross-multiplied
    difference, magnitudes from the quantized norm sums) — no sketch
    error, and exactly-once per batch follows from the commit protocol.
    Groups absent from either side are skipped (category story), and a
    dim/grid mismatch between baseline and markers raises."""
    from mds_provider_spark.operators.drift import drift_from_summaries
    from mds_provider_spark.plans.checkpoint import CommitLog

    committed = sorted(CommitLog(out_dir).committed_groups().items())
    for b, meta in committed:
        if "emb" not in meta:
            raise RuntimeError(
                f"commit marker for batch {b} carries no embedding "
                "summary (the sink ran without emb_col); embedding drift "
                "cannot be reconstructed from markers. Markers already "
                "committed without summaries are never rewritten (replay "
                "skips committed batches), so start a NEW out/checkpoint "
                "pair with emb_col set"
            )
    rows = []
    base = baseline
    for b, meta in committed:
        emb = meta["emb"]
        if base is None:
            base = emb
            continue
        try:
            batch_rows = drift_from_summaries(base, emb)
        except ValueError as ex:
            raise ValueError(f"{ex} (marker for batch {b})") from None
        rows.extend((int(b),) + r for r in batch_rows)
    return local_frame(
        spark, rows,
        "batch_id long, group_value string, n_base long, n_cur long, "
        "centroid_cosine double, centroid_shift_l2 double, "
        "mean_norm_base double, mean_norm_cur double",
    )


def committed_stream_violations(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read violation rows of MARKED batches only — uncommitted dirs from
    crashed attempts never reach a reader."""
    from mds_provider_spark import schema as S
    from mds_provider_spark.plans.checkpoint import CommitLog

    ids = sorted(CommitLog(out_dir).committed_groups())
    paths = [
        os.path.join(out_dir, "violations", f"batch_id={b}") for b in ids
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return local_frame(spark, [], S.VIOLATIONS_SCHEMA)
    return spark.read.parquet(*paths)


def streaming_dedup(
    stream_df: DataFrame,
    text_col: str,
    time_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming ingestion dedup: keep the FIRST arrival of each content
    digest, drop later duplicates — the continuous twin of the batch
    exact-dedup (same md5-over-normalized-text digest, so batch and
    stream agree on what counts as a duplicate).

    State discipline: ``dropDuplicates`` keyed by the digest alone grows
    state forever. ``dropDuplicatesWithinWatermark`` dedups on the
    digest while the event-time watermark EVICTS digests older than the
    delay — state is bounded by arrival rate x watermark window,
    independent of stream length. A duplicate arriving later than the
    watermark delay is admitted again (the standard streaming-dedup
    tradeoff; the batch operator sweeps those in the nightly pass)."""
    from mds_provider_spark.operators.text import fingerprint

    return (
        stream_df.withColumn("_digest", fingerprint(text_col))
        .withWatermark(time_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def sessionize_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "6 hours",
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Streaming twin of ``operators.sessions.sessionize`` — the native
    ``session_window`` aggregation, so continuous arrivals get the same
    gap-cut semantics the batch operator computes with lag+running-sum.

    State discipline: session state is keyed by (key, open session) and
    EVICTED once the event-time watermark passes a session's close —
    bounded by concurrently-open sessions, independent of stream length.
    In append output mode a session only emits once finalized (watermark
    past its gap); use update/complete for live dashboards. Late events
    beyond ``watermark_delay`` are dropped by Spark's watermark contract
    (the batch operator re-derives exact sessions in the nightly pass —
    same pairing discipline as streaming dedup vs batch dedup).

    Output: (key, session_start, session_end, n_events).
    """
    return (
        events.where(F.col(key_col).isNotNull())
        .withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("_sw"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("_sw.start").alias("session_start"),
            F.col("_sw.end").alias("session_end"),
            "n_events",
        )
    )
