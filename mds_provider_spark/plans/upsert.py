"""Keyed MERGE-style upsert over a hash-partitioned parquet table — the
reference's Postgres stage-table + ON CONFLICT load (mds/db.py
≈L180-300, ``Database.load`` with on-conflict-update semantics) restated
for a data lake. In production this is ONE Iceberg ``MERGE INTO`` /
``overwritePartitions`` transaction; the parquet stand-in below keeps
the same two properties that matter:

* **touched-partitions only**: the updates' part ids are collected
  (bounded by the partition count, never by data), the existing table is
  read with a ``part_id IN (...)`` partition-pruned scan, and dynamic
  partition overwrite rewrites exactly those directories. A 10^12-row
  table with a 10^6-row update batch does 10^6-row-scale work.
* **idempotent + crash-safe per partition**: the merged result is first
  written to an underscore-prefixed STAGING directory inside the table
  (Spark/Hadoop readers ignore ``_``/``.`` paths), then each touched
  partition is swapped in with three renames: old → ``_upsert_bak__*``,
  staged → final, delete bak. A rename is atomic on POSIX/HDFS, so at
  every instant the final directory holds either the complete old or
  the complete new partition — never a half-deleted one (round-5
  advice: the previous in-place dynamic overwrite could lose a
  partition's kept rows if killed between Spark's delete and rename).
  On entry the function REPAIRS any interrupted predecessor: leftover
  bak dirs are restored over their partition and stale staging roots
  deleted, returning the table to a consistent pre/post mix; the merge
  (a pure function of (table, updates)) then recomputes the identical
  bytes, so any retry converges. On object stores without atomic rename
  (S3), use a transactional table format — this is exactly the delta
  Iceberg ``MERGE INTO`` closes (SURVEY §2 S8, env-blocked here).

Atomicity across multiple partitions is the commit marker's job
(``CommitLog``), exactly like the validation runner: pass ``log`` and a
``batch`` id and readers that trust only marked batches never observe a
half-written multi-partition upsert.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def upsert_parquet(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    part_col: str = "part_id",
    version_col: str | None = None,
    log=None,
    batch: int | None = None,
) -> dict:
    """Upsert ``updates`` into the ``part_col``-partitioned parquet table
    at ``table_path``: rows whose key exists are replaced, new keys are
    inserted, untouched partitions are never read or written.

    ``updates`` must already carry ``part_col`` routed by the SAME
    hash(key) % P convention as the table (the runner/bucketing layout) —
    a mismatched route would strand the old row in another partition, so
    keys in ``updates`` whose partition differs from the table's routing
    are the caller's contract, not checked here.

    Duplicate keys within ``updates``: with ``version_col`` the highest
    version wins (ties break on nothing — equal versions for one key
    raise); without it duplicates raise, because "one of them, dealer's
    choice" is how silent nondeterminism ships.

    ``updates`` must carry exactly the table's columns and types (plus
    ``version_col``, which may only rank duplicates): an extra, missing
    or retyped column raises ``ValueError`` before anything is written.

    Returns ``{"parts": [...], "upserted": n, "existing_kept": m}``.
    """
    keys = list(key_cols)
    if version_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.desc(version_col))
        ranked = updates.withColumn("_uq_rn", F.row_number().over(w)) \
                        .withColumn("_uq_n", F.count(F.lit(1)).over(
                            Window.partitionBy(*keys, version_col)))
        dup_ver = ranked.where((F.col("_uq_rn") == 1) & (F.col("_uq_n") > 1))
        if dup_ver.take(1):
            raise ValueError(
                f"updates contain equal {version_col!r} values for one key "
                "— the winner would be nondeterministic"
            )
        updates = ranked.where(F.col("_uq_rn") == 1).drop("_uq_rn", "_uq_n")
    else:
        dup = updates.groupBy(*keys).count().where(F.col("count") > 1)
        if dup.take(1):
            raise ValueError(
                "updates contain duplicate keys and no version_col — "
                "the surviving row would be nondeterministic"
            )

    touched = [r[0] for r in updates.select(part_col).distinct().collect()]
    if not touched:
        return {"parts": [], "upserted": 0, "existing_kept": 0}

    import os
    import shutil

    _BAK = "_upsert_bak__"
    _STAGING = "_upsert_staging"

    if os.path.isdir(table_path):
        # repair an interrupted predecessor BEFORE reading: a leftover
        # bak dir means a swap died mid-flight. DIRECTION MATTERS
        # (round-6 advice, high): the swap sequence is
        # rename(final->bak); rename(staged->final); rmtree(bak) — so
        # bak and final can only coexist AFTER the staged->final rename
        # succeeded, which makes final the COMPLETE new partition while
        # bak may already be HALF-DELETED (crash inside rmtree). In that
        # state the only safe repair is to finish the interrupted swap:
        # drop the bak and keep final. Restoring the bak over final (the
        # previous behavior) replaced complete new data with a partial
        # backup, and the re-merge then read the half-deleted partition
        # as truth — silently losing every old row whose file was gone
        # and whose key the retried batch did not carry. Only when final
        # is ABSENT (crash between the two renames) does bak hold the
        # complete old partition, and rolling it back is correct. Any
        # staging root is a dead intermediate either way.
        for d in os.listdir(table_path):
            full = os.path.join(table_path, d)
            if d.startswith(_BAK):
                final = os.path.join(table_path, d[len(_BAK):])
                if os.path.exists(final):
                    shutil.rmtree(full)   # swap completed; bak is disposable
                else:
                    os.rename(full, final)  # swap died mid-flight; roll back
            elif d.startswith(_STAGING):
                shutil.rmtree(full)

    if os.path.isdir(table_path):
        existing = (
            spark.read.parquet(table_path)
            .where(F.col(part_col).isin(touched))
        )
        have = {f.name: f.dataType.simpleString() for f in updates.schema}
        want = {f.name: f.dataType.simpleString() for f in existing.schema}
        extra = sorted(set(have) - set(want) - {version_col})
        missing = sorted(set(want) - set(have))
        # the partition column's read type comes from directory names
        retyped = sorted(f"{c} ({have[c]}, table {want[c]})"
                         for c in set(have) & set(want) - {part_col}
                         if have[c] != want[c])
        if extra or missing or retyped:
            raise ValueError(
                f"updates do not match the table schema: extra {extra}, "
                f"missing {missing}, retyped {retyped}")
        kept = existing.join(
            updates.select(*keys).distinct(), keys, "left_anti"
        )
        merged = kept.unionByName(updates.select(*existing.columns))
        n_kept = kept.count()
    else:
        merged = updates
        n_kept = 0
    n_up = updates.count()

    # stage-and-swap (see module docstring): the merged partitions land
    # in an ignored _staging dir, then each touched partition flips in
    # with atomic renames — no instant at which a reader (or a crash)
    # sees a partially-deleted partition directory.
    staging = os.path.join(table_path, _STAGING)
    (
        merged.repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(staging)
    )
    for d in sorted(os.listdir(staging)):
        if not d.startswith(f"{part_col}="):
            continue  # _SUCCESS etc.
        staged = os.path.join(staging, d)
        final = os.path.join(table_path, d)
        bak = os.path.join(table_path, _BAK + d)
        if os.path.exists(final):
            os.rename(final, bak)
        os.rename(staged, final)
        if os.path.exists(bak):
            shutil.rmtree(bak)
    shutil.rmtree(staging, ignore_errors=True)
    if log is not None and batch is not None:
        log.commit_group(batch, [int(p) for p in touched], "upsert",
                         batch=batch,
                         extra={"kind": "upsert", "upserted": n_up,
                                "existing_kept": n_kept})
    return {"parts": sorted(touched), "upserted": n_up,
            "existing_kept": n_kept}

