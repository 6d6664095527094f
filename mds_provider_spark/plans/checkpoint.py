"""Per-partition-group commit log -> resumable validation runs.

BASELINE.json: "persisted with per-partition lineage and metrics rows so a
killed run resumes from the last committed checkpoint without revalidating
completed partitions". The reference's only idempotency mechanism is the
Postgres stage-table + ON CONFLICT upsert (mds/db.py ≈L180–300); this is
its distributed restatement.

Design (Iceberg semantics over plain parquet — in production each commit
is one ``df.writeTo(t).overwritePartitions()`` transaction; here the
parquet stand-in uses Spark's dynamic partition overwrite, which is
idempotent per part_id, plus an atomic marker file per group):

    <out_dir>/
      violations/part_id=<p>/...   dynamic-overwrite per group (idempotent)
      verdicts/part_id=<p>/...
      clean/part_id=<p>/...        (the runner's emit_clean only)
      _commits/<g>.json            atomic rename -> group g is durable; the
                                   caller's ``extra`` rides along (the
                                   runner's lineage: rows, violations,
                                   clips_per_sec and per-part rows)

A group's outputs are only trusted if its marker exists. Re-running an
uncommitted group overwrites exactly its own part_id partitions — no
duplicate output, no lost data. Markers are tiny driver-side JSON written
via tempfile + os.replace (atomic on POSIX); at cluster scale the same
role is played by the Iceberg snapshot commit.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass


@dataclass
class CommitLog:
    out_dir: str

    @property
    def commits_dir(self) -> str:
        return os.path.join(self.out_dir, "_commits")

    def path(self, sub: str) -> str:
        return os.path.join(self.out_dir, sub)

    def committed_groups(self) -> dict[int, dict]:
        if not os.path.isdir(self.commits_dir):
            return {}
        out: dict[int, dict] = {}
        for name in os.listdir(self.commits_dir):
            if name.endswith(".json"):
                with open(os.path.join(self.commits_dir, name)) as f:
                    meta = json.load(f)
                out[int(meta["group_id"])] = meta
        return out

    def committed_parts(self) -> set[int]:
        parts: set[int] = set()
        for meta in self.committed_groups().values():
            parts.update(meta["part_ids"])
        return parts

    def clear_parts(self, sub: str, part_ids: list[int]) -> None:
        """Drop the part_id partition dirs of an UNCOMMITTED attempt.

        Dynamic partition overwrite only replaces partitions present in
        the new result — if a crashed attempt wrote violations for a part
        whose retry yields zero violations, the stale rows would survive
        and flip that part's verdict to fail. The runner therefore clears
        every part in the group before rewriting (the Iceberg analog is
        ``overwrite(part_id IN (...))`` — overwrite-by-filter, which
        replaces the listed partitions whether or not the new data
        touches them; Spark's dynamic mode alone does not)."""
        import shutil

        base = self.path(sub)
        for p in part_ids:
            d = os.path.join(base, f"part_id={int(p)}")
            if os.path.isdir(d):
                shutil.rmtree(d)

    def invalidate_parts(self, part_ids: "list[int] | set[int]") -> list[int]:
        """Delete the commit markers of every group touching the given
        partitions, so a resume REVALIDATES exactly those groups (the
        incremental-revalidation entry point: fingerprint delta →
        invalidate dirty parts → normal resume skips the rest). Output
        dirs are left in place — the rerun's clear_parts + dynamic
        overwrite replaces them atomically, and readers keep trusting
        the old marker-committed data until the new marker lands...
        except the marker is deleted first, which is the point: a
        reader between invalidate and recommit sees that group as
        uncommitted, the same contract as a never-validated group.
        Returns the invalidated group ids."""
        dirty = {int(p) for p in part_ids}
        dropped = []
        for gid, meta in self.committed_groups().items():
            if dirty & {int(p) for p in meta["part_ids"]}:
                os.remove(os.path.join(self.commits_dir, f"{gid:05d}.json"))
                dropped.append(gid)
        return sorted(dropped)

    def commit_group(self, group_id: int, part_ids: list[int], run_id: str,
                     batch: int, extra: dict | None = None) -> None:
        os.makedirs(self.commits_dir, exist_ok=True)
        meta = {
            "group_id": group_id,
            "part_ids": sorted(int(p) for p in part_ids),
            "run_id": run_id,
            "batch": batch,
            "committed_unix": time.time(),
            **(extra or {}),
        }
        fd, tmp = tempfile.mkstemp(dir=self.commits_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.commits_dir, f"{group_id:05d}.json"))
