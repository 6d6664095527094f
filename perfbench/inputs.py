"""Input tables for the clip workloads, generated from the workload seed.

Tables are written the way the library expects them in production:
part_id-partitioned parquet, one file per part. ``PartVersions`` keeps two
versions of one part's file so a revalidation op can switch the table
between them the way an upstream writer would: write the new file, then
delete the old one and its ``.crc`` sidecar (rewriting a parquet file in
place makes Spark's local reader fail its checksum).
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass, field

from mds_provider_spark.sources import fixtures as FX

from perfbench import oracle

TELEPHONY = {"sr_choices": [8000, 16000], "dur_choices": [80, 120, 160, 200]}
SMALLEST = {"sr_choices": [8000], "dur_choices": [80]}
REVISED_SUFFIX = " revised"


@dataclass
class ClipInput:
    """One generated clips + transcripts pair and its expected findings."""

    seed: int
    n_rows: int
    n_parts: int
    clips_dir: str
    transcripts_dir: str
    faults: dict[int, str]
    missing: set[int]
    orphan_count: int
    versions: "PartVersions | None" = None
    _want: dict = field(default_factory=dict)

    def expected(self, pcm: bool) -> Counter:
        """Expected ``(rule_id, clip_id)`` multiset for the CURRENT version
        of the table."""
        if pcm not in self._want:
            self._want[pcm] = oracle.expected_violations(
                self.seed, self.n_rows, self.faults, self.missing,
                self.orphan_count, pcm)
        want = Counter(self._want[pcm])
        if self.versions is not None and self.versions.current == "B":
            want[("transcript_mismatch:transcript", self.versions.clip_id)] += 1
        return want

    def expected_clean(self, pcm: bool) -> int:
        """Rows the quarantine gate must keep: non-NULL ids that no
        violation names."""
        named = {cid for _, cid in self.expected(pcm) if cid is not None}
        cid = lambda i: FX.clip_id_at(self.seed, i)  # noqa: E731
        row_id = {i: cid(i) for i in self.missing}
        for i, kind in self.faults.items():
            row_id[i] = {"null_clip_id": None, "bad_uuid": f"not-a-uuid-{i}",
                         "dup_clip_id": cid(i - 1)}.get(kind, cid(i))
            if kind == "dup_clip_id":
                row_id[i - 1] = cid(i - 1)
        if self.versions is not None:
            row_id[self.versions.row] = self.versions.clip_id
        dropped = sum(1 for v in row_id.values() if v is None or v in named)
        return self.n_rows - dropped

    def read(self, spark):
        """Fresh DataFrames (a new file listing, so part switches show)."""
        return (spark.read.parquet(self.clips_dir),
                spark.read.parquet(self.transcripts_dir))


def _write_parts(df, path: str) -> None:
    df.repartition("part_id").write.mode("overwrite").partitionBy("part_id").parquet(path)


def generate(spark, work: str, name: str, seed: int, n_rows: int, n_parts: int,
             profile: dict, faults: dict[int, str], missing_count: int,
             orphan_count: int) -> ClipInput:
    """Generate and write a clips/transcripts pair under ``work/name``."""
    base = os.path.join(work, name)
    shutil.rmtree(base, ignore_errors=True)
    missing = oracle.pick_missing(n_rows, faults, missing_count, seed)
    inp = ClipInput(seed, n_rows, n_parts, os.path.join(base, "clips"),
                    os.path.join(base, "transcripts"), faults, missing, orphan_count)
    _write_parts(FX.generate_clips(spark, n_rows, n_parts=n_parts, seed=seed,
                                   faults=faults, **profile), inp.clips_dir)
    _write_parts(FX.generate_transcripts(spark, n_rows, n_parts=n_parts, seed=seed,
                                         missing_idx=missing, orphan_count=orphan_count),
                 inp.transcripts_dir)
    return inp


class PartVersions:
    """Two versions of one part file: A as generated, B with one clean
    row's transcript revised (one extra ``transcript_mismatch``)."""

    def __init__(self, inp: ClipInput, work: str):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        banned = set(inp.faults) | inp.missing | {i - 1 for i in inp.faults}
        rng = random.Random(inp.seed * 31 + 7)
        self.row = rng.choice([i for i in range(inp.n_rows) if i not in banned])
        self.clip_id = FX.clip_id_at(inp.seed, self.row)
        self.part = FX.part_id_of(self.clip_id, inp.n_parts)
        self.dir = os.path.join(inp.clips_dir, f"part_id={self.part}")
        files = glob.glob(os.path.join(self.dir, "*.parquet"))
        if len(files) != 1:
            raise RuntimeError(f"expected one file in {self.dir}, found {len(files)}")
        store = os.path.join(work, "part_versions")
        os.makedirs(store, exist_ok=True)
        self.files = {"A": os.path.join(store, "A.parquet"),
                      "B": os.path.join(store, "B.parquet")}
        shutil.copyfile(files[0], self.files["A"])
        table = pq.read_table(files[0])
        idx = table.column_names.index("transcript")
        # a NULL clip_id compares as NULL, and if_else would null its transcript
        hit = pc.fill_null(pc.equal(table.column("clip_id"), self.clip_id), False)
        revised = pc.if_else(
            hit, pc.binary_join_element_wise(table.column("transcript"),
                                             REVISED_SUFFIX, ""),
            table.column("transcript"))
        pq.write_table(table.set_column(idx, table.field(idx), revised.cast(pa.string())),
                       self.files["B"])
        self.current = "A"
        self._serial = 0
        inp.versions = self

    def switch(self) -> str:
        """Replace the part's file with the other version; returns it."""
        nxt = "B" if self.current == "A" else "A"
        old = glob.glob(os.path.join(self.dir, "*.parquet"))
        self._serial += 1
        shutil.copyfile(self.files[nxt],
                        os.path.join(self.dir, f"part-v{self._serial:05d}-{nxt}.parquet"))
        for f in old:
            os.remove(f)
            crc = os.path.join(self.dir, f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        self.current = nxt
        return nxt
