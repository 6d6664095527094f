"""Keyed parquet upsert: touched-partitions-only MERGE semantics,
idempotency, and the dup-key contracts."""

import os
import re

import pytest
from pyspark.sql import functions as F

from mds_provider_spark.plans.upsert import upsert_parquet


def _tbl(spark, path):
    df = spark.createDataFrame(
        [(k, f"v{k}", k % 4) for k in range(100)],
        "k long, v string, part_id int",
    )
    (df.repartition("part_id").write.mode("overwrite")
       .partitionBy("part_id").parquet(path))


def test_upsert_replaces_inserts_and_leaves_parts_alone(spark, tmp_path):
    path = str(tmp_path / "t")
    _tbl(spark, path)
    # part 3 is untouched: record its file listing
    p3 = os.path.join(path, "part_id=3")
    before = sorted(os.listdir(p3))
    updates = spark.createDataFrame(
        [(0, "NEW0", 0), (500, "NEW500", 0), (1, "NEW1", 1)],
        "k long, v string, part_id int",
    )
    res = upsert_parquet(spark, path, updates, ["k"])
    assert res == {"parts": [0, 1], "upserted": 3, "existing_kept": 48}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 101
    assert got[0] == "NEW0" and got[1] == "NEW1" and got[500] == "NEW500"
    assert got[2] == "v2" and got[3] == "v3"       # same-part survivors
    assert sorted(os.listdir(p3)) == before        # untouched part untouched


def test_upsert_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "t2")
    _tbl(spark, path)
    updates = spark.createDataFrame([(7, "X", 3)], "k long, v string, part_id int")
    upsert_parquet(spark, path, updates, ["k"])
    first = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    upsert_parquet(spark, path, updates, ["k"])
    second = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert first == second and dict(first)[7] == "X"


def test_upsert_recovers_crash_between_bak_and_swap(spark, tmp_path):
    """Simulated kill after old→bak but before staged→final: the
    partition's final dir is GONE and its contents live only in the bak
    dir. Before the stage-and-swap protocol this was the data-loss
    window (in-place dynamic overwrite deletes, then writes). A retry
    must restore the bak, re-merge, and converge to the same result as
    an uninterrupted run."""
    import shutil

    path = str(tmp_path / "tc")
    _tbl(spark, path)
    updates = spark.createDataFrame(
        [(0, "NEW0", 0)], "k long, v string, part_id int"
    )
    # manufacture the crash state for part 0
    os.rename(os.path.join(path, "part_id=0"),
              os.path.join(path, "_upsert_bak__part_id=0"))
    os.makedirs(os.path.join(path, "_upsert_staging", "part_id=0"))
    res = upsert_parquet(spark, path, updates, ["k"])
    assert res["parts"] == [0] and res["existing_kept"] == 24
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 100 and got[0] == "NEW0" and got[4] == "v4"
    assert not any(d.startswith("_upsert") for d in os.listdir(path))


def test_upsert_recovers_crash_after_swap_before_bak_delete(spark, tmp_path):
    """Simulated kill after staged→final but before the bak delete: the
    final dir already holds the NEW bytes and the bak still holds the
    old partition. The repair restores the bak (pre-state) and the
    re-merge regenerates the identical new partition."""
    import shutil

    path = str(tmp_path / "tc2")
    _tbl(spark, path)
    old_backup = str(tmp_path / "old_p0")
    shutil.copytree(os.path.join(path, "part_id=0"), old_backup)
    updates = spark.createDataFrame(
        [(0, "NEW0", 0)], "k long, v string, part_id int"
    )
    upsert_parquet(spark, path, updates, ["k"])  # final = new bytes
    shutil.copytree(old_backup, os.path.join(path, "_upsert_bak__part_id=0"))
    res = upsert_parquet(spark, path, updates, ["k"])  # retry over crash state
    assert res["parts"] == [0] and res["existing_kept"] == 24
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 100 and got[0] == "NEW0" and got[4] == "v4"
    assert not any(d.startswith("_upsert") for d in os.listdir(path))


def test_upsert_repair_keeps_final_over_partial_bak(spark, tmp_path):
    """Crash DURING the bak delete (rmtree got through some files): the
    final dir holds the complete NEW partition, the bak is partial. The
    repair must finish the swap — drop the bak, keep final — because
    bak+final can only coexist after staged->final succeeded. Restoring
    the partial bak over final (the pre-round-7 behavior) and re-merging
    from it silently lost every old row whose bak file was already
    deleted and whose key the retry batch did not carry (round-6 advice,
    high)."""
    import shutil

    path = str(tmp_path / "tc3")
    _tbl(spark, path)
    updates = spark.createDataFrame(
        [(0, "NEW0", 0)], "k long, v string, part_id int"
    )
    upsert_parquet(spark, path, updates, ["k"])  # final = complete new bytes
    # manufacture the mid-rmtree crash: a bak dir with MOST files gone
    bak = os.path.join(path, "_upsert_bak__part_id=0")
    os.makedirs(bak)
    files = sorted(os.listdir(os.path.join(path, "part_id=0")))
    shutil.copy(os.path.join(path, "part_id=0", files[0]), bak)
    # retry with a DIFFERENT batch: rows outside it must all survive
    retry = spark.createDataFrame(
        [(4, "NEW4", 0)], "k long, v string, part_id int"
    )
    res = upsert_parquet(spark, path, retry, ["k"])
    assert res["parts"] == [0] and res["existing_kept"] == 24
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 100                      # nothing lost
    assert got[0] == "NEW0" and got[4] == "NEW4"
    assert got[8] == "v8" and got[96] == "v96"  # part-0 rows outside both batches
    assert not any(d.startswith("_upsert") for d in os.listdir(path))


def test_upsert_creates_table_when_absent(spark, tmp_path):
    path = str(tmp_path / "fresh")
    updates = spark.createDataFrame([(1, "a", 0)], "k long, v string, part_id int")
    res = upsert_parquet(spark, path, updates, ["k"])
    assert res["upserted"] == 1 and res["existing_kept"] == 0
    assert spark.read.parquet(path).count() == 1


def test_upsert_duplicate_keys_contracts(spark, tmp_path):
    path = str(tmp_path / "t3")
    _tbl(spark, path)
    dups = spark.createDataFrame(
        [(5, "A", 1), (5, "B", 1)], "k long, v string, part_id int"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_parquet(spark, path, dups, ["k"])
    # with a version column the highest version wins
    versioned = spark.createDataFrame(
        [(5, "old", 1, 1), (5, "new", 1, 2)],
        "k long, v string, part_id int, ver int",
    )
    upsert_parquet(spark, path, versioned, ["k"], version_col="ver")
    got = {r.k: r.v for r in spark.read.parquet(path)
           .where(F.col("k") == 5).collect()}
    assert got == {5: "new"}
    # equal versions for one key: loud, not dealer's choice
    tied = spark.createDataFrame(
        [(6, "A", 1, 1), (6, "B", 1, 1)],
        "k long, v string, part_id int, ver int",
    )
    with pytest.raises(ValueError, match="nondeterministic"):
        upsert_parquet(spark, path, tied, ["k"], version_col="ver")


@pytest.mark.parametrize("ddl, row, bad", [
    ("k long, v string, part_id int, extra string", (0, "NEW", 0, "x"),
     "extra ['extra']"),
    ("k long, part_id int", (0, 0), "missing ['v']"),
    ("k long, v double, part_id int", (0, 1.0, 0),
     "retyped ['v (double, table string)']"),
], ids=["extra", "missing", "retyped"])
def test_upsert_schema_mismatch_raises_before_writing(spark, tmp_path, ddl,
                                                      row, bad):
    path = str(tmp_path / "ts")
    _tbl(spark, path)

    def files():
        out = {}
        for root, _, names in os.walk(path):
            for n in names:
                with open(os.path.join(root, n), "rb") as f:
                    out[os.path.relpath(os.path.join(root, n), path)] = f.read()
        return out

    before = files()
    updates = spark.createDataFrame([row], ddl)
    with pytest.raises(ValueError, match=re.escape(bad)):
        upsert_parquet(spark, path, updates, ["k"])
    assert files() == before


def test_upsert_commit_marker(spark, tmp_path):
    from mds_provider_spark.plans.checkpoint import CommitLog

    path = str(tmp_path / "t4")
    _tbl(spark, path)
    log = CommitLog(str(tmp_path / "out"))
    updates = spark.createDataFrame([(9, "Z", 1)], "k long, v string, part_id int")
    upsert_parquet(spark, path, updates, ["k"], log=log, batch=0)
    meta = log.committed_groups()[0]
    assert meta["kind"] == "upsert" and meta["part_ids"] == [1]
    assert meta["upserted"] == 1
