"""Every file a snapshot references holds only its bucket's keys.

A bucket write is routed by the key hash into ``n_buckets`` partitions
and written flat; the bucket of each file is read from its name
(``part-<write task>-…``). These tests read every referenced file back
and hash each row, across a seed, a batch that leaves bucket 0 clean,
a partial merge, a compaction and a write split by
``spark.sql.files.maxRecordsPerFile``, and check that no write plans a
``Sort`` under its ``WriteFiles``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dx.engine import seed_lake
from dx.generator import gen_seed_table
from dx.lake import LakeTable, spark_hash


def _changes(spark, rows):
    """rows: list of (repo, path, lsn, op) → a deduped merge frame."""
    df = spark.createDataFrame(
        [(r, p, f"c{lsn}", "py", f"v{lsn}", op, lsn) for r, p, lsn, op in rows],
        "repo string, path string, commit string, lang string, "
        "content string, op string, _lsn long",
    )
    return df.withColumn("_content_sha", F.unhex(F.sha2(F.col("content"), 256)))


def _keys_outside_bucket_zero(n_buckets, count):
    keys = [("r", f"k/{i:04d}") for i in range(10 * count)]
    return [k for k in keys if spark_hash(*k) % n_buckets != 0][:count]


def _referenced(meta):
    """{file: bucket} over the snapshot's base and delta files."""
    return {f: b for m in (meta["files"], meta.get("deltas", {}))
            for b, fl in m.items() for f in fl}


def _assert_files_hold_their_bucket(table):
    n = table.n_buckets
    refs = _referenced(table.meta())
    assert refs
    for f, b in refs.items():
        t = pq.read_table(f, columns=["repo", "path"])
        assert t.num_rows > 0, f
        keys = zip(t.column("repo").to_pylist(), t.column("path").to_pylist())
        assert {spark_hash(r, p) % n for r, p in keys} == {int(b)}, f


@pytest.mark.parametrize("n_buckets", [4, 8])
def test_every_file_holds_only_its_bucket(spark, tmp_path, n_buckets):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    seed_lake(spark, table, gen_seed_table(2, 20, seed=11))
    _assert_files_hold_their_bucket(table)

    clean0 = _keys_outside_bucket_zero(n_buckets, 12)
    table.merge(_changes(spark, [(r, p, 10 + i, "U") for i, (r, p) in enumerate(clean0)]),
                batch_id="b1", watermark_hi=30)
    assert "0" not in table.meta()["deltas"]
    _assert_files_hold_their_bucket(table)

    partial = _changes(spark, [(r, p, 40 + i, "U") for i, (r, p) in enumerate(clean0[:6])])
    table.merge(partial.withColumn("commit", F.lit(None).cast("string")),
                batch_id="b2", watermark_hi=50, update_mode="partial")
    _assert_files_hold_their_bucket(table)

    table.compact()
    assert table.delta_depth() == {}
    _assert_files_hold_their_bucket(table)

    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        many = [("s", f"m/{i:04d}") for i in range(8 * n_buckets)]
        table.merge(_changes(spark, [(r, p, 100 + i, "U") for i, (r, p) in enumerate(many)]),
                    batch_id="b3", watermark_hi=200)
    finally:
        spark.conf.set(key, prev)
    meta = table.meta()
    assert meta["merge_stats"]["change_rows"] == len(many)
    # a write task split into several files: each piece is still its bucket
    assert max(table.delta_depth().values()) > 1
    _assert_files_hold_their_bucket(table)
    assert table.read().count() == 40 + len(clean0) + len(many)


def test_clean_bucket_zero_leaves_no_empty_file(spark, tmp_path):
    """Spark writes a 0-row file for partition 0 even when bucket 0 is
    clean; the write deletes it, so right after the merge the parquet
    files on disk are exactly the ones the snapshot references. The
    merge counts only the buckets and rows it wrote, and GC after a
    compaction leaves no data dir without a referenced file."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    keys = _keys_outside_bucket_zero(4, 10)
    sid = table.merge(_changes(spark, [(r, p, i + 1, "U") for i, (r, p) in enumerate(keys)]),
                      batch_id="b1", watermark_hi=10)
    meta = table.meta()
    data = os.path.join(table.root, "data")
    written = glob.glob(os.path.join(data, f"{sid}-*", "*.parquet"))
    assert all(pq.read_metadata(f).num_rows > 0 for f in written)
    assert set(written) == set(_referenced(meta))
    dirty = {str(spark_hash(*k) % 4) for k in keys}
    assert set(meta["deltas"]) == dirty
    assert meta["merge_stats"]["dirty_buckets"] == len(dirty)
    assert meta["merge_stats"]["change_rows"] == len(keys)

    table.compact()
    table.expire_snapshots(keep_last=1, min_age_s=0)
    refs = _referenced(table.meta())
    on_disk = glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True)
    assert set(on_disk) == set(refs)
    assert set(os.listdir(data)) == {os.path.basename(os.path.dirname(f)) for f in refs}
    assert table.read().count() == len(keys)


def test_gc_removes_an_old_dead_dir_in_one_pass(spark, tmp_path):
    """A dead write dir older than ``min_age_s`` goes in one GC pass:
    deleting its files moves the dir's mtime to now, so its age is
    read before them."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    seed_lake(spark, table, gen_seed_table(1, 6, seed=2))
    (src,) = next(iter(table.meta()["files"].values()))
    dead = os.path.join(table.root, "data", "s9-0000dead")
    os.makedirs(dead)
    shutil.copy(src, os.path.join(dead, "part-00000-x.parquet"))
    open(os.path.join(dead, "_SUCCESS"), "w").close()
    old = time.time() - 3600
    for p in [os.path.join(dead, n) for n in os.listdir(dead)] + [dead]:
        os.utime(p, (old, old))
    table.expire_snapshots(keep_last=1, min_age_s=1)
    assert not os.path.exists(dead)
    assert os.path.exists(src)
    assert table.read().count() == 6


def test_gc_keeps_a_write_dir_whose_referenced_file_is_nested(spark, tmp_path):
    """A referenced file one directory below its write dir (the
    per-bucket subdirectory layout) keeps that write dir alive."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    seed_lake(spark, table, gen_seed_table(1, 6, seed=2))
    meta = table.meta()
    b, (src,) = next(iter(meta["files"].items()))
    nested = os.path.join(table.root, "data", "s9-0000abcd", f"__bucket={b}",
                          "part-0.parquet")
    os.makedirs(os.path.dirname(nested))
    shutil.copy(src, nested)
    table._link(table._child(meta, "relayout", files={**meta["files"], b: [nested]}))
    table.expire_snapshots(keep_last=1, min_age_s=0)
    assert os.path.exists(nested)
    assert not os.path.exists(src)
    assert table.read().count() == 6


def _write_plans(spark, fn) -> list[str]:
    """Physical plans of the file writes ``fn`` runs, read back from
    Spark's SQL status store once its listener bus has drained."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        found = store.executionsList()
        return [found.apply(i) for i in range(found.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > before]
    return [p for p in plans if "WriteFiles" in p]


def test_bucket_writes_plan_no_sort(spark, tmp_path):
    """A flat write has no required ordering, so seed, merge and
    compaction plan nothing between ``WriteFiles`` and the routed rows
    (a ``partitionBy`` write sorts every row of every task first)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    keys = [("r", f"k/{i:04d}") for i in range(20)]
    for write in (
        lambda: seed_lake(spark, table, gen_seed_table(2, 10, seed=5)),
        lambda: table.merge(_changes(spark, [(r, p, i + 1, "U") for i, (r, p) in enumerate(keys)]),
                            batch_id="b1", watermark_hi=20),
        lambda: table.compact(),
    ):
        plans = _write_plans(spark, write)
        assert len(plans) == 1
        lines = plans[0].splitlines()
        under = [b for a, b in zip(lines, lines[1:]) if "WriteFiles" in a]
        assert under and not any("Sort" in b for b in under), plans[0]
