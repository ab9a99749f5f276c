"""Incremental changelog read between snapshots (LakeTable.changes).

The CDF surface a downstream consumer tails instead of re-reading the
table: insert/update post-images, delete pre-images, bucket-pruned by
manifest diff. north_star anchor: per-partition lineage + incremental
consumption of the replayed table (BASELINE.json:6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dx.lake import LakeTable


def _changelog(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string",
    ).select(
        "*",
        F.lit(None).cast("map<string,string>").alias("extra"),
    )


def _apply(table, df, batch_id, hi):
    from dx.transforms import content_sha_bin, normalize_content

    changes = df.select(
        "repo", "path", "commit", "lang",
        normalize_content(F.col("content")).alias("content"),
        content_sha_bin(F.col("content")).alias("_content_sha"),
        F.col("lsn").alias("_lsn"),
        "op",
    )
    return table.merge(changes, batch_id=batch_id, watermark_hi=hi)


@pytest.fixture()
def seeded(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    s1 = _apply(
        table,
        _changelog(spark, [
            (1, "I", "r1", "a.py", "c1", "py", "v1 of a"),
            (2, "I", "r1", "b.py", "c1", "py", "v1 of b"),
            (3, "I", "r2", "c.py", "c1", "py", "v1 of c"),
        ]),
        "b1", 3,
    )
    s2 = _apply(
        table,
        _changelog(spark, [
            (4, "U", "r1", "a.py", "c2", "py", "v2 of a"),      # update
            (5, "D", "r1", "b.py", "c2", "py", ""),             # delete
            (6, "I", "r3", "d.py", "c2", "py", "v1 of d"),      # insert
        ]),
        "b2", 6,
    )
    return table, s1, s2


def test_changes_classifies_insert_update_delete(seeded):
    table, s1, s2 = seeded
    rows = {
        (r["repo"], r["path"]): r
        for r in table.changes(s1, s2).collect()
    }
    assert set(rows) == {("r1", "a.py"), ("r1", "b.py"), ("r3", "d.py")}
    assert rows[("r1", "a.py")]["_change_type"] == "update"
    assert rows[("r1", "a.py")]["content"] == "v2 of a"
    assert rows[("r1", "a.py")]["_lsn"] == 4
    assert rows[("r3", "d.py")]["_change_type"] == "insert"
    # delete carries the PRE-image (reconciled state drops tombstones)
    assert rows[("r1", "b.py")]["_change_type"] == "delete"
    assert rows[("r1", "b.py")]["content"] == "v1 of b"
    assert rows[("r1", "b.py")]["_lsn"] == 2
    # untouched key (r2, c.py) is absent
    assert ("r2", "c.py") not in rows


def test_changes_default_to_head_and_self_diff_empty(seeded):
    table, s1, s2 = seeded
    assert table.changes(s1).count() == 3  # to=None → current head
    assert table.changes(s2, s2).count() == 0
    assert table.changes(s1, s1).count() == 0


def test_changes_prunes_untouched_buckets(seeded, spark):
    """Manifest-diff pruning: buckets whose base AND delta file lists
    are identical never reach the join — the scan covers only changed
    buckets' files."""
    table, s1, s2 = seeded
    old_meta = table.snapshot_meta(s1)
    new_meta = table.snapshot_meta(s2)

    def lists(meta, b):
        return meta["files"].get(b, []), meta["deltas"].get(b, [])

    buckets = {b for m in (old_meta, new_meta) for b in (*m["files"], *m["deltas"])}
    clean = {b for b in buckets if lists(old_meta, b) == lists(new_meta, b)}
    assert clean, "fixture must leave a clean bucket"
    plan = table.changes(s1, s2)._jdf.queryExecution().executedPlan().toString()
    for b in clean:
        for fl in lists(old_meta, b):
            for f in fl:
                assert f.rsplit("/", 1)[-1] not in plan


def test_changes_across_schema_evolution(seeded, spark):
    """Column added between the snapshots: post-images surface it,
    delete pre-images read NULL for it (didn't exist at `from`)."""
    table, s1, s2 = seeded
    table.alter("add_column", "stars", "long", batch_id="ddl7", at_lsn=7)
    df = _changelog(spark, [
        (8, "U", "r2", "c.py", "c3", "py", "v2 of c"),
        (9, "D", "r1", "a.py", "c3", "py", ""),
    ]).withColumn("extra", F.create_map(F.lit("stars"), F.lit("42")))
    from dx.transforms import content_sha_bin, normalize_content

    changes = df.select(
        "repo", "path", "commit", "lang",
        normalize_content(F.col("content")).alias("content"),
        F.col("extra").getItem("stars").cast("long").alias("stars"),
        content_sha_bin(F.col("content")).alias("_content_sha"),
        F.col("lsn").alias("_lsn"),
        "op",
    )
    table.merge(changes, batch_id="b3", watermark_hi=9)
    rows = {
        (r["repo"], r["path"]): r for r in table.changes(s2).collect()
    }
    assert rows[("r2", "c.py")]["_change_type"] == "update"
    assert rows[("r2", "c.py")]["stars"] == 42
    assert rows[("r1", "a.py")]["_change_type"] == "delete"
    assert rows[("r1", "a.py")]["stars"] is None
    assert rows[("r1", "a.py")]["content"] == "v2 of a"
