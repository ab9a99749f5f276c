"""Partial-update merge (X10): fold_partial + merge(update_mode='partial').

Column-level CDC events (MySQL binlog minimal row image / Paimon
partial-update): untouched columns arrive NULL and must keep their
stored value; a delete strictly resets the row.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dx.dedup import fold_partial
from dx.lake import LakeTable


def _events(spark, rows):
    """rows: (lsn, op, repo, path, commit, lang, content)"""
    return spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string",
    )


def test_fold_partial_latest_nonnull_per_column(spark):
    df = _events(spark, [
        (1, "U", "r", "a", "c1", None, "v1"),
        (2, "U", "r", "a", None, "py", None),
        (3, "U", "r", "a", None, None, "v3"),
    ])
    row = fold_partial(df).collect()[0]
    assert (row["lsn"], row["op"], row["__reset"]) == (3, "U", False)
    assert (row["commit"], row["lang"], row["content"]) == ("c1", "py", "v3")


def test_fold_partial_delete_resets(spark):
    df = _events(spark, [
        (1, "U", "r", "a", "c1", "py", "v1"),
        (2, "D", "r", "a", None, None, None),
        (3, "U", "r", "a", None, None, "v3"),
    ])
    row = fold_partial(df).collect()[0]
    # values at or before the delete never contribute
    assert (row["commit"], row["lang"], row["content"]) == (None, None, "v3")
    assert row["__reset"] is True and row["op"] == "U"
    # trailing delete wins the op
    df2 = _events(spark, [(1, "U", "r", "b", "c", "py", "v"),
                          (2, "D", "r", "b", None, None, None)])
    assert fold_partial(df2).collect()[0]["op"] == "D"


def _apply_partial(table, df):
    changes = df.select(
        "repo", "path", "commit", "lang", "content",
        F.when(F.col("content").isNotNull(),
               F.unhex(F.sha2(F.col("content"), 256))).alias("_content_sha"),
        "_lsn", "op", "__reset",
    )
    hi = df.agg(F.max("_lsn")).collect()[0][0]
    return table.merge(changes, batch_id=f"b{hi}", watermark_hi=hi,
                       update_mode="partial")


def _state(table):
    return {
        (r["repo"], r["path"]): r
        for r in table.read(include_system=True).collect()
    }


def test_partial_merge_coalesces_stored_values(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    b1 = fold_partial(_events(spark, [
        (1, "U", "r", "a", "c1", "py", "v1"),
        (2, "U", "r", "b", "c1", "go", "w1"),
    ])).withColumnRenamed("lsn", "_lsn")
    _apply_partial(table, b1)
    b2 = fold_partial(_events(spark, [
        (3, "U", "r", "a", None, None, "v2"),   # content-only update
        (4, "U", "r", "b", "c2", None, None),   # commit-only update
        (5, "U", "r", "c", "c2", "rs", "x1"),   # fresh insert
    ])).withColumnRenamed("lsn", "_lsn")
    _apply_partial(table, b2)
    s = _state(table)
    assert (s[("r", "a")]["commit"], s[("r", "a")]["lang"],
            s[("r", "a")]["content"]) == ("c1", "py", "v2")
    assert s[("r", "a")]["_lsn"] == 3
    # sha pairs with the surviving content, not the null change
    assert s[("r", "a")]["_content_sha"] is not None
    assert (s[("r", "b")]["commit"], s[("r", "b")]["content"]) == ("c2", "w1")
    assert s[("r", "c")]["content"] == "x1"


def test_partial_merge_delete_and_reset_cross_batch(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _apply_partial(table, fold_partial(_events(spark, [
        (1, "U", "r", "a", "c1", "py", "v1"),
        (2, "U", "r", "b", "c1", "go", "w1"),
    ])).withColumnRenamed("lsn", "_lsn"))
    # batch 2: delete a outright; delete-then-rebuild b in one batch
    _apply_partial(table, fold_partial(_events(spark, [
        (3, "D", "r", "a", None, None, None),
        (4, "D", "r", "b", None, None, None),
        (5, "U", "r", "b", None, None, "w2"),
    ])).withColumnRenamed("lsn", "_lsn"))
    s = _state(table)
    assert ("r", "a") not in s
    # b was reset: pre-delete commit/lang must NOT be inherited
    assert (s[("r", "b")]["commit"], s[("r", "b")]["lang"],
            s[("r", "b")]["content"]) == (None, None, "w2")


def test_partial_fold_batch_split_invariance(spark, tmp_path):
    """Folding one batch == folding two sub-batches merged in order."""
    rows = [
        (1, "U", "r", "k", "c1", None, None),
        (2, "U", "r", "k", None, "py", "v2"),
        (3, "D", "r", "k", None, None, None),
        (4, "U", "r", "k", None, "go", None),
        (5, "U", "r", "k", "c5", None, None),
    ]
    t1 = LakeTable.create(spark, str(tmp_path / "one"), n_buckets=2)
    _apply_partial(t1, fold_partial(_events(spark, rows))
                   .withColumnRenamed("lsn", "_lsn"))
    t2 = LakeTable.create(spark, str(tmp_path / "two"), n_buckets=2)
    for chunk in (rows[:2], rows[2:]):
        _apply_partial(t2, fold_partial(_events(spark, chunk))
                       .withColumnRenamed("lsn", "_lsn"))
    s1, s2 = _state(t1), _state(t2)
    assert set(s1) == set(s2) == {("r", "k")}
    for col in ("commit", "lang", "content", "_lsn", "_content_sha"):
        assert s1[("r", "k")][col] == s2[("r", "k")][col], col
    assert (s1[("r", "k")]["commit"], s1[("r", "k")]["lang"],
            s1[("r", "k")]["content"]) == ("c5", "go", None)
