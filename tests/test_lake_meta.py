"""Metadata scale properties of LakeTable (VERDICT r1 #1/#3/#4):

- per-batch metadata cost is O(1) no matter how long the snapshot
  chain is: the watermark guard reads the HEAD only, and a handle
  parses a head only when it neither parsed nor committed it before;
- expire_snapshots GC bounds metadata/data growth while keeping the
  retained window time-travelable and replay convergent;
- neither the large-batch replay nor a merge + compact() persists the
  payload frame (the measured 5-10× anti-pattern);
- a URI root and ``keep_last < 1`` are refused before they touch disk.
"""

from __future__ import annotations

import os

import pyspark.sql.dataframe as psd
import pytest
from pyspark.sql import functions as F

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import LakeTable
from dx import manifest as mf
from tests.oracle import replay, spark_state_to_pandas, state_hash


def test_o1_metadata_reads_per_batch(spark, tmp_path):
    """At chain length 1000, the idempotence guard on the handle that
    wrote the chain parses no snapshot — not a walk of 1000 ancestors,
    and not the head it committed last."""
    table = LakeTable.create(spark, str(tmp_path / "chain"), n_buckets=4)
    for i in range(1000):  # metadata-only commits: no Spark jobs
        table.checkpoint_watermark(f"b{i}", i + 1)

    table.meta_file_reads = 0
    assert mf.already_applied(table, "b999", 1000)          # applied → True
    assert not mf.already_applied(table, "b1001", 2000)     # new → False
    assert table.watermark() == 1000
    # the head is the snapshot this handle committed: no parse at all
    assert table.meta_file_reads == 0


def test_mor_merge_parses_no_snapshot(spark, tmp_path):
    """A merge on the handle that committed the head parses no
    snapshot file: it stages on the snapshot that handle holds."""
    table = LakeTable.create(spark, str(tmp_path / "mor1"), n_buckets=4)
    changes = spark.createDataFrame(
        [("r", "a", "c1", "py", "v1", 1, "U")],
        "repo string, path string, commit string, lang string, "
        "content string, _lsn long, op string",
    ).withColumn("_content_sha", F.unhex(F.sha2(F.col("content"), 256)))
    table.meta_file_reads = 0
    table.merge(changes, batch_id="b1", watermark_hi=1)
    assert table.meta_file_reads == 0


def test_lone_replay_parses_no_snapshot_per_batch(spark, tmp_path):
    """A lone writer's whole replay (3,000 events, ``delta=300``, 4
    buckets, auto-compaction on) parses at most the one snapshot its
    handle loads: every later head is one it committed itself."""
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=12, seed=3)
    changelog = gen_changelog(seed_df, n_events=3_000, seed=3)
    root = str(tmp_path / "lone")
    seed_lake(spark, LakeTable.create(spark, root, n_buckets=4), seed_df)
    table = LakeTable.load(spark, root)
    metrics = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                           delta=300).run()
    assert len(metrics) >= 10 and table.watermark() == 3_000
    assert table.meta_file_reads <= 1


def test_metadata_commits_inherit_table_state_only(spark, tmp_path):
    """A checkpoint or ``alter`` after a merge carries the merge's
    table state (files, watermark) but not its ``merge_stats`` or
    lineage."""
    table = LakeTable.create(spark, str(tmp_path / "child"), n_buckets=4)
    changes = spark.createDataFrame(
        [("r", "a", "c1", "py", "v1", 1, "U")],
        "repo string, path string, commit string, lang string, "
        "content string, _lsn long, op string",
    ).withColumn("_content_sha", F.unhex(F.sha2(F.col("content"), 256)))
    lineage = [{"source_partition": 0, "lsn_lo": 1, "lsn_hi": 1, "row_count": 1}]
    table.merge(changes, batch_id="b1-1", watermark_hi=1, lineage=lineage)
    merged = table.meta()
    assert merged["merge_stats"]["change_rows"] == 1
    assert merged["lineage"] == lineage

    table.checkpoint_watermark("b2-5", 5)
    table.alter("add_column", "lang2", batch_id="ddl6", at_lsn=6)
    for snap in table.snapshot_chain()[:2]:
        assert "merge_stats" not in snap and snap["lineage"] == []
        assert snap["deltas"] == merged["deltas"]
    assert table.watermark() == 6


def test_snapshot_reads_are_counted(spark, tmp_path):
    """Opening a snapshot by id counts as a metadata read like
    ``meta()``: a time-travel point read to an ancestor costs 1, and
    ``changes(a, head)`` costs 1 (the head is the one this handle
    committed)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    a = table.meta()["snapshot_id"]
    table.checkpoint_watermark("b1", 1)
    b = table.meta()["snapshot_id"]
    table.read_point("repo", "path")                 # one-time hash check
    table.meta_file_reads = 0
    table.read_point("repo", "path", snapshot_id=a).collect()
    assert table.meta_file_reads == 1
    table.meta_file_reads = 0
    table.changes(a, b)
    assert table.meta_file_reads == 1


def test_expire_snapshots_gc(spark, tmp_path):
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=12, seed=7)
    changelog = gen_changelog(seed_df, n_events=400, seed=7)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, str(tmp_path / "gc"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=100).run()

    # pre-GC: time travel to the parent works
    parent_sid = table.meta()["parent_id"]
    assert table.read(snapshot_id=parent_sid).count() >= 0

    # fold deltas so pre-compact delta files become unreferenced once
    # their snapshots expire (mor keeps every delta referenced in the
    # head until compaction — GC alone frees nothing, by design)
    table.compact()
    snap_dir = os.path.join(table.root, "snapshots")
    n_before = len(os.listdir(snap_dir))
    assert n_before > 3
    stats = table.expire_snapshots(keep_last=1, min_age_s=0)
    assert stats["expired_snapshots"] == n_before - 1
    assert stats["removed_data_files"] > 0  # pre-compact delta files freed
    assert len(os.listdir(snap_dir)) == 1

    # head state fully intact after GC
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)
    # chain walk stops at the horizon instead of raising
    assert len(table.snapshot_chain()) == 1
    # replay remains convergent: re-running the whole changelog is a no-op
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=100).run()
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


def test_cow_large_batch_never_persists_payload(spark, tmp_path, monkeypatch):
    """A cow merge used to persist() the full payload of a large batch
    (VERDICT r1 'what's wrong' #2). NO DataFrame.persist happens on the
    replay or on a direct merge of the engine's deduped frame for the
    whole rest of the changelog followed by compact() (the
    copy-on-write result), and the result still matches the oracle."""
    calls: list[str] = []
    orig = psd.DataFrame.persist

    def spy(self, *a, **kw):
        calls.append(str(self.columns))
        return orig(self, *a, **kw)

    monkeypatch.setattr(psd.DataFrame, "persist", spy)

    seed_df = gen_seed_table(n_repos=2, paths_per_repo=12, seed=13)
    changelog = gen_changelog(seed_df, n_events=500, seed=13)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    log = changelog_from_pandas(spark, changelog)
    engine = ReplayEngine(spark, table, log, delta=250)
    engine.run(max_batches=1)
    lo, head = table.watermark(), int(changelog["lsn"].max())
    events = log.filter((F.col("lsn") > lo) & (F.col("op") != "DDL"))
    table.merge(engine._dedup_changes(events), batch_id="cow-tail",
                watermark_hi=head)
    table.compact()

    assert calls == [], f"unexpected persist() of {calls}"
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


def test_expire_snapshots_survives_root_respelling(spark, tmp_path):
    """GC liveness must compare REALPATHS (ADVICE r2, dx/lake.py):
    opening the same table through a different spelling of its root
    (here: a symlink) and running expire_snapshots must not delete the
    head snapshot's live data files."""
    real_root = str(tmp_path / "respell")
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=8, seed=11)
    changelog = gen_changelog(seed_df, n_events=120, seed=11)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, real_root, n_buckets=4)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=60).run()
    table.compact()
    want = state_hash(spark_state_to_pandas(table.read(include_system=True)))

    link = str(tmp_path / "respell-link")
    os.symlink(real_root, link)
    aliased = LakeTable.load(spark, link)
    aliased.expire_snapshots(keep_last=1, min_age_s=0)

    # every live file survived: both spellings still read the full state
    assert state_hash(
        spark_state_to_pandas(aliased.read(include_system=True))
    ) == want
    assert state_hash(
        spark_state_to_pandas(LakeTable.load(spark, real_root)
                              .read(include_system=True))
    ) == want


def test_uri_roots_are_refused(spark, tmp_path):
    """LakeTable commits with os.replace and discovers, stats and GCs
    files on the local filesystem, so a URI root raises before any
    directory exists — even ``file://``, whose metadata would land
    under a cwd-relative ``file:/...`` dir and its data at the real
    path."""
    for scheme in ("file://", "file:", "s3a://bucket"):
        root = f"{scheme}{tmp_path}/uri/tbl"
        with pytest.raises(ValueError, match="IcebergTable"):
            LakeTable.create(spark, root, n_buckets=4)
        with pytest.raises(ValueError, match="IcebergTable"):
            LakeTable.load(spark, root)
        assert not (tmp_path / "uri").exists()
        assert not os.path.exists(scheme.split("/")[0])  # cwd-relative dir


def test_expire_snapshots_keeps_the_head(spark, tmp_path):
    """keep_last=0 would expire the head snapshot and every live data
    file: it raises, and the head still reads the same state."""
    table = LakeTable.create(spark, str(tmp_path / "keep0"), n_buckets=4)
    seed_lake(spark, table, gen_seed_table(n_repos=2, paths_per_repo=8, seed=5))
    want = state_hash(spark_state_to_pandas(table.read(include_system=True)))
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            table.expire_snapshots(keep_last=keep_last, min_age_s=0)
    reloaded = LakeTable.load(spark, table.root)
    assert state_hash(
        spark_state_to_pandas(reloaded.read(include_system=True))
    ) == want
