"""The snapshot commit is a compare-and-swap: each commit links an
fsynced snapshot file to the next sequence number, so of several
writers planned on one head exactly one wins and every other raises
``CommitConflict`` — across processes, against compaction, and after
GC. Metadata-only commits need no Spark session (``spark=None``).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading
import time

import pytest

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import CommitConflict, LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash

WRITERS, COMMITS = 4, 50


def _commit_loop(root: str, writer: int, barrier, out) -> None:
    """One racing writer: ``COMMITS`` watermark commits on its own
    handle; reports the batch ids it was told were committed."""
    try:
        table = LakeTable.load(None, root)
        committed = []
        barrier.wait(timeout=120)
        for i in range(COMMITS):
            batch_id = f"w{writer}-{i}"
            try:
                table.checkpoint_watermark(batch_id, i + 1)
            except CommitConflict:
                continue
            committed.append(batch_id)
        out.put(committed)
    except BaseException as e:  # anything but CommitConflict fails the test
        out.put(repr(e))


def test_racing_writer_processes_lose_no_commit(tmp_path):
    root = str(tmp_path / "race")
    LakeTable.create(None, root)
    ctx = mp.get_context("spawn")
    barrier, out = ctx.Barrier(WRITERS), ctx.Queue()
    procs = [ctx.Process(target=_commit_loop, args=(root, w, barrier, out))
             for w in range(WRITERS)]
    for p in procs:
        p.start()
    try:
        results = [out.get(timeout=300) for _ in procs]
    finally:
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.terminate()
    assert [r for r in results if isinstance(r, str)] == []
    committed = [b for r in results for b in r]
    assert len(committed) < WRITERS * COMMITS  # the writers did race
    chain = LakeTable.load(None, root).snapshot_chain()
    assert sorted(s["batch_id"] for s in chain if s["batch_id"]) == sorted(committed)
    assert len(chain) == len(committed) + 1  # + s0


def test_replay_races_compaction_to_the_oracle(spark, tmp_path):
    """One thread replays, re-running the engine on CommitConflict;
    another compacts in a loop on its own handle. Every commit either
    side was told succeeded is on the final chain, and every loser
    re-plans from the new head, so the result is the oracle's."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=30, seed=13)
    changelog = gen_changelog(seed_df, n_events=1_500, seed=13, batch_size=300)
    expected = replay(seed_df, changelog)
    root = str(tmp_path / "rc")
    table = LakeTable.create(spark, root, n_buckets=8)
    seed_lake(spark, table, seed_df)
    metrics_path = str(tmp_path / "metrics.jsonl")
    engine = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                          delta=150, metrics_path=metrics_path, compact_threshold=0)
    done = threading.Event()
    errors: list[BaseException] = []
    compacted, conflicts = [], []

    def replayer():
        try:
            while True:
                try:
                    engine.run()
                    return
                except CommitConflict:
                    pass
        except BaseException as e:
            errors.append(e)
        finally:
            done.set()

    def compactor():
        other = LakeTable.load(spark, root)
        try:
            while not done.is_set():
                try:
                    sid = other.compact()
                except CommitConflict as e:
                    conflicts.append(e)
                    continue
                if sid is None:
                    time.sleep(0.05)
                else:
                    compacted.append(sid)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (compactor, replayer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert errors == []
    assert compacted or conflicts  # the compactor did race the replay
    final = LakeTable.load(spark, root)
    chain = {s["snapshot_id"]: s["batch_id"] for s in final.snapshot_chain()}
    with open(metrics_path) as f:
        for m in map(json.loads, f):
            assert m["skipped"] or chain[m["snapshot_id"]] == m["batch_id"]
    assert all(chain[sid] == f"compact-{sid}" for sid in compacted)
    assert final.watermark() == 1_500
    assert state_hash(spark_state_to_pandas(final.read(include_system=True))) \
        == state_hash(expected)


def test_gc_keeps_young_snapshots_so_a_stale_plan_conflicts(tmp_path):
    """With the default ``min_age_s`` GC keeps snapshots a slow writer
    may still be racing, so a plan on an old parent cannot re-take an
    expired number below the head."""
    root = str(tmp_path / "gc")
    writer = LakeTable.create(None, root)
    stale = LakeTable.load(None, root)
    snap = stale._child(stale.meta(), "stale", watermark=99)  # planned at s0
    for i in range(3):
        writer.checkpoint_watermark(f"b{i}", i + 1)
    in_flight = os.path.join(root, "data", "s4-0badf00d", "_temporary", "0")
    os.makedirs(in_flight)  # a racing writer's Spark write, not yet committed
    assert writer.expire_snapshots(keep_last=1)["expired_snapshots"] == 0
    assert os.path.isdir(in_flight)
    with pytest.raises(CommitConflict, match="s1"):
        stale._commit(snap)
    assert LakeTable.load(None, root).watermark() == 3

    # with no writer active, min_age_s=0 expires all but the head
    assert writer.expire_snapshots(keep_last=1, min_age_s=0)["expired_snapshots"] == 3
    assert os.listdir(os.path.join(root, "snapshots")) == ["s3.json"]
    assert os.listdir(os.path.join(root, "data")) == []


def test_cold_handle_sees_later_commits(tmp_path):
    """A handle loaded at s0 finds another handle's later commits by
    probing forward, one snapshot open per ``meta()``, and commits
    after them."""
    root = str(tmp_path / "cold")
    writer = LakeTable.create(None, root)
    cold = LakeTable.load(None, root)
    for i in range(3):
        writer.checkpoint_watermark(f"b{i}", 10 * (i + 1))
    cold.meta_file_reads = 0
    assert cold.meta()["snapshot_id"] == "s3"
    assert cold.watermark() == 30
    assert cold.meta_file_reads == 2
    assert cold.checkpoint_watermark("c", 40) == "s4"
    assert writer.watermark() == 40
