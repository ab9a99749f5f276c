"""The snapshot commit is a compare-and-swap: each commit links an
fsynced snapshot file to the next sequence number, so of several
snapshots planned on one head exactly one links. A writer whose link
is taken applies its staged change to the new head — across
processes, against compaction, between engines — and raises
``CommitConflict`` only where the change does not apply (a schema
change under a merge, any commit under a partial merge). Work another
writer already did (a window, a second compaction of a bucket) is
dropped. Metadata-only commits need no Spark session (``spark=None``).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading
import time

import pytest

from pyspark.sql import functions as F

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import CommitConflict, LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash

WRITERS, COMMITS = 4, 50


def _commit_loop(root: str, writer: int, barrier, out) -> None:
    """One racing writer: ``COMMITS`` watermark commits on its own
    handle; reports (batch id, snapshot id) of each commit that landed.
    A None id (another writer covered that watermark first) is
    dropped."""
    try:
        table = LakeTable.load(None, root)
        landed = []
        barrier.wait(timeout=120)
        for i in range(COMMITS):
            batch_id = f"w{writer}-{i}"
            sid = table.checkpoint_watermark(batch_id, i + 1)
            if sid is not None:
                landed.append((batch_id, sid))
        out.put(landed)
    except BaseException as e:  # any error, CommitConflict too, fails the test
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
    landed = [c for r in results for c in r]
    chain = LakeTable.load(None, root).snapshot_chain()
    on_chain = {s["snapshot_id"]: s["batch_id"] for s in chain}
    assert all(on_chain.get(sid) == batch_id for batch_id, sid in landed)
    assert len(chain) == len(landed) + 1  # + s0
    # the writers did race: one after another would switch WRITERS - 1 times
    writers = [s["batch_id"].split("-")[0] for s in chain[:-1]]
    assert sum(a != b for a, b in zip(writers, writers[1:])) > WRITERS - 1


def test_replay_races_compaction_to_the_oracle(spark, tmp_path):
    """One thread replays while another compacts in a loop on its own
    handle. Merges and compactions rebase over each other instead of
    conflicting: neither side ever sees ``CommitConflict``, every
    commit either side was told succeeded is on the final chain, and
    the result is the oracle's."""
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
            engine.run()
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
    assert conflicts == [] and compacted  # the compactor did race the replay
    final = LakeTable.load(spark, root)
    chain = {s["snapshot_id"]: s["batch_id"] for s in final.snapshot_chain()}
    with open(metrics_path) as f:
        for m in map(json.loads, f):
            assert m["skipped"] or chain[m["snapshot_id"]] == m["batch_id"]
    assert all(chain[sid] == f"compact-{sid}" for sid in compacted)
    assert final.watermark() == 1_500
    assert state_hash(spark_state_to_pandas(final.read(include_system=True))) \
        == state_hash(expected)


def test_two_compacting_engines_replay_to_the_oracle(spark, tmp_path):
    """Two engines on two handles replay one changelog with
    auto-compaction at depth 2. A compaction of a bucket the other
    engine already folded is dropped, so no ``CommitConflict`` leaves
    ``run()``, and the result is the oracle's."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=30, seed=19)
    changelog = gen_changelog(seed_df, n_events=1_500, seed=19, batch_size=300)
    expected = replay(seed_df, changelog)
    root = str(tmp_path / "cc")
    seed_lake(spark, LakeTable.create(spark, root, n_buckets=4), seed_df)
    log_df = changelog_from_pandas(spark, changelog)
    engines = [ReplayEngine(spark, LakeTable.load(spark, root), log_df,
                            delta=150, compact_threshold=2) for _ in range(2)]
    errors: list[BaseException] = []

    def run(engine):
        try:
            engine.run()
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=run, args=(e,)) for e in engines]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert errors == []
    final = LakeTable.load(spark, root)
    assert final.watermark() == 1_500
    assert any(str(s["batch_id"]).startswith("compact-") for s in final.snapshot_chain())
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
        stale._link(snap)
    assert LakeTable.load(None, root).watermark() == 3

    # with no writer active, min_age_s=0 expires all but the head
    assert writer.expire_snapshots(keep_last=1, min_age_s=0)["expired_snapshots"] == 3
    assert os.listdir(os.path.join(root, "snapshots")) == ["s3.json"]
    assert os.listdir(os.path.join(root, "data")) == []


def test_cold_handle_sees_later_commits(tmp_path):
    """A handle loaded at s0 finds another handle's later commits by
    probing forward, parses the new head once, and commits after
    them."""
    root = str(tmp_path / "cold")
    writer = LakeTable.create(None, root)
    cold = LakeTable.load(None, root)
    for i in range(3):
        writer.checkpoint_watermark(f"b{i}", 10 * (i + 1))
    cold.meta_file_reads = 0
    assert cold.meta()["snapshot_id"] == "s3"
    assert cold.watermark() == 30
    assert cold.meta_file_reads == 1
    assert cold.checkpoint_watermark("c", 40) == "s4"
    assert writer.watermark() == 40


def test_overtaken_handle_returns_the_new_head(tmp_path):
    """A handle whose kept head (the one it committed) is overtaken by
    another handle's commit returns the new head on its next
    ``meta()``, and keeps it."""
    root = str(tmp_path / "overtaken")
    a = LakeTable.create(None, root)
    b = LakeTable.load(None, root)
    assert a.checkpoint_watermark("a1", 10) == "s1"
    assert a.meta()["snapshot_id"] == "s1"
    assert b.checkpoint_watermark("b1", 20) == "s2"
    a.meta_file_reads = 0
    assert a.meta()["snapshot_id"] == "s2" and a.watermark() == 20
    assert a.meta_file_reads == 1


def test_two_engines_replay_one_changelog_to_the_oracle(spark, tmp_path):
    """Two engines on two handles replay one changelog into one table
    from two threads. A window one engine commits while the other
    stages it is dropped and reported skipped, so no batch id lands
    twice, no staged write is left behind, and (the windows are
    aligned) the chain's lineage counts every event once."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=30, seed=17)
    changelog = gen_changelog(seed_df, n_events=1_500, seed=17, batch_size=300)
    expected = replay(seed_df, changelog)
    root = str(tmp_path / "two")
    seed_lake(spark, LakeTable.create(spark, root, n_buckets=8), seed_df)
    log_df = changelog_from_pandas(spark, changelog)
    engines = [ReplayEngine(spark, LakeTable.load(spark, root), log_df,
                            delta=150, compact_threshold=0) for _ in range(2)]
    reports, errors = [], []

    def run(engine):
        try:
            reports.extend(engine.run())
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=run, args=(e,)) for e in engines]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert errors == []
    assert len(reports) > 10  # 10 windows: both engines took part
    final = LakeTable.load(spark, root)
    head = final.meta()
    assert final.watermark() == changelog["lsn"].max()
    chain = final.snapshot_chain()
    data_ids = [s["batch_id"] for s in chain if s["batch_id"] not in (None, "seed")]
    assert len(data_ids) == len(set(data_ids))
    on_chain = {s["snapshot_id"]: s["batch_id"] for s in chain}
    for m in reports:
        assert m.skipped == (m.snapshot_id is None)
        assert m.skipped or on_chain[m.snapshot_id] == m.batch_id
    assert sum(r["row_count"] for r in final.lineage()) == len(changelog)
    # no compaction ran, so every data file written is referenced
    on_disk = {os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "data"))
               for f in fs if f.endswith(".parquet")}
    live = {f for m in (head["files"], head["deltas"]) for fl in m.values() for f in fl}
    assert on_disk == live
    assert state_hash(spark_state_to_pandas(final.read(include_system=True))) \
        == state_hash(expected)


def _one_change(spark, lsn: int):
    return spark.createDataFrame(
        [("r", "a", "c1", "py", f"v{lsn}", lsn, "U")],
        "repo string, path string, commit string, lang string, "
        "content string, _lsn long, op string",
    ).withColumn("_content_sha", F.unhex(F.sha2(F.col("content"), 256)))


def _after_write(landed: list, commit):
    """A ``lineage=`` callable: it runs after the merge's write and
    before its commit, and commits on a second handle at that point."""
    def lineage():
        landed.append(commit())
        return []
    return lineage


def test_merge_rebases_over_a_commit_made_during_its_write(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, n_buckets=4)
    other, landed = LakeTable.load(None, root), []
    sid = table.merge(_one_change(spark, 9), "b6-9", 9, lineage=_after_write(
        landed, lambda: other.checkpoint_watermark("b1-5", 5)))
    head = LakeTable.load(spark, root).meta()
    assert landed == ["s1"] and sid == head["snapshot_id"] == "s2"
    assert head["parent_id"] == "s1" and head["watermark"] == 9
    assert [r["content"] for r in table.read().collect()] == ["v9"]


@pytest.mark.parametrize("update_mode, commit", [
    ("full", lambda t: t.alter("add_column", "c2")),
    ("partial", lambda t: t.checkpoint_watermark("b1-5", 5)),
], ids=["full-under-alter", "partial-under-checkpoint"])
def test_merge_refuses_a_head_it_does_not_apply_to(spark, tmp_path, update_mode, commit):
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, n_buckets=4)
    other, landed = LakeTable.load(None, root), []
    with pytest.raises(CommitConflict, match="staged on s0"):
        table.merge(_one_change(spark, 9), "b6-9", 9, update_mode=update_mode,
                    lineage=_after_write(landed, lambda: commit(other)))
    assert LakeTable.load(None, root).meta()["snapshot_id"] == landed[0] == "s1"
    assert os.listdir(os.path.join(root, "data")) == []  # the staged write is gone


def _race_compaction(table, commit) -> list:
    """Run ``commit`` right after ``table``'s next bucket write, before
    its commit; returns the list its result lands in."""
    write, landed = table._write, []

    def write_then_commit(*args):
        staged = write(*args)
        landed.append(commit())
        return staged

    table._write = write_then_commit
    return landed


def test_compaction_rebases_over_a_merge_made_during_its_write(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, n_buckets=1)
    table.merge(_one_change(spark, 1), "b1-1", 1)
    folded = table.meta()["deltas"]["0"]
    other = LakeTable.load(spark, root)
    landed = _race_compaction(table, lambda: other.merge(_one_change(spark, 2), "b2-2", 2))
    sid = table.compact()
    head = LakeTable.load(spark, root).meta()
    assert landed == ["s2"] and sid == head["snapshot_id"] == "s3"
    assert head["batch_id"] == "compact-s3" and head["watermark"] == 2
    merged = other.snapshot_meta("s2")["deltas"]["0"]
    assert merged[:len(folded)] == folded and head["deltas"]["0"] == merged[len(folded):]
    assert [r["content"] for r in table.read().collect()] == ["v2"]


def test_second_compaction_of_a_bucket_is_dropped(spark, tmp_path):
    """A compaction whose bucket another compaction folded while it
    wrote commits nothing and returns None: the work is done."""
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, n_buckets=1)
    table.merge(_one_change(spark, 1), "b1-1", 1)
    other = LakeTable.load(spark, root)
    landed = _race_compaction(table, other.compact)
    assert table.compact() is None
    head = LakeTable.load(spark, root).meta()
    assert landed == ["s2"] and head["snapshot_id"] == "s2"
    # the merge's dir and the winner's: the loser's staged write is gone
    assert sorted(d.split("-")[0] for d in os.listdir(os.path.join(root, "data"))) \
        == ["s1", "s2"]
