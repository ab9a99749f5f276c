"""T3 exactly-once: idempotent re-apply (T3a) + crash-resume (T3b).

BASELINE.json:6: replay from any checkpoint converges to the same
final table state; applying an already-manifested batch is a no-op.
"""

from __future__ import annotations

import json

import pytest

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import CommitConflict, LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash


@pytest.fixture(scope="module")
def world(spark):
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=30, seed=11)
    changelog = gen_changelog(seed_df, n_events=1_500, seed=11, batch_size=300)
    expected = replay(seed_df, changelog)
    return seed_df, changelog, expected


def _fresh_table(spark, tmp_path, seed_df, name):
    table = LakeTable.create(spark, str(tmp_path / name), n_buckets=16)
    seed_lake(spark, table, seed_df)
    return table


def test_t3a_reapply_is_noop(spark, tmp_path, world):
    seed_df, changelog, expected = world
    table = _fresh_table(spark, tmp_path, seed_df, "t3a")
    log_df = changelog_from_pandas(spark, changelog)
    ReplayEngine(spark, table, log_df, delta=300).run()
    h1 = state_hash(spark_state_to_pandas(table.read(include_system=True)))
    sid1 = table.meta()["snapshot_id"]

    # a second engine over the same table re-applies the whole changelog
    metrics = ReplayEngine(spark, table, log_df, delta=300).run()
    assert all(m.skipped for m in metrics) or metrics == []
    assert table.meta()["snapshot_id"] == sid1
    h2 = state_hash(spark_state_to_pandas(table.read(include_system=True)))
    assert h1 == h2 == state_hash(expected)


def test_t3a_explicit_batch_replay(spark, tmp_path, world):
    """Directly re-apply an already-committed LSN range — no-op."""
    seed_df, changelog, expected = world
    table = _fresh_table(spark, tmp_path, seed_df, "t3a2")
    log_df = changelog_from_pandas(spark, changelog)
    eng = ReplayEngine(spark, table, log_df, delta=300)
    eng.run()
    ms = eng.run_batch(0, 300)  # first range again, out of order
    assert all(m.skipped for m in ms)
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) == state_hash(expected)


def test_t3b_crash_resume_converges(spark, tmp_path, world):
    """Kill right after the atomic commit point of batch 1 (before any
    post-commit bookkeeping), then resume with a fresh engine."""
    seed_df, changelog, expected = world
    table = _fresh_table(spark, tmp_path, seed_df, "t3b")
    log_df = changelog_from_pandas(spark, changelog)
    eng = ReplayEngine(spark, table, log_df, delta=300)
    real_merge, commits = table.merge, []

    def merge_then_crash(*args, **kwargs):
        commits.append(real_merge(*args, **kwargs))
        if len(commits) == 2:
            raise RuntimeError("injected crash after commit point (T3b)")
        return commits[-1]

    table.merge = merge_then_crash
    with pytest.raises(RuntimeError, match="injected crash"):
        eng.run()
    w_mid = table.watermark()
    assert 0 < w_mid < 1_500  # partially applied

    # fresh process/engine resumes from the committed watermark
    table2 = LakeTable.load(spark, table.root)
    ReplayEngine(spark, table2, log_df, delta=300).run()
    assert table2.watermark() == 1_500
    assert state_hash(spark_state_to_pandas(table2.read(include_system=True))) == state_hash(expected)


def test_t3b_crash_before_commit_point(spark, tmp_path, world):
    """A writer that dies before its commit point leaves only a temp
    snapshot file, which readers ignore; a writer holding a stale
    parent fails its link and leaves committed state untouched."""
    seed_df, changelog, expected = world
    table = _fresh_table(spark, tmp_path, seed_df, "t3c")
    log_df = changelog_from_pandas(spark, changelog)
    eng = ReplayEngine(spark, table, log_df, delta=300)
    eng.run(max_batches=2)
    meta = table.meta()
    w = meta["watermark"]

    # died between fsync and link: the next number's temp file exists
    orphan = {**meta, "snapshot_id": f"s{int(meta['snapshot_id'][1:]) + 1}",
              "watermark": 10**9}
    with open(table._snap_path(orphan["snapshot_id"]) + ".0badf00d.tmp", "w") as f:
        json.dump(orphan, f)
    assert LakeTable.load(spark, table.root).watermark() == w

    # planned against the parent of the head: its number is taken
    stale = table._child(table.snapshot_meta(meta["parent_id"]), "stale",
                         watermark=10**9)
    with pytest.raises(CommitConflict, match=meta["snapshot_id"]):
        table._link(stale)
    assert table.watermark() == w  # untouched

    ReplayEngine(spark, LakeTable.load(spark, table.root), log_df, delta=300).run()
    t = LakeTable.load(spark, table.root)
    assert state_hash(spark_state_to_pandas(t.read(include_system=True))) == state_hash(expected)


def test_watermark_covers_every_batch_id_in_the_chain(spark, tmp_path):
    """Every batch id names its top LSN (``b<lo>-<hi>``, ``ddl<lsn>``)
    and no commit lowers the watermark, so after a replay with an empty
    window and DDL splits every id in the chain is ``already_applied``
    and a fresh engine applies nothing."""
    import re

    from dx import manifest as mf
    from dx.generator import DDLSpec

    seed_df = gen_seed_table(n_repos=2, paths_per_repo=20, seed=23)
    changelog = gen_changelog(
        seed_df, n_events=900, seed=23, batch_size=300,
        ddl_specs=[DDLSpec(0.4, "add_column", "lang2", "string"),
                   DDLSpec(0.7, "drop_column", "lang2")],
    )
    changelog["lsn"] += 300  # the first window (0, 300] is empty
    table = _fresh_table(spark, tmp_path, seed_df, "cover")
    log_df = changelog_from_pandas(spark, changelog)
    metrics = ReplayEngine(spark, table, log_df, delta=300).run()
    assert any(m.events == 0 and m.snapshot_id for m in metrics)
    assert sum(m.ddl_applied for m in metrics) == 2

    applied = [(s["batch_id"], int(m[1] or m[2])) for s in table.snapshot_chain()
               if (m := re.fullmatch(r"b\d+-(\d+)|ddl(\d+)", s["batch_id"] or ""))]
    assert len(applied) == len(metrics)
    assert all(mf.already_applied(table, b, hi) for b, hi in applied)

    sid = table.meta()["snapshot_id"]
    assert ReplayEngine(spark, table, log_df, delta=300).run() == []
    assert table.meta()["snapshot_id"] == sid
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(replay(seed_df, changelog))


def test_run_over_an_empty_changelog_is_a_noop(spark, tmp_path, world):
    """An empty changelog (a streaming micro-batch with no rows) has
    max LSN 0: ``run()`` returns at once and commits nothing."""
    from dx.generator import CHANGELOG_DDL

    seed_df, _, _ = world
    table = _fresh_table(spark, tmp_path, seed_df, "empty")
    head = table.meta()
    empty = spark.createDataFrame([], CHANGELOG_DDL)
    assert ReplayEngine(spark, table, empty, delta=300).run() == []
    assert table.meta() == head
