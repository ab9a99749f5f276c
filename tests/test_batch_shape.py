"""Shape of one replay batch: how many Spark jobs it launches, what its
write plan shuffles, and what it hands the lake table.

A small batch is one lineage collect, run on the engine's lineage
thread beside one max-LSN window dedup fused with the bucket write,
then the snapshot commit; the replay is planned by one changelog scan
per engine. These tests pin the batch's job count, the lineage callable
``merge`` receives, the plan scan, and the collapse of event rows
redelivered within one batch. The write plan's shape and the empty
windows' commits are pinned in test_units.py.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import DDLSpec, gen_changelog, gen_seed_table
from dx.lake import LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash

# Measured for a non-empty small segment: the lineage collect (a
# map-stage job plus its result job under adaptive execution) and the
# bucket write (the dedup shuffle's map stage plus the write job).
SMALL_SEGMENT_JOBS = 4


@pytest.fixture(scope="module")
def world():
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=20, seed=21)
    changelog = gen_changelog(seed_df, n_events=400, seed=21)
    return seed_df, changelog


def _engine(spark, tmp_path, world, name):
    seed_df, changelog = world
    table = LakeTable.create(spark, str(tmp_path / name), n_buckets=4)
    seed_lake(spark, table, seed_df)
    eng = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog))
    eng.ddl_events()  # once per engine, not per batch
    return eng


def test_small_segment_job_count(spark, tmp_path, world, jobs_of):
    eng = _engine(spark, tmp_path, world, "jobs")
    out = []
    n = jobs_of(lambda: out.extend(eng.run_batch(0, 200)))
    assert len(out) == 1 and out[0].events > 0 and not out[0].skipped
    assert n == SMALL_SEGMENT_JOBS


def test_merge_receives_lineage_as_a_json_list(spark, tmp_path, world):
    """``merge`` gets the pending lineage job's ``result``, a callable,
    so the lake waits for it only after its write. Its value is the
    collected rows as a JSON-able list, which a backend that
    serializes it at commit time (IcebergTable stamps
    ``json.dumps(lineage)`` into the snapshot summary) can take as is."""
    eng = _engine(spark, tmp_path, world, "lineage")
    seen = []
    merge = eng.table.merge

    def recording_merge(*args, **kw):
        seen.append(kw["lineage"])
        return merge(*args, **kw)

    eng.table.merge = recording_merge
    m = eng.run_batch(0, 200)[0]
    assert len(seen) == 1 and callable(seen[0])
    rows = seen[0]()
    assert isinstance(rows, list) and json.loads(json.dumps(rows)) == m.lineage
    assert sum(r["row_count"] for r in rows) == m.events
    assert eng.table.meta()["lineage"] == m.lineage


def test_failing_lineage_commits_nothing(spark, tmp_path, world):
    """A lineage callable that raises fails the merge after its write
    and before its commit: the head snapshot stays as it was, and the
    merge's staged write dir is gone."""
    eng = _engine(spark, tmp_path, world, "lineage-fails")
    head = eng.table.meta()
    data = os.path.join(eng.table.root, "data")
    before = sorted(os.listdir(data))

    def broken():
        raise RuntimeError("lineage job failed")

    with pytest.raises(RuntimeError, match="lineage job failed"):
        eng.table.merge(eng._dedup_changes(eng.changelog.filter("op != 'DDL'")),
                        batch_id="b1-200", watermark_hi=200, lineage=broken)
    assert eng.table.meta() == head
    assert sorted(os.listdir(data)) == before  # the seed's s1-* only: no s2-* dir


def test_plan_is_one_changelog_scan(spark, tmp_path, world, jobs_of):
    """``max_lsn`` and ``ddl_events`` read one plan scan per engine: it
    costs what a bare head aggregation costs (under adaptive execution,
    a map-stage job plus its result job), and a second call costs
    nothing. Before it the DDL filter-and-collect was one more job."""
    seed_df, _ = world
    changelog = gen_changelog(seed_df, n_events=300, seed=22, ddl_specs=[
        DDLSpec(0.6, "add_column", "c2"), DDLSpec(0.3, "add_column", "c1"),
        DDLSpec(0.8, "drop_column", "c1"),
    ])
    table = LakeTable.create(spark, str(tmp_path / "plan"), n_buckets=4)
    eng = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog))
    head_only = jobs_of(lambda: eng.changelog.agg(F.max("lsn")).collect())
    assert jobs_of(lambda: (eng.max_lsn(), eng.ddl_events())) == head_only
    assert jobs_of(lambda: (eng.max_lsn(), eng.ddl_events())) == 0
    assert eng.max_lsn() == changelog["lsn"].max()
    old = sorted(
        eng.changelog.filter(F.col("op") == "DDL")
        .select("lsn", "ddl_action", "ddl_column", "ddl_type")
        .collect(),
        key=lambda r: r["lsn"],
    )
    assert len(old) == 3 and eng.ddl_events() == old
    events = changelog[changelog["op"] != "DDL"]["lsn"]
    assert eng._plan()["span"] == (events.min(), events.max())


def test_plan_of_an_empty_changelog(spark, tmp_path, world):
    _, changelog = world
    table = LakeTable.create(spark, str(tmp_path / "plan-empty"), n_buckets=4)
    eng = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog.iloc[:0]))
    assert (eng.max_lsn(), eng._plan()["span"], eng.ddl_events()) == (0, None, [])
    assert eng.run() == []


def test_redelivered_event_rows_collapse(spark, tmp_path, world):
    """An event row delivered twice within one batch (same key and
    same lsn) must apply once: each batch writes one row per key, and
    the replay reaches the state of the changelog without the copies.
    (Merge-on-read reads would hide a written twin, so the row count
    is checked too.)"""
    seed_df, changelog = world
    events = changelog[changelog["op"] != "DDL"]
    dup = pd.concat([changelog, events.iloc[::37]], ignore_index=True)
    assert len(dup) > len(changelog)
    table = LakeTable.create(spark, str(tmp_path / "dup"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    metrics = ReplayEngine(
        spark, table, changelog_from_pandas(spark, dup), delta=150
    ).run()
    for m in metrics:
        window = events[events["lsn"].between(m.lsn_lo, m.lsn_hi)]
        assert m.applied_rows == len(window.drop_duplicates(["repo", "path"]))
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(replay(seed_df, changelog))

