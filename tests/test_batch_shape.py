"""Shape of one replay batch: how many Spark jobs it launches, what its
write plan shuffles, and what it hands the lake table.

A small batch is one lineage collect, one bucket-window dedup fused
with the bucket write, and the snapshot commit. These tests pin its
job count, the lineage argument ``merge`` receives, and the collapse
of event rows redelivered within one batch. The write plan's shape and
the empty window's single job are pinned in test_units.py.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
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
    """The lineage argument is the collected rows themselves, which a
    backend that serializes it at commit time (IcebergTable stamps
    ``json.dumps(lineage)`` into the snapshot summary) can take as is."""
    eng = _engine(spark, tmp_path, world, "lineage")
    seen = []
    merge = eng.table.merge

    def recording_merge(*args, **kw):
        seen.append(kw["lineage"])
        return merge(*args, **kw)

    eng.table.merge = recording_merge
    m = eng.run_batch(0, 200)[0]
    assert len(seen) == 1 and isinstance(seen[0], list)
    assert json.loads(json.dumps(seen[0])) == m.lineage
    assert sum(r["row_count"] for r in seen[0]) == m.events


@pytest.mark.parametrize("limit", [None, 0], ids=["by-bucket", "fan-out"])
def test_redelivered_event_rows_collapse(spark, tmp_path, world, limit):
    """An event row delivered twice within one batch (same key and
    same lsn) must apply once: each batch writes one row per key, and
    the replay reaches the state of the changelog without the copies.
    (Merge-on-read reads would hide a written twin, so the row count
    is checked too.)"""
    seed_df, changelog = world
    events = changelog[changelog["op"] != "DDL"]
    dup = pd.concat([changelog, events.iloc[::37]], ignore_index=True)
    assert len(dup) > len(changelog)
    table = LakeTable.create(spark, str(tmp_path / f"dup{limit}"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    kw = {} if limit is None else {"broadcast_key_limit": limit}
    metrics = ReplayEngine(
        spark, table, changelog_from_pandas(spark, dup), delta=150, **kw
    ).run()
    for m in metrics:
        window = events[events["lsn"].between(m.lsn_lo, m.lsn_hi)]
        assert m.applied_rows == len(window.drop_duplicates(["repo", "path"]))
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(replay(seed_df, changelog))

