"""T2 minimum end-to-end slice (SURVEY.md §7.3 step 1 → full T2).

Synthesized changelog → engine replay (dedup → transforms → merge) →
final lake state compared against the naive pandas replay oracle,
per-row sha256(content) equality (BASELINE.json:15).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

import dx.session

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import LakeTable
from dx.main import main
from tests.oracle import replay, spark_state_to_pandas, state_hash


@pytest.fixture(scope="module")
def small_world(spark, tmp_path_factory):
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=40, seed=42)
    changelog = gen_changelog(seed_df, n_events=2_000, seed=42, batch_size=500)
    root = str(tmp_path_factory.mktemp("lake_slice"))
    table = LakeTable.create(spark, root, n_buckets=16)
    seed_lake(spark, table, seed_df)
    log_df = changelog_from_pandas(spark, changelog).cache()
    engine = ReplayEngine(spark, table, log_df, delta=500)
    metrics = engine.run()
    expected = replay(seed_df, changelog)
    return table, metrics, expected, seed_df, changelog


def assert_states_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    assert sorted(actual.columns) == sorted(expected.columns)
    assert len(actual) == len(expected), f"{len(actual)} vs {len(expected)} rows"
    a = actual.sort_values(["repo", "path"]).reset_index(drop=True)
    e = expected.sort_values(["repo", "path"]).reset_index(drop=True)
    # the per-row invariant first: sha256(content) must match 100%
    assert (a["_content_sha"].fillna("∅") == e["_content_sha"].fillna("∅")).all()
    assert state_hash(a) == state_hash(e)


def test_ordered_replay_matches_oracle(spark, small_world):
    table, metrics, expected, *_ = small_world
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert_states_equal(actual, expected)


def test_metrics_emitted_per_batch(small_world):
    _, metrics, *_ = small_world
    applied = [m for m in metrics if not m.skipped]
    assert len(applied) >= 4  # 2000 events / Δ=500
    for m in applied:
        assert m.lsn_hi >= m.lsn_lo
        assert m.seconds >= 0
        if m.events:
            assert m.events_per_sec > 0
            assert m.lineage, "per-partition lineage must be emitted"


def test_lineage_covers_all_lsns(small_world):
    table, *_ = small_world
    spans = [(e["lsn_lo"], e["lsn_hi"]) for e in table.lineage()]
    covered = set()
    for lo, hi in spans:
        covered.update(range(lo, hi + 1))
    # every data-event lsn is inside some lineage span
    _, _, _, _, changelog = small_world
    data_lsns = set(changelog.loc[changelog.op != "DDL", "lsn"])
    assert data_lsns <= covered


def test_merge_touches_only_dirty_buckets(spark, tmp_path):
    """Scale property: a small batch must NOT rewrite the whole table.

    A 3-key change against a 120-key table must rewrite ≤3 of 16
    buckets, and every clean bucket's files must carry forward by
    REFERENCE (identical file paths — zero IO at 100 TB)."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=40, seed=7)
    changelog = gen_changelog(seed_df, n_events=3, seed=7, p_ops=(0.0, 1.0, 0.0))
    root = str(tmp_path / "lake_tiny")
    table = LakeTable.create(spark, root, n_buckets=16)
    seed_lake(spark, table, seed_df)
    before = dict(table.meta()["files"])
    engine = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog), delta=10)
    engine.run()
    after = table.meta()
    stats = after["merge_stats"]
    assert stats["dirty_buckets"] <= 3 < stats["total_buckets"]
    carried = [b for b in before if before[b] == after["files"].get(b)]
    assert len(carried) >= 16 - stats["dirty_buckets"] - 1
    # final state still matches the oracle
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert_states_equal(actual, replay(seed_df, changelog))


def test_cli_demo_then_replay_is_noop(spark, tmp_path, monkeypatch, capsys):
    """The CLI drives one replay path: ``demo`` seeds and replays,
    a second ``replay`` applies nothing (exactly-once), ``replay`` on a
    workdir with no table exits 2, and the removed path flags are
    rejected by argparse."""
    monkeypatch.setattr(dx.session, "get_spark", lambda *a, **k: spark)
    wd = str(tmp_path / "cli")
    assert main(["demo", "--workdir", wd, "--events", "600", "--delta", "200"]) == 0
    demo = json.loads(capsys.readouterr().out)
    assert demo["batches_applied"] > 0 and demo["watermark"] == 600

    assert main(["replay", "--workdir", wd]) == 0
    again = json.loads(capsys.readouterr().out)
    assert again["batches_applied"] == 0
    assert again["snapshot_id"] == demo["snapshot_id"]

    assert main(["replay", "--workdir", str(tmp_path / "no_table")]) == 2
    assert "no lake table" in capsys.readouterr().err

    with pytest.raises(SystemExit) as exc:
        main(["replay", "--workdir", wd, "--dedup", "maxby"])
    assert exc.value.code == 2
