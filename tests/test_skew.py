"""T6 skew: Zipf-hot repo, salted repartition (X6, BASELINE.json:6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dx import skew
from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash


def test_hot_repo_detection(spark):
    seed_df = gen_seed_table(n_repos=6, paths_per_repo=20, seed=23)
    changelog = gen_changelog(seed_df, n_events=3_000, seed=23, zipf_s=1.8)
    df = changelog_from_pandas(spark, changelog).filter(F.col("op") != "DDL")
    hot = skew.hot_repos(df, frac_threshold=0.25)
    assert hot, "zipf 1.8 must concentrate >25% of events on one repo"
    top = changelog[changelog.op != "DDL"].repo.value_counts(normalize=True)
    assert top.index[0] in hot


def test_salt_spreads_hot_repo(spark):
    seed_df = gen_seed_table(n_repos=6, paths_per_repo=40, seed=23)
    changelog = gen_changelog(seed_df, n_events=4_000, seed=23, zipf_s=1.8)
    df = changelog_from_pandas(spark, changelog).filter(F.col("op") != "DDL")
    hot = skew.hot_repos(df, frac_threshold=0.25)
    salted = skew.with_salt(df, hot, n_salts=8)
    n_salts_used = (
        salted.filter(F.col("repo").isin(hot)).select("__salt").distinct().count()
    )
    assert n_salts_used >= 4  # hot repo spread over several salt values

    parts = (
        skew.salted_repartition(df, num_partitions=8, frac_threshold=0.25, n_salts=8)
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in parts)
    # without salting a 40%-hot repo pins ~40% of rows to one partition;
    # with salting the max partition must hold well under that
    assert counts[-1] < 0.30 * sum(counts)


def test_skewed_replay_matches_oracle(spark, tmp_path):
    seed_df = gen_seed_table(n_repos=6, paths_per_repo=30, seed=29)
    changelog = gen_changelog(seed_df, n_events=2_000, seed=29, zipf_s=1.6)
    table = LakeTable.create(spark, str(tmp_path / "t6"), n_buckets=16)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog), delta=400).run()
    expected = replay(seed_df, changelog)
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(actual) == state_hash(expected)
