"""Merge-on-read delta accumulation + compaction (lake.py mor path):
state is invariant under compact(), auto-compaction bounds delta depth,
and the watermark/idempotence guarantees survive a compacted chain."""

from __future__ import annotations

from pyspark.sql import functions as F

from dx.dedup import dedup_max_lsn
from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import LakeTable
from dx.transforms import content_sha_bin, normalize_content
from tests.oracle import replay, spark_state_to_pandas, state_hash


def _setup(spark, tmp_path, name, **engine_kw):
    seed_df = gen_seed_table(n_repos=4, paths_per_repo=20, seed=31)
    chg = gen_changelog(seed_df, n_events=2_000, seed=31)
    table = LakeTable.create(spark, str(tmp_path / name), n_buckets=8)
    seed_lake(spark, table, seed_df)
    engine = ReplayEngine(
        spark, table, changelog_from_pandas(spark, chg), delta=250, **engine_kw
    )
    return seed_df, chg, table, engine


def test_manual_compact_preserves_state(spark, tmp_path):
    seed_df, chg, table, engine = _setup(
        spark, tmp_path, "c1", compact_threshold=0  # never auto-compact
    )
    engine.run()
    assert sum(table.delta_depth().values()) > 0   # deltas outstanding
    before = state_hash(spark_state_to_pandas(table.read(include_system=True)))
    wm = table.watermark()

    sid = table.compact()
    assert sid is not None
    assert table.delta_depth() == {}               # all folded into base
    after = state_hash(spark_state_to_pandas(table.read(include_system=True)))
    assert after == before                          # pure state rewrite
    assert table.watermark() == wm                  # watermark untouched
    assert state_hash(replay(seed_df, chg)) == after

    assert table.compact() is None                  # nothing left to fold


def test_auto_compaction_bounds_delta_depth(spark, tmp_path):
    seed_df, chg, table, engine = _setup(
        spark, tmp_path, "c2", compact_threshold=3
    )
    engine.run()
    # 8 batches of deltas would accumulate depth 8 without compaction
    assert max(table.delta_depth().values(), default=0) < 3
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(actual) == state_hash(replay(seed_df, chg))


def test_time_travel_reads_historical_snapshot(spark, tmp_path):
    seed_df, chg, table, engine = _setup(spark, tmp_path, "tt", compact_threshold=0)
    metrics = engine.run()
    mid = metrics[2]                       # third applied batch
    expected = replay(seed_df, chg[chg.lsn <= mid.lsn_hi])
    asof = spark_state_to_pandas(
        table.read(include_system=True, snapshot_id=mid.snapshot_id)
    )
    assert state_hash(asof) == state_hash(expected)
    # current head unaffected by historical read
    head = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(head) == state_hash(replay(seed_df, chg))


def test_cow_and_mor_converge_identically(spark, tmp_path):
    """Plain merges (merge-on-read) and merges each followed by
    compact() (the copy-on-write result), driven directly over the same
    Δ-windows of deduped changes, both reach the oracle state; the
    compacted variant ends with no delta outstanding."""
    seed_df = gen_seed_table(n_repos=4, paths_per_repo=20, seed=33)
    chg = gen_changelog(seed_df, n_events=1_500, seed=33)
    log = changelog_from_pandas(spark, chg).filter(F.col("op") != "DDL")
    head = int(chg["lsn"].max())
    expected = state_hash(replay(seed_df, chg))
    for fold in (False, True):
        table = LakeTable.create(spark, str(tmp_path / f"m_{fold}"), n_buckets=8)
        seed_lake(spark, table, seed_df)
        for lo in range(0, head, 300):
            hi = min(lo + 300, head)
            window = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
            changes = dedup_max_lsn(window).select(
                "repo", "path", "commit", "lang",
                normalize_content(F.col("content")).alias("content"),
                content_sha_bin(F.col("content")).alias("_content_sha"),
                F.col("lsn").alias("_lsn"),
                "op",
            )
            table.merge(changes, batch_id=f"b{lo + 1}-{hi}", watermark_hi=hi)
            if fold:
                table.compact()
        assert (table.delta_depth() == {}) == fold
        actual = spark_state_to_pandas(table.read(include_system=True))
        assert state_hash(actual) == expected, fold


def _rows(spark, rows):
    """rows: (path, commit, lang, content, _lsn, op) under repo 'r';
    ``_content_sha`` is NULL exactly when ``content`` is."""
    return spark.createDataFrame(
        [("r", *row) for row in rows],
        "repo string, path string, commit string, lang string, "
        "content string, _lsn long, op string",
    ).withColumn(
        "_content_sha",
        F.when(F.col("content").isNotNull(),
               F.unhex(F.sha2(F.col("content"), 256))),
    )


def test_cow_merge_on_mixed_table(spark, tmp_path):
    """On a table that already holds deltas, a full and then a partial
    merge each commit exactly one snapshot (parent = the previous head,
    batch_id = the merge's) that only appends deltas, and the partial
    merge takes the untouched columns from the key's newest version,
    which lives in a delta; compact() then folds every bucket without
    changing the state."""
    table = LakeTable.create(spark, str(tmp_path / "mixed"), n_buckets=4)
    paths = [f"p{i}" for i in range(12)]
    table.seed(_rows(spark, [(p, "c1", "py", f"v-{p}", 1, "U") for p in paths]))
    table.merge(_rows(spark, [(p, "c2", "rs", f"w-{p}", 2, "U") for p in paths]),
                batch_id="b2", watermark_hi=2)
    bucket = {
        r["path"]: str(r["b"])
        for r in spark.createDataFrame([("r", p) for p in paths],
                                       "repo string, path string")
        .select("path", table.bucket_expr().alias("b")).collect()
    }
    k1 = paths[0]
    k2 = next(p for p in paths if bucket[p] != bucket[k1])
    assert len(table.meta()["deltas"]) >= 2  # several buckets carry deltas

    merges = [
        ("b3", 3, "full", k1, _rows(spark, [(k1, "c3", "go", "x3", 3, "U")])),
        ("b4", 4, "partial", k2, _rows(spark, [(k2, None, None, "w4", 4, "U")])
         .withColumn("__reset", F.lit(False))),
    ]
    for batch_id, hi, update_mode, key, changes in merges:
        before = table.meta()
        sid = table.merge(changes, batch_id=batch_id, watermark_hi=hi,
                          update_mode=update_mode)
        after = table.meta()
        assert sid == after["snapshot_id"]
        assert after["parent_id"] == before["snapshot_id"], update_mode
        assert after["batch_id"] == batch_id
        assert after["watermark"] == hi
        assert after["files"] == before["files"]  # nothing folded
        b = bucket[key]
        grown = {g for g, fl in after["deltas"].items()
                 if fl != before["deltas"].get(g)}
        assert grown == {b}, update_mode
        assert after["deltas"][b][:len(before["deltas"][b])] == before["deltas"][b]

    state = {r["path"]: r for r in table.read(include_system=True).collect()}
    assert (state[k2]["commit"], state[k2]["lang"], state[k2]["content"],
            state[k2]["_lsn"]) == ("c2", "rs", "w4", 4)
    assert (state[k1]["commit"], state[k1]["content"]) == ("c3", "x3")
    assert all(state[p]["content"] == f"w-{p}"
               for p in paths if p not in (k1, k2))

    table.compact()
    assert table.delta_depth() == {}
    assert {r["path"]: r for r in
            table.read(include_system=True).collect()} == state


def test_replay_resumes_over_compacted_chain(spark, tmp_path):
    seed_df, chg, table, engine = _setup(spark, tmp_path, "c3", compact_threshold=0)
    engine.run(max_batches=4)
    table.compact()
    # fresh engine resumes from the compacted table's watermark
    engine2 = ReplayEngine(
        spark, table, changelog_from_pandas(spark, chg), delta=250,
        compact_threshold=0,
    )
    metrics = engine2.run()
    assert all(not m.skipped for m in metrics)
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(actual) == state_hash(replay(seed_df, chg))
