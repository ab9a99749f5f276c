"""Unit tests: dedup strategies, transforms parity, generator
invariants, manifest derivation."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dx import manifest as mf
from dx.dedup import dedup_max_lsn
from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import (
    DDLSpec,
    gen_changelog,
    gen_changelog_spark,
    gen_seed_table,
)
from dx.lake import LakeTable
from dx.transforms import (
    content_sha,
    dx_digest,
    dx_pad,
    dx_replace,
    dx_substr,
    normalize_content,
    normalize_content_py,
    normalize_content_udf,
    sha256_hex_py,
    sha256_pandas,
)

# --------------------------------------------------------------------- dedup

@pytest.fixture(scope="module")
def changelog_df(spark):
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=20, seed=5)
    pdf = gen_changelog(seed_df, n_events=800, seed=5)
    return pdf, changelog_from_pandas(spark, pdf).filter(F.col("op") != "DDL").cache()


def test_dedup_strategies_agree(spark, changelog_df):
    pdf, df = changelog_df
    a = dedup_max_lsn(df, strategy="window").orderBy("repo", "path").toPandas()
    b = dedup_max_lsn(df, strategy="maxby").orderBy("repo", "path")
    b = b.select(*a.columns).toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_dedup_matches_pandas(spark, changelog_df):
    pdf, df = changelog_df
    got = dedup_max_lsn(df).select("repo", "path", "lsn").toPandas()
    data = pdf[pdf.op != "DDL"]
    exp = data.loc[data.groupby(["repo", "path"])["lsn"].idxmax(), ["repo", "path", "lsn"]]
    got = got.sort_values(["repo", "path"]).reset_index(drop=True)
    exp = exp.sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp.astype({"lsn": "int64"}))


# ---------------------------------------------------------------- transforms

EDGE_STRINGS = [
    "plain",
    "crlf\r\nline\r\n",
    "cr\ronly",
    "mixed\r\n\r\nλ→unicode ü 中文",
    "",
    None,
]


def test_sha256_jvm_vs_pandas_vs_python(spark):
    df = spark.createDataFrame([(s,) for s in EDGE_STRINGS], "content string")
    out = df.select(
        "content",
        content_sha(F.col("content")).alias("jvm"),
        sha256_pandas(normalize_content_udf(F.col("content"))).alias("arrow"),
    ).collect()
    for r in out:
        expected = sha256_hex_py(normalize_content_py(r["content"]))
        assert r["jvm"] == expected, f"JVM sha mismatch on {r['content']!r}"
        assert r["arrow"] == expected, f"Arrow sha mismatch on {r['content']!r}"


def test_sha_binary_roundtrip_and_parity(spark):
    """In-flight binary digest (content_sha_bin / sha256_bin_pandas)
    must be the exact digest bytes of the hex edge form, and sha_hex
    must round it back to DuckDB-comparable lowercase hex."""
    from dx.transforms import content_sha_bin, sha256_bin_pandas, sha_hex

    df = spark.createDataFrame([(s,) for s in EDGE_STRINGS], "content string")
    out = df.select(
        "content",
        content_sha_bin(F.col("content")).alias("bin_jvm"),
        sha256_bin_pandas(normalize_content_udf(F.col("content"))).alias("bin_arrow"),
        sha_hex(content_sha_bin(F.col("content"))).alias("hex_rt"),
        content_sha(F.col("content")).alias("hex_edge"),
    ).collect()
    for r in out:
        hex_expected = sha256_hex_py(normalize_content_py(r["content"]))
        bin_expected = bytes.fromhex(hex_expected) if hex_expected else None
        got_jvm = bytes(r["bin_jvm"]) if r["bin_jvm"] is not None else None
        got_arrow = bytes(r["bin_arrow"]) if r["bin_arrow"] is not None else None
        assert got_jvm == bin_expected, f"bin JVM mismatch on {r['content']!r}"
        assert got_arrow == bin_expected, f"bin Arrow mismatch on {r['content']!r}"
        assert r["hex_rt"] == r["hex_edge"] == hex_expected
        if got_jvm is not None:
            assert len(got_jvm) == 32


def test_normalization_jvm_vs_python(spark):
    df = spark.createDataFrame([(s,) for s in EDGE_STRINGS], "content string")
    for r in df.select("content", normalize_content(F.col("content")).alias("n")).collect():
        assert r["n"] == normalize_content_py(r["content"])


def test_dx_transformers(spark):
    df = spark.createDataFrame([("hello world",)], "s string")
    row = df.select(
        dx_substr(F.col("s"), 0, 5).alias("sub"),
        dx_pad(F.col("s"), "l", 15, "*").alias("pad"),
        dx_replace(F.col("s"), 0, 5, "howdy").alias("rep"),
        dx_digest(F.col("s"), "md5").alias("md5"),
        dx_digest(F.col("s"), "sha256").alias("sha"),
    ).collect()[0]
    import hashlib

    assert row["sub"] == "hello"
    assert row["pad"] == "****hello world"
    assert row["rep"] == "howdy world"
    assert row["md5"] == hashlib.md5(b"hello world").hexdigest()
    assert row["sha"] == hashlib.sha256(b"hello world").hexdigest()


# ----------------------------------------------------------------- generator

def test_changelog_invariants():
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=15, seed=3)
    pdf = gen_changelog(
        seed_df, n_events=1_000, seed=3,
        ddl_specs=[DDLSpec(0.5, "add_column", "c1", "string")],
    )
    assert pdf["lsn"].tolist() == list(range(1, 1_001))  # unique + dense
    alive = {(r.repo, r.path) for r in seed_df.itertuples()}
    saw_ddl = False
    for ev in pdf.itertuples(index=False):
        if ev.op == "DDL":
            saw_ddl = True
            continue
        key = (ev.repo, ev.path)
        if ev.op == "I":
            assert key not in alive, f"I on live key {key} @lsn {ev.lsn}"
            alive.add(key)
        elif ev.op == "U":
            assert key in alive, f"U on dead key {key} @lsn {ev.lsn}"
        elif ev.op == "D":
            assert key in alive, f"D on dead key {key} @lsn {ev.lsn}"
            alive.discard(key)
        if ev.op in ("I", "U") and saw_ddl:
            assert ev.extra and "c1" in ev.extra
        assert (ev.op == "D") == (ev.content is None)


def test_generator_deterministic():
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=10, seed=9)
    a = gen_changelog(seed_df, n_events=300, seed=9)
    b = gen_changelog(seed_df, n_events=300, seed=9)
    pd.testing.assert_frame_equal(a, b)


def test_spark_generator_properties(spark):
    df = gen_changelog_spark(spark, n_keys=2_000, mean_versions=3, seed=1, partitions=4).cache()
    n = df.count()
    assert n > 2_000
    assert df.select("lsn").distinct().count() == n  # globally unique LSNs
    bad = (
        df.groupBy("repo", "path")
        .agg(F.min("lsn").alias("lo"), F.expr("min_by(op, lsn)").alias("first_op"))
        .filter(F.col("first_op") != "I")
        .count()
    )
    assert bad == 0  # every key's first event is an insert
    # deterministic across runs
    h1 = df.select(F.xxhash64("lsn", "op", "repo", "path", "content").alias("h")) \
        .agg(F.expr("bit_xor(h)")).collect()[0][0]
    df2 = gen_changelog_spark(spark, n_keys=2_000, mean_versions=3, seed=1, partitions=8)
    h2 = df2.select(F.xxhash64("lsn", "op", "repo", "path", "content").alias("h")) \
        .agg(F.expr("bit_xor(h)")).collect()[0][0]
    assert h1 == h2  # partitioning must not change the data
    df.unpersist()


# ------------------------------------------------------------------ manifest

def test_manifest_schema_and_watermarks(spark, tmp_path):
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=15, seed=31)
    changelog = gen_changelog(seed_df, n_events=600, seed=31)
    table = LakeTable.create(spark, str(tmp_path / "mf"), n_buckets=8)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog), delta=200).run()

    m = mf.manifest_df(spark, table)
    assert set(m.columns) == {
        "batch_id", "source_partition", "lsn_lo", "lsn_hi",
        "schema_version", "snapshot_id", "row_count", "applied_at",
    }
    assert m.count() > 0
    wm = mf.per_partition_watermarks(spark, table).toPandas()
    assert (wm["watermark"] > 0).all()
    assert mf.already_applied(table, "b1-200", 200)
    assert not mf.already_applied(table, "b601-800", 800)


def test_optimistic_commit_conflict(spark, tmp_path):
    """Two writers racing on one table plan the same sequence number:
    the loser's link raises CommitConflict instead of silently
    clobbering the winner."""
    import pytest

    from dx.lake import CommitConflict, LakeTable

    root = str(tmp_path / "conflict")
    t1 = LakeTable.create(spark, root, n_buckets=4)
    t2 = LakeTable.load(spark, root)
    snap = t2._child(t2.meta(), "w2", watermark=20)  # planned against s0
    assert snap["snapshot_id"] == "s1"
    assert t1.checkpoint_watermark("w1", 10) == "s1"  # writer 1 commits first
    with pytest.raises(CommitConflict, match="s1"):
        t2._commit(snap)
    assert t2.watermark() == t1.watermark() == 10  # winner's state intact


def test_iceberg_backend_signature_parity():
    """IcebergTable (unrunnable here — no jars) must stay call-compatible
    with LakeTable for every method ReplayEngine/manifest invoke, so a
    cluster deployment can't die on a TypeError the sandbox never sees."""
    import inspect

    from dx.iceberg_backend import IcebergTable
    from dx.lake import LakeTable

    for meth in ("merge", "alter", "checkpoint_watermark", "compact",
                 "read", "meta", "watermark", "delta_depth",
                 "applied_batch_ids", "snapshot_chain", "bucket_expr",
                 "route", "expire_snapshots"):
        lake_fn = getattr(LakeTable, meth)
        ice_fn = getattr(IcebergTable, meth)
        lake_params = inspect.signature(lake_fn).parameters
        ice_params = inspect.signature(ice_fn).parameters
        # every parameter the engine can pass to LakeTable must be
        # accepted by IcebergTable (same name; extras must have defaults)
        for name in lake_params:
            assert name in ice_params, f"{meth}() missing param {name!r}"
        for name, p in ice_params.items():
            if name not in lake_params:
                assert p.default is not inspect.Parameter.empty, (
                    f"{meth}() extra required param {name!r}"
                )


def _record_writes(monkeypatch):
    """Patch the parquet writer to record every frame it saves."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kw):
        written.append(self._df)
        return parquet(self, path, *args, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    return written


def _bucket_writes(spark, tmp_path, monkeypatch, n_buckets):
    """The frames the bucket writes of a seed, one replay batch and a
    compaction save, in that order."""
    written = _record_writes(monkeypatch)
    seed_df = gen_seed_table(2, 10, seed=3)
    chg = gen_changelog(seed_df, n_events=300, seed=3)
    table = LakeTable.create(spark, str(tmp_path / f"w{n_buckets}"), n_buckets=n_buckets)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, chg)).run_batch(0, 150)
    table.compact()
    assert len(written) == 3
    return written


def _assert_one_key_route(df, n_buckets):
    """The frame's plan has exactly one Exchange: the key-hash route."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert re.search(
        rf"Exchange hashpartitioning\(repo#\d+, path#\d+, {n_buckets}\)", plan
    ), plan
    assert "subtask" not in plan, plan
    return plan


def test_bucket_write_fuses_into_dedup_exchange(spark, tmp_path, monkeypatch):
    """Plan-shape guard: the frame every bucket write saves (seed,
    replay batch with its dedup, compaction with its reconcile) has
    exactly ONE Exchange, the key-hash route into ``n_buckets``
    partitions; the dedup and reconcile windows and the write reuse it.
    A second Exchange would double the payload bytes moved per batch.
    PLANS.md section 2 is the human-readable twin of this assert."""
    seed, batch, compaction = _bucket_writes(spark, tmp_path, monkeypatch, 8)
    _assert_one_key_route(seed, 8)
    for df in (batch, compaction):
        assert "Window" in _assert_one_key_route(df, 8)


def test_small_batch_write_reuses_the_dedup_exchange(spark, tmp_path, monkeypatch):
    """Plan-shape guard for a small batch: the frame the bucket write
    saves has exactly ONE Exchange, the dedup's key route, and write
    task i holds bucket i, so each dirty bucket gets one delta file and
    the payload shuffles once."""
    seed_df = gen_seed_table(2, 10, seed=3)
    chg = gen_changelog(seed_df, n_events=300, seed=3)
    table = LakeTable.create(spark, str(tmp_path / "small"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    written = _record_writes(monkeypatch)
    lo = int(chg["lsn"].min()) - 1
    ReplayEngine(spark, table, changelog_from_pandas(spark, chg)).run_batch(lo, lo + 12)
    assert len(written) == 1
    assert "Window" in _assert_one_key_route(written[0], 4)
    assert written[0].filter(F.spark_partition_id() != F.col("__bucket")).count() == 0


@pytest.mark.parametrize("n_buckets", [4, 8])
def test_write_task_holds_exactly_its_bucket(spark, tmp_path, monkeypatch, n_buckets):
    """Write task i holds bucket i and only bucket i, so each dirty
    bucket gets one file per write and no task carries two buckets."""
    for df in _bucket_writes(spark, tmp_path, monkeypatch, n_buckets):
        assert df.filter(F.spark_partition_id() != F.col("__bucket")).count() == 0


def test_empty_segment_metadata_only_commit(spark, tmp_path, jobs_of):
    """An empty LSN window must advance the watermark with a
    METADATA-ONLY commit (ADVICE r2, dx/engine.py): one Spark job (the
    lineage collect), no write job, no data/<sid> directory, no
    data-bearing-shaped snapshot — while a later replay over the real
    events still converges."""
    import os as _os

    seed_df = gen_seed_table(n_repos=2, paths_per_repo=6, seed=3)
    pdf = gen_changelog(seed_df, n_events=60, seed=3)
    table = LakeTable.create(spark, str(tmp_path / "empty-seg"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    head = int(pdf["lsn"].max())
    eng = ReplayEngine(spark, table, changelog_from_pandas(spark, pdf),
                       delta=10_000)
    eng.ddl_events()  # once per engine, not per batch

    # window strictly past the changelog head: zero events
    metrics = []
    assert jobs_of(lambda: metrics.extend(eng.run_batch(head, head + 500))) == 1
    assert len(metrics) == 1 and metrics[0].events == 0
    sid = metrics[0].snapshot_id
    assert sid is not None
    assert not _os.path.exists(_os.path.join(table.root, "data", sid))
    assert table.watermark() == head + 500
    # idempotent: re-applying the same empty window is a skip
    again = eng.run_batch(head, head + 500)
    assert again[0].skipped


def test_master_cores_and_wide_codec_threshold():
    """Width-aware codec default: zstd at >=16 cores PER JVM, stock
    below. The sweep (BENCH/AB_CODEC.json) measured zstd losing at 8
    threads (CPU-bound) and winning at 32 threads in one JVM
    (bus-bound); the executors A/B (scaling_ab_e28_r5{,_off}.json)
    measured zstd halving 8 x 4-core JVMs — per-JVM width decides."""
    from dx.session import _WIDE_CODEC_CORES, _jvm_cores, _master_cores

    assert _master_cores("local[8]") == 8
    assert _master_cores("local[32]") == 32
    assert _master_cores("local[*]") >= 1
    assert _master_cores("local-cluster[8,4,6144]") == 32
    assert _master_cores("spark://host:7077") is None
    assert _master_cores("yarn") is None
    # per-JVM slots: one JVM for local[N], c per JVM for local-cluster
    assert _jvm_cores("local[32]") == 32
    assert _jvm_cores("local-cluster[8,4,6144]") == 4
    assert _jvm_cores("local-cluster[2,16,6144]") == 16
    assert _jvm_cores("spark://host:7077") is None
    # the measured crossover sits between the 8-loss and the 32-win
    assert 8 < _WIDE_CODEC_CORES <= 32
    assert _jvm_cores("local[8]") < _WIDE_CODEC_CORES
    assert _jvm_cores("local[32]") >= _WIDE_CODEC_CORES


def test_wide_codec_decided_by_jvm_width():
    """The zstd default follows the per-JVM width alone."""
    from dx.session import _use_wide_codec

    assert _use_wide_codec("local[32]") is True
    assert _use_wide_codec("local[8]") is False
    # 32 total cores as 4-core executor JVMs stays stock (measured:
    # zstd halved the 8-executor side, scaling_ab_e28_r5.json)
    assert _use_wide_codec("local-cluster[8,4,6144]") is False
    assert _use_wide_codec("local-cluster[2,16,6144]") is True
    assert _use_wide_codec("spark://host:7077") is False  # unknown width


def test_jdbc_roundtrip_requires_single_jvm_master():
    """Embedded Derby boots in one JVM only: the JDBC round-trip query
    runs under local[N] and refuses local-cluster and cluster masters."""
    from dx.queries import _require_single_jvm
    from dx.session import single_jvm

    for master in ("local[4]", "local[*]", "local", "local[4,2]"):
        assert single_jvm(master)
    _require_single_jvm("local[4]")
    for master in ("local-cluster[2,2,1024]", "spark://h:7077"):
        assert not single_jvm(master)
        with pytest.raises(RuntimeError, match="single-JVM local"):
            _require_single_jvm(master)
