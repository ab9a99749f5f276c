"""Key-level file skipping (VERDICT r4 #4, lake.py file_stats):
committed snapshots carry per-file (repo, path) min/max bounds —
point reads and the partial-merge hit scan open only files whose
ranges can contain the requested keys, like Iceberg manifest
column-bound pruning within a partition."""

from __future__ import annotations

from pyspark.sql import functions as F

from dx.lake import LakeTable


def _changes(spark, rows):
    """rows: list of (repo, path, content, lsn, op)."""
    df = spark.createDataFrame(
        [(r, p, f"c{lsn}", "py", c, op, lsn) for r, p, c, lsn, op in rows],
        "repo string, path string, commit string, lang string, "
        "content string, op string, _lsn long",
    )
    return df.withColumn(
        "_content_sha",
        F.when(F.col("op") != "D", F.unhex(F.sha2(F.col("content"), 256))),
    )


def _batch(prefix: str, n: int, lsn0: int, op: str = "U"):
    return [
        (f"repo-{prefix}", f"{prefix}/{i:04d}", f"v{lsn0 + i}", lsn0 + i, op)
        for i in range(n)
    ]


def _build(spark, tmp_path, name="lake"):
    """Three MoR batches with DISJOINT key ranges → every bucket holds
    delta files from all three, each covering only its own range."""
    table = LakeTable.create(spark, str(tmp_path / name), n_buckets=2)
    for i, prefix in enumerate(["aaa", "bbb", "ccc"]):
        table.merge(
            _changes(spark, _batch(prefix, 30, lsn0=100 * (i + 1))),
            batch_id=f"b{i + 1}", watermark_hi=100 * (i + 1) + 99,
        )
    return table


def test_snapshot_records_file_bounds(spark, tmp_path):
    table = _build(spark, tmp_path)
    meta = table.meta()
    live = {f for fl in meta.get("deltas", {}).values() for f in fl}
    live |= {f for fl in meta["files"].values() for f in fl}
    stats = meta["file_stats"]
    assert set(stats) == live                       # every live file bounded
    for rmin, rmax, pmin, pmax in stats.values():
        assert rmin <= rmax and pmin <= pmax


def test_point_read_skips_disjoint_files(spark, tmp_path):
    table = _build(spark, tmp_path)
    pf = table.point_files("repo-aaa", "aaa/0005")
    # the key's bucket holds deltas from all three batches; only the
    # aaa-range files may survive the skip
    assert len(pf["deltas"]) >= 3
    assert len(pf["deltas_pruned"]) < len(pf["deltas"])
    assert pf["deltas_pruned"]                      # never pruned to nothing
    row = table.read_point("repo-aaa", "aaa/0005").collect()
    assert len(row) == 1 and row[0]["content"] == "v105"
    # pruned read ≡ unpruned full read for the same key
    full = (
        table.read()
        .filter((F.col("repo") == "repo-aaa") & (F.col("path") == "aaa/0005"))
        .collect()
    )
    assert [r.asDict() for r in row] == [r.asDict() for r in full]


def test_point_read_reconciles_across_surviving_files(spark, tmp_path):
    table = _build(spark, tmp_path)
    # update one aaa key in a LATER delta, delete another: both new
    # files cover only those keys, so pruning keeps (old aaa file +
    # the one-key file) and the max-LSN reconcile must still win
    table.merge(
        _changes(spark, [("repo-aaa", "aaa/0005", "v999", 999, "U")]),
        batch_id="b4", watermark_hi=999,
    )
    table.merge(
        _changes(spark, [("repo-aaa", "aaa/0007", "", 1000, "D")]),
        batch_id="b5", watermark_hi=1000,
    )
    updated = table.read_point("repo-aaa", "aaa/0005").collect()
    assert len(updated) == 1 and updated[0]["content"] == "v999"
    assert table.read_point("repo-aaa", "aaa/0007").collect() == []
    assert table.read_point("repo-zzz", "nope").collect() == []


def test_compaction_rebuilds_bounds(spark, tmp_path):
    table = _build(spark, tmp_path)
    table.compact()
    meta = table.meta()
    live = {f for fl in meta["files"].values() for f in fl}
    assert set(meta["file_stats"]) == live          # no stale delta entries
    row = table.read_point("repo-bbb", "bbb/0003").collect()
    assert len(row) == 1 and row[0]["content"] == "v203"


def test_time_travel_point_read_uses_old_bounds(spark, tmp_path):
    table = _build(spark, tmp_path)
    sid = table.meta()["snapshot_id"]
    table.merge(
        _changes(spark, [("repo-aaa", "aaa/0005", "v999", 999, "U")]),
        batch_id="b4", watermark_hi=999,
    )
    old = table.read_point("repo-aaa", "aaa/0005", snapshot_id=sid).collect()
    assert len(old) == 1 and old[0]["content"] == "v105"


def test_small_mor_batch_writes_one_delta_file_per_bucket(spark, tmp_path):
    """A merge-on-read batch lands ONE delta file per dirty bucket, not
    one per write task: every later read opens each delta file, so the
    file count is the read cost."""
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    before: dict[str, int] = {}
    for i, prefix in enumerate(["aaa", "bbb", "ccc"]):
        changes = _changes(spark, _batch(prefix, 200, lsn0=1000 * (i + 1)))
        dirty = {
            str(r[0])
            for r in changes.select(table.bucket_expr()).distinct().collect()
        }
        table.merge(changes, batch_id=f"b{i + 1}",
                    watermark_hi=1000 * (i + 1) + 999)
        deltas = table.meta()["deltas"]
        added = {b: len(fl) - before.get(b, 0) for b, fl in deltas.items()}
        assert {b: n for b, n in added.items() if n} == {b: 1 for b in dirty}
        before = {b: len(fl) for b, fl in deltas.items()}


def test_deep_mor_point_read_launches_no_job(spark, tmp_path, jobs_of):
    """A point read of a depth-7 merge-on-read table runs no Spark job
    at all — live, tombstoned and absent keys alike, at the head and as
    of a snapshot, and so does ``point_files()``: the bucket id is
    hashed in Python, the pruned files are read with pyarrow, and the
    result is a local relation. Only the first lookup in a process
    pays the one-row hash-port check, run here up front."""
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    for i in range(7):
        # overlapping key ranges: every layer rewrites half the last
        rows = [
            (r, f"k/{int(p[2:]) + 300 * i:05d}", c, lsn,
             "D" if lsn % 10 == 0 else "U")
            for r, p, c, lsn, _ in _batch("k", 600, lsn0=1000 * (i + 1))
        ]
        table.merge(_changes(spark, rows), batch_id=f"b{i + 1}",
                    watermark_hi=1000 * (i + 1) + 999)
        if i == 2:
            mid = table.meta()["snapshot_id"]
    assert max(table.delta_depth().values()) >= 7
    table.point_files("repo-k", "k/00905")          # one-time hash check
    for path, want in [("k/00905", "v4005"), ("k/00910", None), ("k/99999", None)]:
        out = []
        assert jobs_of(lambda: out.extend(
            table.read_point("repo-k", path).collect())) == 0
        assert [r["content"] for r in out] == ([want] if want else [])
    old = []
    assert jobs_of(lambda: old.extend(
        table.read_point("repo-k", "k/00905", snapshot_id=mid).collect())) == 0
    assert [r["content"] for r in old] == ["v3305"]
    assert jobs_of(lambda: table.point_files("repo-k", "k/00905")) == 0


def _evolving_changes(spark, rows, **cols):
    df = _changes(spark, rows)
    for name, values in cols.items():
        by_path = F.create_map(*[F.lit(x) for kv in values.items() for x in kv])
        df = df.withColumn(name, by_path[F.col("path")])
    return df


def test_point_read_equals_scan_across_schema_evolution(spark, tmp_path):
    """Layers written under different schemas (add_column, drop_column,
    then a re-add of the same name): a point read equals the filtered
    full read for live, updated, tombstoned and never-existing keys, at
    the head, as of an older snapshot, and after compaction. A file
    that lacks a column reads it as null, and the dropped column's
    data never comes back under the re-added name."""
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=2)
    r = "repo-e"
    table.merge(_changes(spark, _batch("e", 20, lsn0=100)),
                batch_id="b1", watermark_hi=199)
    table.alter("add_column", "stars", batch_id="ddl1", at_lsn=200)
    table.alter("add_column", "license", batch_id="ddl2", at_lsn=201)
    table.merge(
        _evolving_changes(
            spark,
            [(r, "e/0001", "u1", 301, "U"), (r, "e/0002", "", 302, "D"),
             (r, "e/0003", "u3", 303, "U")],
            stars={"e/0001": "old-1", "e/0003": "old-3"},
            license={"e/0001": "mit", "e/0003": "bsd"},
        ),
        batch_id="b2", watermark_hi=399,
    )
    mid = table.meta()["snapshot_id"]
    table.alter("drop_column", "stars", batch_id="ddl3", at_lsn=400)
    table.merge(
        _evolving_changes(spark, [(r, "e/0004", "", 501, "D"),
                                  (r, "e/0005", "u5", 502, "U")],
                          license={"e/0005": "gpl"}),
        batch_id="b3", watermark_hi=599,
    )
    table.alter("add_column", "stars", batch_id="ddl4", at_lsn=600)
    table.merge(
        _evolving_changes(spark, [(r, "e/0003", "u3b", 701, "U"),
                                  (r, "e/0006", "u6", 702, "U")],
                          stars={"e/0003": "new-3", "e/0006": "new-6"},
                          license={"e/0003": "bsd", "e/0006": "apache"}),
        batch_id="b4", watermark_hi=799,
    )
    keys = [(r, f"e/{i:04d}") for i in range(7)]
    keys += [(r, "e/9999"), ("repo-x", "e/0001")]  # never existed

    def assert_point_equals_scan(snapshot_id=None):
        full = table.read(include_system=True, snapshot_id=snapshot_id)
        for repo, path in keys:
            point = table.read_point(repo, path, snapshot_id=snapshot_id,
                                     include_system=True).collect()
            scanned = full.filter(
                (F.col("repo") == repo) & (F.col("path") == path)).collect()
            assert [x.asDict() for x in point] == [x.asDict() for x in scanned], path
            assert len(point) <= 1

    def point(path, snapshot_id=None):
        rows = table.read_point(r, path, snapshot_id=snapshot_id).collect()
        return rows[0].asDict() if rows else None

    assert_point_equals_scan()
    assert_point_equals_scan(mid)
    assert point("e/0000")["stars"] is None             # file predates both columns
    assert point("e/0000")["license"] is None
    assert point("e/0001")["stars"] is None             # dropped data stays dropped
    assert point("e/0001")["license"] == "mit"
    assert point("e/0003")["stars"] == "new-3"
    assert point("e/0002") is None and point("e/0004") is None
    assert point("e/9999") is None
    assert point("e/0001", mid)["stars"] == "old-1"      # time travel sees fid 6
    assert point("e/0004", mid)["content"] == "v104"
    table.compact()
    assert not table.meta()["deltas"]
    assert_point_equals_scan()
    assert point("e/0001")["stars"] is None
    assert point("e/0006")["stars"] == "new-6"


def test_point_read_of_bigint_column_matches_scan(spark, tmp_path):
    """A non-string evolved column (``bigint``) reads back through the
    Arrow point path with the scan's value AND type: for a file written
    before the column existed (null) and one written after it. The
    point result's schema equals ``read()``'s, with and without the
    system columns, so a type-mapping slip cannot pass as equal dicts."""
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=2)
    r = "repo-n"
    table.merge(_changes(spark, _batch("n", 10, lsn0=100)),
                batch_id="b1", watermark_hi=199)
    table.alter("add_column", "n", "bigint", batch_id="ddl1", at_lsn=200)
    table.merge(
        _changes(spark, [(r, "n/0003", "u3", 301, "U"), (r, "n/0011", "u11", 302, "U")])
        .withColumn("n", F.when(F.col("path") == "n/0003", F.lit(3 << 40))
                    .otherwise(F.lit(-7)).cast("bigint")),
        batch_id="b2", watermark_hi=399,
    )
    for include_system in (True, False):
        full = table.read(include_system=include_system)
        for path, want in [("n/0001", None), ("n/0003", 3 << 40), ("n/0011", -7)]:
            point = table.read_point(r, path, include_system=include_system)
            assert point.schema == full.schema
            rows = point.collect()
            scanned = full.filter(
                (F.col("repo") == r) & (F.col("path") == path)).collect()
            assert [x.asDict() for x in rows] == [x.asDict() for x in scanned]
            assert len(rows) == 1 and rows[0]["n"] == want
        assert table.read_point(r, "n/9999", include_system=include_system
                                ).schema == full.schema
