"""S4 keyed-scan connector (dx/kv.py): live range-split scans over an
embedded keyed store — split balance under skew, projection + verbatim
filter pushdown, key-range bounding, per-task range isolation."""

from __future__ import annotations

import sqlite3

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dx.kv import kv_splits, read_kv, stage_kv


@pytest.fixture()
def kv_db(tmp_path):
    path = str(tmp_path / "kv.db")
    pdf = pd.DataFrame(
        {
            "k": range(1000),
            "repo": [f"r{i % 7}" for i in range(1000)],
            "content": [f"payload-{i}" for i in range(1000)],
            "size": [float(i) * 0.5 for i in range(1000)],
        }
    )
    stage_kv(path, "files", pdf, key_col="k")
    return path


def test_kv_round_trip_and_projection(spark, kv_db):
    df = read_kv(spark, kv_db, table="files", key_col="k",
                 columns=["k", "repo"], n_splits=4)
    assert df.columns == ["k", "repo"]
    assert df.count() == 1000
    assert df.agg(F.sum("k")).collect()[0][0] == sum(range(1000))


def test_kv_splits_cover_and_balance(spark, kv_db):
    splits = kv_splits(kv_db, "files", "k", 4)
    assert len(splits) == 4
    assert splits[0][0] is None and splits[-1][1] is None
    # exact quantiles: interior boundaries at 250/500/750
    assert [s[1] for s in splits[:-1]] == [250, 500, 750]
    # each task sees ONLY its range (per-partition min/max disjointness)
    df = read_kv(spark, kv_db, table="files", key_col="k",
                 columns=["k"], n_splits=4)
    parts = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
             F.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert [p["n"] for p in parts] == [250, 250, 250, 250]
    for prev, cur in zip(parts, parts[1:]):
        assert prev["hi"] < cur["lo"]


def test_kv_skewed_keys_still_balance(spark, tmp_path):
    """Quantile boundaries (not lexicographic midpoints): 90% of keys
    in a narrow band must not collapse into one task."""
    path = str(tmp_path / "skew.db")
    keys = list(range(900)) + [10_000_000 + i for i in range(100)]
    stage_kv(path, "kv", pd.DataFrame({"k": keys, "v": "x"}), key_col="k")
    splits = kv_splits(path, "kv", "k", 4)
    df = read_kv(spark, path, key_col="k", n_splits=4)
    n = (
        df.groupBy(F.spark_partition_id())
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert len(splits) == 4 and n == 250  # perfectly even despite the skew


def test_kv_splits_balance_rows_surviving_where(spark, kv_db):
    """A filter that keeps only the upper half of the key space must
    not leave the lower splits empty: the count and boundary probes
    apply ``where``, so the splits balance the rows that survive it."""
    where = "size >= 250"  # size = k / 2: keeps k in [500, 1000)
    surviving = range(500, 1000)
    splits = kv_splits(kv_db, "files", "k", 4, where=where)
    counts = [
        sum(1 for k in surviving
            if (lo is None or k >= lo) and (hi is None or k < hi))
        for lo, hi in splits
    ]
    assert len(splits) == 4  # unique keys: no boundary merges
    assert all(abs(c - len(surviving) / 4) <= 1 for c in counts), counts
    df = read_kv(spark, kv_db, table="files", key_col="k", columns=["k"],
                 where=where, n_splits=4)
    per_task = sorted(
        r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()
    )
    assert per_task == [125, 125, 125, 125]


def test_kv_key_range_and_verbatim_where(spark, kv_db):
    df = read_kv(
        spark, kv_db, table="files", key_col="k",
        columns=["k", "repo", "size"],
        key_range=(100, 300),
        where="repo IN ('r1', 'r2')",  # store-dialect filter, verbatim
        n_splits=3,
    )
    rows = df.collect()
    assert all(100 <= r["k"] < 300 for r in rows)
    assert set(r["repo"] for r in rows) == {"r1", "r2"}
    expect = sum(1 for i in range(100, 300) if i % 7 in (1, 2))
    assert len(rows) == expect


def test_kv_text_key_projected_out(spark, tmp_path):
    """The ranges frame takes the key's type from the store catalog, so
    a TEXT key still splits when the projection leaves it out."""
    path = str(tmp_path / "text.db")
    pdf = pd.DataFrame({"k": [f"key{i:04d}" for i in range(200)],
                        "v": [f"val{i}" for i in range(200)]})
    stage_kv(path, "kv", pdf, key_col="k")
    df = read_kv(spark, path, key_col="k", columns=["v"], n_splits=4)
    assert df.columns == ["v"]
    assert sorted(r["v"] for r in df.collect()) == sorted(pdf["v"])


def test_kv_identifiers_are_quoted(spark, tmp_path):
    """Table, key and column names are double-quoted into the store's
    SQL, so names with spaces stage and scan; a name holding a double
    quote is refused."""
    path = str(tmp_path / "quoted.db")
    pdf = pd.DataFrame({"doc id": range(100),
                        "file size": [i * 2 for i in range(100)]})
    stage_kv(path, "my docs", pdf, key_col="doc id")
    df = read_kv(spark, path, table="my docs", key_col="doc id",
                 columns=["file size"], key_range=(10, 50), n_splits=3)
    assert df.columns == ["file size"]
    assert sorted(r["file size"] for r in df.collect()) == [
        i * 2 for i in range(10, 50)
    ]
    with pytest.raises(ValueError, match="may not contain"):
        read_kv(spark, path, table='my "docs"', key_col="doc id")


def test_kv_unknown_column_raises(spark, kv_db):
    with pytest.raises(ValueError, match="unknown kv columns"):
        read_kv(spark, kv_db, table="files", key_col="k", columns=["nope"])


def test_kv_filter_reduces_bytes_scanned(kv_db):
    """Pushdown is real: the store executes the filter (query plan uses
    the PK index for the range), not the Spark side post-hoc."""
    with sqlite3.connect(f"file:{kv_db}?mode=ro", uri=True) as conn:
        plan = conn.execute(
            "EXPLAIN QUERY PLAN SELECT k, repo FROM files "
            "WHERE k >= 100 AND k < 300"
        ).fetchall()
    assert any("PRIMARY KEY" in str(row) or "INDEX" in str(row).upper()
               for row in plan)


def test_kv_multi_version_latest_n(spark, tmp_path):
    """hbase multiVersionFixedColumn shape: newest N versions per key,
    tall (key, cell, version, value) rows, latest-N cut store-side."""
    path = str(tmp_path / "mv.db")
    rows = [
        {"k": k, "ver": ver, "status": f"s{k}-{ver}", "owner": f"o{ver}"}
        for k in range(20)
        for ver in (1, 2, 3)
    ]
    stage_kv(path, "cells", pd.DataFrame(rows), key_col=("k", "ver"))
    from dx.kv import read_kv_versions

    df = read_kv_versions(
        spark, path, "cells", key_col="k", version_col="ver",
        columns=["status", "owner"], max_versions=2, n_splits=3,
    )
    assert df.columns == ["k", "cell", "version", "value"]
    got = df.collect()
    # 20 keys x 2 cells x 2 surviving versions; version 1 cut store-side
    assert len(got) == 80
    assert set(r["version"] for r in got) == {2, 3}
    assert {r["value"] for r in got if r["k"] == 5 and r["cell"] == "status"} \
        == {"s5-2", "s5-3"}


def test_kv_multi_version_key_range(spark, tmp_path):
    path = str(tmp_path / "mv2.db")
    rows = [{"k": k, "ver": v, "c": str(k * 10 + v)}
            for k in range(10) for v in (1, 2)]
    stage_kv(path, "cells", pd.DataFrame(rows), key_col=("k", "ver"))
    from dx.kv import read_kv_versions

    df = read_kv_versions(
        spark, path, "cells", key_col="k", version_col="ver",
        columns=["c"], max_versions=1, key_range=(3, 7), n_splits=2,
    )
    got = sorted((r["k"], r["version"], r["value"]) for r in df.collect())
    assert got == [(k, 2, str(k * 10 + 2)) for k in range(3, 7)]
