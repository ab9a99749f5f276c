"""The driver-side port of Spark's ``hash(repo, path)`` that routes
point reads to their bucket: it must agree with ``F.hash``/``pmod`` bit
for bit, and a disagreement must fail loudly, never skew a lookup."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dx import lake
from dx.lake import LakeTable, spark_hash

# ASCII, 2- and 3-byte UTF-8 (negative signed tail bytes) and 4-byte emoji
_ALPHABET = "aZ09/._-~ üéß中文€\U0001F600\U0001F4A9"


def _keys(n: int, seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)

    def word() -> str:
        return "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(0, 12)))

    keys = [(word(), word()) for _ in range(n)]
    # empty strings and every UTF-8 byte length mod 4, on both columns
    keys += [("", ""), ("", "a"), ("a", "")]
    keys += [("r" * i, "p" * j) for i in range(9) for j in range(9)]
    return keys


def test_spark_hash_port_matches_spark_hash(spark):
    keys = _keys(10_000, seed=8)
    assert {len(k.encode()) % 4 for pair in keys for k in pair} == {0, 1, 2, 3}
    n_buckets = 32
    rows = (
        spark.createDataFrame(keys, "repo string, path string")
        .select("repo", "path",
                F.hash("repo", "path").alias("h"),
                F.pmod(F.hash("repo", "path"), F.lit(n_buckets)).alias("b"))
        .collect()
    )
    assert len(rows) == len(keys)
    bad = [(r["repo"], r["path"]) for r in rows
           if spark_hash(r["repo"], r["path"]) != r["h"]
           or spark_hash(r["repo"], r["path"]) % n_buckets != r["b"]]
    assert bad == []


def test_wrong_hash_port_fails_loudly(spark, tmp_path, monkeypatch):
    """A port that disagrees with Spark raises at the first point read
    (and point_files) of the process instead of reading the wrong
    bucket."""
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    monkeypatch.setattr(lake, "_hash_port_checked", False)
    monkeypatch.setattr(lake, "spark_hash", lambda *v: 0)
    with pytest.raises(RuntimeError, match="disagrees with Spark"):
        table.read_point("repo", "src/main.py")
    with pytest.raises(RuntimeError, match="disagrees with Spark"):
        table.point_files("repo", "src/main.py")
    monkeypatch.undo()
    assert table.read_point("repo", "src/main.py").collect() == []
