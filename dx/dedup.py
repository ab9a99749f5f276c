"""Per-key max-LSN dedup (X2) — the core CDC collapse.

ABSENT in the reference (DataX has no relational operators, SURVEY.md
§2.7); mandated by BASELINE.json:6: per (repo, path) keep only the
highest-LSN event in a batch, collapsing I/U/D sequences.

The replay engine runs the ``window`` strategy of :func:`dedup_max_lsn`
for every batch, over a frame already routed by the key hash
(``LakeTable.route``), so the window adds no shuffle of its own and the
bucket write reuses the same exchange. The other strategies are
library functions (tests assert their equality); ``window`` and
``maxby`` are also checked by the ``cdc_dedup_window`` /
``cdc_dedup_maxby`` queries:

- ``window`` — the spec-literal form: ``row_number() OVER
  (PARTITION BY repo, path ORDER BY lsn DESC) = 1``. One full shuffle
  of the batch; a single hot key serializes into one task.
- ``maxby`` — ``groupBy(key).agg(max_by(struct(*), lsn))``. Same
  semantics (LSNs are unique), but hash aggregation gets a
  *partial/map-side combine*: each input partition pre-collapses to
  one row per key before the shuffle, and a hot key is reduced on
  every mapper instead of landing on one reducer — per-key skew is
  defused structurally, before salting (skew.py) is even needed.
  Still shuffles one full-payload row per (mapper, key).
- ``join`` — two-phase: aggregate only ``(key, max(lsn))`` (a
  narrow shuffle of key+lsn, ~1% of payload bytes for code content),
  then left-semi join the batch against the winning (key, lsn) pairs.
  With the winner set broadcast (a CDC batch's key set ≪ the table),
  the payload is NEVER shuffled at dedup, but the winner set costs
  its own aggregation job and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["repo", "path"]


def latest_keys(df: DataFrame, key: list[str] = KEY, lsn_col: str = "lsn") -> DataFrame:
    """``(key..., max(lsn) AS lsn_col)`` winners — the narrow dedup core.

    Map-side combined; the shuffle carries only key + lsn columns.
    """
    return df.groupBy(*key).agg(F.max(lsn_col).alias(lsn_col))


def dedup_max_lsn(df: DataFrame, key: list[str] = KEY, lsn_col: str = "lsn",
                  strategy: str = "join") -> DataFrame:
    """Keep only the max-LSN event per key; preserves input schema."""
    if strategy == "window":
        w = Window.partitionBy(*key).orderBy(F.col(lsn_col).desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if strategy == "maxby":
        payload = [c for c in df.columns if c not in key]
        agg = df.groupBy(*key).agg(
            F.max_by(F.struct(*payload), F.col(lsn_col)).alias("__top")
        )
        return agg.select(*key, *[F.col(f"__top.{c}").alias(c) for c in payload])
    if strategy == "join":
        w = latest_keys(df, key, lsn_col)
        semi = df.join(F.broadcast(w), on=[*key, lsn_col], how="left_semi")
        # A redelivered event ROW (same key AND same lsn appearing twice
        # in one batch — e.g. an at-least-once shipper landing a chunk
        # twice) would survive the semi-join in both copies; window/
        # maxby both collapse it. dropDuplicates keeps the
        # strategies equivalent under duplicated input rows. Cost: one
        # extra shuffle of the already-collapsed batch (≤ |keys| rows,
        # and a broadcastable winner set keeps it small) — bounded, and
        # correctness is not input-invariant-conditional.
        return semi.dropDuplicates([*key, lsn_col])
    raise ValueError(f"unknown dedup strategy: {strategy}")


def fold_partial(df: DataFrame, key: list[str] = KEY, lsn_col: str = "lsn",
                 value_cols: list[str] | None = None) -> DataFrame:
    """Partial-update fold (X10): collapse a batch to one row per key
    where each value column independently keeps its LATEST NON-NULL
    value — the CDC shape of column-level change events (MySQL binlog
    minimal row image, Paimon partial-update merge engine). Max-LSN
    dedup (X2) is the degenerate case where every event carries every
    column.

    Delete semantics are strict resets: events at or before a key's
    highest-LSN ``op='D'`` never contribute a value (the delete wiped
    the row; later events rebuild it from scratch). The emitted row
    carries:

    - ``lsn``   — max LSN over ALL of the key's events (batch-split
      invariant: folding one batch equals folding two sub-batches
      merged in LSN order),
    - ``op``    — the highest-LSN event's op ('D' → the key is a
      delete; callers drop it),
    - ``__reset`` — true when a mid-batch delete occurred, so the
      MERGE must NOT coalesce older stored values into this row.

    Physical shape: the delete watermark is a NARROW aggregate over
    only the D rows (a CDC batch's deletes are a small fraction),
    broadcast-joined back; the fold itself is one map-side-combinable
    groupBy — payload shuffles once, the same budget as ``maxby``.
    """
    reserved = {*key, lsn_col, "op"}
    if value_cols is None:
        # Inferred default excludes engine/system helper columns
        # (underscore-prefixed: __bucket, _lsn, …) and the
        # replay frame's bookkeeping fields — folding those as payload
        # would silently corrupt them. A payload column that really
        # starts with "_" must be passed via value_cols explicitly.
        helper = {"batch_seq", "source_partition", "event_ts"}
        value_cols = [
            c for c in df.columns
            if c not in reserved and c not in helper and not c.startswith("_")
        ]
        excluded = [
            c for c in df.columns
            if c not in reserved and (c in helper or c.startswith("_"))
        ]
        if excluded:
            # ADVICE r4 #2: a caller whose PAYLOAD column is really
            # named batch_seq/source_partition/event_ts (or starts
            # with "_") would silently lose it from the fold under
            # inference — surface the exclusion so they pass
            # value_cols explicitly.
            import warnings

            warnings.warn(
                "fold_partial inferred value_cols excludes "
                f"{excluded} (engine/system helper names); pass "
                "value_cols explicitly if any of these are payload",
                stacklevel=2,
            )
    d_last = (
        df.filter(F.col("op") == "D")
        .groupBy(*key)
        .agg(F.max(lsn_col).alias("__d_lsn"))
    )
    ev = df.join(F.broadcast(d_last), on=list(key), how="left")
    live = (
        (F.col("op") != "D")
        & (F.col(lsn_col) > F.coalesce(F.col("__d_lsn"), F.lit(-1)))
    )
    aggs = [
        F.max(lsn_col).alias(lsn_col),
        F.max_by("op", F.col(lsn_col)).alias("op"),
        F.max("__d_lsn").isNotNull().alias("__reset"),
    ]
    for c in value_cols:
        aggs.append(
            F.max_by(
                F.col(c),
                F.when(live & F.col(c).isNotNull(), F.col(lsn_col)),
            ).alias(c)
        )
    return ev.groupBy(*key).agg(*aggs)
