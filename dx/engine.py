"""Micro-batch replay loop (X1, X8) — the engine's main lifecycle.

Replaces DataX's JobContainer lifecycle + task-group thread machinery
(†core/job/JobContainer.java, †core/taskgroup/TaskGroupContainer.java,
SURVEY.md §2.1 C2–C7, §3.1): the whole Reader→Channel→Writer pipeline
is one declarative DataFrame lineage per micro-batch; parallelism is
Spark's scheduler; flow control (†Channel.statPush throttling, C7) is
a bounded LSN range Δ per batch.

Per batch (SURVEY.md §3.4):
  1. W = table watermark (from the committed snapshot chain)     [X5]
  2. events = changelog.filter(W < lsn ≤ W+Δ)                    [X1]
     — Catalyst pushes the range predicate to the parquet scan
  3. split at DDL boundaries; ALTER TABLE per DDL event          [X4]
  4. per sub-range: one narrow lineage aggregation — its rows give
     the event count, and none means a metadata-only watermark commit
  5. max-LSN dedup [X2]: the batch is routed by the key hash into
     n_buckets partitions (LakeTable.route: partition i holds bucket
     i) and ``row_number() OVER (PARTITION BY repo, path ORDER BY lsn
     DESC) = 1`` reuses that exchange, as does the bucket write —
     exactly one payload shuffle; normalize content + sha256 and
     materialize evolved columns in the same stage                 [X7]
  6. skew [X6] is structural: the key-hash shuffle spreads a hot
     repo's paths over every bucket
  7. MERGE into the lake table [X3], merge-on-read: append one delta
     file per dirty bucket (tombstones included) in ONE snapshot
     commit; auto-compact at depth ≥ compact_threshold. n_buckets
     sets the write task count
  8. snapshot commit = link of the next sequence-numbered snapshot
     file, a compare-and-swap (a losing writer gets CommitConflict);
     manifest is derived [X5]
  9. emit lineage + events/sec metrics (JSON line per batch)     [X8]

Crash-resume: every step before 8 is side-effect-free on committed
state; re-running a batch whose lsn_hi ≤ watermark is a no-op
(manifest.already_applied), so replay from any checkpoint converges.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dx import manifest as mf
from dx.dedup import dedup_max_lsn
from dx.lake import LakeTable
from dx.transforms import content_sha_bin, normalize_content


def seed_lake(spark: SparkSession, table: LakeTable, seed_df) -> str:
    """Load the F1 seed state: normalize content, stamp sha + lsn=0."""
    import pandas as pd

    if isinstance(seed_df, pd.DataFrame):
        seed_df = spark.createDataFrame(seed_df)
    data = seed_df.select(
        "repo", "path", "commit", "lang",
        normalize_content(F.col("content")).alias("content"),
    ).withColumn(
        "_content_sha", F.unhex(F.sha2(F.col("content"), 256))
    ).withColumn("_lsn", F.lit(0).cast("long"))
    return table.seed(data)


def changelog_from_pandas(spark: SparkSession, pdf) -> DataFrame:
    """Typed Spark frame from a generator pandas changelog (tests/bench)."""
    from dx.generator import CHANGELOG_DDL

    records = pdf.to_dict("records")
    for r in records:
        ts = r.get("event_ts")
        if ts is not None and getattr(ts, "tzinfo", None) is not None:
            r["event_ts"] = ts.tz_convert("UTC").tz_localize(None).to_pydatetime()
    return spark.createDataFrame(records, schema=CHANGELOG_DDL)


@dataclass
class BatchMetrics:
    batch_id: str
    lsn_lo: int
    lsn_hi: int
    events: int
    applied_rows: int
    snapshot_id: str | None
    ddl_applied: int
    seconds: float
    events_per_sec: float
    skipped: bool = False
    lineage: list[dict] = field(default_factory=list)


class ReplayEngine:
    """Replays a changelog into a lake table in bounded LSN batches.

    Every batch takes the same path: routed max-LSN window dedup, one
    delta file per dirty bucket. ``broadcast_key_limit`` is ignored;
    it stays in the signature only because the benchmark harness reads
    its default to size its bulk batch.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        changelog: DataFrame,
        delta: int = 10_000,
        metrics_path: str | None = None,
        compact_threshold: int = 8,
        broadcast_key_limit: int = 2_000_000,
    ):
        self.spark = spark
        self.table = table
        self.changelog = changelog
        self.delta = delta
        self.metrics_path = metrics_path
        self.compact_threshold = compact_threshold
        self._max_lsn: int | None = None
        self._ddls: list | None = None

    # ----------------------------------------------------------------- utils
    def max_lsn(self) -> int:
        if self._max_lsn is None:
            self._max_lsn = (
                self.changelog.agg(F.max("lsn").alias("m")).collect()[0]["m"] or 0
            )
        return self._max_lsn

    def ddl_events(self) -> list:
        """All DDL events of the changelog, ONCE per engine (the
        changelog frame is immutable): one narrow scan for the whole
        replay instead of one per micro-batch — at Δ-sized batches over
        10^10 events the per-batch DDL scan was a serial job on every
        batch's critical path."""
        if self._ddls is None:
            self._ddls = sorted(
                self.changelog.filter(F.col("op") == "DDL")
                .select("lsn", "ddl_action", "ddl_column", "ddl_type")
                .collect(),
                key=lambda r: r["lsn"],
            )
        return self._ddls

    def _emit(self, m: BatchMetrics) -> None:
        line = json.dumps(m.__dict__)
        if self.metrics_path:
            os.makedirs(os.path.dirname(self.metrics_path) or ".", exist_ok=True)
            with open(self.metrics_path, "a") as f:
                f.write(line + "\n")

    # ------------------------------------------------------------ transforms
    def _transform_sel(self) -> list:
        """Column list: payload transforms + evolved-column
        materialization (the normalize + sha256 invariant, X7)."""
        norm = normalize_content(F.col("content"))
        sha = content_sha_bin(F.col("content"))
        cols = self.table.columns()
        base = {"repo", "path", "commit", "lang"}
        sel = []
        for c in cols:
            if c.name == "content":
                sel.append(norm.alias("content"))
            elif c.name in base:
                sel.append(F.col(c.name))
            else:
                # evolved column: value travels in the extra map. try_cast =
                # DataX dirty-record coercion semantics (†SURVEY.md §2.3 P12):
                # malformed input → null, never a failed job.
                sel.append(F.col("extra").getItem(c.name).try_cast(c.type).alias(c.name))
        sel += [
            sha.alias("_content_sha"),
            F.col("lsn").alias("_lsn"),
            F.col("op"),
        ]
        return sel

    def _dedup_changes(self, events: DataFrame) -> DataFrame:
        """Max-LSN dedup (dedup.py's ``window`` strategy) + payload
        transforms → the exact frame lake.merge expects. The batch is
        routed first (``LakeTable.route``); the window keyed on (repo,
        path) reuses that exchange, and so does the bucket write: ONE
        payload shuffle, whose task i holds bucket i."""
        deduped = dedup_max_lsn(self.table.route(events), strategy="window")
        return deduped.select(*self._transform_sel())

    # ------------------------------------------------------------ run loop
    def run_batch(self, lo: int, hi: int) -> list[BatchMetrics]:
        """Apply events with lsn ∈ (lo, hi], splitting at DDL boundaries."""
        out: list[BatchMetrics] = []
        window = self.changelog.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        ddls = [d for d in self.ddl_events() if lo < d["lsn"] <= hi]
        bounds = [lo] + [d["lsn"] for d in ddls] + [hi]
        segments: list[tuple[int, int]] = []
        for i in range(len(bounds) - 1):
            a = bounds[i]
            b = bounds[i + 1] - 1 if i + 1 <= len(ddls) else bounds[i + 1]
            segments.append((a, b))
        # segments[i] covers (a, b]; ddls[i] sits between segment i and i+1
        for i, (a, b) in enumerate(segments):
            if b > a:
                out.append(self._apply_segment(a, b, window))
            if i < len(ddls):
                out.append(self._apply_ddl(ddls[i]))
        return out

    def _apply_ddl(self, d) -> BatchMetrics:
        t0 = time.monotonic()
        batch_id = f"ddl{d['lsn']}"
        if mf.already_applied(self.table, batch_id, d["lsn"]):
            m = BatchMetrics(batch_id, d["lsn"], d["lsn"], 1, 0, None, 0, 0.0, 0.0, skipped=True)
        else:
            sid = self.table.alter(
                d["ddl_action"], d["ddl_column"], d["ddl_type"] or "string",
                batch_id=batch_id, at_lsn=d["lsn"],
            )
            dt = time.monotonic() - t0
            m = BatchMetrics(batch_id, d["lsn"], d["lsn"], 1, 0, sid, 1, dt, 0.0)
        self._emit(m)
        return m

    def _collect_lineage(self, events: DataFrame) -> list[dict]:
        return [
            {
                "source_partition": int(r["source_partition"]),
                "lsn_lo": int(r["lsn_lo"]),
                "lsn_hi": int(r["lsn_hi"]),
                "row_count": int(r["row_count"]),
            }
            for r in events.groupBy("source_partition")
            .agg(
                F.min("lsn").alias("lsn_lo"),
                F.max("lsn").alias("lsn_hi"),
                F.count("*").alias("row_count"),
            )
            .collect()
        ]

    def _apply_segment(self, lo: int, hi: int, window: DataFrame) -> BatchMetrics:
        t0 = time.monotonic()
        batch_id = f"b{lo + 1}-{hi}"
        if mf.already_applied(self.table, batch_id, hi):
            m = BatchMetrics(batch_id, lo + 1, hi, 0, 0, None, 0, 0.0, 0.0, skipped=True)
            self._emit(m)
            return m
        events = window.filter(
            (F.col("lsn") > lo) & (F.col("lsn") <= hi) & (F.col("op") != "DDL")
        )
        # The narrow lineage aggregation runs first: its rows give the
        # exact event count, and no rows means an empty window, which
        # takes a METADATA-ONLY watermark advance (no write job, no
        # data/<sid> dir, no data-shaped snapshot). The write scans the
        # window again rather than caching it: this scan reads two
        # narrow columns, and caching would materialize the payload.
        lineage = self._collect_lineage(events)
        if not lineage:
            sid = self.table.checkpoint_watermark(batch_id, hi)
            dt = time.monotonic() - t0
            m = BatchMetrics(batch_id, lo + 1, hi, 0, 0, sid, 0, dt, 0.0)
            self._emit(m)
            return m
        sid = self.table.merge(
            self._dedup_changes(events),
            batch_id=batch_id,
            watermark_hi=hi,
            lineage=lineage,
        )
        n_events = sum(r["row_count"] for r in lineage)
        dt = time.monotonic() - t0
        applied = self.table.meta(refresh=False).get("merge_stats", {}).get("change_rows", 0)
        m = BatchMetrics(
            batch_id, lo + 1, hi, int(n_events), int(applied), sid, 0, dt,
            round(n_events / dt, 2) if dt > 0 else 0.0, lineage=lineage,
        )
        self._emit(m)
        return m

    def run(self, max_batches: int | None = None) -> list[BatchMetrics]:
        """Replay from the table's current watermark to the changelog head.

        A crash anywhere leaves the table at its last commit; a fresh
        engine over the same table resumes from its watermark and
        converges (T3b).
        """
        out: list[BatchMetrics] = []
        head = self.max_lsn()
        n = 0
        while True:
            w = self.table.watermark()
            if w >= head:
                break
            if max_batches is not None and n >= max_batches:
                break
            hi = min(w + self.delta, head)
            out.extend(self.run_batch(w, hi))
            if self.compact_threshold:
                deep = [
                    b for b, d in self.table.delta_depth().items()
                    if d >= self.compact_threshold
                ]
                if deep:
                    self.table.compact(deep)
            n += 1
        return out
