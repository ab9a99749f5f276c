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
  4. per sub-range: a window outside the changelog's event span (one
     plan scan per engine) takes a metadata-only watermark commit with
     no Spark job; otherwise the narrow lineage aggregation is
     submitted to the engine's lineage thread and runs beside step 5
  5. max-LSN dedup [X2]: the batch is routed by the key hash into
     n_buckets partitions (LakeTable.route: partition i holds bucket
     i) and ``row_number() OVER (PARTITION BY repo, path ORDER BY lsn
     DESC) = 1`` reuses that exchange, as does the bucket write —
     exactly one payload shuffle; normalize content + sha256 and
     materialize evolved columns in the same stage                 [X7].
     The write starts at once; the lake waits for the lineage rows
     only after it, right before the commit, so the two Spark jobs
     run side by side
  6. skew [X6] is structural: the key-hash shuffle spreads a hot
     repo's paths over every bucket
  7. MERGE into the lake table [X3], merge-on-read: append one delta
     file per dirty bucket (tombstones included) in ONE snapshot
     commit; auto-compact at depth ≥ compact_threshold. n_buckets
     sets the write task count
  8. snapshot commit = link of the next sequence-numbered snapshot
     file, a compare-and-swap. A batch that loses the link is applied
     to the new head with no Spark work redone; one whose window
     another writer committed meanwhile is dropped and reported
     ``skipped``. Manifest is derived [X5]
  9. emit lineage + events/sec metrics (JSON line per batch)     [X8]

Crash-resume: every step before 8 writes only files no snapshot
references (a crash leaves them to GC); re-running a batch whose
lsn_hi ≤ watermark is a no-op (manifest.already_applied), so replay
from any checkpoint converges. Engines on several handles may replay
one changelog into one table at once: a window is committed once when
their windows line up, while windows that only partly overlap (a
replay resumed from a DDL's LSN) commit and report the overlap twice,
which the max-LSN read absorbs.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
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
        self._plan_cache: dict | None = None
        # one worker: a segment's lineage aggregation runs here while
        # the engine thread plans and runs its bucket write
        self._lineage_pool = ThreadPoolExecutor(max_workers=1,
                                                thread_name_prefix="dx-lineage")

    # ----------------------------------------------------------------- utils
    def _plan(self) -> dict:
        """The replay plan, from ONE narrow changelog scan per engine
        (the changelog frame is immutable): the head LSN, the event
        span (min and max LSN over non-DDL rows, None when there are
        none) and the DDL events sorted by LSN. The streaming front end
        builds one engine per micro-batch, so this is one job per
        micro-batch."""
        if self._plan_cache is None:
            event = F.col("op") != "DDL"
            r = self.changelog.agg(
                F.max("lsn").alias("head"),
                F.min(F.when(event, F.col("lsn"))).alias("first"),
                F.max(F.when(event, F.col("lsn"))).alias("last"),
                F.collect_list(F.when(
                    F.col("op") == "DDL",
                    F.struct("lsn", "ddl_action", "ddl_column", "ddl_type"),
                )).alias("ddls"),
            ).collect()[0]
            self._plan_cache = {
                "head": r["head"] or 0,
                "span": None if r["first"] is None else (r["first"], r["last"]),
                "ddls": sorted(r["ddls"], key=lambda d: d["lsn"]),
            }
        return self._plan_cache

    def max_lsn(self) -> int:
        return self._plan()["head"]

    def ddl_events(self) -> list:
        """All DDL events of the changelog, sorted by LSN, from the one
        plan scan: at Δ-sized batches over 10^10 events a per-batch DDL
        scan would be a serial job on every batch's critical path."""
        return self._plan()["ddls"]

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
        """Apply events with lsn ∈ (lo, hi], splitting at DDL boundaries:
        each DDL event closes the segment below it and applies alone."""
        out: list[BatchMetrics] = []
        for d in [d for d in self.ddl_events() if lo < d["lsn"] <= hi]:
            if d["lsn"] - 1 > lo:
                out.append(self._apply_segment(lo, d["lsn"] - 1))
            out.append(self._apply_ddl(d))
            lo = d["lsn"]
        if hi > lo:
            out.append(self._apply_segment(lo, hi))
        return out

    def _skipped(self, batch_id: str, lo: int, hi: int, events: int = 0) -> BatchMetrics:
        """Report a batch another commit already applied."""
        m = BatchMetrics(batch_id, lo, hi, events, 0, None, 0, 0.0, 0.0, skipped=True)
        self._emit(m)
        return m

    def _apply_ddl(self, d) -> BatchMetrics:
        t0 = time.monotonic()
        batch_id = f"ddl{d['lsn']}"
        sid = None
        if not mf.already_applied(self.table, batch_id, d["lsn"]):
            sid = self.table.alter(
                d["ddl_action"], d["ddl_column"], d["ddl_type"] or "string",
                batch_id=batch_id, at_lsn=d["lsn"],
            )
        if sid is None:
            return self._skipped(batch_id, d["lsn"], d["lsn"], events=1)
        m = BatchMetrics(batch_id, d["lsn"], d["lsn"], 1, 0, sid, 1,
                         time.monotonic() - t0, 0.0)
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

    def _apply_segment(self, lo: int, hi: int) -> BatchMetrics:
        t0 = time.monotonic()
        batch_id = f"b{lo + 1}-{hi}"
        span = self._plan()["span"]
        events = None  # no event in the window
        if span is not None and span[0] <= hi and lo < span[1]:
            events = self.changelog.filter(
                (F.col("lsn") > lo) & (F.col("lsn") <= hi) & (F.col("op") != "DDL")
            )
            changes = self._dedup_changes(events)
        # The guard reads the head right before the lake's commit reads
        # it, after the plan is built: a window another writer commits
        # after the guard is dropped by the lake, not merged twice.
        if mf.already_applied(self.table, batch_id, hi):
            return self._skipped(batch_id, lo + 1, hi)
        lineage = []
        if events is None:
            # a METADATA-ONLY watermark advance, with no Spark job, no
            # data dir and no data-shaped snapshot
            sid = self.table.checkpoint_watermark(batch_id, hi)
        else:
            # The narrow lineage aggregation runs on the lineage thread,
            # under this thread's job group and description, while the
            # write below runs here; the lake awaits it only right
            # before its commit. Both scan the window: the lineage scan
            # reads two narrow columns, and caching would materialize
            # the payload.
            pending = self._lineage_pool.submit(
                inheritable_thread_target(self.spark)(self._collect_lineage), events
            )
            sid = self.table.merge(changes, batch_id=batch_id, watermark_hi=hi,
                                   lineage=pending.result)
            lineage = pending.result()
        if sid is None:
            return self._skipped(batch_id, lo + 1, hi)
        n_events = sum(r["row_count"] for r in lineage)
        dt = time.monotonic() - t0
        applied = self.table.snapshot_meta(sid).get("merge_stats", {}).get("change_rows", 0)
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
        converges (T3b). A batch another writer applied first is
        reported ``skipped`` with no snapshot id, and the loop goes on
        from the new watermark.
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
