"""Structured Streaming front-end for the replay engine.

The batch CLI replays a bounded LSN range per loop iteration; this
module is the same engine driven by ``readStream`` + ``foreachBatch``
— the deployment shape for a live binlog tail (files landing in a
changelog directory, e.g. from a Debezium/Kafka-to-parquet shipper).

Semantics: exactly-once is carried by the ENGINE's manifest/watermark
protocol, not by the streaming checkpoint — foreachBatch is
at-least-once, and a redelivered micro-batch re-enters
``ReplayEngine.run_batch`` whose ``already_applied`` guard absorbs it
(lsn_hi ≤ watermark ⇒ no-op). The Spark checkpoint only bounds
re-reads; correctness never depends on it.

Delivery contract: ROW order within and across landed files is
arbitrary (T4 semantics — the max-LSN dedup + LSN-windowed apply
absorb it), but a file may only land once every file containing a
LOWER LSN has landed ("prefix-complete" landing — the standard
guarantee of per-partition-ordered binlog shippers). Without it, a
gap below an applied watermark would be skipped forever; detecting
gaps would require a source-side contiguity ledger, which belongs to
the shipper, not the applier.

At scale this is the standing-cluster mode: maxFilesPerTrigger bounds
per-trigger input (flow control, C7 analogue), and the engine's
per-batch metrics/lineage emit unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dx.engine import ReplayEngine
from dx.generator import CHANGELOG_DDL
from dx.lake import LakeTable


def stream_replay(
    spark: SparkSession,
    table: LakeTable,
    changelog_dir: str,
    checkpoint_dir: str,
    delta: int = 100_000,
    max_files_per_trigger: int = 64,
    **engine_kwargs,
):
    """Start a streaming query applying changelog files as they land.

    Returns the StreamingQuery; call ``.processAllAvailable()`` /
    ``.stop()`` (tests) or ``.awaitTermination()`` (production).
    """

    def apply_batch(batch_df, batch_id: int) -> None:
        # the engine treats the micro-batch frame as its changelog and
        # replays (watermark, max lsn] out of it — events at or below
        # the table watermark (redelivery) are skipped by the guard,
        # events above it are applied in bounded delta steps. An empty
        # micro-batch has max lsn 0, so run() returns at once.
        engine = ReplayEngine(
            spark, table, batch_df, delta=delta, **engine_kwargs
        )
        engine.run()

    stream = (
        spark.readStream.schema(CHANGELOG_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")  # shippers land per-chunk dirs
        .parquet(changelog_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def windowed_event_counts(stream, window: str = "1 minute",
                          watermark: str = "2 minutes"):
    """Event-time tumbling-window aggregation with a watermark.

    The conventional streaming-aggregation surface (events table
    shape: ts/event_type/value): append-mode emits a window only once
    it is closed by the watermark; rows later than the watermark are
    dropped. Money stays in exact cents (no float accumulation).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # round, not floor: a double like 0.29 is stored as
            # 0.28999...; floor(x*100) would silently lose a cent.
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value_cents",
        )
    )


SESSION_OUT_DDL = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, closed boolean"
)
SESSION_STATE_DDL = "start long, last long, n int"


def sessionize(stream, gap_seconds: int = 30, watermark: str = "2 minutes"):
    """Custom stateful operator: session windows per user via
    ``applyInPandasWithState`` (gap-based sessionization, the classic
    case Spark's built-in windows can't express pre-3.4 session
    windows with custom emit logic).

    State per user = (session start, last event, count) in epoch
    seconds; a state timeout (event-time based) closes the session
    ``gap_seconds`` after its last event and emits it with
    ``closed=true``. Arrow-batched; no per-row Python outside the
    grouped pandas batch.
    """
    import pandas as pd  # noqa: PLC0415

    gap = gap_seconds

    def fn(key, pdfs, state):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="s")],
                "session_end": [pd.Timestamp(last, unit="s")],
                "n_events": [n],
                "closed": [True],
            })
            return
        ts = pd.concat([p["ts"] for p in pdfs]).sort_values()
        secs = (ts.astype("int64") // 1_000_000_000).tolist()
        sessions = []
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = secs[0], secs[0], 0
        for s in secs:
            if s - last > gap:
                sessions.append((start, last, n))
                start, n = s, 0
            last = s
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp((last + gap) * 1000)
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "session_start": pd.to_datetime([s[0] for s in sessions], unit="s"),
                "session_end": pd.to_datetime([s[1] for s in sessions], unit="s"),
                "n_events": [s[2] for s in sessions],
                "closed": True,
            }
        )
        if len(out):
            yield out

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUT_DDL, SESSION_STATE_DDL, "append", "EventTimeTimeout"
        )
    )


def watermark_lag(spark: SparkSession, table: LakeTable, changelog_dir: str):
    """Monitoring helper: head LSN in the landed changelog vs the
    table's applied watermark (replication lag in LSNs)."""
    head = (
        spark.read.schema(CHANGELOG_DDL)
        .option("recursiveFileLookup", "true")
        .parquet(changelog_dir)
        .agg(F.max("lsn").alias("head"))
        .collect()[0]["head"]
        or 0
    )
    return {"head_lsn": int(head), "applied_watermark": int(table.watermark()),
            "lag": int(head) - int(table.watermark())}
