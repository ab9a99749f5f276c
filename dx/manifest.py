"""Commit manifest / watermark table — exactly-once machinery (X5).

DataX analogue: the `otsstreamreader` per-shard checkpoint/lease table
(†SURVEY.md §2.2 S5, §3.3) — which is only at-least-once (crash ⇒
re-delivery, no dedup). This module closes that gap:

The manifest is **derived state**: every committed snapshot embeds its
batch_id, applied LSN watermark, and per-source-partition lineage rows
(lake.py). The authoritative record is therefore the snapshot chain
itself — committed atomically with the data by one snapshot-file
link (a compare-and-swap on the sequence number, dx/lake.py; a writer
that loses the link applies its staged change to the new head, and
drops it when that head's watermark already covers the batch). A
crash *anywhere* (including "after snapshot commit, before manifest
bookkeeping", T3b) cannot desynchronize data from manifest, because
there is nothing to desynchronize: re-reading the chain reconstructs
the manifest exactly.

Idempotence guard: the engine applies batches in LSN order, so
``batch.lsn_hi <= table.watermark()`` ⇔ already applied ⇒ no-op. The
watermark is the one guard: every batch id names its top LSN
(``b<lo>-<hi>``, ``ddl<lsn>``), every commit that applies one sets
``watermark = max(parent, that LSN)`` and no commit lowers it, so an
applied id always has ``hi <= watermark`` (Delta's idempotent writes
likewise keep one monotone version per writer, not a set of ids).
Replay from ANY checkpoint converges (BASELINE.json:6) because apply
is a last-writer-wins MERGE of max-LSN-deduped rows — re-applying a
prefix is absorbed.

FIXTURES.md F3 fixes the exported manifest schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dx.lake import LakeTable

MANIFEST_DDL = (
    "batch_id string, source_partition int, lsn_lo long, lsn_hi long, "
    "schema_version int, snapshot_id string, row_count long, applied_at timestamp"
)


def manifest_df(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Materialize the commit manifest from the snapshot chain (F3 schema)."""
    rows = []
    for snap in table.snapshot_chain():
        for e in snap.get("lineage", []):
            rows.append(
                (
                    snap.get("batch_id"),
                    int(e["source_partition"]),
                    int(e["lsn_lo"]),
                    int(e["lsn_hi"]),
                    int(snap["schema_version"]),
                    snap["snapshot_id"],
                    int(e["row_count"]),
                    __import__("datetime").datetime.fromtimestamp(snap["applied_at"]),
                )
            )
    return spark.createDataFrame(rows, MANIFEST_DDL)


def per_partition_watermarks(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Per source-partition high watermark (max applied lsn_hi)."""
    df = manifest_df(spark, table)
    return df.groupBy("source_partition").max("lsn_hi").withColumnRenamed(
        "max(lsn_hi)", "watermark"
    )


def already_applied(table: LakeTable, batch_id: str, lsn_hi: int) -> bool:
    """Idempotent-apply guard: ``batch_id`` (whose top LSN is
    ``lsn_hi``) is applied iff the head watermark covers ``lsn_hi``.
    One head-snapshot read."""
    return lsn_hi <= table.watermark()
