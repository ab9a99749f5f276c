"""Real-Iceberg adapter: the production backend behind LakeTable's
interface (SURVEY.md §7.2).

This sandbox has no ``iceberg-spark-runtime`` jars and no network to
fetch them (SURVEY.md §0.2), so this module CANNOT run here — it is
the documented, reviewable mapping from the engine's lake operations
to real Iceberg SQL, to be used on a cluster where the session is
created with:

    spark-submit --py-files dx.zip \\
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.lake.type=hadoop \\
      --conf spark.sql.catalog.lake.warehouse=<s3/hdfs path> \\
      dx/main.py ...

Surface parity: every method below matches the signature and column
contract of ``dx.lake.LakeTable`` (``merge(changes, batch_id,
watermark_hi, lineage=None, update_mode="full")``, one commit per
call on both backends; ``alter(..., batch_id=, at_lsn=)``, ``watermark()``,
``checkpoint_watermark()``, ``delta_depth()``, ``compact(buckets)``,
``meta()``, ``bucket_expr()``, ``route()``) — tests/test_units.py asserts the
signatures stay compatible, so a cluster deployment cannot fail on a
TypeError that the sandbox never exercises. The change-frame column
the engine emits is ``_lsn`` (dx/engine.py _transform_sel), and the
MERGE SQL below binds ``c._lsn`` accordingly.

Semantics mapping (each method notes its sandbox equivalent):

- table layout = Iceberg's own metadata/manifest tree; LakeTable's
  per-bucket files map + link-if-absent of the next sequence-numbered
  snapshot file is the file-system model of the same commit protocol
  (Iceberg's rename-if-absent metadata swap: optimistic, a losing
  writer gets ``CommitConflict``).
- ``write.distribution-mode=hash`` + ``bucket(N, repo, path)``
  partitioning reproduces the pmod(hash(repo,path), N) bucket routing.
- merge-on-read delete files (``write.merge.mode=merge-on-read``)
  correspond to LakeTable's delta files + tombstones; LakeTable's
  ``compact()`` is ``rewrite_data_files``.
- batch_id / watermark / lineage ride in **snapshot summary
  properties**: Iceberg stamps any session conf prefixed
  ``snapshot-property.`` into the commit summary, which is the exact
  analogue of LakeTable embedding them in its snapshot JSON.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FQN = "lake.db.source_code"


class IcebergTable:
    """LakeTable-compatible adapter over a real Iceberg catalog.

    Only the surface the engine uses; lineage/manifest rows ride in
    snapshot summary properties, exactly like LakeTable embeds them in
    its snapshot JSON.
    """

    def __init__(self, spark: SparkSession, fqn: str = FQN, n_buckets: int = 256):
        self.spark = spark
        self.fqn = fqn
        self.n_buckets = n_buckets

    # -------------------------------------------------------- lifecycle
    def create(self) -> None:
        """LakeTable.create + seed schema. Hash-bucketed by key so
        MERGE touches only matching files (== dirty-bucket planning)."""
        self.spark.sql(
            f"""
            CREATE TABLE IF NOT EXISTS {self.fqn} (
              repo STRING, path STRING, commit STRING, lang STRING,
              content STRING, _content_sha BINARY, _lsn BIGINT
            )
            USING iceberg
            PARTITIONED BY (bucket({self.n_buckets}, repo))
            TBLPROPERTIES (
              'format-version' = '2',
              'write.merge.mode' = 'merge-on-read',
              'write.update.mode' = 'merge-on-read',
              'write.delete.mode' = 'merge-on-read',
              'write.distribution-mode' = 'hash'
            )
            """
        )

    def read(self, include_system: bool = False,
             snapshot_id: str | None = None) -> DataFrame:
        """LakeTable.read incl. time travel (`VERSION AS OF`)."""
        if snapshot_id is not None:
            df = self.spark.sql(
                f"SELECT * FROM {self.fqn} VERSION AS OF {int(snapshot_id)}"
            )
        else:
            df = self.spark.table(self.fqn)
        if not include_system:
            df = df.drop("_content_sha", "_lsn")
        return df

    def bucket_expr(self, repo=None, path=None):
        """LakeTable.bucket_expr — planning-side mirror of the table's
        bucket transform (Iceberg routes writes itself; the engine uses
        this only for dirty-bucket/statistics planning)."""
        repo = repo if repo is not None else F.col("repo")
        path = path if path is not None else F.col("path")
        return F.pmod(F.hash(repo, path), F.lit(self.n_buckets))

    def route(self, df: DataFrame) -> DataFrame:
        """LakeTable.route — the engine's dedup shuffle by the key hash
        into ``n_buckets`` partitions (Iceberg then routes the write by
        its own ``write.distribution-mode=hash``)."""
        return df.repartition(self.n_buckets, "repo", "path")

    # --------------------------------------------------------- metadata
    def meta(self, refresh: bool = True) -> dict:
        """LakeTable.meta: head-snapshot facts from the metadata tables."""
        snap = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self.fqn}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        if not snap:
            return {"snapshot_id": None, "watermark": 0, "n_buckets": self.n_buckets}
        summary = snap[0]["summary"]
        return {
            "snapshot_id": str(snap[0]["snapshot_id"]),
            "watermark": int(summary.get("dx.watermark", 0)),
            "batch_id": summary.get("dx.batch-id"),
            "n_buckets": self.n_buckets,
        }

    def watermark(self) -> int:
        """LakeTable.watermark: max dx.watermark over the snapshot log
        (snapshots carry it monotonically, so the head value suffices)."""
        rows = self.spark.sql(
            f"SELECT max(CAST(summary['dx.watermark'] AS BIGINT)) AS w "
            f"FROM {self.fqn}.snapshots"
        ).collect()
        return int(rows[0]["w"] or 0)

    def applied_batch_ids(self) -> set[str]:
        """manifest.already_applied's exact-membership side: batch ids
        from the snapshot summaries — the snapshot log IS the manifest."""
        rows = self.spark.sql(
            f"SELECT summary['dx.batch-id'] AS b FROM {self.fqn}.snapshots"
        ).collect()
        return {r["b"] for r in rows if r["b"]}

    def snapshot_chain(self) -> list[dict]:
        """LakeTable.snapshot_chain (lineage export surface)."""
        rows = self.spark.sql(
            f"SELECT snapshot_id, parent_id, committed_at, summary "
            f"FROM {self.fqn}.snapshots ORDER BY committed_at DESC"
        ).collect()
        out = []
        for r in rows:
            s = r["summary"]
            out.append({
                "snapshot_id": str(r["snapshot_id"]),
                "parent_id": str(r["parent_id"]) if r["parent_id"] else None,
                "batch_id": s.get("dx.batch-id"),
                "watermark": int(s.get("dx.watermark", 0)),
                "lineage": json.loads(s.get("dx.lineage", "[]")),
                "applied_at": r["committed_at"].timestamp(),
            })
        return out

    def _set_commit_props(self, batch_id: str | None, watermark_hi: int | None,
                          lineage: list[dict] | None) -> None:
        """Stamp dx.* into the next commit's snapshot summary. Iceberg
        copies any session conf prefixed ``snapshot-property.`` into
        the commit summary (SparkWriteConf); the same facts LakeTable
        writes into its snapshot JSON."""
        if batch_id is not None:
            self.spark.conf.set("snapshot-property.dx.batch-id", batch_id)
        if watermark_hi is not None:
            self.spark.conf.set("snapshot-property.dx.watermark", str(int(watermark_hi)))
        self.spark.conf.set("snapshot-property.dx.lineage", json.dumps(lineage or []))

    # -------------------------------------------------------------- DDL
    def alter(self, action: str, column: str, col_type: str = "string",
              batch_id: str | None = None, at_lsn: int | None = None) -> str:
        """LakeTable.alter: Iceberg ALTER TABLE is metadata-only and
        field-id-based — drop/re-add of a name cannot resurrect old
        data, the same guarantee LakeTable implements via __fid names.

        Iceberg schema updates do not create data snapshots, so the
        batch_id/watermark stamp goes into table properties (the
        idempotence guard reads both)."""
        if action == "add_column":
            self.spark.sql(f"ALTER TABLE {self.fqn} ADD COLUMN {column} {col_type}")
        elif action == "drop_column":
            self.spark.sql(f"ALTER TABLE {self.fqn} DROP COLUMN {column}")
        else:
            raise ValueError(f"unknown DDL action: {action}")
        if batch_id is not None:
            self.spark.sql(
                f"ALTER TABLE {self.fqn} SET TBLPROPERTIES "
                f"('dx.ddl.{batch_id}' = '{int(at_lsn or 0)}')"
            )
        return batch_id or ""

    def checkpoint_watermark(self, batch_id: str, hi: int) -> str:
        """LakeTable.checkpoint_watermark: an empty append commit whose
        only payload is the summary properties (empty-batch watermark
        advance)."""
        self._set_commit_props(batch_id, hi, [])
        empty = self.spark.createDataFrame(
            [], self.spark.table(self.fqn).schema
        )
        empty.writeTo(self.fqn).append()
        return batch_id

    # ------------------------------------------------------------ write
    def merge(
        self,
        changes: DataFrame,
        batch_id: str,
        watermark_hi: int,
        lineage: list[dict] | None = None,
        update_mode: str = "full",
    ) -> str:
        """LakeTable.merge (X3): the literal MERGE INTO that LakeTable
        writes as delta files in one commit.

        ``changes`` is the engine's prepared frame: max-LSN deduped
        (X2), columns = logical schema + ``op`` + ``_content_sha`` +
        ``_lsn`` (+ optional ``__bucket`` planning column, dropped —
        Iceberg routes rows via its own bucket transform).
        The payload-bearing source frame is never broadcast: multi-KB
        ``content`` per row over a whole batch can blow
        the broadcast size limit or OOM the driver.
        Copy-on-write vs merge-on-read is fixed per table (the
        write.merge.mode property), not per batch.
        """
        if update_mode not in ("full", "partial"):
            raise ValueError(f"unknown update_mode: {update_mode}")
        src = changes.drop("__bucket") if "__bucket" in changes.columns else changes
        src.createOrReplaceTempView("dx_changes")
        self._set_commit_props(batch_id, watermark_hi, lineage)
        self.spark.conf.set("spark.wap.id", batch_id)  # snapshot stamping
        value_cols = ["commit", "lang", "content", "_content_sha"]
        if update_mode == "partial":
            # X10 (LakeTable.merge(update_mode='partial')): untouched
            # columns stay at their stored value unless a mid-batch
            # delete reset the key (dedup.fold_partial's __reset flag).
            reset = ("c.__reset" if "__reset" in src.columns else "false")
            sets = ", ".join(
                f"t.{c} = CASE WHEN {reset} THEN c.{c} "
                f"ELSE coalesce(c.{c}, t.{c}) END"
                for c in value_cols
            )
        else:
            sets = ", ".join(f"t.{c} = c.{c}" for c in value_cols)
        self.spark.sql(
            f"""
            MERGE INTO {self.fqn} t
            USING dx_changes c
            ON t.repo = c.repo AND t.path = c.path
            WHEN MATCHED AND c.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET {sets}, t._lsn = c._lsn
            WHEN NOT MATCHED AND c.op != 'D' THEN INSERT
              (repo, path, commit, lang, content, _content_sha, _lsn)
              VALUES (c.repo, c.path, c.commit, c.lang, c.content,
                      c._content_sha, c._lsn)
            """
        )
        return batch_id

    # ------------------------------------------------------ maintenance
    def delta_depth(self) -> dict[str, int]:
        """LakeTable.delta_depth: outstanding delete-file count per
        partition from the files metadata table (compaction signal)."""
        rows = self.spark.sql(
            f"SELECT partition, count(*) AS n FROM {self.fqn}.delete_files "
            f"GROUP BY partition"
        ).collect()
        return {str(r["partition"]): int(r["n"]) for r in rows}

    def compact(self, buckets: list[str] | None = None,
                batch_id: str | None = None) -> str | None:
        """LakeTable.compact: fold merge-on-read deletes into data via
        rewrite_data_files; ``buckets`` narrows the rewrite with a
        partition predicate."""
        del batch_id  # Iceberg stamps its own rewrite snapshot summary
        where = ""
        if buckets:
            ids = ", ".join(str(int(b)) for b in buckets)
            where = f", where => 'partition.repo_bucket IN ({ids})'"
        self.spark.sql(
            f"CALL lake.system.rewrite_data_files(table => '{self.fqn}', "
            f"options => map('delete-file-threshold', '1'){where})"
        )
        return None

    def expire_snapshots(self, keep_last: int = 100,
                         min_age_s: float = 3600.0) -> dict:
        """LakeTable.expire_snapshots: Iceberg's expire_snapshots +
        remove_orphan_files procedures (the same retain-last + orphan-
        age pair of guards)."""
        self.spark.sql(
            f"CALL lake.system.expire_snapshots(table => '{self.fqn}', "
            f"retain_last => {int(keep_last)})"
        )
        self.spark.sql(
            f"CALL lake.system.remove_orphan_files(table => '{self.fqn}', "
            f"older_than => CURRENT_TIMESTAMP - INTERVAL {int(min_age_s)} SECOND)"
        )
        return {"kept_snapshots": keep_last}

    def snapshots(self) -> DataFrame:
        """Lineage surface: Iceberg metadata tables replace LakeTable's
        snapshot JSON chain."""
        return self.spark.sql(f"SELECT * FROM {self.fqn}.snapshots")
