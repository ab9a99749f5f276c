"""LakeTable — Iceberg-equivalent table layer on parquet (X3/X4).

Sandbox has no iceberg-spark-runtime jars (SURVEY.md §0.2), so this
module implements the Iceberg semantics the north_rule needs —
snapshot isolation, atomic commit (one writer process), MERGE
upsert, ALTER TABLE schema evolution with field-ids — behind the
same interface ``iceberg_backend.py`` exposes for real clusters.
Design mirrors public Iceberg concepts (spec at
iceberg.apache.org/spec/):

- A table = immutable parquet data files + a chain of snapshot JSON
  metadata; the *commit point* is a pointer swap (``os.replace``),
  atomic for readers. It is NOT a compare-and-swap: the parent check
  is a separate read, so racing writer processes can both pass it and
  lose commits silently (8 processes × 200 commits: 1,077 reported,
  183 kept). A table assumes ONE writer process at a time.
- Data is hash-bucketed by ``pmod(hash(repo, path), n_buckets)``
  (Spark's Murmur3 ``F.hash`` — deterministic across sessions, so
  bucket routing is stable between snapshots). A MERGE rewrites ONLY
  the buckets containing changed keys (copy-on-write at bucket/file
  granularity) and carries every clean bucket's files forward by
  reference — at 100 TB a batch touching 0.1% of keys reads+writes
  ~0.1-1% of the table, never all of it.
- Schema evolution uses Iceberg-style **field ids**: a column's
  physical parquet name is ``{name}__fid{id}`` (base columns keep
  plain names, fids 1-5). ``drop`` then re-``add`` of the same name
  allocates a new fid, so old files' physical columns can never
  resurrect dropped data (SURVEY.md §7.4 #2).

Scale notes (10^10 rows / 1000 executors):
- Snapshot metadata holds one entry per bucket (choose ``n_buckets``
  so a bucket ≈ 0.5-1 GB; metadata stays KB-MB). Real Iceberg splits
  this into manifest files/lists — same information, two levels.
- The cow MERGE anti-join broadcasts the changed-key set (a CDC
  batch's keys ≪ the table); only dirty-bucket rows participate.
- Two merge modes, mirroring Iceberg v1/v2. ``ReplayEngine`` always
  writes ``mor``; ``cow`` is the path of direct ``merge()`` callers
  (the default mode) and the only one that takes
  ``update_mode='partial'`` (the ``cdc_partial_update`` query):
  * ``cow`` (copy-on-write): dirty buckets are rewritten (anti-join
    survivors ∪ upserts). Zero read amplification; write-amplified
    when changes spread across many buckets.
  * ``mor`` (merge-on-read): a batch appends only its own deduped
    change rows (incl. ``_op='D'`` tombstones) as per-bucket *delta
    files*; readers reconcile base ∪ deltas by max ``_lsn`` per key
    and drop tombstones — Iceberg v2 equality-delete semantics with
    the delete expressed as a newer row version. ``compact()`` folds
    deltas back into the base (== the cow rewrite). For a CDC stream
    building or hammering a table, mor makes batch cost O(batch),
    not O(touched buckets' size). A small batch (one that arrives
    without ``__bucket``) writes ONE delta file per dirty bucket, so
    a reader pays per layer, not per write task; the (bucket,
    subtask) write fan-out is kept for large pre-bucketed batches,
    ``seed``, ``compact()`` and the cow rewrite.
- Readers take the physical schema from the snapshot's column specs
  (stored names + types), never from file footers: a file written
  before a column existed reads it as null, a dropped column's
  physical name is never selected, and no schema-inference job runs.

DataX analogue: writers W1/W2 (†plugin-rdbms-util/.../CommonRdbmsWriter.java,
SURVEY.md §2.4) — ``writeMode: replace/update`` last-writer-wins by
primary key is exactly what ``merge()`` generalizes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_COLUMNS = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
KEY = ["repo", "path"]
# _content_sha is the 32-byte sha256 DIGEST (binary), not hex: half
# the bytes of the 64-char hex string on every shuffle/write of the
# payload path, where allocation/GC pressure is the measured 8→32
# scaling limiter (BENCH/PROFILE.md). Hex only at export/oracle edges
# (transforms.sha_hex). _stored_select rejects string-typed sha input
# so a stale hex producer fails loudly instead of storing utf8 bytes.
SYSTEM_COLUMNS = [("_content_sha", "binary"), ("_lsn", "long")]


@dataclass
class ColumnSpec:
    name: str
    type: str
    fid: int

    @property
    def stored_name(self) -> str:
        # base + system columns keep plain physical names; evolved columns
        # carry their field id so drop/re-add never aliases old data.
        if self.fid <= len(BASE_COLUMNS) or self.name.startswith("_"):
            return self.name
        return f"{self.name}__fid{self.fid}"


class CommitConflict(RuntimeError):
    """Pointer moved between plan and commit. Checked before the swap,
    not atomically with it: reliable for one writer process only."""


def _resolve_lineage(lineage) -> list[dict]:
    """Lineage may be a list OR a zero-arg callable (a Future.result):
    the engine overlaps the lineage aggregation with the merge write
    and the rows are only needed at snapshot-commit time."""
    return (lineage() if callable(lineage) else lineage) or []


# Recent-batch-id window carried in every snapshot (defense-in-depth
# idempotence membership). The PRIMARY guard is the monotone watermark
# (apply advances it to lsn_hi, so any applied batch fails the
# lsn_hi > watermark test); the id set only exists to also absorb
# pathological redeliveries, so a bounded recent window is sufficient
# and keeps snapshot JSON O(1) regardless of run length.
APPLIED_BATCH_CAP = 4096

# Write fan-out for large writes (the engine's bucket-window batches,
# seed, compact() and the cow rewrite): a bucket is sub-split into
# SUBTASK_SPREAD cells and a bucket write runs WRITE_TASK_MULT ×
# shuffle-partitions tasks, so one slow/large bucket can't serialize a
# stage whose task count equals the core count (the measured straggler
# term of the 8→32 scaling pair). Cells are key-deterministic
# (hash(path)), so dedup windows over (bucket, subtask) still see
# whole keys. Small merge-on-read batches skip the fan-out: every
# later read opens their delta files, so they write one per bucket.
SUBTASK_SPREAD = 8
WRITE_TASK_MULT = 4


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self._meta_cache: dict | None = None
        # instrumentation: snapshot-JSON file opens (tests assert the
        # per-batch metadata cost stays O(1) as the chain grows)
        self.meta_file_reads = 0

    # ------------------------------------------------------------------ paths
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_pointer.json")

    def _snap_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "snapshots", f"{snapshot_id}.json")

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(cls, spark: SparkSession, root: str, n_buckets: int = 32) -> "LakeTable":
        t = cls(spark, root, n_buckets)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        cols = [ColumnSpec(n, ty, i + 1) for i, (n, ty) in enumerate(BASE_COLUMNS)]
        snap = {
            "snapshot_id": "s0",
            "parent_id": None,
            "batch_id": None,
            "schema_version": 0,
            "columns": [asdict(c) for c in cols],
            "next_fid": len(cols) + 1,
            "n_buckets": n_buckets,
            "watermark": 0,
            "files": {},
            "deltas": {},
            "lineage": [],
            "applied_batches": [],
            "row_count": 0,
            "applied_at": time.time(),
        }
        t._write_snapshot(snap, expected_parent=None)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        meta = t.meta()
        t.n_buckets = meta["n_buckets"]
        return t

    # ------------------------------------------------------------- metadata
    def meta(self, refresh: bool = True) -> dict:
        if refresh or self._meta_cache is None:
            with open(self._pointer_path) as f:
                sid = json.load(f)["snapshot_id"]
            with open(self._snap_path(sid)) as f:
                self._meta_cache = json.load(f)
            self.meta_file_reads += 1
        return self._meta_cache

    def columns(self) -> list[ColumnSpec]:
        return [ColumnSpec(**c) for c in self.meta(refresh=False)["columns"]]

    def watermark(self) -> int:
        return int(self.meta()["watermark"])

    def snapshot_chain(self) -> list[dict]:
        """Walk parent links from the current snapshot toward the root.

        O(chain) file reads — this is the lineage/time-travel EXPORT
        surface, never on the per-batch hot path: the per-batch guards
        (``watermark()``, ``applied_batch_ids()``) read ONLY the head
        snapshot. The walk stops gracefully at the expire horizon
        (``expire_snapshots`` GC removes old metadata files).
        """
        out, meta = [], self.meta()
        while meta is not None:
            out.append(meta)
            pid = meta.get("parent_id")
            meta = None
            if pid is not None:
                try:
                    with open(self._snap_path(pid)) as f:
                        meta = json.load(f)
                    self.meta_file_reads += 1
                except FileNotFoundError:
                    break  # ancestor expired by GC
        return out

    def lineage(self) -> list[dict]:
        """All committed lineage rows (source LSN range → snapshot id)."""
        rows = []
        for snap in self.snapshot_chain():
            for entry in snap.get("lineage", []):
                rows.append({**entry, "snapshot_id": snap["snapshot_id"],
                             "batch_id": snap.get("batch_id")})
        return rows

    def applied_batch_ids(self) -> set[str]:
        """Recent applied batch ids — read from the HEAD snapshot only
        (every commit appends its batch_id to a capped window carried
        forward in the snapshot), O(1) file reads per call. Before this
        the check walked every ancestor snapshot: O(batches) JSON reads
        per batch, O(batches²) over a run — a driver-side scale killer
        at 10^10 events in Δ-sized batches."""
        return set(self.meta().get("applied_batches", []))

    def _child(self, meta: dict, batch_id: str | None, **overrides) -> dict:
        """Common child-snapshot construction: fresh id, parent link,
        applied-batch window append (capped), commit timestamp."""
        applied = list(meta.get("applied_batches", []))
        if batch_id:
            applied.append(batch_id)
            applied = applied[-APPLIED_BATCH_CAP:]
        return {
            **meta,
            "snapshot_id": f"s{uuid.uuid4().hex[:12]}",
            "parent_id": meta["snapshot_id"],
            "batch_id": batch_id,
            "applied_batches": applied,
            "applied_at": time.time(),
            **overrides,
        }

    def _write_snapshot(self, snap: dict, expected_parent: str | None) -> None:
        """Write snapshot json then swap the pointer.

        If the pointer no longer names ``expected_parent``, the plan is
        stale — raise, caller replans. Read-compare then ``os.replace``
        is two steps, not a compare-and-swap, so this assumes a single
        writer process (module docstring). The pointer swap is the
        commit point; a crash before it leaves only orphan
        data/metadata files (ignored by readers, GC-able).
        """
        if expected_parent is not None or os.path.exists(self._pointer_path):
            with open(self._pointer_path) as f:
                current = json.load(f)["snapshot_id"]
            if current != expected_parent:
                raise CommitConflict(f"pointer at {current}, expected {expected_parent}")
        path = self._snap_path(snap["snapshot_id"])
        with open(path + ".tmp", "w") as f:
            json.dump(snap, f)
        os.replace(path + ".tmp", path)
        tmp = self._pointer_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snap["snapshot_id"]}, f)
        os.replace(tmp, self._pointer_path)  # ← commit point
        self._meta_cache = snap

    # ----------------------------------------------------------------- read
    def bucket_expr(self, repo=None, path=None):
        repo = repo if repo is not None else F.col("repo")
        path = path if path is not None else F.col("path")
        return F.pmod(F.hash(repo, path), F.lit(self.n_buckets))

    def with_subtask(self, df: DataFrame) -> DataFrame:
        """Attach the write fan-out cell id (``__subtask``): a second,
        finer hash of the key so one bucket spreads over
        ``SUBTASK_SPREAD`` write tasks. Key-deterministic — every row
        of a (repo, path) lands in the same (bucket, subtask) cell."""
        return df.withColumn(
            "__subtask", F.pmod(F.hash(F.col("path")), F.lit(SUBTASK_SPREAD))
        )

    def write_partitions(self, fanout: bool) -> int:
        """Shuffle-partition count for bucket writes — the SAME formula
        the engine's fused dedup shuffle uses, so the write repartition
        collapses into the dedup exchange (one payload shuffle)."""
        conf = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if fanout:
            return conf * WRITE_TASK_MULT
        return min(self.n_buckets, conf)

    def _read_files(self, files: list[str], columns: list[ColumnSpec],
                    include_op: bool = False) -> DataFrame:
        """Read physical files, project to the given logical schema.

        The read schema comes from the snapshot's column specs (stored
        names + types, which ``_stored_select`` wrote), not from file
        footers — so no schema-inference job runs. A file written
        before a column existed reads it as null; a dropped column's
        physical name is simply not selected. ``include_op``
        additionally surfaces the ``_op`` marker (delta files carry it
        physically; base files read as 'U'), so base and delta files
        can share one read.
        """
        physical = [(c.stored_name, c.type) for c in columns] + SYSTEM_COLUMNS
        if include_op:
            physical.append(("_op", "string"))
        ddl = ", ".join(
            "`{}` {}".format(n.replace("`", "``"), t) for n, t in physical
        )
        df = (self.spark.read.schema(ddl).parquet(*files) if files
              else self.spark.createDataFrame([], ddl))
        sel = [F.col(c.stored_name).alias(c.name) for c in columns]
        sel += [F.col(n) for n, _ in SYSTEM_COLUMNS]
        if include_op:
            sel.append(F.coalesce(F.col("_op"), F.lit("U")).alias("_op"))
        return df.select(*sel)

    def _bucket_state(self, buckets: list[str], cols: list[ColumnSpec],
                      meta: dict | None = None,
                      key_bounds: tuple | None = None) -> DataFrame:
        """Reconciled state of the given buckets (base ∪ deltas:
        max-``_lsn`` row per key wins, tombstones drop) — the read side
        of Iceberg-v2-style merge-on-read. ``meta`` selects a snapshot
        (default: current).

        ``key_bounds`` = (repo_lo, repo_hi, path_lo, path_hi) prunes
        files via the snapshot's per-file stats BEFORE any IO. The
        returned frame is then only correct FOR KEYS WITHIN BOUNDS
        (an out-of-bounds key may reconcile against a pruned-away
        delta) — the caller must join down to in-bounds keys. Its one
        caller is the partial merge (semi-join on the batch key set);
        ``read_point`` prunes and reconciles its single key itself."""
        meta = meta if meta is not None else self.meta(refresh=False)
        base_files = [f for b in buckets for f in meta["files"].get(b, [])]
        delta_files = [f for b in buckets for f in meta.get("deltas", {}).get(b, [])]
        if key_bounds is not None:
            stats = meta.get("file_stats", {})
            base_files = self._prune_files(base_files, stats, key_bounds)
            delta_files = self._prune_files(delta_files, stats, key_bounds)
        if not delta_files:
            return self._read_files(base_files, cols)
        from pyspark.sql import Window

        w = Window.partitionBy(*KEY).orderBy(F.col("_lsn").desc())
        return (
            self._read_files(base_files + delta_files, cols, include_op=True)
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("_op") != "D"))
            .drop("__rn", "_op")
        )

    def read(self, include_system: bool = False,
             snapshot_id: str | None = None) -> DataFrame:
        """Table state — current, or as of ``snapshot_id`` (time
        travel: snapshots are immutable, so any committed id stays
        readable until GC'd, exactly Iceberg's `VERSION AS OF`)."""
        if snapshot_id is None:
            meta = self.meta()
            cols = self.columns()
        else:
            meta = self.snapshot_meta(snapshot_id)
            cols = [ColumnSpec(**c) for c in meta["columns"]]
        buckets = sorted(
            set(meta["files"]) | set(meta.get("deltas", {})), key=int
        )
        df = self._bucket_state(buckets, cols, meta=meta)
        if not include_system:
            df = df.drop(*[n for n, _ in SYSTEM_COLUMNS])
        return df

    def _bucket_of(self, repo: str, path: str) -> int:
        """Bucket id of one key — evaluated through the SAME Spark
        hash expression the writers use (one 1-row local job; a
        driver-side reimplementation of Murmur3 would be a silent-skew
        bug waiting for a Spark version bump)."""
        row = (
            self.spark.range(1)
            .select(self.bucket_expr(F.lit(repo), F.lit(path)).alias("b"))
            .collect()
        )
        return int(row[0]["b"])

    def read_point(self, repo: str, path: str, snapshot_id: str | None = None,
                   include_system: bool = False) -> DataFrame:
        """Point lookup of one (repo, path) key: bucket pruning (the
        key hashes to exactly one bucket) + key-level FILE skipping
        within it (snapshot ``file_stats`` bounds — VERDICT r4 #4),
        then the exact-key filter. IO is O(files containing the key),
        not O(files in the bucket): on a long-lived MoR table a bucket
        accumulates one delta file per batch, and a point read that
        scans them all is O(batches).

        Reconcile is one stage: the newest version of one key is a
        top-1 by ``_lsn`` (TakeOrderedAndProject — no exchange),
        dropped if it is a tombstone. With no delta file left after
        pruning, the base holds at most one row per key and a plain
        filter suffices."""
        if snapshot_id is None:
            meta = self.meta()
            cols = self.columns()
        else:
            meta = self.snapshot_meta(snapshot_id)
            cols = [ColumnSpec(**c) for c in meta["columns"]]
        pf = self._point_files(meta, str(self._bucket_of(repo, path)), repo, path)
        is_key = (F.col("repo") == repo) & (F.col("path") == path)
        if not pf["deltas_pruned"]:
            df = self._read_files(pf["base_pruned"], cols).filter(is_key)
        else:
            df = (
                self._read_files(pf["base_pruned"] + pf["deltas_pruned"], cols,
                                 include_op=True)
                .filter(is_key)
                .orderBy(F.col("_lsn").desc())
                .limit(1)
                .filter(F.col("_op") != "D")
                .drop("_op")
            )
        if not include_system:
            df = df.drop(*[n for n, _ in SYSTEM_COLUMNS])
        return df

    def point_files(self, repo: str, path: str) -> dict:
        """Pruning decision for a point key (observability + test
        surface): which of the key's bucket's files survive the
        stats-based skip."""
        meta = self.meta()
        return self._point_files(meta, str(self._bucket_of(repo, path)), repo, path)

    def _point_files(self, meta: dict, b: str, repo: str, path: str) -> dict:
        stats = meta.get("file_stats", {})
        base = meta["files"].get(b, [])
        delt = meta.get("deltas", {}).get(b, [])
        kb = (repo, repo, path, path)
        return {
            "bucket": b,
            "base": base,
            "deltas": delt,
            "base_pruned": self._prune_files(base, stats, kb),
            "deltas_pruned": self._prune_files(delt, stats, kb),
        }

    def snapshot_meta(self, snapshot_id: str) -> dict:
        """Metadata of a committed snapshot (raises if GC-expired)."""
        with open(self._snap_path(snapshot_id)) as f:
            return json.load(f)

    def changes(self, from_snapshot: str,
                to_snapshot: str | None = None) -> DataFrame:
        """Incremental changelog read between two committed snapshots —
        the Iceberg changelog-scan / Delta CDF surface a downstream
        consumer uses to tail THIS table instead of re-reading it.

        One row per key whose reconciled state differs between
        ``from_snapshot`` (exclusive) and ``to_snapshot`` (inclusive,
        default: current head), with ``_change_type`` ∈
        {'insert', 'update', 'delete'}. Insert/update rows carry the
        post-image (state at ``to_snapshot``, its schema); delete rows
        carry the pre-image values for columns that existed at
        ``from_snapshot`` (the tombstone itself is not retained in
        reconciled state, exactly as in Iceberg CoW).

        Scale shape: a bucket whose base-file AND delta-file lists are
        byte-identical between the two manifests cannot differ — it is
        pruned before any IO, so the diff cost is O(changed buckets),
        not O(table). Within changed buckets, classification is a
        key-shuffled full-outer join; survivors keep their ``_lsn``
        across rewrites, so ``_lsn`` equality is an exact unchanged
        test (no payload comparison ever happens).
        """
        old_meta = self.snapshot_meta(from_snapshot)
        new_meta = (self.snapshot_meta(to_snapshot) if to_snapshot
                    else self.meta())
        old_cols = [ColumnSpec(**c) for c in old_meta["columns"]]
        new_cols = [ColumnSpec(**c) for c in new_meta["columns"]]
        o_files, n_files = old_meta["files"], new_meta["files"]
        o_delt = old_meta.get("deltas", {})
        n_delt = new_meta.get("deltas", {})
        dirty = sorted(
            (b for b in set(o_files) | set(n_files) | set(o_delt) | set(n_delt)
             if o_files.get(b, []) != n_files.get(b, [])
             or o_delt.get(b, []) != n_delt.get(b, [])),
            key=int,
        )
        old = self._bucket_state(dirty, old_cols, meta=old_meta)
        new = self._bucket_state(dirty, new_cols, meta=new_meta)
        old_names = {c.name for c in old_cols}
        o = old.select(
            *KEY,
            *[F.col(c.name).alias(f"__o_{c.name}")
              for c in old_cols if c.name not in KEY],
            *[F.col(n).alias(f"__o_{n}") for n, _ in SYSTEM_COLUMNS],
        )
        n = new.select(
            *KEY,
            *[F.col(c.name).alias(f"__n_{c.name}")
              for c in new_cols if c.name not in KEY],
            *[F.col(n_).alias(f"__n_{n_}") for n_, _ in SYSTEM_COLUMNS],
        )
        j = n.join(o, on=list(KEY), how="full_outer")
        ctype = (
            F.when(F.col("__o__lsn").isNull(), F.lit("insert"))
            .when(F.col("__n__lsn").isNull(), F.lit("delete"))
            .when(F.col("__n__lsn") != F.col("__o__lsn"), F.lit("update"))
        )
        deleted = F.col("_change_type") == "delete"
        sel = [*[F.col(k) for k in KEY], ctype.alias("_change_type")]
        out = j.select(*sel, *[c for c in j.columns if c.startswith("__")])
        out = out.filter(F.col("_change_type").isNotNull())
        value_sel = [*[F.col(k) for k in KEY], F.col("_change_type")]
        for c in new_cols:
            if c.name in KEY:
                continue
            post = F.col(f"__n_{c.name}")
            pre = (F.col(f"__o_{c.name}") if c.name in old_names
                   else F.lit(None).cast(c.type))
            value_sel.append(F.when(deleted, pre).otherwise(post).alias(c.name))
        for s_name, _t in SYSTEM_COLUMNS:
            post = F.col(f"__n_{s_name}")
            pre = F.col(f"__o_{s_name}")
            value_sel.append(F.when(deleted, pre).otherwise(post).alias(s_name))
        return out.select(*value_sel)

    # ------------------------------------------------------------------ DDL
    def alter(self, action: str, column: str, col_type: str = "string",
              batch_id: str | None = None, at_lsn: int | None = None) -> str:
        """Iceberg `ALTER TABLE ADD/DROP COLUMN` equivalent (X4).

        Metadata-only: no data files are touched. New columns get a
        fresh field id; existing rows read as null until rewritten.
        """
        meta = dict(self.meta())
        cols = self.columns()
        if action == "add_column":
            if any(c.name == column for c in cols):
                raise ValueError(f"column exists: {column}")
            cols.append(ColumnSpec(column, col_type, meta["next_fid"]))
            meta["next_fid"] += 1
        elif action == "drop_column":
            if all(c.name != column for c in cols):
                raise ValueError(f"no such column: {column}")
            cols = [c for c in cols if c.name != column]
        else:
            raise ValueError(f"unknown DDL action: {action}")
        snap = self._child(
            meta, batch_id,
            schema_version=meta["schema_version"] + 1,
            columns=[asdict(c) for c in cols],
            lineage=[],
            watermark=max(meta["watermark"], at_lsn or 0),
        )
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        return snap["snapshot_id"]

    def checkpoint_watermark(self, batch_id: str, hi: int) -> str:
        """Metadata-only snapshot advancing the watermark (empty batch)."""
        meta = dict(self.meta())
        snap = self._child(
            meta, batch_id,
            lineage=[],
            watermark=max(int(meta["watermark"]), int(hi)),
        )
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        return snap["snapshot_id"]

    # ---------------------------------------------------------------- write
    def _write_buckets(self, df: DataFrame, snapshot_id: str,
                       num_write_partitions: int | None = None) -> dict[str, list[str]]:
        """Write df (with __bucket col) partitioned by bucket; return files map.

        Committed-file discovery is scheme-aware: a plain posix root
        uses ``os.listdir`` (no extra Spark job on the hot path); any
        URI-schemed root (s3a://, hdfs://, ...) goes through
        :meth:`_committed_files_spark`, which derives the list from the
        write job's committed output via Spark's FileIndex +
        ``input_file_name`` — never a driver-side posix listing (which
        would not even parse such a root). Both return the identical
        {bucket: sorted files} map (equivalence is pytest-asserted).
        """
        out_dir = os.path.join(self.root, "data", snapshot_id)
        has_sub = "__subtask" in df.columns
        shuffle_n = num_write_partitions or self.write_partitions(has_sub)
        parts = ["__bucket"] + (["__subtask"] if has_sub else [])
        out = df.repartition(shuffle_n, *parts)
        if has_sub:
            out = out.drop("__subtask")  # projection — partitioning kept
        (
            out.write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        if "://" in self.root:
            return self._committed_files_spark(out_dir)
        return self._committed_files_listing(out_dir)

    @staticmethod
    def _committed_files_listing(out_dir: str) -> dict[str, list[str]]:
        """Posix-root discovery: direct directory listing (safe here —
        Spark's committer has already moved committed files into place
        and removed its _temporary dir by the time write() returns)."""
        files: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith("__bucket="):
                continue
            b = entry.split("=", 1)[1]
            d = os.path.join(out_dir, entry)
            files[b] = sorted(
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            )
        return files

    def _committed_files_spark(self, out_dir: str) -> dict[str, list[str]]:
        """Store-agnostic discovery: one zero-data-column Spark job over
        the committed output. ``input_file_name`` per row group comes
        from Spark's FileIndex (Hadoop FS view — the same view reads
        will use), which filters uncommitted/_temporary artifacts; no
        data columns are decoded, so the job reads footers only. The
        bucket id is parsed from the partition path segment, keeping
        the returned map byte-identical in shape to the posix listing
        (paths are stored in Spark's canonical form for the scheme)."""
        from urllib.parse import unquote, urlparse

        rows = (
            self.spark.read.parquet(out_dir)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        files: dict[str, list[str]] = {}
        for uri in sorted(r["f"] for r in rows):
            seg = next(
                s for s in uri.split("/") if s.startswith("__bucket=")
            )
            b = unquote(seg.split("=", 1)[1])
            parsed = urlparse(uri)
            # local-scheme URIs normalize to plain paths so the two
            # discovery strategies (and stored snapshot metadata)
            # compare equal; remote schemes keep the full URI, which
            # spark.read.parquet(*files) consumes as-is.
            path = unquote(parsed.path) if parsed.scheme == "file" else uri
            files.setdefault(b, []).append(path)
        return files

    # ------------------------------------------------- key-level file skipping
    # Iceberg manifests carry per-data-file column bounds so a point /
    # keyed read prunes files WITHIN a partition; same idea here: each
    # committed file's (repo, path) min/max goes into the snapshot's
    # ``file_stats`` map and keyed readers drop provably-disjoint
    # files before any IO (VERDICT r4 #4 — at 100× scale a bucket
    # holds many files and without this every one is scanned).

    def _collect_file_stats(self, files_map: dict[str, list[str]]) -> dict[str, list[str]]:
        """Per-file [repo_min, repo_max, path_min, path_max] from the
        parquet FOOTERS of just-committed files (no data pages read —
        the same column-chunk statistics Iceberg's writer lifts into
        manifests). A file is skipped (→ never pruned, always
        conservative) when any key column lacks min/max stats or a
        bound reaches the 64-char band where parquet writers may
        truncate (a truncated max can under-state the range).

        Driver-side footer reads are bounded by the batch's file
        count (dirty_buckets × fan-out) — fine on a posix root. A
        URI-schemed root returns {} here: at cluster scale these
        bounds come from the distributed write job itself (the
        _committed_files_spark shape) or the writer's own stats, not
        a driver loop over remote footers."""
        if "://" in self.root:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, list[str]] = {}
        for fl in files_map.values():
            for f in fl:
                try:
                    md = pq.ParquetFile(f).metadata
                except Exception:
                    continue
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                bounds: list[str] = []
                for colname in KEY:
                    i = idx.get(colname)
                    if i is None:
                        bounds = []
                        break
                    lo = hi = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(i).statistics
                        if st is None or not st.has_min_max:
                            lo = None
                            break
                        mn, mx = st.min, st.max
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                    if lo is None or len(lo) >= 64 or len(hi) >= 64:
                        bounds = []
                        break
                    bounds.extend([lo, hi])
                if bounds:
                    out[f] = bounds
        return out

    @staticmethod
    def _rebuild_file_stats(old_stats: dict, new_stats: dict,
                            files: dict, deltas: dict | None) -> dict:
        """file_stats for a child snapshot: union of parent + new
        stats, restricted to files the child actually references."""
        live = {f for fl in files.values() for f in fl}
        for fl in (deltas or {}).values():
            live.update(fl)
        merged = {**old_stats, **new_stats}
        return {f: merged[f] for f in sorted(live) if f in merged}

    @staticmethod
    def _prune_files(file_list: list[str], stats: dict,
                     key_bounds: tuple[str, str, str, str]) -> list[str]:
        """Drop files whose (repo, path) ranges are provably disjoint
        from ``key_bounds`` = (repo_lo, repo_hi, path_lo, path_hi).
        Per-column interval tests only — sound (a file containing any
        in-bounds key always survives), possibly over-inclusive.
        Files without recorded stats are always kept."""
        rlo, rhi, plo, phi = key_bounds
        keep = []
        for f in file_list:
            s = stats.get(f)
            if s is not None:
                rmin, rmax, pmin, pmax = s
                if rmax < rlo or rmin > rhi or pmax < plo or pmin > phi:
                    continue
            keep.append(f)
        return keep

    def _stored_select(self, df: DataFrame, columns: list[ColumnSpec],
                       include_op: bool = False) -> DataFrame:
        # Guard the one silent-corruption hazard of binary system
        # columns: cast(string → binary) is legal Spark and yields the
        # UTF-8 bytes of the hex text, not the digest. Refuse it.
        sha_field = next(
            (f for f in df.schema.fields if f.name == "_content_sha"), None
        )
        if sha_field is not None and sha_field.dataType.simpleString() == "string":
            raise TypeError(
                "_content_sha must be the 32-byte binary digest "
                "(transforms.content_sha_bin / sha256_bin_pandas), got "
                "string — casting hex to binary would store its utf8 "
                "bytes silently."
            )
        sel = [F.col(c.name).cast(c.type).alias(c.stored_name) for c in columns]
        sel += [F.col(n).cast(t).alias(n) for n, t in SYSTEM_COLUMNS]
        if include_op:
            sel.append(F.col("_op").cast("string").alias("_op"))
        sel.append(F.col("__bucket"))
        if "__subtask" in df.columns:
            sel.append(F.col("__subtask"))
        return df.select(*sel)

    def seed(self, df: DataFrame, batch_id: str = "seed") -> str:
        """Initial full load (all buckets written once). Row count is
        observed DURING the write action (the _merge_mor Observation
        shape) — a full initial load is the one batch that touches
        every byte, so a read-back counting pass would double it."""
        from pyspark.sql import Observation

        meta = self.meta()
        cols = self.columns()
        snap = self._child(meta, batch_id, lineage=[])
        sid = snap["snapshot_id"]
        data = self.with_subtask(df.withColumn("__bucket", self.bucket_expr()))
        obs = Observation()
        stored = self._stored_select(data, cols).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        files = self._write_buckets(stored, sid)
        row_count = int(obs.get["rows"]) if files else 0
        snap["files"] = files
        snap["row_count"] = row_count
        snap["file_stats"] = self._collect_file_stats(files)
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        return sid

    def merge(
        self,
        changes: DataFrame,
        batch_id: str,
        watermark_hi: int,
        lineage: list[dict] | None = None,
        crash_after_commit: bool = False,
        keys: DataFrame | None = None,
        change_rows: int | None = None,
        mode: str = "cow",
        update_mode: str = "full",
    ) -> str:
        """MERGE INTO equivalent: last-writer-wins upsert + delete (X3).

        ``changes`` must be per-key deduped (X2 guarantees ≤1 row per
        (repo, path)) with columns: logical schema columns + ``op`` +
        ``_content_sha`` + ``_lsn``. Semantics match Iceberg MERGE:
        matched ∧ op∈{I,U} → UPDATE; not-matched ∧ op∈{I,U} → INSERT;
        matched ∧ op=D → DELETE; not-matched ∧ D → no-op.

        Physical plan: dirty buckets = distinct bucket ids of changes
        (collect of ≤ n_buckets ints); only those buckets' files are
        read; untouched rows survive via an anti-join on the broadcast
        changed-key set; clean buckets carry
        forward by file reference — zero IO.

        ``crash_after_commit`` is a test hook (T3b): raises right
        after the atomic pointer swap to simulate dying before any
        post-commit bookkeeping; recovery must converge.

        ``update_mode='partial'`` (X10, CoW only): change rows carry
        NULL for columns the event did not touch; on matched keys each
        column keeps its stored value unless the change provides one
        (``coalesce(change, old)``), except rows flagged ``__reset``
        (a mid-batch delete preceded them — see dedup.fold_partial),
        which never inherit stored values. Contract: ``changes`` is
        per-key folded (fold_partial) and ``_content_sha`` is NULL
        exactly when ``content`` is NULL, so the sha always pairs with
        whichever content value survives.

        ``keys`` (optional): the deduped change-key set as a *small*
        DataFrame with columns KEY. When given, dirty-bucket planning,
        the anti-join, and the change count all run against it — the
        full ``changes`` frame (which carries payload content) is then
        evaluated exactly ONCE, in the bucket write. When absent, the
        planning frames are derived as NARROW projections of
        ``changes`` (key + bucket columns only — Catalyst prunes the
        payload out of those re-scans); the payload is still never
        persisted and still materializes exactly once, in the write.
        Full-frame persist() here was measured 5-10× slower on multi-GB
        batches (defeats column pruning, thrashes GC) — see the module
        lesson; the narrow re-scan is the 100 TB shape.
        """
        if update_mode not in ("full", "partial"):
            raise ValueError(f"unknown update_mode: {update_mode}")
        if update_mode == "partial" and mode == "mor":
            # MoR read-side reconcile is a max-LSN row pick; folding
            # column-level partials at read time would push the fold
            # into every reader. Partial updates take the CoW path.
            raise ValueError("update_mode='partial' requires mode='cow'")
        if mode == "mor":
            return self._merge_mor(
                changes, batch_id, watermark_hi, lineage=lineage,
                crash_after_commit=crash_after_commit, change_rows=change_rows,
            )
        meta = self.meta()
        cols = self.columns()

        if "__bucket" not in changes.columns:
            changes = changes.withColumn("__bucket", self.bucket_expr())
        if keys is None:
            key_set = changes.select(*KEY)  # narrow: payload pruned
            bucket_src = changes.select("__bucket")
        else:
            key_set = keys.select(*KEY)
            bucket_src = key_set.select(self.bucket_expr().alias("__bucket"))
        dirty = sorted(
            r[0] for r in bucket_src.distinct().collect()
        )
        dirty_s = [str(b) for b in dirty]
        old = self._bucket_state(dirty_s, cols).withColumn(
            "__bucket", self.bucket_expr()
        )

        key_set = F.broadcast(key_set)
        survivors = old.join(key_set, on=KEY, how="left_anti")
        if update_mode == "partial":
            # Matched rows need the stored values to coalesce into.
            # old is pruned to the batch's keys FIRST (the same
            # broadcast key set the anti-join uses, so the big stored
            # side never shuffles); the then-tiny hit set joins the
            # folded changes. Two pruned scans of the dirty buckets
            # beat one scan + a full shuffle of their state.
            # The hit-side scan additionally skips FILES via the
            # snapshot's per-file key bounds (one tiny agg over the
            # key set — VERDICT r4 #4): only files whose (repo, path)
            # ranges intersect the batch's key box are opened; the
            # semi-join below restricts to in-bounds keys, which is
            # exactly _bucket_state's key_bounds contract. survivors
            # stays unpruned — the anti-join must see EVERY stored row
            # to carry it forward.
            kb = key_set.agg(
                F.min("repo"), F.max("repo"), F.min("path"), F.max("path")
            ).collect()[0]
            old_for_hits = (
                self._bucket_state(
                    dirty_s, cols,
                    key_bounds=(kb[0], kb[1], kb[2], kb[3]),
                ).withColumn("__bucket", self.bucket_expr())
                if kb[0] is not None else old
            )
            reset = (F.col("__reset") if "__reset" in changes.columns
                     else F.lit(False))
            ch = changes.filter(F.col("op") != "D")
            old_hit = old_for_hits.join(key_set, on=KEY, how="left_semi").select(
                *KEY,
                *[F.col(c.name).alias(f"__old_{c.name}")
                  for c in cols if c.name not in KEY],
                *[F.col(n).alias(f"__old_{n}") for n, _ in SYSTEM_COLUMNS],
            )
            j = ch.join(old_hit, on=KEY, how="left")
            sel = [F.col(k) for k in KEY]
            for c in cols:
                if c.name in KEY:
                    continue
                merged = F.when(reset, F.col(c.name)).otherwise(
                    F.coalesce(F.col(c.name), F.col(f"__old_{c.name}"))
                )
                sel.append(merged.alias(c.name))
            for n, _t in SYSTEM_COLUMNS:
                if n == "_lsn":
                    sel.append(F.col("_lsn"))  # always the fold's LSN
                    continue
                merged = F.when(reset, F.col(n)).otherwise(
                    F.coalesce(F.col(n), F.col(f"__old_{n}"))
                )
                sel.append(merged.alias(n))
            upserts = j.select(*sel, F.col("__bucket"))
        else:
            upserts = changes.filter(F.col("op") != "D").select(
                *[F.col(c.name) for c in cols],
                *[F.col(n) for n, _ in SYSTEM_COLUMNS],
                F.col("__bucket"),
            )
        unioned = survivors.select(
            *[F.col(c.name) for c in cols],
            *[F.col(n) for n, _ in SYSTEM_COLUMNS],
            F.col("__bucket"),
        ).unionByName(upserts)

        if change_rows is None:
            # narrow count (key columns only) — never a payload pass
            change_rows = (keys if keys is not None else key_set).count()
        snap = self._child(
            meta, batch_id,
            lineage=[],  # resolved after the write (may be a Future)
            watermark=max(int(meta["watermark"]), int(watermark_hi)),
            row_count=None,  # exact count maintained lazily; see read().count()
            merge_stats={
                "dirty_buckets": len(dirty),
                "total_buckets": self.n_buckets,
                "change_rows": int(change_rows),
                "mode": "cow",
            },
        )
        sid = snap["snapshot_id"]
        new_files = self._write_buckets(
            self._stored_select(self.with_subtask(unioned), cols), sid,
            num_write_partitions=max(
                1, min(len(dirty) * SUBTASK_SPREAD, self.write_partitions(True))
            ),
        )
        files = {b: fl for b, fl in meta["files"].items() if b not in dirty_s}
        for b in dirty_s:
            files[b] = new_files.get(b, [])  # bucket may be emptied by deletes
        snap["files"] = files
        snap["deltas"] = {
            b: fl for b, fl in meta.get("deltas", {}).items() if b not in dirty_s
        }  # dirty buckets' deltas are folded into the rewrite
        snap["file_stats"] = self._rebuild_file_stats(
            meta.get("file_stats", {}), self._collect_file_stats(new_files),
            files, snap["deltas"],
        )
        snap["lineage"] = _resolve_lineage(lineage)
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        if crash_after_commit:
            raise RuntimeError("injected crash after commit point (T3b)")
        return sid

    def _merge_mor(
        self,
        changes: DataFrame,
        batch_id: str,
        watermark_hi: int,
        lineage: list[dict] | None = None,
        crash_after_commit: bool = False,
        change_rows: int | None = None,
    ) -> str:
        """Merge-on-read apply: append the batch's deduped change rows
        (D rows become ``_op='D'`` tombstones) as per-bucket delta
        files. No existing file is read — batch cost is O(batch).
        Readers reconcile via :meth:`_bucket_state`; :meth:`compact`
        folds deltas into the base."""
        meta = self.meta()
        cols = self.columns()
        snap = self._child(
            meta, batch_id,
            lineage=[],  # resolved after the write (may be a Future)
            watermark=max(int(meta["watermark"]), int(watermark_hi)),
            row_count=None,
        )
        sid = snap["snapshot_id"]

        # a caller may pre-bucket/pre-subtask (engine's bucket-window
        # dedup); re-adding would mint fresh attributes and defeat the
        # exchange reuse that makes that path one-shuffle. Any other
        # frame is a small batch: bucket only, no subtask, so the write
        # lands ONE delta file per dirty bucket — every later read
        # opens each delta file, so files, not rows, set read cost.
        data = (
            changes if "__bucket" in changes.columns
            else changes.withColumn("__bucket", self.bucket_expr())
        )
        stored = self._stored_select(
            data.withColumn("_op", F.col("op")), cols, include_op=True
        )
        # count the written rows DURING the write action (Observation:
        # an accumulator evaluated inline) — no second pass, not even a
        # parquet-footer read job.
        from pyspark.sql import Observation

        obs = Observation() if change_rows is None else None
        if obs is not None:
            stored = stored.observe(obs, F.count(F.lit(1)).alias("rows"))
        new_files = self._write_buckets(stored, sid)
        deltas = {b: list(fl) for b, fl in meta.get("deltas", {}).items()}
        for b, fl in new_files.items():
            deltas.setdefault(b, []).extend(fl)

        if change_rows is None:
            change_rows = int(obs.get["rows"]) if new_files else 0
        snap["lineage"] = _resolve_lineage(lineage)
        snap["deltas"] = deltas
        snap["file_stats"] = self._rebuild_file_stats(
            meta.get("file_stats", {}), self._collect_file_stats(new_files),
            meta["files"], deltas,
        )
        snap["merge_stats"] = {
            "dirty_buckets": len(new_files),
            "total_buckets": self.n_buckets,
            "change_rows": int(change_rows),
            "mode": "mor",
        }
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        if crash_after_commit:
            raise RuntimeError("injected crash after commit point (T3b)")
        return sid

    def delta_depth(self) -> dict[str, int]:
        """Outstanding delta BATCHES per bucket (compaction signal) —
        distinct writing snapshots, not raw file count: a fanned-out
        write lands several files per bucket in one batch, and read
        amplification scales with reconcile layers, not file handles."""
        out: dict[str, int] = {}
        for b, fl in self.meta().get("deltas", {}).items():
            if fl:
                out[b] = len({f.rsplit("/data/", 1)[1].split("/")[0] for f in fl})
        return out

    def compact(self, buckets: list[str] | None = None,
                batch_id: str | None = None) -> str | None:
        """Fold outstanding deltas into the base for the given buckets
        (default: every bucket with deltas). Equivalent to Iceberg's
        rewrite_data_files maintenance action; safe to run any time —
        pure state rewrite, watermark and lineage untouched."""
        meta = self.meta()
        cols = self.columns()
        all_delta = [b for b, fl in meta.get("deltas", {}).items() if fl]
        target = [b for b in (buckets if buckets is not None else all_delta)
                  if meta.get("deltas", {}).get(b)]
        if not target:
            return None
        snap = self._child(
            meta, None,
            lineage=[],
            merge_stats={
                "compacted_buckets": len(target),
                "total_buckets": self.n_buckets,
                "mode": "compact",
            },
        )
        sid = snap["snapshot_id"]
        snap["batch_id"] = batch_id or f"compact-{sid}"
        state = self.with_subtask(
            self._bucket_state(target, cols).withColumn(
                "__bucket", self.bucket_expr()
            )
        )
        new_files = self._write_buckets(
            self._stored_select(state, cols), sid,
            num_write_partitions=max(
                1, min(len(target) * SUBTASK_SPREAD, self.write_partitions(True))
            ),
        )
        files = dict(meta["files"])
        deltas = {b: fl for b, fl in meta.get("deltas", {}).items() if b not in target}
        for b in target:
            files[b] = new_files.get(b, [])
        snap["files"] = files
        snap["deltas"] = deltas
        snap["file_stats"] = self._rebuild_file_stats(
            meta.get("file_stats", {}), self._collect_file_stats(new_files),
            files, deltas,
        )
        self._write_snapshot(snap, expected_parent=meta["snapshot_id"])
        return sid

    def expire_snapshots(self, keep_last: int = 100,
                         min_age_s: float = 3600.0) -> dict:
        """Metadata + data GC — Iceberg's ``expire_snapshots``.

        Deletes snapshot JSON files beyond the newest ``keep_last`` of
        the chain, and any data file referenced by NO kept snapshot
        (kept snapshots stay time-travelable; the chain walk stops at
        the expire horizon). Bounds metadata growth: without this a
        long-running stream accumulates one JSON per batch forever.
        The head snapshot and everything it references are never
        touched, and a crash mid-GC only leaves orphans for the next
        pass. ``min_age_s`` guards in-flight writes: a CONCURRENT
        writer's files exist before its pointer swap and would look
        unreferenced, so only files older than the age threshold are
        eligible (Iceberg's orphan-file age rule; pass 0 only when no
        writer can be active).
        """
        now = time.time()
        chain = self.snapshot_chain()
        keep, drop = chain[:keep_last], chain[keep_last:]
        # Liveness is decided on REALPATHS: stored references carry
        # whatever root spelling the writing session used (relative
        # cwd, symlink, ...); a table opened for GC under a different
        # spelling of the same directory must not see every live file
        # as unreferenced and delete it.
        referenced: set[str] = set()
        for s in keep:
            for fl in s.get("files", {}).values():
                referenced.update(os.path.realpath(f) for f in fl)
            for fl in s.get("deltas", {}).values():
                referenced.update(os.path.realpath(f) for f in fl)
        removed_meta = removed_data = 0
        for s in drop:
            try:
                os.remove(self._snap_path(s["snapshot_id"]))
                removed_meta += 1
            except FileNotFoundError:
                pass
        data_root = os.path.join(self.root, "data")
        for snap_dir in os.listdir(data_root):
            d = os.path.join(data_root, snap_dir)
            for bucket_dir in os.listdir(d):
                bd = os.path.join(d, bucket_dir)
                if not os.path.isdir(bd):
                    continue
                for fname in os.listdir(bd):
                    p = os.path.realpath(os.path.join(bd, fname))
                    if (fname.endswith(".parquet") and p not in referenced
                            and now - os.path.getmtime(p) >= min_age_s):
                        os.remove(p)
                        removed_data += 1
                if not os.listdir(bd):
                    os.rmdir(bd)
            if not any(e.startswith("__bucket=") for e in os.listdir(d)):
                # only marker/_SUCCESS files left → whole snapshot dir is dead
                for e in os.listdir(d):
                    os.remove(os.path.join(d, e))
                os.rmdir(d)
        return {"kept_snapshots": len(keep), "expired_snapshots": removed_meta,
                "removed_data_files": removed_data}
