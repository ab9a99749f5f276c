"""LakeTable — Iceberg-equivalent table layer on parquet (X3/X4).

Sandbox has no iceberg-spark-runtime jars (SURVEY.md §0.2), so this
module implements the Iceberg semantics the north_rule needs —
snapshot isolation, compare-and-swap commits, MERGE upsert, ALTER
TABLE schema evolution with field-ids — behind the same interface
``iceberg_backend.py`` exposes for real clusters. Design mirrors
public Iceberg concepts (spec at iceberg.apache.org/spec/):

- A table = immutable parquet data files + a chain of snapshot JSON
  metadata, one file per commit. Snapshot ids are sequence numbers
  (the child of ``s<n>`` is ``s<n+1>``) and the head is the highest
  one present. The *commit point* is ``os.link`` of the fsynced
  snapshot JSON to ``snapshots/s<n+1>.json``, which fails atomically
  if that name is taken: a compare-and-swap on the parent, like
  Delta's put-if-absent log or Iceberg's rename-if-absent metadata
  swap. Racing writers (threads or processes) derive the same id;
  exactly one wins and every loser gets ``CommitConflict``.
- Durability: the snapshot file is fsynced, its directory is not. A
  host crash can lose the newest commit's name, but never leaves a
  torn head (a snapshot is complete before it has a name), and replay
  from the watermark redoes the batch. Spark's parquet data files are
  not fsynced.
- Data is hash-bucketed by ``pmod(hash(repo, path), n_buckets)``
  (Spark's Murmur3 ``F.hash`` — deterministic across sessions, so
  bucket routing is stable between snapshots). Writers evaluate it in
  Spark; a point read evaluates the same hash in Python
  (``spark_hash``), checked against ``F.hash`` once per process, so a
  lookup never needs a Spark job to find its bucket. A MERGE writes ONLY
  the buckets containing changed keys and carries every clean
  bucket's files forward by reference — at 100 TB a batch touching
  0.1% of keys reads+writes ~0.1-1% of the table, never all of it.
- Schema evolution uses Iceberg-style **field ids**: a column's
  physical parquet name is ``{name}__fid{id}`` (base columns keep
  plain names, fids 1-5). ``drop`` then re-``add`` of the same name
  allocates a new fid, so old files' physical columns can never
  resurrect dropped data (SURVEY.md §7.4 #2).

Scale notes (10^10 rows / 1000 executors):
- Snapshot metadata holds one entry per bucket (choose ``n_buckets``
  so a bucket ≈ 0.5-1 GB; metadata stays KB-MB). Real Iceberg splits
  this into manifest files/lists — same information, two levels.
- One merge write path, Iceberg v2 merge-on-read. Every merge appends
  the batch's deduped change rows (incl. ``_op='D'`` tombstones) as
  per-bucket *delta files* and commits ONE snapshot, so batch cost is
  O(batch), not O(touched buckets' size); readers reconcile base ∪
  deltas by max ``_lsn`` per key and drop tombstones — Iceberg v2
  equality-delete semantics with the delete expressed as a newer row
  version. ``compact()`` folds deltas back into the base (Iceberg's
  ``rewrite_data_files``); a caller that wants the copy-on-write
  result calls it after the merge, as a second commit.

  Every bucket write (merge, ``seed``, ``compact()``) has one layout:
  ``route`` shuffles the rows by the key hash into ``n_buckets``
  partitions, which is exactly the bucket id, so write task i holds
  bucket i and lands ONE file in it (Iceberg's ``bucket(N)`` transform
  as the write distribution). ``n_buckets`` sets the write task count,
  and a reader pays per layer, not per write task.
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
import re
import shutil
import struct
import time
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, Window
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


def _physical_columns(columns: list[ColumnSpec],
                      include_op: bool = False) -> list[tuple[str, str]]:
    """(stored name, type) of every column a data file may hold."""
    physical = [(c.stored_name, c.type) for c in columns] + SYSTEM_COLUMNS
    if include_op:
        physical.append(("_op", "string"))
    return physical


def _ddl(physical: list[tuple[str, str]]) -> str:
    return ", ".join("`{}` {}".format(n.replace("`", "``"), t) for n, t in physical)


# Spark's ``hash()`` is Murmur3_x86_32 (seed 42) chained across its
# arguments: each non-null argument is hashed with the previous result
# as its seed. Strings go through ``hashUnsafeBytes`` — whole 4-byte
# little-endian words, then each tail byte as a SIGNED int (not the
# canonical Murmur3 tail), then the length finalizer.
_M32 = 0xFFFFFFFF
_HASH_SEED = 42


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    k1 = _rotl32((k1 * 0xCC9E2D51) & _M32, 15)
    h1 = _rotl32(h1 ^ ((k1 * 0x1B873593) & _M32), 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def spark_hash(*values: str) -> int:
    """``F.hash(*values)`` for non-null strings, evaluated in Python
    (signed 32-bit, like Spark's)."""
    h1 = _HASH_SEED
    for v in values:
        data = v.encode("utf-8")
        aligned = len(data) - len(data) % 4
        for (word,) in struct.iter_unpack("<I", data[:aligned]):
            h1 = _mix_h1(h1, word)
        for b in data[aligned:]:
            h1 = _mix_h1(h1, (b - 256 if b > 127 else b) & _M32)
        h1 ^= len(data)
        h1 ^= h1 >> 16
        h1 = (h1 * 0x85EBCA6B) & _M32
        h1 ^= h1 >> 13
        h1 = (h1 * 0xC2B2AE35) & _M32
        h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


# Keys covering the port's edge cases: empty strings, every length mod
# 4, multi-byte UTF-8 tails (negative signed bytes) and 4-byte emoji.
_HASH_CHECK_KEYS = [
    ("", ""), ("a", "bc"), ("repo", "src/main.py"),
    ("ünï", "çødé/ñ"), ("😀", "x/😀y"), ("org/name-1", "dir/a.txt2"),
]
_hash_port_checked = False


def _check_hash_port(spark: SparkSession) -> None:
    """Once per process: compare ``spark_hash`` with ``F.hash`` on
    ``_HASH_CHECK_KEYS`` in one 1-row job; raise on any mismatch."""
    global _hash_port_checked
    if _hash_port_checked:
        return
    row = spark.range(1).select(
        *[F.hash(F.lit(r), F.lit(p)) for r, p in _HASH_CHECK_KEYS]
    ).collect()[0]
    bad = [(k, spark_hash(*k), want)
           for k, want in zip(_HASH_CHECK_KEYS, row) if spark_hash(*k) != want]
    if bad:
        raise RuntimeError(
            f"spark_hash disagrees with Spark's hash() on {bad} "
            "(key, port, Spark): point reads would pick the wrong bucket"
        )
    _hash_port_checked = True


def _newest_live(df: DataFrame) -> DataFrame:
    """Reconcile a base ∪ delta read (with ``_op``): each key's max-``_lsn``
    row wins, and a winning tombstone drops the key."""
    w = Window.partitionBy(*KEY).orderBy(F.col("_lsn").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_op") != "D"))
        .drop("__rn", "_op")
    )


class CommitConflict(RuntimeError):
    """Another writer committed first: the planned snapshot's sequence
    number was taken between plan and commit (the commit's ``os.link``
    found the name present). Re-plan from the new head."""


# Recent-batch-id window carried in every snapshot (defense-in-depth
# idempotence membership). The PRIMARY guard is the monotone watermark
# (apply advances it to lsn_hi, so any applied batch fails the
# lsn_hi > watermark test); the id set only exists to also absorb
# pathological redeliveries, so a bounded recent window is sufficient
# and keeps snapshot JSON O(1) regardless of run length.
APPLIED_BATCH_CAP = 4096

# A committed snapshot's file name; commit temp files never match it.
_SNAP_NAME = re.compile(r"s(\d+)\.json")


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        # the commit is an os.link, and file discovery, footer stats,
        # point reads and GC go through the local filesystem: a URI root
        # (Hadoop also writes file:/x with one slash) would split
        # metadata (cwd-relative) from data (Spark's URI)
        if "://" in root or re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", root):
            raise ValueError(
                f"LakeTable needs a local filesystem root, got {root!r}; "
                "use dx.iceberg_backend.IcebergTable for object stores"
            )
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self._meta_cache: dict | None = None
        # sequence number of the newest snapshot this handle has seen
        self._head: int | None = None
        # instrumentation: snapshot-JSON file opens (tests assert the
        # per-batch metadata cost stays O(1) as the chain grows)
        self.meta_file_reads = 0

    # ------------------------------------------------------------------ paths
    def _snap_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "snapshots", f"{snapshot_id}.json")

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(cls, spark: SparkSession, root: str, n_buckets: int = 32) -> "LakeTable":
        t = cls(spark, root, n_buckets)
        try:
            os.makedirs(os.path.join(root, "snapshots"))
        except FileExistsError:
            raise CommitConflict(f"a table already exists at {root}") from None
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
        t._commit(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        meta = t.meta()
        t.n_buckets = meta["n_buckets"]
        return t

    # ------------------------------------------------------------- metadata
    def _head_seq(self) -> int:
        """Sequence number of the head snapshot. A handle's first call
        lists ``snapshots/`` once (and again if GC expired the last head
        it saw); later calls probe ``s<n+1>.json`` forward from that
        head, O(1) per commit in between."""
        if self._head is None or not os.path.exists(self._snap_path(f"s{self._head}")):
            snap_dir = os.path.join(self.root, "snapshots")
            names = os.listdir(snap_dir) if os.path.isdir(snap_dir) else []
            seqs = [int(m[1]) for m in map(_SNAP_NAME.fullmatch, names) if m]
            if not seqs:
                raise FileNotFoundError(f"no lake table at {self.root}")
            self._head = max(seqs)
        while os.path.exists(self._snap_path(f"s{self._head + 1}")):
            self._head += 1
        return self._head

    def meta(self, refresh: bool = True) -> dict:
        if refresh or self._meta_cache is None:
            with open(self._snap_path(f"s{self._head_seq()}")) as f:
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
        """Common child-snapshot construction: the parent's sequence
        number + 1, parent link, applied-batch window append (capped),
        commit timestamp."""
        applied = list(meta.get("applied_batches", []))
        if batch_id:
            applied.append(batch_id)
            applied = applied[-APPLIED_BATCH_CAP:]
        return {
            **meta,
            "snapshot_id": f"s{int(meta['snapshot_id'][1:]) + 1}",
            "parent_id": meta["snapshot_id"],
            "batch_id": batch_id,
            "applied_batches": applied,
            "applied_at": time.time(),
            **overrides,
        }

    def _commit(self, snap: dict) -> None:
        """Write the snapshot JSON to a temp file, fsync it, and link it
        to its sequence-numbered name: the link is the commit point and
        fails atomically if another writer took that number first
        (``CommitConflict``; the caller re-plans). A crash before it
        leaves only orphan data files (GC-able) and a temp file, which
        readers ignore."""
        sid = snap["snapshot_id"]
        path = self._snap_path(sid)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # ← commit point
        except FileExistsError:
            raise CommitConflict(f"{sid} was committed by another writer") from None
        finally:
            os.remove(tmp)
        self._meta_cache = snap
        self._head = int(sid[1:])

    # ----------------------------------------------------------------- read
    def bucket_expr(self, repo=None, path=None):
        repo = repo if repo is not None else F.col("repo")
        path = path if path is not None else F.col("path")
        return F.pmod(F.hash(repo, path), F.lit(self.n_buckets))

    def route(self, df: DataFrame) -> DataFrame:
        """Shuffle ``df`` by the key into ``n_buckets`` partitions: Spark's
        hash partitioning is ``pmod(hash(repo, path), n)``, which is
        :meth:`bucket_expr`, so partition i holds bucket i and only
        bucket i. A window or write keyed on the same columns downstream
        reuses this exchange."""
        return df.repartition(self.n_buckets, *KEY)

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
        ddl = _ddl(_physical_columns(columns, include_op))
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
        return _newest_live(
            self._read_files(base_files + delta_files, cols, include_op=True)
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
        """Bucket id of one key, computed on the driver: ``spark_hash``
        reproduces the writers' ``bucket_expr`` bit for bit, and Python's
        ``%`` with a positive divisor is Spark's ``pmod``. The first call
        in a process checks the port against ``F.hash`` once
        (``_check_hash_port``), so a Spark version that changes the hash
        fails loudly instead of routing lookups to the wrong bucket."""
        _check_hash_port(self.spark)
        return spark_hash(repo, path) % self.n_buckets

    def read_point(self, repo: str, path: str, snapshot_id: str | None = None,
                   include_system: bool = False) -> DataFrame:
        """Point lookup of one (repo, path) key: bucket pruning (the
        key hashes to exactly one bucket) + key-level FILE skipping
        within it (snapshot ``file_stats`` bounds — VERDICT r4 #4),
        then the exact-key filter. IO is O(files containing the key),
        not O(files in the bucket): on a long-lived MoR table a bucket
        accumulates one delta file per batch, and a point read that
        scans them all is O(batches).

        No Spark job runs: the bucket id is computed in Python, the
        surviving files are read with one ``pyarrow.dataset`` scan under
        the snapshot's physical schema (the ``_read_files`` contract: a
        column a file predates reads as null, a dropped column is never
        selected) with the key filter pushed down to the row groups, and
        the newest version by ``_lsn`` wins unless it is a tombstone
        (base files carry no ``_op``; null means a base row). The result
        is an Arrow-backed local relation with ``read()``'s schema, so
        its ``collect()`` launches no job either."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import DataType, StructField, StructType

        if snapshot_id is None:
            meta = self.meta()
            cols = self.columns()
        else:
            meta = self.snapshot_meta(snapshot_id)
            cols = [ColumnSpec(**c) for c in meta["columns"]]
        pf = self._point_files(meta, str(self._bucket_of(repo, path)), repo, path)
        physical = _physical_columns(cols, include_op=True)
        schema = DataType.fromDDL(_ddl(physical))
        found = ds.dataset(
            pf["base_pruned"] + pf["deltas_pruned"],
            schema=to_arrow_schema(schema), format="parquet",
        ).to_table(filter=(ds.field("repo") == repo) & (ds.field("path") == path))
        if found.num_rows:
            lsns = found.column("_lsn").to_pylist()
            found = found.slice(max(range(len(lsns)), key=lsns.__getitem__), 1)
            if found.column("_op")[0].as_py() == "D":
                found = found.slice(0, 0)
        names = [c.name for c in cols]
        if include_system:
            names += [n for n, _ in SYSTEM_COLUMNS]
        fields = [StructField(name, f.dataType) for name, f in zip(names, schema.fields)]
        found = found.select(list(range(len(names)))).rename_columns(names)
        return self.spark.createDataFrame(found, StructType(fields))

    def point_files(self, repo: str, path: str) -> dict:
        """Pruning decision for a point key (observability + test
        surface): which of the key's bucket's files survive the
        stats-based skip. Metadata only — no Spark job."""
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
            meta = json.load(f)
        self.meta_file_reads += 1
        return meta

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
        self._commit(snap)
        return snap["snapshot_id"]

    def checkpoint_watermark(self, batch_id: str, hi: int) -> str:
        """Metadata-only snapshot advancing the watermark (empty batch)."""
        meta = dict(self.meta())
        snap = self._child(
            meta, batch_id,
            lineage=[],
            watermark=max(int(meta["watermark"]), int(hi)),
        )
        self._commit(snap)
        return snap["snapshot_id"]

    # ---------------------------------------------------------------- write
    def _write_buckets(self, df: DataFrame, snapshot_id: str) -> dict[str, list[str]]:
        """Write df (with __bucket col) routed by :meth:`route`, so each
        write task holds one bucket and lands one file; return the
        {bucket: sorted files} map of the committed output, found by
        listing it (no extra Spark job; safe because Spark's committer
        has moved committed files into place and removed its _temporary
        dir by the time write() returns). The directory is
        ``data/<snapshot_id>-<8 hex>``: racing writers plan the same
        snapshot id, and must not write into each other's output."""
        out_dir = os.path.join(self.root, "data", f"{snapshot_id}-{uuid.uuid4().hex[:8]}")
        self.route(df).write.partitionBy("__bucket").parquet(out_dir)
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
        count (one per dirty bucket) on the local root."""
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
        return df.select(*sel)

    def seed(self, df: DataFrame, batch_id: str = "seed") -> str:
        """Initial full load (all buckets written once). Row count is
        observed DURING the write action (merge's Observation
        shape) — a full initial load is the one batch that touches
        every byte, so a read-back counting pass would double it."""
        from pyspark.sql import Observation

        meta = self.meta()
        cols = self.columns()
        snap = self._child(meta, batch_id, lineage=[])
        sid = snap["snapshot_id"]
        data = df.withColumn("__bucket", self.bucket_expr())
        obs = Observation()
        stored = self._stored_select(data, cols).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        files = self._write_buckets(stored, sid)
        row_count = int(obs.get["rows"]) if files else 0
        snap["files"] = files
        snap["row_count"] = row_count
        snap["file_stats"] = self._collect_file_stats(files)
        self._commit(snap)
        return sid

    def merge(
        self,
        changes: DataFrame,
        batch_id: str,
        watermark_hi: int,
        lineage: list[dict] | None = None,
        update_mode: str = "full",
    ) -> str:
        """MERGE INTO equivalent: last-writer-wins upsert + delete (X3).

        ``changes`` must be per-key deduped (X2 guarantees ≤1 row per
        (repo, path)) with columns: logical schema columns + ``op`` +
        ``_content_sha`` + ``_lsn``. Semantics match Iceberg MERGE:
        matched ∧ op∈{I,U} → UPDATE; not-matched ∧ op∈{I,U} → INSERT;
        matched ∧ op=D → DELETE; not-matched ∧ D → no-op.

        Merge-on-read: the batch's rows (D rows become ``_op='D'``
        tombstones) are appended as per-bucket delta files, and the
        merge commits exactly ONE snapshot, as its last step; the
        returned id is that snapshot's. No existing file is read for a
        full-row batch — its cost is O(batch). Readers reconcile via
        :meth:`_bucket_state`; :meth:`compact` folds deltas into the
        base.

        ``update_mode='partial'`` (X10): change rows carry NULL for
        columns the event did not touch; :meth:`_partial_images` turns
        them into full row images, which take the same append.
        """
        if update_mode not in ("full", "partial"):
            raise ValueError(f"unknown update_mode: {update_mode}")
        meta = self.meta()
        cols = self.columns()
        if update_mode == "partial":
            changes = self._partial_images(changes)
        snap = self._child(
            meta, batch_id,
            lineage=lineage or [],
            watermark=max(int(meta["watermark"]), int(watermark_hi)),
            row_count=None,
        )
        sid = snap["snapshot_id"]

        # the write lands ONE delta file per dirty bucket: every later
        # read opens each delta file, so files, not rows, set read cost
        stored = self._stored_select(
            changes.withColumn("__bucket", self.bucket_expr())
            .withColumn("_op", F.col("op")),
            cols, include_op=True,
        )
        # count the written rows DURING the write action (Observation:
        # an accumulator evaluated inline) — no second pass, not even a
        # parquet-footer read job.
        from pyspark.sql import Observation

        obs = Observation()
        stored = stored.observe(obs, F.count(F.lit(1)).alias("rows"))
        new_files = self._write_buckets(stored, sid)
        deltas = {b: list(fl) for b, fl in meta.get("deltas", {}).items()}
        for b, fl in new_files.items():
            deltas.setdefault(b, []).extend(fl)

        change_rows = int(obs.get["rows"]) if new_files else 0
        snap["deltas"] = deltas
        snap["file_stats"] = self._rebuild_file_stats(
            meta.get("file_stats", {}), self._collect_file_stats(new_files),
            meta["files"], deltas,
        )
        snap["merge_stats"] = {
            "dirty_buckets": len(new_files),
            "total_buckets": self.n_buckets,
            "change_rows": change_rows,
            "mode": "mor",
        }
        self._commit(snap)
        return sid

    def _partial_images(self, changes: DataFrame) -> DataFrame:
        """Full row images of a folded partial-update batch (X10).

        On matched keys each column keeps its stored value unless the
        change provides one (``coalesce(change, old)``), except rows
        flagged ``__reset`` (a mid-batch delete preceded them — see
        dedup.fold_partial), which never inherit stored values;
        ``_lsn`` is always the fold's. Contract: ``changes`` is per-key
        folded (fold_partial) and ``_content_sha`` is NULL exactly when
        ``content`` is NULL, so the sha always pairs with whichever
        content value survives. ``op='D'`` rows pass through as
        tombstones.

        Stored state is read only where the batch can hit it: the
        dirty buckets, with files pruned by the snapshot's per-file
        key bounds against the batch's key box, semi-joined down to the
        batch's broadcast key set (exactly ``_bucket_state``'s
        key_bounds contract)."""
        cols = self.columns()
        dirty = sorted(
            str(r[0]) for r in changes.select(self.bucket_expr()).distinct().collect()
        )
        keys = changes.select(*KEY)
        kb = keys.agg(
            F.min("repo"), F.max("repo"), F.min("path"), F.max("path")
        ).collect()[0]
        old_hit = (
            self._bucket_state(dirty, cols,
                               key_bounds=tuple(kb) if kb[0] is not None else None)
            .join(F.broadcast(keys), on=KEY, how="left_semi")
            .select(
                *KEY,
                *[F.col(c.name).alias(f"__old_{c.name}")
                  for c in cols if c.name not in KEY],
                *[F.col(n).alias(f"__old_{n}") for n, _ in SYSTEM_COLUMNS],
            )
        )
        reset = (F.col("__reset") if "__reset" in changes.columns
                 else F.lit(False))
        sel = [F.col(k) for k in KEY]
        for name in [c.name for c in cols if c.name not in KEY] + [
            n for n, _ in SYSTEM_COLUMNS if n != "_lsn"
        ]:
            sel.append(F.when(reset, F.col(name)).otherwise(
                F.coalesce(F.col(name), F.col(f"__old_{name}"))
            ).alias(name))
        images = (
            changes.filter(F.col("op") != "D")
            .join(old_hit, on=KEY, how="left")
            .select(*sel, "_lsn", "op")
        )
        tombstones = changes.filter(F.col("op") == "D").select(
            *[F.col(c.name) for c in cols],
            *[F.col(n) for n, _ in SYSTEM_COLUMNS],
            "op",
        )
        return images.unionByName(tombstones)

    def delta_depth(self) -> dict[str, int]:
        """Outstanding delta BATCHES per bucket (compaction signal) —
        distinct write directories, not raw file count: read
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
        # the read is routed, so the reconcile window and the bucket
        # write share its one exchange: one base file per bucket
        state = _newest_live(self.route(self._read_files(
            [f for b in target for f in meta["files"].get(b, []) + meta["deltas"][b]],
            cols, include_op=True,
        )))
        new_files = self._write_buckets(
            self._stored_select(state.withColumn("__bucket", self.bucket_expr()), cols),
            sid,
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
        self._commit(snap)
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
        pass. ``min_age_s`` guards in-flight writers, so only snapshot
        JSON and data files older than it are removed (Iceberg's
        orphan-file age rule; pass 0 only when no writer can be
        active): a concurrent writer's data files exist before its
        commit and would look unreferenced, and a writer that planned
        on a parent whose child was expired would re-take that child's
        number below the head and "commit" without an error. Snapshots
        go oldest first, so the ones kept are always a contiguous run
        up to the head. ``keep_last`` below 1 raises: it would expire
        the head itself and every file it references.
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1 (the head), got {keep_last}")
        now = time.time()
        chain = self.snapshot_chain()
        removed_meta = removed_data = 0
        for s in reversed(chain[keep_last:]):
            path = self._snap_path(s["snapshot_id"])
            try:
                if now - os.path.getmtime(path) < min_age_s:
                    break
                os.remove(path)
            except FileNotFoundError:
                pass  # removed by another GC
            removed_meta += 1
        keep = chain[:len(chain) - removed_meta]
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
            if (not any(e.startswith("__bucket=") for e in os.listdir(d))
                    and now - os.path.getmtime(d) >= min_age_s):
                # only marker/_SUCCESS files left, or a write that never
                # committed (its _temporary dir) → the whole dir is dead
                shutil.rmtree(d)
        return {"kept_snapshots": len(keep), "expired_snapshots": removed_meta,
                "removed_data_files": removed_data}
