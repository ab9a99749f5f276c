"""The benchmark workloads.

Each workload generates its changelog from the run's seed with
``dx.generator.gen_changelog_spark``, drives the engine only through
its public API (``ReplayEngine.run`` and ``LakeTable.compact``,
``read``, ``read_point``, ``point_files``, ``changes``,
``delta_depth``), and checks what it built against the DuckDB oracle.

- ``bulk_replay``: one changelog replayed into a fresh table in two
  micro-batches, the first wider (in LSNs) than the engine's
  ``broadcast_key_limit``, so it takes the bucket-window dedup path;
  the remainder takes the broadcast winner-set path. The final
  ``compact()`` is inside the timed replay, which repeats into fresh
  tables, enough replays to fill the seconds asked for at six seconds
  each.
- ``trickle_replay``: a small changelog replayed in six windows of
  about 3k events. The first window is empty (the generator leaves
  LSNs 1..n_keys unused) and three DDL events sit inside the populated
  range, so the replay covers the empty probe, the DDL split and
  ``alter`` commits, and leaves seven delta layers, one short of the
  engine's default auto-compaction threshold. Timed reads of that
  merge-on-read table follow, one per 1.25 seconds asked for:
  point lookups (live, deleted and never-existing keys), full
  reconciled scans and ``changes()`` between snapshot pairs. The final
  ``compact()`` closes the timed replay.
"""

from __future__ import annotations

import inspect
import json
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

from perfbench import oracle
from perfbench.tracing import RunFacts, Tracer

N_REPOS = 50
GEN_REPS = 3  # set-up is repeated and its median reported
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


class InputMismatch(RuntimeError):
    """The generated changelog differs from the recorded fingerprint."""


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    workload: str
    workdir: str
    tracer: Tracer
    log: object  # one-line progress messages (stderr)
    facts: RunFacts = field(default_factory=RunFacts)
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool, what: str, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"[perfbench] FAILED {what}: {detail}")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _broadcast_key_limit() -> int:
    from dx.engine import ReplayEngine

    return inspect.signature(ReplayEngine.__init__).parameters["broadcast_key_limit"].default


# ------------------------------------------------------------ changelog
def _free_lsns(con, log_glob: str, at: int) -> int:
    """Smallest LSN >= ``at`` such that it and the next LSN are unused."""
    return con.execute(
        f"WITH used AS (SELECT lsn FROM read_parquet('{log_glob}') "
        f"WHERE lsn BETWEEN {at} AND {at + 100_000}) "
        f"SELECT min(x) FROM range({at}, {at + 100_000}) t(x) "
        f"WHERE x NOT IN (SELECT lsn FROM used) AND x + 1 NOT IN (SELECT lsn FROM used)"
    ).fetchone()[0]


def _append_ddl(spark, log_dir: str) -> None:
    """One ``add_column`` at about a third of the LSN range, then an
    ``add_column`` and a ``drop_column`` at about two thirds, at free
    LSNs inside the populated range. The last two are adjacent, so the
    segment between them is empty and adds no delta layer."""
    import datetime

    from dx.generator import CHANGELOG_DDL

    glob_ = f"{log_dir}/*.parquet"
    con = duckdb.connect()
    try:
        head = con.execute(f"SELECT max(lsn) FROM read_parquet('{glob_}')").fetchone()[0]
        first = _free_lsns(con, glob_, head * 35 // 100)
        second = _free_lsns(con, glob_, head * 70 // 100)
        third = second + 1
    finally:
        con.close()
    ts = datetime.datetime(2020, 1, 1)
    rows = [
        (lsn, 0, 0, "DDL", None, None, None, None, None, None, action, column, "string", ts)
        for lsn, action, column in [
            (first, "add_column", "license"),
            (second, "add_column", "stars"),
            (third, "drop_column", "license"),
        ]
    ]
    spark.createDataFrame(rows, CHANGELOG_DDL).coalesce(1).write.mode("append").parquet(log_dir)


def generate(ctx: Ctx, out_dir: str, n_keys: int, mean_versions: int, lsn_stride: int = 1,
             ddl: bool = False) -> None:
    from pyspark.sql import functions as F

    from dx.generator import gen_changelog_spark

    with ctx.tracer.span("bench.setup"):
        df = gen_changelog_spark(
            ctx.spark, n_keys=n_keys, mean_versions=mean_versions, seed=ctx.seed,
            n_repos=N_REPOS, partitions=ctx.cores,
        )
        if lsn_stride != 1:
            df = df.withColumn("lsn", F.col("lsn") * lsn_stride)
        df.sortWithinPartitions("lsn").write.parquet(out_dir)
        if ddl:
            _append_ddl(ctx.spark, out_dir)


def recorded_fingerprint(workload: str, seed: int) -> dict | None:
    try:
        with open(FINGERPRINTS) as f:
            return json.load(f)["workloads"].get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


def prepare_changelog(ctx: Ctx, spec: dict) -> tuple[str, float]:
    """Generate the changelog GEN_REPS times; every rep must give the
    same fingerprint, and that fingerprint must match the recorded one
    for this workload and seed. Returns the changelog dir and the
    median seconds of one generation."""
    reps, prints = [], []
    keep = os.path.join(ctx.workdir, "changelog")
    for r in range(GEN_REPS):
        out = keep if r == 0 else os.path.join(ctx.workdir, f"changelog_rep{r}")
        t0 = time.monotonic()
        generate(ctx, out, **spec)
        prints.append(oracle.fingerprint(out))
        reps.append(time.monotonic() - t0)
        if r:
            shutil.rmtree(out)
    if any(p != prints[0] for p in prints):
        raise InputMismatch(f"generator is not deterministic for seed {ctx.seed}: {prints}")
    want = recorded_fingerprint(ctx.workload, ctx.seed)
    if want is not None and want != prints[0]:
        raise InputMismatch(
            f"{ctx.workload} seed {ctx.seed}: changelog {prints[0]} != recorded {want}"
        )
    ctx.log(f"[perfbench] changelog {prints[0]} "
            f"({'matches record' if want else 'no recorded fingerprint for this seed'}); "
            f"generation reps {[round(r, 3) for r in reps]}")
    return keep, _median(reps)


def _table_files(table) -> tuple[int, int, int]:
    """(parquet files ever written, their bytes, bytes live in the head snapshot)."""
    data = os.path.join(table.root, "data")
    files = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")]
    meta = table.meta()
    live = [f for fl in list(meta["files"].values()) + list(meta.get("deltas", {}).values())
            for f in fl]
    return len(files), sum(os.path.getsize(f) for f in files), sum(os.path.getsize(f) for f in live)


# ------------------------------------------------------------- read-back
def lookup(ctx: Ctx, table, orc: oracle.Oracle, key: tuple[str, str]) -> float:
    """One point lookup, timed, then checked against the oracle."""
    t0 = time.monotonic()
    with ctx.tracer.span("lake.point"):
        rows = table.read_point(key[0], key[1], include_system=True).collect()
    dt = time.monotonic() - t0
    v = orc.check_point(key[0], key[1], rows)
    ctx.record(v.ok, "point lookup", v.detail)
    if ctx.tracer.enabled:
        with ctx.tracer.span("lake.point_files"):
            pf = table.point_files(key[0], key[1])
        ctx.facts.point_files.append((
            len(pf["base_pruned"]) + len(pf["deltas_pruned"]), len(pf["base"]) + len(pf["deltas"])
        ))
    return dt


def scan(ctx: Ctx, table) -> float:
    t0 = time.monotonic()
    with ctx.tracer.span("lake.scan"):
        table.read().write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def check_state(ctx: Ctx, table, orc: oracle.Oracle) -> None:
    with ctx.tracer.span("bench.check"):
        v = orc.check_state(table.read(include_system=True), [c.name for c in table.columns()])
    ctx.record(v.ok, "final table state", v.detail)
    ctx.log(f"[perfbench] oracle: {v.detail}")


def lookup_keys(orc: oracle.Oracle, seed: int, live: int, deleted: int, absent: int) -> list:
    """Seeded keys of the three kinds, interleaved in proportion, so
    every prefix of the list has about the same mix. Lookups of absent
    keys are cheaper (file stats prune every file), so a fixed mix keeps
    the median on the live-key cost."""
    pools = [orc.sample_keys("live", live, seed), orc.sample_keys("deleted", deleted, seed),
             orc.sample_keys("absent", absent, seed)]
    placed = [((i + 0.5) / len(pool), k, key)
              for k, pool in enumerate(pools) for i, key in enumerate(pool)]
    return [key for _, _, key in sorted(placed)]


# --------------------------------------------------------------- replays
def _head(log_dir: str) -> int:
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT max(lsn) FROM read_parquet('{log_dir}/*.parquet')").fetchone()[0]
    finally:
        con.close()


class Replay:
    """Replays of one changelog, each from an empty table.

    The timed work is a fixed number of ops derived from ``--seconds``
    and the op's nominal length on the 4-core host the benchmark was
    sized on (``ops_for``), so every run and every commit times the same
    sequence of ops, however fast it runs."""

    nominal_op_s = 1.0

    def __init__(self, name: str, n_keys: int, mean_versions: int, lsn_stride: int = 1,
                 ddl: bool = False):
        self.name = name
        self.spec = {"n_keys": n_keys, "mean_versions": mean_versions,
                     "lsn_stride": lsn_stride, "ddl": ddl}
        self.log_dir = None
        self.head = 0
        self.n_tables = 0
        self.table = None  # the table of the latest op, kept for the read-back

    def setup(self, ctx: Ctx) -> float:
        self.log_dir, gen_s = prepare_changelog(ctx, self.spec)
        self.head = _head(self.log_dir)
        return gen_s

    def delta(self) -> int:
        raise NotImplementedError

    def ops_for(self, seconds: float) -> int:
        return max(1, math.ceil(seconds / self.nominal_op_s))

    def new_engine(self, ctx: Ctx):
        from dx.engine import ReplayEngine
        from dx.lake import LakeTable

        self.n_tables += 1
        root = os.path.join(ctx.workdir, f"lake{self.n_tables}")
        with ctx.tracer.span("bench.setup"):
            table = LakeTable.create(ctx.spark, root, n_buckets=ctx.cores)
            changelog = ctx.spark.read.parquet(self.log_dir)
        engine = ReplayEngine(ctx.spark, table, changelog, delta=self.delta())
        ctx.tracer.wrap_engine(engine)
        return engine

    def replay(self, ctx: Ctx, engine, max_windows: int | None = None) -> dict:
        """Replay-loop iterations (one ``run_batch`` plus any compaction
        it triggers) until the changelog head, or ``max_windows``."""
        iters, records, snapshots = [], [], []
        hi = 0
        t0 = time.monotonic()
        while hi < self.head and (max_windows is None or len(iters) < max_windows):
            with ctx.tracer.span("engine.run", batch=f"w{len(iters)}"):
                s = time.monotonic()
                out = engine.run(max_batches=1)
                iters.append(time.monotonic() - s)
            for _ in out:
                ctx.record(True, "batch")
            records.extend(out)
            snapshots.append(engine.table.meta(refresh=False)["snapshot_id"])
            hi = max(m.lsn_hi for m in out)
        return {"wall": time.monotonic() - t0, "iters": iters, "records": records,
                "snapshots": snapshots,
                "events": sum(m.events for m in records if not m.skipped)}

    def finish(self, ctx: Ctx, table, records: list) -> None:
        """Fold a retired table into the traced run's lake facts."""
        if ctx.tracer.enabled:
            ctx.facts.batch_metrics.extend(records)
            ctx.facts.meta_file_reads += table.meta_file_reads
            n, written, live = _table_files(table)
            ctx.facts.files_written += n
            ctx.facts.bytes_on_disk += written
            ctx.facts.live_bytes += live

    def note_depth(self, ctx: Ctx, table) -> list[int]:
        depth = sorted(table.delta_depth().values())
        ctx.facts.delta_depth_max = max([ctx.facts.delta_depth_max, *depth])
        return depth


class BulkReplay(Replay):
    """One op = a full replay into a fresh table, ``compact()`` included."""

    nominal_op_s = 6.0
    readback_keys = (22, 1, 1)  # live, deleted, absent lookups on the result
    readback_scans = 12
    warm_keys = (6, 1, 1)  # untimed lookups (and scans) that warm the read path first
    warm_scans = 4

    def __init__(self, name: str, n_keys: int, lsn_stride: int):
        super().__init__(name, n_keys, mean_versions=4, lsn_stride=lsn_stride)

    def delta(self) -> int:
        return _broadcast_key_limit() + 1  # first batch just over the limit

    def op(self, ctx: Ctx, max_windows: int | None = None) -> dict:
        engine = self.new_engine(ctx)
        t0 = time.monotonic()
        op = self.replay(ctx, engine, max_windows)
        self.note_depth(ctx, engine.table)
        engine.table.compact()
        op["wall"] = time.monotonic() - t0
        if self.table is not None:
            shutil.rmtree(self.table.root, ignore_errors=True)
        self.table = engine.table
        self.finish(ctx, engine.table, op["records"])
        return op

    def warmup(self, ctx: Ctx) -> None:
        op = self.op(ctx, max_windows=1)  # the first (large) batch and its compaction
        ctx.log(f"[perfbench] warm-up replay {op['wall']:.2f}s")

    def measure(self, ctx: Ctx, ops: int) -> list:
        """``ops`` full replays."""
        out = []
        for _ in range(ops):
            out.append(self.op(ctx))
            ctx.log(f"[perfbench] replay {out[-1]['events']} events in {out[-1]['wall']:.3f}s, "
                    f"iterations {[round(t, 3) for t in out[-1]['iters']]}")
        return out

    def rate(self, ops: list) -> float:
        return _median([o["events"] / o["wall"] for o in ops])

    def readback(self, ctx: Ctx) -> dict:
        orc = oracle.Oracle(self.log_dir, self.head)
        try:
            check_state(ctx, self.table, orc)
            for k in lookup_keys(orc, ctx.seed + 1, *self.warm_keys):
                lookup(ctx, self.table, orc, k)
            for _ in range(self.warm_scans):
                scan(ctx, self.table)
            keys = lookup_keys(orc, ctx.seed, *self.readback_keys)
            points = [lookup(ctx, self.table, orc, k) for k in keys]
        finally:
            orc.close()
        scans = [scan(ctx, self.table) for _ in range(self.readback_scans)]
        ctx.log(f"[perfbench] read-back lookups {[round(t, 3) for t in points]}, "
                f"scans {[round(t, 3) for t in scans]}")
        return {"point": points, "scan": scans}

    def e2e(self, ops: list, reads: dict) -> dict:
        return {
            "events_per_s": self.rate(ops),
            "point_p50_s": _median(reads["point"]),
            "scan_s": _median(reads["scan"]),
        }


class TrickleReplay(Replay):
    """A replay in small windows, then reads of the merge-on-read table
    it leaves, then ``compact()``. The ops counted by ``ops_for`` are
    the reads; the replay runs once."""

    nominal_op_s = 1.25

    windows = 6
    warmup_windows = 2
    pool = (48, 4, 4)  # live, deleted, absent keys the lookups cycle through
    cycle = ["point", "scan", "point", "scan", "point", "scan", "point", "scan", "point",
             "changes"]
    changes_span = 3  # delta layers between the two ends of a changes() call

    def __init__(self, name: str, n_keys: int):
        # three mean versions put the changelog head at about 6 x n_keys,
        # so six windows of n_keys LSNs: the first is empty, five carry
        # data, and the two DDL splits add a layer each -- seven layers,
        # one short of the engine's default compaction threshold
        super().__init__(name, n_keys, mean_versions=3, ddl=True)

    def delta(self) -> int:
        return math.ceil(self.head / self.windows)

    def warmup(self, ctx: Ctx) -> None:
        engine = self.new_engine(ctx)
        op = self.replay(ctx, engine, max_windows=self.warmup_windows)
        orc = oracle.Oracle(self.log_dir, engine.table.watermark())
        try:
            for key in lookup_keys(orc, ctx.seed + 1, 3, 1, 0):
                lookup(ctx, engine.table, orc, key)
        finally:
            orc.close()
        scan(ctx, engine.table)
        scan(ctx, engine.table)
        self.finish(ctx, engine.table, op["records"])
        shutil.rmtree(engine.table.root, ignore_errors=True)
        ctx.log(f"[perfbench] warm-up replay and reads {op['wall']:.2f}s")

    def measure(self, ctx: Ctx, ops: int) -> dict:
        """The replay, then ``ops`` reads of the read cycle, then ``compact()``."""
        if self.table is not None:
            shutil.rmtree(self.table.root, ignore_errors=True)
        engine = self.new_engine(ctx)
        table = self.table = engine.table
        op = self.replay(ctx, engine)
        depth = self.note_depth(ctx, table)
        ctx.log(f"[perfbench] replay {op['events']} events in {op['wall']:.3f}s, iterations "
                f"{[round(t, 3) for t in op['iters']]}, delta depth {depth}")
        # changes() pairs span layers written after the last compaction
        layers = op["snapshots"][-(max(depth, default=0) + 1):]
        orc = oracle.Oracle(self.log_dir, self.head)
        try:
            reads = self.reads(ctx, table, orc, layers, ops)
        finally:
            orc.close()
        t0 = time.monotonic()
        table.compact()
        op["compact"] = time.monotonic() - t0
        op.update(reads)
        self.finish(ctx, table, op["records"])
        return op

    def reads(self, ctx: Ctx, table, orc, layers: list[str], ops: int) -> dict:
        keys = lookup_keys(orc, ctx.seed, *self.pool)
        rng = random.Random(ctx.seed)
        times: dict[str, list[float]] = {"point": [], "scan": [], "changes": []}
        t0 = time.monotonic()
        for n in range(ops):
            kind = self.cycle[n % len(self.cycle)]
            if kind == "point":
                times[kind].append(lookup(ctx, table, orc, keys[len(times[kind]) % len(keys)]))
            elif kind == "scan":
                times[kind].append(scan(ctx, table))
                ctx.record(True, "scan")
            elif len(layers) > self.changes_span:
                i = rng.randrange(0, len(layers) - self.changes_span)
                s = time.monotonic()
                with ctx.tracer.span("lake.changes"):
                    table.changes(layers[i], layers[i + self.changes_span]) \
                        .write.format("noop").mode("overwrite").save()
                times[kind].append(time.monotonic() - s)
                ctx.record(True, "changes")
        wall = time.monotonic() - t0
        ctx.log(f"[perfbench] {ops} reads in {wall:.2f}s: "
                + ", ".join(f"{k} {[round(t, 3) for t in v]}" for k, v in times.items()))
        return times

    def rate(self, op: dict) -> float:
        return op["events"] / (op["wall"] + op["compact"])

    def readback(self, ctx: Ctx) -> dict:
        orc = oracle.Oracle(self.log_dir, self.head)
        try:
            check_state(ctx, self.table, orc)
        finally:
            orc.close()
        return {}

    def e2e(self, op: dict, reads: dict) -> dict:
        return {
            "events_per_s": self.rate(op),
            "point_p50_s": _median(op["point"]),
            "scan_s": _median(op["scan"]),
        }


def make(name: str):
    if name == "bulk_replay":
        # LSNs are spread 7x (sparse, like binlog offsets) so that a
        # first batch wider than broadcast_key_limit holds ~160k events
        return BulkReplay(name, n_keys=40_000, lsn_stride=7)
    if name == "trickle_replay":
        return TrickleReplay(name, n_keys=5_000)
    raise ValueError(f"unknown workload {name}")


WORKLOADS = ["bulk_replay", "trickle_replay"]
# fixed work of a traced run (its per-layer totals compare across commits):
# bulk replays, or trickle reads after its one replay
TRACED_OPS = {"bulk_replay": 2, "trickle_replay": len(TrickleReplay.cycle)}
