"""spark-submit entry point (C1 analogue of †core/Engine.java).

Usage (local sandbox; on a cluster pass --master spark://… via
spark-submit --py-files dx.zip):

    python -m dx.main demo    --workdir /path --events 5000
    python -m dx.main replay  --workdir /path [--delta 1000]
    python -m dx.main status  --workdir /path
    python -m dx.main compact --workdir /path
    python -m dx.main gc      --workdir /path [--keep-last 100]

`demo` synthesizes a seeded changelog + seed table under --workdir,
then replays it. `replay` resumes from the table's committed
watermark — run it twice and the second run is a no-op (exactly-once).
`status` prints the table's snapshot/watermark/lineage summary.
`compact` folds outstanding merge-on-read deltas into the base;
`gc` expires old snapshots + unreferenced data files (maintenance,
Iceberg's rewrite_data_files / expire_snapshots analogues).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dx", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    demo = sub.add_parser("demo", help="synthesize + seed + replay")
    demo.add_argument("--workdir", required=True)
    demo.add_argument("--events", type=int, default=5_000)
    demo.add_argument("--repos", type=int, default=5)
    demo.add_argument("--paths-per-repo", type=int, default=50)
    demo.add_argument("--seed", type=int, default=42)

    runp = sub.add_parser("run", help="execute a DataX-shaped job.json")
    runp.add_argument("--job", required=True)

    for name in ("replay", "status", "compact", "gc"):
        sp = sub.add_parser(name)
        sp.add_argument("--workdir", required=True)
        if name == "replay":
            sp.add_argument("--delta", type=int, default=1_000)
            sp.add_argument("--compact-threshold", type=int, default=8)
        if name == "gc":
            sp.add_argument("--keep-last", type=int, default=100)
            sp.add_argument("--min-age", type=float, default=3600.0,
                            help="orphan-file age guard (s); 0 only if no writer is active")

    demo.add_argument("--delta", type=int, default=1_000)
    demo.add_argument("--compact-threshold", type=int, default=8)

    args = p.parse_args(argv)

    from dx.session import get_spark

    if args.cmd == "run":
        from dx.job import run_job

        with open(args.job) as f:
            config = json.load(f)
        print(json.dumps(run_job(get_spark("dx-job"), config)))
        return 0

    wd = args.workdir
    lake_root = os.path.join(wd, "lake")
    log_path = os.path.join(wd, "changelog.parquet")
    metrics_path = os.path.join(wd, "metrics.jsonl")

    if args.cmd == "compact":
        from dx.lake import LakeTable

        t = LakeTable.load(get_spark("dx-compact"), lake_root)
        depth = t.delta_depth()
        sid = t.compact()
        print(json.dumps({
            "compacted_buckets": len(depth),
            "max_depth_before": max(depth.values(), default=0),
            "snapshot_id": sid,
        }, indent=2))
        return 0

    if args.cmd == "gc":
        from dx.lake import LakeTable

        t = LakeTable.load(get_spark("dx-gc"), lake_root)
        print(json.dumps(
            t.expire_snapshots(keep_last=args.keep_last, min_age_s=args.min_age),
            indent=2,
        ))
        return 0

    if args.cmd == "status":
        from dx.lake import LakeTable

        spark = get_spark("dx-status")
        t = LakeTable.load(spark, lake_root)
        meta = t.meta()
        print(json.dumps({
            "snapshot_id": meta["snapshot_id"],
            "schema_version": meta["schema_version"],
            "columns": [c["name"] for c in meta["columns"]],
            "watermark": meta["watermark"],
            "n_buckets": meta["n_buckets"],
            "lineage_rows": len(t.lineage()),
        }, indent=2))
        return 0

    spark = get_spark("dx-replay")
    from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
    from dx.lake import LakeTable

    if args.cmd == "demo":
        from dx.generator import gen_changelog, gen_seed_table

        seed_df = gen_seed_table(args.repos, args.paths_per_repo, args.seed)
        changelog = gen_changelog(seed_df, n_events=args.events, seed=args.seed)
        changelog_from_pandas(spark, changelog).write.mode("overwrite").parquet(log_path)
        table = LakeTable.create(spark, lake_root, n_buckets=32)
        seed_lake(spark, table, seed_df)
        print(f"seeded {len(seed_df)} rows; changelog {args.events} events → {log_path}",
              file=sys.stderr)
    else:
        try:
            table = LakeTable.load(spark, lake_root)
        except FileNotFoundError as e:
            print(f"error: {e} (run `demo` first)", file=sys.stderr)
            return 2

    log_df = spark.read.parquet(log_path)
    engine = ReplayEngine(
        spark, table, log_df, delta=args.delta, metrics_path=metrics_path,
        compact_threshold=args.compact_threshold,
    )
    metrics = engine.run()
    applied = [m for m in metrics if not m.skipped]
    total_events = sum(m.events for m in applied)
    total_secs = sum(m.seconds for m in applied)
    print(json.dumps({
        "batches_applied": len(applied),
        "batches_skipped": len(metrics) - len(applied),
        "events": total_events,
        "seconds": round(total_secs, 2),
        "events_per_sec": round(total_events / total_secs, 1) if total_secs else 0.0,
        "watermark": table.watermark(),
        "final_rows": table.read().count(),
        "snapshot_id": table.meta()["snapshot_id"],
    }, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
