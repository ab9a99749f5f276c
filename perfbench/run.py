"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the workload's fixed traced work with the
Spark event log on and prints the per-layer metrics instead. The last
line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
everything else goes to stderr. The exit code is 0 only when every
operation and oracle check passed.

    python3 perfbench/run.py --record-fingerprints 0-40

regenerates ``perfbench/fingerprints.json`` for the named seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The end-to-end metrics, as BENCHMARK.json lists them.
E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "point_p50_s": "s",
    "scan_s": "s",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _import_engine() -> None:
    """The benchmark drives the ``dx`` package of the checkout it runs
    in; without it there is nothing to measure."""
    sys.path.insert(0, ROOT)
    try:
        import dx.engine  # noqa: F401
        import dx.lake  # noqa: F401
    except ImportError as e:
        log(f"[perfbench] cannot import the engine from {ROOT}: {e}")
        raise SystemExit(2)


def _remove(workdir: str) -> None:
    """Delete a run's work dir, and the shared parent once it is empty."""
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))
    except OSError:
        pass  # another run's work dir is still there


def run(args) -> int:
    from perfbench import hostconf, tracing, workloads

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cfg = hostconf.host_config(workdir)
    hostconf.prepare_env(cfg)
    tracer = tracing.Tracer(args.workload, enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.monotonic()
        with tracer.span("session.start"):
            spark = hostconf.start_session(cfg)
        session_s = time.monotonic() - t0
        tracer.spark = spark
        tracer.enabled = False  # set-up and warm-up are never traced
        log(f"[perfbench] config {json.dumps(hostconf.describe(spark, cfg))}")
        ctx = workloads.Ctx(spark=spark, cores=cfg.cores, seed=args.seed,
                            workload=args.workload, workdir=workdir, tracer=tracer, log=log)
        wl = workloads.make(args.workload)
        try:
            setup_s = session_s + wl.setup(ctx)
        except workloads.InputMismatch as e:
            log(f"[perfbench] refusing to time: {e}")
            return 3
        log(f"[perfbench] setup {setup_s:.3f}s (session {session_s:.3f}s)")
        metrics = {}
        try:
            wl.warmup(ctx)
            if args.trace:
                metrics = _traced(cfg, ctx, wl, os.path.join(workdir, "eventlog"))
            else:
                ops = wl.measure(ctx, wl.ops_for(args.seconds))
                values = {
                    "setup_s": setup_s,
                    **wl.e2e(ops, wl.readback(ctx)),
                    "peak_rss_mb": hostconf.peak_rss_mb([hostconf.jvm_pid(ctx.spark), os.getpid()]),
                }
                metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        except Exception:
            log(traceback.format_exc())
            ctx.record(False, "workload", "raised")
        finally:
            spark = ctx.spark
        ok = ctx.failed == 0 and bool(metrics)
        log(f"[perfbench] {ctx.attempted} operations, {ctx.failed} failed "
            f"(failed_frac {ctx.failed / max(1, ctx.attempted):.4f})")
        print(json.dumps({"correct": ok, "attempted": ctx.attempted,
                          "failed": ctx.failed, "metrics": metrics}), flush=True)
        return 0 if ok else 1
    finally:
        tracer.unwrap_all()
        hostconf.shutdown(spark)
        _remove(workdir)


def _traced(cfg, ctx, wl, evlog: str) -> dict:
    """The workload's fixed traced work in a SparkContext with the event
    log on, between two untraced ops in plain SparkContexts of the same
    JVM: the tracing overhead compares the traced rate with their mean,
    which cancels the JVM's warm-up trend. Returns per-layer metrics."""
    from perfbench import hostconf, tracing, workloads

    tracer = ctx.tracer

    def restart(event_log_dir=None):
        ctx.spark.stop()
        ctx.spark = tracer.spark = hostconf.start_session(cfg, event_log_dir=event_log_dir)

    before = wl.rate(wl.measure(ctx, 1))
    restart(evlog)
    tracer.enabled = True
    traced = wl.rate(wl.measure(ctx, workloads.TRACED_OPS[ctx.workload]))
    wl.readback(ctx)
    tracer.unwrap_all()
    tracer.enabled = False
    restart()  # stopping the traced context flushes its event log
    after = wl.rate(wl.measure(ctx, 1))
    ctx.facts.overhead_frac = 1.0 - traced / ((before + after) / 2)
    log(f"[perfbench] rate untraced {before:.3f}/s, traced {traced:.3f}/s, "
        f"untraced {after:.3f}/s")

    jobs = tracing.read_event_log(evlog)
    tracing.attribute(jobs, tracer.spans)
    values = tracing.layer_metrics(jobs, tracer.spans, ctx.facts)
    for line in tracing.layer_summary(jobs):
        log(f"[perfbench] layer {line}")
    for line in tracing.unattributed_report(jobs):
        log(f"[perfbench] unattributed {line}")
    share = values["trace.unattributed_frac"]
    ctx.record(share <= tracing.MAX_UNATTRIBUTED, "trace attribution",
               f"{share:.3f} of task time unattributed (limit {tracing.MAX_UNATTRIBUTED})")
    units = {name: unit for name, unit, _ in tracing.PER_LAYER}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def record_fingerprints(spec: str) -> int:
    """Generate every workload's changelog for the given seeds (``a-b``
    or a comma list) and write their fingerprints."""
    from perfbench import hostconf, oracle, tracing, workloads

    if "-" in spec:
        lo, hi = spec.split("-")
        seeds = list(range(int(lo), int(hi) + 1))
    else:
        seeds = [int(s) for s in spec.split(",")]
    workdir = os.path.join(ROOT, ".perfbench_work", f"fingerprints-{os.getpid()}")
    cfg = hostconf.host_config(workdir)
    hostconf.prepare_env(cfg)
    spark = None
    try:
        spark = hostconf.start_session(cfg)
        try:
            with open(workloads.FINGERPRINTS) as f:
                book = json.load(f)
        except FileNotFoundError:
            book = {"workloads": {}}
        for name in workloads.WORKLOADS:
            wl = workloads.make(name)
            for seed in seeds:
                ctx = workloads.Ctx(spark=spark, cores=cfg.cores, seed=seed, workload=name,
                                    workdir=workdir, tracer=tracing.Tracer(name, False), log=log)
                out = os.path.join(workdir, f"{name}-{seed}")
                workloads.generate(ctx, out, **wl.spec)
                book["workloads"].setdefault(name, {})[str(seed)] = oracle.fingerprint(out)
                shutil.rmtree(out)
                log(f"[perfbench] {name} seed {seed}: {book['workloads'][name][str(seed)]}")
        with open(workloads.FINGERPRINTS, "w") as f:
            json.dump(book, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        hostconf.shutdown(spark)
        _remove(workdir)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["bulk_replay", "trickle_replay"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0,
                   help="length of the timed work on the reference 4-core host")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-fingerprints", metavar="SEEDS")
    args = p.parse_args(argv)
    _import_engine()
    if args.record_fingerprints:
        return record_fingerprints(args.record_fingerprints)
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
