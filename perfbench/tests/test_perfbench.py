"""Self-tests of the benchmark: attribution, oracle and fingerprints.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

One module fixture runs a tiny traced trickle replay (the real
workload code at a few hundred keys) in its own Spark session with the
event log on, does everything that needs that session, stops it to
flush the log, and hands the results to the tests.
"""

from __future__ import annotations

import os
import shutil
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import hostconf, oracle, tracing, workloads  # noqa: E402

SEED = 5


def _drop_row(df, key):
    from pyspark.sql import functions as F

    return df.filter(~((F.col("repo") == key[0]) & (F.col("path") == key[1])))


def _corrupt_row(df, key):
    from pyspark.sql import functions as F

    hit = (F.col("repo") == key[0]) & (F.col("path") == key[1])
    return df.withColumn("commit", F.when(hit, F.lit("0" * 40)).otherwise(F.col("commit")))


@pytest.fixture(scope="module")
def run():
    workdir = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    cfg = hostconf.HostConfig(cores=2, heap_mb=1024, workdir=workdir)
    hostconf.prepare_env(cfg)
    evlog = os.path.join(workdir, "eventlog")
    # a workload name with no recorded fingerprints: the inputs are tiny
    tracer = tracing.Tracer("selftest", enabled=True)
    with tracer.span("session.start"):
        spark = hostconf.start_session(cfg, event_log_dir=evlog)
    tracer.spark = spark
    out = types.SimpleNamespace()
    try:
        ctx = workloads.Ctx(spark=spark, cores=cfg.cores, seed=SEED, workload="selftest",
                            workdir=workdir, tracer=tracer, log=lambda m: None)
        wl = workloads.TrickleReplay("selftest", n_keys=300)
        wl.setup(ctx)
        wl.warmup(ctx)
        out.op = wl.measure(ctx, len(wl.cycle))
        wl.readback(ctx)
        out.ctx = ctx

        orc = oracle.Oracle(wl.log_dir, wl.head)
        try:
            with tracer.span("bench.check"):
                state = wl.table.read(include_system=True)
                cols = [c.name for c in wl.table.columns()]
                key = orc.sample_keys("live", 1, SEED)[0]
                out.verdicts = {
                    "real": orc.check_state(state, cols),
                    "dropped": orc.check_state(_drop_row(state, key), cols),
                    "corrupted": orc.check_state(_corrupt_row(state, key), cols),
                    "columns": orc.check_state(state, cols + ["license"]),
                }
        finally:
            orc.close()

        prints = {}
        for name, seed in [("a", SEED), ("b", SEED), ("c", SEED + 1)]:
            d = os.path.join(workdir, f"fp_{name}")
            ctx.seed = seed
            workloads.generate(ctx, d, **wl.spec)
            prints[name] = oracle.fingerprint(d)
        out.prints = prints

        tracer.unwrap_all()
        spark.stop()  # flushes the event log
        out.jobs = tracing.read_event_log(evlog)
        tracing.attribute(out.jobs, tracer.spans)
        out.spans = tracer.spans
        yield out
    finally:
        tracer.unwrap_all()
        hostconf.shutdown(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # a benchmark run's work dir is still there


def test_every_job_is_attributed(run):
    unattributed = tracing.unattributed_report(run.jobs)
    assert run.jobs and not unattributed, unattributed
    layers = {j.layer for j in run.jobs}
    assert {"engine.empty_probe", "engine.winner_set", "engine.lineage", "lake.write",
            "lake.compact", "lake.bucket_of", "lake.point_read", "lake.scan",
            "lake.changes"} <= layers


def test_probe_and_lineage_jobs_are_identified(run):
    probes = [j for j in run.jobs if j.layer == "engine.empty_probe"]
    assert probes and all(j.action == "isEmpty" for j in probes)
    # the lineage aggregation runs on the engine's own pool thread, which
    # no span covers: it is placed by action and time window
    lineage = [j for j in run.jobs if j.layer == "engine.lineage"]
    assert lineage and all(j.span is None and j.action == "collect" for j in lineage)
    # every data segment's aggregation is found (adaptive execution may
    # split one aggregation into a map-stage job and a result job)
    data_batches = [m for m in run.ctx.facts.batch_metrics if not m.skipped and m.events > 0]
    assert len(lineage) >= len(data_batches)


def test_layer_metrics_cover_the_replay(run):
    values = tracing.layer_metrics(run.jobs, run.spans, run.ctx.facts)
    assert set(values) == {name for name, _, _ in tracing.PER_LAYER}
    assert values["trace.unattributed_frac"] == 0.0
    assert values["engine.empty_batches"] >= 1 and values["engine.ddl_batches"] == 3
    for name in ("engine.empty_probe_s", "engine.winner_set_s", "engine.lineage_s",
                 "lake.write_s", "lake.compact_s", "lake.bucket_of_s"):
        assert values[name] > 0, name


def test_oracle_passes_the_real_table(run):
    assert run.verdicts["real"].ok, run.verdicts["real"].detail
    assert run.ctx.failed == 0 and run.ctx.attempted > 0


def test_oracle_catches_a_dropped_row(run):
    v = run.verdicts["dropped"]
    assert not v.ok and "1 expected rows missing" in v.detail


def test_oracle_catches_a_corrupted_row(run):
    v = run.verdicts["corrupted"]
    assert not v.ok and "1 unexpected rows" in v.detail


def test_oracle_checks_evolved_columns(run):
    assert not run.verdicts["columns"].ok


def test_fingerprint_follows_the_seed(run):
    assert run.prints["a"] == run.prints["b"]
    assert run.prints["a"] != run.prints["c"]
    assert run.prints["a"]["rows"] > 0
