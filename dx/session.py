"""SparkSession factory with scale-appropriate defaults.

Replaces DataX engine bootstrap (†core/Engine.java, SURVEY.md §2.1 C1):
there is no channel/thread machinery to configure — parallelism is
Spark's task scheduler + shuffle partitions.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Width threshold for the zstd default below, in PER-JVM cores. The
# interleaved codec sweep (BENCH/AB_CODEC.json, 3 paired rounds at
# 8:32 threads, 32M events) showed compression is a CPU-for-bytes
# trade that flips sign with in-JVM parallelism: at 8 threads zstd
# costs ~18% (CPU-bound), at 32 threads in ONE JVM it wins +6.6%
# median throughput and +0.09 median scaling efficiency (3/3 rounds)
# because the shared memory bus / disk is the binding constraint.
# The width that predicts the win is concurrency per JVM, not
# cluster-total cores: the same 32 cores as 8 × 4-core executor JVMs
# (local-cluster[8,4]) measured zstd HALVING the hi side in
# back-to-back interleaved runs (best measured rep 23.7s zstd vs
# 15.7s stock same session, 12.1s stock in r4 —
# BENCH/scaling_ab_e28_r5{,_off}.json): a 4-core JVM is CPU-bound on
# compression long before its share of the bus saturates. Real
# clusters run small-core executors, so they default stock unless
# the operator opts in (DX_WIDE_CODEC=on).
_WIDE_CODEC_CORES = 16


def _master_cores(master: str) -> int | None:
    """Best-effort total core count from a master URL (None if unknown)."""
    m = re.fullmatch(r"local\[(\*|\d+)\]", master)
    if m:
        return (os.cpu_count() or 8) if m.group(1) == "*" else int(m.group(1))
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),\d+\]", master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    return None


def _jvm_cores(master: str) -> int | None:
    """Concurrent task slots per JVM (None if unknown). local[N] is one
    JVM with N slots; local-cluster[n,c,m] is n JVMs with c slots each."""
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),\d+\]", master)
    if m:
        return int(m.group(2))
    return _master_cores(master)


def single_jvm(master: str) -> bool:
    """True when driver and every task share one JVM: ``local``,
    ``local[N]``, ``local[*]`` (optionally with a max-failures count,
    ``local[N,F]``). local-cluster and cluster masters run tasks in
    executor JVMs of their own."""
    return re.fullmatch(r"local(\[(\*|\d+)(,\d+)?\])?", master) is not None


def _use_wide_codec(master: str) -> bool:
    """Decide the zstd default. DX_WIDE_CODEC: "auto" (default,
    per-JVM-width-decided at _WIDE_CODEC_CORES) | "on" | "off" — the
    explicit switch exists so interleaved A/Bs can hold everything but
    the codec constant without editing code."""
    wide = os.environ.get("DX_WIDE_CODEC", "auto").lower()
    if wide == "auto":
        cores = _jvm_cores(master)
        return cores is not None and cores >= _WIDE_CODEC_CORES
    return wide in ("on", "1", "true", "zstd")


def get_spark(
    app_name: str = "dx-cdc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the CDC replay workload.

    Defaults are chosen for correctness-at-scale, not just local runs:
    - AQE on (runtime coalesce + skew-join backstop for the MERGE join)
    - Arrow on (all payload transforms are vectorized pandas UDFs)
    - shuffle partitions sized to cores locally; on a real cluster the
      submitter overrides via --conf (engine never hardcodes 200).

    JVM-option caveat: ``spark.driver.extraJavaOptions`` set here only
    takes effect when THIS process launches the JVM (plain
    ``python ...`` / pyspark-shell). Under ``spark-submit`` client mode
    or an already-running gateway the driver JVM exists before this
    code runs and the conf is silently ignored — spark-submit callers
    must pass ``--conf spark.driver.extraJavaOptions=-XX:+UseParallelGC``
    (or ``--driver-java-options``) explicitly, as tools/bench_scaling*
    do. Executor options always apply (executors launch after conf).
    When a session already exists, getOrCreate() reuses it and ALL
    confs here are ignored; we warn on a GC mismatch below.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("DX_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("DX_DRIVER_MEM", "48g"))
        # Throughput collector for a batch-replay workload: interleaved
        # A/B probes (BENCH/conf_probe.json, two independent sessions)
        # measured G1's concurrent cycles falling behind 32
        # allocation-heavy threads on one heap — 42.3s -> 16.6s and
        # 136.8s -> 48.3s for the identical 32M-event replay rep.
        # Applied to driver AND executors (local mode runs in the
        # driver JVM; a real cluster inherits it per executor).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    # Width-aware codec default: zstd for shuffle/spill/broadcast AND
    # parquet writes at wide PER-JVM parallelism (>= _WIDE_CODEC_CORES
    # slots in one JVM), stock lz4/snappy below it. Measured both ways
    # in one window, both topologies (BENCH/AB_CODEC.json,
    # scaling_ab_e28_r5{,_off}.json): zstd loses at 8 threads and at
    # 8 x 4-core executor JVMs, wins at 32 threads in one JVM — the
    # crossover is where shared-bus bytes, not CPU, bound throughput.
    # extra_conf below still overrides (tools/ab_codec.py pins codecs
    # explicitly so A/Bs stay default-independent).
    if _use_wide_codec(master):
        builder = (
            builder.config("spark.io.compression.codec", "zstd")
            .config("spark.sql.parquet.compression.codec", "zstd")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Detect the silently-ignored case (pre-existing driver JVM under
    # spark-submit client mode, or a reused session): the conf map
    # echoes whatever we just set, so ask the live JVM which collector
    # it actually runs (ParallelGC registers "PS Scavenge"/"PS
    # MarkSweep" beans; G1 registers "G1 ..." ones).
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        gc_names = [beans.get(i).getName() for i in range(beans.size())]
    except Exception:  # Spark Connect / no py4j introspection — stay quiet
        gc_names = None
    if gc_names is not None and not any(n.startswith("PS ") for n in gc_names):
        import warnings

        warnings.warn(
            f"driver JVM is running {gc_names}, not ParallelGC — it was "
            "launched before get_spark() could apply "
            "spark.driver.extraJavaOptions. Pass --conf "
            "spark.driver.extraJavaOptions=-XX:+UseParallelGC (or "
            "--driver-java-options) to spark-submit for the measured "
            "~2x replay win (BENCH/conf_probe.json; see README 'CLI' "
            "for the full spark-submit recipe).",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark
