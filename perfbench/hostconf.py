"""Host-sized Spark session and process bookkeeping for one benchmark run.

The session runs at ``local[nproc]`` with shuffle partitions and lake
buckets equal to the core count, a driver heap sized to the host's
memory, and every scratch path (Spark local dirs, the JVM and Python
temp dirs, the SQL warehouse) under the run's work dir, which the run
deletes when it ends.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time
from dataclasses import dataclass

# Driver heap as a share of host memory, clamped. The JVM shares the
# host with the pandas workers of mapInPandas and with the page cache
# the lake reads go through, so it gets a quarter, not the 32-48 GB
# the engine's own defaults assume.
HEAP_SHARE = 4
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 8192


@dataclass(frozen=True)
class HostConfig:
    cores: int
    heap_mb: int
    workdir: str

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"


def host_config(workdir: str) -> HostConfig:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = max(HEAP_MIN_MB, min(HEAP_MAX_MB, mem_kb // 1024 // HEAP_SHARE))
    return HostConfig(cores=cores, heap_mb=heap, workdir=workdir)


def prepare_env(cfg: HostConfig) -> None:
    """Point every scratch location at the work dir. Must run before
    the JVM starts: SPARK_LOCAL_DIRS overrides spark.local.dir and is
    read by the launcher."""
    local = os.path.join(cfg.workdir, "spark-local")
    tmp = os.path.join(cfg.workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session(cfg: HostConfig, event_log_dir: str | None = None):
    """Session through the engine's own factory, with the benchmark's
    host-sized overrides. A second call after ``spark.stop()`` starts a
    new SparkContext in the same JVM (heap and JVM flags stay)."""
    from dx.session import get_spark

    # -Xms = -Xmx: a heap that never resizes keeps peak RSS a measure
    # of what the run touched, not of when the collector grew the heap
    java_opts = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{cfg.heap_mb}m "
        f"-Djava.io.tmpdir={os.path.join(cfg.workdir, 'tmp')}"
    )
    conf = {
        "spark.driver.memory": f"{cfg.heap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(cfg.workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(cfg.workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            # one flat JSON-lines file: Spark 4 otherwise writes a
            # rolled, zstd-compressed eventlog_v2 directory
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=cfg.master, shuffle_partitions=cfg.cores, extra_conf=conf
    )


def describe(spark, cfg: HostConfig) -> dict:
    """Resolved configuration, as the JVM reports it."""
    import duckdb

    from dx.session import _use_wide_codec

    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    rt = jvm.java.lang.Runtime.getRuntime()
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "cores": cfg.cores,
        "heap_max_mb": int(rt.maxMemory()) // (1 << 20),
        "gc": [beans.get(i).getName() for i in range(beans.size())],
        "wide_codec": _use_wide_codec(cfg.master),
        "io_codec": conf.get("spark.io.compression.codec", "lz4"),
        "parquet_codec": spark.conf.get("spark.sql.parquet.compression.codec"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of the given processes."""
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process the
    run started (the JVM and the pyspark Python workers under it) has
    exited; stragglers are terminated, then killed."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        live = [p for p in procs if _alive(p)]
        if not live:
            return
        for p in live:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline and any(_alive(p) for p in live):
            time.sleep(0.1)
        deadline = time.monotonic() + 5.0
