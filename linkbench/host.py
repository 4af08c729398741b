"""Session sizing from the host, and the host-level probes of a run.

The session is sized from what this machine has, not from fixed numbers:
``nproc`` task slots, a driver heap that is an eighth of physical memory
(between 1 and 4 GiB), and one numeric thread per Python worker, so the
process never runs more threads than cores. The heap is allocated at its
full size from the start: a heap that grows during a pass makes the JVM's
peak resident memory depend on when the collector chose to grow it.
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 8))


def start_session(work: str, cores: int):
    """A ``local[cores]`` session whose scratch space all lies under
    ``work``, with the Spark event log off.

    Every option is set on every call: ``SparkSession.builder`` is shared,
    so a restart would otherwise inherit the previous session's options.
    """
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    heap = driver_heap_mb()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("linkbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.hadoop.hadoop.tmp.dir", tmp)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def event_log(spark, log_dir: str):
    """Write the Spark event log of the jobs run inside the block to one
    uncompressed file under ``log_dir``, for ``trace.fold_event_log``.

    The session runs with the event log off; this attaches Spark's own
    event-log listener for the block only, so untraced passes pay nothing
    for it. The listener is removed once the listener bus has delivered
    every event of the block.
    """
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    os.makedirs(log_dir, exist_ok=True)
    conf = (
        jsc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(),
        jvm.scala.Option.apply(None),
        jvm.java.io.File(os.path.abspath(log_dir)).toURI(),
        conf,
        jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def canary_s(spark, cores: int) -> float:
    """Wall of a fixed CPU-bound job (a sum over a generated range: no I/O,
    no shuffle). It moves only with contention on the host, so it is
    printed beside each run as a diagnostic, not reported as a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 4 * cores).agg(F.sum(F.col("id") * 2)).collect()
    return time.perf_counter() - t0


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Summed ``VmHWM`` of the Spark JVM and every process under it (the
    Python daemon and its workers), in MiB."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return sum(_vm_hwm_kb(p) for p in _proc_tree(jvm_pid)) / 1024.0


def stored_mb(spark) -> float:
    """Memory plus disk that cached RDDs and DataFrames still hold, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
