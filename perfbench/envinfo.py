"""The pinned Spark session and the environment record of one run."""

from __future__ import annotations

import os
import resource
import time

MASTER = "local[4]"
CORES = 4
# sized for a 15 GiB host that other jobs share: heap plus off-heap stay
# under a third of RAM (the engine's own default asks for 8g + 8g)
DRIVER_MEMORY = "3g"
OFFHEAP_MEMORY = "1g"
PROBE_MIB = 8


def prepare_dirs(work: str) -> dict[str, str]:
    """Every file Spark, the JVM and Python write goes under `work`."""
    dirs = {k: os.path.join(work, k)
            for k in ("local", "tmp", "eventlog", "warehouse", "sql")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # spark-submit's launcher JVM: no /tmp/hsperfdata_* file either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE",
              "SPARK_GRAFT_SCHEDULER", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_OFFHEAP"):
        os.environ.pop(k, None)
    return dirs


def start_session(dirs: dict[str, str], event_log: bool):
    from embulk_output_databricks_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.memory.offHeap.size": OFFHEAP_MEMORY,
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["sql"],
        # a heap committed up front grows RSS the same way on every run;
        # without perf data the JVM writes nothing to /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": dirs["eventlog"],
                     "spark.eventLog.compress": "false"})
    spark = build_session("perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable once a job has run
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fsync_probe(directory: str, mib: int = PROBE_MIB) -> float:
    """MiB/s of a sequential write with fsync, the storage control that
    tells disk drift inside a run apart from an engine change."""
    buf = os.urandom(1 << 20)
    path = os.path.join(directory, "fsync_probe.bin")
    try:
        t0 = time.perf_counter()
        with open(path, "wb") as f:
            for _ in range(mib):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        return mib / (time.perf_counter() - t0)
    finally:
        if os.path.exists(path):
            os.remove(path)


def _mount_of(path: str) -> str:
    path = os.path.realpath(path)
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return f"{best} ({fstype})"


def environment(spark, dirs: dict[str, str]) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": DRIVER_MEMORY,
        "offheap_memory": OFFHEAP_MEMORY,
        "local_dir": f"{dirs['local']} on {_mount_of(dirs['local'])}",
        "warehouse": f"{dirs['warehouse']} on {_mount_of(dirs['warehouse'])}",
    }


def peak_rss_mib() -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    from pyspark import SparkContext

    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
    return kib / 1024.0
