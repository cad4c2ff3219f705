"""SparkSession builder for the engine.

Pins the settings every module assumes:
  - UTC session timezone (oracle comparisons; ref default_timezone=UTC,
    reference README.md:39).
  - Arrow on for every pandas/Arrow UDF path (input_hint: no per-row Python).
  - AQE + skew-join on: the merge equi-join and dedup shuffles self-tune
    (SURVEY.md §4.1 'Join strategy for MERGE').
  - shuffle partitions sized to cores for local mode; on a real cluster pass
    an explicit value sized to executors * cores.
  - a generated-code cache large enough for a steady-state batch's plans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "embulk-output-databricks-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same entry point runs under pytest, bench.py and spark-submit. On a real
    cluster, pass master=None with spark-submit --master and it inherits.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE")
        if env_sp:  # pin the plan shape across parallelism levels (BENCH)
            shuffle_partitions = int(env_sp)
        else:
            # local[N] -> N shuffle partitions; anything else -> leave for AQE
            shuffle_partitions = int(cpus) if master.startswith("local") else 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # engine hash/expr library does its own bounded modular arithmetic;
        # non-ANSI keeps Spark semantics aligned with the DuckDB oracle's
        # bigint behavior for pmod-style expressions we generate.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # off-heap execution memory: sort/shuffle/aggregation buffers live
        # outside the GC'd heap. Measured on this workload: long token arrays
        # at 32 threads caused multi-10s GC pauses on-heap; off-heap removed
        # them (local[32] replay went 82k -> 361k events/sec).
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size",
                os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # generated-code cache (static; default 100 classes). One tail
        # cycle (apply with change feed, rollup, SCD2 history, then a
        # follower poll and a scan) generates more classes than that; at
        # the default the LRU evicts what the next batch needs, so a
        # batch after a poll recompiles ~50 classes with Janino instead
        # of ~8 (each class then warms up again in the JIT) and its wall
        # rises from ~2.2 to 3-4 s on local[4]
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if os.environ.get("SPARK_GRAFT_SCHEDULER", "").upper() == "FAIR":
        # FAIR scheduling with an apply-priority pool split: the replay
        # pipeline (streaming/replay.py replay_pipelined) tags its main
        # thread 'apply' and prefetch threads 'prefetch'. Under default
        # FIFO a prefetch job submitted earlier holds the cluster and the
        # next batch's apply queues behind it — exactly the serialization
        # stage-ahead exists to remove. Weight 4:1 keeps the apply chain
        # (the exactly-once critical path) fed while prefetch soaks idle
        # slots. Pools are ignored under FIFO, so tagging is always safe.
        import tempfile

        # deterministic per-user path, published ATOMICALLY (temp file +
        # os.replace) — a NamedTemporaryFile per build_session would leak
        # one XML per session build, and a plain truncate+write would let
        # a concurrent spark-submit of the same user read a half-written
        # file while its SparkContext parses the pools
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_fairscheduler_{os.getuid()}.xml")
        tmp = tempfile.NamedTemporaryFile(
            "w", dir=tempfile.gettempdir(), delete=False,
            prefix="spark_graft_fair_", suffix=".tmp")
        tmp.write(
            "<allocations>"
            "<pool name=\"apply\"><schedulingMode>FIFO</schedulingMode>"
            "<weight>4</weight><minShare>0</minShare></pool>"
            "<pool name=\"prefetch\"><schedulingMode>FIFO</schedulingMode>"
            "<weight>1</weight><minShare>0</minShare></pool>"
            "</allocations>")
        tmp.close()
        os.replace(tmp.name, path)
        b = (b.config("spark.scheduler.mode", "FAIR")
             .config("spark.scheduler.allocation.file", path))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
