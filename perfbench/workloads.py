"""The benchmark's workloads: their inputs, their engine configuration and the
loop that drives them through the engine's public entry points.

Every input event comes from `synth_binlog(seed=...)`. A workload's
stream is a seed slice (lsn [0, seed_events), uniform keys) that builds
the starting table, followed by fixed-size batch slices; each event is a
pure function of its lsn, so the correctness gate regenerates the whole
stream independently of the engine.
"""

from __future__ import annotations

import dataclasses
import math
import sys
import time
import traceback


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int            # key space
    seed_events: int       # events of the seed-table build (uniform keys)
    batch_events: int      # events per batch
    alpha: float           # batch key skew (synth power law; 1 = uniform)
    warmup_batches: int    # applied during set-up, after the seed build
    period_s: float        # open loop: fixed period T; 0 = closed loop
    reader: bool           # in-loop consumer after each commit: keyed CDF
                           # follower poll, then a full resolved scan
    job: dict              # JobConfig fields


ROLLUP = {"name": "by_source", "group_by": ["source"], "sums": ["n_tok"]}
HISTORY = {"name": "history"}

# Sizes fit 22 runs of every workload into the benchmark's time budget on
# local[4]; perfbench/rationale.json records why each workload exists and
# why tail_cow and tail_mor_read were dropped. The period T is a constant
# well below the capacity measured on that box.
WORKLOADS = {w.name: w for w in (
    Workload(
        name="replay_bulk",
        n_docs=100_000, seed_events=100_000, batch_events=200_000,
        alpha=1.0, warmup_batches=5, period_s=0.0, reader=False,
        # the thresholds scale the plan choice to this batch size: the
        # staged batch (~86k distinct keys) exceeds both, so warm batches
        # take the shuffle plan on the predicted path, as 6M-event batches
        # do under the defaults
        job={"broadcast_merge_threshold": 30_000,
             "predictive_min_rows": 60_000},
    ),
    Workload(
        name="tail_views",
        n_docs=3_000, seed_events=6_000, batch_events=250,
        alpha=3.0, warmup_batches=1, period_s=6.0, reader=True,
        # a small table and few buckets: the per-batch cost of the three
        # maintained structures is fixed cost, not data volume
        job={"change_feed": True, "rollups": [ROLLUP], "history": HISTORY,
             "n_buckets": 4},
    ),
)}


class Stream:
    """The generated change stream of one workload and seed."""

    def __init__(self, spark, w: Workload, seed: int):
        self.spark, self.w, self.seed = spark, w, seed

    def seed_slice(self):
        from embulk_output_databricks_spark.synth import synth_binlog

        w = self.w
        return synth_binlog(self.spark, w.seed_events, w.n_docs,
                            w.seed_events, seed=self.seed, alpha=1.0)

    def lsn0(self, j: int) -> int:
        return self.w.seed_events + j * self.w.batch_events

    def batch(self, j: int):
        """Batch slice j (0-based, counting warm-up batches)."""
        from embulk_output_databricks_spark.synth import synth_binlog

        w = self.w
        return synth_binlog(self.spark, w.batch_events, w.n_docs,
                            w.batch_events, seed=self.seed, alpha=w.alpha,
                            start=self.lsn0(j))

    def batches(self, n: int):
        """Batch slices 0..n-1 as one frame (the gate's input)."""
        from embulk_output_databricks_spark.synth import synth_binlog

        w = self.w
        return synth_binlog(self.spark, n * w.batch_events, w.n_docs,
                            w.batch_events, seed=self.seed, alpha=w.alpha,
                            start=self.lsn0(0))


def job_config(w: Workload):
    from embulk_output_databricks_spark.config import JobConfig

    return JobConfig(table="docs", **w.job)


def build_table(spark, w: Workload, stream: Stream, root: str):
    """A fresh table (with its views) from the seed slice, as batch 0."""
    from embulk_output_databricks_spark.sources.laketable import LakeCatalog
    from embulk_output_databricks_spark.streaming.replay import ReplayDriver

    driver = ReplayDriver(LakeCatalog(spark, root), job_config(w))
    driver.run_batch(stream.seed_slice(), 0, collect_metrics="light")
    return driver


def warm_up(driver, w: Workload, stream: Stream) -> None:
    """Batch slices 0..warmup_batches-1, as batch ids 1..warmup_batches."""
    for j in range(w.warmup_batches):
        driver.run_batch(stream.batch(j), 1 + j, collect_metrics="light")


class Loop:
    """Drives the measured batches and records the end-to-end samples."""

    def __init__(self, w: Workload, stream: Stream, driver, tracer,
                 follower=None):
        self.w, self.stream = w, stream
        self.driver, self.tracer, self.follower = driver, tracer, follower
        self.freshness: list[float] = []
        self.apply_s: list[float] = []
        self.queue_wait: list[float] = []
        self.backlog: list[int] = []
        self.follow_s: list[float] = []               # in-loop reader
        self.scans: list[tuple[int, float]] = []      # in-loop reader
        self.follow_keys: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.applied = 0          # measured batches applied
        self.events = 0

    def _attempt(self, fn, retries: int = 1):
        """One operation, retried once on failure; failures are counted."""
        for i in range(retries + 1):
            self.attempted += 1
            try:
                return fn()
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                if i == retries:
                    raise
        return None

    def _apply(self, j: int) -> None:
        ev = self.stream.batch(j)
        self._attempt(lambda: self.driver.run_batch(
            ev, 1 + j, collect_metrics="light"))
        self.applied += 1
        self.events += self.w.batch_events

    def follow(self, follower) -> float:
        """One follower poll plus materialisation of the changed rows (a
        hash over every column of every row); returns its wall time. Keys
        are kept for the gate (upserts only: a keyed feed also carries
        deletes)."""
        from pyspark.sql import functions as F

        with self.tracer.span("tail.follow") as rec:
            t0 = time.perf_counter()
            got = self._attempt(follower.poll)
            rows = 0
            if got is not None:
                df, _frm, to = got
                upsert = (F.col("__op") != "D" if "__op" in df.columns
                          else F.lit(True))
                row = df.agg(F.count(F.lit(1)),
                             F.sum(F.xxhash64(*df.columns)),
                             F.collect_set(F.when(upsert, F.col("doc_id")))
                             ).collect()[0]
                rows = row[0]
                self.follow_keys.update(row[2])
                follower.advance(to)
            wall = time.perf_counter() - t0
            if rec is not None:
                rec["rows"] = rows
        return wall

    def scan(self) -> tuple[int, float]:
        """Full resolved scan, count plus sum(n_tok): (rows, wall time)."""
        from pyspark.sql import functions as F

        with self.tracer.span("laketable.scan") as rec:
            t0 = time.perf_counter()
            row = self._attempt(lambda: self.driver.table.read().agg(
                F.count(F.lit(1)), F.sum("n_tok")).collect()[0])
            wall = time.perf_counter() - t0
            if rec is not None:
                rec["rows"] = row[0]
        return row[0], wall

    def run_open(self, seconds: float, first: int) -> None:
        """Open loop: batch k is due at t0 + k*T whatever the engine does.
        Event creation times follow the same schedule (the last event of
        batch k is created at its due time), so freshness = commit return
        - due time. Batches still due after 4x the window are not applied
        and count as failed."""
        T = self.w.period_s
        n = max(math.ceil(seconds / T), 1)
        clock = time.perf_counter
        t0 = clock()
        for k in range(n):
            due = t0 + k * T
            now = clock()
            if now < due:
                time.sleep(due - now)
            start = clock()
            if start - t0 > 4 * seconds:
                self.attempted += n - k
                self.failed += n - k
                break
            due_count = min(n, math.floor((start - t0) / T) + 1)
            self.backlog.append(max(0, due_count - (k + 1)))
            self.queue_wait.append(start - due)
            self.tracer.batch_id = 1 + first + k
            self._apply(first + k)
            end = clock()
            self.apply_s.append(end - start)
            self.freshness.append(end - due)
            if self.w.reader:
                self.follow_s.append(self.follow(self.follower))
                self.scans.append(self.scan())
        self.tracer.batch_id = None

    def run_closed(self, seconds: float, first: int, min_batches: int = 3
                   ) -> None:
        """Closed loop, one caller: the next batch is submitted when the
        previous returns, so its events are created at submission and
        freshness equals the batch wall."""
        clock = time.perf_counter
        t0 = clock()
        k = 0
        while k < min_batches or clock() - t0 < seconds:
            start = clock()
            self.queue_wait.append(0.0)
            self.backlog.append(0)
            self.tracer.batch_id = 1 + first + k
            self._apply(first + k)
            wall = clock() - start
            self.apply_s.append(wall)
            self.freshness.append(wall)
            k += 1
        self.tracer.batch_id = None
