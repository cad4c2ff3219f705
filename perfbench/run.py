"""Layered CDC benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tail_views --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine is driven only through its
public entry points (ReplayDriver.run_batch, TableFollower.poll,
LakeTable.read, synth_binlog). Everything the run writes lives under
.perfbench_work/ in the current directory.

--trace 0 measures the end-to-end metrics; --trace 1 wraps the engine's
public calls in spans, enables Spark's event log and reports per-layer
metrics, plus the same end-to-end figures under `traced.` names so the
tracing overhead can be read off against an untraced run. Human-readable
lines come first; the last line of stdout is the JSON result. The exit
code is non-zero when the correctness gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SETUP_REPEATS = 3

# (name, unit); printed on every workload, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("replay_events_per_s", "events/s"),
    ("freshness_p50_s", "s"),
    ("bytes_written_per_event", "bytes/event"),
    ("peak_rss_mb", "MiB"),
]
# reported by name, not in the JSON metrics: backlog and failures are 0 on
# a healthy run (failed operations are the JSON's own `failed` and
# `attempted`); with under twenty batches per run the high percentile is
# the maximum of the run; the in-loop readers time sub-second Spark jobs
# whose run-to-run spread reaches the largest bound a metric may have.
# The reader figures exist only on workloads that run a reader.
REPORTED_ONLY = [("freshness_hi_s", "s"), ("scan_rows_per_s", "rows/s"),
                 ("follow_p50_s", "s"), ("backlog_max", "batches"),
                 ("failed_ops_share", "ratio")]


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[p] = os.path.getsize(p)
    return out


def _hi(samples: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ten samples
    beyond it: (value, percentile, n). Below twenty samples that
    percentile would sit under the median, so the maximum is reported as
    p100 instead."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    rank = n - 10
    return s[rank - 1], 100.0 * rank / n, n


def _layer_units(name: str) -> str:
    units = dict(END_TO_END + REPORTED_ONLY)
    if name.startswith("traced."):
        return units[name.split(".", 1)[1]]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.startswith("share."):
        return "ratio"
    return "count"


def measure(args, work: Path) -> tuple[dict, dict, dict]:
    import envinfo
    import gate
    import tracing
    import workloads

    w = workloads.WORKLOADS[args.workload]
    dirs = envinfo.prepare_dirs(str(work))
    fsync_start = envinfo.fsync_probe(dirs["tmp"])

    phases = {}
    t_run = t0 = time.perf_counter()
    spark = envinfo.start_session(dirs, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        env = envinfo.environment(spark, dirs)
        tracer = tracing.Tracer(spark.sparkContext)
        if args.trace:
            tracing.install(tracer)
        stream = workloads.Stream(spark, w, args.seed)

        # set-up = session start + table build + warm-up; the build is
        # repeated and its median taken, the last table is measured
        builds = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            driver = workloads.build_table(
                spark, w, stream, os.path.join(dirs["warehouse"], f"s{i}"))
            builds.append(time.perf_counter() - t0)
        table_root = os.path.join(dirs["warehouse"], f"s{SETUP_REPEATS - 1}")
        t0 = time.perf_counter()
        workloads.warm_up(driver, w, stream)
        warmup_s = time.perf_counter() - t0
        phases["setup"] = time.perf_counter() - t_run

        from embulk_output_databricks_spark.streaming.tail import TableFollower

        follower = None
        if w.reader:
            follower = TableFollower(
                driver.table, os.path.join(dirs["tmp"], "cursor.json"),
                keys=["doc_id"])
        loop = workloads.Loop(w, stream, driver, tracer, follower)
        before = _parquet_files(table_root)

        tracer.active = bool(args.trace)
        if w.period_s > 0:
            loop.run_open(args.seconds, first=w.warmup_batches)
        else:
            loop.run_closed(args.seconds, first=w.warmup_batches)
        tracer.active = False
        phases["loop"] = time.perf_counter() - t_run - phases["setup"]
        after = _parquet_files(table_root)
        written = sum(sz for p, sz in after.items() if p not in before)

        peak_rss = envinfo.peak_rss_mib()
        t0 = time.perf_counter()

        n_slices = w.warmup_batches + loop.applied
        problems = gate.check(w, stream, driver, n_slices,
                              loop.follow_keys if w.reader else None)
        if not gate.redelivery_is_noop(driver, stream, n_slices):
            problems.append("re-delivered last batch was applied again")
        phases["gate"] = time.perf_counter() - t0
    finally:
        envinfo.stop_session(spark)
    phases["total"] = time.perf_counter() - t_run
    env["fsync_mib_s_start"] = round(fsync_start, 1)
    t0 = time.perf_counter()
    env["fsync_mib_s_end"] = round(envinfo.fsync_probe(dirs["tmp"]), 1)
    phases["fsync_end"] = time.perf_counter() - t0

    hi, hi_pct, hi_n = _hi(loop.freshness)
    e2e = {
        "setup_s": session_s + statistics.median(builds) + warmup_s,
        "replay_events_per_s": (w.batch_events
                                / statistics.median(loop.apply_s)),
        "freshness_p50_s": statistics.median(loop.freshness),
        "freshness_hi_s": hi,
        "scan_rows_per_s": (sum(r for r, _ in loop.scans)
                            / sum(t for _, t in loop.scans)
                            if loop.scans else None),
        "follow_p50_s": (statistics.median(loop.follow_s)
                         if loop.follow_s else None),
        "bytes_written_per_event": written / loop.events,
        "peak_rss_mb": peak_rss,
        "backlog_max": max(loop.backlog),
        "failed_ops_share": loop.failed / max(loop.attempted, 1),
    }
    info = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "session_s": session_s, "table_builds_s": builds,
        "warmup_s": warmup_s, "phases_s": phases,
        "freshness_hi_percentile": hi_pct, "freshness_n": hi_n,
        "batches": loop.applied, "events": loop.events,
        "freshness_s": loop.freshness, "apply_s": loop.apply_s,
        "follow_s": loop.follow_s, "scans": loop.scans,
        "attempted": loop.attempted, "failed": loop.failed,
        "problems": problems,
    }

    layers = {}
    if args.trace:
        jobs = tracing.read_event_log(dirs["eventlog"])
        tracing.attribute_jobs(tracer.spans, jobs)
        layers = tracing.layer_metrics(tracer.spans, jobs, loop.applied,
                                       envinfo.CORES)
        layers["replay.queue_wait_s"] = statistics.fmean(loop.queue_wait)
        layers["replay.failed"] = float(loop.failed)
        layers["replay.batches"] = float(loop.applied)
        # a workload without a reader reports its reader figures as 0,
        # as it does every layer it does not exercise
        for name, _unit in END_TO_END + REPORTED_ONLY:
            layers[f"traced.{name}"] = e2e[name] or 0.0
        trace_dir = Path.cwd() / ".perfbench_work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{w.name}-seed{args.seed}.json", "w") as f:
            json.dump({"info": info, "spans": tracer.spans,
                       "jobs": {str(k): v for k, v in jobs.items()},
                       "layers": layers}, f)
    return e2e, layers, info


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["replay_bulk", "tail_views"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(Path.cwd()))
    try:
        import embulk_output_databricks_spark.streaming.replay  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found from {Path.cwd()}: {e}",
              file=sys.stderr)
        return 2

    work = (Path.cwd() / ".perfbench_work"
            / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        e2e, layers, info = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: env {json.dumps(info['env'])}")
    print(f"perfbench: {info['workload']} seed={info['seed']} "
          f"batches={info['batches']} events={info['events']} "
          f"freshness_hi=p{info['freshness_hi_percentile']:.1f} "
          f"of n={info['freshness_n']}")
    print(f"perfbench: phases_s {json.dumps(info['phases_s'])} "
          f"builds_s {json.dumps(info['table_builds_s'])}")
    for name, unit in END_TO_END + REPORTED_ONLY:
        if e2e[name] is not None:
            print(f"perfbench: {name} = {e2e[name]:.6g} {unit}")
    print("perfbench: freshness_s "
          + " ".join(f"{x:.3f}" for x in info["freshness_s"]))
    for problem in info["problems"]:
        print(f"perfbench: CORRECTNESS {problem}")
    correct = not info["problems"]
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_units(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
