"""Span tracing from outside the engine.

The traced run wraps the engine's public functions at the names their
callers look them up (module attributes bound at import, or the defining
module for call-time imports), so the engine itself is unchanged. Each
span records its name, start, end, parent and batch id; spans stay in
memory and are written out when the run ends.

Spark work is attributed per span: entering a span sets the job group
`pb-<span id>` on the calling thread, and after the session stops the
Spark event log is read back to sum executor run time, shuffle bytes,
spill and failed tasks per job. A job without a bench job group (one
submitted from an engine worker thread) falls to the innermost span open
at its submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

# layers, named after the engine modules whose public calls they cover
LAYERS = ("replay", "lww", "merge", "laketable", "checkpoint", "cdf",
          "aggmaint", "scd2", "tail")
SPARK_FIELDS = ("executor_s", "shuffle_bytes", "spill_bytes", "jobs",
                "tasks_failed")


class Tracer:
    """Span recorder. Inactive until `active` is set, so set-up and the
    correctness gate are never traced."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._main = threading.get_ident()
        self.active = False
        self.batch_id = None

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active or threading.get_ident() != self._main:
            yield None
            return
        parent = self.current
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "batch": self.batch_id, "start": time.time(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            self._set_group(parent)
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace owner.attr by a span-recording wrapper. `before(args,
        kwargs)` runs outside the span and its result reaches
        `after(rec, args, kwargs, result, state)`, which also runs outside
        the span, so bookkeeping never inflates the layer's own time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or threading.get_ident() != tracer._main:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if after:
                after(rec, args, kwargs, out, state)
            return out

        setattr(owner, attr, wrapper)


def _data_paths(m) -> set[str]:
    return {f["path"] for f in m.files
            if f.get("kind") not in ("posdel", "eqdel")}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def install(tracer: Tracer) -> None:
    """Wrap every public entry point the per-layer metrics name."""
    from embulk_output_databricks_spark.operators import lww as lww_mod
    from embulk_output_databricks_spark.plans import apply as apply_mod
    from embulk_output_databricks_spark.plans import audit_tap
    from embulk_output_databricks_spark.plans import merge as merge_mod
    from embulk_output_databricks_spark.sources.laketable import LakeTable
    from embulk_output_databricks_spark.streaming import aggmaint, cdf, scd2
    from embulk_output_databricks_spark.streaming import replay as replay_mod
    from embulk_output_databricks_spark.streaming.checkpoint import CheckpointStore
    from embulk_output_databricks_spark.streaming.tail import TableFollower

    def manifest_before(args, kwargs):
        table = args[0]
        base = kwargs.get("base")
        if base is None and len(args) > 4:
            base = args[4]
        return base if base is not None else table.manifest()

    def write_after(rec, args, kwargs, out, before):
        if rec is None:
            return
        with tracer.span("trace.bookkeeping"):
            table = args[0]
            rec["commit_s"] = table.last_commit_s if out is not None else 0.0
            if out is None:
                return
            old, new = _data_paths(before), _data_paths(out)
            added = new - old
            rec["files_added"] = len(added)
            rec["files_removed"] = len(old - new)
            rec["files_kept"] = len(old & new)
            rec["bytes_written"] = sum(
                os.path.getsize(os.path.join(table.root, p)) for p in added)

    for attr in ("replace_files", "append_delta", "delete_keys",
                 "compact_deltas"):
        tracer.wrap(LakeTable, attr, f"laketable.{attr}",
                    before=manifest_before, after=write_after)
    tracer.wrap(LakeTable, "read", "laketable.read")
    tracer.wrap(LakeTable, "changed_since", "laketable.changed_since")

    def merge_after(rec, args, kwargs, out, _state):
        if rec is not None:
            rec["predicted"] = bool(merge_mod.LAST_PHASES.get("predicted"))

    for mod in (apply_mod, cdf, aggmaint, scd2):
        tracer.wrap(mod, "merge_apply", "merge.merge_apply", after=merge_after)
    for mod in (apply_mod, merge_mod):
        tracer.wrap(mod, "merge_apply_mor", "merge.merge_apply_mor")

    # merge_apply names its physical plan through the audit tap; recording
    # the name costs one dict write and leaves the tap itself disabled
    orig_tap = audit_tap.tap

    def tap(name, df):
        cur = tracer.current
        if tracer.active and cur is not None and name.startswith("merge_apply."):
            cur["plan"] = name.split(".", 1)[1]
        return orig_tap(name, df)

    audit_tap.tap = tap

    for mod in (lww_mod, replay_mod):
        tracer.wrap(mod, "lww_dedup", "lww.lww_dedup")

    tracer.wrap(replay_mod.ReplayDriver, "run_batch", "replay.run_batch")
    tracer.wrap(CheckpointStore, "commit", "checkpoint.commit")
    tracer.wrap(CheckpointStore, "fold", "checkpoint.fold")

    def cdf_after(rec, args, kwargs, out, _state):
        if rec is not None and out is not None:
            with tracer.span("trace.bookkeeping"):
                rec["bytes_written"] = _dir_bytes(
                    cdf._cdf_path(args[0], out.version))

    tracer.wrap(cdf, "apply_with_cdf", "cdf.apply_with_cdf", after=cdf_after)
    tracer.wrap(cdf, "keyed_changes", "cdf.keyed_changes")
    tracer.wrap(aggmaint, "sync_rollup", "aggmaint.sync_rollup")
    tracer.wrap(scd2, "scd2_apply", "scd2.scd2_apply")
    tracer.wrap(TableFollower, "poll", "tail.poll")


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> dict[int, dict]:
    """Spark jobs of the (single) application logged under log_dir:
    job id -> submit/end (epoch s), job group, executor run time, shuffle
    bytes written, bytes spilled and failed tasks."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                 "end": None,
                                 "group": props.get("spark.jobGroup.id"),
                                 "executor_s": 0.0, "shuffle_bytes": 0,
                                 "spill_bytes": 0, "tasks_failed": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        if jid is None:
            continue
        job = jobs[jid]
        tm = ev.get("Task Metrics") or {}
        job["executor_s"] += tm.get("Executor Run Time", 0) / 1000.0
        job["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        job["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            job["tasks_failed"] += 1
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return jobs


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> None:
    """Attach each job to one span: by its bench job group, else by the
    innermost span open at its submission time. Jobs outside every span
    (set-up, the correctness gate) stay unattributed."""
    by_group = {f"pb-{s['id']}": s for s in spans}
    for s in spans:
        s["jobs"] = []
    for jid, job in sorted(jobs.items()):
        s = by_group.get(job["group"]) or _innermost(spans, job["submit"])
        if s is not None:
            s["jobs"].append(jid)


# --------------------------------------------------------- per-layer figures

def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> None:
    """Self time = duration minus the time its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"] - _union_len(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])])


def layer_of(span: dict) -> str:
    return span["name"].split(".", 1)[0]


def layer_metrics(spans: list[dict], jobs: dict[int, dict], n_batches: int,
                  cores: int) -> dict[str, float]:
    """Per-layer figures, each divided by the applied batch count (per
    batch means), except the shares and trace.self_sum_err_s (a maximum).

    Spark figures of a layer are inclusive: every job attributed to a span
    of that layer or to any span beneath one (the COW write job that
    executes a merge plan runs inside laketable.replace_files, and counts
    for both merge and laketable)."""
    self_times(spans)
    by_id = {s["id"]: s for s in spans}
    nb = max(n_batches, 1)
    out: dict[str, float] = {}

    def ancestors_layers(s):
        seen = set()
        while s is not None:
            seen.add(layer_of(s))
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
        return seen

    spark = {layer: dict.fromkeys(SPARK_FIELDS, 0.0) for layer in LAYERS}
    for s in spans:
        for jid in s.get("jobs", []):
            job = jobs[jid]
            for layer in ancestors_layers(s) & set(LAYERS):
                acc = spark[layer]
                acc["executor_s"] += job["executor_s"]
                acc["shuffle_bytes"] += job["shuffle_bytes"]
                acc["spill_bytes"] += job["spill_bytes"]
                acc["tasks_failed"] += job["tasks_failed"]
                acc["jobs"] += 1
    for layer in LAYERS:
        for k, v in spark[layer].items():
            out[f"{layer}.{k}"] = v / nb
        out[f"{layer}.self_s"] = sum(s["self"] for s in spans
                                     if layer_of(s) == layer) / nb

    def total(name):
        return sum(s["dur"] for s in spans if s["name"] == name)

    def count(name):
        return sum(1 for s in spans if s["name"] == name)

    roots = [s for s in spans if s["name"] == "replay.run_batch"]
    job_iv = [(j["submit"], j["end"]) for j in jobs.values()]
    serial = 0.0
    worst = 0.0
    for r in roots:
        inside = [(max(a, r["start"]), min(b, r["end"])) for a, b in job_iv
                  if b > r["start"] and a < r["end"]]
        serial += r["dur"] - _union_len(inside)
        sub = [r]
        i = 0
        while i < len(sub):
            sub += [s for s in spans if s["parent"] == sub[i]["id"]]
            i += 1
        worst = max(worst, abs(sum(s["self"] for s in sub) - r["dur"]))
    out["replay.batch_s"] = total("replay.run_batch") / nb
    out["replay.driver_serial_s"] = serial / nb
    out["trace.self_sum_err_s"] = worst

    merges = [s for s in spans if s["name"] == "merge.merge_apply"]
    writes = [s for s in spans if s["name"].startswith("laketable.")
              and "files_added" in s]
    out["lww.calls"] = count("lww.lww_dedup") / nb
    out["lww.plan_s"] = total("lww.lww_dedup") / nb
    for plan in ("broadcast", "shuffle"):
        out[f"merge.plan.{plan}"] = sum(1 for s in merges
                                        if s.get("plan") == plan) / nb
    out["merge.plan.predicted"] = sum(1 for s in merges
                                      if s.get("predicted")) / nb
    out["merge.plan.eqdel"] = sum(
        1 for s in spans if s["name"] == "laketable.delete_keys"
        and s["parent"] is not None
        and by_id[s["parent"]]["name"] == "merge.merge_apply") / nb
    out["merge.files_kept"] = sum(
        s.get("files_kept", 0) for s in writes
        if s["name"] == "laketable.replace_files") / nb
    out["laketable.write_s"] = sum(
        s["dur"] for s in writes if s["name"] != "laketable.compact_deltas"
    ) / nb
    out["laketable.commit_s"] = sum(s.get("commit_s", 0) for s in spans
                                    if s["name"].startswith("laketable.")) / nb
    for k in ("files_added", "files_removed", "bytes_written"):
        out[f"laketable.{k}"] = sum(s.get(k, 0) for s in writes) / nb
    out["laketable.compact_s"] = total("laketable.compact_deltas") / nb
    reads = ("laketable.read", "laketable.changed_since", "laketable.scan")
    out["laketable.read_s"] = sum(
        s["dur"] for s in spans if s["name"] in reads
        and (s["parent"] is None or by_id[s["parent"]]["name"] not in reads)
    ) / nb
    out["laketable.rows_read"] = sum(s.get("rows", 0) for s in spans
                                     if s["name"] == "laketable.scan") / nb
    out["checkpoint.commit_s"] = total("checkpoint.commit") / nb
    out["checkpoint.fold_s"] = total("checkpoint.fold") / nb
    capture = 0.0
    for s in spans:
        if s["name"] == "cdf.apply_with_cdf":
            capture += s["dur"] - sum(
                c["dur"] for c in spans if c["parent"] == s["id"]
                and c["name"] == "merge.merge_apply")
    out["cdf.capture_s"] = capture / nb
    out["cdf.bytes_written"] = sum(s.get("bytes_written", 0) for s in spans
                                   if s["name"] == "cdf.apply_with_cdf") / nb
    out["aggmaint.sync_s"] = total("aggmaint.sync_rollup") / nb
    out["scd2.apply_s"] = total("scd2.scd2_apply") / nb
    out["tail.poll_s"] = total("tail.poll") / nb
    out["tail.follow_s"] = total("tail.follow") / nb
    out["tail.rows"] = sum(s.get("rows", 0) for s in spans
                           if s["name"] == "tail.follow") / nb
    out["trace.bookkeeping_s"] = total("trace.bookkeeping") / nb
    out["trace.spans"] = len(spans) / nb

    # the split the workloads are chosen to separate, as shares of the
    # batch wall: fixed per-batch costs (driver-serial time, which overlaps
    # the spans, and the fixed-cost spans) vs executor work of the merge
    wall = out["replay.batch_s"] or 1.0
    out["share.driver_serial"] = out["replay.driver_serial_s"] / wall
    out["share.fixed_spans"] = (out["merge.self_s"] + out["laketable.commit_s"]
                                + out["checkpoint.commit_s"]) / wall
    out["share.merge_executor"] = out["merge.executor_s"] / (cores * wall)
    return out
