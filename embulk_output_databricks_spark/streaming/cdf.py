"""Change data feed captured at WRITE time (Delta CDF /
`delta.enableChangeDataFeed` analog; Iceberg gets the same from its
changelog scans).

`LakeTable.diff()` is the compute-on-read change feed: correct across any
interval, but it re-reads BOTH snapshots and compares state — O(table)
per sync even when the batch touched 0.1% of keys. Measured on a 400k-doc
token corpus, a maintained histogram's diff-based sync LOST to a full
explode+GROUP-BY recompute (the state-compare join plus the merge commit
cost more than one cheap scan). The store-on-write plan fixes the
asymptotics: the WRITER already knows exactly what changed, so it
persists the change rows next to the commit and every maintenance
consumer reads O(batch) rows instead of diffing 100 TB.

Capture (`apply_with_cdf`) wraps the ordinary keyed MERGE:

    old rows of the staged keys      # bloom/bounds point lookup,
                                     #   O(matched files) — never O(table)
      -> classify I/U/D vs staged    # null-safe struct compare;
                                     #   no-op updates dropped (diff parity)
      -> stage change rows           # written BEFORE the merge (pinned to
                                     #   the pre-merge snapshot)
      -> merge_apply(...)            # the unchanged COW commit (a merge
                                     #   on the driver placement hands
                                     #   over its kernel's change rows
                                     #   instead of the three steps above)
      -> rename into cdf/v{N}/       # one atomic dir rename, named by the
                                     #   committed version

Crash between the merge commit and the rename loses only the SIDECAR: the
interval then has a version with no CDF dir, `change_feed()` returns None,
and the consumer falls back to diff() — degraded cost, never a wrong
result. The same fallback covers commits made by anything else (plain
merges, compactions, restatements), so CDF is a pure fast path layered on
the diff contract, not a second source of truth.

Rows match `diff(include_old=True)` exactly — payload columns (D rows
carry the old values), `__op` I/U/D, `__old_<col>` for U/D — plus
`__commit_version` so multi-commit intervals both telescope correctly for
aggregate consumers (retract/add per commit sums to the net change) and
LWW-reduce for per-row consumers (last commit wins per key).

merge_rules and guard_col are refused: both make the applied row a
function the capture would have to re-implement (and a guarded merge can
silently KEEP the target row — a capture that believed the staged row
would corrupt every downstream view). Those paths keep the diff fallback.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.merge import OP_COL, merge_apply
from ..sources.laketable import LakeTable, qname

CDF_DIR = "cdf"


def _cdf_path(table: LakeTable, version: int) -> str:
    return os.path.join(table.root, CDF_DIR, f"v{version}")


def data_files_changed(table: LakeTable, version: int) -> bool:
    """True iff commit `version` changed the table's file set (data, delta,
    posdel, eqdel entries) vs its parent. Metadata-only commits
    (update_properties, set_bloom_columns, analyze, set-ndv, check
    constraints, schema DDL, maintain housekeeping) leave the file map
    untouched and by construction carry ZERO change rows — coverage checks
    must skip them instead of treating the missing CDF sidecar as an
    uncovered interval (which would force a full diff/recompute for a
    housekeeping commit)."""
    m = table.manifest(version)
    if m.parent is None:
        return True
    pm = table.manifest(m.parent)
    return ({f["path"]: f for f in m.files}
            != {f["path"]: f for f in pm.files})


def capture_change_rows(table: LakeTable, staged: DataFrame,
                        keys: list[str], support_deletes: bool = True,
                        max_lookup_keys: int = 100_000) -> DataFrame:
    """The change rows the upcoming merge of `staged` will apply, computed
    against the CURRENT snapshot (call strictly before the merge).
    `staged` follows the merge_apply contract: one row per key, payload
    columns + optional `op`. Old rows come from a key point lookup
    (eq_filter bloom/bounds skip, O(matched files)); batches over
    `max_lookup_keys` degrade to one semi-joined scan."""
    payload = [f.name for f in table.manifest().schema().fields]
    non_keys = [c for c in payload if c not in keys]
    has_op = OP_COL in staged.columns
    s = staged.select(
        *payload,
        (F.col(OP_COL) if has_op
         else F.lit(None).cast("string").alias(OP_COL)))

    key_rows = s.select(*keys).distinct().limit(max_lookup_keys + 1).collect()
    firsts = {r[keys[0]] for r in key_rows}
    if len(key_rows) <= max_lookup_keys and None not in firsts:
        old = table.read(eq_filter={keys[0]: sorted(firsts)}) if firsts \
            else table.read().limit(0)
    else:
        old = table.read()  # an IN-list lookup cannot find a NULL key
    sk = s.select(*keys).distinct().alias("SK")
    old = old.alias("O").join(
        sk, [F.col(f"O.{qname(k)}").eqNullSafe(F.col(f"SK.{qname(k)}"))
             for k in keys], "left_semi")

    t = old.select(*[F.col(c).alias(f"__t_{c}") for c in payload],
                   F.lit(True).alias("__t_matched"))
    # null-safe, like the merge's own join: a NULL key component matches
    # a committed NULL, so the row is an update, not an insert
    cond = [F.col(k).eqNullSafe(F.col(f"__t_{k}")) for k in keys]
    j = s.join(t, cond, "left_outer")
    matched = F.coalesce(F.col("__t_matched"), F.lit(False))
    is_del = (F.col(OP_COL) == "D") if support_deletes else F.lit(False)
    changed = F.lit(False)  # a key-only row re-upserted changes nothing
    if non_keys:
        changed = ~F.struct(*[F.col(c) for c in non_keys]).eqNullSafe(
            F.struct(*[F.col(f"__t_{c}") for c in non_keys]))
    op = (F.when(is_del & matched, F.lit("D"))
          .when(is_del, F.lit(None))          # delete of an absent key: no-op
          .when(~matched, F.lit("I"))
          .when(changed, F.lit("U")))          # identical row: no-op (NULL)
    out_cols = (
        [(F.when(op == "D", F.col(f"__t_{c}")).otherwise(F.col(c))
          if c in non_keys else F.col(c)).alias(c) for c in payload]
        + [op.alias("__op")]
        + [F.when(op.isin("U", "D"), F.col(f"__t_{c}")).alias(f"__old_{c}")
           for c in non_keys]
    )
    return j.select(*out_cols).filter(F.col("__op").isNotNull())


def apply_with_cdf(table: LakeTable, staged: DataFrame, keys: list[str],
                   support_deletes: bool = True,
                   properties: dict | None = None,
                   max_lookup_keys: int = 100_000,
                   **merge_kw):
    """merge_apply + change-data-feed capture. Returns the new manifest.
    The change rows are MATERIALIZED before the merge commits (they
    describe the pre-merge state) into a temp dir, then renamed to
    cdf/v{N} after the commit — one atomic inode op; a crash in between
    degrades that version to the diff fallback. A merge that takes the
    driver placement hands over the Arrow kernel's change rows (written
    with pyarrow); a Spark plan has them derived by capture_change_rows."""
    if merge_kw.get("merge_rules") or merge_kw.get("guard_col"):
        raise ValueError("CDF capture does not support merge_rules/guard_col"
                         " — use plain merge_apply (consumers fall back to"
                         " diff)")
    tmp = os.path.join(table.root, CDF_DIR,
                       f"_tmp-{uuid.uuid4().hex}")

    def capture(rows, cached) -> None:
        # both writes leave >= 1 footer, so an all-no-op batch still
        # records an EMPTY feed (a gap would force a diff)
        if rows is not None:  # the driver-side merge's own change rows
            os.makedirs(tmp)
            pq.write_table(rows, os.path.join(tmp, "part-00000.parquet"))
            return
        # a Spark plan: derive them from the merge's cached batch
        changes = capture_change_rows(table, cached, keys,
                                      support_deletes=support_deletes,
                                      max_lookup_keys=max_lookup_keys)
        changes.repartition(1).write.mode("overwrite").parquet(tmp)

    try:
        m = merge_apply(table, staged, keys,
                        support_deletes=support_deletes,
                        properties=properties, capture=capture, **merge_kw)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    final = _cdf_path(table, m.version)
    shutil.rmtree(final, ignore_errors=True)  # fence re-run: last write wins
    os.replace(tmp, final)
    return m


def change_feed(table: LakeTable, since_version: int,
                to_version: int | None = None) -> DataFrame | None:
    """The interval's change rows from write-time capture, or None when
    ANY commit in (since, to] lacks a CDF dir or the captured schema no
    longer matches the table (schema evolved mid-interval) — the caller
    falls back to diff(). Adds `__commit_version` per row."""
    to = to_version if to_version is not None else table.current_version()
    if to <= since_version:
        return None
    payload = [f.name for f in table.manifest(to).schema().fields]
    expected = None
    parts = []
    for v in range(since_version + 1, to + 1):
        p = _cdf_path(table, v)
        if not os.path.isdir(p):
            if not data_files_changed(table, v):
                continue  # metadata-only commit: zero change rows
            return None
        df = table.spark.read.parquet(p)
        cols = set(df.columns)
        base_cols = {c for c in cols if not c.startswith("__")}
        if base_cols != set(payload) or "__op" not in cols:
            return None  # schema evolved across the interval
        if expected is None:
            expected = cols
        elif cols != expected:
            return None
        parts.append(df.withColumn("__commit_version",
                                   F.lit(v).cast("long")))
    if not parts:
        # every commit in the interval was metadata-only: a zero-row feed
        # (diff-contract columns; emitting __old_ for every payload column
        # is a superset of capture's non-key set — harmless on zero rows)
        base = table.read(version=to).limit(0)
        return base.select(
            *[F.col(c) for c in payload],
            F.lit(None).cast("string").alias("__op"),
            *[F.col(c).alias(f"__old_{c}") for c in payload],
            F.lit(None).cast("long").alias("__commit_version"))
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def keyed_changes(table: LakeTable, since_version: int, keys: list[str],
                  to_version: int | None = None,
                  include_old: bool = True,
                  dedup_last_per_key: bool = False) -> DataFrame:
    """The maintenance-consumer entry point: write-time CDF when every
    commit in the interval carries one, else diff() — identical row
    contract either way. `dedup_last_per_key` reduces a multi-commit feed
    to the LAST change per key (what per-row derived tables need); the
    telescoping per-commit rows are the default (what aggregate deltas
    need)."""
    d = change_feed(table, since_version, to_version)
    if d is None:
        return table.diff(since_version, keys=keys, to_version=to_version,
                          include_old=include_old)
    if dedup_last_per_key:
        from ..operators.lww import lww_dedup
        d = lww_dedup(d, keys=keys, order=["__commit_version"])
        d = d.drop("__commit_version")  # one net row per key: diff parity
    if not include_old:
        d = d.drop(*[c for c in d.columns if c.startswith("__old_")])
    return d


def prune_change_feed(table: LakeTable) -> list[str]:
    """Drop CDF dirs for versions below the oldest retained snapshot
    (companion to expire_snapshots + remove_orphan_files, which never
    touch the cdf/ dir). Returns removed dir names."""
    root = os.path.join(table.root, CDF_DIR)
    if not os.path.isdir(root):
        return []
    retained = [int(fn[1:-5]) for fn in os.listdir(table._meta())
                if fn.startswith("v") and fn.endswith(".json")]
    floor = min(retained) if retained else 0
    removed = []
    for fn in sorted(os.listdir(root)):
        p = os.path.join(root, fn)
        if fn.startswith("v") and fn[1:].isdigit() and int(fn[1:]) < floor:
            shutil.rmtree(p, ignore_errors=True)
            removed.append(fn)
        elif fn.startswith("_tmp-"):
            # only reap ABANDONED staging (crashed captures): an in-flight
            # apply_with_cdf's tmp dir is minutes old at most
            try:
                age_s = time.time() - os.path.getmtime(p)
            except OSError:
                continue
            if age_s > 3600:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(fn)
    return removed
