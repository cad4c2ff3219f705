"""Copy-on-write MERGE over a LakeTable (SURVEY.md B6/B8).

The reference emits
    MERGE INTO tgt T USING staged S ON T.k=S.k
    WHEN MATCHED THEN UPDATE SET col = S.col | <merge_rule expr>
    WHEN NOT MATCHED THEN INSERT ...
(DatabricksOutputConnection.java:180-232; goldens
TestDatabricksOutputConnection.java:72-90). Databricks executes it; here the
same semantics are one declarative Spark plan:

  1. bucket-prune: only buckets holding staged keys are read (file-level
     pruning from the manifest — the 100 TB lever: a batch touching k keys
     reads/rewrites O(k/n_buckets) of the table).
  2. full-outer join target-slice vs staged on the merge keys, aliased T/S so
     the reference's merge_rule expressions (`concat(T.c,'x',S.c)`,
     `T.c + S.c` — TestDatabricksOutputPluginByMode.java:115,124) run
     verbatim via F.expr.
  3. matched -> updated row (rules or S.*); matched+op='D' -> dropped
     (delete extension, FIXTURES.md S12); target-only -> kept;
     staged-only -> inserted (op='D' on a miss is a no-op).
  4. one atomic snapshot swaps the affected buckets' files.

The join is a shuffle on the merge keys over the pruned slice only; AQE
handles skew/strategy (SURVEY.md §4.1). A full-outer join cannot broadcast,
but the pruned target slice is proportional to the batch, not the table.

Three physical placements of the same semantics, chosen per batch:

  * driver (_driver_merge): a batch at or under the broadcast threshold
    whose pruned touched files fit DRIVER_MERGE_MAX_BYTES. One Spark
    action collects the staged batch as Arrow with its bucket ids; the
    touched files are read with pyarrow, merged by plans/merge_kernel.py
    and written with pyarrow in the Spark write's layout. Tail batches are
    bound by fixed cost per Spark action, and this path runs one.
  * broadcast (broadcast_upsert_plan): the other batches at or under the
    threshold; the target slice is scanned, never shuffled.
  * shuffle: the full-outer join above, for larger batches (and the
    predicted plan that skips the pre-pass in the steady bulk regime).

LAST_PHASES["plan"] names the placement that ran and
LAST_PHASES["driver_miss"] why a batch did not take the driver.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..sources.laketable import (_BUCKET_COL, LAST_SEQ, ROW_ID, LakeTable,
                                 Manifest, arrow_type,
                                 qcol as _qc, qname as _qn,
                                 _file_nb, _live_data, _merge_key_prunable,
                                 _split_files, _table_checks, bucket_expr)
from .merge_kernel import OP_COL, merge_kernel

# Driver placement: a small COW batch whose pruned touched files hold at
# most this many bytes merges on the driver (_driver_merge); 0 disables
# it. Measured against the broadcast plan on local[4] (CHANGES.md), the
# driver was faster at every size up to 43 MiB (0.58x the wall there), so
# the cap bounds driver memory instead: Arrow holds the touched rows
# decompressed, several times their parquet bytes.
DRIVER_MERGE_MAX_BYTES = 32 << 20

_T_HIT = "__t_present"
_S_HIT = "__s_present"

# per-call phase walls + plan flags of the last merge_apply (driver-serial
# attribution: prepass = fused agg job incl. staged persist build; write =
# data-file write job + commit; `plan` is driver/broadcast/shuffle/eqdel and
# `predicted`/`staged_ahead` mark which plan path ran; the driver
# placement's inputs are `staged_rows`, `touched_files`, `touched_bytes`
# and, on a miss, `driver_miss`). DIAGNOSTIC, single-writer: consumed by tests
# (test_predictive.py), the cdc_predictive_merge oracle query, and ad-hoc
# serial-share probes — not by the engine itself. Concurrent per-table
# applies (streaming/multi.py parallel mode) interleave writes here, so
# never read it where two merges may overlap.
LAST_PHASES: dict = {}



def _eqdel_misses(keys: list[str]):
    """Count of staged rows the equality-delete fast path cannot apply:
    upserts (a NULL op is an insert, NOT a delete) and deletes of a key
    with a NULL component, which the sidecar cannot match (SQL equality)
    but the merge plans match null-safely."""
    eqdel_ok = F.coalesce(F.col(OP_COL) == "D", F.lit(False))
    for k in keys:
        eqdel_ok = eqdel_ok & _qc(k).isNotNull()
    return F.count(F.when(~eqdel_ok, 1))


def prepass_aggs(m: Manifest, keys: list[str], has_op: bool,
                 support_deletes: bool, merge_rules, guard_col):
    """The fused pre-pass aggregation spec over a staged batch: row count,
    the delete-only test, and the affected-bucket sets under every bucket
    spec present in manifest `m`. Shared by merge_apply and the replay
    pipeline's stage-ahead prefetcher (streaming/replay.py), which runs
    the SAME aggregation one batch early on a background thread — the two
    must never drift, or a prefetched row would silently mis-plan.
    Returns (aggs, nbs, delete_path_ok, bucketed)."""
    delete_path_ok = (has_op and support_deletes and not merge_rules
                      and guard_col is None)
    bucketed = bool(m.bucket_key and m.bucket_key in keys)
    aggs = [F.count(F.lit(1)).alias("__n")]
    if delete_path_ok:
        aggs.append(_eqdel_misses(keys).alias("__nondel"))
    nbs: list[int] = []
    if bucketed:
        # nb=0 is the "unbucketed" marker (add_files imports), not a real
        # spec: it must stay OUT of the map so _split_files always selects
        # those files — they can hold any key, and the rewrite migrates them
        nbs = sorted(({_file_nb(m, f) for f in m.files} | {m.n_buckets})
                     - {0})
        aggs += [F.collect_set(bucket_expr(m.bucket_key, nb)).alias(f"b{nb}")
                 for nb in nbs]
    return aggs, nbs, delete_path_ok, bucketed


def _guard_ok(guard_col: str):
    """Stale-writer guard predicate: the staged row wins a match only when
    its guard value strictly beats the target's. NULL semantics chosen so
    stale/unknown input can never clobber committed state: a NULL staged
    guard never wins; a NULL target guard loses to any non-NULL staged one
    (the committed row has no recorded version to defend)."""
    g_ok = (
        F.when(F.col(f"T.{_qn(guard_col)}").isNull(),
               F.col(f"S.{_qn(guard_col)}").isNotNull())
        .otherwise(F.col(f"S.{_qn(guard_col)}") > F.col(f"T.{_qn(guard_col)}"))
    )
    return F.coalesce(g_ok, F.lit(False))


def broadcast_upsert_plan(
    target: DataFrame,
    target_keys: DataFrame,
    staged: DataFrame,
    keys: list[str],
    payload: list[str],
    rules: dict[str, str] | None = None,
    has_op: bool = False,
    support_deletes: bool = True,
    guard_col: str | None = None,
) -> DataFrame:
    """The zero-target-shuffle merge plan, reusable by COW merge and MOR
    compaction. `target` is the full-width target slice; `target_keys` the
    key columns of the SAME rows (separate so callers hand in a
    column-pruned scan); `staged` has one row per key, payload (+ `op`).
    Every join broadcasts a staged-derived frame — the target side has no
    exchange anywhere."""
    target = target.alias("T")
    staged = staged.alias("S")
    cond = None
    for k in keys:
        c = F.col(f"T.{_qn(k)}").eqNullSafe(F.col(f"S.{_qn(k)}"))
        cond = c if cond is None else (cond & c)
    rules = rules or {}
    is_del = (F.col(f"S.{_qn(OP_COL)}") == "D") if (has_op and support_deletes) \
        else F.lit(False)
    # row lineage: carried whenever the target slice was read with row ids.
    # Matched rows take the staged row's id when the staged side HAS one
    # (MOR delta fold: the winner row keeps ITS id, same as the LWW path),
    # else the target row's (CDC upsert: the row's identity continues);
    # inserts take the staged id or mint a fresh one at read (NULL).
    carry = ROW_ID in target.columns
    s_has = ROW_ID in staged.columns
    # _last_seq rides the same carry flag: a matched row takes the staged
    # side's value when it has one (MOR fold: the winner keeps ITS commit
    # seq), else NULL — the update is a modification, so it inherits the
    # rewrite commit's sequence at read (v3 rule); kept rows carry T's.
    ls_carry = carry and LAST_SEQ in target.columns
    s_has_ls = LAST_SEQ in staged.columns
    # pass 1 (full target scan, map-only): keep / update / delete per row
    j = target.join(F.broadcast(staged.withColumn(_S_HIT, F.lit(True))),
                    cond, "left_outer")
    matched = F.col(_S_HIT).isNotNull()
    if guard_col is not None:
        # matched-but-stale rows fall through every WHEN to the keep branch:
        # target payload, target lineage, target _last_seq all survive
        matched = matched & _guard_ok(guard_col)
    upd_cols = []
    for c in payload:
        upd = F.expr(rules[c]) if c in rules else F.col(f"S.{_qn(c)}")
        upd_cols.append(F.when(matched, upd).otherwise(F.col(f"T.{_qn(c)}")).alias(c))
    if carry:
        rid = (F.coalesce(F.col(f"S.{_qn(ROW_ID)}"), F.col(f"T.{_qn(ROW_ID)}"))
               if s_has else F.col(f"T.{_qn(ROW_ID)}"))
        upd_cols.append(F.when(matched, rid)
                        .otherwise(F.col(f"T.{_qn(ROW_ID)}")).alias(ROW_ID))
    if ls_carry:
        lsv = (F.coalesce(F.col(f"S.{_qn(LAST_SEQ)}"), F.col(f"T.{_qn(LAST_SEQ)}"))
               if s_has_ls else F.lit(None).cast("bigint"))
        upd_cols.append(F.when(matched, lsv)
                        .otherwise(F.col(f"T.{_qn(LAST_SEQ)}")).alias(LAST_SEQ))
    updated = j.filter(~F.coalesce(matched & is_del, F.lit(False))).select(*upd_cols)
    # pass 2 (key-pruned target scan, map-only): which staged keys matched
    tk = target_keys.alias("TK")
    sk = staged.select(*[F.col(f"S.{_qn(k)}").alias(k) for k in keys]).alias("SK")
    mk = tk.join(
        F.broadcast(sk),
        [F.col(f"TK.{_qn(k)}").eqNullSafe(F.col(f"SK.{_qn(k)}")) for k in keys],
        "left_semi",
    ).alias("MK")
    # inserts: staged keys the target does not have ('D' on a miss = no-op).
    # coalesce: a NULL op must insert (parity with the shuffle plan, whose
    # filter also coalesces) — bare ~NULL would silently drop the row.
    ins = staged.join(
        F.broadcast(mk),
        [F.col(f"S.{_qn(k)}").eqNullSafe(F.col(f"MK.{_qn(k)}")) for k in keys],
        "left_anti",
    ).filter(~F.coalesce(is_del, F.lit(False)))
    ins_cols = [F.col(f"S.{_qn(c)}").alias(c) for c in payload]
    if carry:
        ins_cols.append((F.col(f"S.{_qn(ROW_ID)}") if s_has
                         else F.lit(None).cast("bigint")).alias(ROW_ID))
    if ls_carry:
        ins_cols.append((F.col(f"S.{_qn(LAST_SEQ)}") if s_has_ls
                         else F.lit(None).cast("bigint")).alias(LAST_SEQ))
    return updated.unionByName(ins.select(*ins_cols))


def merge_apply_mor(
    table: LakeTable,
    staged: DataFrame,
    keys: list[str],
    support_deletes: bool = True,
    properties: dict | None = None,
) -> Manifest:
    """Merge-on-read MERGE: the deduped batch is appended as delta files
    (LakeTable.append_delta) instead of joining + rewriting target buckets —
    write cost O(batch) regardless of table size; read() resolves per-key
    winners. Same final-state semantics as merge_apply for upserts/deletes;
    merge_rules are NOT supported (a rule reads T.col at write time, which
    is exactly the target scan MOR exists to avoid — use copy-on-write)."""
    m = table.manifest()
    payload = [f["name"] for f in m.schema_version.fields]
    missing = [k for k in keys if k not in payload]
    if missing:
        raise ValueError(f"merge keys not in table schema: {missing}")
    has_op = OP_COL in staged.columns
    op = (F.col(OP_COL) if (has_op and support_deletes) else F.lit("U"))
    df = staged.select(*[_qc(c) for c in payload], op.alias("__op"))
    props = dict(properties or {})
    props.setdefault("operation", "merge-mor")
    return table.append_delta(df, merge_keys=keys, properties=props)


def _driver_static_miss(table: LakeTable, m: Manifest, keys: list[str],
                        merge_rules, guard_col, threshold: int) -> str | None:
    """Why a merge cannot take the driver placement, judged before any
    data is seen (None = it may)."""
    types = {f["name"]: f["type"] for f in m.schema_version.fields}
    order = [c for c in (m.properties.get("sort_order") or "").split(",")
             if c in types]
    prev = getattr(table, "_prev_merge", None) or {}
    for miss, why in (
            (DRIVER_MERGE_MAX_BYTES <= 0, "driver placement disabled"),
            (merge_rules, "merge_rules"),
            (guard_col is not None, "guard_col"),
            (threshold <= 0, "broadcast threshold 0 forces the shuffle plan"),
            (_table_checks(m), "CHECK constraints"),
            (m.bucket_key and m.bucket_key not in keys,
             "bucket key is not a merge key"),
            (prev.get("n_staged", 0) > threshold,
             "previous batch over the broadcast threshold")):
        if miss:
            return why
    for c, t in types.items():
        if arrow_type(t) is None:
            return f"column {c!r} of type {t} has no pyarrow round trip"
    for c in keys + order:
        if types[c].startswith("array<"):
            return f"array-typed key or sort column {c!r}"
    return None


def _driver_selection(m: Manifest, got, keys: list[str], nbs: list[int],
                      has_op: bool, support_deletes: bool, threshold: int,
                      file_prune: bool, file_prune_max_keys: int):
    """Touched-file selection of a collected staged batch `got` (pyarrow,
    bucket ids under every spec in `nbs` as `__b<nb>`): the same bucket
    and key pruning as the Spark plans. Returns (miss, selection,
    key_vals, affected); a non-None miss sends the batch to Spark."""
    n = got.num_rows
    if n > threshold:
        return "staged rows over the broadcast threshold", None, None, None
    if has_op and support_deletes and n and pc.all(pc.fill_null(
            pc.equal(got[OP_COL], "D"), False)).as_py() and not any(
                got[k].null_count for k in keys):
        return "delete-only batch (equality-delete path)", None, None, None
    affected = ({nb: set(got[f"__b{nb}"].to_pylist()) for nb in nbs}
                if nbs else None)
    sel, _rest = _split_files(m, _live_data(m.files), affected)
    if any(f.get("kind") == "delta" for f in sel):
        return "merge-on-read deltas in a touched bucket", None, None, None
    key_vals: dict = {}
    if file_prune and n <= file_prune_max_keys:
        for k in keys:
            vs = got[k].to_pylist()
            nn = sorted(v for v in vs if v is not None)
            key_vals[k] = (nn, len(nn) < len(vs))
        sel = _merge_key_prunable(m, sel, key_vals)[1]
    targeted = {t for f in m.files if f.get("kind") in ("posdel", "eqdel")
                for t in f["targets"]}
    miss = None
    for f in sel:
        if os.path.basename(f["path"]) in targeted:
            miss = "positional or equality deletes on a touched file"
        elif f["sv"] != m.current_sv:
            miss = "touched file under an older schema version"
        elif m.bucket_key and (_file_nb(m, f) != m.n_buckets
                               or f.get("bucket") is None):
            miss = "touched file under another bucket spec"
        elif f.get("bytes") is None:
            miss = "touched file without a recorded size"
        if miss:
            return miss, None, None, None
    LAST_PHASES["touched_files"] = len(sel)
    LAST_PHASES["touched_bytes"] = touched = sum(f["bytes"] for f in sel)
    if touched > DRIVER_MERGE_MAX_BYTES:
        return "touched bytes over DRIVER_MERGE_MAX_BYTES", None, None, None
    return None, sel, key_vals, affected


def _driver_merge(table: LakeTable, m: Manifest, staged: DataFrame,
                  keys: list[str], payload: list[str], has_op: bool,
                  support_deletes: bool, merge_rules, guard_col,
                  threshold: int, file_prune: bool, file_prune_max_keys: int,
                  properties: dict | None, capture) -> Manifest | None:
    """The driver placement of a small COW merge: ONE Spark action (a
    toArrow collect of the staged batch with its bucket ids under every
    spec present — the pre-pass, the key collect and the pruning input in
    one), a pyarrow read of the kept touched files, merge_kernel, a
    pyarrow write and the commit. A steady-state tail batch is bound by
    the fixed cost per Spark action, not by data, and the broadcast plan
    spends about a dozen jobs per merge.

    Returns the committed manifest, or None with LAST_PHASES["driver_miss"]
    naming why the batch takes a Spark plan instead: merge_rules,
    guard_col, CHECK constraints, a batch over the broadcast threshold,
    delete-only batches (equality-delete path), touched files with MOR,
    posdel or eqdel state, an older schema version or bucket spec, a
    column type pyarrow does not round-trip, or touched bytes over
    DRIVER_MERGE_MAX_BYTES."""
    miss = _driver_static_miss(table, m, keys, merge_rules, guard_col,
                               threshold)
    if miss is None:
        nbs = (sorted(({_file_nb(m, f) for f in m.files} | {m.n_buckets})
                      - {0}) if m.bucket_key else [])
        frame = staged.select("*", *[bucket_expr(m.bucket_key, nb)
                                     .alias(f"__b{nb}") for nb in nbs])
        t0 = time.monotonic()
        got = frame.limit(min(threshold, 2**31 - 2) + 1).toArrow()
        LAST_PHASES["collect_s"] = round(time.monotonic() - t0, 6)
        LAST_PHASES["staged_rows"] = got.num_rows
        miss, selection, key_vals, affected = _driver_selection(
            m, got, keys, nbs, has_op, support_deletes, threshold,
            file_prune, file_prune_max_keys)
    if miss is not None:
        LAST_PHASES["driver_miss"] = miss
        return None
    from .audit_tap import tap

    LAST_PHASES["plan"] = "driver"
    tap("merge_apply.driver", frame)
    types = {f["name"]: arrow_type(f["type"]) for f in m.schema_version.fields}
    cols = [got[c].cast(types[c]) for c in payload]
    names = list(payload)
    if has_op:
        cols.append(got[OP_COL])
        names.append(OP_COL)
    if m.bucket_key:
        cols.append(got[f"__b{m.n_buckets}"])
        names.append(_BUCKET_COL)
    rows, changes = merge_kernel(table._arrow_rows(m, selection),
                                 pa.table(cols, names=names), keys, payload,
                                 support_deletes)
    if capture is not None:
        capture(changes, None)
    props = dict(properties or {})
    props.setdefault("operation", "merge")
    t0 = time.monotonic()
    out = table.replace_files(selection, rows, props, base=m,
                              read_keys=key_vals or None)
    LAST_PHASES["write_s"] = round(time.monotonic() - t0, 6)
    LAST_PHASES["commit_s"] = round(table.last_commit_s, 6)
    table._prev_merge = {
        "n_staged": got.num_rows,
        "all_buckets": affected is None or all(
            len(v) >= nb for nb, v in affected.items())}
    return out


def merge_apply(
    table: LakeTable,
    staged: DataFrame,
    keys: list[str],
    merge_rules: dict[str, str] | None = None,
    support_deletes: bool = True,
    properties: dict | None = None,
    broadcast_threshold_rows: int = 500_000,
    guard_col: str | None = None,
    file_prune: bool = True,
    file_prune_max_keys: int = 100_000,
    predictive: bool = True,
    predictive_min_rows: int = 1_000_000,
    prepass_row=None,
    capture=None,
) -> Manifest:
    """staged: exactly one row per key (run operators.lww_dedup first),
    columns = target payload columns (+ optional `op` I/U/D).

    capture: optional change-row hook `capture(rows, staged)`, called once
    before the commit — with the kernel's change rows (a pyarrow Table,
    the `capture_change_rows` contract) when the driver placement runs,
    else with (None, the cached staged frame) before any Spark plan runs,
    so the caller derives the rows itself against the still-current
    snapshot (streaming/cdf.py apply_with_cdf).

    guard_col: cross-batch stale-writer guard (the `WHEN MATCHED AND
    S.seq > T.seq` pattern). The batch fence makes EXACT replays no-ops,
    but a failover re-read can redeliver a *partially overlapping* range
    under a fresh batch_id — its LWW winners are valid within the batch yet
    older than rows already committed by a later batch. With guard_col set,
    a matched row updates (or deletes) only when the staged guard value
    strictly beats the target's (see _guard_ok for NULL semantics); stale
    rows keep the committed state, payload and lineage untouched. Inserts
    are unguarded (nothing to defend). Requires the guard column in the
    table payload; copy-on-write only (MOR winner resolution orders by
    commit sequence, which is exactly what an out-of-order redelivery
    breaks — use COW for guarded tables).

    Physical plan is chosen by batch size (the persisted staged count):
      * small batch whose pruned touched files fit DRIVER_MERGE_MAX_BYTES:
        driver placement (_driver_merge) — one staged collect, the Arrow
        kernel and a pyarrow write; no other Spark job.
      * other small batch (<= broadcast_threshold_rows): broadcast plan — the
        target slice is only SCANNED, never shuffled. One left-outer
        broadcast join decides keep/update/delete per target row; a
        key-pruned semi join finds matched keys; inserts are staged
        anti-join matched-keys. At 100 TB this is the difference between
        shuffling the table and streaming it through map tasks — the
        steady-state CDC regime (small batches into a huge table).
      * large batch: full-outer sort-merge join (both sides shuffle on the
        merge keys; a batch comparable to the table cannot broadcast).

    file_prune (small-batch path only): refine bucket pruning to FILE
    granularity — the staged batch's distinct key values (collected
    driver-side, gated by file_prune_max_keys) are tested against each
    candidate file's recorded bounds + bloom; files PROVEN to hold no
    staged key survive the commit byte-identical (exact path, stats,
    row lineage — never read, never rewritten). With a sort order on
    the merge key this turns steady-state write amplification from
    O(touched buckets) into O(matched files) — at 100 TB a bucket is
    tens of GB and a CDC batch matches a handful of its files. Buckets
    holding outstanding MOR deltas rewrite whole (winner resolution is
    bucket-wide); proof absence (no stats/bloom) degrades to the
    whole-bucket behavior, never to a wrong result.
    """
    m = table.manifest()
    payload = [f["name"] for f in m.schema_version.fields]
    missing = [k for k in keys if k not in payload]
    if missing:
        raise ValueError(f"merge keys not in table schema: {missing}")
    if guard_col is not None and guard_col not in payload:
        raise ValueError(f"guard_col {guard_col!r} not in table schema")
    has_op = OP_COL in staged.columns

    # staged is typically the output of an LWW dedup (a full shuffle); it is
    # consumed twice below (bucket discovery + the COW join), so persist it —
    # one dedup computation per batch instead of two.
    s_cols = payload + ([OP_COL] if has_op else [])
    staged = staged.select(*[_qc(c) for c in s_cols])

    # -- predictive planning (steady large-batch regime): when the PREVIOUS
    # merge on this table touched every bucket with a batch comfortably in
    # shuffle territory, the fused pre-pass below can tell the planner
    # nothing it cannot predict — pruning prunes nothing, the plan choice
    # is already decided, delete-only batches don't look like this. Skip
    # the pre-pass JOB entirely: the dedup runs inline in the single write
    # job (no persist round-trip through the cache), the true batch count
    # rides an Observation on that job, and the measured driver-serial
    # share of a batch drops by one full job round-trip + plan analysis —
    # the Amdahl term that caps N-vs-4N scaling. A misprediction (the
    # stream suddenly shrank or turned delete-only) is CORRECT, merely
    # unpruned — full-table swap is always a valid selection — and the
    # observed count resets the stats so the next batch replans normally.
    prev = getattr(table, "_prev_merge", None)
    predicted = (
        prepass_row is None
        and predictive
        and prev is not None
        and prev.get("all_buckets")
        and prev.get("n_staged", 0) > max(2 * broadcast_threshold_rows,
                                          predictive_min_rows)
    )
    persisted = None
    pred_obs = None
    LAST_PHASES.clear()
    if not predicted and prepass_row is None:
        # the driver placement collects the batch uncached (a limit over a
        # cached frame costs two more jobs), so a miss evaluates it again
        # below — except on a table's first merge, which has no size hint
        # and may be a bulk load: cache it there
        if prev is None:
            persisted = staged = staged.persist()
        try:
            out = _driver_merge(
                table, m, staged, keys, payload, has_op, support_deletes,
                merge_rules, guard_col, broadcast_threshold_rows,
                file_prune, file_prune_max_keys, properties, capture)
        except BaseException:
            if persisted is not None:
                persisted.unpersist()
            raise
        if out is not None:
            if persisted is not None:
                persisted.unpersist()
            return out
    if persisted is None and prepass_row is None and (
            not predicted or capture is not None):
        # prepass_row implies the CALLER persisted staged (stage-ahead
        # prefetch) and owns that cache's lifecycle; a capture consumes
        # the batch too, so even the predicted plan keeps it cached
        persisted = staged = staged.persist()
    if capture is not None:
        try:
            capture(None, staged)
        except BaseException:
            if persisted is not None:
                persisted.unpersist()
            raise

    # -- 0+1 fused pre-pass: ONE aggregation job over the (persisting)
    # staged batch computes everything the planner needs before the main
    # write — row count, the delete-only test, and the affected-bucket
    # sets under every bucket spec present. These used to be three
    # separate actions (isEmpty filter, collect_set job, count), each
    # paying a driver plan/launch round-trip per batch; the measured
    # driver-serial share of a warm local[16] batch (~1.7-4.5 s with zero
    # running jobs) is exactly this kind of per-action overhead, and it is
    # the serial term that caps N-vs-4N scaling efficiency (Amdahl).
    # `prepass_row` moves the whole job OFF the critical path: the replay
    # pipeline computed the identical aggregation one batch early on a
    # background thread (stage-ahead); its bucket-spec coverage is
    # re-validated against the CURRENT manifest — a rebucket/compact in
    # between leaves sv unchanged but changes nbs — and on any gap the
    # row is recomputed from the caller-persisted staged cache. --
    aggs, nbs, delete_path_ok, bucketed = prepass_aggs(
        m, keys, has_op, support_deletes, merge_rules, guard_col)
    if prepass_row is not None:
        d = prepass_row.asDict()
        covered = ("__n" in d
                   and (not delete_path_ok or "__nondel" in d)
                   and all(f"b{nb}" in d for nb in nbs))
        if not covered:
            _t = time.monotonic()
            prepass_row = staged.agg(*aggs).collect()[0]
            LAST_PHASES["prepass_revalidated_s"] = round(
                time.monotonic() - _t, 6)
        LAST_PHASES["prepass_s"] = 0.0
        LAST_PHASES["staged_ahead"] = True
        row = prepass_row
        n_staged = row["__n"]
    elif predicted:
        from pyspark.sql import Observation

        LAST_PHASES["prepass_s"] = 0.0
        LAST_PHASES["predicted"] = True
        pred_obs = Observation()
        obs_cols = [F.count(F.lit(1)).alias("__n")]
        if delete_path_ok:
            # a delete-only batch slipping through under prediction must
            # DISARM the next batch (it wants the eq-delete fast path)
            obs_cols.append(_eqdel_misses(keys).alias("__nondel"))
        if bucketed:
            # re-measure bucket coverage under the CURRENT spec so a
            # stream that narrows to few buckets while staying large
            # DISARMS prediction and gets pruning back next batch —
            # without this the all-buckets assumption would self-sustain.
            # SCALAR metric (set size, not the set): array-typed
            # observation metrics flake in the JVM->Python row conversion
            obs_cols.append(F.size(F.collect_set(
                bucket_expr(m.bucket_key, m.n_buckets))).alias("__nbk"))
        staged = staged.observe(pred_obs, *obs_cols)
        row = None
        n_staged = prev["n_staged"]  # plan-choice estimate only
    else:
        _t = time.monotonic()
        row = staged.agg(*aggs).collect()[0]
        LAST_PHASES["prepass_s"] = round(time.monotonic() - _t, 6)
        n_staged = row["__n"]

    # -- 0. delete-only fast path: a batch whose every winner is a 'D'
    # (purge streams, retention feeds) needs NO target scan at all — commit
    # one equality-delete sidecar keyed on the merge keys instead of
    # joining + rewriting buckets. At 100 TB this turns a delete batch from
    # O(touched buckets) IO into O(keys). Fence-safe: the sidecar commit
    # carries the batch properties (batch_id rides the snapshot); if
    # delete_keys declines to commit (empty table — nothing to delete), we
    # fall through to the regular plan, which always commits, so crash
    # reconciliation still finds the batch stamp. merge_rules disable the
    # path (a rule could rewrite a 'D' into a keep) --
    if delete_path_ok and row is not None and row["__nondel"] == 0:
        props = dict(properties or {})
        props.setdefault("operation", "merge-eqdel")
        LAST_PHASES["plan"] = "eqdel"
        out = table.delete_keys(staged.select(*[_qc(k) for k in keys]), properties=props)
        if out.version != m.version:
            # delete-only batches must not arm prediction (they want the
            # fast path the predicted plan skips)
            table._prev_merge = {"n_staged": n_staged, "all_buckets": False}
            if persisted is not None:
                persisted.unpersist()
            return out

    # -- 1. bucket pruning (only valid when the bucket key is a merge key,
    # i.e. equal keys necessarily share a bucket). After a rebucket() the
    # snapshot can hold files under several bucket specs; the staged keys'
    # buckets were computed under EVERY spec present (in the fused pre-pass
    # above) so pruning stays exact per file --
    affected = ({nb: set(row[f"b{nb}"]) for nb in nbs}
                if bucketed and row is not None
                else None)  # unprunable/predicted: read / swap whole table

    # -- 1b. file-level pruning within the affected buckets (small batch):
    # a file whose bounds/bloom prove no staged key is present is KEPT
    # verbatim — dropped from the read AND from the rewrite --
    selection = affected  # what replace_files swaps out
    key_vals: dict = {}
    if (affected is not None and file_prune
            and n_staged <= min(file_prune_max_keys, broadcast_threshold_rows)):
        sel, _rest = _split_files(m, _live_data(m.files), affected)
        deltas = [f for f in sel if f.get("kind") == "delta"]
        clean, dirty = LakeTable._mor_split(m, sel, deltas)
        key_rows = staged.select(*[_qc(k) for k in keys]).distinct().collect()
        for k in keys:
            vs = [r[k] for r in key_rows]
            nn = [v for v in vs if v is not None]
            try:
                nn.sort()
            except TypeError:
                continue  # unorderable key type: no bounds proof possible
            key_vals[k] = (nn, len(nn) < len(vs))
        pruned, must = (_merge_key_prunable(m, clean, key_vals)
                        if key_vals else ([], clean))
        if pruned:
            selection = must + dirty + deltas

    if isinstance(selection, list):
        # explicit file set: _resolve_files applies the same MOR winner
        # rule and posdel/eqdel sidecars as read() would
        target = table._resolve_files(m, selection, with_row_ids=True)
        target_keys = table._resolve_files(m, selection).select(*[_qc(k) for k in keys])
    else:
        target = table.read(buckets=affected, with_row_ids=True)
        target_keys = table.read(buckets=affected).select(*[_qc(k) for k in keys])
    # target slice read WITH row ids: updated rows keep their identity
    # through the rewrite, inserts mint fresh ids at next read (v3 rule)
    target = target.alias("T")
    staged = staged.alias("S")
    rules = merge_rules or {}

    if n_staged <= broadcast_threshold_rows:
        # -- 2a. broadcast plan: target never shuffles --
        result = broadcast_upsert_plan(
            target, target_keys, staged,
            keys, payload, rules=rules, has_op=has_op,
            support_deletes=support_deletes, guard_col=guard_col,
        )
    else:
        # -- 2b. full outer join on merge keys (large batch) --
        cond = None
        for k in keys:
            c = F.col(f"T.{_qn(k)}").eqNullSafe(F.col(f"S.{_qn(k)}"))
            cond = c if cond is None else (cond & c)
        j = (
            target.withColumn(_T_HIT, F.lit(True))
            .join(staged.withColumn(_S_HIT, F.lit(True)), cond, "full_outer")
        )

        matched = F.col(_T_HIT).isNotNull() & F.col(_S_HIT).isNotNull()
        if guard_col is not None:
            # matched-but-stale pairs behave exactly like unmatched target
            # rows: kept payload, kept _row_id, kept _last_seq
            matched = matched & _guard_ok(guard_col)
        s_only = F.col(_T_HIT).isNull()
        is_del = (F.col(f"S.{_qn(OP_COL)}") == "D") if (has_op and support_deletes) else F.lit(False)

        out_cols = []
        for c in payload:
            upd = F.expr(rules[c]) if c in rules else F.col(f"S.{_qn(c)}")
            out_cols.append(
                F.when(s_only, F.col(f"S.{_qn(c)}"))
                .when(matched, upd)
                .otherwise(F.col(f"T.{_qn(c)}"))
                .alias(c)
            )
        # inserts: NULL id (minted at read); kept/updated rows carry T's
        out_cols.append(F.when(s_only, F.lit(None).cast("bigint"))
                        .otherwise(F.col(f"T.{_qn(ROW_ID)}")).alias(ROW_ID))
        # _last_seq: updated AND inserted rows inherit this commit's
        # sequence (NULL); only untouched target rows keep their old one
        out_cols.append(F.when(matched | s_only, F.lit(None).cast("bigint"))
                        .otherwise(F.col(f"T.{_qn(LAST_SEQ)}")).alias(LAST_SEQ))
        # delete drops matched rows; an unmatched 'D' contributes nothing either
        result = j.filter(~F.coalesce((matched | s_only) & is_del, F.lit(False))).select(*out_cols)

    # -- 4. atomic bucket swap --
    from .audit_tap import tap
    LAST_PHASES["plan"] = ("broadcast" if n_staged <= broadcast_threshold_rows
                           else "shuffle")
    tap("merge_apply." + LAST_PHASES["plan"], result)
    props = dict(properties or {})
    props.setdefault("operation", "merge")
    try:
        # commit against the PLANNING manifest: a rival commit anywhere in
        # the plan->commit window goes through the validated rebase
        # (commute or CommitConflict), never silent absorption; the staged
        # key values let the rebase prove key-disjoint rival appends safe
        _t = time.monotonic()
        out = table.replace_files(selection, result, props, base=m,
                                  read_keys=key_vals or None)
        LAST_PHASES["write_s"] = round(time.monotonic() - _t, 6)
        LAST_PHASES["commit_s"] = round(table.last_commit_s, 6)
        # arm/refresh the next batch's prediction: actual observed size
        # (the Observation rode the write job when predicted) + whether
        # this batch covered every bucket of every spec present; a
        # delete-only batch observed under prediction disarms the next
        if pred_obs is not None:
            # the metrics read must be FAILURE-SAFE: when the merge result
            # is provably empty at runtime (e.g. a delete-only batch
            # removed every row), AQE's empty-relation propagation prunes
            # the plan subtree holding the CollectMetrics node, the
            # metrics never materialize, and .get raises from the JVM —
            # AFTER replace_files already committed. A crash here would
            # hand the caller an exception for a live snapshot (replay
            # would retry-then-fence a batch it believes failed), so on
            # any failure fall back to conservative estimates and DISARM
            # the next batch (it re-runs the exact pre-pass).
            try:
                got = pred_obs.get
                actual = int(got["__n"] or 0)
                was_delete_only = (delete_path_ok
                                   and int(got.get("__nondel", 1) or 0) == 0)
                covered = (not bucketed
                           or int(got.get("__nbk") or 0) >= m.n_buckets)
            except Exception:
                LAST_PHASES["pred_obs_lost"] = True
                table._prev_merge = {"n_staged": 0, "all_buckets": False}
                return out
        else:
            actual = n_staged
            # a delete-only batch can reach here when delete_keys declined
            # (empty table) — it must still disarm, like the predicted path
            was_delete_only = (delete_path_ok and row is not None
                               and row["__nondel"] == 0)
            covered = affected is None or all(
                len(v) >= nb for nb, v in affected.items())
        all_b = (not was_delete_only) and covered
        table._prev_merge = {"n_staged": actual, "all_buckets": all_b}
        return out
    finally:
        if persisted is not None:
            persisted.unpersist()


def snapshot_sync(
    table: LakeTable,
    source: DataFrame,
    keys: list[str],
    properties: dict | None = None,
    broadcast_threshold_rows: int = 500_000,
    compare: str = "exact",
) -> Manifest:
    """Full-snapshot reconciliation — the `MERGE … WHEN NOT MATCHED BY
    SOURCE THEN DELETE` / Delta `whenNotMatchedBySourceDelete` analog the
    reference cannot express (its closest mode is truncate_insert,
    README.md:58-61, which rewrites everything).

    `source` is a complete re-extract of the upstream table (unique on
    `keys` — the upstream primary key). After the commit the target's
    resolved state equals `source` exactly: matched-and-different rows
    update, source-only rows insert, target-only rows delete,
    matched-and-identical rows are untouched.

    The 100 TB lever is *delta derivation*: a naive resync (overwrite)
    writes O(table) and destroys row lineage for rows that never changed.
    Here one full-outer compare join (null-safe struct equality over the
    non-key payload — exact for arrays/structs/maps too) classifies every
    key; identical rows are dropped from the plan entirely, and only the
    changed/new/deleted keys feed the normal bucket-pruned MERGE. The
    compare must read the table once (inherent — the input is a full
    snapshot), but write IO is O(changed buckets) and unchanged buckets
    keep their exact files, row ids and _last_seq.

    compare='exact' (default) full-outer joins the full-width payloads —
    every byte of both sides shuffles, but equality is literal.
    compare='hash' shuffles only (key, xxhash64(payload)) — O(keys)
    shuffle bytes instead of O(corpus bytes), THE lever when the payload
    is the corpus (token arrays at 100 TB); changed/new keys then pull
    their payload from the source with a semi join AQE broadcasts when
    the delta is small. Cost: a 2^-64-per-row chance a changed row is
    missed (hash collision). Columns containing maps (unorderable and
    unhashable in Spark) are compared through their JSON rendering in
    BOTH modes — order-sensitive, so a reordered-but-equal map may cause
    a spurious (harmless) rewrite, never a missed change.
    """
    if compare not in ("exact", "hash"):
        raise ValueError(f"unknown compare {compare!r}; 'exact' or 'hash'")
    m = table.manifest()
    payload = [f["name"] for f in m.schema_version.fields]
    missing = [k for k in keys if k not in payload]
    if missing:
        raise ValueError(f"merge keys not in table schema: {missing}")
    non_keys = [c for c in payload if c not in keys]
    by_name = {f["name"]: f for f in m.schema_version.fields}
    if compare == "hash" and not non_keys:
        compare = "exact"  # key-only: presence IS the comparison

    def cmp_col(c: str, prefix: str = ""):
        # maps are neither orderable (<=>) nor hashable in Spark
        col = F.col(f"{prefix}{_qn(c)}")
        return F.to_json(col) if "map<" in by_name[c]["type"] else col

    cond = None
    for k in keys:
        c = F.col(f"T.{_qn(k)}").eqNullSafe(F.col(f"S.{_qn(k)}"))
        cond = c if cond is None else (cond & c)
    props = dict(properties or {})
    props.setdefault("operation", "snapshot-sync")

    if compare == "hash":
        digest = F.xxhash64(F.struct(*[cmp_col(c) for c in non_keys]))
        t = (table.read().select(*[_qc(k) for k in keys], digest.alias("__h"))
             .withColumn(_T_HIT, F.lit(True)).alias("T"))
        src = source.select(*[_qc(c) for c in payload])
        s = (src.select(*[_qc(k) for k in keys], digest.alias("__h"))
             .withColumn(_S_HIT, F.lit(True)).alias("S"))
        j = t.join(s, cond, "full_outer")
        matched = F.col(_T_HIT).isNotNull() & F.col(_S_HIT).isNotNull()
        same = F.col("T.__h").eqNullSafe(F.col("S.__h"))
        t_only = F.col(_S_HIT).isNull()
        key_actions = j.filter(~(matched & same)).select(
            *[F.coalesce(F.col(f"S.{_qn(k)}"), F.col(f"T.{_qn(k)}")).alias(k)
              for k in keys],
            F.when(t_only, F.lit("D")).otherwise(F.lit("U")).alias(OP_COL),
        ).persist()
        try:
            up = key_actions.filter(F.col(OP_COL) == "U") \
                .select(*[_qc(k) for k in keys]).alias("K")
            # payloads only for the delta: the source never shuffles — AQE
            # broadcasts the (small) changed-key set into a semi join
            ups = src.alias("SR").join(
                up,
                [F.col(f"SR.{_qn(k)}").eqNullSafe(F.col(f"K.{_qn(k)}")) for k in keys],
                "left_semi",
            ).withColumn(OP_COL, F.lit("U"))
            dels = key_actions.filter(F.col(OP_COL) == "D").select(
                *keys,
                *[F.lit(None).cast(by_name[c]["type"]).alias(c)
                  for c in non_keys],
                F.col(OP_COL),
            )
            actions = ups.select(*[_qc(c) for c in payload], OP_COL).unionByName(dels)
            return merge_apply(
                table, actions, keys, support_deletes=True, properties=props,
                broadcast_threshold_rows=broadcast_threshold_rows,
            )
        finally:
            key_actions.unpersist()

    t = table.read().withColumn(_T_HIT, F.lit(True)).alias("T")
    s = source.select(*[_qc(c) for c in payload]).withColumn(_S_HIT, F.lit(True)).alias("S")
    j = t.join(s, cond, "full_outer")
    matched = F.col(_T_HIT).isNotNull() & F.col(_S_HIT).isNotNull()
    if non_keys:
        same = F.struct(*[cmp_col(c, "T.") for c in non_keys]).eqNullSafe(
            F.struct(*[cmp_col(c, "S.") for c in non_keys]))
    else:  # key-only table: a matched key is by definition unchanged
        same = F.lit(True)
    t_only = F.col(_S_HIT).isNull()
    actions = j.filter(~(matched & same)).select(
        *[F.coalesce(F.col(f"S.{_qn(k)}"), F.col(f"T.{_qn(k)}")).alias(k) for k in keys],
        *[F.col(f"S.{_qn(c)}").alias(c) for c in non_keys],
        F.when(t_only, F.lit("D")).otherwise(F.lit("U")).alias(OP_COL),
    )
    return merge_apply(
        table, actions, keys, support_deletes=True, properties=props,
        broadcast_threshold_rows=broadcast_threshold_rows,
    )
