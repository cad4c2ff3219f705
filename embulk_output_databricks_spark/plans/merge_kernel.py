"""Arrow merge kernel: one keyed upsert/delete of a staged batch into the
touched target rows, batch-at-a-time over Arrow columns (no per-row
Python).

It is the in-memory form of the two Spark COW plans in plans/merge.py
and returns what each of them implies from one key-match rule:

  * the rewritten rows: kept target rows, updated rows and inserts, with
    the row-lineage carry rules of `broadcast_upsert_plan` (an updated row
    keeps the target `_row_id` and writes a NULL `_last_seq`, an insert
    writes NULL for both; a staged side that carries lineage wins, the
    MOR fold rule);
  * the change rows `capture_change_rows` (streaming/cdf.py) would record:
    `__op` I/U/D, payload (D rows carry the old values) and `__old_<col>`
    for every non-key column; no-op updates and deletes of absent keys
    record nothing.

Keys match null-safely (the Spark plans' `eqNullSafe`): NULL equals NULL
per key component. The staged side holds at most one row per key and the
`op` column, when present, marks deletes with 'D' (a NULL op upserts). A
`__bucket` column present on both sides is carried through: kept and
updated rows keep the target's, inserts take the staged one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..sources.laketable import _BUCKET_COL as BUCKET, LAST_SEQ, ROW_ID

OP_COL = "op"


def _key_codes(t_cols: list, s_cols: list) -> tuple[np.ndarray, np.ndarray]:
    """Dense int codes of the (composite) key of every target and staged
    row; equal codes <=> null-safe equal keys."""
    n_t = len(t_cols[0])
    code = None
    for tc, sc in zip(t_cols, s_cols):
        both = pa.concat_arrays([tc.combine_chunks(), sc.combine_chunks()])
        enc = pc.dictionary_encode(both, null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if code is None:
            code = idx
        else:
            code = np.unique(code * len(enc.dictionary) + idx,
                             return_inverse=True)[1]
    return code[:n_t], code[n_t:]


def _same(a, b) -> np.ndarray:
    """Null-safe per-row equality of two equally long columns (Spark's
    `<=>`: NULL equals NULL, NaN equals NaN; lists compare element-wise)."""
    if isinstance(a, pa.ChunkedArray):
        a, b = a.combine_chunks(), b.combine_chunks()
    both_null = pc.and_(a.is_null(), b.is_null()).to_numpy(
        zero_copy_only=False)
    if pa.types.is_list(a.type):
        same_len = pc.fill_null(pc.equal(pc.list_value_length(a),
                                         pc.list_value_length(b)), False)
        idx = np.flatnonzero(same_len.to_numpy(zero_copy_only=False))
        ta, tb = a.take(pa.array(idx)), b.take(pa.array(idx))
        differs = np.zeros(len(idx), dtype=bool)
        parents = pc.list_parent_indices(ta).to_numpy(zero_copy_only=False)
        differs[parents[~_same(pc.list_flatten(ta), pc.list_flatten(tb))]] = True
        out = both_null.copy()
        out[idx] = ~differs
        return out
    eq = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
    if pa.types.is_floating(a.type):
        eq = eq | pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)),
                               False).to_numpy(zero_copy_only=False)
    return eq | both_null


def merge_kernel(target: pa.Table, staged: pa.Table, keys: list[str],
                 payload: list[str], support_deletes: bool = True
                 ) -> tuple[pa.Table, pa.Table]:
    """(rewritten rows, change rows) of merging `staged` into `target`.

    `target`: payload + `_row_id` + `_last_seq` (+ `__bucket`), every row
    of the touched files. `staged`: one row per key, payload (+ `op`)
    (+ `__bucket`) (+ `_row_id`/`_last_seq`), typed like `target`."""
    t_code, s_code = _key_codes([target[k] for k in keys],
                                [staged[k] for k in keys])
    n_codes = int(max(t_code.max(initial=-1), s_code.max(initial=-1))) + 1
    where = np.full(n_codes, -1, dtype=np.int64)
    where[s_code] = np.arange(len(s_code))
    t_hit = where[t_code]                    # staged row of each target row
    matched = t_hit >= 0
    seen = np.zeros(n_codes, dtype=bool)
    seen[t_code] = True
    s_matched = seen[s_code]
    if OP_COL in staged.column_names and support_deletes:
        s_del = pc.fill_null(pc.equal(staged[OP_COL], "D"), False) \
            .to_numpy(zero_copy_only=False).astype(bool)
    else:
        s_del = np.zeros(staged.num_rows, dtype=bool)
    t_del = matched & s_del[np.where(matched, t_hit, 0)]
    upd = matched & ~t_del
    ins = ~s_matched & ~s_del

    bucket = [BUCKET] if BUCKET in target.column_names else []
    lineage = [ROW_ID, LAST_SEQ]
    kept = target.filter(pa.array(~matched)).select(payload + lineage + bucket)
    old = target.filter(pa.array(upd))
    new = staged.take(pa.array(t_hit[upd]))
    rid, lsq = old[ROW_ID], pa.nulls(len(old), pa.int64())
    if ROW_ID in staged.column_names:
        rid = pc.coalesce(new[ROW_ID], rid)
    if LAST_SEQ in staged.column_names:
        lsq = pc.coalesce(new[LAST_SEQ], old[LAST_SEQ])
    updated = pa.table([new[c] for c in payload] + [rid, lsq]
                       + [old[c] for c in bucket],
                       names=payload + lineage + bucket)
    added = staged.filter(pa.array(ins))
    none = pa.nulls(len(added), pa.int64())
    inserted = pa.table(
        [added[c] for c in payload]
        + [added[c] if c in staged.column_names else none for c in lineage]
        + [added[c] for c in bucket],
        names=payload + lineage + bucket)
    rows = pa.concat_tables([kept, updated.cast(kept.schema),
                             inserted.cast(kept.schema)])

    non_keys = [c for c in payload if c not in keys]
    changed = np.zeros(len(old), dtype=bool)
    for c in non_keys:
        changed |= ~_same(new[c], old[c])
    gone = target.filter(pa.array(t_del))
    ch = pa.array(changed)
    parts = []
    for op, vals, olds in (("D", gone, gone),
                           ("U", new.filter(ch), old.filter(ch)),
                           ("I", added, None)):
        n = len(vals)
        cols = [vals[c] for c in payload] + [pa.array([op] * n, pa.string())]
        cols += [olds[c] if olds is not None
                 else pa.nulls(n, target.schema.field(c).type)
                 for c in non_keys]
        parts.append(pa.table(cols, names=payload + ["__op"]
                              + [f"__old_{c}" for c in non_keys]))
    changes = pa.concat_tables([p.cast(parts[0].schema) for p in parts])
    return rows, changes
