"""SCD2 (type-2 slowly-changing-dimension) history maintenance — keep a
full per-key version history of a CDC stream, not just the LWW winner.

The reference can only materialize CURRENT state (its merge mode is
`WHEN MATCHED THEN UPDATE`, DatabricksOutputConnection.java:180-232 — the
previous row image is destroyed on every update, and README.md:50-69 offers
no history story at all). The canonical warehouse answer is a type-2
dimension: every change APPENDS a new version row and CLOSES the previous
one, giving point-in-time reads (`AS OF` by value time, not snapshot time)
and churn analysis over the key's lifetime.

Per-batch plan (cost O(batch), never O(history)):

    batch (change events, per-key ordered by (ts, tie))
      -> intra-batch chaining: lead(ts) per key = each version's valid_to
      -> cross-batch closing: the table's OPEN row per touched key gets
         valid_to = the batch's first event time (point lookup on the
         key — bloom/bounds-pruned read, not a history scan)
      -> one keyed MERGE (keys + tie uniquely name a version row)

Delivery contract: batches arrive per-key time-ordered (the replay
driver's fence already guarantees LSN-ordered batches). Re-delivery of an
already-applied suffix is idempotent: a re-sent event matches its existing
history row by (keys, tie) and re-writes the same values, and the open row
is never closed by an event at-or-before its own (valid_from, tie). An
UNSEEN event strictly older than a key's open row is out of contract
(retroactive history rewrite — restate the slice instead).

Delete events (op='D') close the key's open row without opening a new one;
a later upsert re-opens — the history then has a gap, which is the correct
type-2 rendering of delete-then-recreate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.merge import OP_COL, merge_apply
from ..sources.laketable import LakeTable, sort_order_properties

VALID_FROM = "valid_from"   # event time this version became true
VALID_TO = "valid_to"       # event time it stopped (NULL = still open)
IS_CURRENT = "is_current"

# above this many touched keys, prune the open-row lookup with a semi join
# instead of a driver-side eq_filter IN-list (same policy as joinmaint)
_EQ_FILTER_MAX_KEYS = 10_000


def scd2_schema(base_schema: T.StructType, ts_col: str) -> T.StructType:
    """StructType of the history table: every payload column (the change
    envelope's `op` column is consumed, not stored) plus the three SCD2
    fields — valid_from/valid_to typed as the event-time column."""
    fields = [f for f in base_schema.fields if f.name != OP_COL]
    by_name = {f.name: f for f in fields}
    if ts_col not in by_name:
        raise ValueError(f"scd2 ts column {ts_col!r} not in schema")
    ts_t = by_name[ts_col].dataType
    return T.StructType(fields + [
        T.StructField(VALID_FROM, ts_t),
        T.StructField(VALID_TO, ts_t),
        T.StructField(IS_CURRENT, T.BooleanType()),
    ])


def ensure_scd2(catalog, name: str, base_schema: T.StructType,
                keys: list[str], ts_col: str, n_buckets: int = 8,
                properties: dict | None = None,
                rows_per_file: int | None = 65_536) -> LakeTable:
    """Create (or load) the history table. Bucketed on the first key so the
    open-row point lookup and the version MERGE both bucket-prune, and
    SORT-ORDERED on (first key, valid_from) with bounded file size so the
    MERGE's file-level pruning has narrow per-file key bounds to work
    with. Without the order the history degenerates to one
    whole-keyrange file per bucket and every COW apply rewrites the
    ENTIRE table regardless of batch size (measured: a 5k-doc batch into
    an 805k-row history rewrote all 805k rows; with order + splitting
    the rewrite is O(files holding touched keys)). At 10^10 rows that is
    the difference between an O(batch) apply and an hours-long full
    rewrite per batch."""
    if catalog.table_exists(name):
        return catalog.load(name)
    return catalog.create_table(
        name, scd2_schema(base_schema, ts_col), n_buckets=n_buckets,
        bucket_key=keys[0],
        properties={**(properties or {}), **sort_order_properties(
            [keys[0], VALID_FROM], rows_per_file)})


def _open_rows(tbl: LakeTable, keys: list[str],
               touched: DataFrame) -> DataFrame:
    """Current (open) history rows for the touched keys. Single-column key
    with a small batch → eq_filter IN-list (bloom + bounds file skipping,
    IO O(matching files)); otherwise one scan pruned by a broadcast semi
    join."""
    cur = None
    if len(keys) == 1:
        ks = [r[0] for r in
              touched.select(keys[0]).limit(_EQ_FILTER_MAX_KEYS + 1).collect()]
        if len(ks) <= _EQ_FILTER_MAX_KEYS:
            cur = tbl.read(eq_filter={keys[0]: ks})
    if cur is None:
        cur = tbl.read().join(F.broadcast(touched.select(*keys)),
                              keys, "left_semi")
    return cur.filter(F.col(IS_CURRENT))


def scd2_apply(tbl: LakeTable, batch: DataFrame, keys: list[str],
               ts_col: str, tie_col: str, properties: dict | None = None,
               strategy: str = "cow"):
    """Fold one ordered batch of change events into the history table.

    `batch` carries the payload columns (including `ts_col` and `tie_col`,
    whose pair totally orders events within a key and uniquely names each
    event) plus an optional `op` column ('D' = delete, anything else
    upserts). Returns the new manifest.

    strategy: 'cow' (default) rewrites the files holding closed rows —
    O(matched files) with the sort order ensure_scd2 sets, best when
    batches have key locality; 'mor' appends the batch as delta files
    (merge_apply_mor) — write cost O(batch) even when the touched keys
    are scattered across every file, the right choice for uniform-churn
    CDC into a huge history (read() resolves winners per (keys, tie);
    compact() folds deltas down on the maintenance cadence)."""
    payload = [c for c in batch.columns if c != OP_COL]
    has_op = OP_COL in batch.columns
    is_del = (F.coalesce(F.col(OP_COL) == "D", F.lit(False))
              if has_op else F.lit(False))
    w = Window.partitionBy(*keys).orderBy(ts_col, tie_col)
    b = batch.withColumn("__next_ts", F.lead(ts_col).over(w))

    # intra-batch chaining: every non-delete event opens a version whose
    # valid_to is the key's NEXT event in the batch (deletes participate
    # as closers via lead() but materialize no row of their own)
    new_rows = b.filter(~is_del).select(
        *payload,
        F.col(ts_col).alias(VALID_FROM),
        F.col("__next_ts").alias(VALID_TO),
        F.col("__next_ts").isNull().alias(IS_CURRENT),
    )

    # cross-batch closing: the table's open row per touched key closes at
    # the batch's FIRST event time — but only when strictly older than
    # that event, so re-delivered suffixes cannot close their own rows
    firsts = b.groupBy(*keys).agg(
        F.min(F.struct(F.col(ts_col).alias("ts"),
                       F.col(tie_col).alias("tie"))).alias("__first"))
    o = _open_rows(tbl, keys, firsts).alias("O")
    fk = F.broadcast(firsts).alias("FK")
    cond = None
    for k in keys:
        c = F.col(f"O.{k}").eqNullSafe(F.col(f"FK.{k}"))
        cond = c if cond is None else (cond & c)
    closed = (
        o.join(fk, cond, "inner")
        .filter(F.struct(F.col(f"O.{VALID_FROM}").alias("ts"),
                         F.col(f"O.{tie_col}").alias("tie"))
                < F.col("FK.__first"))
        .select(*[F.col(f"O.{c}").alias(c) for c in payload],
                F.col(f"O.{VALID_FROM}").alias(VALID_FROM),
                F.col("FK.__first.ts").alias(VALID_TO),
                F.lit(False).alias(IS_CURRENT))
    )

    staged = new_rows.unionByName(closed)
    props = dict(properties or {})
    props.setdefault("operation", "scd2-apply")
    if strategy == "mor":
        from ..plans.merge import merge_apply_mor
        return merge_apply_mor(tbl, staged, keys=keys + [tie_col],
                               properties=props)
    # predictive=False: the full-swap predictor keys off the PREVIOUS
    # merge's size, and a history is typically seeded by huge folds —
    # the first small diff batch after one would be mispredicted into an
    # unpruned full-table rewrite. SCD2 folds are diff-sized by
    # construction (never the steady-large-batch regime the predictor
    # serves), so the pre-pass is always worth its one job here.
    return merge_apply(tbl, staged, keys=keys + [tie_col],
                       properties=props, predictive=False)


def scd2_current(tbl: LakeTable) -> DataFrame:
    """The dimension's CURRENT state — exactly what an LWW-maintained
    table of the same stream would hold (deleted keys absent)."""
    return tbl.read().filter(F.col(IS_CURRENT))


def scd2_as_of(tbl: LakeTable, ts) -> DataFrame:
    """Point-in-time read by VALUE time (not snapshot time): the version
    of each key that was true at `ts`. Half-open intervals
    [valid_from, valid_to): an event at exactly `ts` is already visible.
    With the history clustered/sorted on valid_from, footer bounds prune
    files entirely outside the asked instant."""
    return tbl.read().filter(
        (F.col(VALID_FROM) <= F.lit(ts))
        & (F.col(VALID_TO).isNull() | (F.col(VALID_TO) > F.lit(ts))))
