"""Incremental aggregate maintenance — keep a downstream rollup table in
sync with a CDC-managed base table WITHOUT recomputing it.

The reference has no incremental-consumption story at all (its runs are
fire-and-forget bulk loads, README.md:50-69 "Resumable: No"); once a change
feed exists (LakeTable.diff / changelog), the canonical downstream use is a
materialized aggregate: per-group counts and sums that must track the base
table batch after batch. Recomputing `GROUP BY` over 100 TB per batch is
the anti-pattern; the incremental plan is O(changed keys):

    base.diff(v, include_old=True)            # I/U/D rows + __old_* values
      -> agg_deltas(...)                      # retract old, add new, per group
      -> apply_agg_deltas(agg_tbl, deltas)    # keyed MERGE, delete-on-empty

Counts and sums are self-maintainable (deletable groups tracked by the
row count); avg derives as sum/count at read time. Group migration (a
key's group column itself changing) is handled naturally: the U row
retracts from the OLD group and adds to the NEW one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.merge import OP_COL, merge_apply
from ..sources.laketable import LakeTable

N_COL = "n_rows"  # maintained row count per group (the liveness tracker)

Measure = tuple[str, Callable[[Column], Column]]


def _measures(measures: dict[str, Measure], prefix: str) -> list[Column]:
    return [fn(F.col(prefix + src)).alias(out)
            for out, (src, fn) in measures.items()]


def agg_deltas(
    diff_df: DataFrame,
    group_cols: list[str],
    measures: dict[str, Measure],
) -> DataFrame:
    """Turn a keyed diff (LakeTable.diff(..., include_old=True)) into
    per-group deltas: one row per touched group with `n_rows` (+/-) and a
    signed delta per measure. `measures` maps output column -> (source
    column, Column->Column transform); the transform is applied to the new
    values for additions and to the `__old_` values for retractions, so it
    must be a pure per-row expression.

    Single shuffle (the groupBy); both legs are projections of the diff."""
    adds = diff_df.filter(F.col("__op").isin("I", "U")).select(
        *[F.col(g).alias(g) for g in group_cols],
        F.lit(1).cast("long").alias(N_COL),
        *_measures(measures, ""),
    )
    rets = diff_df.filter(F.col("__op").isin("U", "D")).select(
        # D rows carry old values in the regular cols too, but __old_* is
        # the uniform retract side for both ops; diff KEYS have no __old_
        # column (a key never changes within its row) — use them as-is
        *[(F.col(f"__old_{g}") if f"__old_{g}" in diff_df.columns
           else F.col(g)).alias(g) for g in group_cols],
        F.lit(-1).cast("long").alias(N_COL),
        *[(-fn(F.col(f"__old_{src}" if f"__old_{src}" in diff_df.columns
                     else src))).alias(out)
          for out, (src, fn) in measures.items()],
    )
    return adds.unionByName(rets).groupBy(*group_cols).agg(
        F.sum(N_COL).alias(N_COL),
        *[F.sum(out).alias(out) for out in measures],
    )


def apply_agg_deltas(
    agg_tbl: LakeTable,
    deltas: DataFrame,
    group_cols: list[str],
    properties: dict | None = None,
):
    """MERGE per-group deltas into the aggregate table: new totals are
    current + delta; a group whose maintained row count reaches zero is
    DELETED (so the rollup never accretes dead groups). Zero-shuffle on
    the aggregate side: the (small) delta frame broadcasts against a scan
    of the agg table to fetch current totals, inside the merge's single
    staged collect when it takes the driver placement."""
    cur = agg_tbl.read()
    measure_cols = [c for c in cur.columns if c not in group_cols and c != N_COL]
    d = deltas.alias("D")
    # Broadcasting the LEFT of a left-outer join is not a valid build side,
    # so prune the (possibly huge) agg table down to the touched groups
    # with a broadcast semi join first — one map-side scan of the agg
    # table — then left-outer the deltas against that small pruned frame.
    touched = cur.join(
        F.broadcast(deltas.select(*group_cols)), group_cols, "left_semi"
    ).alias("C")
    cond = [F.col(f"D.{g}").eqNullSafe(F.col(f"C.{g}")) for g in group_cols]
    j = d.join(F.broadcast(touched), cond, "left_outer")
    totals = [
        (F.coalesce(F.col(f"C.{m}"), F.lit(0)) + F.coalesce(F.col(f"D.{m}"), F.lit(0)))
        .alias(m)
        for m in measure_cols
    ]
    n_new = (F.coalesce(F.col(f"C.{N_COL}"), F.lit(0)) + F.col(f"D.{N_COL}"))
    staged = j.select(
        *[F.col(f"D.{g}").alias(g) for g in group_cols],
        n_new.alias(N_COL),
        *totals,
        F.when(n_new <= 0, F.lit("D")).otherwise(F.lit("U")).alias(OP_COL),
    )
    props = dict(properties or {})
    props.setdefault("operation", "agg-maintenance")
    return merge_apply(agg_tbl, staged, keys=group_cols,
                       support_deletes=True, properties=props)


WATERMARK_PROP = "agg_upto_version"  # base version the rollup has consumed

_SUM_TYPES = {
    "smallint": "bigint", "int": "bigint", "integer": "bigint",
    "bigint": "bigint", "float": "double", "double": "double",
}


def rollup_schema(base_schema, group_cols: list[str],
                  sum_cols: list[str]):
    """StructType of a maintained rollup: group columns typed as in the
    base table, `n_rows` (bigint), and one `sum_<col>` per measure
    (integrals widen to bigint, floats to double)."""
    from pyspark.sql import types as T

    by_name = {f.name: f for f in base_schema.fields}
    fields = []
    for g in group_cols:
        if g not in by_name:
            raise ValueError(f"rollup group column {g!r} not in base schema")
        fields.append(T.StructField(g, by_name[g].dataType))
    fields.append(T.StructField(N_COL, T.LongType()))
    for c in sum_cols:
        if c not in by_name:
            raise ValueError(f"rollup sum column {c!r} not in base schema")
        t = _SUM_TYPES.get(by_name[c].dataType.simpleString())
        if t is None:
            raise ValueError(f"rollup sum column {c!r} is not numeric")
        fields.append(T.StructField(
            f"sum_{c}",
            T.LongType() if t == "bigint" else T.DoubleType()))
    return T.StructType(fields)


def _sum_measures(sum_cols: list[str]) -> dict[str, Measure]:
    return {f"sum_{c}": (c, lambda col: col) for c in sum_cols}


def _recompute(base: LakeTable, group_cols, sum_cols, version=None):
    df = base.read(version=version)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(N_COL),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols])


def ensure_rollup(catalog, base: LakeTable, name: str,
                  group_cols: list[str], sum_cols: list[str]) -> LakeTable:
    """Create (or load) the rollup table for `base`. A fresh rollup is
    seeded by one recompute of the CURRENT base state — the only full pass
    it will ever take — and stamped with the base version it represents;
    every later step is incremental from that watermark."""
    if catalog.table_exists(name):
        return catalog.load(name)
    schema = rollup_schema(base.manifest().schema(), group_cols, sum_cols)
    t = catalog.create_table(name, schema, n_buckets=8,
                             bucket_key=group_cols[0])
    v = base.current_version()
    t.append(_recompute(base, group_cols, sum_cols, version=v),
             properties={WATERMARK_PROP: str(v),
                         "operation": "rollup-seed"})
    return t


def sync_rollup(base: LakeTable, agg_tbl: LakeTable, keys: list[str],
                group_cols: list[str], sum_cols: list[str]):
    """Advance the rollup to the base table's current version — exactly
    once, crash-safe: the consumed-version watermark rides the SAME commit
    as the delta MERGE (snapshot properties are atomic with the snapshot),
    so a crash anywhere leaves a watermark that makes the rerun re-derive
    precisely the missed interval. Returns the new manifest or None if
    already current."""
    upto = agg_tbl.manifest().properties.get(WATERMARK_PROP)
    if upto is None:
        raise ValueError(f"{agg_tbl.name}: not a maintained rollup "
                         f"(missing {WATERMARK_PROP})")
    upto, cur = int(upto), base.current_version()
    if cur <= upto:
        return None
    from .cdf import keyed_changes  # write-time CDF when available
    d = keyed_changes(base, upto, keys, to_version=cur)
    # the deltas are evaluated once, by the merge itself: an interval with
    # no change stages no row, and the merge's commit then rewrites no
    # file — a watermark-only commit
    return apply_agg_deltas(agg_tbl, agg_deltas(d, group_cols,
                                                _sum_measures(sum_cols)),
                            group_cols,
                            properties={WATERMARK_PROP: str(cur)})


def maintain_agg(
    base: LakeTable,
    agg_tbl: LakeTable,
    since_version: int,
    keys: list[str],
    group_cols: list[str],
    measures: dict[str, Measure],
    to_version: int | None = None,
):
    """One maintenance step: diff the base table over the interval and fold
    the per-group deltas into the aggregate table. Idempotence comes from
    the caller fencing on versions (a step is keyed by the snapshot
    interval it consumed), same as the replay driver's batch fence."""
    d = base.diff(since_version, keys=keys, to_version=to_version,
                  include_old=True)
    return apply_agg_deltas(
        agg_tbl, agg_deltas(d, group_cols, measures), group_cols,
        properties={"agg_since": str(since_version)},
    )
