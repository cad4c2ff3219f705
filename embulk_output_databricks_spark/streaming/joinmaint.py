"""Incremental join-view maintenance — keep a denormalized enrichment view
`V = fact ⟕ dim` in sync with TWO CDC-managed tables without recomputing
the join.

The reference has no incremental-consumption story (fire-and-forget bulk
loads, README.md:50-69); aggmaint.py covers the aggregate leg of view
maintenance, this module covers the join leg — the training-pipeline shape
"documents enriched with per-source metadata": a 10^10-row fact table
left-joined to a dimension keyed by the fact's foreign key. Recomputing
the join per batch is O(fact); the incremental plan is O(changed rows):

    dA = fact.diff(upto_a)        # fact churn: recompute THOSE rows vs dim
    dB = dim.diff(upto_b)         # dim churn: recompute fact rows whose
                                  #   fk hits a changed dim key
      -> one keyed MERGE into V (delete-on-fact-delete), both consumed
         versions riding the SAME snapshot commit (exactly-once, the
         aggmaint watermark contract applied to two sources)

Semantics are LEFT join on `fact.fk = dim.dim_key`: a fact row with no
(or a deleted) dim reads NULL dim columns — a dim delete therefore fans
out as an UPDATE of its fact rows, not a delete. The view is keyed by the
fact's merge key, so overlap between the two legs (a fact row changed
while its dim also changed) stages once (the fact leg wins; it already
joined the current dim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.merge import OP_COL, merge_apply
from ..sources.laketable import LakeTable, sort_order_properties

UPTO_A_PROP = "join_upto_fact"  # fact version the view has consumed
UPTO_B_PROP = "join_upto_dim"   # dim version the view has consumed

# above this many changed dim keys, probe the fact side with a semi join
# instead of an eq_filter IN-list (driver-side list size + bloom probing)
_EQ_FILTER_MAX_KEYS = 10_000


def _dim_slice(dim: LakeTable, dim_key: str, fks: DataFrame) -> DataFrame:
    """Current dim rows for the (small) fk set: one scan of the dim,
    pruned by a broadcast semi join (at scale, the dim is also bucketed
    by its key, so only matching buckets' files are even opened once the
    caller threads bucket pruning; the semi join keeps this exact)."""
    probe = fks.distinct().withColumnRenamed(fks.columns[0], "__fkprobe")
    return dim.read().join(F.broadcast(probe),
                           F.col(dim_key) == F.col("__fkprobe"),
                           "left_semi")


def _enrich(fact_rows: DataFrame, dim: LakeTable, fk: str, dim_key: str,
            dim_cols: list[str]) -> DataFrame:
    """fact_rows ⟕ current dim, dim side pruned to the touched keys and
    broadcast — the fact side never shuffles."""
    ds = _dim_slice(dim, dim_key, fact_rows.select(F.col(fk)))
    d = ds.select(F.col(dim_key).alias("__dk"),
                  *[F.col(c) for c in dim_cols]).alias("D")
    j = fact_rows.alias("FR").join(
        F.broadcast(d), F.col(f"FR.{fk}") == F.col("D.__dk"), "left_outer")
    return j.select("FR.*", *[F.col(f"D.{c}").alias(c) for c in dim_cols])


def view_schema(fact: LakeTable, dim: LakeTable, dim_cols: list[str]):
    """StructType of the maintained view: every fact payload column plus
    the selected dim columns (names must not collide)."""
    from pyspark.sql import types as T

    f_fields = list(fact.manifest().schema().fields)
    f_names = {f.name for f in f_fields}
    d_by = {f.name: f for f in dim.manifest().schema().fields}
    out = list(f_fields)
    for c in dim_cols:
        if c in f_names:
            raise ValueError(f"dim column {c!r} collides with a fact column")
        if c not in d_by:
            raise ValueError(f"dim column {c!r} not in dim schema")
        out.append(T.StructField(c, d_by[c].dataType))
    return T.StructType(out)


def ensure_join_view(catalog, fact: LakeTable, dim: LakeTable, name: str,
                     fact_key: str, fk: str, dim_key: str,
                     dim_cols: list[str],
                     rows_per_file: int | None = 65_536) -> LakeTable:
    """Create (or load) the view table. A fresh view is seeded by ONE full
    join of the current fact and dim states — the only full pass it will
    ever take — and stamped with both consumed versions; every later step
    is incremental from those watermarks. The view is sort-ordered on the
    fact key with bounded file size so the maintenance MERGE's file-level
    pruning has narrow per-file bounds — without it every sync rewrites
    the whole view regardless of churn size (same measurement as
    ensure_scd2's docstring)."""
    if catalog.table_exists(name):
        return catalog.load(name)
    schema = view_schema(fact, dim, dim_cols)
    t = catalog.create_table(name, schema, n_buckets=fact.manifest().n_buckets,
                             bucket_key=fact_key,
                             properties={"merge_keys": fact_key,
                                         **sort_order_properties(
                                             [fact_key], rows_per_file)})
    va, vb = fact.current_version(), dim.current_version()
    fa = fact.read(version=va).alias("A")
    db = dim.read(version=vb).select(
        F.col(dim_key).alias("__dk"), *dim_cols).alias("B")
    seeded = fa.join(db, F.col(f"A.{fk}") == F.col("B.__dk"), "left_outer") \
        .select("A.*", *[F.col(f"B.{c}").alias(c) for c in dim_cols])
    t.append(seeded, properties={UPTO_A_PROP: str(va), UPTO_B_PROP: str(vb),
                                 "operation": "join-view-seed"})
    return t


def sync_join_view(fact: LakeTable, dim: LakeTable, view: LakeTable,
                   fact_key: str, fk: str, dim_key: str,
                   dim_cols: list[str], strategy: str = "cow"):
    """Advance the view to both sources' current versions — exactly once,
    crash-safe: the two consumed-version watermarks ride the SAME snapshot
    commit as the MERGE, so a crash anywhere re-derives precisely the
    missed interval. Cost is O(changed fact rows + fact rows of changed
    dim keys): the dim-churn probe uses read(eq_filter={fk: keys}) when
    the changed-key set is small — per-file bloom/bounds skipping makes it
    a point lookup on a fact table clustered or bloom-indexed on the fk —
    and falls back to one semi-joined scan otherwise. Returns the new
    manifest, or None when both sources are already consumed.

    strategy: 'cow' (default) rewrites the view files holding churned
    keys — O(matched files) with the view's sort order when churn has
    key locality; 'mor' appends the staged rows as delta files — write
    cost O(churn) even for key-scattered churn (read() resolves winners
    per fact_key; compact() folds deltas on the maintenance cadence)."""
    props = view.manifest().properties
    if UPTO_A_PROP not in props or UPTO_B_PROP not in props:
        raise ValueError(f"{view.name}: not a maintained join view")
    upto_a, upto_b = int(props[UPTO_A_PROP]), int(props[UPTO_B_PROP])
    va, vb = fact.current_version(), dim.current_version()
    if va <= upto_a and vb <= upto_b:
        return None
    payload = [f.name for f in fact.manifest().schema().fields]

    legs: list[DataFrame] = []
    d_a = None
    from .cdf import keyed_changes  # write-time CDF when available

    if va > upto_a:
        d_a = keyed_changes(fact, upto_a, [fact_key], to_version=va,
                            include_old=False,
                            dedup_last_per_key=True).persist()
        changed = d_a.filter(F.col("__op").isin("I", "U")).select(*payload)
        # fact churn: re-enrich exactly those rows against the current dim
        legs.append(_enrich(changed, dim, fk, dim_key, dim_cols)
                    .withColumn(OP_COL, F.lit("U")))
        # fact deletes drop the view row
        legs.append(d_a.filter(F.col("__op") == "D").select(
            *payload,
            *[F.lit(None).cast(view.manifest().schema()[c].dataType).alias(c)
              for c in dim_cols],
            F.lit("D").alias(OP_COL)))
    if vb > upto_b:
        d_b = keyed_changes(dim, upto_b, [dim_key], to_version=vb,
                            include_old=False, dedup_last_per_key=True)
        keys_df = d_b.select(F.col(dim_key)).distinct().persist()
        key_rows = keys_df.limit(_EQ_FILTER_MAX_KEYS + 1).collect()
        if len(key_rows) <= _EQ_FILTER_MAX_KEYS:
            vals = [r[0] for r in key_rows if r[0] is not None]
            hit = fact.read(eq_filter={fk: vals}) if vals else None
        else:  # huge dim churn: one semi-joined fact scan
            hit = fact.read().join(F.broadcast(keys_df),
                                   F.col(fk) == F.col(dim_key), "left_semi")
        if hit is not None:
            # rows already re-enriched by the fact leg stage once (fact
            # leg joined the current dim, so it is already right)
            if d_a is not None:
                hit = hit.join(F.broadcast(d_a.select(fact_key)),
                               [fact_key], "left_anti")
            legs.append(_enrich(hit.select(*payload), dim, fk, dim_key,
                                dim_cols).withColumn(OP_COL, F.lit("U")))
        keys_df.unpersist()

    new_props = {UPTO_A_PROP: str(va), UPTO_B_PROP: str(vb),
                 "operation": "join-view-maintenance"}
    if not legs:  # dim churn touched no live fk: watermarks advance alone
        return view.update_properties(new_props)
    staged = legs[0]
    for l in legs[1:]:
        staged = staged.unionByName(l)
    try:
        if staged.isEmpty():
            return view.update_properties(new_props)
        if strategy == "mor":
            from ..plans.merge import merge_apply_mor
            return merge_apply_mor(view, staged, keys=[fact_key],
                                   support_deletes=True,
                                   properties=new_props)
        # predictive=False: the view is seeded by one full join (a huge
        # first write), and the full-swap predictor keys off the
        # previous merge — a diff-sized sync right after it would be
        # mispredicted into an unpruned full-view rewrite. Syncs are
        # diff-sized by construction.
        return merge_apply(view, staged, keys=[fact_key],
                           support_deletes=True, properties=new_props,
                           predictive=False)
    finally:
        if d_a is not None:
            d_a.unpersist()
