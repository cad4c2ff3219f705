"""Write-time change data feed (streaming/cdf.py): captured change rows
must match diff(include_old=True) exactly for a single commit, telescope
correctly over multi-commit intervals, fall back to diff on any gap
(foreign commit, missing sidecar, schema evolution), and drive every
maintenance consumer to the same state the diff path reaches."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_output_databricks_spark.config import ConfigError, JobConfig
from embulk_output_databricks_spark.plans.merge import merge_apply
from embulk_output_databricks_spark.sources.laketable import LakeCatalog
from embulk_output_databricks_spark.streaming.cdf import (
    apply_with_cdf,
    change_feed,
    keyed_changes,
    prune_change_feed,
)

BASE = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("grp", T.StringType()),
    T.StructField("v", T.LongType()),
])


def _mk(spark, warehouse):
    cat = LakeCatalog(spark, f"{warehouse}/cdf")
    t = cat.create_table("t", BASE, n_buckets=4, bucket_key="k")
    t.append(spark.createDataFrame(
        [(1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40)], BASE))
    return cat, t


def _staged(spark, rows):
    return spark.createDataFrame(rows, "k long, grp string, v long, op string")


def _rows(df, cols=("__op", "k", "grp", "v", "__old_grp", "__old_v")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


BATCH = [
    (1, "A", 11, "U"),   # value change     -> U
    (2, "A", 20, "U"),   # identical        -> dropped (diff parity)
    (3, "B", 30, "D"),   # delete existing  -> D (old values)
    (9, "C", 90, "D"),   # delete absent    -> dropped
    (5, "C", 50, "U"),   # new key          -> I
]


def test_single_commit_feed_equals_diff(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    v1 = t.current_version()
    apply_with_cdf(t, _staged(spark, BATCH), keys=["k"])
    feed = change_feed(t, v1)
    assert feed is not None
    want = t.diff(v1, keys=["k"], include_old=True)
    assert _rows(feed) == _rows(want)
    assert _rows(feed) == [
        ("D", 3, "B", 30, "B", 30),
        ("I", 5, "C", 50, None, None),
        ("U", 1, "A", 11, "A", 10),
    ]
    assert feed.filter(F.col("__commit_version")
                       != t.current_version()).count() == 0


def test_multi_commit_interval_telescopes_and_dedups(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    v1 = t.current_version()
    apply_with_cdf(t, _staged(spark, [(1, "A", 11, "U"), (5, "C", 50, "U")]),
                   keys=["k"])
    apply_with_cdf(t, _staged(spark, [(1, "B", 12, "U"), (5, "C", 50, "D")]),
                   keys=["k"])
    feed = change_feed(t, v1)
    assert feed.count() == 4  # I,U for k=1; I,D for k=5
    # per-commit rows chain: the second U's __old_v is the FIRST U's value
    u2 = feed.filter((F.col("k") == 1)
                     & (F.col("__commit_version") == t.current_version()))
    assert u2.first()["__old_v"] == 11
    # last-per-key reduction (per-row consumers)
    last = keyed_changes(t, v1, keys=["k"], dedup_last_per_key=True)
    by_k = {r["k"]: r["__op"] for r in last.collect()}
    assert by_k == {1: "U", 5: "D"}


def test_gap_falls_back_to_diff(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    v1 = t.current_version()
    apply_with_cdf(t, _staged(spark, [(1, "A", 11, "U")]), keys=["k"])
    # a foreign commit (plain merge, no capture) punches a hole in the feed
    merge_apply(t, _staged(spark, [(2, "A", 21, "U")]), keys=["k"])
    assert change_feed(t, v1) is None
    d = keyed_changes(t, v1, keys=["k"])
    assert {(r["k"], r["__op"], r["v"]) for r in d.collect()} == \
        {(1, "U", 11), (2, "U", 21)}


def test_schema_evolution_breaks_the_feed(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    v1 = t.current_version()
    apply_with_cdf(t, _staged(spark, [(1, "A", 11, "U")]), keys=["k"])
    t.add_column("extra", "bigint")
    assert change_feed(t, v1) is None  # captured schema != current schema


def test_empty_change_batch_still_records_a_feed(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    v1 = t.current_version()
    # every staged row is identical to the target: zero change rows, but
    # the sidecar must EXIST (a gap would force the diff fallback)
    apply_with_cdf(t, _staged(spark, [(1, "A", 10, "U"), (2, "A", 20, "U")]),
                   keys=["k"])
    feed = change_feed(t, v1)
    assert feed is not None and feed.count() == 0


def test_crash_before_merge_leaves_no_sidecar(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    bad = _staged(spark, [(1, "A", 11, "U")]).withColumnRenamed("k", "kk")
    with pytest.raises(Exception):
        apply_with_cdf(t, bad, keys=["k"])
    cdf_root = os.path.join(t.root, "cdf")
    leftovers = os.listdir(cdf_root) if os.path.isdir(cdf_root) else []
    assert [f for f in leftovers if not f.startswith("_tmp")] == []


def test_prune_change_feed_follows_retention(spark, warehouse):
    cat, t = _mk(spark, warehouse)
    for i in range(4):
        apply_with_cdf(t, _staged(spark, [(1, "A", 100 + i, "U")]),
                       keys=["k"])
    t.expire_snapshots(keep_last=2)
    removed = prune_change_feed(t)
    assert removed  # dirs below the retained floor are gone
    kept = {int(fn[1:]) for fn in os.listdir(os.path.join(t.root, "cdf"))
            if fn.startswith("v")}
    retained = {int(fn[1:-5]) for fn in os.listdir(t._meta())
                if fn.startswith("v") and fn.endswith(".json")}
    assert kept <= retained


def test_consumers_sync_from_cdf(spark, warehouse):
    from embulk_output_databricks_spark.streaming.aggmaint import (
        ensure_rollup, sync_rollup)

    cat, t = _mk(spark, warehouse)
    roll = ensure_rollup(cat, t, "roll", group_cols=["grp"], sum_cols=["v"])
    apply_with_cdf(t, _staged(spark, BATCH), keys=["k"])
    apply_with_cdf(t, _staged(spark, [(5, "C", 55, "U"), (4, "B", 40, "D")]),
                   keys=["k"])
    sync_rollup(t, roll, keys=["k"], group_cols=["grp"], sum_cols=["v"])
    want = sorted(tuple(r) for r in t.read().groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v")).collect())
    got = sorted(tuple(r) for r in roll.read().collect())
    assert got == want


@pytest.mark.parametrize("budget", [None, 0])  # driver, broadcast plan
def test_null_key_update_is_one_update_everywhere(spark, warehouse,
                                                  monkeypatch, budget):
    """A committed NULL merge key is a key: re-upserting it updates the
    row in place, and the feed, diff and rollup all see one update — not
    an insert beside a stale row (the rollup once counted it twice)."""
    from embulk_output_databricks_spark.plans import merge as M
    from embulk_output_databricks_spark.streaming.aggmaint import (
        ensure_rollup, sync_rollup)

    if budget is not None:
        monkeypatch.setattr(M, "DRIVER_MERGE_MAX_BYTES", budget)
    cat, t = _mk(spark, warehouse)
    t.append(spark.createDataFrame([(None, "A", 10)], BASE))
    roll = ensure_rollup(cat, t, "roll", group_cols=["grp"], sum_cols=["v"])
    v1 = t.current_version()
    apply_with_cdf(t, _staged(spark, [(None, "A", 11, "U")]), keys=["k"])
    assert t.read().filter(F.col("k").isNull()).count() == 1
    want = [("U", None, "A", 11, "A", 10)]
    assert _rows(change_feed(t, v1)) == want
    assert _rows(t.diff(v1, keys=["k"], include_old=True)) == want
    sync_rollup(t, roll, keys=["k"], group_cols=["grp"], sum_cols=["v"])
    assert sorted(tuple(r) for r in roll.read().collect()) == sorted(
        tuple(r) for r in t.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum_v")).collect())


def test_follower_keyed_feed_from_cdf(spark, warehouse, tmp_path):
    """TableFollower keys mode served from write-time capture: a replica
    applying the frames converges to the table state across CDF-captured
    commits, multi-commit frames, and a mixed interval with a foreign
    commit (fallback to diff inside the same feed)."""
    from embulk_output_databricks_spark.streaming.tail import TableFollower

    cat, t = _mk(spark, warehouse)
    f = TableFollower(t, str(tmp_path / "c.json"), from_version=0,
                      keys=["k"])
    replica: dict = {}

    def apply_feed():
        out = f.poll()
        if out is None:
            return
        df, _frm, to = out
        for r in df.collect():
            if r["__op"] == "D":
                replica.pop(r["k"], None)
            else:
                replica[r["k"]] = (r["grp"], r["v"])
        f.advance(to)

    apply_feed()  # seed state (no CDF for the initial append: diff path)
    apply_with_cdf(t, _staged(spark, BATCH), keys=["k"])
    apply_with_cdf(t, _staged(spark, [(5, "C", 55, "U"), (1, "A", 12, "D"),
                                      (7, "D", 70, "U")]), keys=["k"])
    apply_feed()  # two captured commits in one frame
    assert replica == {r["k"]: (r["grp"], r["v"]) for r in t.read().collect()}
    # mixed interval: captured + foreign commit -> diff fallback, same state
    apply_with_cdf(t, _staged(spark, [(7, "D", 71, "U")]), keys=["k"])
    merge_apply(t, _staged(spark, [(8, "E", 80, "U")]), keys=["k"])
    apply_feed()
    assert replica == {r["k"]: (r["grp"], r["v"]) for r in t.read().collect()}


def test_joinmaint_view_from_cdf(spark, warehouse):
    """Incremental join-view maintenance over CDF-captured churn on BOTH
    sources equals the SQL join of the final states."""
    from embulk_output_databricks_spark.streaming.joinmaint import (
        ensure_join_view, sync_join_view)

    cat = LakeCatalog(spark, f"{warehouse}/jm")
    fact = cat.create_table("fact", BASE, n_buckets=4, bucket_key="k")
    dim_schema = T.StructType([T.StructField("grp", T.StringType()),
                               T.StructField("label", T.StringType())])
    dim = cat.create_table("dim", dim_schema, n_buckets=2, bucket_key="grp")
    fact.append(spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "B", 30)], BASE))
    dim.append(spark.createDataFrame([("A", "alpha"), ("B", "beta")],
                                     dim_schema))
    view = ensure_join_view(cat, fact, dim, "v", fact_key="k", fk="grp",
                            dim_key="grp", dim_cols=["label"])
    apply_with_cdf(fact, _staged(spark, [(1, "B", 11, "U"), (3, "B", 30, "D"),
                                         (4, "A", 40, "U")]), keys=["k"])
    apply_with_cdf(dim, spark.createDataFrame(
        [("A", "ALPHA", "U")], "grp string, label string, op string"),
        keys=["grp"])
    sync_join_view(fact, dim, view, fact_key="k", fk="grp",
                   dim_key="grp", dim_cols=["label"])
    want = sorted(tuple(r) for r in fact.read().join(
        dim.read(), on="grp", how="left")
        .select("k", "grp", "v", "label").collect())
    got = sorted(tuple(r) for r in view.read()
                 .select("k", "grp", "v", "label").collect())
    assert got == want


def test_config_knob_validation_and_driver_path(spark, warehouse):
    with pytest.raises(ConfigError):
        JobConfig(mode="insert", change_feed=True)
    with pytest.raises(ConfigError):
        JobConfig(mode="merge", merge_strategy="mor", change_feed=True)
    with pytest.raises(ConfigError):
        JobConfig(mode="merge", change_feed=True, merge_guard_col="ts")

    from embulk_output_databricks_spark.streaming.replay import ReplayDriver
    from embulk_output_databricks_spark.synth import synth_binlog

    cfg = JobConfig(mode="merge", n_buckets=4, change_feed=True,
                    rollups=[{"name": "by_source", "group_by": ["source"],
                              "sums": ["n_tok"]}])
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/drv"), cfg)
    drv.run_batch(synth_binlog(spark, 300, 40, 300), 0)
    v_seed = drv.rollups[0][0]  # rollup seeded at batch-0 state
    drv.run_batch(synth_binlog(spark, 300, 40, 300, start=300), 1)
    # the driver's merge captured a CDF sidecar for the batch-1 commit
    assert os.path.isdir(os.path.join(drv.table.root, "cdf",
                                      f"v{drv.table.current_version()}"))
    agg = drv.rollups[0][0]
    want = sorted(tuple(r) for r in drv.table.read().groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_tok").alias("sum_n_tok")).collect())
    assert sorted(tuple(r) for r in agg.read().collect()) == want
