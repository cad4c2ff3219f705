"""The three COW merge plans (plans/merge.py): driver (Arrow kernel),
broadcast and shuffle give identical final state across the upsert /
rules / delete / composite-key / null-key matrix, and replay equivalence.
The broadcast plan never shuffles the target (the steady-state small-batch
regime) and is forced by a zero driver byte budget; threshold 0 forces
the full-outer shuffle join."""

import pytest
from pyspark.sql import functions as F

from embulk_output_databricks_spark.config import JobConfig
from embulk_output_databricks_spark.plans import merge as M
from embulk_output_databricks_spark.plans.merge import merge_apply
from embulk_output_databricks_spark.schema import SEQUENCES_SCHEMA
from embulk_output_databricks_spark.sources.laketable import LakeCatalog
from embulk_output_databricks_spark.streaming.replay import ReplayDriver
from embulk_output_databricks_spark.synth import synth_binlog
from embulk_output_databricks_spark.operators.lww import lww_dedup
from tests.test_replay import python_oracle, table_state


def plans(monkeypatch):
    """(plan name, broadcast threshold) for each plan in turn, with the
    driver byte budget patched to 0 while the broadcast plan runs."""
    for name, thresh, budget in (("driver", 10**9, M.DRIVER_MERGE_MAX_BYTES),
                                 ("broadcast", 10**9, 0),
                                 ("shuffle", 0, M.DRIVER_MERGE_MAX_BYTES)):
        with monkeypatch.context() as mp:
            mp.setattr(M, "DRIVER_MERGE_MAX_BYTES", budget)
            yield name, thresh


def _staged(spark, n, start=0, delete_frac=0.0):
    ev = synth_binlog(spark, n, max(10, n // 5), n, start=start,
                      delete_frac=delete_frac)
    return lww_dedup(ev).select("doc_id", "tokens", "n_tok", "source", "op")


@pytest.mark.parametrize("rules", [None, {"n_tok": "T.n_tok + S.n_tok"}])
def test_broadcast_and_shuffle_plans_agree(spark, warehouse, monkeypatch,
                                          rules):
    results = []
    for plan, thresh in plans(monkeypatch):
        cat = LakeCatalog(spark, f"{warehouse}/{plan}")
        tbl = cat.create_table("t", SEQUENCES_SCHEMA, n_buckets=4,
                               bucket_key="doc_id")
        tbl.append(_staged(spark, 120).drop("op"))
        merge_apply(tbl, _staged(spark, 150, start=60, delete_frac=0.2),
                    keys=["doc_id"], merge_rules=rules,
                    broadcast_threshold_rows=thresh)
        # merge_rules keep the Spark plans
        assert M.LAST_PHASES["plan"] == (
            "broadcast" if rules and plan == "driver" else plan)
        results.append((table_state(tbl), sorted(
            (r["doc_id"], r["_row_id"], r["_last_seq"])
            for r in tbl.read(with_row_ids=True).collect())))
    assert results[0] == results[1] == results[2]
    assert len(results[0][0]) > 0


def test_replay_identical_under_both_plans(spark, warehouse, monkeypatch):
    binlog = synth_binlog(spark, 1200, 80, 400, hot_frac=0.1,
                          delete_frac=0.1).cache()
    states = []
    for plan, thresh in plans(monkeypatch):
        drv = ReplayDriver(
            LakeCatalog(spark, f"{warehouse}/{plan}"),
            JobConfig(mode="merge", n_buckets=4,
                      broadcast_merge_threshold=thresh))
        drv.replay(binlog)
        assert M.LAST_PHASES["plan"] == plan
        states.append(table_state(drv.table))
    assert states[0] == states[1] == states[2] == python_oracle(
        [r.asDict() for r in binlog.collect()])
    binlog.unpersist()


def test_null_op_rows_insert_under_both_plans(spark, warehouse, monkeypatch):
    """A staged row whose op is NULL (e.g. a permissively-parsed event) must
    INSERT when unmatched under EVERY plan — the broadcast insert filter
    once dropped it (~NULL is NULL, filter discards)."""
    states = []
    base_keys = {r["doc_id"] for r in _staged(spark, 50).collect()}
    batch = _staged(spark, 80, start=20).withColumn(
        "op", F.when(F.col("n_tok") % 2 == 0, None).otherwise(F.col("op")))
    null_unmatched = {r["doc_id"] for r in batch.collect()
                      if r["op"] is None and r["doc_id"] not in base_keys}
    assert null_unmatched  # the scenario under test actually occurs
    for plan, thresh in plans(monkeypatch):
        cat = LakeCatalog(spark, f"{warehouse}/no{plan}")
        tbl = cat.create_table("t", SEQUENCES_SCHEMA, n_buckets=4,
                               bucket_key="doc_id")
        tbl.append(_staged(spark, 50).drop("op"))
        merge_apply(tbl, batch, keys=["doc_id"], broadcast_threshold_rows=thresh)
        assert M.LAST_PHASES["plan"] == plan
        states.append(table_state(tbl))
    assert states[0] == states[1] == states[2]
    # the NULL-op unmatched rows were INSERTED, not dropped
    assert null_unmatched <= set(states[0])


def test_broadcast_plan_composite_keys_with_nulls(spark, warehouse,
                                                  monkeypatch):
    """eqNullSafe parity: NULL key components match each other under every
    plan (composite key with a nullable component)."""
    states = []
    for plan, thresh in plans(monkeypatch):
        cat = LakeCatalog(spark, f"{warehouse}/n{plan}")
        tbl = cat.create_table("t", SEQUENCES_SCHEMA, n_buckets=4,
                               bucket_key="doc_id")
        base = _staged(spark, 100).drop("op").withColumn(
            "source", F.when(F.col("n_tok") % 3 == 0, None)
            .otherwise(F.col("source")))
        tbl.append(base)
        batch = _staged(spark, 100, start=40).withColumn(
            "source", F.when(F.col("n_tok") % 3 == 0, None)
            .otherwise(F.col("source")))
        merge_apply(tbl, batch, keys=["doc_id", "source"],
                    broadcast_threshold_rows=thresh)
        assert M.LAST_PHASES["plan"] == plan
        states.append({(r["doc_id"], r["source"]): (list(r["tokens"]), r["n_tok"])
                       for r in tbl.read().collect()})
    assert states[0] == states[1] == states[2] and len(states[0]) > 0

# ------------- driver placement: kernel vs Spark plans, CDF, crash -------

import os

import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from embulk_output_databricks_spark.sources.laketable import (
    LakeTable, sort_order_properties)
from embulk_output_databricks_spark.streaming.cdf import (
    apply_with_cdf, change_feed, keyed_changes)

_SCHEMA = "k1 string, k2 bigint, toks array<int>, v bigint"
_key = st.tuples(st.sampled_from(["a", "b", None]),
                 st.one_of(st.none(), st.integers(0, 2)))
_toks = st.one_of(st.none(), st.lists(st.integers(0, 9), max_size=3))
_init = st.dictionaries(_key, st.tuples(_toks, st.integers(-3, 3)),
                        max_size=8)
_batch = st.dictionaries(_key, st.tuples(_toks, st.integers(-3, 3),
                                         st.sampled_from(["U", "D", None])),
                         min_size=1, max_size=8)


def _sort_key(k):
    return tuple((x is not None, x) for x in k)  # ascending, NULLs first


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_init, _batch, st.booleans())
@example(init={("a", None): ([1, 2], 1), ("b", 0): (None, 2)},
         batch={("a", None): ([1, 2], 1, "U"),     # identical re-upsert
                ("b", 1): ([3], 0, "D"),           # delete of an absent key
                ("b", 0): (None, 2, "D"),          # delete
                (None, None): ([], None, None)},   # NULL op upserts
         reupsert=False)
@example(init={}, batch={("a", 1): ([5], 5, "U")}, reupsert=False)
def test_driver_kernel_matches_spark_plans(spark, tmp_path_factory,
                                           monkeypatch, init, batch,
                                           reupsert):
    """The Arrow kernel (driver placement), broadcast_upsert_plan and the
    full-outer plan commit the same rows, `_row_id`, `_last_seq` and
    change rows for any target and batch; the driver writes the same
    files as the broadcast plan under a sort order with rows_per_file."""
    if reupsert and init:
        k, (toks, v) = next(iter(init.items()))
        batch = {**batch, k: (toks, v, "U")}
    model = {k: (t, v) for k, (t, v) in init.items()}
    for k, (t, v, op) in batch.items():
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = (t, v)
    out = []
    for plan, thresh in plans(monkeypatch):
        tbl = LakeCatalog(spark, str(tmp_path_factory.mktemp("kprop"))) \
            .create_table("t", spark.createDataFrame([], _SCHEMA).schema,
                          n_buckets=2, bucket_key="k1",
                          properties=sort_order_properties(["k1", "k2"], 2))
        if init:
            tbl.append(spark.createDataFrame(
                [(*k, t, v) for k, (t, v) in init.items()], _SCHEMA))
        m0 = tbl.manifest()
        apply_with_cdf(tbl, spark.createDataFrame(
            [(*k, t, v, op) for k, (t, v, op) in batch.items()],
            _SCHEMA + ", op string"), keys=["k1", "k2"],
            broadcast_threshold_rows=thresh)
        assert M.LAST_PHASES["plan"] == plan
        rows = sorted((((r.k1, r.k2), r.toks, r.v, r._row_id, r._last_seq)
                       for r in tbl.read(with_row_ids=True).collect()),
                      key=repr)
        assert {k: (t, v) for k, t, v, _, _ in rows} == model
        feed = sorted((tuple(r) for r in change_feed(tbl, m0.version)
                       .drop("__commit_version").collect()), key=repr)
        old = {f["path"] for f in m0.files}
        files = []
        for f in tbl.manifest().files:
            if f["path"] in old:
                continue
            ks = [(r["k1"], r["k2"]) for r in pq.read_table(
                os.path.join(tbl.root, f["path"])).to_pylist()]
            assert len(ks) <= 2 and ks == sorted(ks, key=_sort_key)
            files.append((f["bucket"], ks))
        out.append((rows, feed, sorted(files, key=repr)))
    assert out[0][:2] == out[1][:2] == out[2][:2]
    assert out[0][2] == out[1][2]


def test_cdf_interval_mixes_spark_and_driver_captures(spark, warehouse,
                                                      tmp_path, monkeypatch):
    """Version N captured by a Spark plan, N+1 by the kernel: the keyed
    feed, the rollup and a keyed TableFollower read across both."""
    from pyspark.sql import types as T

    from embulk_output_databricks_spark.streaming.aggmaint import (
        ensure_rollup, sync_rollup)
    from embulk_output_databricks_spark.streaming.tail import TableFollower

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("grp", T.StringType()),
                           T.StructField("v", T.LongType())])
    cat = LakeCatalog(spark, warehouse)
    t = cat.create_table("t", schema, n_buckets=4, bucket_key="k")
    t.append(spark.createDataFrame(
        [(1, "A", 10), (2, "A", 20), (3, "B", 30), (None, "B", 5)], schema))
    roll = ensure_rollup(cat, t, "roll", group_cols=["grp"], sum_cols=["v"])
    v0 = t.current_version()
    follower = TableFollower(t, str(tmp_path / "c.json"), from_version=v0,
                             keys=["k"])
    staged = "k long, grp string, v long, op string"
    with monkeypatch.context() as mp:
        mp.setattr(M, "DRIVER_MERGE_MAX_BYTES", 0)
        apply_with_cdf(t, spark.createDataFrame(
            [(1, "A", 11, "U"), (3, "B", 30, "D"), (None, "A", 6, "U")],
            staged), keys=["k"])
        assert M.LAST_PHASES["plan"] == "broadcast"
    apply_with_cdf(t, spark.createDataFrame(
        [(1, "B", 12, "U"), (4, "C", 40, "U"), (None, "A", 7, "U")], staged),
        keys=["k"])
    assert M.LAST_PHASES["plan"] == "driver"
    assert change_feed(t, v0) is not None  # served from both captures
    feed = keyed_changes(t, v0, ["k"])
    for v in (v0 + 1, v0 + 2):
        cols = ["__op", "k", "grp", "v", "__old_grp", "__old_v"]
        got = sorted((tuple(r[c] for c in cols) for r in feed.filter(
            F.col("__commit_version") == v).collect()), key=repr)
        want = sorted((tuple(r[c] for c in cols) for r in t.diff(
            v - 1, keys=["k"], to_version=v, include_old=True).collect()),
            key=repr)
        assert got == want
    sync_rollup(t, roll, keys=["k"], group_cols=["grp"], sum_cols=["v"])
    assert M.LAST_PHASES["plan"] == "driver"
    assert sorted(tuple(r) for r in roll.read().collect()) == sorted(
        tuple(r) for r in t.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum_v")).collect())
    df, _frm, _to = follower.poll()
    replica = {r["k"]: (r["grp"], r["v"])
               for r in t.read(version=v0).collect()}
    for r in df.collect():
        if r["__op"] == "D":
            replica.pop(r["k"], None)
        else:
            replica[r["k"]] = (r["grp"], r["v"])
    assert replica == {r["k"]: (r["grp"], r["v"]) for r in t.read().collect()}


def test_crash_between_driver_write_and_commit(spark, warehouse, monkeypatch):
    """Crash after the pyarrow files land in data/.tmp-* and before the
    commit: the batch's rerun equals the LWW oracle and no orphan file
    stays behind."""
    from embulk_output_databricks_spark.streaming.replay import InjectedCrash

    binlog = synth_binlog(spark, 600, 60, 300, delete_frac=0.1).cache()
    drv = ReplayDriver(LakeCatalog(spark, warehouse),
                       JobConfig(mode="merge", n_buckets=4))
    drv.run_batch(binlog.filter("batch_id = 0"), 0)
    real = LakeTable._write_arrow_files

    def crash(self, *a, **kw):
        real(self, *a, **kw)
        raise InjectedCrash("after the pyarrow write, before the commit")

    v = drv.table.current_version()
    with monkeypatch.context() as mp:
        mp.setattr(LakeTable, "_write_arrow_files", crash)
        with pytest.raises(InjectedCrash):
            drv.run_batch(binlog.filter("batch_id = 1"), 1)
    assert drv.table.current_version() == v
    drv.run_batch(binlog.filter("batch_id = 1"), 1)
    assert M.LAST_PHASES["plan"] == "driver"
    assert table_state(drv.table) == python_oracle(
        [r.asDict() for r in binlog.collect()])
    assert not [fn for fn in os.listdir(os.path.join(drv.table.root, "data"))
                if fn.startswith(".tmp-")]
    assert drv.table.remove_orphan_files() == []
    binlog.unpersist()
