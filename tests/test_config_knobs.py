"""Config knobs mirroring reference behaviors: max_events_per_batch
chunking (A6), keep_staging_on_error policy (A3), ruby timestamp_format +
timezone rendering (A5)."""

import datetime
import os

import pytest

from embulk_output_databricks_spark.config import JobConfig
from embulk_output_databricks_spark.sources.laketable import LakeCatalog
from embulk_output_databricks_spark.streaming.replay import ReplayDriver
from embulk_output_databricks_spark.synth import synth_binlog
from tests.test_replay import python_oracle, table_state


def test_oversized_batch_chunks_and_matches_oracle(spark, warehouse):
    binlog = synth_binlog(spark, 900, 60, 900, delete_frac=0.1).cache()
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/ch"),
                       JobConfig(mode="merge", n_buckets=4,
                                 max_events_per_batch=300))
    v0 = drv.table.current_version()
    rec = drv.run_batch(binlog, 0)
    # three lsn-range chunks -> three snapshots; fence stamped on the last
    assert drv.table.current_version() == v0 + 3
    assert drv.table.manifest().properties["batch_id"] == 0
    assert rec["lsn_to"] - rec["lsn_from"] == 900
    assert table_state(drv.table) == python_oracle(
        [r.asDict() for r in binlog.collect()])
    # fence: rerun is a no-op even though the batch applied in chunks
    assert drv.run_batch(binlog, 0) is None
    binlog.unpersist()


def test_undersized_batch_does_not_chunk(spark, warehouse):
    binlog = synth_binlog(spark, 200, 20, 200)
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/nc"),
                       JobConfig(mode="merge", n_buckets=4,
                                 max_events_per_batch=1000))
    v0 = drv.table.current_version()
    drv.run_batch(binlog, 0)
    assert drv.table.current_version() == v0 + 1


def test_hooks_bracket_chunked_batch(spark, warehouse, monkeypatch):
    # B9 + A6: before/after_load run once around the WHOLE batch even when
    # it applies in chunks (ref brackets the load, not each COPY,
    # DatabricksOutputConnection.java:150-152,166-168)
    from embulk_output_databricks_spark.plans import apply as apply_mod

    calls = []
    real = apply_mod._run_hook
    monkeypatch.setattr(
        apply_mod, "_run_hook",
        lambda table, sql: (calls.append(sql) if sql else None,
                            real(table, sql))[1])
    drv = ReplayDriver(
        LakeCatalog(spark, f"{warehouse}/hk"),
        JobConfig(mode="merge", n_buckets=4, max_events_per_batch=300,
                  before_load="SELECT 'pre'", after_load="SELECT 'post'"))
    v0 = drv.table.current_version()
    drv.run_batch(synth_binlog(spark, 900, 60, 900), 0)
    assert drv.table.current_version() == v0 + 3  # really chunked
    assert calls == ["SELECT 'pre'", "SELECT 'post'"]


@pytest.mark.parametrize("keep", [False, True])
def test_staging_cleanup_policy_on_error(spark, warehouse, keep):
    cat = LakeCatalog(spark, f"{warehouse}/st{keep}")
    ok = ReplayDriver(cat, JobConfig(mode="merge", n_buckets=4))
    ok.run_batch(synth_binlog(spark, 100, 10, 100), 0)  # creates target rows
    bad = ReplayDriver(
        cat, JobConfig(mode="merge", n_buckets=4, keep_staging_on_error=keep,
                       merge_rules={"n_tok": "T.no_such_column + 1"}))
    stray = os.path.join(bad.table.root, "data", ".tmp-leftover")
    os.makedirs(stray, exist_ok=True)
    with pytest.raises(Exception):
        bad.run_batch(synth_binlog(spark, 100, 10, 100, start=100), 1)
    assert os.path.exists(stray) == keep


def test_replay_retries_transient_failures(spark, warehouse):
    # A14: failed batch apply retries with backoff; fence keeps it idempotent
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/rt"),
                       JobConfig(mode="merge", n_buckets=4,
                                 retry_wait_s=0.01, max_retry_wait_s=0.02))
    binlog = synth_binlog(spark, 300, 20, 300).cache()
    fails = {"n": 2}
    real = drv.run_batch

    def flaky(*a, **kw):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise RuntimeError("transient I/O")
        return real(*a, **kw)

    drv.run_batch = flaky
    recs = drv.replay(binlog)
    assert fails["n"] == 0 and len(recs) >= 1
    assert table_state(drv.table) == python_oracle(
        [r.asDict() for r in binlog.collect()])
    binlog.unpersist()


def test_replay_does_not_retry_plan_errors(spark, warehouse):
    # deterministic plan-time failure (bad merge-rule SQL) must fail fast,
    # not burn retry_limit * retry_wait on an error that cannot heal
    import time

    drv = ReplayDriver(
        LakeCatalog(spark, f"{warehouse}/nr"),
        JobConfig(mode="merge", n_buckets=4, retry_wait_s=20,
                  merge_rules={"n_tok": "T.no_such_column + 1"}))
    t0 = time.monotonic()
    with pytest.raises(Exception):
        drv.replay(synth_binlog(spark, 100, 10, 100))
    assert time.monotonic() - t0 < 20  # no backoff sleep happened


def test_render_timestamp_ruby_format_and_zone(spark):
    from pyspark.sql import functions as F

    cfg = JobConfig()  # default %Y-%m-%d %H:%M:%S.%6N, UTC
    tokyo = JobConfig(timezone="Asia/Tokyo")
    ts = datetime.datetime(2024, 1, 1, 20, 30, 0, 123456)
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    row = df.select(
        cfg.render_timestamp(F.col("ts")).alias("utc"),
        tokyo.render_timestamp(F.col("ts")).alias("jst"),
    ).collect()[0]
    assert row["utc"] == "2024-01-01 20:30:00.123456"
    # UTC -> JST day rollover (ref TestDatabricksOutputPluginByOutputType:79-83)
    assert row["jst"] == "2024-01-02 05:30:00.123456"

def test_adaptive_chunk_sizing(spark, warehouse):
    """target_apply_seconds: chunk size derives from the observed apply
    rate (EWMA events/sec x target), capped by max_events_per_batch; the
    first batch (no rate yet) uses the static bound; results stay pinned
    to the oracle regardless of chunking."""
    binlog = synth_binlog(spark, 1200, 80, 1200, delete_frac=0.1).cache()
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/ad"),
                       JobConfig(mode="merge", n_buckets=4,
                                 target_apply_seconds=2.0))
    b0 = binlog.filter(binlog.seq_lsn < 600)
    rec0 = drv.run_batch(b0, 0)
    assert "chunks" not in rec0["metrics"]  # first batch: static bound only
    assert drv._events_per_sec is not None and drv._events_per_sec > 0
    # force a known rate: 100 ev/s x 2 s target -> 200-event chunks -> the
    # 600-event second batch applies in ceil(600/200)=3 chunks
    drv._events_per_sec = 100.0
    v1 = drv.table.current_version()
    rec1 = drv.run_batch(binlog.filter(binlog.seq_lsn >= 600), 1)
    assert rec1["metrics"]["chunks"] == 3
    assert drv.table.current_version() == v1 + 3
    # EWMA updated from the real (fast) second batch, not stuck at 100
    assert drv._events_per_sec > 100.0
    assert table_state(drv.table) == python_oracle(
        [r.asDict() for r in binlog.collect()])
    # fence holds across adaptive chunking
    assert drv.run_batch(b0, 0) is None
    binlog.unpersist()


def test_adaptive_chunking_respects_static_ceiling(spark, warehouse):
    drv = ReplayDriver(LakeCatalog(spark, f"{warehouse}/adc"),
                       JobConfig(mode="merge", n_buckets=4,
                                 max_events_per_batch=300,
                                 target_apply_seconds=1000.0))
    drv._events_per_sec = 1e9  # adaptive would allow everything
    v0 = drv.table.current_version()
    drv.run_batch(synth_binlog(spark, 900, 60, 900), 0)
    # static ceiling still chunks: 900/300 = 3 snapshots
    assert drv.table.current_version() == v0 + 3


def test_negative_target_apply_seconds_rejected():
    from embulk_output_databricks_spark.config import ConfigError

    with pytest.raises(ConfigError, match="target_apply_seconds"):
        JobConfig(target_apply_seconds=-1)


def test_before_load_rejected_in_replace_mode():
    """Reference parity: before_load is not supported in replace mode."""
    from embulk_output_databricks_spark.config import ConfigError

    with pytest.raises(ConfigError, match="before_load"):
        JobConfig(mode="replace", before_load="SELECT 1")
    JobConfig(mode="replace", after_load="SELECT 1")
    JobConfig(mode="merge", before_load="SELECT 1")
