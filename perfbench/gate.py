"""Correctness gate, run after the measured window and outside it.

The expected final table is computed here from the regenerated stream,
independently of the engine: row_number() per doc_id over (seq_lsn,
event_id) descending across the seed slice and every applied batch, with
'D' winners dropped. It is compared in both directions with the engine's
resolved table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

COLS = ["doc_id", "tokens", "n_tok", "source"]


def _mismatch(name: str, got, want, cols) -> list[str]:
    extra = got.select(*cols).exceptAll(want.select(*cols)).limit(3).collect()
    missing = want.select(*cols).exceptAll(got.select(*cols)).limit(3).collect()
    out = []
    if extra:
        out.append(f"{name}: unexpected rows, e.g. {extra}")
    if missing:
        out.append(f"{name}: missing rows, e.g. {missing}")
    return out


def _lww_winners(events):
    w = Window.partitionBy("doc_id").orderBy(F.col("seq_lsn").desc(),
                                             F.col("event_id").desc())
    return (events.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def check(w, stream, driver, n_batches: int, follow_keys) -> list[str]:
    """Every problem found; an empty list means the run is correct.
    n_batches counts every applied batch slice, warm-up included."""
    events = stream.seed_slice().unionByName(stream.batches(n_batches))
    # rank narrow rows, then fetch the winners' payload by their lsn
    winners = (_lww_winners(events.select("doc_id", "seq_lsn", "event_id",
                                          "op"))
               .filter(F.col("op") != "D").select("seq_lsn"))
    expected = (events.join(F.broadcast(winners), "seq_lsn", "left_semi")
                .select(*COLS).persist())
    base = driver.table.read().select(*COLS).persist()
    problems = _mismatch("base table", base, expected, COLS)

    for agg, group_by, sums in driver.rollups:
        want = base.groupBy(*group_by).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(c).cast("long").alias(f"sum_{c}") for c in sums])
        cols = group_by + ["n_rows"] + [f"sum_{c}" for c in sums]
        problems += _mismatch(f"rollup {agg.name}", agg.read(), want, cols)

    if driver.history is not None:
        from embulk_output_databricks_spark.streaming.scd2 import scd2_current

        hist = driver.history[0]
        problems += _mismatch("scd2 open rows", scd2_current(hist), base, COLS)

    if follow_keys is not None:
        # every key whose batch winner was an upsert, in every batch the
        # follower covered, must have reached the consumer
        first = w.warmup_batches
        measured = stream.batches(n_batches).filter(
            F.col("seq_lsn") >= stream.lsn0(first))
        per_batch = Window.partitionBy("doc_id", "__b").orderBy(
            F.col("seq_lsn").desc(), F.col("event_id").desc())
        winners = (measured
                   .withColumn("__b", F.floor((F.col("seq_lsn")
                                               - stream.lsn0(0))
                                              / w.batch_events))
                   .withColumn("__rn", F.row_number().over(per_batch))
                   .filter((F.col("__rn") == 1) & (F.col("op") != "D")))
        upserted = {r[0] for r in winners.select("doc_id").distinct().collect()}
        touched = {r[0] for r in measured.select("doc_id").distinct().collect()}
        lost = upserted - follow_keys
        stray = follow_keys - touched
        if lost:
            problems.append(f"follower missed {len(lost)} changed keys, "
                            f"e.g. {sorted(lost)[:3]}")
        if stray:
            problems.append(f"follower reported {len(stray)} untouched keys, "
                            f"e.g. {sorted(stray)[:3]}")
    return problems


def redelivery_is_noop(driver, stream, n_batches: int) -> bool:
    """Re-delivering the last batch must hit the fence and return None."""
    j = n_batches - 1
    return driver.run_batch(stream.batch(j), 1 + j,
                            collect_metrics="light") is None
