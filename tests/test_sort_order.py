"""Table write sort order (LakeTable.set_sort_order — Iceberg write
sort-order analog): once set, every data write clusters rows within its
bucket and splits files at rows_per_file, so the footer min/max range
index stays selective through normal CDC churn (appends, COW merge
rewrites, compaction) instead of decaying until the next explicit
compact(cluster_by=...)."""

import pytest
from pyspark.sql import functions as F, types as T

from embulk_output_databricks_spark.plans.merge import merge_apply
from embulk_output_databricks_spark.sources.laketable import (
    LakeCatalog, _stats_keep)

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.LongType()),
    T.StructField("s", T.StringType()),
])


def _mk(spark, warehouse, tag, n_buckets=2):
    cat = LakeCatalog(spark, f"{warehouse}/{tag}")
    return cat.create_table("t", SCHEMA, n_buckets=n_buckets, bucket_key="k")


def _rows(spark, n=1000, start=0):
    # v deliberately scrambled vs insertion order: unsorted input
    return spark.range(start, start + n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 1000).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )


def _data_files(tbl):
    return [f for f in tbl.manifest().files
            if f.get("kind") not in ("posdel", "eqdel")]


def test_appends_cluster_and_split(spark, warehouse):
    tbl = _mk(spark, warehouse, "append")
    tbl.set_sort_order(["v"], rows_per_file=100)
    tbl.append(_rows(spark))
    files = _data_files(tbl)
    assert all(f["rows"] <= 100 for f in files)
    # each file covers a narrow v-range -> a band predicate prunes most
    m = tbl.manifest()
    kept = _stats_keep(m, files, {"v": (0, 49)})
    assert len(kept) < len(files) / 2
    got = {r["k"] for r in tbl.read(stats_filter={"v": (0, 49)}).collect()}
    want = {r["k"] for r in _rows(spark).filter("v between 0 and 49").collect()}
    assert got == want


def test_merge_rewrite_stays_clustered(spark, warehouse):
    """The motivating case: a COW merge rewrites whole buckets; without a
    table order the rewritten files span the full value range and range
    scans degrade until the next compact. With it they stay narrow."""
    tbl = _mk(spark, warehouse, "merge")
    tbl.set_sort_order(["v"], rows_per_file=100)
    tbl.append(_rows(spark))
    staged = _rows(spark).filter(F.col("k") % 3 == 0) \
        .withColumn("s", F.concat(F.col("s"), F.lit("!")))
    merge_apply(tbl, staged, keys=["k"])
    m = tbl.manifest()
    files = _data_files(tbl)
    assert all(f["rows"] <= 100 for f in files)
    kept = _stats_keep(m, files, {"v": (0, 49)})
    assert len(kept) < len(files) / 2
    # correctness unchanged by clustering
    got = {(r["k"], r["s"]) for r in
           tbl.read(stats_filter={"v": (0, 49)}).collect()}
    want = {(r["k"], r["s"] + ("!" if r["k"] % 3 == 0 else "")) for r in
            _rows(spark).filter("v between 0 and 49").collect()}
    assert got == want


def test_compact_picks_up_table_order(spark, warehouse):
    """Files written BEFORE the order was set migrate lazily: plain
    compact() (no cluster_by argument) sorts the buckets it rewrites."""
    tbl = _mk(spark, warehouse, "compact", n_buckets=1)
    tbl.append(_rows(spark, 500))
    tbl.append(_rows(spark, 500, start=500))
    tbl.set_sort_order(["v"], rows_per_file=100)
    assert tbl.compact(min_files_per_bucket=2) is not None
    m = tbl.manifest()
    files = _data_files(tbl)
    kept = _stats_keep(m, files, {"v": (0, 49)})
    assert len(kept) < len(files) / 2
    assert tbl.read().count() == 1000


def test_clear_order(spark, warehouse):
    tbl = _mk(spark, warehouse, "clear", n_buckets=1)
    tbl.set_sort_order(["v"], rows_per_file=50)
    tbl.set_sort_order([])
    tbl.append(_rows(spark))
    # rows_per_file no longer applies: far fewer files than 1000/50
    assert any(f["rows"] > 50 for f in _data_files(tbl))


def test_renamed_column_leaves_effective_order(spark, warehouse):
    """Order is advisory: renaming a sorted column must not break writes
    (the stale name simply drops out of the effective order)."""
    tbl = _mk(spark, warehouse, "rename")
    tbl.set_sort_order(["v"], rows_per_file=100)
    tbl.rename_column("v", "w")
    tbl.append(_rows(spark).withColumnRenamed("v", "w"))
    assert tbl.read().count() == 1000


def test_validation(spark, warehouse):
    tbl = _mk(spark, warehouse, "bad")
    with pytest.raises(ValueError, match="not in schema"):
        tbl.set_sort_order(["nope"])
    with pytest.raises(ValueError, match="rows_per_file"):
        tbl.set_sort_order(["v"], rows_per_file=0)
    cat = LakeCatalog(spark, f"{warehouse}/map")
    mt = cat.create_table("m", T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("mp", T.MapType(T.StringType(), T.LongType())),
    ]), n_buckets=1, bucket_key="k")
    with pytest.raises(ValueError, match="orderable"):
        mt.set_sort_order(["mp"])


def test_views_carry_sort_order_from_their_creation_commit(spark, warehouse):
    """SCD2 histories and join views get their sort order in the creation
    commit: no crash window leaves them writing unclustered files."""
    from embulk_output_databricks_spark.streaming.joinmaint import (
        ensure_join_view)
    from embulk_output_databricks_spark.streaming.scd2 import ensure_scd2

    cat = LakeCatalog(spark, warehouse)
    base = T.StructType([T.StructField("k", T.LongType()),
                         T.StructField("ts", T.LongType())])
    hist = ensure_scd2(cat, "h", base, keys=["k"], ts_col="ts",
                       rows_per_file=100)
    assert hist.current_version() == 0
    assert hist.manifest(0).properties["sort_order"] == "k,valid_from"
    assert hist.manifest(0).properties["sort_rows_per_file"] == "100"
    dim = cat.create_table("dim", T.StructType(
        [T.StructField("dk", T.LongType()),
         T.StructField("code", T.LongType())]), bucket_key="dk")
    fact = cat.create_table("fact", T.StructType(
        [T.StructField("k", T.LongType()),
         T.StructField("fk", T.LongType())]), bucket_key="k")
    view = ensure_join_view(cat, fact, dim, "v", "k", "fk", "dk", ["code"])
    first = view.manifest(0).properties
    assert first["sort_order"] == "k" and first["sort_rows_per_file"] == "65536"
