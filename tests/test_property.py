"""Property-based tests (hypothesis): the engine's core kernels against
independent Python oracles on randomized inputs — coverage the reference's
golden-string tests never had (SURVEY.md §5.1: 'No property-based tests').

Spark round-trips are expensive, so examples are batched: hypothesis
generates a LIST of cases and each property runs them through one Spark job.
"""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from embulk_output_databricks_spark.functions import portable as P
from embulk_output_databricks_spark.operators.lww import lww_dedup
from embulk_output_databricks_spark.transforms import (
    MOD,
    MULT,
    tokens_fingerprint_arrow,
)

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

tokens_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=50256), max_size=80),
    min_size=1, max_size=24,
)


def _py_fp(toks):
    h = 0
    for t in toks:
        h = (h * MULT + t) % MOD
    return h


@settings(**_SETTINGS)
@given(tokens_lists)
def test_fingerprint_three_ways(spark, batches):
    """JVM expression == Arrow pandas_udf == pure-Python fold, any input."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batches)], "i long, tokens array<int>"
    )
    rows = df.select(
        "i",
        P.f_tokens_fingerprint(F.col("tokens")).alias("jvm"),
        tokens_fingerprint_arrow(F.col("tokens")).alias("arrow"),
    ).collect()
    for r in rows:
        expect = _py_fp(batches[r["i"]])
        assert r["jvm"] == expect and r["arrow"] == expect


events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),      # key
        st.integers(min_value=0, max_value=50),     # lsn (ties likely)
        st.integers(min_value=0, max_value=10**6),  # event_id (tie-break)
        st.integers(min_value=-100, max_value=100), # payload
    ),
    min_size=1, max_size=60, unique_by=lambda e: (e[0], e[1], e[2]),
)


@settings(**_SETTINGS)
@given(events)
def test_lww_strategies_match_python_argmax(spark, evs):
    """All four dedup strategies pick exactly the python argmax row per key
    under the (lsn, event_id) total order — including ties on lsn."""
    df = spark.createDataFrame(evs, "k int, lsn long, eid long, v int")
    expect = {}
    for k, lsn, eid, v in evs:
        cur = expect.get(k)
        if cur is None or (lsn, eid) > (cur[0], cur[1]):
            expect[k] = (lsn, eid, v)
    for strategy in ("maxby", "maxstruct", "salted", "window"):
        got = {
            r["k"]: (r["lsn"], r["eid"], r["v"])
            for r in lww_dedup(df, keys=["k"], order=["lsn", "eid"],
                               strategy=strategy, salt=3).collect()
        }
        assert got == expect, strategy


_batches = st.dictionaries(
    keys=st.integers(min_value=0, max_value=7),
    values=st.tuples(st.integers(min_value=-50, max_value=50), st.booleans()),
    min_size=1, max_size=5,
)

_ops = st.lists(
    st.one_of(
        st.tuples(st.just("cow"), _batches),
        st.tuples(st.just("mor"), _batches),
        st.tuples(st.just("compact_deltas"), st.none()),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("rebucket"), st.sampled_from([2, 4, 8, 16])),
        st.tuples(st.just("expire"), st.none()),
    ),
    min_size=1, max_size=8,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_ops)
def test_table_op_sequences_match_model(spark, tmp_path_factory, ops):
    """Model-based stateful property: an arbitrary interleaving of COW
    merges, MOR merges (with deletes), delta compaction, bin-pack
    compaction, bucket-spec rebucket, and snapshot expiry leaves the table
    exactly equal to a pure-Python dict replaying the same upserts/deletes.
    This is the adversarial net over the cross-feature interactions
    (deltas across a rebucket, compaction folding mixed specs, expiry
    under any of it) that example-based tests pin only pointwise."""
    from embulk_output_databricks_spark.plans.merge import (merge_apply,
                                                           merge_apply_mor)
    from embulk_output_databricks_spark.sources import LakeCatalog
    from pyspark.sql import types as T

    wh = str(tmp_path_factory.mktemp("prop"))
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = LakeCatalog(spark, wh).create_table(
        "t", schema, n_buckets=2, bucket_key="k")
    model: dict[str, int] = {}

    def staged(batch):
        rows = [(f"k{k}", v, "D" if d else "U") for k, (v, d) in batch.items()]
        return spark.createDataFrame(rows, "k string, v long, op string")

    for kind, arg in ops:
        if kind in ("cow", "mor"):
            (merge_apply if kind == "cow" else merge_apply_mor)(
                t, staged(arg), keys=["k"])
            for k, (v, d) in arg.items():
                if d:
                    model.pop(f"k{k}", None)
                else:
                    model[f"k{k}"] = v
        elif kind == "compact_deltas":
            t.compact_deltas()
        elif kind == "compact":
            t.compact(min_files_per_bucket=2)
        elif kind == "rebucket":
            t.rebucket(arg)
        else:
            t.expire_snapshots(keep_last=1)
            t.remove_orphan_files()
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == model, f"after {kind}"
    # bounds-based file skipping agrees with a model filter at the end
    got = {r["k"]: r["v"]
           for r in t.read(stats_filter={"v": (0, None)}).collect()}
    assert got == {k: v for k, v in model.items() if v >= 0}


texts = st.lists(
    st.text(alphabet=st.characters(codec="utf-8",
                                   blacklist_categories=("Cs",)),
            max_size=60),
    min_size=1, max_size=12,
)


@settings(**_SETTINGS)
@given(texts)
def test_word_ids_always_in_vocab(spark, docs):
    """Derived token ids stay in [0, VOCAB) for arbitrary unicode text."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "i long, text string")
    rows = df.select(P.f_word_ids(F.col("text")).alias("toks")).collect()
    for r in rows:
        assert all(0 <= t < P.VOCAB for t in r["toks"])


joinsides = st.tuples(
    st.lists(st.tuples(st.one_of(st.none(),
                                 st.integers(min_value=0, max_value=6)),
                       st.integers(min_value=-9, max_value=9)),
             max_size=14),
    st.lists(st.tuples(st.one_of(st.none(),
                                 st.integers(min_value=0, max_value=6)),
                       st.integers(min_value=-9, max_value=9)),
             max_size=14),
    st.sampled_from(["inner", "left", "full", "semi", "anti"]),
    st.integers(min_value=1, max_value=4),   # n_buckets
    st.one_of(st.none(), st.just(1)),        # split_rows (skew valve)
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(joinsides)
def test_bucket_join_matches_spark_join(spark, tmp_path_factory, case):
    """Storage-partitioned join == Spark's shuffled join for any bag of
    rows: null keys, duplicate keys (bag-semantics fan-out), empty sides,
    every join type, with and without the hot-bucket split."""
    from embulk_output_databricks_spark.operators.spj import bucket_join
    from embulk_output_databricks_spark.sources.laketable import LakeCatalog

    lrows, rrows, how, n_buckets, split = case
    root = str(tmp_path_factory.mktemp("spjprop"))
    cat = LakeCatalog(spark, root)
    schema = "k bigint, v int"
    lt = cat.create_table("l", spark.createDataFrame([], schema).schema,
                          n_buckets=n_buckets, bucket_key="k")
    rt = cat.create_table("r", spark.createDataFrame([], schema).schema,
                          n_buckets=n_buckets, bucket_key="k")
    if lrows:
        lt.append(spark.createDataFrame(lrows, schema))
    if rrows:
        rt.append(spark.createDataFrame(rrows, schema))
    got = bucket_join(lt, rt, on="k", how=how, fallback=False,
                      split_rows=split)
    if how in ("semi", "anti"):
        want = lt.read().join(rt.read().select("k"), on="k",
                              how="left_" + how)
    else:
        want = lt.read().join(
            rt.read().withColumnRenamed("v", "v_r"), on="k", how=how)
    assert sorted(got.columns) == sorted(want.columns)
    canon = lambda df: sorted(  # noqa: E731
        (tuple(r[c] for c in sorted(df.columns)) for r in df.collect()),
        key=repr)
    assert canon(got) == canon(want)


# ---------------- write-time CDF capture vs diff (streaming/cdf.py) ----

import uuid as _uuid

from pyspark.sql import types as _T

from embulk_output_databricks_spark.sources.laketable import LakeCatalog
from embulk_output_databricks_spark.streaming.cdf import (
    apply_with_cdf,
    change_feed,
)

_CDF_SCHEMA = _T.StructType([
    _T.StructField("k", _T.LongType()),
    _T.StructField("grp", _T.StringType()),
    _T.StructField("v", _T.LongType()),
])

initial_state = st.dictionaries(
    st.one_of(st.none(), st.integers(min_value=0, max_value=7)),
    st.tuples(st.sampled_from(["A", "B", None]),
              st.one_of(st.none(), st.integers(-9, 9))),
    max_size=8,
)
staged_batch = st.dictionaries(
    st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
    st.tuples(st.sampled_from(["A", "B", "C", None]),
              st.one_of(st.none(), st.integers(-9, 9)),
              st.sampled_from(["U", "D"])),
    min_size=1, max_size=10,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(initial_state, staged_batch)
@example(init={None: ("A", None)},  # delete-only batch with a NULL key
         batch={None: ("A", None, "D"), 0: ("A", None, "D")})
def test_cdf_capture_equals_diff(spark, tmp_path_factory, init, batch):
    """Store-on-write capture == compute-on-read diff for ANY initial
    state and staged batch (overlapping keys, NULL keys, NULL payloads,
    no-op updates, deletes of absent keys) — two independent derivations
    of the same change set."""
    wh = str(tmp_path_factory.mktemp("cdfprop") / _uuid.uuid4().hex)
    cat = LakeCatalog(spark, wh)
    t = cat.create_table("t", _CDF_SCHEMA, n_buckets=2, bucket_key="k")
    if init:
        t.append(spark.createDataFrame(
            [(k, g, v) for k, (g, v) in init.items()], _CDF_SCHEMA))
    v1 = t.current_version()
    staged = spark.createDataFrame(
        [(k, g, v, op) for k, (g, v, op) in batch.items()],
        "k long, grp string, v long, op string")
    apply_with_cdf(t, staged, keys=["k"])
    feed = change_feed(t, v1)
    assert feed is not None
    cols = ["__op", "k", "grp", "v", "__old_grp", "__old_v"]
    got = sorted((tuple(r[c] for c in cols) for r in feed.collect()),
                 key=repr)
    want = sorted((tuple(r[c] for c in cols) for r in
                   t.diff(v1, keys=["k"], include_old=True).collect()),
                  key=repr)
    assert got == want


_vals = st.lists(
    st.one_of(st.integers(min_value=-10**12, max_value=10**12),
              st.text(max_size=12),
              st.floats(allow_nan=False, allow_infinity=False, width=32)),
    max_size=300)


@settings(max_examples=40, deadline=None)
@given(_vals, st.lists(st.integers(min_value=0, max_value=4), min_size=0,
                       max_size=300),
       st.integers(min_value=16, max_value=128))
def test_kmv_merge_equals_global_build(vals, assign, k):
    """KMV union property on arbitrary typed values and arbitrary splits:
    merging per-chunk sketches is bit-identical to sketching everything,
    and the exact flag is truthful below k (sources/sketch.py)."""
    from embulk_output_databricks_spark.sources import sketch

    chunks = [[] for _ in range(5)]
    for v, a in zip(vals, assign):
        chunks[a].append(v)
    used = [c for c in chunks if c]
    merged = sketch.merge([sketch.build(c, k) for c in used], k) \
        if used else sketch.build([], k)
    flat = [v for c in used for v in c]
    assert merged == sketch.build(flat, k)
    est, exact = sketch.estimate(merged)
    # typed-byte normalization may unify e.g. 2 and 2.0 — compare hashes
    true_n = len({sketch._h64(v) for v in flat})
    if true_n <= k:
        assert exact and est == true_n
    else:
        assert not exact
