"""Distributed build properties over Spark: prop_pai across column types,
partition invariance (the distributed analog of prop_rechunked_eq,
/root/reference/tests/QC.hs:52-60), two-level merges, grouped/salted
sketches vs exact answers, broadcast membership."""

import datetime
import decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark import (KLL, BloomFilter, CountMinSketch, HyperLogLog,
                               TDigest, build_sketch, grouped_sketch_df,
                               sketch_df, suggest_sizing, with_cms_count,
                               with_membership)


# --- prop_pai across Spark column types (QC.hs:21-40 analog) -------------

TYPED_ROWS = {
    "int": ([(0,), (1,), (-1,), (2**31 - 1,), (-2**31,), (42,)], "v int"),
    "long": ([(0,), (1,), (-1,), (2**63 - 1,), (-2**63,), (123456789012345,)], "v long"),
    "double": ([(0.0,), (-0.0,), (1.5,), (float("inf"),), (float("-inf"),), (1e-300,)], "v double"),
    "float": ([(0.0,), (3.5,), (-2.25,)], "v float"),
    "string": ([("",), ("a",), ("héllo wörld ✓",), ("x" * 5000,), ("tab\tnul\x00",)], "v string"),
    "boolean": ([(True,), (False,)], "v boolean"),
    "binary": ([(b"",), (b"\x00\x01\x02",), (bytes(range(256)),)], "v binary"),
    "timestamp": ([(datetime.datetime(1970, 1, 1),), (datetime.datetime(2026, 1, 1, 12, 30),),
                   (datetime.datetime(1900, 6, 15),)], "v timestamp"),
    "date": ([(datetime.date(1970, 1, 1),), (datetime.date(2026, 8, 16),),
              (datetime.date(1583, 1, 1),)], "v date"),
    "decimal": ([(decimal.Decimal("0"),), (decimal.Decimal("123.45"),),
                 (decimal.Decimal("-99999999.99"),)], "v decimal(10,2)"),
    "array_int": ([([1, 2, 3],), ([],), ([0],), ([-1, 2**31 - 1],)], "v array<int>"),
}


@pytest.mark.parametrize("typename", sorted(TYPED_ROWS))
def test_prop_pai_per_type(spark, typename):
    """Insert-then-member for every supported column type: zero false
    negatives regardless of type (prop_pai instantiated per type)."""
    rows, schema = TYPED_ROWS[typename]
    df = spark.createDataFrame(rows, schema)
    m, k = suggest_sizing(max(len(rows), 1), 0.01)
    bf = build_sketch(df, ["v"], lambda: BloomFilter(m, k))
    out = with_membership(df, bf, ["v"])
    assert out.where(~F.col("is_member")).count() == 0


def test_prop_pai_composite_key(spark, lineitem):
    """Composite (orderkey, linenumber) key — tuple-instance analog
    (Hash.hs:288-303)."""
    n = lineitem.count()
    m, k = suggest_sizing(n, 0.01)
    bf = build_sketch(lineitem, ["l_orderkey", "l_linenumber"], lambda: BloomFilter(m, k))
    out = with_membership(lineitem, bf, ["l_orderkey", "l_linenumber"])
    assert out.where(~F.col("is_member")).count() == 0


def test_observed_fpr_within_bound(spark, lineitem):
    """Observed FPR on a provably-disjoint probe set <= configured eps
    (with sampling slack): the reference's headline guarantee."""
    eps = 0.01
    n = lineitem.count()
    m, k = suggest_sizing(n, eps)
    bf = build_sketch(lineitem.select(F.concat(F.lit("key:"), "l_orderkey", F.lit(":"),
                                               "l_linenumber").alias("key")),
                      ["key"], lambda: BloomFilter(m, k))
    probes = spark.range(50000).select(F.concat(F.lit("probe:"), "id").alias("key"))
    hits = with_membership(probes, bf, ["key"]).where("is_member").count()
    observed = hits / 50000
    assert observed <= eps * 2.0


# --- partition invariance (prop_rechunked_eq analog) ---------------------

@pytest.mark.parametrize("nparts", [1, 3, 8])
def test_partition_invariance_bloom_hll_cms(spark, lineitem, nparts):
    """Final merged sketch must be byte-identical under any repartitioning —
    the distributed analog of hash-chunking invariance (QC.hs:52-60)."""
    df = lineitem.repartition(nparts)
    bf = build_sketch(df, ["l_orderkey"], lambda: BloomFilter(1 << 16, 5))
    hll = build_sketch(df, ["l_orderkey"], lambda: HyperLogLog(12))
    cms = build_sketch(df, ["l_orderkey"], lambda: CountMinSketch(width=2048, depth=5))
    ref_bf = build_sketch(lineitem.coalesce(1), ["l_orderkey"], lambda: BloomFilter(1 << 16, 5))
    ref_hll = build_sketch(lineitem.coalesce(1), ["l_orderkey"], lambda: HyperLogLog(12))
    ref_cms = build_sketch(lineitem.coalesce(1), ["l_orderkey"],
                           lambda: CountMinSketch(width=2048, depth=5))
    assert bf.to_bytes() == ref_bf.to_bytes()
    assert hll.to_bytes() == ref_hll.to_bytes()
    assert (cms.table == ref_cms.table).all() and cms.total == ref_cms.total


@pytest.mark.parametrize("nparts", [1, 4])
def test_partition_invariance_quantiles_within_bound(spark, lineitem, nparts):
    """t-digest/KLL are estimate-equivalent (not byte-equal) across
    partitionings (SURVEY.md §7 hard parts (b))."""
    df = lineitem.repartition(nparts)
    td = build_sketch(df, ["l_extendedprice"], lambda: TDigest(200))
    kll = build_sketch(df, ["l_extendedprice"], lambda: KLL(200))
    exact = lineitem.selectExpr(
        "percentile(l_extendedprice, array(0.5, 0.9, 0.99)) p").collect()[0]["p"]
    prices = np.array(lineitem.select("l_extendedprice").toPandas()["l_extendedprice"])
    for q, ex in zip((0.5, 0.9, 0.99), exact):
        for est in (td.quantile(q), kll.quantile(q)):
            rank = (prices <= est).mean()
            assert abs(rank - q) < 0.02, (nparts, q, rank)


def test_sketch_df_in_plan_equals_eager(spark, lineitem):
    """Lazy 1-row sketch_df plan materializes the same bytes as the eager
    build (two-level merge both ways)."""
    lazy = sketch_df(lineitem, ["l_orderkey"], lambda: BloomFilter(1 << 14, 4))
    row = lazy.collect()
    assert len(row) == 1
    eager = build_sketch(lineitem, ["l_orderkey"], lambda: BloomFilter(1 << 14, 4))
    assert bytes(row[0]["sketch"]) == eager.to_bytes()


# --- accuracy vs exact over real tables ----------------------------------

def test_hll_vs_exact_distinct(spark, lineitem):
    hll = build_sketch(lineitem, ["l_partkey"], lambda: HyperLogLog(14))
    exact = lineitem.select("l_partkey").distinct().count()
    assert abs(hll.estimate() - exact) / exact < 3 * 1.04 / np.sqrt(2**14)


def test_cms_vs_exact_counts(spark, events):
    cms = build_sketch(events, ["event_type"], lambda: CountMinSketch(eps=1e-4, delta=1e-3))
    exact = {r["event_type"]: r["cnt"] for r in
             events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()}
    keys = spark.createDataFrame([(k,) for k in exact], "event_type string")
    est = {r["event_type"]: r["est_count"] for r in
           with_cms_count(keys, cms, ["event_type"]).collect()}
    for k, c in exact.items():
        assert est[k] >= c
        assert est[k] - c <= max(2 * cms.error_bound(), 1)


def test_grouped_sketch_salted_vs_exact(spark, lineitem):
    g = grouped_sketch_df(lineitem, ["l_returnflag"], ["l_orderkey"],
                          lambda: HyperLogLog(14),
                          {"approx_orders": lambda s: s.estimate()}, salt=4)
    est = {r["l_returnflag"]: r["approx_orders"] for r in g.collect()}
    exact = {r["l_returnflag"]: r["n"] for r in
             lineitem.groupBy("l_returnflag")
                     .agg(F.countDistinct("l_orderkey").alias("n")).collect()}
    for flag, n in exact.items():
        assert abs(est[flag] - n) / n < 0.05, (flag, est[flag], n)


def test_grouped_sketch_hot_key_skew(spark):
    """One key holds >60% of all rows (the hot-conv_id shape the salted
    phase-1 exists for): the streaming per-partition partial build must
    still produce within-bound estimates for every key, hot or cold."""
    hot = spark.range(60000).select(F.lit("hot").alias("k"),
                                    (F.col("id") % 9000).alias("v"))
    cold = spark.range(30000).select(
        F.concat(F.lit("cold"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") + 1_000_000).alias("v"))
    df = hot.unionByName(cold).repartition(16)
    g = grouped_sketch_df(df, ["k"], ["v"], lambda: HyperLogLog(14),
                          {"est": lambda s: s.estimate()}, salt=8)
    est = {r["k"]: r["est"] for r in g.collect()}
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()}
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.05, (k, est[k], n)


def test_weighted_cms_preaggregated(spark, events):
    """CMS built from pre-aggregated (key, count) equals CMS over raw rows —
    the map-side-combine pattern for heavy keys."""
    raw = build_sketch(events, ["event_type"], lambda: CountMinSketch(width=4096, depth=5))
    pre = events.groupBy("event_type").agg(F.count("*").cast("double").alias("cnt"))
    agg = build_sketch(pre, ["event_type"], lambda: CountMinSketch(width=4096, depth=5),
                       weight_col="cnt")
    assert (raw.table == agg.table).all()
    assert raw.total == agg.total


def test_broadcast_cache_no_stale_sketch_reuse(spark):
    """Regression: the executor-side sketch cache must key by the unique
    token inside the broadcast value, not id(bc) — Python reuses freed
    addresses, so churned broadcasts could alias and serve a STALE filter
    (observed as ~100% false negatives mid-suite)."""
    import gc
    from bloomfilter_spark.agg import with_membership
    for i in range(6):
        lo = i * 100000
        df = spark.range(lo, lo + 2000).select(F.col("id").alias("k"))
        bf = build_sketch(df, ["k"], lambda: BloomFilter(1 << 16, 5))
        out = with_membership(df, bf, ["k"])
        assert out.where(~F.col("is_member")).count() == 0, f"round {i}"
        del bf, out
        gc.collect()


def test_nulls_are_skipped(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",), (None,)], "v string")
    hll = build_sketch(df, ["v"], lambda: HyperLogLog(12))
    assert round(hll.estimate()) == 2


def test_mg_vs_exact_counts(spark, documents):
    """Distributed Misra-Gries build (merged per-partition partials) keeps
    the deterministic sandwich for EVERY distinct token: lo <= exact <=
    lo + dec, with dec <= n/(k+1); and every token frequent enough for
    the presence guarantee is retained."""
    from bloomfilter_spark.agg import build_sketch, with_mg_bounds
    from bloomfilter_spark.sketches import MisraGries

    c = F.col("text")
    toks = (documents.where(c.isNotNull() & (F.length(F.trim(c)) > 0))
            .select(F.explode(F.split(F.trim(F.lower(c)), r"\s+"))
                    .alias("token")))
    k = 16
    mg = build_sketch(toks, ["token"], lambda: MisraGries(k=k))
    exact = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    assert mg.n == toks.count()
    assert mg.dec <= mg.n / (k + 1)
    checked = with_mg_bounds(exact, mg, ["token"]).collect()
    assert len(checked) > k          # corpus vocabulary exceeds the summary
    for r in checked:
        assert r["mg_lo"] <= r["cnt"] <= r["mg_hi"], r
        if r["cnt"] > mg.n / (k + 1):
            assert r["mg_lo"] > 0, r


@pytest.mark.parametrize("family", ["bloom", "hll", "cms", "kll", "mg"])
def test_build_sketch_allocates_one_driver_sketch(spark, lineitem, family):
    """build_sketch makes one prototype on the driver and returns the
    final row's sketch as is: the same bytes as merging that row into a
    fresh zero sketch, without allocating and merging into one."""
    from bloomfilter_spark.sketches import MisraGries
    make = {"bloom": lambda: BloomFilter(1 << 16, 5), "hll": lambda: HyperLogLog(12),
            "cms": lambda: CountMinSketch(width=1024, depth=4),
            "kll": lambda: KLL(200), "mg": lambda: MisraGries(k=16)}[family]
    cols = ["l_extendedprice"] if family == "kll" else ["l_orderkey"]
    calls = []

    def factory():
        calls.append(1)  # executors append to their own copy of the list
        return make()

    got = build_sketch(lineitem, cols, factory)
    assert len(calls) == 1
    row = sketch_df(lineitem, cols, make).collect()[0]
    want = make()
    want.merge(type(want).from_bytes(bytes(row["sketch"])))
    assert got.to_bytes() == want.to_bytes()
