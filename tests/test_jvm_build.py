"""JVM-reduced builders must produce BIT-IDENTICAL state to the numpy
kernel path — that is what makes them a physical optimization rather than a
different sketch (jvm_build.py module doc)."""

import numpy as np
from pyspark.sql import functions as F

from bloomfilter_spark.agg import build_sketch
from bloomfilter_spark.jvm_build import (bloom_grouped_build_jvm,
                                         cms_build_jvm, hll_build_jvm)
from bloomfilter_spark.sketches import CountMinSketch, HyperLogLog


def test_hll_jvm_build_bit_identical(spark, events):
    kernel = build_sketch(events, ["user_id"], lambda: HyperLogLog(12))
    jvm = hll_build_jvm(events, ["user_id"], p=12)
    assert np.array_equal(kernel.registers, jvm.registers)
    assert kernel.estimate() == jvm.estimate()


def test_hll_jvm_build_composite_key(spark, lineitem):
    cols = ["l_orderkey", "l_linenumber"]
    kernel = build_sketch(lineitem, cols, lambda: HyperLogLog(14))
    jvm = hll_build_jvm(lineitem, cols, p=14)
    assert kernel.to_bytes() == jvm.to_bytes()


def test_cms_jvm_build_bit_identical(spark, events):
    kernel = build_sketch(events, ["event_type"],
                          lambda: CountMinSketch(eps=1e-4, delta=1e-3))
    jvm = cms_build_jvm(events, ["event_type"], eps=1e-4, delta=1e-3)
    assert (kernel.table == jvm.table).all()
    assert kernel.total == jvm.total
    assert kernel.to_bytes() == jvm.to_bytes()


def test_cms_jvm_build_composite_key_odd_width(spark, lineitem):
    """Non-power-of-two width exercises the unsigned-mod halving trick on
    every row; composite key exercises the variadic hash."""
    cols = ["l_orderkey", "l_linenumber"]
    kernel = build_sketch(lineitem, cols,
                          lambda: CountMinSketch(width=12289, depth=7))
    jvm = cms_build_jvm(lineitem, cols, width=12289, depth=7)
    assert kernel.to_bytes() == jvm.to_bytes()


def test_cms_jvm_build_weighted_preaggregated(spark, events):
    """JVM CMS over pre-aggregated (key, count) rows equals the kernel
    weighted build (map-side-combine pattern; integral weights)."""
    pre = events.groupBy("event_type").agg(F.count("*").cast("double").alias("cnt"))
    kernel = build_sketch(pre, ["event_type"],
                          lambda: CountMinSketch(width=4096, depth=5),
                          weight_col="cnt")
    jvm = cms_build_jvm(pre, ["event_type"], width=4096, depth=5,
                        weight_col="cnt")
    assert kernel.to_bytes() == jvm.to_bytes()


def test_multi_sketch_build_jvm_bit_identical(spark, events):
    """One-scan tagged-cell family build == individual JVM builds, byte
    for byte (HLL over user_id + CMS over event_type in one shuffle)."""
    from bloomfilter_spark.jvm_build import multi_sketch_build_jvm
    fam = multi_sketch_build_jvm(events, {
        "hll_users": ("hll", ["user_id"], 12),
        "cms_types": ("cms", ["event_type"], 1e-4, 1e-3),
    })
    hll = hll_build_jvm(events, ["user_id"], p=12)
    cms = cms_build_jvm(events, ["event_type"], eps=1e-4, delta=1e-3)
    assert fam["hll_users"].to_bytes() == hll.to_bytes()
    assert fam["cms_types"].to_bytes() == cms.to_bytes()


def test_multi_sketch_build_jvm_null_isolation(spark):
    """A NULL key skips only its own spec's update for that row."""
    from bloomfilter_spark.jvm_build import multi_sketch_build_jvm
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", None), ("a", 3)], "k string, v long")
    fam = multi_sketch_build_jvm(df, {
        "hll_v": ("hll", ["v"], 12),
        "cms_k": ("cms", ["k"], 1e-3, 1e-3),
    })
    assert fam["hll_v"].to_bytes() == hll_build_jvm(df, ["v"], p=12).to_bytes()
    assert fam["cms_k"].to_bytes() == \
        cms_build_jvm(df, ["k"], eps=1e-3, delta=1e-3).to_bytes()
    assert fam["cms_k"].total == 3  # the NULL-k row skipped CMS only


def test_ansi_mode_restored_after_jvm_build(spark, lineitem):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    bloom_grouped_build_jvm(lineitem, ["l_returnflag"], ["l_orderkey"],
                            capacity=1000, fpr=0.05)
    assert spark.conf.get("spark.sql.ansi.enabled") == prev


def test_jvm_build_leaves_session_conf_unchanged(spark, events):
    """An unset ANSI key stays unset: the wrap-arithmetic window must not
    leave it explicitly set to the value `get` reported."""
    from bloomfilter_spark.jvm_build import cms_grouped_build_jvm
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    try:
        before = dict(spark.conf.getAll)
        assert key not in before
        cms_grouped_build_jvm(events, ["event_type"], ["user_id"],
                              width=256, depth=3).collect()
        assert dict(spark.conf.getAll) == before
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def test_hll_grouped_estimate_jvm_matches_kernel(spark, events, lineitem):
    """Per-key JVM estimates equal per-key kernel-HLL estimates exactly
    (same hash, same registers; the SQL harmonic sum is float-associative
    within 1e-9 relative). Covers both estimator branches: events hits
    linear counting (few distinct users per type), lineitem's distinct
    orderkeys per returnflag hit the raw alpha*m^2 branch at p=8."""
    from bloomfilter_spark.agg import grouped_sketch_df
    from bloomfilter_spark.jvm_build import hll_grouped_estimate_jvm

    for df, keys, cols, p in (
            (events.where(F.col("user_id").isNotNull()
                          & F.col("event_type").isNotNull()),
             ["event_type"], ["user_id"], 12),
            (lineitem, ["l_returnflag"], ["l_orderkey"], 8)):
        jvm = hll_grouped_estimate_jvm(df, keys, cols, p=p, out_col="e_jvm")
        kern = grouped_sketch_df(df, keys, cols, lambda: HyperLogLog(p),
                                 {"e_kern": lambda s: float(s.estimate())},
                                 salt=4)
        rows = jvm.join(kern, keys).collect()
        assert rows, "join produced no rows"
        for r in rows:
            assert abs(r["e_jvm"] - r["e_kern"]) <= 1e-9 * max(r["e_kern"], 1.0)


def test_hll_grouped_estimate_jvm_accuracy(spark, lineitem):
    """Grouped JVM estimates sit within the published +-3 sigma HLL bound
    of the exact per-key distinct counts."""
    from bloomfilter_spark.jvm_build import hll_grouped_estimate_jvm
    p = 12
    est = hll_grouped_estimate_jvm(lineitem, ["l_returnflag"],
                                   ["l_orderkey"], p=p)
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact"))
    tol = 3 * 1.04 / (1 << p) ** 0.5
    for r in est.join(exact, "l_returnflag").collect():
        assert abs(r["est"] - r["exact"]) <= tol * r["exact"] + 3


def test_cms_grouped_build_jvm_byte_identical(spark, events):
    """Per-key CMS blobs from the JVM-reduced grouped build equal the
    kernel grouped build byte-for-byte."""
    from bloomfilter_spark.agg import grouped_sketch_table
    from bloomfilter_spark.jvm_build import cms_grouped_build_jvm
    kern = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_table(
        events, ["event_type"], ["user_id"],
        lambda: CountMinSketch(width=4096, depth=5)).collect()}
    jvm = {r["event_type"]: bytes(r["sketch"]) for r in cms_grouped_build_jvm(
        events, ["event_type"], ["user_id"],
        width=4096, depth=5).collect()}
    assert kern == jvm and len(jvm) > 1


def test_cms_grouped_build_jvm_partition_invariant(spark, events):
    from bloomfilter_spark.jvm_build import cms_grouped_build_jvm
    a = {r["event_type"]: bytes(r["sketch"]) for r in cms_grouped_build_jvm(
        events, ["event_type"], ["user_id"], width=2048, depth=4).collect()}
    b = {r["event_type"]: bytes(r["sketch"]) for r in cms_grouped_build_jvm(
        events.repartition(13), ["event_type"], ["user_id"],
        width=2048, depth=4).collect()}
    assert a == b


def test_quantile_grouped_build_preagg_matches_reference(spark, lineitem):
    """Per-key KLL blobs from the grouped pre-agg build are byte-equal to
    a driver-side reference: the same sorted (value, count) pairs fed
    through one weighted insert."""
    from collections import defaultdict
    from bloomfilter_spark.jvm_build import quantile_grouped_build_preagg
    from bloomfilter_spark.sketches import KLL
    got = {r["l_returnflag"]: bytes(r["sketch"])
           for r in quantile_grouped_build_preagg(
               lineitem, ["l_returnflag"], "l_quantity",
               lambda: KLL(200)).collect()}

    pairs = defaultdict(dict)
    for r in (lineitem.groupBy("l_returnflag",
                               F.col("l_quantity").cast("double").alias("v"))
                      .count().collect()):
        pairs[r["l_returnflag"]][r["v"]] = r["count"]
    assert set(got) == set(pairs)
    for key, vw in pairs.items():
        vs = np.array(sorted(vw), dtype=np.float64)
        ws = np.array([vw[v] for v in vs], dtype=np.int64)
        ref = KLL(200)
        ref.update_weighted(vs, ws)
        assert got[key] == ref.to_bytes()


def test_quantile_grouped_build_preagg_partition_invariant_and_bounds(spark, lineitem):
    """Blob determinism across physical layouts + the KLL rank guarantee
    per key (epsilon ~ 1.7%/sqrt-ish at k=200; use a loose 5% bound)."""
    from bloomfilter_spark.jvm_build import quantile_grouped_build_preagg
    from bloomfilter_spark.sketches import KLL
    a = {r["l_returnflag"]: bytes(r["sketch"])
         for r in quantile_grouped_build_preagg(
             lineitem, ["l_returnflag"], "l_extendedprice",
             lambda: KLL(200)).collect()}
    b = {r["l_returnflag"]: bytes(r["sketch"])
         for r in quantile_grouped_build_preagg(
             lineitem.repartition(11), ["l_returnflag"], "l_extendedprice",
             lambda: KLL(200)).collect()}
    assert a == b
    for key, blob in a.items():
        vals = np.array([r["v"] for r in lineitem
                        .where(F.col("l_returnflag") == key)
                        .select(F.col("l_extendedprice").cast("double")
                                .alias("v")).collect()])
        est = KLL.from_bytes(blob).quantile(0.5)
        rank = (vals <= est).mean()
        assert 0.45 <= rank <= 0.55, (key, rank)


def test_bloom_grouped_build_jvm_byte_identical(spark, events):
    """Per-key Bloom blobs from the JVM-reduced grouped build equal the
    kernel grouped build byte-for-byte, and answer membership with zero
    false negatives per key."""
    from bloomfilter_spark.agg import grouped_sketch_table
    from bloomfilter_spark.jvm_build import bloom_grouped_build_jvm
    from bloomfilter_spark.sketches import BloomFilter
    from bloomfilter_spark.agg import hash_col
    from pyspark.sql import functions as F
    m, k = 1 << 14, 5
    kern = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_table(
        events, ["event_type"], ["user_id"],
        lambda: BloomFilter(m, k)).collect()}
    jvm = {r["event_type"]: bytes(r["sketch"]) for r in bloom_grouped_build_jvm(
        events, ["event_type"], ["user_id"], m=m, k=k).collect()}
    assert kern == jvm and len(jvm) > 1

    # zero FN: every key's own users are members of that key's filter
    sample = (events.where(F.col("user_id").isNotNull())
              .select("event_type",
                      hash_col([F.col("user_id")]).alias("h"))
              .limit(500).collect())
    import numpy as np
    for r in sample:
        bf = BloomFilter.from_bytes(jvm[r["event_type"]])
        assert bf.contains(np.array([r["h"]], dtype=np.int64).view(np.uint64))[0]


def test_bloom_grouped_build_jvm_partition_invariant(spark, events):
    from bloomfilter_spark.jvm_build import bloom_grouped_build_jvm
    a = {r["event_type"]: bytes(r["sketch"]) for r in bloom_grouped_build_jvm(
        events, ["event_type"], ["user_id"], capacity=20000, fpr=0.01).collect()}
    b = {r["event_type"]: bytes(r["sketch"]) for r in bloom_grouped_build_jvm(
        events.repartition(9), ["event_type"], ["user_id"],
        capacity=20000, fpr=0.01).collect()}
    assert a == b


def test_hll_grouped_build_jvm_byte_identical(spark, events):
    from bloomfilter_spark.agg import grouped_sketch_table
    from bloomfilter_spark.jvm_build import hll_grouped_build_jvm
    kern = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_table(
        events, ["event_type"], ["user_id"],
        lambda: HyperLogLog(12)).collect()}
    jvm = {r["event_type"]: bytes(r["sketch"]) for r in hll_grouped_build_jvm(
        events, ["event_type"], ["user_id"], p=12).collect()}
    assert kern == jvm and len(jvm) > 1
    # re-grouped (repartitioned) input gives the same blobs
    jvm2 = {r["event_type"]: bytes(r["sketch"]) for r in hll_grouped_build_jvm(
        events.repartition(7), ["event_type"], ["user_id"], p=12).collect()}
    assert jvm == jvm2


def test_theta_grouped_build_jvm_byte_identical(spark, events):
    from bloomfilter_spark.agg import grouped_sketch_table
    from bloomfilter_spark.jvm_build import theta_grouped_build_jvm
    from bloomfilter_spark.sketches import ThetaSketch
    # small k vs high-cardinality event_id so theta engages per key
    kern = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_table(
        events, ["event_type"], ["event_id"],
        lambda: ThetaSketch(64)).collect()}
    jvm = {r["event_type"]: bytes(r["sketch"]) for r in theta_grouped_build_jvm(
        events, ["event_type"], ["event_id"], k=64).collect()}
    assert kern == jvm and len(jvm) > 1
    # theta engages (eager-trim to k) for at least one key; small keys
    # stay exact (retained = all distinct, theta at max)
    sizes = {ThetaSketch.from_bytes(b).retained.size for b in jvm.values()}
    assert 64 in sizes
    jvm2 = {r["event_type"]: bytes(r["sketch"]) for r in theta_grouped_build_jvm(
        events.repartition(5), ["event_type"], ["event_id"], k=64).collect()}
    assert jvm == jvm2


def test_mg_build_preagg_invariants_and_tightness(spark, documents):
    """One-pass JVM-reduced MG build (rollup + TakeOrdered, k+2 rows to
    the driver): all three MG invariants hold against exact counts, and
    retained items' upper bound is EXACT (stored + dec == exact) — the
    minimal-decrement summary a single trim over exact counts yields."""
    import numpy as np
    from pyspark.sql import functions as F
    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.jvm_build import mg_build_preagg

    c = F.col("text")
    toks = (documents.where(c.isNotNull() & (F.length(F.trim(c)) > 0))
            .select(F.explode(F.split(F.trim(F.lower(c)), r"\s+"))
                    .alias("token")))
    k = 16
    mg = mg_build_preagg(toks, ["token"], k=k)
    exact = {r["h"]: r["cnt"] for r in
             toks.groupBy(hash_col([F.col("token")]).alias("h"))
                 .agg(F.count("*").alias("cnt")).collect()}
    assert mg.n == sum(exact.values())
    assert len(exact) > k            # trimming engaged
    assert mg.dec <= mg.n / (k + 1)
    probes = np.array(list(exact), dtype=np.int64).view(np.uint64)
    true = np.array(list(exact.values()))
    lo = mg.query(probes)
    assert np.all(lo <= true) and np.all(true <= lo + mg.dec)
    assert np.all((lo == 0) | (lo + mg.dec == true))   # tight upper bound

    # deterministic across partitionings (byte equality, unlike the
    # order-dependent kernel path)
    mg2 = mg_build_preagg(toks.repartition(7), ["token"], k=k)
    assert mg2.to_bytes() == mg.to_bytes()


def test_mg_build_preagg_small_and_empty(spark):
    from bloomfilter_spark.jvm_build import mg_build_preagg

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "v string")
    mg = mg_build_preagg(df, ["v"], k=8)
    assert mg.n == 3 and mg.dec == 0 and sorted(mg.counts.tolist()) == [1, 2]
    empty = mg_build_preagg(df.where("v = 'zzz'"), ["v"], k=8)
    assert empty.n == 0 and empty.dec == 0 and empty.items.size == 0


def test_mg_grouped_build_preagg_parity_and_invariants(spark, events):
    """Grouped MG build: each key's sketch is byte-identical to the global
    preagg build run on that key's rows alone (same exact-counts +
    one-trim-round determinism), invariants hold per key, and the result
    is partition-invariant."""
    import numpy as np
    from bloomfilter_spark.jvm_build import mg_build_preagg, \
        mg_grouped_build_preagg
    from bloomfilter_spark.sketches.mg import MisraGries

    k = 8
    table = {r["event_type"]: bytes(r["sketch"])
             for r in mg_grouped_build_preagg(
                 events, ["event_type"], ["user_id"], k=k).collect()}
    assert len(table) > 1
    trimmed = 0
    for et, blob in table.items():
        sub = events.where(F.col("event_type") == et)
        ref = mg_build_preagg(sub, ["user_id"], k=k)
        assert blob == ref.to_bytes(), f"parity broke for key {et!r}"
        sk = MisraGries.from_bytes(blob)
        assert sk.dec <= sk.n / (k + 1)
        trimmed += sk.dec > 0
    assert trimmed > 0  # trimming engaged for at least one key

    table2 = {r["event_type"]: bytes(r["sketch"])
              for r in mg_grouped_build_preagg(
                  events.repartition(7), ["event_type"], ["user_id"],
                  k=k).collect()}
    assert table2 == table


def test_mg_grouped_build_preagg_null_key_and_small(spark):
    """A genuinely-NULL key value is a real group (the grouping flag, not
    NULL, marks subtotal rows); keys below k counters carry dec == 0."""
    from bloomfilter_spark.jvm_build import mg_grouped_build_preagg
    from bloomfilter_spark.sketches.mg import MisraGries

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), (None, "z"), (None, "z"),
         ("b", None)],
        "grp string, v string")
    rows = mg_grouped_build_preagg(df, ["grp"], ["v"], k=8).collect()
    by_key = {r["grp"]: MisraGries.from_bytes(bytes(r["sketch"]))
              for r in rows}
    # ("b", None) is dropped (NULL value col), so "b" has no group at all
    assert set(by_key) == {"a", None}
    assert by_key["a"].n == 3 and by_key["a"].dec == 0
    assert sorted(by_key["a"].counts.tolist()) == [1, 2]
    assert by_key[None].n == 2 and by_key[None].counts.tolist() == [2]


def test_mg_grouped_build_warehouse_roundtrip(spark, events, tmp_path):
    """The grouped table persists byte-exact through the warehouse and a
    path-union merge of two disjoint slices preserves the MG bounds
    against the full corpus's exact counts."""
    import numpy as np
    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.jvm_build import mg_grouped_build_preagg
    from bloomfilter_spark.sketches.mg import MisraGries
    from bloomfilter_spark.warehouse import load_sketch_table, \
        save_sketch_table

    k = 8
    table = mg_grouped_build_preagg(events, ["event_type"], ["user_id"], k=k)
    path = str(tmp_path / "mg_grouped")
    save_sketch_table(table, path, keys=["event_type"],
                      factory=lambda: MisraGries(k=k))
    loaded, meta = load_sketch_table(
        spark, path, expected_factory=lambda: MisraGries(k=k))
    assert meta["keys"] == ["event_type"]
    assert ({r["event_type"]: bytes(r["sketch"]) for r in loaded.collect()}
            == {r["event_type"]: bytes(r["sketch"]) for r in table.collect()})

    # bounds survive a merge of per-slice sketches (kernel merge rule)
    lo_sl = events.where(F.col("event_id") % 2 == 0)
    hi_sl = events.where(F.col("event_id") % 2 == 1)
    merged = {}
    for sl in (lo_sl, hi_sl):
        for r in mg_grouped_build_preagg(
                sl, ["event_type"], ["user_id"], k=k).collect():
            sk = MisraGries.from_bytes(bytes(r["sketch"]))
            if r["event_type"] in merged:
                merged[r["event_type"]].merge(sk)
            else:
                merged[r["event_type"]] = sk
    exact = {(r["event_type"], r["h"]): r["cnt"] for r in
             events.groupBy("event_type",
                            hash_col([F.col("user_id")]).alias("h"))
                   .agg(F.count("*").alias("cnt")).collect()}
    for (et, h), cnt in exact.items():
        sk = merged[et]
        lo = int(sk.query(np.array([h], dtype=np.int64)
                          .view(np.uint64))[0])
        assert lo <= cnt <= lo + sk.dec


def test_mg_grouped_build_large_k_engages_window_group_limit(spark, events):
    """k above the optimizer's windowGroupLimitThreshold still gets the
    rank-filter pruning (threshold raised SCOPED, session value
    restored), and results equal the default-threshold build."""
    from bloomfilter_spark.jvm_build import mg_grouped_build_preagg

    thr_key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prev = spark.conf.get(thr_key, None)
    try:
        spark.conf.set(thr_key, "10")   # force k+2 > threshold
        t = mg_grouped_build_preagg(events, ["event_type"], ["user_id"],
                                    k=16)
        assert spark.conf.get(thr_key) == "10"          # restored
        plan = t._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan               # rewrite pinned
        got = {r["event_type"]: bytes(r["sketch"]) for r in t.collect()}
    finally:
        if prev is None:
            spark.conf.unset(thr_key)
        else:
            spark.conf.set(thr_key, prev)
    want = {r["event_type"]: bytes(r["sketch"])
            for r in mg_grouped_build_preagg(
                events, ["event_type"], ["user_id"], k=16).collect()}
    assert got == want


def test_iblt_build_jvm_byte_identical_and_dedup(spark, events):
    """Global JVM IBLT build == kernel build over the np.unique'd hash
    set (codegen distinct = the kernel caller's dedup contract), at two
    partitionings; duplicate rows count once."""
    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.config import DEFAULT_SEED
    from bloomfilter_spark.jvm_build import iblt_build_jvm
    from bloomfilter_spark.sketches import IBLT
    from bloomfilter_spark.util import U64

    ev = events.where(F.col("user_id").isNotNull())
    h = np.unique(np.array(
        [r["h"] for r in ev.select(
            hash_col([F.col("user_id")], DEFAULT_SEED).alias("h")).collect()],
        dtype=np.int64).view(U64))
    kern = IBLT.for_diff(5000)
    kern.update(h)
    jvm = iblt_build_jvm(ev, ["user_id"], max_diff=5000)
    assert jvm.to_bytes() == kern.to_bytes()
    # duplicates collapse in codegen: doubling the corpus changes nothing
    jvm_dup = iblt_build_jvm(ev.union(ev).repartition(7), ["user_id"],
                             max_diff=5000)
    assert jvm_dup.to_bytes() == kern.to_bytes()
    # and the table actually decodes its own content
    pos, neg, complete = jvm.decode()
    assert complete and neg.size == 0
    assert set(pos.tolist()) == set(h.tolist())


def test_iblt_build_jvm_sizing_args(spark, events):
    from bloomfilter_spark.jvm_build import iblt_build_jvm
    import pytest
    with pytest.raises(ValueError):
        iblt_build_jvm(events, ["user_id"])
    with pytest.raises(ValueError):
        iblt_build_jvm(events, ["user_id"], max_diff=10, num_cells=64)


def test_iblt_grouped_build_jvm_byte_identical(spark, events):
    """Per-key JVM IBLT blobs == kernel builds over each key's distinct
    hashes; partition-invariant; NULL keys/cols skipped like every other
    grouped builder."""
    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.config import DEFAULT_SEED
    from bloomfilter_spark.jvm_build import iblt_grouped_build_jvm
    from bloomfilter_spark.sketches import IBLT
    from bloomfilter_spark.util import U64

    ev = events.where(F.col("user_id").isNotNull())
    per_key = {}
    for r in ev.select("event_type",
                       hash_col([F.col("user_id")], DEFAULT_SEED).alias("h")
                       ).collect():
        per_key.setdefault(r["event_type"], set()).add(r["h"])
    kern = {}
    for kk, hs in per_key.items():
        t = IBLT(num_cells=2048, num_hashes=4)
        t.update(np.unique(np.array(sorted(hs), dtype=np.int64).view(U64)))
        kern[kk] = t.to_bytes()
    jvm = {r["event_type"]: bytes(r["sketch"]) for r in
           iblt_grouped_build_jvm(ev, ["event_type"], ["user_id"],
                                  num_cells=2048).collect()}
    assert jvm == kern and len(jvm) > 1
    jvm2 = {r["event_type"]: bytes(r["sketch"]) for r in
            iblt_grouped_build_jvm(ev.repartition(5), ["event_type"],
                                   ["user_id"], num_cells=2048).collect()}
    assert jvm == jvm2
    # grouped blobs subtract/decode against each other: diff two keys
    ks = sorted(jvm)
    a = IBLT.from_bytes(jvm[ks[0]])
    b = IBLT.from_bytes(jvm[ks[1]])
    pos, neg, complete = a.subtract(b).decode()
    assert complete
    assert set(int(x) for x in pos) == set(
        np.array(sorted(per_key[ks[0]] - per_key[ks[1]]),
                 dtype=np.int64).view(U64).tolist())
    assert set(int(x) for x in neg) == set(
        np.array(sorted(per_key[ks[1]] - per_key[ks[0]]),
                 dtype=np.int64).view(U64).tolist())


def test_iblt_build_jvm_assume_distinct_parity_and_pk_reconcile(spark,
                                                                events):
    """assume_distinct=True (the 100 TB fast path: no dedup shuffle) is
    byte-identical to the default build when the key IS unique, and a
    PK-keyed reconcile decodes exactly. event_id is unique per row."""
    from bloomfilter_spark.jvm_build import iblt_build_jvm

    fast = iblt_build_jvm(events, ["event_id"], max_diff=2000,
                          assume_distinct=True)
    slow = iblt_build_jvm(events, ["event_id"], max_diff=2000)
    assert fast.to_bytes() == slow.to_bytes()
    # fast-path plan: exactly ONE exchange (cell partials) — the
    # key-count-scaled distinct shuffle is gone
    from bloomfilter_spark.agg import _cols
    from bloomfilter_spark.jvm_build import _iblt_updates, _wrap_arithmetic
    with _wrap_arithmetic(spark):
        fast_plan = _iblt_updates(events, _cols(["event_id"]), 4, fast.sub,
                                  42, assume_distinct=True) \
            ._jdf.queryExecution().executedPlan().toString()
        slow_plan = _iblt_updates(events, _cols(["event_id"]), 4, fast.sub,
                                  42) \
            ._jdf.queryExecution().executedPlan().toString()
    assert fast_plan.count("Exchange") == 1
    assert slow_plan.count("Exchange") == 2
    dropped = events.orderBy("event_id").limit(25)
    snap_b = events.join(dropped, "event_id", "left_anti")
    fb = iblt_build_jvm(snap_b, ["event_id"], max_diff=2000,
                        assume_distinct=True)
    pos, neg, complete = fast.subtract(fb).decode()
    assert complete and neg.size == 0 and pos.size == 25
