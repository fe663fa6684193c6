"""DDSketch kernel tests — the relative-VALUE-error quantile family
(Masson, Rim & Lee, VLDB 2019). The load-bearing claims:

1. |quantile(q) - x_q| <= alpha * |x_q| for every q, deterministically,
   where x_q = sorted[floor(q*(n-1))] — the paper's guarantee, verified
   against exact items across alphas / scales / signs.
2. Counts are exactly additive: partitioned builds, weighted builds, and
   merges are BYTE-identical to one whole-stream build (uncollapsed).
3. fold(m) is the exact gamma^m downgrade (ceil(ceil(a)/m) == ceil(a/m)).
4. Collapse bounds state, conserves count, keeps upper quantiles in bound.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark.sketches import DDSketch, sketch_from_bytes


def _exact_items(values: np.ndarray, qs: np.ndarray) -> np.ndarray:
    xs = np.sort(values)
    return xs[np.floor(qs * (len(xs) - 1)).astype(int)]


def test_relative_error_guarantee_across_alphas_and_scales(rng):
    qs = np.linspace(0.0, 1.0, 201)
    for alpha in (0.05, 0.01, 0.002):
        for scale in (1.0, 1e-6, 1e7):
            v = np.exp(rng.standard_normal(30_000)) * scale
            s = DDSketch(alpha)
            s.update(v)
            est = np.asarray(s.quantile(qs))
            exact = _exact_items(v, qs)
            rel = np.abs(est - exact) / np.abs(exact)
            assert rel.max() <= alpha * (1 + 1e-9), (alpha, scale, rel.max())
            assert s.value_error_bound() == alpha
            assert not s.collapsed


def test_mixed_sign_and_zero_handling(rng):
    pos = np.exp(rng.standard_normal(10_000))
    v = np.concatenate([pos, -pos, np.zeros(5_000)])
    rng.shuffle(v)
    s = DDSketch(0.01)
    s.update(v)
    assert s.n == len(v) and s.zero_count == 5_000
    qs = np.linspace(0.0, 1.0, 101)
    est = np.asarray(s.quantile(qs))
    exact = _exact_items(v, qs)
    nz = exact != 0
    rel = np.abs(est[nz] - exact[nz]) / np.abs(exact[nz])
    assert rel.max() <= 0.01 * (1 + 1e-9)
    assert est[~nz].tolist() == [0.0] * (~nz).sum()  # zero bucket is exact
    # rank: symmetric distribution + zeros -> F(0) covers the zero mass
    assert s.rank(0.0) == pytest.approx(0.6, abs=0.01)
    assert s.rank(-np.inf if False else -1e300) == 0.0
    assert s.rank(1e300) == 1.0


def test_nan_and_inf_skipped(rng):
    v = np.array([1.0, np.nan, 2.0, np.inf, -np.inf, 4.0])
    s = DDSketch(0.01)
    s.update(v)
    assert s.n == 3
    s.update_weighted(np.array([np.nan, 8.0]), np.array([5, 2]))
    assert s.n == 5


def test_partitioned_and_weighted_builds_byte_equal(rng):
    v = np.exp(rng.standard_normal(20_000)).round(3)  # force duplicates
    whole = DDSketch(0.01)
    whole.update(v)
    # partitioned build, any chunking
    m = DDSketch(0.01)
    for chunk in np.array_split(v, 13):
        t = DDSketch(0.01)
        t.update(chunk)
        m.merge(t)
    assert m.to_bytes() == whole.to_bytes()
    # weighted build from the value histogram
    uniq, cnt = np.unique(v, return_counts=True)
    w = DDSketch(0.01)
    w.update_weighted(uniq, cnt)
    assert w.to_bytes() == whole.to_bytes()
    # merge algebra: identity, commutativity (byte level)
    z = DDSketch(0.01)
    cp = sketch_from_bytes(whole.to_bytes())
    assert z.merge(cp).to_bytes() == whole.to_bytes()
    a, b = DDSketch(0.01), DDSketch(0.01)
    a.update(v[:7_000]); b.update(v[7_000:])
    ab = sketch_from_bytes(a.to_bytes()).merge(b)
    ba = sketch_from_bytes(b.to_bytes()).merge(a)
    assert ab.to_bytes() == ba.to_bytes() == whole.to_bytes()


def test_merge_geometry_guard(rng):
    a, b = DDSketch(0.01), DDSketch(0.02)
    with pytest.raises(ValueError, match="geometry mismatch"):
        a.merge(b)
    c = DDSketch(0.01, bucket_limit=64)
    with pytest.raises(ValueError, match="geometry mismatch"):
        a.merge(c)
    from bloomfilter_spark.sketches import KLL
    with pytest.raises(ValueError, match="cannot merge"):
        a.merge(KLL(64))


def test_fold_exact_gamma_power_downgrade(rng):
    v = np.exp(2.0 * rng.standard_normal(20_000))
    v = np.concatenate([v, -v[:3_000], np.zeros(100)])
    s = DDSketch(0.005)
    s.update(v)
    for m in (1, 3, 8):
        f = s.fold(m)
        g_m = s.gamma ** m
        assert f.alpha == pytest.approx((g_m - 1) / (g_m + 1), rel=1e-12)
        assert f.n == s.n and f.zero_count == s.zero_count
        # exact index mapping: every folded bucket is ceil(i/m)
        assert np.array_equal(
            np.unique(-(-s._pos_idx.astype(np.int64) // m)), f._pos_idx)
        qs = np.linspace(0.0, 1.0, 51)
        est = np.asarray(f.quantile(qs))
        exact = _exact_items(v, qs)
        nz = exact != 0
        rel = np.abs(est[nz] - exact[nz]) / np.abs(exact[nz])
        assert rel.max() <= f.alpha * (1 + 1e-9)
    assert s.fold(1).to_bytes() == s.to_bytes()
    # fold composition: fold(2) then fold(3) == fold(6) on bucket
    # CONTENTS (ceil-division composes exactly); the alpha param may
    # drift by an ulp across the two-step float recompute, so whole-blob
    # byte equality is only promised for a single fold (docstring)
    f23, f6 = s.fold(2).fold(3), s.fold(6)
    assert np.array_equal(f23._pos_idx, f6._pos_idx)
    assert np.array_equal(f23._pos_cnt, f6._pos_cnt)
    assert np.array_equal(f23._neg_idx, f6._neg_idx)
    assert np.array_equal(f23._neg_cnt, f6._neg_cnt)
    assert (f23.n, f23.zero_count) == (f6.n, f6.zero_count)
    assert f23.alpha == pytest.approx(f6.alpha, rel=1e-12)
    # source not mutated
    before = s.to_bytes()
    s.fold(4)
    assert s.to_bytes() == before
    with pytest.raises(ValueError, match="integer >= 1"):
        s.fold(0)
    with pytest.raises(ValueError, match="integer >= 1"):
        s.fold(2.5)


def test_collapse_bounds_state_and_keeps_upper_quantiles(rng):
    v = np.exp(3.0 * rng.standard_normal(50_000))
    s = DDSketch(0.005, bucket_limit=64)
    s.update(v)
    assert s.collapsed
    assert s._pos_idx.size <= 64
    assert s.n == len(v)  # collapse conserves count exactly
    # the contract: quantiles whose rank lands ABOVE the collapsed mass
    # (everything spilled into the lowest kept bucket) stay within alpha;
    # derive the covered region from the sketch itself
    collapsed_frac = float(s._pos_cnt[0]) / s.n
    assert collapsed_frac < 1.0  # something genuinely survives uncollapsed
    qs = np.linspace(collapsed_frac + (1.0 - collapsed_frac) * 0.1, 1.0, 25)
    est = np.asarray(s.quantile(qs))
    exact = _exact_items(v, qs)
    rel = np.abs(est - exact) / exact
    assert rel.max() <= 0.005 * (1 + 1e-9)
    # and a quantile inside the collapsed region is answered by the
    # collapsed bucket's representative (no crash, deterministic),
    # pessimistic by construction
    assert s.quantile(collapsed_frac / 2) > 0
    # collapsed-ness survives the wire and merge
    r = sketch_from_bytes(s.to_bytes())
    assert r.collapsed
    fresh = DDSketch(0.005, bucket_limit=64)
    fresh.update(v[:10])
    assert fresh.merge(r).collapsed


def test_wire_roundtrip_and_validation(rng):
    v = np.concatenate([np.exp(rng.standard_normal(5_000)),
                        -np.exp(rng.standard_normal(2_000)), np.zeros(7)])
    s = DDSketch(0.02, bucket_limit=512)
    s.update(v)
    blob = s.to_bytes()
    r = sketch_from_bytes(blob)
    assert isinstance(r, DDSketch) and r.to_bytes() == blob
    assert r.n == s.n and r.zero_count == 7
    assert np.asarray(r.quantile([0.1, 0.5, 0.9])).tolist() == \
        np.asarray(s.quantile([0.1, 0.5, 0.9])).tolist()
    # params-only zero reconstruction (warehouse factory convention)
    z = DDSketch.from_bytes(DDSketch(0.02, bucket_limit=512).to_bytes())
    assert z.n == 0 and z.quantile(0.5) != z.quantile(0.5)  # NaN
    # constructor validation
    with pytest.raises(ValueError, match="alpha"):
        DDSketch(1e-7)
    with pytest.raises(ValueError, match="alpha"):
        DDSketch(1.0)
    with pytest.raises(ValueError, match="bucket_limit"):
        DDSketch(0.01, bucket_limit=4)
    with pytest.raises(ValueError, match="counts must be positive"):
        DDSketch(0.01)._insert_buckets(1, np.array([3]), np.array([0]))


def test_empty_and_single_value():
    s = DDSketch(0.01)
    assert np.isnan(s.quantile(0.5)) and np.isnan(s.rank(1.0))
    s.update(np.array([42.0]))
    assert abs(s.quantile(0.5) - 42.0) <= 0.01 * 42.0
    assert s.rank(100.0) == 1.0 and s.rank(1.0) == 0.0


def test_registry_and_describe_contract():
    from bloomfilter_spark.sketches import SKETCH_TYPES
    assert SKETCH_TYPES[DDSketch.TYPE_TAG] is DDSketch
    assert not DDSketch.HASH_KEYED
    s = DDSketch(0.01)
    s.update(np.array([1.0, 2.0, 0.0, -3.0]))
    # public scalars surfaced by sketch_describe's vars() sweep
    pub = {k: v for k, v in vars(s).items() if not k.startswith("_")}
    assert pub == {"alpha": 0.01, "bucket_limit": 2048, "zero_count": 1,
                   "n": 4, "collapsed": False}


# --- Spark integration -----------------------------------------------------

def test_jvm_build_byte_parity_with_kernel(spark, rng):
    """ddsketch_build_jvm (codegen groupBy(sign, bucket).count) must be
    byte-identical to the kernel/UDAF build over the same rows —
    continuous values, mixed signs, zeros, NULLs and NaNs."""
    from bloomfilter_spark.agg import build_sketch
    from bloomfilter_spark.jvm_build import ddsketch_build_jvm
    from bloomfilter_spark.sketches import DDSketch

    vals = np.concatenate([
        np.exp(rng.standard_normal(8_000)) * 37.0,
        -np.exp(rng.standard_normal(2_000)),
        np.zeros(300),
    ])
    rows = [(float(x),) for x in vals] + [(None,)] + [(float("nan"),)]
    df = spark.createDataFrame(rows, "v double").repartition(7)

    jvm = ddsketch_build_jvm(df, "v", alpha=0.01)
    kern = build_sketch(df, ["v"], lambda: DDSketch(0.01))
    assert jvm.to_bytes() == kern.to_bytes()
    assert jvm.n == len(vals) and jvm.zero_count == 300

    # and the estimates obey the alpha bound vs exact items
    qs = np.linspace(0.0, 1.0, 41)
    exact = _exact_items(vals, qs)
    est = np.asarray(jvm.quantile(qs))
    nz = exact != 0
    rel = np.abs(est[nz] - exact[nz]) / np.abs(exact[nz])
    assert rel.max() <= 0.01 * (1 + 1e-9)


def test_grouped_jvm_build_parity_and_plan(spark, rng):
    from bloomfilter_spark.agg import grouped_sketch_table
    from bloomfilter_spark.jvm_build import ddsketch_grouped_build_jvm
    from bloomfilter_spark.sketches import DDSketch

    rows = [(f"tool_{int(i) % 5}", float(np.exp(x)))
            for i, x in enumerate(rng.standard_normal(10_000))]
    df = spark.createDataFrame(rows, "tool string, lat double").repartition(6)

    got = ddsketch_grouped_build_jvm(df, ["tool"], "lat", alpha=0.02)
    want = grouped_sketch_table(df, ["tool"], ["lat"],
                                lambda: DDSketch(0.02))
    g = {r["tool"]: bytes(r["sketch"]) for r in got.collect()}
    w = {r["tool"]: bytes(r["sketch"]) for r in want.collect()}
    assert g == w and len(g) == 5

    # partition invariance: a different layout yields the same bytes
    g2 = {r["tool"]: bytes(r["sketch"]) for r in
          ddsketch_grouped_build_jvm(df.repartition(17, "lat"), ["tool"],
                                     "lat", alpha=0.02).collect()}
    assert g2 == g

    # plan: the count aggregation runs JVM-side (codegen HashAggregate
    # below the one Python assembly stage), no Python in the scan/agg
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    scan_and_agg = plan.split("MapInArrow")[-1]
    assert "HashAggregate" in scan_and_agg
    assert "ArrowEvalPython" not in scan_and_agg
    assert "BatchEvalPython" not in plan


def test_max_buckets_guard(spark, rng):
    from bloomfilter_spark.jvm_build import ddsketch_build_jvm
    df = spark.createDataFrame(
        [(float(np.exp(x * 5)),) for x in rng.standard_normal(2_000)],
        "v double")
    with pytest.raises(ValueError, match="DDSketch buckets"):
        ddsketch_build_jvm(df, "v", alpha=0.01, max_buckets=10)


def test_sql_surface_over_ddsketch_blobs(spark, rng):
    """The generic SQL functions dispatch to DDSketch: quantile / rank /
    histogram / error bound / describe / fold / GROUP-BY sketch_merge —
    each equal to the kernel API on the same blobs."""
    import json

    from bloomfilter_spark.jvm_build import ddsketch_grouped_build_jvm
    from bloomfilter_spark.sketches import DDSketch, sketch_from_bytes
    from bloomfilter_spark.sql import register_sketch_sql

    register_sketch_sql(spark)
    rows = [(f"tool_{int(i) % 4}", f"d{int(i) % 3}", float(np.exp(x) * 50))
            for i, x in enumerate(rng.standard_normal(6_000))]
    df = spark.createDataFrame(rows, "tool string, day string, lat double")
    tbl = ddsketch_grouped_build_jvm(df, ["tool", "day"], "lat", alpha=0.01)
    tbl.createOrReplaceTempView("dd_by_tool_day")

    got = spark.sql("""
        SELECT tool, day,
               sketch_quantile(sketch, 0.99) AS p99,
               sketch_rank(sketch, 50.0)     AS under_50,
               sketch_error_bound(sketch)    AS bound,
               sketch_describe(sketch)       AS d
        FROM dd_by_tool_day""").collect()
    assert len(got) == 12
    blobs = {(r["tool"], r["day"]): bytes(r["sketch"])
             for r in tbl.collect()}
    for r in got:
        sk = sketch_from_bytes(blobs[(r["tool"], r["day"])])
        assert r["p99"] == float(sk.quantile(0.99))
        assert r["under_50"] == float(sk.rank(50.0))
        assert r["bound"] == 0.01
        assert json.loads(r["d"])["family"] == "DDSketch"

    # GROUP BY re-aggregation: merging per-day blobs == one per-tool build
    merged = {r["tool"]: bytes(r["m"]) for r in spark.sql(
        "SELECT tool, sketch_merge(sketch) AS m FROM dd_by_tool_day "
        "GROUP BY tool").collect()}
    whole = {r["tool"]: bytes(r["sketch"]) for r in
             ddsketch_grouped_build_jvm(df, ["tool"], "lat",
                                        alpha=0.01).collect()}
    assert merged == whole

    # fold from SQL == kernel fold
    folded = spark.sql("SELECT tool, day, sketch_fold(sketch, 3) AS f "
                       "FROM dd_by_tool_day").collect()
    for r in folded:
        kern = sketch_from_bytes(blobs[(r["tool"], r["day"])]).fold(3)
        assert bytes(r["f"]) == kern.to_bytes()

    # histogram masses = CDF differences
    h = spark.sql("SELECT sketch_histogram(sketch, 10.0, 200.0, 4) AS h, "
                  "sketch AS s FROM dd_by_tool_day LIMIT 1").first()
    sk = sketch_from_bytes(bytes(h["s"]))
    edges = np.linspace(10.0, 200.0, 5)
    want = np.diff(np.asarray(sk.rank(edges)))
    assert np.allclose(np.asarray(h["h"]), want)


def test_streaming_stateful_quantile_with_ddsketch_factory(spark, tmp_path,
                                                           rng):
    """stateful_grouped_quantile(factory=DDSketch): the streamed state is
    order/chunk-invariant (exactly additive counts), so the final
    emission's estimate EQUALS a batch DDSketch build over the full
    history — not just within-bound."""
    from bloomfilter_spark.jvm_build import ddsketch_build_jvm
    from bloomfilter_spark.sketches import DDSketch
    from bloomfilter_spark.streaming import stateful_grouped_quantile

    rows = [("t0" if i % 3 else "t1", float(np.exp(x)))
            for i, x in enumerate(rng.standard_normal(4_000))]
    # DDSketch skips ±inf, so n_updates must not count these rows
    rows += [("t0", float("inf")), ("t1", float("-inf")),
             ("t1", float("inf"))]
    df = spark.createDataFrame(rows, "tool string, lat double")
    src = str(tmp_path / "dd_src")
    df.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful_grouped_quantile(stream, "tool", "lat",
                                    factory=lambda: DDSketch(0.01),
                                    quantiles=(0.5, 0.99))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("dd_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("""
        SELECT tool, q, est, n_updates FROM (
          SELECT *, row_number() OVER (PARTITION BY tool, q
                                       ORDER BY n_updates DESC) AS rn
          FROM dd_stream) WHERE rn = 1""").collect()
    assert {r["tool"] for r in res} == {"t0", "t1"}
    for r in res:
        batch = ddsketch_build_jvm(df.where(F.col("tool") == r["tool"]),
                                   "lat", alpha=0.01)
        assert r["n_updates"] == batch.n
        assert r["est"] == float(batch.quantile(r["q"]))


def test_ks_distance_kernel_and_sql(spark, rng):
    """DDSketch two-sample KS: ~0 for two halves of one distribution,
    large under a scale shift, exact conventions for empties; the
    family-generic SQL function equals the kernel and rejects mixed or
    non-CDF families."""
    from bloomfilter_spark.sketches import DDSketch, KLL
    from bloomfilter_spark.sql import register_sketch_sql

    base = np.exp(rng.standard_normal(30_000))
    a, b = DDSketch(0.01), DDSketch(0.01)
    a.update(base[:15_000])
    b.update(base[15_000:])
    same = a.ks_distance(b)
    assert same < 0.03  # two halves of one distribution
    c = DDSketch(0.01)
    c.update(base[:15_000] * 4.0)  # scale shift
    assert a.ks_distance(c) > 0.5
    # cross-geometry pair still evaluates (rank at arbitrary points)
    d = DDSketch(0.05)
    d.update(base[15_000:])
    assert a.ks_distance(d) < 0.06
    # empty conventions (KLL's)
    e = DDSketch(0.01)
    assert e.ks_distance(DDSketch(0.01)) == 0.0
    assert e.ks_distance(a) == 1.0 and a.ks_distance(e) == 1.0

    register_sketch_sql(spark)
    kll = KLL(200)
    kll.update(base)
    spark.createDataFrame(
        [(a.to_bytes(), b.to_bytes(), c.to_bytes(), kll.to_bytes())],
        "a binary, b binary, c binary, k binary"
    ).createOrReplaceTempView("ks_t")
    row = spark.sql("SELECT sketch_ks_distance(a, b) AS same, "
                    "sketch_ks_distance(a, c) AS shifted, "
                    "sketch_ks_distance(a, CAST(NULL AS binary)) AS n "
                    "FROM ks_t").first()
    assert row["same"] == same
    assert row["shifted"] == a.ks_distance(c)
    assert row["n"] is None
    # KLL pairs also dispatch (kernel equality with kll_ks_distance)
    row2 = spark.sql("SELECT sketch_ks_distance(k, k) AS kk, "
                     "kll_ks_distance(k, k) AS old FROM ks_t").first()
    assert row2["kk"] == row2["old"] == 0.0
    with pytest.raises(Exception, match="same family"):
        spark.sql("SELECT sketch_ks_distance(a, k) FROM ks_t").collect()
    from bloomfilter_spark.agg import build_sketch  # noqa: F401
    from bloomfilter_spark.sketches import HyperLogLog
    h = HyperLogLog(10)
    spark.createDataFrame([(h.to_bytes(),)], "h binary") \
         .createOrReplaceTempView("ks_bad_t")
    with pytest.raises(Exception, match="value sketch"):
        spark.sql("SELECT sketch_ks_distance(h, h) FROM ks_bad_t").collect()


def test_multi_sketch_family_build_includes_ddsketch(spark, rng):
    """The one-scan family build's 'ddsketch' kind is byte-identical to
    the standalone ddsketch_build_jvm (and the HLL/CMS members stay
    byte-identical to theirs) — one corpus pass builds all three."""
    from bloomfilter_spark.jvm_build import (cms_build_jvm,
                                             ddsketch_build_jvm,
                                             hll_build_jvm,
                                             multi_sketch_build_jvm)

    vals = np.concatenate([np.exp(rng.standard_normal(5_000)),
                           -np.exp(rng.standard_normal(1_000)),
                           np.zeros(50)])
    rows = [(f"u{int(i) % 500}", f"t{int(i) % 7}", float(x))
            for i, x in enumerate(vals)] + [("u0", "t0", None),
                                            ("u0", "t0", float("nan"))]
    df = spark.createDataFrame(rows, "user string, typ string, v double") \
              .repartition(5)
    fam = multi_sketch_build_jvm(df, {
        "hll_u": ("hll", ["user"], 12),
        "cms_t": ("cms", ["typ"], 1e-3, 1e-2),
        "dd_v": ("ddsketch", "v", 0.01),
    })
    assert fam["dd_v"].to_bytes() == \
        ddsketch_build_jvm(df, "v", alpha=0.01).to_bytes()
    assert fam["dd_v"].n == len(vals) and fam["dd_v"].zero_count == 50
    assert fam["hll_u"].to_bytes() == \
        hll_build_jvm(df, ["user"], p=12).to_bytes()
    assert fam["cms_t"].to_bytes() == \
        cms_build_jvm(df, ["typ"], eps=1e-3, delta=1e-2).to_bytes()


def test_stateful_grouped_ddsketch_blob_equals_batch(spark, tmp_path, rng):
    """The blob-emitting streaming operator: per-key streamed DDSketch
    state is BYTE-IDENTICAL to the batch build over the full history
    (counts exactly additive, chunk/order-invariant), and the emitted
    quantile columns equal the kernel's answers on that blob."""
    from bloomfilter_spark.jvm_build import ddsketch_build_jvm
    from bloomfilter_spark.sketches import DDSketch
    from bloomfilter_spark.streaming import stateful_grouped_ddsketch

    rows = [("t0" if i % 3 else "t1", float(np.exp(x) * 10))
            for i, x in enumerate(rng.standard_normal(5_000))]
    rows += [("t0", float("nan")), ("t1", None)]
    df = spark.createDataFrame(rows, "tool string, lat double")
    src = str(tmp_path / "dds_src")
    df.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful_grouped_ddsketch(stream, "tool", "lat", alpha=0.01,
                                    quantiles=(0.5, 0.99))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("dds_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("""
        SELECT tool, sketch, n_updates, q0_5, q0_99 FROM (
          SELECT *, row_number() OVER (PARTITION BY tool
                                       ORDER BY n_updates DESC) AS rn
          FROM dds_stream) WHERE rn = 1""").collect()
    assert {r["tool"] for r in res} == {"t0", "t1"}
    for r in res:
        batch = ddsketch_build_jvm(df.where(F.col("tool") == r["tool"]),
                                   "lat", alpha=0.01)
        assert bytes(r["sketch"]) == batch.to_bytes()
        assert r["n_updates"] == batch.n
        sk = DDSketch.from_bytes(bytes(r["sketch"]))
        assert r["q0_5"] == float(sk.quantile(0.5))
        assert r["q0_99"] == float(sk.quantile(0.99))


def test_family_build_cell_budget_guard(spark, rng):
    """multi_sketch_build_jvm's collect is budget-capped: a ddsketch spec
    whose occupied-bucket span exceeds max_buckets raises with resize
    guidance instead of OOMing the driver (review fix — the standalone
    builder already had this guard)."""
    from bloomfilter_spark.jvm_build import multi_sketch_build_jvm
    df = spark.createDataFrame(
        [(f"u{i}", float(np.exp(x * 5)))
         for i, x in enumerate(rng.standard_normal(2_000))],
        "user string, v double")
    with pytest.raises(ValueError, match="max_buckets"):
        multi_sketch_build_jvm(df, {
            "hll_u": ("hll", ["user"], 10),
            "dd_v": ("ddsketch", "v", 0.01),
        }, max_buckets=10)


def test_negative_weights_raise_across_value_sketches():
    """update_weighted raises on negative weights for every value sketch
    (review fix: previously silently dropped, while the pre-bucketed
    _insert_buckets path raised — two contracts for one invalid input).
    Zero weights are still dropped (legit pre-agg output)."""
    from bloomfilter_spark.sketches import DDSketch, KLL, TDigest
    for sk in (DDSketch(0.01), KLL(64), TDigest(50)):
        with pytest.raises(ValueError, match="negative|non-negative"):
            sk.update_weighted(np.array([1.0, 2.0]), np.array([3, -1]))
        sk.update_weighted(np.array([1.0, 2.0]), np.array([3, 0]))  # ok
