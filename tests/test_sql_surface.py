"""SQL surface (bloomfilter_spark/sql.py): registered functions over
serialized sketch tables must agree exactly with the kernel API."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark.agg import build_sketch, grouped_sketch_table, hash_col
from bloomfilter_spark.config import DEFAULT_SEED
from bloomfilter_spark.sketches import (BloomFilter, CountMinSketch,
                                        HyperLogLog, KLL, ThetaSketch,
                                        theta_intersect)
from bloomfilter_spark.sql import register_sketch_sql


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    names = register_sketch_sql(spark)
    assert "sketch_estimate" in names


def test_sql_estimate_on_grouped_hll_table(spark, events):
    ev = events.where(F.col("user_id").isNotNull())
    tbl = grouped_sketch_table(ev, ["event_type"], ["user_id"],
                               lambda: HyperLogLog(12), salt=2)
    tbl.createOrReplaceTempView("hll_by_type")
    got = {r["event_type"]: r["est"] for r in spark.sql(
        "SELECT event_type, sketch_estimate(sketch) AS est FROM hll_by_type"
    ).collect()}
    # kernel reference: parse each row's blob directly
    for row in tbl.collect():
        kern = HyperLogLog.from_bytes(bytes(row["sketch"])).estimate()
        assert got[row["event_type"]] == kern


def test_sql_cms_count_and_seed(spark, events):
    cms = build_sketch(events, ["event_type"],
                       lambda: CountMinSketch(width=4096, depth=5))
    spark.createDataFrame([(cms.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("cms_t")
    types = events.select("event_type").distinct()
    types.createOrReplaceTempView("types_t")
    got = {r["event_type"]: r["c"] for r in spark.sql(
        """SELECT t.event_type,
                  cms_count(c.sketch, xxhash64(sketch_seed(), t.event_type)) AS c
           FROM types_t t CROSS JOIN cms_t c""").collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    for t, n in exact.items():
        assert n <= got[t] <= n + int(2 * 1e-3 * cms.total) + cms.total * 2 // 4096
        # kernel parity (exact equality, not just bounds)
        h = events.select(hash_col(["event_type"], DEFAULT_SEED).alias("h")) \
                  .where(F.col("event_type") == t).first()["h"]
        assert got[t] == int(cms.query(np.array([h]).astype(np.int64)
                                       .view(np.uint64))[0])


def test_sql_bloom_contains_zero_false_negatives(spark, lineitem):
    keys = lineitem.select("l_orderkey").distinct().limit(2000)
    bloom = build_sketch(keys, ["l_orderkey"], lambda: BloomFilter(1 << 16, 7))
    spark.createDataFrame([(bloom.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("bloom_t")
    keys.createOrReplaceTempView("keys_t")
    n = keys.count()
    hits = spark.sql(
        """SELECT count(*) AS n FROM keys_t k CROSS JOIN bloom_t b
           WHERE bloom_contains(b.sketch, xxhash64(sketch_seed(), k.l_orderkey))"""
    ).first()["n"]
    assert hits == n  # every inserted key found


def test_sql_quantile_matches_kernel(spark, lineitem):
    kll = build_sketch(lineitem.select(F.col("l_quantity").alias("v")),
                       ["v"], lambda: KLL(200))
    spark.createDataFrame([(kll.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("kll_t")
    rows = spark.sql("""SELECT q, sketch_quantile(sketch, q) AS est
                        FROM kll_t CROSS JOIN (SELECT explode(array(0.1, 0.5, 0.9)) q)
                     """).collect()
    for r in rows:
        assert r["est"] == float(kll.quantile(r["q"]))


def test_sql_theta_set_expressions(spark, events):
    ev = events.where(F.col("user_id").isNotNull())
    a = build_sketch(ev.where(F.col("event_type") == "click"),
                     ["user_id"], lambda: ThetaSketch(1024))
    b = build_sketch(ev.where(F.col("event_type") == "purchase"),
                     ["user_id"], lambda: ThetaSketch(1024))
    spark.createDataFrame([(a.to_bytes(), b.to_bytes())], "a binary, b binary") \
         .createOrReplaceTempView("theta_ab")
    r = spark.sql("""SELECT theta_intersect_estimate(a, b) AS i,
                            theta_a_not_b_estimate(a, b) AS d,
                            sketch_estimate(sketch_merge_pair(a, b)) AS u
                     FROM theta_ab""").first()
    assert r["i"] == theta_intersect(a, b).estimate()
    union = a.copy().merge(b)
    assert r["u"] == union.estimate()
    assert r["d"] >= 0.0


def test_sql_null_sketch_rows(spark):
    spark.createDataFrame([(None,)], "sketch binary") \
         .createOrReplaceTempView("null_t")
    assert spark.sql(
        "SELECT sketch_estimate(sketch) AS e FROM null_t").first()["e"] is None


def test_sql_fold_null_target_beside_non_null(spark):
    """A NULL target in a batch that also holds a non-NULL one reaches
    the UDF as NaN: sketch_fold gives NULL, and cms_fold keeps the blob's
    own width or depth where that argument is NULL."""
    hll = HyperLogLog(12)
    hll.update(np.arange(1, 500, dtype=np.uint64))
    cms = CountMinSketch(width=1024, depth=4)
    cms.update(np.arange(1, 500, dtype=np.uint64))
    h, c = hll.to_bytes(), cms.to_bytes()
    spark.createDataFrame(
        [(1, h, c, 10, 256, 2), (2, h, c, None, None, None), (3, h, c, 8, 256, None)],
        "id int, h binary, c binary, t int, w int, d int") \
        .repartition(1).createOrReplaceTempView("fold_targets")
    rows = {r["id"]: r for r in spark.sql(
        "SELECT id, sketch_fold(h, t) AS hf, cms_fold(c, w, d) AS cf "
        "FROM fold_targets").collect()}
    assert bytes(rows[1]["hf"]) == hll.fold(10).to_bytes()
    assert rows[2]["hf"] is None
    assert bytes(rows[3]["hf"]) == hll.fold(8).to_bytes()
    assert bytes(rows[1]["cf"]) == cms.fold(width=256, depth=2).to_bytes()
    assert bytes(rows[2]["cf"]) == cms.fold().to_bytes()
    assert bytes(rows[3]["cf"]) == cms.fold(width=256).to_bytes()


def test_sql_null_sketch_rows_in_probe_functions(spark, events):
    """NULL sketch rows (e.g. from an outer join of sketch tables) yield
    SQL NULL from the probe functions, not a crash (pandas groupby turns
    None keys into NaN — regression guard)."""
    cms = build_sketch(events, ["event_type"],
                       lambda: CountMinSketch(width=1024, depth=3))
    bloom = build_sketch(events, ["event_type"],
                         lambda: BloomFilter(1 << 12, 5))
    spark.createDataFrame(
        [(1, cms.to_bytes(), bloom.to_bytes()), (2, None, None)],
        "id int, cms binary, bloom binary") \
        .createOrReplaceTempView("maybe_sketch")
    rows = {r["id"]: r for r in spark.sql("""
        SELECT id,
               cms_count(cms, xxhash64(sketch_seed(), 'click')) AS c,
               bloom_contains(bloom, xxhash64(sketch_seed(), 'click')) AS b,
               sketch_quantile(cms, 0.5) AS q
        FROM maybe_sketch WHERE id = 2
        UNION ALL
        SELECT id,
               cms_count(cms, xxhash64(sketch_seed(), 'click')) AS c,
               bloom_contains(bloom, xxhash64(sketch_seed(), 'click')) AS b,
               CAST(NULL AS DOUBLE) AS q
        FROM maybe_sketch WHERE id = 1""").collect()}
    assert rows[1]["c"] is not None and rows[1]["b"] is True
    assert rows[2]["c"] is None and rows[2]["b"] is None and rows[2]["q"] is None


def test_sql_null_key_hash_mixed_batch_raises(spark, events):
    """A key_hash column mixing NULLs with values cannot be probed exactly
    (Arrow float64 degradation) — must fail loudly, not return garbage."""
    cms = build_sketch(events, ["event_type"],
                       lambda: CountMinSketch(width=1024, depth=3))
    spark.createDataFrame(
        [(cms.to_bytes(), 12345), (cms.to_bytes(), None)],
        "sketch binary, h long").coalesce(1) \
        .createOrReplaceTempView("mixed_h")
    with pytest.raises(Exception, match="NULL"):
        spark.sql("SELECT cms_count(sketch, h) FROM mixed_h").collect()


def test_sql_theta_jaccard(spark):
    """theta_jaccard_estimate == intersect/union of the same sketch pair,
    within theta bounds of the true Jaccard of two overlapping sets."""
    from bloomfilter_spark.sketches import ThetaSketch
    import numpy as np
    from bloomfilter_spark.util import splitmix64

    a, b = ThetaSketch(4096), ThetaSketch(4096)
    xs = np.arange(30_000, dtype=np.uint64)
    a.update(splitmix64(xs[:20_000]))            # A = [0, 20k)
    b.update(splitmix64(xs[10_000:]))            # B = [10k, 30k)
    true_j = 10_000 / 30_000
    spark.createDataFrame([(a.to_bytes(), b.to_bytes())], "a binary, b binary") \
        .createOrReplaceTempView("jac_pair")
    from bloomfilter_spark.sql import register_sketch_sql
    register_sketch_sql(spark)
    row = spark.sql("""
        SELECT theta_jaccard_estimate(a, b) AS j,
               theta_intersect_estimate(a, b) AS i,
               theta_jaccard_estimate(a, NULL) AS nj
        FROM jac_pair""").first()
    assert abs(row["j"] - true_j) < 0.05
    assert row["nj"] is None
    assert row["i"] > 0


def test_sql_group_merge_weekly_rollup(spark, events):
    """Per-week estimates computed from a per-day sketch table in PURE
    spark.sql (sketch_merge grouped-agg + sketch_estimate) agree exactly
    with the kernel-side merge of the same daily blobs."""
    ev = (events.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
                .withColumn("day", F.to_date("ts")))
    daily = grouped_sketch_table(ev, ["day"], ["user_id"],
                                 lambda: HyperLogLog(12), salt=2)
    daily.createOrReplaceTempView("daily_hll")
    got = {r["week"]: r["est"] for r in spark.sql("""
        SELECT weekofyear(day) AS week,
               sketch_estimate(sketch_merge(sketch)) AS est
        FROM daily_hll GROUP BY weekofyear(day)""").collect()}

    # kernel reference: merge each week's daily blobs by hand
    from collections import defaultdict
    by_week = defaultdict(list)
    for row in daily.collect():
        by_week[row["day"].isocalendar()[1]].append(bytes(row["sketch"]))
    assert set(got) == set(by_week)
    for week, blobs in by_week.items():
        acc = HyperLogLog.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc = acc.merge(HyperLogLog.from_bytes(b))
        assert got[week] == acc.estimate()


def test_sql_group_merge_all_null_group_is_null(spark):
    spark.createDataFrame([(1, None), (1, None)], "g int, sketch binary") \
         .createOrReplaceTempView("null_sketches")
    row = spark.sql("SELECT sketch_merge(sketch) AS m FROM null_sketches "
                    "GROUP BY g").first()
    assert row["m"] is None


def test_sql_mg_bounds_on_grouped_table(spark, events):
    """Grouped MG sketch table (per-key frequent items via the generic
    grouped build) queried from plain spark.sql: the deterministic
    sandwich lo <= exact <= lo + mg_error_bound holds per (group, key),
    and sketch_merge GROUP-BY re-aggregation keeps the bounds valid."""
    from bloomfilter_spark.sketches import MisraGries

    ev = events.where(F.col("user_id").isNotNull())
    tbl = grouped_sketch_table(ev, ["event_type"], ["user_id"],
                               lambda: MisraGries(k=16))
    tbl.createOrReplaceTempView("mg_by_type")
    ev.createOrReplaceTempView("mg_events")
    got = spark.sql("""
        WITH exact AS (
          SELECT event_type, user_id, count(*) AS cnt
          FROM mg_events GROUP BY event_type, user_id
        )
        SELECT e.event_type, e.cnt,
               mg_count_lo(t.sketch,
                           xxhash64(sketch_seed(), e.user_id)) AS lo,
               mg_error_bound(t.sketch) AS err
        FROM exact e JOIN mg_by_type t ON e.event_type = t.event_type
    """).collect()
    assert len(got) > 16
    for r in got:
        assert r["lo"] <= r["cnt"] <= r["lo"] + r["err"], r

    # GROUP BY merge across per-type rows -> one corpus-wide summary;
    # bounds must hold against corpus-wide exact counts
    merged = spark.sql("""
        SELECT mg_count_lo(m.s, xxhash64(sketch_seed(), e.user_id)) AS lo,
               mg_error_bound(m.s) AS err, e.cnt
        FROM (SELECT sketch_merge(sketch) AS s FROM mg_by_type) m,
             (SELECT user_id, count(*) AS cnt
              FROM mg_events GROUP BY user_id) e
    """).collect()
    for r in merged:
        assert r["lo"] <= r["cnt"] <= r["lo"] + r["err"], r


def test_sql_mg_error_bound_rejects_wrong_type(spark, events):
    ev = events.where(F.col("user_id").isNotNull())
    cms_tbl = grouped_sketch_table(ev, ["event_type"], ["user_id"],
                                   lambda: CountMinSketch(width=64, depth=3))
    cms_tbl.createOrReplaceTempView("cms_by_type_mgtest")
    with pytest.raises(Exception, match="Misra-Gries"):
        spark.sql("SELECT mg_error_bound(sketch) AS e "
                  "FROM cms_by_type_mgtest").collect()


def test_sketch_merge_window_calendar_on_gapped_days(spark):
    """Rolling 7-day sketch_merge window with GAPS in the day axis: the
    q95 pattern densifies the axis (date spine left join, NULL sketches
    skipped by the merge), so the 6-PRECEDING row frame is the CALENDAR
    window [day-6, day] — a frame over present days only would merge
    older days across the gap and overcount."""
    import datetime

    from bloomfilter_spark.jvm_build import hll_grouped_build_jvm

    register_sketch_sql(spark)
    # users 0..9 on day 1, users 100.. on day 2, then a 10-day gap, then
    # day 13: the calendar window for day 13 must NOT include days 1-2
    rows = [(datetime.date(2024, 1, 1), i) for i in range(10)]
    rows += [(datetime.date(2024, 1, 2), 100 + i) for i in range(10)]
    rows += [(datetime.date(2024, 1, 13), 200 + i) for i in range(5)]
    ev = spark.createDataFrame(rows, "day date, user_id long")
    daily = hll_grouped_build_jvm(ev, ["day"], ["user_id"], p=14)
    spine = (ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
               .select(F.explode(F.sequence("lo", "hi")).alias("day")))
    spine.join(daily, "day", "left").createOrReplaceTempView("gap_daily")
    est = {r["day"]: r["u"] for r in spark.sql("""
        SELECT day, sketch_estimate(sketch_merge(sketch) OVER (
                 ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
               AS u
        FROM gap_daily""").collect()}
    # p=14 on tiny counts: estimates are exact (linear counting regime)
    assert round(est[datetime.date(2024, 1, 2)]) == 20   # day 1 + day 2
    assert round(est[datetime.date(2024, 1, 13)]) == 5   # gap excluded
    # day 8 (present in spine only): frame covers days 2..8 -> 10 users
    assert round(est[datetime.date(2024, 1, 8)]) == 10


def test_sql_cms_inner_product_join_size(spark, events):
    """Pre-flight join-size estimation in PURE spark.sql over a per-key
    CMS table: cms_inner_product never undercounts the exact join
    cardinality sum_u f_a(u)*f_b(u), stays within the paired bound, and
    agrees exactly with the kernel's inner_product on the same blobs."""
    ev = events.where(F.col("user_id").isNotNull())
    tbl = grouped_sketch_table(ev, ["event_type"], ["user_id"],
                               lambda: CountMinSketch(width=2719, depth=7))
    tbl.createOrReplaceTempView("cms_by_type")
    rows = spark.sql("""
        SELECT a.event_type AS ta, b.event_type AS tb,
               cms_inner_product(a.sketch, b.sketch) AS est,
               cms_inner_product_bound(a.sketch, b.sketch) AS bound
        FROM cms_by_type a JOIN cms_by_type b
          ON a.event_type < b.event_type""").collect()
    assert rows

    import pandas as pd
    counts = (ev.groupBy("event_type", "user_id")
                .agg(F.count("*").alias("cnt")).toPandas())
    kern = {r["event_type"]: CountMinSketch.from_bytes(bytes(r["sketch"]))
            for r in tbl.collect()}
    for r in rows:
        fa = counts[counts.event_type == r["ta"]].set_index("user_id")["cnt"]
        fb = counts[counts.event_type == r["tb"]].set_index("user_id")["cnt"]
        exact = int((fa * fb).dropna().sum())
        assert r["est"] == kern[r["ta"]].inner_product(kern[r["tb"]])
        assert r["est"] >= exact
        assert r["est"] <= exact + r["bound"]


def test_sql_sketch_rank_kernel_equal_and_empirical_bound(spark, lineitem):
    """sketch_rank is the CDF dual of sketch_quantile: SQL answers equal
    the kernel's exactly for BOTH value-sketch families, and the KLL rank
    stays within the published normalized rank error of the exact
    empirical CDF."""
    from bloomfilter_spark.sketches import TDigest

    vals = lineitem.select(F.col("l_quantity").alias("v"))
    kll = build_sketch(vals, ["v"], lambda: KLL(200))
    td = build_sketch(vals, ["v"], lambda: TDigest(200.0))
    spark.createDataFrame([(kll.to_bytes(), td.to_bytes())],
                          "kll binary, td binary") \
         .createOrReplaceTempView("rank_t")
    rows = spark.sql("""SELECT x, sketch_rank(kll, x) AS rk,
                               sketch_rank(td, x) AS rt
                        FROM rank_t
                        CROSS JOIN (SELECT explode(array(1.0, 10.0, 25.0,
                                                         49.0)) x)""").collect()
    n = vals.count()
    for r in rows:
        assert r["rk"] == float(kll.rank(r["x"]))
        assert r["rt"] == float(td.cdf(r["x"]))
        exact = vals.where(F.col("v") <= r["x"]).count() / n
        assert abs(r["rk"] - exact) <= kll.rank_error_bound() + 1e-12


def test_sql_sketch_rank_rejects_non_value_sketch(spark, events):
    hll = build_sketch(events.where(F.col("user_id").isNotNull()),
                       ["user_id"], lambda: HyperLogLog(12))
    spark.createDataFrame([(hll.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("hll_rank_t")
    with pytest.raises(Exception, match="value sketch"):
        spark.sql("SELECT sketch_rank(sketch, 1.0) FROM hll_rank_t").collect()


def test_sql_kll_ks_distance_drift_signal(spark, lineitem):
    """kll_ks_distance in pure SQL equals the kernel and behaves as a
    drift statistic: two disjoint halves of the SAME distribution score
    near zero; a genuinely different column scores high."""
    qty = lineitem.select(F.col("l_quantity").alias("v"))
    half_a = qty.where(F.col("v") % 2 == 0)   # evens / odds: same dist
    half_b = qty.where(F.col("v") % 2 == 1)
    price = lineitem.select(F.col("l_extendedprice").alias("v"))
    blobs = [build_sketch(df, ["v"], lambda: KLL(200)) for df in
             (half_a, half_b, price)]
    spark.createDataFrame([tuple(b.to_bytes() for b in blobs)],
                          "a binary, b binary, p binary") \
         .createOrReplaceTempView("ks_t")
    r = spark.sql("""SELECT kll_ks_distance(a, b) AS same,
                            kll_ks_distance(a, p) AS drift
                     FROM ks_t""").first()
    assert r["same"] == blobs[0].ks_distance(blobs[1])
    assert r["drift"] == blobs[0].ks_distance(blobs[2])
    # halves of one distribution: only discretization + sketch error
    assert r["same"] <= 2 * blobs[0].rank_error_bound() + 0.05
    assert r["drift"] > 0.9  # price lives on a disjoint scale


def test_sql_sketch_histogram_kernel_equal_and_empirical(spark, lineitem):
    """sketch_histogram bucket masses equal CDF differences computed on
    the kernel directly for BOTH value-sketch families, sum exactly to
    rank(hi) - rank(lo), and each KLL bucket stays within 2x the
    published rank error of the exact empirical bucket mass."""
    from bloomfilter_spark.sketches import TDigest

    vals = lineitem.select(F.col("l_quantity").alias("v"))
    kll = build_sketch(vals, ["v"], lambda: KLL(200))
    td = build_sketch(vals, ["v"], lambda: TDigest(200.0))
    spark.createDataFrame([(kll.to_bytes(), td.to_bytes())],
                          "kll binary, td binary") \
         .createOrReplaceTempView("hist_t")
    r = spark.sql("""SELECT sketch_histogram(kll, 0.0, 50.0, 10) AS hk,
                            sketch_histogram(td, 0.0, 50.0, 10) AS ht
                     FROM hist_t""").first()
    edges = np.linspace(0.0, 50.0, 11)
    kern_k = np.diff(np.asarray(kll.rank(edges), dtype=np.float64))
    kern_t = np.diff(np.asarray(td.cdf(edges), dtype=np.float64))
    assert np.array_equal(np.asarray(r["hk"]), kern_k)
    assert np.array_equal(np.asarray(r["ht"]), kern_t)
    assert abs(sum(r["hk"]) - (kll.rank(50.0) - kll.rank(0.0))) < 1e-12
    n = vals.count()
    for i in range(10):
        exact = (vals.where((F.col("v") > edges[i] if i else
                             F.col("v") >= edges[i])
                            & (F.col("v") <= edges[i + 1])).count() / n)
        # CDF-difference vs half-open empirical binning differ only at
        # edge-coincident values; 2x rank error covers both endpoints
        assert abs(r["hk"][i] - exact) <= 2 * kll.rank_error_bound() + 0.02


def test_sql_sketch_histogram_validation(spark, events):
    hll = build_sketch(events.where(F.col("user_id").isNotNull()),
                       ["user_id"], lambda: HyperLogLog(12))
    kll = build_sketch(events.where(F.col("value").isNotNull()),
                       ["value"], lambda: KLL(200))
    spark.createDataFrame([(hll.to_bytes(), kll.to_bytes())],
                          "h binary, k binary") \
         .createOrReplaceTempView("hist_bad_t")
    with pytest.raises(Exception, match="value sketch"):
        spark.sql("SELECT sketch_histogram(h, 0.0, 1.0, 4) "
                  "FROM hist_bad_t").collect()
    with pytest.raises(Exception, match="n_buckets"):
        spark.sql("SELECT sketch_histogram(k, 0.0, 1.0, 0) "
                  "FROM hist_bad_t").collect()
    with pytest.raises(Exception, match="hi > lo"):
        spark.sql("SELECT sketch_histogram(k, 1.0, 1.0, 4) "
                  "FROM hist_bad_t").collect()


def test_sql_sketch_describe_all_families(spark, lineitem, events):
    """sketch_describe returns parseable JSON for every family with the
    family name, state size, and the family's defining parameters."""
    import json

    from bloomfilter_spark.sketches import (IBLT, CountingBloomFilter,
                                            DDSketch, MisraGries, TDigest)

    ev = events.where(F.col("user_id").isNotNull())
    vals = lineitem.select(F.col("l_quantity").alias("v"))
    blobs = {
        "HyperLogLog": build_sketch(ev, ["user_id"], lambda: HyperLogLog(12)),
        "CountMinSketch": build_sketch(ev, ["event_type"],
                                       lambda: CountMinSketch(width=1024,
                                                              depth=5)),
        "KLL": build_sketch(vals, ["v"], lambda: KLL(200)),
        "TDigest": build_sketch(vals, ["v"], lambda: TDigest(100.0)),
        "ThetaSketch": build_sketch(ev, ["user_id"], lambda: ThetaSketch(256)),
        "MisraGries": build_sketch(ev, ["event_type"], lambda: MisraGries(8)),
        "BloomFilter": build_sketch(ev, ["user_id"],
                                    lambda: BloomFilter.for_capacity(
                                        10_000, 0.01)),
        "CountingBloomFilter": build_sketch(
            ev, ["user_id"], lambda: CountingBloomFilter(1 << 14, 5)),
        "IBLT": build_sketch(ev.select("user_id").distinct(), ["user_id"],
                             lambda: IBLT(1 << 12, 4)),
        "DDSketch": build_sketch(vals, ["v"], lambda: DDSketch(0.01)),
    }
    spark.createDataFrame([(fam, b.to_bytes()) for fam, b in blobs.items()],
                          "fam string, sketch binary") \
         .createOrReplaceTempView("describe_t")
    rows = spark.sql("SELECT fam, sketch_describe(sketch) AS d "
                     "FROM describe_t").collect()
    got = {r["fam"]: json.loads(r["d"]) for r in rows}
    assert set(got) == set(blobs)
    for fam, d in got.items():
        assert d["family"] == fam
        assert d["state_bytes"] == blobs[fam].state_nbytes
    assert got["KLL"]["k"] == 200 and got["KLL"]["n"] == vals.count()
    assert got["CountMinSketch"]["width"] == 1024
    assert got["CountMinSketch"]["depth"] == 5
    assert got["HyperLogLog"]["p"] == 12
    assert got["ThetaSketch"]["k"] == 256
    assert got["MisraGries"]["k"] == 8
    assert got["DDSketch"]["alpha"] == 0.01
    assert got["DDSketch"]["bucket_limit"] == 2048
    assert got["DDSketch"]["n"] == vals.count()
    assert got["BloomFilter"]["num_bits"] == BloomFilter.for_capacity(
        10_000, 0.01).num_bits
    # NULL blob -> NULL description (not an error)
    assert spark.sql("SELECT sketch_describe(CAST(NULL AS binary)) AS d"
                     ).first()["d"] is None


def test_sql_estimate_on_bloom_blob(spark, lineitem):
    """sketch_estimate over a Bloom blob = kernel Swamidass–Baldi estimate,
    and that estimate tracks the true distinct key count."""
    keys = lineitem.select("l_orderkey").distinct().limit(2000)
    n = keys.count()
    bloom = build_sketch(keys, ["l_orderkey"], lambda: BloomFilter(1 << 16, 7))
    spark.createDataFrame([(bloom.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("bloom_est_t")
    got = spark.sql(
        "SELECT sketch_estimate(sketch) AS e FROM bloom_est_t").first()["e"]
    assert got == float(bloom.estimate())  # kernel equality
    assert abs(got - n) / n < 0.05         # fill-ratio accuracy


def test_sql_estimate_on_scalable_bloom_blob(spark):
    """sketch_estimate dispatches to the per-level Swamidass–Baldi sum for
    scalable Bloom blobs (multi-level growth history)."""
    from bloomfilter_spark.sketches.scalable import ScalableBloomFilter
    import numpy as np

    rng = np.random.default_rng(7)
    h = np.unique(rng.integers(0, 2**63, 6000, dtype=np.int64)
                  .view(np.uint64))[:5000]
    sbf = ScalableBloomFilter(0.01, initial_capacity=1024)
    sbf.update(h)
    assert len(sbf.filters) > 1
    spark.createDataFrame([(sbf.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("sbf_est_t")
    got = spark.sql(
        "SELECT sketch_estimate(sketch) AS e FROM sbf_est_t").first()["e"]
    assert got == float(sbf.estimate())
    assert abs(got - h.size) / h.size < 0.05


def test_sql_estimate_rejects_frequency_family(spark, events):
    """CMS carries a total weight, not a distinct count — sketch_estimate
    refuses with the family name instead of returning the wrong number."""
    cms = build_sketch(events.select("event_type"), ["event_type"],
                       lambda: CountMinSketch(width=1024, depth=3))
    spark.createDataFrame([(cms.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("cms_est_t")
    with pytest.raises(Exception, match="distinct-count"):
        spark.sql("SELECT sketch_estimate(sketch) AS e FROM cms_est_t") \
             .collect()


def test_sql_error_bound_all_families(spark, lineitem, events):
    """sketch_error_bound returns each family's native bound — the exact
    kernel formula, so the sizing suggest_* calculators round-trip
    (suggested params -> build -> sketch_error_bound == predicted)."""
    import math

    from bloomfilter_spark.sketches import (CountingBloomFilter, MisraGries,
                                            ScalableBloomFilter, TDigest)

    ev = events.where(F.col("user_id").isNotNull())
    vals = lineitem.select(F.col("l_quantity").alias("v"))
    sbf = ScalableBloomFilter(0.01, initial_capacity=256)
    sbf.update(np.arange(1000, 3000, dtype=np.uint64))
    blobs = {
        "HyperLogLog": build_sketch(ev, ["user_id"], lambda: HyperLogLog(12)),
        "CountMinSketch": build_sketch(ev, ["event_type"],
                                       lambda: CountMinSketch(width=1024,
                                                              depth=5)),
        "KLL": build_sketch(vals, ["v"], lambda: KLL(200)),
        "TDigest": build_sketch(vals, ["v"], lambda: TDigest(100)),
        "ThetaSketch": build_sketch(ev, ["user_id"], lambda: ThetaSketch(256)),
        "MisraGries": build_sketch(ev, ["event_type"], lambda: MisraGries(8)),
        "BloomFilter": build_sketch(ev, ["user_id"],
                                    lambda: BloomFilter.for_capacity(
                                        10_000, 0.01)),
        "ScalableBloomFilter": sbf,
        "CountingBloomFilter": build_sketch(
            ev, ["user_id"], lambda: CountingBloomFilter(1 << 14, 5)),
    }
    spark.createDataFrame([(fam, b.to_bytes()) for fam, b in blobs.items()],
                          "fam string, sketch binary") \
         .createOrReplaceTempView("errbound_t")
    got = {r["fam"]: r["e"] for r in spark.sql(
        "SELECT fam, sketch_error_bound(sketch) AS e FROM errbound_t"
    ).collect()}
    # exact kernel-formula equality per family
    assert got["HyperLogLog"] == 1.04 / math.sqrt(1 << 12)
    assert got["ThetaSketch"] == blobs["ThetaSketch"].rse()
    assert got["CountMinSketch"] == blobs["CountMinSketch"].error_bound()
    assert got["MisraGries"] == float(blobs["MisraGries"].error_bound())
    assert got["KLL"] == 1.7 / 200
    assert got["TDigest"] == math.pi / (2 * 100)
    assert got["BloomFilter"] == blobs["BloomFilter"].fpp()
    assert got["ScalableBloomFilter"] == sbf.fpp()
    assert got["CountingBloomFilter"] == blobs["CountingBloomFilter"].fpp()
    # sizing round-trip: suggested params produce exactly the predicted bound
    from bloomfilter_spark.sizing import suggest_hll_precision, suggest_kll_k
    p, predicted, _ = suggest_hll_precision(0.02)
    assert HyperLogLog(p).rse() == predicted
    k, predicted_k, _ = suggest_kll_k(0.01)
    assert KLL(k).rank_error_bound() == predicted_k
    # NULL blob -> NULL (not an error)
    assert spark.sql("SELECT sketch_error_bound(CAST(NULL AS binary)) AS e"
                     ).first()["e"] is None


def test_sql_bloom_contains_on_scalable_blob(spark):
    """bloom_contains dispatches through the generic hash-query helper to
    ScalableBloomFilter.contains as well — streamed unknown-capacity dedup
    state probed from SQL keeps zero false negatives across grown levels."""
    from bloomfilter_spark.sketches import ScalableBloomFilter

    rng = np.random.default_rng(11)
    h = np.unique(rng.integers(0, 2**63, 9000, dtype=np.int64)
                  .view(np.uint64))
    ins, absent = h[:6000], h[6000:]
    sbf = ScalableBloomFilter(0.01, initial_capacity=512)
    sbf.update(ins)
    assert len(sbf.filters) > 1  # growth actually happened
    spark.createDataFrame([(sbf.to_bytes(),)], "sketch binary") \
         .createOrReplaceTempView("sbf_probe_t")
    spark.createDataFrame(
        [(int(x),) for x in ins[:2000].view(np.int64)], "h long"
    ).createOrReplaceTempView("sbf_member_keys")
    n_member = spark.sql(
        "SELECT count(*) AS c FROM sbf_member_keys k, sbf_probe_t b "
        "WHERE bloom_contains(b.sketch, k.h)").first()["c"]
    assert n_member == 2000  # zero FN over the multi-level filter
    # false-positive rate on absent keys within the compound bound (x4 slack
    # for sampling noise at n=|absent|)
    spark.createDataFrame(
        [(int(x),) for x in absent.view(np.int64)], "h long"
    ).createOrReplaceTempView("sbf_absent_keys")
    n_fp = spark.sql(
        "SELECT count(*) AS c FROM sbf_absent_keys k, sbf_probe_t b "
        "WHERE bloom_contains(b.sketch, k.h)").first()["c"]
    assert n_fp / absent.size <= 4 * sbf.compound_error_bound()


def test_sql_theta_set_algebra_composes(spark, lineitem):
    """Blob-returning theta set ops nest in SQL: the composed
    (A ∩ B) \\ C expression equals the kernel composition byte-for-byte,
    and its estimate tracks the exact set count within the sketch bound."""
    from bloomfilter_spark.sketches import theta_a_not_b

    keys = lineitem.select("l_orderkey").distinct()
    lo, hi = keys.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    cut = lambda f: int(lo + f * (hi - lo))
    a_df = keys.where(F.col("l_orderkey") < cut(0.6))
    b_df = keys.where(F.col("l_orderkey").between(cut(0.3), cut(0.9)))
    c_df = keys.where(F.col("l_orderkey").between(cut(0.3), cut(0.45)))
    mk = lambda df: build_sketch(df, ["l_orderkey"], lambda: ThetaSketch(4096))
    ta, tb, tc = mk(a_df), mk(b_df), mk(c_df)
    spark.createDataFrame([(ta.to_bytes(), tb.to_bytes(), tc.to_bytes())],
                          "a binary, b binary, c binary") \
         .createOrReplaceTempView("theta_alg_t")
    row = spark.sql(
        "SELECT theta_a_not_b_pair(theta_intersect_pair(a, b), c) AS s, "
        "       sketch_estimate(theta_a_not_b_pair("
        "           theta_intersect_pair(a, b), c)) AS e "
        "FROM theta_alg_t").first()
    # byte-exact vs the kernel composition of the same blobs
    kern = theta_a_not_b(theta_intersect(ta, tb), tc)
    assert bytes(row["s"]) == kern.to_bytes()
    assert row["e"] == float(kern.estimate())
    # estimate accuracy vs the exact set count (composed ops compound
    # error: allow 5x the single-sketch rse)
    exact = a_df.intersect(b_df).exceptAll(c_df).count()
    assert abs(row["e"] - exact) / exact < 5 * ThetaSketch(4096).rse()
    # NULL propagates, wrong family refuses
    assert spark.sql("SELECT theta_intersect_pair(CAST(NULL AS binary), a) "
                     "AS s FROM theta_alg_t").first()["s"] is None


def test_sql_bloom_intersect_pair(spark):
    """bloom_intersect_pair: AND of two Bloom blobs is byte-equal to the
    kernel copy-intersect, keeps zero false negatives on the true common
    keys, rejects most keys unique to one side, and does not mutate the
    cached parses of its inputs."""
    rng = np.random.default_rng(23)
    h = np.unique(rng.integers(0, 2**63, 30000, dtype=np.int64)
                  .view(np.uint64))[:24000]
    common, only_a, only_b = h[:8000], h[8000:16000], h[16000:24000]
    ba = BloomFilter.for_capacity(20_000, 0.01)
    bb = BloomFilter.for_capacity(20_000, 0.01)
    ba.update(np.concatenate([common, only_a]))
    bb.update(np.concatenate([common, only_b]))
    spark.createDataFrame([(ba.to_bytes(), bb.to_bytes())],
                          "a binary, b binary") \
         .createOrReplaceTempView("bloom_and_t")
    blob = bytes(spark.sql(
        "SELECT bloom_intersect_pair(a, b) AS s FROM bloom_and_t"
    ).first()["s"])
    assert blob == ba.copy().intersect(bb).to_bytes()  # kernel byte parity
    out = BloomFilter.from_bytes(blob)
    assert bool(out.contains(common).all())            # zero FN on A∩B
    assert float(out.contains(only_a).mean()) < 0.05   # one-side keys cut
    assert float(out.contains(only_b).mean()) < 0.05
    # inputs not mutated through the parse cache: re-query A's own keys
    n_a = spark.sql(
        "SELECT count(*) AS c FROM (SELECT explode(sequence(0, 0)) z) d, "
        "bloom_and_t t WHERE bloom_contains(t.a, %d)"
        % int(np.int64(only_a[0].astype(np.int64)))).first()["c"]
    assert n_a == 1


def test_seed_literal_type_stable_across_magnitudes(spark):
    """Build-path and SQL-probe-path hashes must agree at ANY seed, not
    just the default. xxhash64 hashes int32 and int64 differently, and
    lit() types a Python int by magnitude: the default 62-bit seed
    became LongType while a small seed (SPARK_GRAFT_SEED sweep, test
    seeds) became IntegerType — so every grouped-JVM build's filter was
    probed with the WRONG hashes under a small seed (Bloom "zero FN"
    flags went 0, found by the seed-robustness sweep). hash_col and all
    18 seed-literal sites now pin .cast('long'); this test would fail
    for any new site that forgets it."""
    import pyspark.sql.functions as F

    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.config import DEFAULT_SEED
    from bloomfilter_spark.sql import register_sketch_sql

    df = spark.createDataFrame([(12345,), (-7,)], "v long")
    for seed in (42, DEFAULT_SEED):  # int32-range and int64-range
        register_sketch_sql(spark, seed=seed)
        df.createOrReplaceTempView("seed_probe_t")
        got = [r["h"] for r in spark.sql(
            "SELECT xxhash64(sketch_seed(), v) AS h FROM seed_probe_t"
        ).collect()]
        want = [r["h"] for r in
                df.select(hash_col([F.col("v")], seed).alias("h")).collect()]
        assert got == want, f"seed {seed}: probe {got} != build {want}"
    register_sketch_sql(spark)  # restore the default for later tests


def test_sql_iblt_per_key_reconciliation(spark, events):
    """Per-key snapshot reconciliation composed entirely in ONE SQL
    projection over two grouped IBLT tables: subtract pair -> exact net
    via sketch_estimate -> full key listing via iblt_decode_json, checked
    against exact per-key set differences."""
    import json

    from bloomfilter_spark.jvm_build import iblt_grouped_build_jvm

    ev = events.where(F.col("user_id").isNotNull())
    # snapshot B: drop one event_type's rows for 30 users, keep the rest
    et = ev.select("event_type").distinct().orderBy("event_type").first()[0]
    dropped_users = [r["user_id"] for r in
                     ev.where(F.col("event_type") == et)
                       .select("user_id").distinct()
                       .orderBy("user_id").limit(30).collect()]
    ev_b = ev.where(~((F.col("event_type") == et)
                      & F.col("user_id").isin(dropped_users)))

    ta = iblt_grouped_build_jvm(ev, ["event_type"], ["user_id"],
                                max_diff=200)
    tb = iblt_grouped_build_jvm(ev_b, ["event_type"], ["user_id"],
                                max_diff=200)
    ta.createOrReplaceTempView("snap_a")
    tb.createOrReplaceTempView("snap_b")
    rows = spark.sql("""
        SELECT a.event_type,
               sketch_estimate(iblt_subtract_pair(a.sketch, b.sketch))
                   AS net,
               iblt_decode_json(iblt_subtract_pair(a.sketch, b.sketch))
                   AS diff
        FROM snap_a a JOIN snap_b b USING (event_type)
    """).collect()
    assert len(rows) > 1
    # exact per-key difference ground truth (user sets per event_type)
    truth = {}
    for r in ev.select("event_type", "user_id").distinct().collect():
        truth.setdefault(r["event_type"], set()).add(r["user_id"])
    truth_b = {}
    for r in ev_b.select("event_type", "user_id").distinct().collect():
        truth_b.setdefault(r["event_type"], set()).add(r["user_id"])
    # hash ground truth through the same hash_col
    hmap = {r["user_id"]: r["h"] for r in
            ev.select("user_id").distinct()
              .withColumn("h", hash_col([F.col("user_id")], DEFAULT_SEED))
              .collect()}
    for r in rows:
        d = json.loads(r["diff"])
        assert d["complete"] is True
        only_a = truth[r["event_type"]] - truth_b.get(r["event_type"], set())
        assert r["net"] == float(len(only_a))
        assert d["net"] == float(len(only_a))
        assert set(d["pos"]) == {hmap[u] for u in only_a}
        assert d["neg"] == []
        if r["event_type"] == et:
            assert len(d["pos"]) == 30
    # type guards: non-IBLT blobs are refused with the family name
    hb = build_sketch(ev, ["user_id"], lambda: HyperLogLog(10)).to_bytes()
    spark.createDataFrame([(hb,)], "sketch binary") \
         .createOrReplaceTempView("not_iblt")
    with pytest.raises(Exception, match="IBLT"):
        spark.sql("SELECT iblt_decode_json(sketch) FROM not_iblt").collect()
    with pytest.raises(Exception, match="IBLT"):
        spark.sql("SELECT iblt_subtract_pair(sketch, sketch) "
                  "FROM not_iblt").collect()
    # NULL propagation
    assert spark.sql(
        "SELECT iblt_decode_json(CAST(NULL AS binary)) AS d").first()["d"] \
        is None
