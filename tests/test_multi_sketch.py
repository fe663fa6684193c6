"""multi_sketch_build: the whole family in one scan must equal the
per-sketch builds (byte-exact for Bloom/HLL/CMS, estimate-equivalent for
KLL), and per-spec NULL semantics must hold."""

import uuid

import numpy as np
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from bloomfilter_spark import agg
from bloomfilter_spark.agg import (build_sketch, hash_col, multi_sketch_build,
                                   prehash, sketch_df)
from bloomfilter_spark.sketches import KLL, BloomFilter, CountMinSketch, HyperLogLog
from bloomfilter_spark.util import to_u64


@pytest.fixture(params=["driver", "executor"])
def fold_path(request, monkeypatch):
    """Runs a test once per merge path: the driver fold (small partials,
    the default here) and the executor tree merge (budget forced to 0)."""
    if request.param == "executor":
        monkeypatch.setattr(agg, "_DRIVER_FOLD_BYTES", 0)
    return request.param


def _run_in_group(spark, fn):
    """(fn(), executed stages, shuffle bytes written) of the jobs fn runs."""
    sc = spark.sparkContext
    group = f"test-multi-sketch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def attempt(sid):
        # past spark.ui.retainedStages the status store drops skipped
        # stages first (their completion time is -1): a missing one was
        # skipped
        try:
            return store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None

    stages = [attempt(sid) for j in tracker.getJobIdsForGroup(group)
              for sid in tracker.getJobInfo(j).stageIds]
    ran = [s for s in stages
           if s is not None and s.status().toString() != "SKIPPED"]
    return out, len(ran), sum(s.shuffleWriteBytes() for s in ran)


def _family(n_rows: int, n_parts: int, spark):
    df = spark.range(0, n_rows, 1, n_parts).select(
        (F.col("id") % 5000).alias("k"), (F.col("id") * 0.5).alias("v"))
    specs = {
        "bloom": (["k"], lambda: BloomFilter(1 << 16, 5)),
        "hll": (["k"], lambda: HyperLogLog(12)),
        "cms": (["k"], lambda: CountMinSketch(width=1024, depth=4)),
        "kll": (["v"], lambda: KLL(200)),
    }
    return df, specs


def test_multi_sketch_equals_individual_builds(spark, lineitem):
    specs = {
        "bloom": (["l_orderkey", "l_linenumber"], lambda: BloomFilter(1 << 16, 5)),
        "hll": (["l_orderkey"], lambda: HyperLogLog(12)),
        "cms": (["l_returnflag"], lambda: CountMinSketch(width=1024, depth=4)),
        "kll": (["l_extendedprice"], lambda: KLL(200)),
    }
    combined = multi_sketch_build(lineitem, specs)
    for name in ("bloom", "hll", "cms"):
        single = build_sketch(lineitem, specs[name][0], specs[name][1])
        assert combined[name].to_bytes() == single.to_bytes(), name
    single_kll = build_sketch(lineitem, ["l_extendedprice"], lambda: KLL(200))
    for q in (0.1, 0.5, 0.9):
        a, b = combined["kll"].quantile(q), single_kll.quantile(q)
        n = single_kll.n
        assert abs(combined["kll"].rank(b) - q) <= 4 * 1.7 / 200
        assert abs(single_kll.rank(a) - q) <= 4 * 1.7 / 200
        del n


def test_multi_sketch_per_spec_null_handling(spark, fold_path):
    rows = [(1, None), (2, 10.0), (None, 20.0), (4, None)]
    df = spark.createDataFrame(rows, "k long, v double")
    out = multi_sketch_build(df, {
        "hll": (["k"], lambda: HyperLogLog(12)),
        "kll": (["v"], lambda: KLL(50)),
    })
    # 3 non-null keys; 2 non-null values — each spec skips only its own nulls
    assert round(out["hll"].estimate()) == 3
    assert out["kll"].n == 2


def test_multi_sketch_empty_input(spark, fold_path):
    df = spark.createDataFrame([], "k long")
    out = multi_sketch_build(df.where(F.col("k") > 0),
                             {"hll": (["k"], lambda: HyperLogLog(12))})
    assert out["hll"].estimate() == 0.0


def test_sketch_df_empty_input_is_one_zero_sketch(spark):
    df = spark.createDataFrame([], "k long").where(F.col("k") > 0)
    rows = sketch_df(df, ["k"], lambda: HyperLogLog(12)).collect()
    assert len(rows) == 1
    assert bytes(rows[0]["sketch"]) == HyperLogLog(12).to_bytes()


def test_weighted_cms_same_bytes_on_both_merge_paths(spark, events, fold_path):
    """A weighted CMS over pre-aggregated counts in 4 partials equals the
    driver-local build from the same hashes and weights."""
    pre = (events.groupBy("event_type")
                 .agg(F.count("*").cast("double").alias("cnt")).repartition(4))
    make = lambda: CountMinSketch(width=4096, depth=5)  # noqa: E731
    got = build_sketch(pre, ["event_type"], make, weight_col="cnt")
    rows = pre.select(hash_col(["event_type"]).alias("h"), "cnt").collect()
    want = make()
    want.update(to_u64(np.array([r["h"] for r in rows], dtype=np.int64)),
                np.array([r["cnt"] for r in rows], dtype=np.float64))
    assert got.to_bytes() == want.to_bytes()


def test_prehashed_bloom_same_bytes_on_both_merge_paths(spark, events, fold_path):
    """A prehashed Bloom over an xxhash64 column in 4 partials equals the
    driver-local build from the same hashes."""
    hashed = prehash(events, {"g": ["user_id", "event_type"]}).repartition(4)
    make = lambda: BloomFilter(1 << 16, 4)  # noqa: E731
    got = build_sketch(hashed, ["g"], make, prehashed=True)
    want = make()
    want.update(to_u64(np.array([r["g"] for r in hashed.collect()], dtype=np.int64)))
    assert got.to_bytes() == want.to_bytes()


# the family build, and the eager single-sketch build over its KLL spec
_BUILDS = {
    "multi_sketch_build": multi_sketch_build,
    "build_sketch": lambda df, specs: {"kll": build_sketch(df, *specs["kll"])},
}


@pytest.mark.parametrize("build", list(_BUILDS))
def test_multi_sketch_small_input_is_one_stage_without_shuffle(spark, build):
    df, specs = _family(20000, 4, spark)
    out, stages, shuffle_bytes = _run_in_group(
        spark, lambda: _BUILDS[build](df, specs))
    assert (stages, shuffle_bytes) == (1, 0)
    assert out["kll"].n == 20000


def _sketch_df_kll(df, specs):
    row = sketch_df(df, *specs["kll"]).collect()[0]
    return {"kll": KLL.from_bytes(bytes(row["sketch"]))}


@pytest.mark.parametrize("build", [*_BUILDS, "executor_merge", "sketch_df"])
def test_multi_sketch_input_exchange_runs_once(spark, monkeypatch, build):
    """The input's own exchange map stage runs once: with the build
    stage that is 2 stages on the driver fold, and 3 with the final merge
    on the executor merge (fold budget 0, and the lazy sketch_df)."""
    df, specs = _family(20000, 3, spark)
    df = df.repartition(4, "k")
    run = _BUILDS.get(build, _sketch_df_kll)
    if build == "executor_merge":
        monkeypatch.setattr(agg, "_DRIVER_FOLD_BYTES", 0)
        run = multi_sketch_build
    out, stages, _ = _run_in_group(spark, lambda: run(df, specs))
    assert stages == (2 if build in _BUILDS else 3)
    assert out["kll"].n == 20000


@pytest.mark.parametrize("n_parts,level1", [(12, True), (3, False)])
def test_multi_sketch_executor_merge_matches_driver_fold(spark, monkeypatch,
                                                         n_parts, level1):
    df, specs = _family(20000, n_parts, spark)
    driver = multi_sketch_build(df, specs, merge_partitions=2)
    monkeypatch.setattr(agg, "_DRIVER_FOLD_BYTES", 0)
    executor, stages, _ = _run_in_group(
        spark, lambda: multi_sketch_build(df, specs, merge_partitions=2))
    # partial stage + [level-1 merge, only past 4 x merge_partitions] + final
    assert stages == (3 if level1 else 2)
    for name in ("bloom", "hll", "cms"):
        assert executor[name].to_bytes() == driver[name].to_bytes(), name
    assert executor["kll"].n == driver["kll"].n == 20000
