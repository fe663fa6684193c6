"""Read operators over driver-local inputs: with_membership, with_cms_count
and with_mg_bounds answer a small LocalRelation input on the driver, with
no Spark job. Each answer must equal the broadcast pandas-UDF path's on a
non-local copy of the same rows (a parquet round trip); other inputs keep
the UDF path; both paths answer from the sketch as it was at call time."""

import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark import agg
from bloomfilter_spark.agg import (build_sketch, hash_col, with_cms_count,
                                   with_membership, with_mg_bounds)
from bloomfilter_spark.sketches import BloomFilter, CountMinSketch
from bloomfilter_spark.sketches.mg import MisraGries
from bloomfilter_spark.sketches.scalable import ScalableBloomFilter
from bloomfilter_spark.util import to_u64

from test_spark_agg import TYPED_ROWS

KEY = ["a", "b"]


def _local(spark, rows, schema):
    """A LocalRelation frame of ``rows``: list rows give a LogicalRDD, so
    go through Arrow, which keeps every column type."""
    return spark.createDataFrame(spark.createDataFrame(rows, schema).toArrow())


def _parquet_copy(spark, df, tmp_path):
    path = str(tmp_path / f"copy-{uuid.uuid4().hex}")
    df.write.parquet(path)
    return spark.read.parquet(path)


def _run_in_group(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"test-local-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _answers(out):
    return out.schema, sorted((tuple(r) for r in out.collect()), key=repr)


def _assert_paths_agree(spark, local, op, tmp_path):
    """op over the local frame runs no job and gives the rows and schema
    op gives over a parquet copy of it, which runs the UDF path."""
    assert agg._driver_local(local)
    remote = _parquet_copy(spark, local, tmp_path)
    assert not agg._driver_local(remote)
    got, jobs = _run_in_group(spark, lambda: _answers(op(local)))
    assert jobs == 0
    want, jobs = _run_in_group(spark, lambda: _answers(op(remote)))
    assert jobs >= 1
    assert got == want
    return got


def _sketches(df, cols):
    """Bloom, scalable Bloom, CMS and MG over the first half of df's rows'
    keys, so probes see members and non-members."""
    half = df.limit(max(df.count() // 2, 1))
    sbf = ScalableBloomFilter(initial_capacity=4, err_rate=0.01)
    hashes = [r[0] for r in half.select(hash_col(cols)).collect()]
    sbf.update(to_u64(np.array(hashes, dtype=np.int64)))
    return {
        "bloom": build_sketch(half, cols, lambda: BloomFilter(1 << 12, 4)),
        "scalable": sbf,
        "cms": build_sketch(df, cols, lambda: CountMinSketch(width=16, depth=3)),
        "mg": build_sketch(df, cols, lambda: MisraGries(k=2)),
    }


def _ops(sketches, cols):
    return {
        "membership": lambda d: with_membership(d, sketches["bloom"], cols),
        "scalable": lambda d: with_membership(d, sketches["scalable"], cols, "in_sbf"),
        "cms": lambda d: with_cms_count(d, sketches["cms"], cols),
        "mg": lambda d: with_mg_bounds(d, sketches["mg"], cols),
    }


@pytest.mark.parametrize("typename", sorted(TYPED_ROWS))
def test_local_path_matches_udf_path_per_type(spark, tmp_path, typename):
    rows, schema = TYPED_ROWS[typename]
    local = _local(spark, rows + [(None,)], schema)
    sketches = _sketches(local, ["v"])
    for name, op in _ops(sketches, ["v"]).items():
        _, got = _assert_paths_agree(spark, local, op, tmp_path)
        assert len(got) == len(rows) + 1, name
    member = {r["v"] is None: r["is_member"] for r in
              with_membership(local, sketches["bloom"], ["v"]).collect()}
    assert member[True] is None and member[False] is not None


def test_local_path_matches_udf_path_composite_nulls(spark, tmp_path):
    rows = [("x", 1), ("y", None), (None, 2), (None, None), ("x", 2),
            ("y", 3), ("", 0), ("z", 4), ("w", 5), ("x", 1)]
    local = _local(spark, rows, "a string, b long")
    sketches = _sketches(local, KEY)
    for op in _ops(sketches, KEY).values():
        _assert_paths_agree(spark, local, op, tmp_path)
    got = with_membership(local, sketches["bloom"], KEY).collect()
    for r in got:  # a NULL in any key column makes membership NULL
        assert (r["is_member"] is None) == (r["a"] is None or r["b"] is None), r
    assert any(r["is_member"] for r in got) and not all(
        r["is_member"] for r in got if r["is_member"] is not None)
    lo_hi = with_mg_bounds(local, sketches["mg"], KEY).collect()
    assert all(r["mg_hi"] - r["mg_lo"] == sketches["mg"].dec for r in lo_hi)


def test_local_path_empty_input(spark, tmp_path):
    full = spark.createDataFrame(pd.DataFrame({"a": ["x", "y"], "b": [1, 2]}))
    sketches = _sketches(full, KEY)
    for local in (full.limit(0), full.where(F.col("a") == "nope")):
        for op in _ops(sketches, KEY).values():
            _, rows = _assert_paths_agree(spark, local, op, tmp_path)
            assert rows == []


def _bound_frame(spark, n):
    return spark.createDataFrame(pd.DataFrame(
        {"a": [f"k{i % 97}" for i in range(n)], "b": np.arange(n) % 13}))


@pytest.mark.parametrize("over", [0, 1])
def test_row_bound(spark, tmp_path, over):
    """Exactly _LOCAL_PROBE_ROWS rows take the driver path; one more row
    takes the UDF path. Both answer as the parquet copy does."""
    df = _bound_frame(spark, agg._LOCAL_PROBE_ROWS + over)
    assert agg._driver_local(df) is (over == 0)
    sketches = _sketches(df, KEY)
    remote = _parquet_copy(spark, df, tmp_path)
    for op in _ops(sketches, KEY).values():
        got, jobs = _run_in_group(spark, lambda: _answers(op(df)))
        assert (jobs == 0) is (over == 0)
        assert got == _answers(op(remote))


def _probe_frame(spark):
    return spark.createDataFrame(pd.DataFrame(
        {"a": [f"key-{i}" for i in range(20)], "b": list(range(20))}))


def _three_ops(spark):
    df = _probe_frame(spark)
    sketches = _sketches(df, KEY)
    return [lambda d: with_membership(d, sketches["bloom"], KEY),
            lambda d: with_cms_count(d, sketches["cms"], KEY),
            lambda d: with_mg_bounds(d, sketches["mg"], KEY)]


def test_twenty_row_probe_runs_no_spark_job(spark):
    df = _probe_frame(spark)
    for op in _three_ops(spark):
        rows, jobs = _run_in_group(spark, lambda: op(df).collect())
        assert (len(rows), jobs) == (20, 0)


def test_non_local_inputs_keep_udf_path(spark, tmp_path):
    ranged = spark.range(20).select(F.concat(F.lit("key-"), F.col("id")).alias("a"),
                                    F.col("id").alias("b"))
    parquet = _parquet_copy(spark, _probe_frame(spark), tmp_path)
    for df in (ranged, parquet):
        assert not agg._driver_local(df)
        for op in _three_ops(spark):
            out = op(df)
            assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
            rows, jobs = _run_in_group(spark, out.collect)
            assert len(rows) == 20 and jobs >= 1


def test_read_operators_leave_session_unchanged(spark):
    sc = spark.sparkContext
    inputs = [_probe_frame(spark), spark.range(20).select(
        F.col("id").cast("string").alias("a"), F.col("id").alias("b"))]
    for df in inputs:
        for op in _three_ops(spark):
            conf = dict(spark.conf.getAll)
            persisted = sc._jsc.getPersistentRDDs().size()
            op(df).collect()
            assert dict(spark.conf.getAll) == conf
            assert sc._jsc.getPersistentRDDs().size() == persisted


@pytest.mark.parametrize("path", ["local", "udf"])
def test_answers_snapshot_the_sketch_at_call_time(spark, tmp_path, path):
    seen = [(f"s{i}", i) for i in range(10)]
    new = [(f"n{i}", i) for i in range(10)]
    df = _local(spark, seen + new, "a string, b long")
    if path == "udf":
        df = _parquet_copy(spark, df, tmp_path)
    assert agg._driver_local(df) is (path == "local")
    bloom = build_sketch(_local(spark, seen, "a string, b long"), KEY,
                         lambda: BloomFilter(1 << 14, 5))
    cms = build_sketch(df, KEY, lambda: CountMinSketch(width=1024, depth=4))
    mg = build_sketch(df, KEY, lambda: MisraGries(k=64))

    def probe(bloom, cms, mg):
        return [with_membership(df, bloom, KEY), with_cms_count(df, cms, KEY),
                with_mg_bounds(df, mg, KEY)]

    at_call = [sk.copy() for sk in (bloom, cms, mg)]
    outs = probe(bloom, cms, mg)
    new_hashes = to_u64(np.array(
        [r[0] for r in df.where(F.col("a").startswith("n")).select(hash_col(KEY)).collect()],
        dtype=np.int64))
    for sk in (bloom, cms, mg):  # before any of outs has run
        sk.update(np.repeat(new_hashes, 3))
    assert bloom.contains(new_hashes).all()
    assert [_answers(o) for o in outs] == [_answers(o) for o in probe(*at_call)]
    member = {r["a"]: r["is_member"] for r in outs[0].collect()}
    assert all(member[f"s{i}"] for i in range(10))
    assert sum(member[f"n{i}"] for i in range(10)) <= 2
