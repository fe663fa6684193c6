"""The one per-key assembly under every grouped sketch table
(``agg._assemble_by_key``): each key's bytes equal a driver-side build over
that key's rows alone — across Arrow batch boundaries, for NULL, NaN,
signed-zero, wide-long, array, struct and two-column keys, with no keys
at all (one group), and over an empty input. The kernel grouped build
keeps wide long keys exact too, and each shard of the sharded Bloom build
equals a driver-side filter over the hashes routed to it. Output Arrow
batches stay under a byte cap however many keys close in one input
batch, and a pack's ValueError names the key. The grouped builders plan
no more exchanges than a ``groupBy().applyInPandas`` did, and the three
builders that need wrap arithmetic run no job when called and leave the
session's persisted RDDs and conf as they found them."""

import math
import re
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark import agg
from bloomfilter_spark.agg import _assemble_by_key, _key_runs, hash_col
from bloomfilter_spark.sketches import IBLT, BloomFilter, CountMinSketch
from bloomfilter_spark.util import U64, to_u64


@contextmanager
def _conf(spark, key, value):
    """Set a session conf key for the block; restore it (or unset it)."""
    prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _key(vals) -> tuple:
    # NaN is one group in Spark; make it one dict key here too (arrays as tuples)
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return tuple(map(norm, v)) if isinstance(v, list) else v
    return tuple(map(norm, vals))


def _cms_pack():
    """A pack building a CMS of ``__h``, whose total counts rows: a row
    lost or repeated at a batch cut shows. Nested, so the Python workers
    get it by value."""
    def pack(rows):
        sk = CountMinSketch(width=64, depth=3)
        sk.update(to_u64(rows["__h"]))
        return sk
    return pack


def _driver_side(cells, keys, build) -> dict:
    """{key: build(that key's __h values as int64).to_bytes()}, grouped on
    the driver."""
    per: dict[tuple, list] = {}
    for r in cells.collect():
        per.setdefault(_key(r[k] for k in keys), []).append(r["__h"])
    return {k: build(np.array(v, dtype=np.int64)).to_bytes() for k, v in per.items()}


def _cms(hashes) -> CountMinSketch:
    return _cms_pack()({"__h": hashes})


def _table(t, keys) -> dict:
    return {_key(r[k] for k in keys): bytes(r["sketch"]) for r in t.collect()}


def _cells(spark):
    """3000 rows over 3 partitions: key ``a`` has one hot value of 2000
    rows, NULLs and 13 small values; ``b`` is a small int with NULLs."""
    return spark.range(0, 3000, 1, 3).select(
        F.when(F.col("id") < 2000, F.lit("hot"))
         .when(F.col("id") % 7 == 0, F.lit(None))
         .otherwise(F.concat(F.lit("k"), (F.col("id") % 13).cast("string")))
         .alias("a"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("id") % 3).alias("b"),
        hash_col("id").alias("__h"))


def _assemble(cells, keys):
    return _assemble_by_key(cells.select(*keys, "__h"), keys, _cms_pack())


def test_key_spanning_many_arrow_batches(spark):
    cells = _cells(spark)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "64"):
        got = _table(_assemble(cells, ["a"]), ["a"])
    want = _driver_side(cells, ["a"], _cms)
    assert got == want
    assert CountMinSketch.from_bytes(got[("hot",)]).total == 2000
    assert (None,) in got  # every NULL row in one group


def test_two_column_key_with_nulls(spark):
    cells = _cells(spark)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "50"):
        got = _table(_assemble(cells, ["a", "b"]), ["a", "b"])
    want = _driver_side(cells, ["a", "b"], _cms)
    assert got == want
    assert ("hot", None) in got and (None, None) in got


def test_wide_long_and_nan_keys_come_back_exact(spark):
    """Long keys past 2^53 share a batch with a NULL key (a pandas frame
    would turn that column float64); NaN double keys form one group."""
    big = (1 << 62) + 1
    cells = spark.range(0, 600, 1, 2).select(
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("long"))
         .otherwise(F.lit(big) + F.col("id") % 3).alias("a"),
        F.when(F.col("id") % 3 == 0, F.lit(float("nan")))
         .otherwise((F.col("id") % 4).cast("double")).alias("d"),
        hash_col("id").alias("__h"))
    got = _table(_assemble(cells, ["a"]), ["a"])
    assert set(got) == {(None,), (big,), (big + 1,), (big + 2,)}
    assert got == _driver_side(cells, ["a"], _cms)
    got_d = _table(_assemble(cells, ["d"]), ["d"])
    assert set(got_d) == {("NaN",), (1.0,), (2.0,), (0.0,), (3.0,)}
    assert got_d == _driver_side(cells, ["d"], _cms)


def test_kernel_grouped_table_keeps_wide_long_keys(spark):
    """The kernel grouped build (phase 1 and the merge) and
    estimate_grouped keep key columns in Arrow: keys NULL, 2^62+1, 2^62+2
    and 2^62+3 in one batch are four exact groups, each equal to
    hll_grouped_build_jvm's."""
    from bloomfilter_spark.jvm_build import hll_grouped_build_jvm
    from bloomfilter_spark.sketches import HyperLogLog
    big = (1 << 62) + 1
    df = spark.range(0, 600, 1, 2).select(
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("long"))
         .otherwise(F.lit(big) + F.col("id") % 3).alias("a"),
        F.col("id").alias("v"))
    make = lambda: HyperLogLog(10)  # noqa: E731
    want = hll_grouped_build_jvm(df, ["a"], ["v"], p=10)
    got = _table(agg.grouped_sketch_table(df, ["a"], ["v"], make, salt=2), ["a"])
    assert set(got) == {(None,), (big,), (big + 1,), (big + 2,)}
    assert got == _table(want, ["a"])
    est = agg.estimate_grouped(want, ["a"], make, {"n": lambda s: s.estimate()})
    assert {r["a"] for r in est.collect()} == {None, big, big + 1, big + 2}
    # array keys have no Arrow sort kernel and group unsorted; struct keys sort
    nested = df.select(F.array(F.col("v") % 3, F.lit(1)).alias("l"),
                       F.struct((F.col("v") % 2).alias("x")).alias("s"), "v")
    for keys in (["l"], ["s", "l"]):
        got = _table(agg.grouped_sketch_table(nested, keys, ["v"], make, salt=2), keys)
        assert got == _table(hll_grouped_build_jvm(nested, keys, ["v"], p=10), keys)
        assert len(got) == (3 if keys == ["l"] else 6)


def test_sharded_bloom_shards_equal_driver_side_filters(spark, lineitem):
    """Each shard of build_sharded_bloom equals a driver-side
    BloomFilter(m_shard, k) updated with the hashes shard_of routes to
    it: one shard, and eight with pre_dedup off and on."""
    from bloomfilter_spark.operators.sharded import (build_sharded_bloom,
                                                     shard_geometry, shard_of)
    cols = ["l_orderkey", "l_linenumber"]
    n = lineitem.count()
    h = to_u64(np.array([r[0] for r in lineitem.dropna(subset=cols)
                         .select(hash_col(cols)).collect()], dtype=np.int64))
    for n_shards, pre_dedup in ((1, False), (8, False), (8, True)):
        m, k = shard_geometry(n, 0.01, n_shards)
        sh = shard_of(h, n_shards)
        want = {}
        for s in np.unique(sh):
            bf = BloomFilter(m, k)
            bf.update(h[sh == s])
            want[(int(s),)] = bf.to_bytes()
        got = _table(build_sharded_bloom(lineitem, cols, capacity=n, fpr=0.01,
                                         n_shards=n_shards, pre_dedup=pre_dedup),
                     ["shard"])
        assert got == want, (n_shards, pre_dedup)


def test_array_struct_and_signed_zero_keys(spark):
    """Array and struct keys (no Arrow equality kernel) group by value,
    NaN inside an array equal to NaN; -0.0 and 0.0 are one double key."""
    cells = spark.range(0, 400, 1, 2).select(
        F.array((F.col("id") % 3).cast("double"),
                F.when(F.col("id") % 2 == 0, F.lit(float("nan"))).otherwise(F.lit(1.0)))
         .alias("arr"),
        F.struct((F.col("id") % 4).alias("x"),
                 F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.lit("s")).alias("y"))
         .alias("st"),
        F.when(F.col("id") % 2 == 0, F.lit(-0.0)).otherwise(F.lit(0.0)).alias("z"),
        hash_col("id").alias("__h"))
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "30"):
        for keys, groups in ((["arr"], 6), (["st"], 8), (["z"], 1)):
            got = _table(_assemble(cells, keys), keys)
            assert len(got) == groups, keys
            assert got == _driver_side(cells, keys, _cms), keys


def test_no_keys_is_one_group(spark):
    cells = _cells(spark)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "500"):
        got = _table(_assemble(cells, []), [])
    assert got == _driver_side(cells, [], _cms)
    assert CountMinSketch.from_bytes(got[()]).total == 3000


def test_empty_input_is_an_empty_table(spark):
    t = _assemble(_cells(spark).where(F.lit(False)), ["a", "b"])
    assert t.columns == ["a", "b", "sketch"]
    assert t.schema["sketch"].dataType.simpleString() == "binary"
    assert t.collect() == []


def _sorted_batches(n_keys, rows_per_key, batch_rows) -> list[pa.RecordBatch]:
    """Key-sorted ``k`` (int64), ``__h`` rows cut every ``batch_rows``."""
    k = np.repeat(np.arange(n_keys, dtype=np.int64), rows_per_key)
    h = np.arange(k.size, dtype=np.int64) * 0x9E3779B97F4A7C15 % (1 << 62)
    t = pa.table({"k": k, "__h": h})
    return t.to_batches(max_chunksize=batch_rows)


def _rows(batches) -> list[tuple]:
    return [(k, bytes(b)) for rb in batches
            for k, b in zip(rb.column("k").to_pylist(), rb.column("sketch").to_pylist())]


def test_key_runs_output_batches_stay_under_the_byte_cap(monkeypatch):
    """200 keys close in one input batch: with the cap at 10 KB every
    output batch is sent as soon as its blobs pass the cap (all but its
    last blob stay under it), and the rows equal those from 7-row input
    batches."""
    monkeypatch.setattr(agg, "_OUT_BATCH_BYTES", 10_000)
    pack = lambda rows: _bloom_m(rows["__h"], 1 << 14)  # noqa: E731
    out = list(_key_runs(_sorted_batches(200, 5, 1000), ["k"], pack))
    assert len(out) > 2
    assert all(sum(map(len, rb.column("sketch").to_pylist()[:-1])) < 10_000
               for rb in out)
    rows = _rows(out)
    assert [k for k, _ in rows] == list(range(200))
    assert rows == _rows(_key_runs(_sorted_batches(200, 5, 7), ["k"], pack))


def test_pack_error_names_the_key():
    def pack(rows):
        raise ValueError("> 10 distinct values")
    with pytest.raises(ValueError, match=r"key \(0,\): > 10 distinct values"):
        list(_key_runs(_sorted_batches(3, 4, 5), ["k"], pack))


def test_grouped_quantile_cardinality_error_names_the_key(spark):
    from bloomfilter_spark.jvm_build import quantile_grouped_build_preagg
    from bloomfilter_spark.sketches import KLL
    df = spark.range(0, 200, 1, 2).select(
        F.when(F.col("id") < 100, F.lit("wide")).otherwise(F.lit("narrow")).alias("g"),
        F.when(F.col("id") < 100, F.col("id")).otherwise(F.col("id") % 3).alias("v"))
    with pytest.raises(Exception, match=r"key \('wide',\): > 10 distinct values"):
        quantile_grouped_build_preagg(df, ["g"], "v", lambda: KLL(200),
                                      max_cardinality=10).collect()


def _exchanges(df) -> int:
    return len(re.findall(r"\bExchange\b",
                          df._jdf.queryExecution().executedPlan().toString()))


def test_grouped_builds_add_no_exchange(spark, events):
    """Over an aggregate the key repartition replaces the grouping
    exchange; over a per-key window it is the window's own partitioning,
    so Spark drops it: two exchanges each, as with applyInPandas."""
    from bloomfilter_spark.jvm_build import hll_grouped_build_jvm, theta_grouped_build_jvm
    assert _exchanges(hll_grouped_build_jvm(events, ["event_type"], ["user_id"], p=12)) <= 2
    assert _exchanges(theta_grouped_build_jvm(events, ["event_type"], ["event_id"], k=64)) <= 2


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"test-grouped-assembly-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _user_hashes(events):
    return (events.where(F.col("user_id").isNotNull())
                  .select("event_type", hash_col(["user_id"]).alias("__h")))


def _iblt(hashes) -> IBLT:
    t = IBLT(num_cells=512, num_hashes=4)
    t.update(np.unique(hashes.view(U64)))
    return t


def _bloom_m(hashes, m) -> BloomFilter:
    bf = BloomFilter(m, 3)
    bf.update(to_u64(hashes))
    return bf


def _bloom(hashes) -> BloomFilter:
    return _bloom_m(hashes, 1 << 12)


def _cms256(hashes) -> CountMinSketch:
    sk = CountMinSketch(width=256, depth=3)
    sk.update(to_u64(hashes))
    return sk


@pytest.mark.parametrize("builder", ["cms", "bloom", "iblt"])
def test_wrap_arithmetic_builders_run_lazily_under_ansi(spark, events, builder):
    """The plan binds its non-ANSI evaluation mode when built inside the
    wrap window, so no cache()/count() is needed: the call runs no job,
    persists nothing, restores the conf, and the rows collected later at
    spark.sql.ansi.enabled=true are the per-key bytes."""
    from bloomfilter_spark import jvm_build as J
    keys = ["event_type"]
    pack = {"cms": _cms256, "bloom": _bloom, "iblt": _iblt}[builder]
    want = _driver_side(_user_hashes(events), keys, pack)
    build = {
        "cms": lambda: J.cms_grouped_build_jvm(events, keys, ["user_id"],
                                               width=256, depth=3),
        "bloom": lambda: J.bloom_grouped_build_jvm(events, keys, ["user_id"],
                                                   m=1 << 12, k=3),
        "iblt": lambda: J.iblt_grouped_build_jvm(events, keys, ["user_id"],
                                                 num_cells=512),
    }[builder]
    sc = spark.sparkContext
    with _conf(spark, "spark.sql.ansi.enabled", "true"):
        persisted = set(sc._jsc.getPersistentRDDs().keySet())
        conf = dict(spark.conf.getAll)
        table, jobs = _jobs_during(spark, build)
        assert jobs == []
        assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted
        assert dict(spark.conf.getAll) == conf
        got = _table(table, keys)
    assert got == want and len(got) > 1
