"""Point-probe latency of the read operators: driver-local path vs UDF path.

    python tools/probe_latency.py [--sizes 20,1000,10000] [--reps 30]

In one ``get_spark`` session (4 cores, 4 shuffle partitions) this builds a
Bloom filter and a Count-Min sketch over 200,000 synthetic (conv_id, text)
keys, then times closed-loop probes: each probe is ``createDataFrame`` of
an N-row pandas frame (half inserted keys, half new ones) sent through
``with_membership`` or ``with_cms_count`` and collected. For every size
and operator the two paths alternate probe by probe, on the same frames:

- ``local``: the driver-local path (``agg._LOCAL_PROBE_ROWS`` raised to
  the largest size for the run);
- ``udf``: the broadcast pandas-UDF path (the bound set to 0).

Both arms' rows must agree. It prints p50/p80 wall time per probe (two
warm-up probes per cell dropped) and the Spark jobs each probe ran.
The crossover of the two arms is what ``_LOCAL_PROBE_ROWS`` is set from.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import uuid

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_KEYS = 200_000
WARMUP = 2


def _keys(prefix: str, ids) -> pd.DataFrame:
    return pd.DataFrame({"conv_id": [f"{prefix}-{i // 40}" for i in ids],
                         "text": [f"turn {i} of {prefix}" for i in ids]})


def _timed_jobs(spark, fn):
    """(fn(), wall ms, Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"probe-latency-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        ms = (time.perf_counter() - t0) * 1000.0
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, ms, len(sc.statusTracker().getJobIdsForGroup(group))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="20,1000,10000",
                    help="comma-separated probe sizes in rows")
    ap.add_argument("--reps", type=int, default=30,
                    help="timed probes per size, operator and path")
    args = ap.parse_args(argv)
    sizes = [int(s) for s in args.sizes.split(",")]

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from bloomfilter_spark import agg
    from bloomfilter_spark.config import get_spark
    from bloomfilter_spark.sketches import BloomFilter, CountMinSketch

    key = ["conv_id", "text"]
    spark = get_spark("probe-latency", cores=4, shuffle_partitions=4)
    try:
        corpus = spark.createDataFrame(_keys("seen", range(N_KEYS))).repartition(4)
        built = agg.multi_sketch_build(corpus, {
            "bloom": (key, lambda: BloomFilter.for_capacity(N_KEYS, 0.01)),
            "cms": (key, lambda: CountMinSketch(width=4096, depth=4)),
        })
        ops = {"with_membership": lambda df: agg.with_membership(df, built["bloom"], key),
               "with_cms_count": lambda df: agg.with_cms_count(df, built["cms"], key)}
        rng = np.random.default_rng(7)
        print(f"{'rows':>6} {'operator':<16} {'path':<6} {'p50_ms':>8} "
              f"{'p80_ms':>8} {'jobs/probe':>10}")
        for n in sizes:
            for name, op in ops.items():
                lat = {"local": [], "udf": []}
                jobs = {"local": [], "udf": []}
                for rep in range(args.reps + WARMUP):
                    seen = _keys("seen", rng.integers(0, N_KEYS, n - n // 2))
                    new = _keys(f"new{rep}", range(n // 2))
                    pdf = pd.concat([seen, new], ignore_index=True)
                    arms = ("local", "udf") if rep % 2 else ("udf", "local")
                    got = {}
                    for arm in arms:
                        agg._LOCAL_PROBE_ROWS = max(sizes) if arm == "local" else 0
                        rows, ms, nj = _timed_jobs(
                            spark, lambda: op(spark.createDataFrame(pdf)).collect())
                        got[arm] = sorted(tuple(r) for r in rows)
                        if rep >= WARMUP:
                            lat[arm].append(ms)
                            jobs[arm].append(nj)
                    if got["local"] != got["udf"]:
                        raise SystemExit(f"{name} at {n} rows: paths disagree")
                for arm in ("local", "udf"):
                    v = lat[arm]
                    print(f"{n:>6} {name:<16} {arm:<6} {statistics.median(v):>8.1f} "
                          f"{float(np.percentile(v, 80)):>8.1f} "
                          f"{statistics.mean(jobs[arm]):>10.1f}", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
