"""Wall time and output bytes of every grouped sketch-table builder.

    python tools/grouped_build_timing.py CORPUS [--reps 5]

``CORPUS`` is a perfbench corpus directory (``.perfbench/corpus/v1_t..._s...``,
made by ``perfbench/run.py``) or its ``transcripts`` directory. In one
``get_spark`` session (local[4], 4 shuffle partitions) each
builder runs once untimed; the SHA-1 of its rows, sorted by key, is
printed with its row count, so two checkouts can compare bytes. Then it
runs ``--reps`` timed calls, each the builder call plus a ``noop`` write
of its table, and the median and minimum are printed. The session's
cache is cleared before every call: a builder that caches its table
would otherwise find the same plan already cached by the call before.
The keys are the corpus's ``conv_id`` (about 10,000 values) and
``tool`` (50 values, and NULL on non-tool turns).

To compare two checkouts, run this file from each of them in turn, in
the same time window: it times the library of the checkout it sits in.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4  # local cores and shuffle partitions, fixed so runs compare


def builders(df):
    """{name: zero-argument call returning the (keys..., sketch) frame}."""
    from pyspark.sql import functions as F

    from bloomfilter_spark import agg, jvm_build as J
    from bloomfilter_spark.operators.sharded import build_sharded_bloom
    from bloomfilter_spark.sketches import KLL, HyperLogLog

    turn = ["conv_id", "turn_idx"]
    tools = df.where(F.col("tool").isNotNull())
    length = F.length("text")
    return {
        "agg.grouped_sketch_table": lambda: agg.grouped_sketch_table(
            df, ["conv_id"], ["text"], lambda: HyperLogLog(10)),
        "hll_grouped_build_jvm": lambda: J.hll_grouped_build_jvm(
            df, ["conv_id"], ["text"], p=10),
        "cms_grouped_build_jvm": lambda: J.cms_grouped_build_jvm(
            tools, ["tool"], ["conv_id"], eps=1e-3, delta=1e-3),
        "bloom_grouped_build_jvm": lambda: J.bloom_grouped_build_jvm(
            df, ["conv_id"], ["text"], m=1 << 12, k=3),
        "theta_grouped_build_jvm": lambda: J.theta_grouped_build_jvm(
            df, ["conv_id"], ["text"], k=64),
        "sample_grouped_build_jvm": lambda: J.sample_grouped_build_jvm(
            df, ["tool"], turn, "text", k=64),
        "wsample_grouped_build_jvm": lambda: J.wsample_grouped_build_jvm(
            df, ["tool"], turn, length, "text", k=64),
        "iblt_grouped_build_jvm": lambda: J.iblt_grouped_build_jvm(
            df, ["tool"], turn, num_cells=4096),
        "ddsketch_grouped_build_jvm": lambda: J.ddsketch_grouped_build_jvm(
            df, ["tool"], length, alpha=0.01),
        "quantile_grouped_build_preagg": lambda: J.quantile_grouped_build_preagg(
            df, ["tool"], length, lambda: KLL(200)),
        "mg_grouped_build_preagg": lambda: J.mg_grouped_build_preagg(
            tools, ["tool"], ["conv_id"], k=64),
        "build_sharded_bloom": lambda: build_sharded_bloom(
            df, turn, capacity=500_000, fpr=0.01, n_shards=4).select("shard", "sketch"),
    }


def digest(rows) -> str:
    """SHA-1 over (key, sketch) rows sorted by key."""
    h = hashlib.sha1()
    for key, blob in sorted((repr(tuple(r[:-1])), bytes(r[-1])) for r in rows):
        h.update(key.encode() + b"\0" + blob)
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("corpus", help="perfbench corpus directory or its transcripts dir")
    ap.add_argument("--reps", type=int, default=5, help="timed calls per builder")
    args = ap.parse_args(argv)
    files = args.corpus
    if os.path.isdir(os.path.join(files, "transcripts")):
        files = os.path.join(files, "transcripts")

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from bloomfilter_spark.config import get_spark

    spark = get_spark("grouped-build-timing", cores=CORES, shuffle_partitions=CORES)
    try:
        df = spark.read.parquet(files)
        calls = builders(df)
        print(f"# {ROOT} on {files}: {args.reps} reps, local[{CORES}]")
        print(f"{'builder':<30} {'rows':>6} {'median_s':>9} {'min_s':>7}  sha1")
        for name, call in calls.items():
            spark.catalog.clearCache()
            rows = call().collect()

            def timed():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                call().write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0
            times = [timed() for _ in range(args.reps)]
            print(f"{name:<30} {len(rows):>6} {statistics.median(times):>9.2f} "
                  f"{min(times):>7.2f}  {digest(rows)}", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
