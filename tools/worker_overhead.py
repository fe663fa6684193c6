"""Python-worker fixed cost: a get_spark session against a plain one.

    python tools/worker_overhead.py [-n 30]

Runs two sessions, each in its own process on local[1]: one built by
``bloomfilter_spark.config.get_spark`` (its workers run
``bloomfilter_spark_daemon``) and one by a plain ``SparkSession.builder``
(Spark's own ``pyspark.daemon``). Each does 3 warm-up and N timed no-op
pandas-UDF round trips over 8 rows, then prints, per session:

- the median round trip (driver wall clock of one ``collect``);
- the median per-task ``time to run Python workers``, from an
  uncompressed event log of the timed jobs;
- where the workers' pyspark was imported from;
- how many zipimporters over Spark's archives the workers hold in
  ``sys.path_importer_cache`` (each is re-read on every task).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("get_spark", "plain")
RUN_METRIC = "time to run Python workers"


def _session(arm: str):
    if arm == "get_spark":
        from bloomfilter_spark.config import get_spark
        return get_spark("worker-overhead", cores=1, shuffle_partitions=1)
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master("local[1]").appName("worker-overhead")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false").getOrCreate())


def _worker_imports(it):
    import zipimport

    import pyspark

    from bloomfilter_spark_daemon import is_spark_archive

    n = sum(isinstance(imp, zipimport.zipimporter)
            and any(is_spark_archive(part) for part in key.split(os.sep))
            for key, imp in sys.path_importer_cache.items())
    for _ in it:
        yield pd.DataFrame({"pyspark": [os.path.dirname(pyspark.__file__)],
                            "archive_importers": [n]})


def _noop(s: pd.Series) -> pd.Series:
    return s


def _task_run_ms(log_dir: str, group: str) -> list[float]:
    stages, runs = set(), []
    for d, _, files in os.walk(log_dir):
        for name in files:
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue  # the v2 log's empty status marker file
                    ev = json.loads(line)
                    if (ev["Event"] == "SparkListenerJobStart" and group ==
                            (ev.get("Properties") or {}).get("spark.jobGroup.id")):
                        stages.update(ev["Stage IDs"])
                    elif ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                        runs += [float(a["Update"]) for a in ev["Task Info"]["Accumulables"]
                                 if a["Name"] == RUN_METRIC]
    return runs


def run_arm(arm: str, n: int) -> dict:
    """One session's measurements; call in a fresh process."""
    from pyspark.sql import functions as F

    log_dir = tempfile.mkdtemp(prefix="worker-overhead-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell")
    spark = _session(arm)
    try:
        noop = F.pandas_udf(_noop, "long")
        df = spark.range(8, numPartitions=1).select(noop("id").alias("id"))
        for _ in range(3):
            df.collect()
        spark.sparkContext.setJobGroup("timed", "no-op round trips")
        trips = []
        for _ in range(n):
            t0 = time.perf_counter()
            df.collect()
            trips.append((time.perf_counter() - t0) * 1e3)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        where = spark.range(1, numPartitions=1).mapInPandas(
            _worker_imports, "pyspark string, archive_importers long").first()
    finally:
        spark.stop()
    try:
        task_ms = _task_run_ms(log_dir, "timed")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    return {"arm": arm, "round_trip_ms": statistics.median(trips),
            "python_run_ms": statistics.median(task_ms) if task_ms else float("nan"),
            "pyspark": where["pyspark"],
            "archive_importers": where["archive_importers"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-n", type=int, default=30, help="timed round trips per session")
    ap.add_argument("--arm", choices=ARMS, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.arm:
        print(json.dumps(run_arm(args.arm, args.n)))
        return 0
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    print(f"{'session':<10} {'round trip ms':>13} {'python run ms/task':>18} "
          f"{'archive importers':>17}  workers' pyspark")
    for arm in ARMS:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--arm", arm,
                               "-n", str(args.n)], env=env, capture_output=True, text=True)
        if proc.returncode:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"{arm:<10} {r['round_trip_ms']:>13.1f} {r['python_run_ms']:>18.1f} "
              f"{r['archive_importers']:>17}  {r['pyspark']}")
    print(f"(medians over {args.n} round trips of 8 rows through a no-op pandas UDF)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
