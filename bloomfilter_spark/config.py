"""Engine-wide constants and SparkSession construction.

Seed constants mirror the reference's salts (public values from
/root/reference/Data/BloomFilter/Hash.hs:101-105,149-156) so the engine's
default behavior is recognizably derived from the same scheme, while the
actual base hash is Spark's built-in ``xxhash64`` (JVM-side, columnar).
"""

from __future__ import annotations

import os

# Reference salt for cheapHashes (Data/BloomFilter/Hash.hs:149: 0x9150a946c4a8966e).
# SPARK_GRAFT_SEED overrides it (int64 range) — the seed-robustness sweep
# axis: re-running the oracle gate under a different seed separates
# genuinely seed-invariant queries from the (documented) ones whose
# exact-match claims rest on fixed-seed collision-freeness. Estimates and
# bounds must hold at ANY seed; only which keys collide may change.
DEFAULT_SEED = int(os.environ.get(
    "SPARK_GRAFT_SEED",
    0x9150A946C4A8966E & 0x7FFFFFFFFFFFFFFF))  # keep in int64 range for lit()

# Default false-positive rate used by convenience builders (examples/Words.hs:33).
DEFAULT_FPR = 0.01

# Partial-sketch merge fan-in: number of intermediate merge tasks in the
# two-level (treeAggregate-style) topology.
DEFAULT_MERGE_PARTITIONS = 16

# Broadcast budget: sketches larger than this should use the sharded path.
BROADCAST_BUDGET_BYTES = 512 * 1024 * 1024

# Serializes the scoped raise/pin/restore of
# spark.sql.optimizer.windowGroupLimitThreshold (jvm_build grouped builds,
# operators.quantiles.grouped_extreme_quantiles): session conf is
# session-global, so without this lock a query PLANNED concurrently on the
# same SparkSession in another thread could see the temporarily raised
# threshold, and two overlapping windows could restore a stale prev value.
# Guards only the library's own call sites — a user mutating the conf
# mid-window from another thread is out of scope.
import threading  # noqa: E402

WGL_THRESHOLD_LOCK = threading.Lock()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def iceberg_configs(catalog: str = "local",
                    warehouse: str = "/tmp/bloomfilter_spark_warehouse"
                    ) -> dict[str, str]:
    """Spark confs for an Iceberg Hadoop catalog (the north rule's table
    format). Apply via spark-submit --conf or a session builder. Requires
    the public iceberg-spark-runtime jar on the classpath, e.g.

        spark-submit --packages \\
            org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:1.6.1 \\
            --conf spark.sql.extensions=...IcebergSparkSessionExtensions ...

    (the jar is absent in this sandbox; see tests/test_iceberg.py, which
    skips when `has_iceberg` is false)."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def has_iceberg(spark) -> bool:
    """True when the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 - Py4J raises loader-specific errors
        return False


# Top-level module next to the package (see its docstring): the Python
# worker daemon of get_spark sessions.
WORKER_DAEMON = "bloomfilter_spark_daemon"


def worker_daemon_module() -> str | None:
    """WORKER_DAEMON when Python workers can import it from a plain
    directory, else None (e.g. the library loaded from a --py-files zip).

    Local-mode workers search the JVM's working directory and PYTHONPATH,
    so the module's directory must be one of those. A running gateway (it
    outlives stopped contexts) is asked for its own; otherwise the JVM about
    to start inherits this process's.
    """
    from pyspark import SparkContext

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, WORKER_DAEMON + ".py")):
        return None
    jvm = SparkContext._jvm
    if jvm is None:
        cwd, env = os.getcwd(), os.environ
    else:
        system = jvm.java.lang.System
        cwd, env = system.getProperty("user.dir"), system.getenv()
    dirs = (env.get("PYTHONPATH") or "").split(os.pathsep)
    if not env.get("PYTHONSAFEPATH"):  # `python -m` puts the cwd first
        dirs.append(cwd)
    real = os.path.realpath(root)
    if any(d and os.path.realpath(d) == real for d in dirs):
        return WORKER_DAEMON
    return None


def get_spark(app_name: str = "bloomfilter_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              iceberg_warehouse: str | None = None):
    """Build a local SparkSession tuned for this engine.

    On a real cluster these configs come from spark-submit; the session
    builder only sets SQL-level knobs that matter at any scale (AQE on,
    Arrow on, UTC timestamps). Pass ``iceberg_warehouse`` (or set
    $SPARK_GRAFT_ICEBERG_WAREHOUSE) to wire an Iceberg Hadoop catalog named
    ``local`` — only do so with the Iceberg runtime jar on the classpath,
    since the SQL extension class must be loadable at session start.
    """
    from pyspark.sql import SparkSession

    n = cores or default_parallelism()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # progress-bar carriage returns interleave with tool output
        # (check_oracle PASS lines); the bar carries no information in
        # headless runs
        .config("spark.ui.showConsoleProgress", "false")
        # 4x the old 65536: fewer per-batch crossings on the narrow
        # int64/double columns the sketch kernels consume (measured r6:
        # family one-scan ~-10%, minhash/simhash ~-12% across interleaved
        # arms). Wide rows stay safe because Spark 4 additionally caps
        # batches at spark.sql.execution.arrow.maxBytesPerBatch (64 MB
        # default), which governs before the record cap for big payloads.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
    )
    daemon = worker_daemon_module()
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    iceberg_warehouse = iceberg_warehouse or os.environ.get(
        "SPARK_GRAFT_ICEBERG_WAREHOUSE")
    if iceberg_warehouse:
        for key, val in iceberg_configs(warehouse=iceberg_warehouse).items():
            builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
