"""SparkSession construction and per-session tuning.

Two paths:

- ``get_spark()`` — build a local session for tests/bench (local[N], AQE on,
  shuffle partitions ≈ cores). Its Python workers start from
  ``ssidentity_spark.pydaemon`` (``spark.python.daemon.module``), which
  takes Spark's ``pyspark.zip``, py4j zip and spark-core jar off the
  workers' ``sys.path`` before it runs Spark's stock daemon. Every Python
  task otherwise re-reads those archives' directories (150-200 ms a task;
  an ``applyInPandasWithState`` drain runs one task per state partition
  per micro-batch). Workers then import the driver's installed pyspark.
  The engine root goes on the workers' PYTHONPATH so the daemon imports
  from any working directory.
- ``tune(spark)`` — idempotent runtime tuning applied to a session we did NOT
  build (the driver hands us one). Only touches runtime-settable SQL confs.

Scale notes (100 TB): everything set here is also correct on a real cluster —
AQE coalesces the shuffle-partition count upward/downward at runtime, the
broadcast threshold governs BHJ selection, and the session timezone pin (UTC)
makes event-time semantics independent of cluster locale. Nothing here assumes
local mode except ``get_spark``'s master url and its worker PYTHONPATH (a
driver-side path).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Static confs for the Python workers of sessions ``get_spark`` builds.
# Spark merges the executor PYTHONPATH into the workers' own; it does not
# replace it.
_WORKER_CONFS: dict[str, str] = {
    "spark.python.daemon.module": "ssidentity_spark.pydaemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}

# Runtime-settable confs applied to any session that runs our queries.
_RUNTIME_CONFS: dict[str, str] = {
    # duckdb timestamps are UTC-naive; pin the session so date_format /
    # hour() agree with the oracle (and with any other engine reading the
    # same parquet).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
    # broadcast demotion. On by default in Spark 3.2+, pinned explicitly.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet scan: pushdown + pruning are defaults; pinned for clarity.
    "spark.sql.parquet.filterPushdown": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver testdata stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as LongType and convert in io.load_table
    # (nanos → micros matches duckdb's truncation to µs precision).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours).

    Safe to call per-query: every conf here is runtime-settable SQL conf.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — keep going, defaults are sane
    if shuffle_partitions is None:
        try:
            master = spark.sparkContext.master
        except Exception:
            # no sparkContext (e.g. Spark Connect) — we cannot prove the
            # session is local, and overriding shuffle parallelism on a
            # real cluster is the one thing this guard must never do
            return spark
        if not master.startswith("local"):
            # on a real cluster never second-guess shuffle parallelism:
            # the submitting machine's CPU count is meaningless there,
            # and '200' is indistinguishable from a deliberate setting
            return spark
        try:
            current = spark.conf.get("spark.sql.shuffle.partitions")
        except Exception:
            current = "200"
        if current != "200":
            return spark  # caller already chose (bench/tests) — respect it
        # AQE coalesces down from this; ~2×cores is a good local ceiling and
        # harmless on a cluster (AQE re-splits by advisory size anyway).
        shuffle_partitions = max(2 * cpu_count(), 8)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "ssidentity-spark", cores: int | None = None) -> SparkSession:
    """Local session for tests and bench."""
    n = cores or cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(max(2 * n, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # saveAsTable targets (bucketed S2 store) land under tmp, never
        # the repo working dir's ./spark-warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                tempfile.gettempdir(), f"ssidentity-warehouse-{os.getuid()}"
            ),
        )
        .config(map=_WORKER_CONFS)
    )
    spark = builder.getOrCreate()
    return tune(spark)
