"""SparkSession factory tuned for both local testing and cluster scale.

The reference ran on Databricks with default configs (see SURVEY.md §4:
it encodes no optimizer settings of its own). Here we set the knobs
that matter at 100 TB explicitly:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (a cluster deployment
  overrides via ``spark-submit --conf``; AQE coalesces down anyway),
- Arrow enabled for the few pandas_udf paths,
- broadcast threshold left at default 10 MB — dimension tables
  (region/nation/supplier/part at any SF, carrier lookups) stay under
  it; AQE also converts to broadcast at runtime when a side turns out
  small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(app_name: str = "us-flight-delay-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores).
    On a real cluster the caller passes ``master=None`` *and* launches
    via spark-submit, in which case the builder inherits the cluster
    master and these local-mode settings are harmless overrides.
    """
    cores = _default_parallelism()
    if master is None:
        master = f"local[{cores}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join mitigation, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-mode shuffle sizing: one partition per core. At
        # cluster scale this is overridden (or AQE coalesces).
        .config("spark.sql.shuffle.partitions", str(cores))
        # Arrow transfers for pandas_udf / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: the reference relies on null-on-failed-cast
        # semantics (string→numeric TRY_CAST behavior, SURVEY.md §1).
        .config("spark.sql.ansi.enabled", "false")
        # Keep timestamps session-timezone-stable for oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # The testdata events table stores TIMESTAMP(NANOS) parquet,
        # which Spark has no native type for — read as long nanos and
        # convert at the source layer (registry.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers (UDFs, the Python DataSource writer) unpickle
        # functions that import this package: put its root on their
        # path so a launch from any working directory resolves it.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
