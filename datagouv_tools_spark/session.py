"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every default here is chosen to also hold on a real multi-executor
cluster:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  dynamic broadcast conversion).
- ``spark.sql.shuffle.partitions`` sized from the env (32 locally; on a
  cluster you'd set 2–3× total cores — AQE coalesces the excess).
- Arrow enabled so any pandas-UDF path is batch-vectorized, never row-at-
  a-time pickling.
- ANSI mode left at the Spark 4 default (true); ETL paths that ingest
  dirty data use ``try_*`` expressions instead of globally disabling ANSI.
- Python workers fork from the package's ``worker_daemon`` (through
  ``spark.python.daemon.module``), which spares each Python task the
  re-read of every zip on its path that CPython < 3.13 does on PySpark's
  per-task ``importlib.invalidate_caches()``; left to PySpark's own
  daemon when workers started here could not import the package.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _workers_import_package() -> bool:
    """Whether a Python worker daemon started by a JVM launched from here
    can import this package: its parent directory is the working
    directory (which ``python -m`` puts first on the worker's path),
    on ``PYTHONPATH``, or a site-packages directory."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep) + site.getsitepackages()
    if not os.environ.get("PYTHONSAFEPATH"):
        paths.append(os.getcwd())
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(
    app_name: str = "datagouv-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no type
        # for; read as long ns and convert exactly in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DemoteBroadcastHashJoin skips SMJ->BHJ conversion when most
        # build-side shuffle partitions are empty — which is exactly the
        # shape of a tiny delta/dirty-key side (5 rows across 32
        # partitions). The demote rule weighs only build-side emptiness,
        # never the probe-side exchange it forces, so with it on a
        # 100 TB base gets sort-merged against a 5-row set. Let the size
        # threshold alone decide.
        .config("spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin", "0.0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if _workers_import_package():
        builder = builder.config(
            "spark.python.daemon.module", "datagouv_tools_spark.worker_daemon"
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
