"""SparkSession factory tuned for the local[N] sandbox.

Settings chosen for the 100 TB design point but safe locally:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (every Python-side stage is pandas/Arrow vectorized, never
  per-row Python — per BASELINE.json input_hint);
- shuffle partitions sized to cores locally; on a real cluster this is
  set per-job from input stats;
- on ``local`` masters, Python workers forked from
  ``es_indexer_spark._sparkdaemon`` (``spark.python.daemon.module``),
  which keeps each worker's zip-import cache across tasks instead of
  re-reading ``pyspark.zip`` and the other archives on ``sys.path`` at
  the start of every task (~200 ms a task on CPython 3.10-3.12). The
  daemon starts before ``--py-files`` reach ``sys.path``, so it can only
  import this package where the exported PYTHONPATH is valid; on a
  cluster master Spark's default daemon runs unless the package is
  installed on the executors and ``extra_conf`` sets the module;
- distributed queries (``IndexSearcher.search_df`` and friends) run
  segment tasks that read the index path with pyarrow, as the driver
  does, so on a cluster the index must sit on a filesystem every
  executor mounts at the same path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_pythonpath() -> str:
    """Make this package importable by Spark python workers regardless of the
    driver script's cwd (the local-mode analogue of ``spark-submit
    --py-files``: workers inherit PYTHONPATH from the driver process)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")
    return pkg_root


def get_spark(
    app_name: str = "es_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(cpus if n == "*" else n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if master.startswith("local"):  # executors see the driver's PYTHONPATH
        b = b.config("spark.python.daemon.module", "es_indexer_spark._sparkdaemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
