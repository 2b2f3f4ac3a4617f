"""SparkSession factory with the engine's scale configs.

Settings follow SURVEY.md §4: AQE on (skew-split + coalesce), Arrow
on with a bounded batch size for the pandas-UDF stages, shuffle
partitions sized for the local harness (a real cluster overrides via
spark-submit --conf; these are defaults, not policy). ``local[N]``
defaults to the host's core count (``SPARK_GRAFT_CPUS`` overrides).

Python workers start from :mod:`smartglass_ocr_spark.daemon`
(:data:`DAEMON_CONF`) when they can import this package: it runs the
stock pyspark daemon with Spark's ``pyspark.zip``/py4j zip/jar entries
taken off ``sys.path``, so no task pays the per-task re-read of those
archives (BASELINE.md §Per-task set-up).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))

DAEMON_CONF = ("spark.python.daemon.module", "smartglass_ocr_spark.daemon")
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon_importable() -> bool:
    """Whether a Python worker of a JVM started from this process can
    import the package: ``python -m`` puts the worker's cwd (this
    process's cwd) first on its path, and ``PYTHONPATH`` follows."""
    root = os.path.realpath(_PACKAGE_ROOT)
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(e and os.path.realpath(e) == root for e in entries)


def get_spark(app: str = "smartglass-ocr-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """A ``local[cpus]`` session with the engine's configs.

    Sets :data:`DAEMON_CONF` only when the worker can import this
    package (it is in the cwd or on ``PYTHONPATH``): a daemon module
    that fails to import fails every Python UDF at daemon start.
    Otherwise the stock ``pyspark.daemon`` stays. ``tools/submit.sh``
    (``tools/job_extract.py``) builds its own session and keeps the
    stock daemon, since its ``--py-files`` zip is not on the daemon's
    start-up path."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = SparkSession.builder
    if _daemon_importable():
        builder = builder.config(*DAEMON_CONF)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # one shared heap serves all local[N] tasks: ParallelGC with
        # room to breathe benched +66% on the shuffle-heavy flagship
        # vs the default 8g heap (GC time was charged as task CPU)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
