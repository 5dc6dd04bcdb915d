"""SparkSession helpers with the engine's pinned configuration."""

import os

from pyspark.sql import SparkSession

# the directory holding the searchengine_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """PYTHONPATH with the package root first, for Spark's Python
    workers: a process that found the package through an edited
    ``sys.path`` (not the environment) would otherwise start workers
    that cannot import it."""
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p and p != PACKAGE_ROOT]
    return os.pathsep.join([PACKAGE_ROOT, *parts])


def get_spark(app="searchengine-spark", master=None, shuffle_partitions=None):
    """Build a SparkSession with AQE + Arrow enabled.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster this is supplied by spark-submit and the builder's
    master is simply not set.

    The package root goes on the Python workers' path twice over: in
    this process's PYTHONPATH before the JVM starts (the JVM and the
    workers it forks inherit it) and as ``spark.executorEnv.PYTHONPATH``,
    which Spark merges into every Python worker's path.  Once a JVM is
    running, getOrCreate returns its session and neither takes effect.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    pythonpath = _worker_pythonpath()
    os.environ["PYTHONPATH"] = pythonpath
    b = (
        SparkSession.builder.appName(app)
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd shuffle/spill compression: ~2x fewer shuffle bytes than
        # lz4 for the CPU the extra compression costs — measured 19-29%
        # faster whole-build at both 4 and 16 cores here (BASELINE.md
        # round 3); at cluster scale the saved bytes are network, the
        # scarcest resource
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        b = b.master(master)
    return b.getOrCreate()
