"""SparkSession factory tuned for the CDC-ingest engine.

Local mode is the test bed; the config choices are the ones that matter on
a real multi-executor cluster too (AQE, Arrow, shuffle sizing, UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "arango_etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` pins ``local[N]`` (used by the scaling bench to evidence the
    N vs 4N criterion); default is ``local[*]``.
    """
    # Respect a cluster manager chosen by spark-submit (--master yarn/k8s):
    # only force a local master when none was provided or cores was pinned.
    from pyspark import SparkConf

    submitted_master = SparkConf().get("spark.master", None)
    if cores is not None:
        master = f"local[{cores}]"
    elif submitted_master:
        master = submitted_master
    else:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match parallelism to cores locally; on a cluster this is sized to
        # executors*cores (AQE coalesces down when partitions run small)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # deterministic timestamps for oracle comparison
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # list paths on the driver, never in a side job: SnapshotTable
        # hands Spark the exact data files of a manifest on POSIX storage
        # (O_EXCL / os.replace commits), so listing is one stat per file,
        # and Spark still checks that every file exists. Above the default
        # threshold (32 paths) Spark starts a parallel listing job instead;
        # measured on a 4-core host, that job vs the serial listing: 40
        # files 0.285 vs 0.054 s, 80 files 0.416 vs 0.085 s, 512 files 2.1
        # vs 0.15 s, 4096 files 17.7 vs 1.1 s.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1000000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Python workers unpickle mapInPandas closures that live in this
    # package; make the package root importable regardless of the caller's
    # cwd (on a real cluster --py-files ships the zip instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
