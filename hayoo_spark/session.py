"""SparkSession factory with the engine's standard configuration.

Tuned for correctness tests on local[N]; the same settings are what we
would ship for a multi-executor cluster (AQE on, Arrow on, sane shuffle
partitioning) — only sizes change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 48g: a local-mode JVM shares the
    machine with its python workers, and a heap sized past the machine
    lets it grow until the kernel kills it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(48 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "hayoo-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or 8.  Shuffle
    partitions default to ``cores`` — at cluster scale this would be
    set to ~2-3x total executor cores; AQE coalesces downward.
    """
    # make the package importable in python workers (same effect as
    # shipping the package zip via spark-submit --py-files)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory coalesces local-scale shuffles down to 1-2
        # partitions and serializes every downstream stage; 8m keeps the
        # cores busy while still merging genuinely tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch python/pandas fixed
        # cost in the build's combine/encode streams (guide §4.2); the
        # byte cap bounds memory for wide rows (text/payload columns)
        # so a 64k-row batch of fat rows cannot balloon a worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("HAYOO_ARROW_BATCH_ROWS", "65536"))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                os.environ.get("HAYOO_ARROW_BATCH_BYTES", "64m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("HAYOO_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local corpora are tens of MB; the default 128 MB split size
        # would put the whole scan (and extraction) on one core.  A
        # cluster deployment over TB-scale files keeps the default.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("HAYOO_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)))
    )
    # shuffle/spill on tmpfs when available: the single virtio disk's
    # writeback stalls add multi-second jitter to shuffle-heavy stages
    local_dir = os.environ.get("HAYOO_LOCAL_DIR",
                               "/dev/shm" if os.path.isdir("/dev/shm") else "")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
