"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM); the same configs are the
ones we would submit with ``spark-submit --py-files`` on a multi-executor
cluster — nothing here is local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pin per-worker BLAS/OpenMP pools to one thread: each Spark task already
# owns a core; N workers × M BLAS threads oversubscribes catastrophically
# (measured: 3× slowdown of pandas-UDF stages at local[32]).
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
    os.environ.setdefault(_v, "1")

# local mode runs every task thread in the driver JVM: the default heap is
# half of physical RAM (the rest is left to Python workers and the page
# cache), capped at the size the 32-thread sort/write stages were tuned on
_DRIVER_HEAP_CAP_MB = 48 << 10
# shuffle scratch goes to RAM-backed /dev/shm only with this much free
# space; a nearly full tmpfs fails tasks with ENOSPC instead of spilling
_SHM_MIN_FREE_BYTES = 4 << 30


def default_driver_memory(sysconf=os.sysconf) -> str:
    """Driver heap for ``spark.driver.memory``: half of physical RAM,
    at most 48g."""
    ram = sysconf("SC_PAGE_SIZE") * sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(_DRIVER_HEAP_CAP_MB, ram // 2 >> 20))}m"


def default_local_dir(statvfs=os.statvfs) -> str | None:
    """``/dev/shm/spark-local`` when /dev/shm is writable and has at least
    4 GiB free, else None (Spark's default scratch directory)."""
    try:
        st = statvfs("/dev/shm")
    except OSError:
        return None
    if (st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES
            and os.access("/dev/shm", os.W_OK)):
        return "/dev/shm/spark-local"
    return None


def get_spark(
    app_name: str = "harvester_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster the master URL comes from spark-submit and this arg is ignored
    by Spark. ``shuffle_partitions`` defaults to 2x cores locally; at 100 TB
    it should be sized so post-shuffle partitions land in the 128-512 MB
    range (AQE coalescing trims the excess either way).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    # Shuffle/spill scratch on the fastest local storage available
    # (guide §2.1: local disk for shuffle files can be the binding limit).
    # This host's default java tmpdir is ext4 on a virtio disk where every
    # map task's shuffle-file create/commit costs ~15 ms — a 64-map-task
    # exchange of 50k TINY rows measured 1.27 s vs 0.50 s with scratch on
    # tmpfs, pure fixed overhead multiplied by every exchange in a query.
    # On a real cluster spark.local.dir comes from the cluster manager
    # (NVMe mounts); the env override is the deployment knob here.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", default_local_dir())

    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions toward the advisory BYTE size
        # (guide §2.2: partitions sized by data, not by core count) instead
        # of stopping at default parallelism: metadata-sized reduce stages
        # collapse to a task or two rather than 32+ task launches of fixed
        # overhead each, and at cluster scale the advisory size (env below,
        # 64m local default = Spark's own default) is the knob that keeps
        # partitions in the 100MB-1GB band the guide targets
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        # Arrow-native UDF execution path (Spark 4): faster pandas UDF serde.
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Tear down the active session (used by the two-parallelism bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM gateway; a fresh builder after stop() creates a
    # new SparkContext with the new master URL.
