"""SparkSession construction with scale-appropriate defaults.

Local mode is a single JVM; on a real cluster the same configs hold, with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` tuned so scan partitions fit executor
memory. AQE is always on: it coalesces small shuffle partitions, switches
sort-merge joins to broadcast at runtime, and splits skewed partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from parallel_dataflow_spark.pkgzip import build_pkg_zip, ensure_on_executors

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Driver heap default: a quarter of the memory the host grants, so two
# session JVMs (a test suite's and the local[32] determinism probe's)
# fit side by side with their Python workers. In local mode this heap is
# the executors' heap too. On a 15.7 GiB host a full Tier-1 run under a
# fixed 16g heap grew the suite's JVM to 7.3 GB RSS (9.4 GB with the
# probe's JVM beside it); under this default (4023m) the peaks were
# 4.3 GB and 7.2 GB.
HEAP_FRACTION = 0.25
HEAP_FLOOR_MB = 1024
CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2; "max" when unlimited
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def default_driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = CGROUP_LIMITS
) -> str:
    """``spark.driver.memory`` for this host: HEAP_FRACTION of the lesser
    of MemTotal and every cgroup memory limit that is a number, at least
    HEAP_FLOOR_MB. Without /proc/meminfo (not Linux) the floor."""
    try:
        with open(meminfo) as f:
            granted = next(
                int(line.split()[1]) * 1024
                for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{HEAP_FLOOR_MB}m"
    for path in cgroup_limits:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            granted = min(granted, int(limit))
    return f"{max(HEAP_FLOOR_MB, int(granted * HEAP_FRACTION) >> 20)}m"


def get_spark(
    app_name: str = "parallel_dataflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. Pass e.g.
    ``local[8]`` / ``local[32]`` for the two-parallelism scaling benchmark
    (stand-in for N vs 4N executor clusters; see BENCH/BASELINE.md).
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism: local[N] -> N shuffle partitions (not 200)
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    # pin BLAS pools in every python worker: N workers x M BLAS threads
    # thrashes the box (numpy ops here are small-array; BLAS parallelism
    # only hurts). Set on the driver env too — local-mode workers inherit.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r6 (guide §2.2/§2.5): AQE coalescing targets for this engine's
        # CPU-dense text/hash operator stages, where the right partition
        # size follows CPU seconds, not bytes — the 64 MB/1 MB defaults
        # collapse a few-MB-but-expensive shuffle (shingle sets, band
        # keys, gram streams) onto a handful of cores. Local defaults
        # 8m/256k measured -20..-25% on the sf1.0 headline set (A/B both
        # orders, OPTIMIZATION_r06.md); production scan-heavy relational
        # stages want the classic 64-256m/1m — both env-overridable, and
        # the knob scales with data because AQE still sizes partitions
        # from actual shuffle bytes.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    if master.startswith("local"):
        # fork Python workers from a daemon that has the zip-directory
        # cache installed (pkgzip); the zip on PYTHONPATH lets it import
        # the package. Local masters only: remote executors lack the zip.
        builder = builder.config(
            "spark.python.daemon.module", "parallel_dataflow_spark.daemon"
        ).config("spark.executorEnv.PYTHONPATH", build_pkg_zip())
        # commit streaming checkpoints (offsets/commits/sources logs, state
        # stores) through FileSystem.rename. Spark's default FileContext
        # manager renames via AbstractFileSystem.renameInternal, whose
        # getFileLinkStatus spawns `readlink` twice per rename on file://
        # when libhadoop is absent. Both do check-then-rename(2) on a local
        # disk and write the same layout and .crc sidecars, so checkpoints
        # resume across them. Local masters only: on HDFS the FileContext
        # rename is atomic on the server. Sessions built without get_spark
        # keep Spark's default.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_on_executors(spark)
    return spark


def stop_spark() -> None:
    """Stop the active session (needed to switch master between bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # defensively clear the JVM-side default session so a new master takes
    try:  # pragma: no cover
        SparkSession.builder._options = {}
    except Exception:
        pass
