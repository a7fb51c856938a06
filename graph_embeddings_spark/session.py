"""SparkSession factory tuned for the sandbox (local[N]) but scale-minded.

All knobs that matter at cluster scale (AQE, adaptive skew join, shuffle
partitions, Arrow batching) are set here so the same code path runs on a
real cluster via spark-submit --py-files with only master/memory changed.

JIT policy: the driver JVM runs C1 only (-XX:TieredStopAtLevel=1: no
profiling tier, no C2). The CLI and perfbench start one local JVM, make
one ~20 s call and exit, and C2 never pays back its compile cost in such a
process. Per-thread CPU from /proc/<jvm>/task/*/stat during one
rdf_kg call (4 vCPUs, seeds 1-3): the C2 compiler threads burned 23.5-29.7
CPU-s, all Spark task threads together 11.6-14.7. With C1 only there is no
C2 thread, C1 stays at ~4.5 CPU-s and the task threads did not rise
(11.2-13.0). C1 code is slower per row, so the margin narrows as input
grows: at 10x rdf_kg (48.6k triples) task-thread CPU rose 34-38 -> 47-54
CPU-s while JVM CPU fell 88-95 -> 62-75, and the call took as long. Java
17 floating point is strict at every tier, so results are bit-identical.
The flag is a launch option: it applies only when PySpark starts the JVM
itself, as get_spark does. Under spark-submit the JVM already exists, and
cluster executors keep their own JIT settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def effective_cores(requested: int | str) -> int:
    """Clamp the local[N] worker count to this host's useful parallelism:
    at most 8, and never more than the host's CPUs. The raw-CPU calibration
    recorded in BENCH/BASELINE.md shows a 32-vCPU Firecracker VM delivering
    ~18 effective cores, with Spark at local[16]/local[32] measurably
    REGRESSING vs local[8] (JVM task threads + Python workers
    oversubscribe). On a real cluster the executor count is the deploy-time
    knob; locally, running more threads than the host can execute just adds
    scheduling noise to every benchmark. SPARK_GRAFT_CORE_CLAMP, when set,
    replaces the clamp (set it >= the requested count to disable)."""
    clamp = os.environ.get("SPARK_GRAFT_CORE_CLAMP")
    limit = int(clamp) if clamp else min(8, os.cpu_count() or 8)
    return min(int(requested), limit)


def _local_dir() -> str | None:
    """Shuffle/spill files go to tmpfs WHEN it can hold them: this
    sandbox's single virtio root disk measures 30-200 MB/s, so a multi-GB
    shuffle epoch serializes on writeback no matter how many cores run
    (measured: the GloVe epoch's 2->8-core gain collapsed to 1.6x with
    /tmp shuffle dirs). On a real cluster every executor ships its own
    local NVMe and aggregate shuffle bandwidth scales WITH the executor
    count — RAM-backed local dirs model that. But tmpfs is typically
    capped at 50% of RAM and a shuffle bigger than the free space fails
    with ENOSPC mid-job, so only opt in when >=16 GiB is actually free;
    otherwise leave spark.local.dir at Spark's disk default. Explicit
    override: SPARK_GRAFT_LOCAL_DIR (set empty to force the default)."""
    if "SPARK_GRAFT_LOCAL_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_LOCAL_DIR"] or None
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            return "/dev/shm/spark-graft"
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "graph-embeddings-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # Keep glibc from serving numpy's large temp buffers via mmap/munmap:
    # every munmap broadcasts TLB-shootdown IPIs to ALL vCPUs, which
    # serializes concurrent Python workers (measured on the fused GloVe
    # epoch: 8-core combine tasks ran 3.6x slower 8-wide than 2-wide; with
    # these thresholds the epoch dropped 5.4s -> 3.2s at local[8]). Set in
    # the driver env BEFORE the JVM starts so local-mode workers inherit
    # it; spark.executorEnv below carries the same setting to real
    # clusters, where high-core executors hit the identical IPI storm.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(1 << 30))
    # One BLAS thread per Python worker: Spark tasks ARE the parallelism
    # unit, so letting OpenBLAS/MKL default to ncpu threads inside every
    # concurrent worker (8 workers x 32-thread pools on this host) thrashes
    # the scheduler on any matmul path (IVF assignment, hyperplane signs).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = effective_cores(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(int(cores), 8))))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:TieredStopAtLevel=1")  # JIT policy above
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
