"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os


# glibc malloc tuning for the driver and every forked Python worker:
# keep large numpy/Arrow buffers in the sbrk heap (high mmap threshold)
# and never trim the heap back to the OS. Rationale: the vectorized
# chamber/flush kernels allocate multi-hundred-MB temporaries per Arrow
# batch; with default thresholds glibc mmap/munmaps each one, so every
# flush re-faults fresh pages. On first-touch-expensive hosts (lazily
# paged VMs, NUMA remote-node faults on big executors) that dominates
# the build wall — measured 12 MB/s first-touch vs GB/s reuse on this
# sandbox. With these settings each worker pays the fault cost once at
# its high-water mark and reuses warm pages thereafter; on a normal
# host the settings are benign (slightly higher RSS retention).
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_TOP_PAD_": str(64 << 20),
}


def _purge_stale_local_dirs(local_dir: str) -> None:
    """Remove spark-local scratch dirs left by DEAD JVMs. Killed
    drivers (timeouts, OOM kills) never run their shutdown hooks, so
    their shuffle/spill files leak; on a tmpfs local dir that leak is
    RAM — measured 106 GB of stale spill from killed benchmark JVMs
    OOM-killing the next run on this 128 GB box. Spark names the dirs
    spark-<uuid> with a pid-less layout, so liveness is inferred from
    mtime age. The rule: a top-level dir is removed only when the
    NEWEST mtime anywhere under it (the dir itself, every nested
    blockmgr-*/ subdir and every shuffle/spill file) is more than an
    hour old. A live session keeps writing nested files while its
    top-level dir's own mtime stays at creation time, so that mtime
    alone would condemn any session older than an hour."""
    import shutil
    import time as _t

    if not os.path.isdir(local_dir) or not local_dir.startswith("/dev/shm"):
        return
    cutoff = _t.time() - 3600
    try:
        for name in os.listdir(local_dir):
            p = os.path.join(local_dir, name)
            try:
                if os.path.isdir(p) and _newest_mtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def _newest_mtime(root: str) -> float:
    """Newest mtime of root and of every dir and file below it (entries
    that vanish mid-walk are skipped)."""
    newest = os.path.getmtime(root)
    for d, _, files in os.walk(root):
        for f in [d] + [os.path.join(d, x) for x in files]:
            try:
                newest = max(newest, os.path.getmtime(f))
            except OSError:
                continue
    return newest


def get_spark(app_name: str = "lucene_solr_spark", master: str | None = None,
              shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    # local mode: the executor JVM (and the python workers it forks)
    # inherits this process's environment — set before JVM launch
    for k, v in _MALLOC_TUNING.items():
        os.environ.setdefault(k, v)
    _purge_stale_local_dirs(os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # JVM<->Python worker channel over unix domain sockets: loopback
        # TCP on this kernel stalls ~40ms/ACK per Arrow batch (Nagle +
        # delayed-ACK), which made every UDF stage latency-bound and
        # killed core scaling (measured 9x on a trivial pandas UDF job)
        .config("spark.python.unix.domain.socket.enabled", "true")
        # shuffle/spill through tmpfs when available: this box has 128G
        # RAM and a slow-syscall disk path (measured ~30% of build wall
        # in kernel time on /tmp); on a real cluster leave unset
        .config("spark.local.dir", os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        ))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # extra JVM flags hook (benchmarks set -Xms=driver.memory plus
        # -XX:+AlwaysPreTouch: this sandbox's hypervisor serializes
        # CONCURRENT page-population — a 32-proc anon-fault storm runs
        # 15-25x slower than an 8-proc one — so heap growth mid-job at
        # high task parallelism stalls every core; pre-touching at JVM
        # start pays the fault cost once, single-threaded, on the fast
        # path. Benign on normal hosts.)
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    # cluster mode: ship the malloc tuning to executor-side workers too
    for k, v in _MALLOC_TUNING.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    return builder.getOrCreate()
