"""SparkSession factory tuned for the transcript rollup engine.

Defaults target the sandbox (single JVM, local[N]) but every knob is the one
you would also set on a real multi-executor cluster: AQE on (post-shuffle
coalescing + skew splitting), Arrow transfer for every pandas/Arrow UDF hop,
shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transcriptts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # 4 tasks per core, NOT 1: measured on the 16M-turn tier rollup, one
    # shuffle partition per core runs 2-4x slower at every parallelism level
    # (single oversized percentile buffers + zero straggler smoothing); 4x
    # gives AQE room to coalesce down instead of being floor-limited.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = 4 * (cpus if n == "*" else max(int(n), 1))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Post-shuffle coalescing sizes each shuffle to its bytes: AQE merges
        # partitions up to max(minPartitionSize, bytes / minPartitionNum), so
        # a few-kB shuffle of the incremental refresh runs 1 task instead of
        # 4 waves of tiny ones, while a shuffle of 4 MB or more at local[4]
        # keeps the full width set above, the width measured at scale.
        # minPartitionNum defaults to defaultParallelism (1 per core), which
        # would cap a large shuffle at one task per core; Spark marks it
        # deprecated but coalescing still reads it. minPartitionSize is
        # 256 KB, not the 1 MB default: the exact-percentile rollup of sf0.1
        # shuffles 1.8 MB, which 1 MB partitions run as 2 tasks on 4 cores
        # (measured slower than 16 uncoalesced tasks; 256 KB gives 8 and was
        # faster than both). CPU-bound Python and window stages are not sized
        # by bytes: they pin their width with an explicit repartition(n, ...),
        # which coalescing leaves alone (see partitioning.per_series).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle spill dir on tmpfs when it is actually big enough: the
    # sandbox's root disk serializes concurrent shuffle writes (~25% of
    # wall at 32 cores), but containers commonly mount a tiny (64 MB)
    # RAM-backed /dev/shm where large spills would fail — so require
    # >= 8 GiB free (or force with SPARK_GRAFT_TMPFS=1/0). A real cluster
    # uses per-executor local NVMe instead.
    tmpfs_pref = os.environ.get("SPARK_GRAFT_TMPFS")
    use_tmpfs = False
    if tmpfs_pref == "1":
        use_tmpfs = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    elif tmpfs_pref != "0" and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        use_tmpfs = st.f_bavail * st.f_frsize >= 8 << 30
    if use_tmpfs:
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
