"""SparkSession construction with the pipeline's tuned configuration,
sized for the host it runs on.

The Arrow batch size is the Spark analog of redeye's --input-buffer
(src/bin/redeye.rs:47-53): it bounds the unit of work crossing the
JVM→Python boundary. AQE is on for runtime coalesce + skew-join
splitting, and the pipeline runs under it as configured here (it sets
no session conf of its own). A count needs no salt for a hot key: its
map-side partial aggregate sends at most one row per map task to the
reducer (operators/aggregate.py). File scans keep Spark's default
split size: both parse fast paths read their own files, and the
parquet one packs them into tasks by Spark's own split rule.

Every Parquet table the program writes (events, aggregates, census
partials, compaction rewrites) is written the way Iceberg writes it:
zstd in place of Spark's snappy, at level 6 (9% fewer bytes than the
default level 3 for a few percent more CPU per pipeline call), and
timestamps as INT64 microseconds (the Iceberg and current Parquet
timestamp type) in place of Spark's deprecated INT96. INT96 chunks
carry no min/max statistics, so a time filter could not skip any file
of a table clustered on time (compact_table(..., cluster_by=
["timestamp"])); INT64 chunks do. Spark reads INT96 and INT64 files
alike, even mixed in one table, so sinks an older build wrote with
INT96 stay readable and resumable.

Spill and shuffle scratch space is Spark's own choice
($SPARK_LOCAL_DIRS, spark.local.dir, else java.io.tmpdir), never a tmpfs
picked here: spill happens because memory ran short, and on a tmpfs it
would land in the RAM the heap check below does not count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~10k rows/batch: large enough to amortize Arrow IPC + regex setup,
    # small enough to keep per-batch memory bounded at wide rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # NOTE: partitionOverwriteMode is set PER WRITE in sources/io.py:
    # plain overwrite uses static (a global dynamic default would leave
    # stale partitions behind on full overwrites), checkpoint chunk
    # commits use dynamic for idempotent re-runs.
    # Without concurrent writers, partitionBy() falls back to a
    # sort-based writer that materializes+spills each task's whole
    # output before writing — 4x slower when the source is the parse
    # UDF. 10 covers #sinks (+1 spare); memory = writers x row-group.
    "spark.sql.maxConcurrentOutputFileWriters": "10",
    # partitionBy(sink) writes open (#sinks x #tasks) parquet writers; the
    # default 128 MB row-group buffer makes parquet's MemoryManager thrash
    # at high task counts (write anti-scaled 2x going 8->32 threads).
    # 16 MB keeps aggregate writer memory bounded; raise on clusters with
    # more memory per writer for better scan-side row groups.
    "spark.hadoop.parquet.block.size": str(16 * 1024 * 1024),
    # v2 commit: task outputs move to the destination at task commit,
    # instead of a sequential driver-side directory merge at job commit
    # — the job-commit wall is O(1) instead of O(files). The v2
    # trade-off (a mid-job failure can leave partial files behind) is
    # acceptable for overwrite-mode analytic outputs; flows needing
    # atomic publish (checkpoint chunk commits) already route through
    # dynamic partition overwrite, which stages per-partition.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # zstd, Iceberg's default Parquet codec: a third fewer sink bytes
    # than snappy on the pipeline's events table, at about the same
    # write-plus-read CPU (within 3%, measured alternating in one JVM)
    "spark.sql.parquet.compression.codec": "zstd",
    # level 6 instead of parquet-mr's 3: 9% fewer bytes. Writing the
    # 60k-row events table by sink and reading it back costs about 11%
    # more CPU (levels alternating in one JVM), a whole pipeline call
    # 3-4%; level 9 saves 3% more bytes for a third more CPU than level 3
    "spark.hadoop.parquet.compression.codec.zstd.level": "6",
    # INT64 microseconds, Iceberg's timestamp type, in place of the
    # deprecated INT96: its chunks carry min/max statistics, so files
    # clustered on time prune under a time filter, and they are smaller
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

_GIB = 1 << 30
# resident memory a Python worker may need on top of the driver heap
# (Arrow batches of ~10k wide rows, numpy temporaries, the interpreter)
PY_WORKER_BYTES = _GIB // 2


def host_cores() -> int:
    """CPUs this process may run on — what `nproc` reports, without its
    OMP_NUM_THREADS override."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def host_memory_bytes() -> int | None:
    """RAM this process may use: MemTotal, capped by a cgroup limit
    (v2 memory.max or v1 memory.limit_in_bytes); None if unknown."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limits.append(int(value))
    return min(limits) if limits else None


def parse_memory(spec: str) -> int:
    """A JVM memory size ("3g", "512m", "1024k", bytes) in bytes."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": _GIB, "t": 1 << 40}
    s = spec.strip().lower().rstrip("b")
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _local_threads(master: str) -> int | None:
    """Task threads of a local master (local, local[4], local[*, 2]);
    None for a cluster master."""
    import re

    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?", master.strip())
    if not m:
        return None
    return host_cores() if m.group(1) == "*" else int(m.group(1) or 1)


def default_driver_memory(ram: int | None, workers: int) -> str:
    """A third of what the Python workers leave of the host's RAM, at
    least 1g: local mode runs every task thread in this one JVM, and
    off-heap Arrow buffers, metaspace, the driver's Python process and
    the page cache need the rest."""
    if ram is None:
        return "4g"
    free = ram - workers * PY_WORKER_BYTES
    return f"{max(1, free // 3 // _GIB)}g"


def get_spark(
    app_name: str = "redeye_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession sized for the host it runs on.

    master defaults to $SPARK_GRAFT_MASTER or local[$SPARK_GRAFT_CPUS],
    where SPARK_GRAFT_CPUS defaults to the host's CPU count; on a real
    cluster pass None and let spark-submit own it. The driver heap
    ($SPARK_GRAFT_DRIVER_MEM or extra_conf's spark.driver.memory)
    defaults to a third of the RAM the Python workers leave, at least
    1g; a requested heap that, with one Python worker per local task
    thread, does not fit in the host's RAM is refused with a ValueError
    before any JVM starts.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cores())
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    ram = host_memory_bytes()
    workers = (_local_threads(master) if master else None) or 0
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(ram, workers)
    conf["spark.driver.maxResultSize"] = "4g"
    requested = bool(os.environ.get("SPARK_GRAFT_DRIVER_MEM") or "spark.driver.memory" in (extra_conf or {}))
    if extra_conf:
        conf.update(extra_conf)
    heap = parse_memory(conf["spark.driver.memory"])
    if requested and ram is not None and heap + workers * PY_WORKER_BYTES > ram:
        raise ValueError(
            f"driver heap {conf['spark.driver.memory']} plus {workers} Python workers "
            f"(~{workers * PY_WORKER_BYTES / _GIB:.1f} GiB) does not fit in this host's "
            f"{ram / _GIB:.1f} GiB of RAM; lower SPARK_GRAFT_DRIVER_MEM or the task "
            f"threads (SPARK_GRAFT_CPUS / master {master!r})"
        )
    # Parallel (throughput) GC: the pipeline's task threads do
    # allocation-heavy Arrow->row conversion, and G1's concurrent cycles
    # would compete with them for the same cores. Appended so a caller's
    # own extraJavaOptions (e.g. bench.py's ActiveProcessorCount pin)
    # are preserved.
    _jk = "spark.driver.extraJavaOptions"
    if "UseG1GC" not in conf.get(_jk, ""):
        conf[_jk] = (conf.get(_jk, "") + " -XX:+UseParallelGC").strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
