"""SparkSession factory tuned for the CDC engine.

Local-mode knobs mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
cores (driver would size to 2-3x total executor cores on a cluster),
Arrow enabled for the pandas-UDF transformer stage, UTC session TZ so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "neosync_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). ``shuffle_partitions`` defaults to the local core
    count — the local analog of sizing shuffles to the cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = int(cpus)
        else:
            shuffle_partitions = os.cpu_count() or 8

    # shuffle/spill scratch on memory-backed storage when available:
    # the LWW shuffle is the engine's hottest exchange, and a shared
    # disk makes its latency hostage to co-tenant IO (the cluster
    # analog is NVMe/ram-backed local dirs). Opt out by setting
    # NEOSYNC_SPARK_LOCAL_DIR to any other path.
    local_dir = os.environ.get("NEOSYNC_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        # Containers commonly mount a tiny (64 MB) shm; shuffle spill
        # there would die with ENOSPC. Only default to it when the
        # mount actually has room for a shuffle (>= 8 GiB free).
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                local_dir = "/dev/shm/neosync-spark-local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _engine_conf(shuffle_partitions, local_dir, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# every query's WholeStageCodegen classes live in the JVM code cache; a
# long-lived session (the bench sweeps 65+ queries, a tailing engine
# plans thousands of micro-batch commits) can exhaust the 240 MB
# default, at which point the JIT silently stops compiling and hot
# stages run interpreted. Reserve more and let the VM flush cold
# compiled code — standard hygiene for long-lived codegen-heavy Spark
# JVMs. Set on the driver only: in local mode the executors run in the
# driver JVM; a cluster deployment sets its executors' options itself.
_CODE_CACHE_OPTS = "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"
_JAVA_OPTS = "spark.driver.extraJavaOptions"


def _host_memory_bytes(
    meminfo: str = "/proc/meminfo", cgroup: str = "/sys/fs/cgroup/memory.max"
) -> int | None:
    """The smaller of ``MemTotal`` and the cgroup v2 ``memory.max``
    (``max`` means no limit); None when neither can be read."""
    found = []
    try:
        with open(meminfo) as f:
            found += [int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:")]
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open(cgroup) as f:
            found.append(int(f.read().strip()))
    except (OSError, ValueError):  # missing, or "max"
        pass
    return min(found) if found else None


def _default_driver_memory(host_bytes: int | None) -> str:
    """Half of the memory the process may use, capped at 48g (48g when
    it cannot be read). In local mode the executors run in the driver
    JVM, and the other half is for what the heap does not hold: the
    JVM's off-heap memory (512m code cache, metaspace, thread stacks,
    Arrow and netty buffers) and the Python driver and workers. A heap
    above physical memory is never right: G1 grows the heap instead of
    collecting, and the kernel kills the JVM (a 15 GB host lost its test
    JVM at 15.5 GB resident under the old fixed 48g)."""
    if host_bytes is None:
        return "48g"
    return f"{min(host_bytes // 2 // 2**20, 48 * 1024)}m"


def _engine_conf(
    shuffle_partitions: int,
    local_dir: str | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """The session conf ``get_spark`` builds: engine defaults, then the
    caller's ``extra_conf`` on top. ``NEOSYNC_SPARK_DRIVER_MEM``
    overrides the driver heap ``_default_driver_memory`` sizes. A
    caller's driver JVM options are appended to the code-cache flags
    rather than replacing them (the JVM takes the last of a repeated
    flag, so the caller still wins)."""
    conf = {
        _JAVA_OPTS: _CODE_CACHE_OPTS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.parquet.compression.codec": "snappy",
        # TIMESTAMP_MICROS (not the legacy INT96): footer min/max stats
        # exist, which the lakehouse zone-map pruning reads at commit
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.driver.memory": os.environ.get("NEOSYNC_SPARK_DRIVER_MEM")
        or _default_driver_memory(_host_memory_bytes()),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # commit algorithm v2: task-side renames — the v1 sequential
        # driver-side rename of every bucket dir dominates small commits
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # PySpark 4's DataFrame-debugging call-site capture costs three
        # py4j round-trips (conf.get + PySparkCurrentOrigin.set/clear)
        # plus a Python stack walk on EVERY DataFrame API call — pure
        # driver-side overhead whose only payoff is richer error
        # call-sites. The engine builds thousands of Column/DataFrame
        # expressions per commit, so this is a measurable fraction of
        # plan-building time at any cluster size (the driver is always
        # one process).
        "spark.python.sql.dataFrameDebugging.enabled": os.environ.get(
            "NEOSYNC_SPARK_DF_DEBUG", "false"
        ),
    }
    if local_dir:
        conf["spark.local.dir"] = local_dir
    for k, v in (extra_conf or {}).items():
        conf[k] = f"{_CODE_CACHE_OPTS} {v}" if k == _JAVA_OPTS else v
    return conf
