"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config is written for a multi-executor cluster
(AQE on, skew-join on, Arrow batches sized for text payloads). The reference has
no parallelism at all (SURVEY.md §6: `parallel_workers` knob is dead code,
reference core/scanner.py:8); here parallelism is the whole point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MIB = 1024 * 1024
# 12g is a CEILING, not a target: on a snapshot-restored microVM the cost of
# FIRST-TOUCH page faults is ~50-100x a warm fault (VMM-serviced),
# and G1 on a huge pinned heap keeps allocating young regions in never-touched
# areas — measured: the identical explode+agg job swings 5s..92s at 48g,
# stabilizes at 4-10s with a 10-12g heap (run-to-run, warm machine; SCALING.md
# §1). Below the cap the heap is sized to the machine, from Spark's own
# guidance: the hardware-provisioning guide gives Spark "at most 75% of the
# memory" (the rest is for the OS and buffer cache), and the driver's
# non-heap overhead is max(spark.driver.minMemoryOverhead = 384 MiB,
# spark.driver.memoryOverheadFactor = 0.10 x heap). A pinned heap whose
# resident set outgrows the machine gets the JVM OOM-killed — it keeps
# nothing hot. On a real cluster executors size their own heaps; this default
# only governs local mode.
_HEAP_CAP = 12 * 1024 * _MIB
_SPARK_SHARE = 0.75
_OVERHEAD_MIN = 384 * _MIB
_OVERHEAD_FACTOR = 0.10
# Spark refuses a heap under 1.5x its 300 MiB reserved memory.
_SPARK_MIN_HEAP = 450 * _MIB
# A v1 cgroup with no limit reports PAGE_COUNTER_MAX pages (~2^63 bytes).
_CGROUP_NO_LIMIT = 1 << 62


def _cgroup_memory_limit(
    proc_cgroup: str = "/proc/self/cgroup", mount: str = "/sys/fs/cgroup"
) -> int | None:
    """Lowest memory limit on this process's cgroup or its ancestors, or None.

    Reads ``memory.max`` (cgroup v2) or ``memory.limit_in_bytes`` (v1) from the
    process's own cgroup up to the mount root, so it works both with a cgroup
    namespace (own cgroup at the mount root) and without one (own cgroup at its
    full path under the mount). ``max`` and the v1 sentinel mean no limit.
    """
    try:
        with open(proc_cgroup) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    limits = []
    for line in lines:
        _, controllers, path = line.split(":", 2)
        if controllers == "":
            root, name = mount, "memory.max"
        elif "memory" in controllers.split(","):
            root, name = os.path.join(mount, "memory"), "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        for depth in range(len(parts), -1, -1):
            try:
                with open(os.path.join(root, *parts[:depth], name)) as f:
                    raw = f.read().strip()
            except OSError:
                continue
            if raw != "max" and int(raw) < _CGROUP_NO_LIMIT:
                limits.append(int(raw))
    return min(limits) if limits else None


def usable_memory_bytes() -> int:
    """Memory this process can use: physical RAM, or a lower cgroup limit."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = _cgroup_memory_limit()
    return physical if limit is None else min(physical, limit)


def driver_memory(usable_bytes: int | None = None) -> str:
    """Driver heap for ``get_spark``: ``$SPARK_GRAFT_DRIVER_MEM`` verbatim if set.

    Otherwise the largest heap H with H + max(384 MiB, 0.10*H) <= 0.75 * M,
    capped at 12g, where M is ``usable_bytes`` (default: ``usable_memory_bytes()``).
    Returns a JVM size string ("12g" at the cap, else whole MiB as "<n>m").
    Raises ValueError when M is too small to hold a heap Spark accepts.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override is not None:
        return override
    if usable_bytes is None:
        usable_bytes = usable_memory_bytes()
    budget = int(usable_bytes * _SPARK_SHARE)
    # H + max(a, b) <= B  <=>  H + a <= B and H + b <= B
    heap = min(budget - _OVERHEAD_MIN, int(budget / (1 + _OVERHEAD_FACTOR)), _HEAP_CAP)
    if heap >= _HEAP_CAP:
        return "12g"
    if heap < _SPARK_MIN_HEAP:
        raise ValueError(
            f"{usable_bytes // _MIB} MiB usable memory leaves no room for a Spark "
            "driver heap of at least 450 MiB; set SPARK_GRAFT_DRIVER_MEM to override"
        )
    return f"{heap // _MIB}m"


def get_spark(
    app_name: str = "dedupe_archived_files_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``) so
    the same entry points run under the driver harness and under spark-submit
    on a real cluster (where ``master`` is left to the launcher).
    """
    # glibc malloc mmap()s every allocation over ~128 KB and munmap()s it on
    # free; numpy temporaries in the featurizer UDFs sit right above that
    # threshold, and each munmap fires TLB-shootdown IPIs at every core. At 32
    # parallel workers this turns into a kernel-time storm (measured on this
    # box: 32x featurize workers, wall 12.4s -> 5.6s, sys CPU 224s -> 28s with
    # the thresholds raised). Set BEFORE the JVM starts so the pyspark daemon
    # and every forked worker inherit it; executorEnv carries it to real
    # cluster executors.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "1073741824")
    # pyarrow's bundled jemalloc decay-purges its chunks (madvise) a few
    # seconds after each Arrow batch and refaults them on the next — repeated
    # UDF stages degrade monotonically (measured: 4 consecutive 400k-page
    # extract stages at local[32]: 20s, 57s, 62s, 54s with jemalloc vs 14s,
    # 15s, 19s, 18s with the system allocator, which the thresholds above
    # keep resident). Workers inherit this env in local mode; executorEnv
    # carries all three to real cluster executors.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_s) if cpus_s else (os.cpu_count() or 8)

    # sized to this machine, capped at 12g (see driver_memory above)
    driver_mem = driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM IS the executor — give it real memory
        # (ignored by spark-submit deployments that set their own)
        .config("spark.driver.memory", driver_mem)
        # -Xms == -Xmx: a growing/shrinking G1 heap commits and UNCOMMITS
        # regions continuously under cache/shuffle churn, and every uncommit
        # is an munmap → TLB-shootdown IPIs on all cores (measured: the 13M-row
        # blocking aggregate dropped from 87s wall / 1447s sys CPU to 17s /
        # 12s once the heap was pinned). Pages still fault in lazily — no
        # AlwaysPreTouch — so session startup stays fast.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
        # shuffle sized to cores locally; on a real cluster raise to ~2-3x total cores
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, join-strategy switches
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas hop
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # deterministic timestamps vs DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # count(*)/min/max over plain parquet answered from footer row-group
        # stats instead of a data scan (used by the ANN's corpus-size probe)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # collect_list/collect_set aggregations over millions of groups:
        # the default ObjectHashAggregate fallback (128 in-memory keys per
        # partition!) silently degrades to sort-based aggregation — the exact
        # sort the bucket-based blocking design exists to avoid
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # equi-joins on high-cardinality keys: shuffled-hash beats two full
        # sorts; AQE still re-plans skewed/oversized partitions
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # NEVER memory-map shuffle/storage blocks: local-mode reads mmap any
        # block over the 2 MB default, and the later munmap burst (buffer
        # cleaner at GC) fires TLB-shootdown IPIs across every core — measured
        # here as a kernel-time storm (12s -> 145s wall, 19s -> 2866s sys CPU
        # on an identical 13M-row shuffle+aggregate re-run at local[32]).
        # Plain pread of shuffle blocks is uniformly fast and stable.
        .config("spark.storage.memoryMapThreshold", "2g")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Spark 4 collation-aware string functions (lower/upper/initcap) lazily
    # initialize ICU (CollationAwareUTF8String class init) on FIRST use — on a
    # many-core executor every task thread of the first stage blocks on the
    # class-initialization monitor, serializing the whole stage (measured:
    # 153s -> 39s cold-run on a 32-core local pipeline). Pay the ~4s init
    # once, single-threaded, at session start instead.
    spark.sql("select lower('Ü'), upper('ü'), initcap('warm')").collect()
    return spark
