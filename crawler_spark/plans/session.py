"""SparkSession builder tuned for the crawl engine.

Local-mode knobs follow the sandbox (local[N], single JVM); the same
config block is what a `spark-submit --py-files` cluster run would use,
minus master/memory which come from the cluster manager.

Scale posture (100 TB / 1000 executors):
  * AQE on — runtime coalescing, skew-join splitting (mega-hosts).
  * Arrow on — every Python crossing is a vectorized batch.
  * shuffle.partitions sized to cores locally; on a real cluster this
    is overridden per-job to ~2-3x total cores (AQE coalesces down).
  * UTC session TZ so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """Driver heap sized to the host: a sixth of physical memory
    (MemTotal), clamped to 1-6 GB. The heap is pinned and pre-touched
    (see below), so it must fit beside the Python workers, the page
    cache and the tmpfs shuffle scratch; SPARK_GRAFT_DRIVER_MEM
    overrides it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1, min(6, kb // 2**20 // 6))}g"


def get_spark(app: str = "crawler_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is byte-targeted, but this engine's shuffles
        # are byte-light and compute-heavy (url regex/canonicalize on
        # dictionary-compressed strings): the 1 MB default floor let
        # AQE squash post-shuffle stages to ~6 tasks on a 32-core
        # executor. A 64 KB floor keeps parallelism-first sizing in
        # charge (≈ one partition per core)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                str(64 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # small input splits: scan parallelism must come from the data,
        # not from how many files the writer happened to produce. The
        # engine's hot stages (explode+canonicalize over links arrays)
        # read snappy parquet that decompresses ~5-10x, so 32 MB splits
        # starve a 32-thread executor (measured: the round-6 edge
        # extraction ran on ~2 tasks and took 35 s at BOTH local[8]
        # and local[32]); 4 MB splits + 1 MB open cost let every scan
        # fan out to the full core count
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # shuffle/broadcast scratch on tmpfs: the sandbox's /tmp is a
        # virtual disk and shuffle-heavy stages serialize on its IO
        # regardless of cores (measured; on a real cluster this is
        # NVMe-backed local dirs)
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local"))
        .config("spark.driver.memory", driver_mem)
        # pin the heap: with a floating -Xms, every full GC uncommits
        # heap pages and the next allocation burst re-faults them
        # across all task threads — measured as ~26 of 32 CPUs in
        # KERNEL time (page alloc/zero + mmap_lock) for 70+ s while
        # user CPU sat near zero. Xms=Xmx + AlwaysPreTouch faults the
        # heap exactly once at startup and removes the storm.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        # \r-progress bars interleave with tool stdout (check_oracle
        # lines were swallowed when piped through grep)
        .config("spark.ui.showConsoleProgress", "false")
        # the resolve skeleton is a deliberate large Arrow collect
        # (~28 B/edge; ~2.2 GB at 80M edges) — the 1g default
        # maxResultSize kills it long before driver memory is at risk
        .config("spark.driver.maxResultSize", "16g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed web fetch: the buckets are written sorted by url
        # (one file per bucket); without this flag Spark ignores the
        # sortBy metadata and re-sorts the whole web side on every
        # round's sort-merge fetch join
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
