"""Tuned SparkSession factory.

Single place where engine-wide Spark conf is decided so batch operators,
streaming jobs, tests, and bench all run with the same physical posture:

- AQE on (runtime coalescing, skew-join splitting) — the reference relies on
  Databricks to do this (SURVEY §4); OSS Spark gets it from these flags.
- Arrow on — every pandas UDF (audio decode, grouped interpolation) rides
  Arrow batches, never row pickling.
- UTC session timezone — required for oracle parity (DuckDB timestamps are
  UTC-naive) and mirrors the reference's from_utc_timestamp discipline
  (reference _time_series_query_builder.py:96-125).
- shuffle partitions sized to cores, not the 200 default: at 100 TB this is
  overridden per-job (target ~128-256 MB per shuffle partition); locally it
  must match local[N] parallelism or small queries over-schedule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "core_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` controls local[] parallelism; defaults to $SPARK_GRAFT_CPUS or 32.
    ``shuffle_partitions`` defaults to cores (local rule-of-thumb). On a real
    cluster, callers pass the cluster-appropriate value instead.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # glibc malloc tuning for the Python workers (they inherit the JVM's env,
    # which inherits ours — must be set BEFORE the JVM starts). The audio DSP
    # kernels churn 100s-of-KB numpy temporaries per clip; above glibc's
    # default 128 KB threshold each one is an mmap/munmap syscall pair, and
    # this host's kernel serializes concurrent mmap — measured 2.4x throughput
    # collapse at 28 workers. Raising the thresholds keeps big chunks in the
    # heap arena (steady-state reuse, no syscalls).
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "1073741824")

    # transformWithStateInPandas needs google.protobuf in the worker env;
    # when absent, an on-disk runtime is shimmed onto PYTHONPATH — which
    # must happen BEFORE the JVM starts so forked workers inherit it
    # (no-op on images with protobuf installed; see streaming/pbcompat.py)
    from .streaming.pbcompat import ensure_protobuf

    ensure_protobuf()

    # the heap can fill to this size, so the default must fit the host:
    # 20g, or a quarter of physical memory where that is smaller
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(20 * 1024, phys_mb // 4)}m")
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
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Fat-binary rows (audio clips ~35 KB) blow up the vectorized parquet
        # reader's per-task column vectors: 4096 rows x 35 KB = ~143 MB per
        # batch. Under G1 those are humongous allocations and concurrent scans
        # collapse (measured 1.4s @ 8 cores -> 13s @ 32 cores on a pure-JVM
        # scan). 512-row reader batches (~18 MB vectors) + throughput GC keep
        # the scan linear in cores (0.5s @ 32); narrow tables are unaffected.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # Heap pages are faulted in on demand, so a JVM is resident only
        # for the pages it touches. Xms=Xmx keeps the generation sizes, and
        # so GC timing, fixed; only page-fault timing depends on the load.
        # On a 4-vCPU / 15 GB host (perfbench, local[3], 1.5 GB heap), not
        # pre-touching cut the median peak RSS of ts_api from 2.04 GB to
        # 1.22 GB (-40%) and of clip_tumbling from 2.69 GB to 1.76 GB
        # (-35%), with throughput, step time and setup within noise.
        # Pre-touch paid off on a 32-core host whose kernel serialized
        # concurrent minor faults under 32 allocating task threads; such a
        # host adds HotSpot's pre-touch flag back through
        # extra_conf={"spark.driver.extraJavaOptions": ...}, which is
        # applied after these defaults.
        .config("spark.driver.extraJavaOptions", f"-XX:+UseParallelGC -Xms{heap}")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
