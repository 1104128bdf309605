"""SparkSession factory with scale-aware defaults.

Single place for the AQE / shuffle / Arrow configuration the pipeline
assumes. On a real cluster the same builder is used via spark-submit
(master/memory come from the submit command, not from here).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the local driver heap: half the host's RAM (the Python workers, the
# page cache and a tmpfs shuffle dir share the rest), 1g to 16g
MAX_DRIVER_MB = 16 * 1024
# shuffles go to RAM-backed /dev/shm only while it has this much room free
# (containers often mount a 64 MB one)
MIN_SHM_FREE_BYTES = 2 << 30


def default_driver_memory(mem_total_bytes: int) -> str:
    """Spark ``driver.memory`` for a host with ``mem_total_bytes`` of RAM."""
    return f"{max(1024, min(MAX_DRIVER_MB, mem_total_bytes >> 21))}m"


def default_local_dir(shm: str = "/dev/shm") -> str:
    """``spark.local.dir``: tmpfs when it has room, else the temp dir."""
    try:
        if shutil.disk_usage(shm).free >= MIN_SHM_FREE_BYTES:
            return os.path.join(shm, "spark-local")
    except OSError:
        pass
    return os.path.join(tempfile.gettempdir(), "spark-local")


def build_session(
    app: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        # AQE: runtime coalescing + skew-join splitting (giant repos/pages)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batches feed the parse/typing UDFs; bigger batches amortize
        # the per-batch Python overhead (measured: 2048→8192 ≈ -13% on the
        # 20k-page pipeline). The cap is ROWS not bytes — 4096 keeps a batch
        # of pathological multi-hundred-KB pages within worker memory while
        # taking most of the win on normal 0.5–5 KB pages.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # prune unused nested parse-feature fields out of physical plans
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Spark 4's per-operation Python call-site capture wraps EVERY
        # Column/DataFrame call with getActiveSession + conf.get + a JVM
        # origin set/clear — profiled at ~40% of the driver-side expression
        # construction time for the big extractor plans (fused_quads alone
        # is ~14k py4j round trips; 1.7 s → 0.9 s with this off). The cost
        # is losing user-code line numbers in error messages — acceptable
        # for a production engine; flip it back on when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")))
        # local-mode shuffles go through spark.local.dir; tmpfs keeps the
        # shuffle-heavy stages (dedup, consistency join) CPU-bound instead of
        # disk-bound (a real cluster shuffles over NVMe/network per executor)
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR") or default_local_dir())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
