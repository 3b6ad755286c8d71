"""SparkSession factory with scale-aware defaults.

Single place for the AQE / shuffle / Arrow configuration the pipeline
assumes. On a real cluster the same builder is used via spark-submit
(master/memory come from the submit command, not from here).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

_GIB = 1 << 30
# free /dev/shm space below which local-mode shuffles go to disk instead.
# Peak spark.local.dir use measured on a 4-core host: 2.6 MB for
# jobs/extract.py over 1,000 synthetic pages, 34 MB for the whole test
# suite; 1 GiB leaves room for far larger inputs.
SHM_NEED = _GIB


def host_fit(phys: int, shm_free: int) -> tuple[str, str]:
    """Default ``(spark.driver.memory, spark.local.dir)`` for a host with
    ``phys`` bytes of RAM and ``shm_free`` bytes free in /dev/shm. The heap
    takes half the RAM, 1-16 GiB: in local mode the Python workers and the
    OS page cache need the rest. Shuffles go to /dev/shm unless it is
    missing or has less than ``SHM_NEED`` free; then to disk under the
    system temp dir."""
    heap = max(1, min(16, phys // 2 // _GIB))
    local_dir = (
        "/dev/shm/spark-local"
        if shm_free >= SHM_NEED
        else os.path.join(tempfile.gettempdir(), "spark-local")
    )
    return f"{heap}g", local_dir


def concurrently(spark: SparkSession, fns: Sequence[Callable[[], T]]) -> list[T]:
    """Run each zero-argument function in ``fns`` on its own thread; return
    their results in the given order. Each thread runs under the caller's
    job group, description and tags, so the Spark jobs it starts are
    grouped, described and cancelled with the caller's (a plain pool thread
    carries none of them). Each function is wrapped separately, so each
    thread gets its own copy of the local properties (Spark writes the SQL
    execution id into them). The first failure, in the given order, is
    re-raised once every function has finished."""
    with ThreadPoolExecutor(len(fns)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [f.result() for f in futures]


def _host_memory() -> tuple[int, int]:
    """(physical RAM, free /dev/shm) in bytes."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        st = os.statvfs("/dev/shm")
        shm_free = st.f_bavail * st.f_frsize
    except OSError:
        shm_free = 0
    return phys, shm_free


def build_session(
    app: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    driver_mem, local_dir = host_fit(*_host_memory())
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_mem))
        # local-mode shuffles go through spark.local.dir (the SPARK_LOCAL_DIRS
        # environment variable overrides it); tmpfs keeps the
        # shuffle-heavy stages (dedup, consistency join) CPU-bound instead of
        # disk-bound (a real cluster shuffles over NVMe/network per executor)
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", local_dir))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
