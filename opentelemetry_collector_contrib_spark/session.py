"""SparkSession factory with scale-aware defaults.

Defaults are chosen for the 100 TB design point and scaled down by env for
local testing:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's hand-tuned worker pools
  (internal/stanza/converter.go:155-174).
- Arrow on — the Python UDFs in this engine (source decoders, multimodal
  metadata) are vectorized pandas UDFs or ``mapInArrow`` (per
  BASELINE.json input_hint: "no per-row Python"); the pipeline's parse
  stage runs none.
- shuffle partitions sized from cores locally; on a real cluster this would
  be ~2-3x total executor cores (or left to AQE coalescing from a high
  initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """SPARK_DRIVER_MEM, else min(32g, half of physical RAM): a heap larger
    than the box never has to collect and gets the JVM OOM-killed."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "32g"
    return f"{min(32 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "otelcol-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2000 rows per Arrow batch instead of the previous 10000: on the
        # html-parse pandas UDF the pipeline used to run (~4 MB of html
        # per batch), interleaved 32-wide probes showed identical warm
        # throughput but a 3-7x better cold first pass (large batches
        # spike allocation on first materialization — 46 s vs 7 s worst
        # case); still thousands of rows per python invocation, so
        # whole-Series vectorization is intact for the remaining UDFs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        # Python workers import this package too, wherever the run starts
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
