"""SparkSession factory tuned for the KG-construction workload.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
  * AQE on: runtime join-strategy switches, partition coalescing and
    skew-join splitting replace hand-tuned shuffle counts at scale.
  * ``spark.sql.shuffle.partitions`` defaults to a small-local value but
    is env-overridable; on a real cluster AQE coalesces from a high
    initial count, so we set initialPartitionNum high and let AQE shrink.
  * Arrow enabled for every pandas UDF path (extraction, trie matching,
    scorers) — the reference's thread-pool compute (its
    ``TverskiTermSimilarityRanker`` fixed pool) becomes Arrow-batched
    partition parallelism.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "sifr-kg-spark"


def _default_driver_mem(master: str) -> str:
    """Heap default for ``spark.driver.memory``.

    In local mode the driver JVM hosts every executor thread, so the
    heap must scale with the thread count like executor memory would on
    a cluster (guide §5: an undersized heap turns the whole run into
    GC) — ~0.75 GiB per thread, never below the old 8g default, capped
    at half of physical RAM so small boxes still start. For non-local
    masters the driver only plans and collects; 8g stays right and
    executor sizing belongs to the cluster manager.
    """
    # local, local[N], local[*] and the retry form local[N,F] / local[*,F]
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\d+)?\]", master)
    if master != "local" and not m:
        return "8g"
    if m is None or m.group(1) == "*":
        threads = os.cpu_count() or 8
    else:
        threads = int(m.group(1))
    gb = max(8, math.ceil(threads * 0.75))
    try:
        phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    except (ValueError, OSError, AttributeError):
        return f"{gb}g"  # RAM unknown: keep the thread-scaled heap
    return f"{min(gb, max(8, int(phys_gib / 2)))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    All settings are plain Spark confs — nothing cluster-manager
    specific, so the same code runs under spark-submit on YARN/K8s.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # start high, let AQE coalesce — right default for both local[32]
        # and a 1000-executor cluster (where this would be ~2-3x cores).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow / pandas-UDF path -------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Scan sizing --------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Quieter local runs ------------------------------------------
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(master),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
