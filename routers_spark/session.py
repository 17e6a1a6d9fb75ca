"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests (local[*]), bench.py (local[8]/local[32])
and would be used unchanged under spark-submit on a real cluster — every
setting below is a cluster-safe default, not a local hack.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "routers_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on (runtime coalesce + skew-join splitting for dense urban cells).
    - Arrow on for pandas UDFs (every kernel in this repo is Arrow-batched).
    - Bounded Arrow batch size so wide candidate rows don't blow executor
      memory (the analog of the reference's rayon `with_min_len` chunking,
      libs/routers_transition/src/weigh/mod.rs:117-140).
    - On ``local`` masters, Python workers fork from
      ``routers_spark.worker_daemon``, which keeps pyspark.zip and the other
      archives off their import path (a fixed ~0.2 s per task otherwise).
      Local workers import ``routers_spark`` anyway: every UDF here is
      pickled by reference.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: match core count; a real cluster would size this to
        # 2-3x total executor cores via --conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # legacy arithmetic (silent 64-bit wrap) — the stable-hash kernels
        # (functions/hashing.py) rely on two's-complement wrapping multiply.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces to max(total/parallelism, minPartitionSize); the 1MB
        # default floor collapses small-bytes/expensive-per-row pandas-UDF
        # stages (per-trip Viterbi!) into one task. A small floor keeps
        # parallelismFirst meaningful; at cluster scale total/parallelism
        # >> 16k so behavior there is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master.startswith("local"):
        builder = builder.config("spark.python.daemon.module",
                                 "routers_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
