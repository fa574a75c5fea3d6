"""SparkSession bootstrap for the dedup engine.

The reference blocks until Elasticsearch answers
(py_image_dedup/persistence/elasticsearchstorebackend.py:43-46); here the
"store" is Spark itself, so bootstrap is just a tuned session builder.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "py-image-dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession with the engine's scale-oriented defaults.

    Defaults assume local mode for tests; on a real cluster the same conf
    block is passed to spark-submit. AQE stays on so skewed LSH-bucket
    shuffles get runtime re-planning on top of our explicit salting.
    """
    cores = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or int(cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # Parquet row-group size for everything this engine WRITES. Scans
        # parallelize at row-group granularity, so the default 128 MB row
        # groups make any table under cores*128MB un-parallelizable on
        # re-read (a 300 MB corpus written as 8 single-row-group files caps
        # every downstream narrow stage at 8 tasks — measured, see
        # OPTIMIZATION_r06.md). 16 MB keeps re-reads splittable at bench
        # scale at ~zero size cost; a 100 TB deployment that prefers bigger
        # row groups sets SPARK_GRAFT_PARQUET_BLOCK_BYTES (file COUNT is
        # unchanged either way — this is intra-file layout only).
        .config(
            "spark.hadoop.parquet.block.size",
            os.environ.get("SPARK_GRAFT_PARQUET_BLOCK_BYTES", str(16 << 20)),
        )
        # Don't hold task slots idle waiting for cache-block locality: with
        # multiple executors the scheduler would wait up to 3s per locality
        # level for the executor holding a persisted block, a stall a 1-exec
        # run never pays (everything is process-local there). Non-local reads
        # are a streamed block fetch — far cheaper than idling the slot.
        .config("spark.locality.wait", "0s")
        # Generated-code reuse across pipeline calls. A batch call compiles
        # ~183 whole-stage-codegen classes and a stream drain 127-142,
        # ~320 when both entry points share a JVM (daemon, tests). The
        # default cache holds 100, and an LRU cycled through a larger
        # working set never hits, so every warm call recompiled all of
        # them. With 2000 a warm batch call compiles 0-15 classes and a
        # stream drain 0-12. Static SQL conf: it applies only when this
        # builder creates the session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
