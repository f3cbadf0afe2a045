"""SparkSession factory with engine defaults.

Tuned for the extraction workload (SURVEY.md §4): AQE on (runtime
coalesce + skew-join splitting), Arrow batches capped small because the
`html` column carries fat binary rows (admission cap is 100 MB per row --
fetch.go:21 -- so a default 10k-row Arrow batch could be ~1 TB; 64-256
rows keeps a batch under executor memory at the cap while still amortizing
UDF overhead on typical pages).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name="sift-spark",
    cores=None,
    shuffle_partitions=None,
    extra_conf=None,
):
    master = f"local[{cores}]" if cores else "local[*]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # local mode runs driver+executor in ONE JVM whose heap defaults to
    # 1g regardless of box size -- a quadratic-ish stage (e.g. the
    # all-pairs jaccard fallback at sf0.1) dies on OOM long before the
    # machine is stressed. 8g measured best on this box: 1g OOMs the
    # heavy joins, 48g is 3-5x SLOWER on the whole suite (GC pathology
    # on the big heap) and 2.3x slower on the heavy join itself. Must be
    # set before the JVM launches; ignored by getOrCreate on a live
    # context.
    driver_mem = os.environ.get("SIFT_SPARK_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is bytes-blind: with the default 1 MB floor it
        # collapses small-but-CPU-heavy shuffle stages (per-chunk BM25
        # array folds, the grouped selection kernel -- a few MB of text
        # driving seconds of per-row work) to 2-10 tasks on a 32-core
        # box. A 64 KB floor restores parallelism for exactly those
        # stages and is scale-neutral: at production shuffle sizes
        # partitions are far above either floor, so the knob never
        # engages there (parallelismFirst sizing still applies).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
