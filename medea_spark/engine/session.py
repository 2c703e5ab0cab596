"""SparkSession construction with scale-appropriate defaults.

Targets a multi-executor cluster; in the sandbox we run ``local[K]``.
The settings below are the ones that matter at 100 TB:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing);
* explicit shuffle-partition count (callers size it to the data);
* Arrow enabled for the pandas-UDF validation kernel with a bounded
  batch size so executor memory stays flat regardless of row width;
* a codegen cache that holds a session's whole working set of generated
  classes, so a query planned again compiles nothing (``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Capacity of Spark's JVM-wide cache of compiled generated classes
# (static ``spark.sql.codegen.cache.maxEntries``, default 100).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "medea-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``; on a real cluster the master comes
    from spark-submit and these local settings are ignored.

    The codegen cache is sized here because it is static and JVM-wide:
    the JVM reads ``spark.sql.codegen.cache.maxEntries`` once, when the
    first class is generated, and in local mode the driver's planning
    compile and every executor task share that one cache.  It is a Guava
    cache of 4 segments that each evict at capacity / 4: 1,000 entries
    give 250 per segment, twice the largest repeated working set
    measured even if all of it hashed to one segment.  Working sets of
    generated classes (compiles counted by ``CodegenMetrics``, 4 cores):

    * a ``census_checks`` pass plus its check: 100 classes (121 with the
      set-up); at the default 100 entries each warm pass recompiled 56;
    * a ``nightly_unique`` pass plus its check: 59 classes (70 with the
      set-up); 0 recompiled per warm pass at either size;
    * the tier-1 test session: 2,183 distinct classes, nearly all
      planned once; it compiles 3,224 times at 100 entries and 2,270
      times at 1,000.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * (cores or os.cpu_count() or 8), 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size instead of padding every
        # post-shuffle stage back up to defaultParallelism — the
        # setting Spark's SQL tuning guide recommends ("it's
        # recommended to set this config to false").  Small aggregate
        # exchanges coalesce to task counts matching their bytes;
        # explicit repartition(n) calls (the kernel-parallelism paths)
        # are REPARTITION_BY_NUM and never coalesced, so CPU-bound
        # kernel stages keep their width.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
