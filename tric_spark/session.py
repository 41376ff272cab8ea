"""SparkSession builder with the physical-execution defaults this engine needs.

Mirrors the reference's runtime knobs (buffered communication, balanced
partitioning — graph.hpp:453–498, utils.hpp:101) with their Spark analogs:
AQE partition coalescing + skew-join splitting, Arrow-batched Python exchange,
and an explicit shuffle-partition count sized to the data.

It also sizes Spark's generated-code cache to the engine's plan set.
Whole-stage codegen compiles each distinct physical plan shape to a Java
class (Janino, then HotSpot's JIT), and Spark keeps compiled classes in an
LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
One ``run_pipeline`` pass generates about 176 distinct classes (the
``crawl_pipeline`` benchmark, 2,000 pages) and one ``cli.run --per-vertex``
66 (``rmat_tric``). At 100 entries every repeat pipeline pass in a JVM
recompiled 164–166 classes. Even the 66-class CLI pass recompiled 16–23 per
repeat pass in one of two seed-7 runs, and none in the other: the cache is
a Guava cache, which evicts per segment before it is full. The engine sets
``CODEGEN_CACHE_ENTRIES``, about 5× the largest count measured; a repeat
pass of either job then compiles none. The cache size is a static SQL conf:
it is read once, when the SparkContext starts, so it only takes effect on a
session ``get_spark`` starts, not on one it fetches.

``session_conf`` is the whole session conf as a dict; ``get_spark`` applies
it, so a job under spark-submit gets the same conf as a local run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_ENTRIES = 1000


def session_conf(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_spark`` builds its session with.

    ``cores`` pins ``spark.master`` to ``local[N]`` — used by the scaling
    benchmark to run the identical job at two parallelism levels (the
    sandbox stand-in for the N→4N-executor criterion). Without it
    ``SPARK_GRAFT_MASTER`` names the master, and without that no master is
    set, so the launcher's applies: spark-submit's ``--master``, or
    ``local[*]`` under plain ``python``. ``extra_conf`` overrides any default.
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    conf = {"spark.master": master} if master else {}
    conf.update({
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # AQE = the reference's balanced/batched communication, for free:
        # runtime partition coalescing ≈ buffered sends (utils.hpp:101),
        # skew-join splitting ≈ the -b balanced read (graph.hpp:503–614).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow-batched Python exchange — all Python kernels are vectorized
        # over Arrow batches, never per-row (north-rule invariant).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.shuffle.partitions": str(sp),
        # Runtime bloom-filter join pruning ≈ the reference's Bloom
        # pre-filters (hbufastric.hpp:270–314) — pre-filter only, always
        # confirmed exactly by the join, so counts stay exact.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # dims up to 32 MB broadcast instead of shuffling — vertex-stats /
        # adjacency tables of mid-size graphs ride this; size-gated so a
        # 100 TB adjacency still shuffles (AQE converts at runtime)
        "spark.sql.autoBroadcastJoinThreshold": "32m",
        # static: read when the SparkContext starts (module docstring)
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
    })
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "tric-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the link-graph workload,
    with ``session_conf(cores, shuffle_partitions, extra_conf)``."""
    spark = (
        SparkSession.builder.appName(app_name)
        .config(map=session_conf(cores, shuffle_partitions, extra_conf))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
