"""SparkSession helper with the engine's preferred configuration."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string

# Allocator settings for the Python workers (inherited via the JVM's
# environment, so they must be set before the gateway starts). Measured
# on local[32]: PyArrow's bundled jemalloc pool plus pymalloc arena
# churn caused mmap/munmap page-fault storms across 32 workers that
# inflated identical per-segment CPU time 5-15×; routing Arrow and
# CPython small objects through glibc malloc with trim/mmap disabled
# makes worker heaps reach steady state and removes the kernel-side
# contention entirely (index build: 46k → 250k turns/sec).
_WORKER_ALLOC_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "PYTHONMALLOC": "malloc",
    "MALLOC_MMAP_THRESHOLD_": "2147483647",
    "MALLOC_TRIM_THRESHOLD_": "2147483647",
    "MALLOC_ARENA_MAX": "1",
    "MALLOC_MMAP_MAX_": "0",
}


def get_spark(
    app: str = "bleve-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    for k, v in _WORKER_ALLOC_ENV.items():
        os.environ.setdefault(k, v)
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master.split("[")[-1].rstrip("]")
    try:
        ncores = int(cores) if cores != "*" else (os.cpu_count() or 8)
    except ValueError:
        ncores = 8
    sp = shuffle_partitions or max(ncores, 8)
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE (advisory), not down
        # to defaultParallelism: with the default parallelismFirst=true
        # every KB-sized reduce stage still launches `cores` tasks, and
        # task-launch overhead dominates small/medium stages (measured:
        # a 5k-doc term query ran 132 tasks; the whole headline suite
        # schedules ~7k). Size-based coalescing is the scale-correct
        # setting: at 100 TB the same advisory target yields thousands
        # of ~64 MB partitions, while cached index relations and
        # metadata shuffles collapse to a handful of tasks.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        # Let AQE (incl. the size-based coalescing above) apply INSIDE
        # persisted plans: off, a cached index relation keeps one
        # partition per map task of the build (measured 128 partitions
        # for a 10 MB postings cache — every term lookup then schedules
        # 128 scan tasks; with it on, the cache materializes at
        # ~advisory-sized partitions at any scale).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """A small DataFrame held in the plan itself: ``data`` (a
    ``pyarrow.Table`` or a dict of column → values) goes to the JVM as
    Arrow and becomes a LocalRelation. Collecting, joining or
    broadcasting it starts no Python worker and no Spark job — unlike
    ``createDataFrame(<list>)``, whose rows are parallelized through
    Python workers. ``schema`` is a StructType or a DDL string; the
    data's columns must come in its order."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(data, pa.Table):
        data = pa.table({f.name: data[f.name] for f in schema.fields})
    return spark.createDataFrame(data, schema)
