"""SparkSession helper with the engine's preferred configuration."""

from __future__ import annotations

import os
import threading

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import (
    _check_arrow_table_timestamps_localize,
    to_arrow_schema,
)
from pyspark.sql.types import StructType, _parse_datatype_string

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


class LocalFrame(DataFrame):
    """A small DataFrame that stays on the driver until Spark needs it.

    It holds its rows as an Arrow table — for a resident answer, the
    ``hits`` (:class:`bleve_spark.search.resident.Hits`) and a row
    selection, turned into a table on first read. ``collect``,
    ``count``, ``toArrow``/``toPandas``, ``schema`` and ``columns``
    always answer from that table, with no Spark job: the JVM relation
    holds the same immutable rows. The first access to ``_jdf`` —
    which every JVM operation makes (select, join, ``F.broadcast``,
    persist, mapInArrow, ``queryExecution``) — ships the table to the
    JVM once, under a lock, through ``createDataFrame(table, schema)``.

    Both lazy properties turn an ``AttributeError`` raised while they
    build into a ``RuntimeError``: the classic ``__getattr__`` would
    otherwise report it as a missing column attribute."""

    # the classic __new__ runs __init__(jdf, session): there is no jdf
    # yet, so construction goes straight to the __init__ below
    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, schema: StructType,
                 table: pa.Table | None = None, *, hits=None, rows=None):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self.schema = schema
        self.hits = hits
        self._rows = rows
        self._table = table
        self._relation = None
        self._lock = threading.RLock()

    @property
    def table(self) -> pa.Table:
        """The rows, as given (a resident answer's: built on first
        read)."""
        if self._table is None:
            with self._lock:
                if self._table is None:
                    try:
                        self._table = self.hits.table(self._rows)
                    except AttributeError as e:
                        raise RuntimeError(
                            f"building the rows of a LocalFrame: {e}"
                        ) from e
        return self._table

    @property
    def materialized(self) -> bool:
        """Whether the JVM relation has been built."""
        return self._relation is not None

    @property
    def _jdf(self):
        if self._relation is None:
            with self._lock:
                if self._relation is None:
                    try:
                        self._relation = self._session.createDataFrame(
                            self.table, self.schema)._jdf
                    except AttributeError as e:
                        raise RuntimeError(
                            f"building the JVM relation of a LocalFrame: {e}"
                        ) from e
        return self._relation

    def _arrow(self) -> pa.Table:
        """The rows as the JVM relation holds them: cast to the
        schema's Arrow types, naive timestamps read in the session
        time zone (as ``createDataFrame`` does)."""
        t = self.table
        if any(pa.types.is_nested(f.type) or pa.types.is_timestamp(f.type)
               for f in t.schema):
            t = _check_arrow_table_timestamps_localize(
                t, self.schema, True,
                self._session._jconf.sessionLocalTimeZone())
        return t.cast(to_arrow_schema(
            self.schema, error_on_duplicated_field_names_in_struct=True))

    def collect(self):
        return ArrowTableToRowsConversion.convert(self._arrow(), self.schema)

    def count(self) -> int:
        return self.table.num_rows

    def _collect_as_arrow(self, split_batches: bool = False,
                          empty_list_if_zero_records: bool = True):
        # toArrow / toPandas read their batches here
        t = self._arrow()
        if t.num_rows:
            return t.to_batches()
        if empty_list_if_zero_records:
            return []
        return [pa.RecordBatch.from_pylist([], schema=t.schema)]

    def unpersist(self, blocking: bool = False) -> DataFrame:
        if self._relation is None:
            return self
        return super().unpersist(blocking)


def local_frame(spark: SparkSession, data, schema) -> LocalFrame:
    """A small DataFrame held on the driver (:class:`LocalFrame`):
    ``data`` is a ``pyarrow.Table`` or a dict of column → values, in
    the column order of ``schema`` (a StructType or a DDL string).
    Reading it back starts nothing; a JVM operation on it makes it a
    LocalRelation, so collecting, joining or broadcasting it starts no
    Python worker and no Spark job — unlike ``createDataFrame(<list>)``,
    whose rows are parallelized through Python workers."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(data, pa.Table):
        data = pa.table({f.name: data[f.name] for f in schema.fields})
    return LocalFrame(spark, schema, data)
