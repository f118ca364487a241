"""SparkSession factory tuned for this engine.

Local mode is a single JVM; the same settings (AQE, sensible shuffle
partition counts, Arrow transfers) are what we would ship to a real
multi-executor cluster via spark-submit --py-files.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _host_cores() -> int:
    """Cores this process may run on (its CPU affinity set, which a
    container or taskset narrows below the machine's CPU count)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        return os.cpu_count() or 1


def _host_driver_memory() -> str:
    """Half of physical memory in whole gigabytes, at least 1g and at
    most 24g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2 // 2**30))}g"


def get_spark(
    app_name: str = "xpshacl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults fit the host: local[<cores this process may use>] and half
    of physical memory (capped at 24g) as the driver heap.
    Env overrides: SPARK_GRAFT_CPUS (core count for local[N]),
    SPARK_GRAFT_MASTER, SPARK_GRAFT_DRIVER_MEM.

    PySpark's call-site capture is off
    (spark.python.sql.dataFrameDebugging.enabled=false). With it on,
    every Column method (.alias, .cast, ==, &, ...) walks the Python
    stack and makes several extra JVM round trips, only to add a
    call-site line to runtime error messages. The engine generates its
    plans, so that line would always point into the compiler; with the
    capture off, building the transcript suite's plan takes less than
    half the py4j round trips.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or _host_cores()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode instead of the 200 default;
        # on a real cluster this would be sized to input bytes / target
        # partition size and AQE coalescing handles the rest.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    driver_memory = (
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _host_driver_memory()
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Scan splits. A table here is a directory of parquet files,
        # each one row group of a few MB, plus the odd tiny file.
        # Spark packs files into scan tasks at a split size of
        # (bytes + files x open cost) / cores, but adds a file to the
        # open task when the file alone fits, without its open cost.
        # At the 4 MB default open cost, a few small files inflate the
        # split size so much that two big files share each task and
        # half the cores idle through every scan. A 128k open cost
        # counts a small file as about what it costs to open, so each
        # big file gets a task of its own. The 16m split size caps a
        # task at a few row groups; a production table of large files
        # may want larger splits (SPARK_GRAFT_MAX_PARTITION_BYTES).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.files.openCostInBytes", "128k")
        # keep catalog-table data out of the launch directory (bucketed
        # tables pass explicit external paths; this covers any default),
        # per-process so concurrent sessions' managed tables never
        # clobber each other's files
        .config("spark.sql.warehouse.dir", f"/tmp/xpshacl_warehouse_{os.getpid()}")
    )
    # Executor-fidelity knob: SPARK_GRAFT_PROC_CPUS=<k> declares the
    # JVM's core budget (-XX:ActiveProcessorCount), sizing GC/JIT/common
    # pools to k instead of the machine's visible CPU count. A real
    # cluster executor JVM is launched knowing the cores it owns; a
    # local[1] "executor analog" that silently sizes ~23 GC threads to
    # 32 visible CPUs is NOT one executor — with several such JVMs
    # concurrent, their service-thread storms collide (measured in
    # BENCH.md's process-protocol runs). Opt-in via env so normal
    # local[N] sessions are unaffected.
    proc_cpus = os.environ.get("SPARK_GRAFT_PROC_CPUS")
    if proc_cpus:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={int(proc_cpus)}",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _rebuilds_map(dt: T.DataType) -> bool:
    """Whether `dt` holds a map whose key or value is a timestamp or a
    nested type. PySpark's Arrow input path rebuilds such a map, and
    with pyarrow < 17 the rebuild turns a NULL map into an empty one."""
    if isinstance(dt, T.MapType):
        return any(
            isinstance(t, (T.TimestampType, T.ArrayType, T.MapType, T.StructType))
            for t in (dt.keyType, dt.valueType)
        )
    if isinstance(dt, T.ArrayType):
        return _rebuilds_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_rebuilds_map(f.dataType) for f in dt.fields)
    return False


def local_relation(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """Rows the driver already holds as a relation: one tuple per row,
    values in `schema`'s field order; `schema` is a StructType or a DDL
    string.

    The rows go to the JVM as one Arrow table, so a small relation
    plans as a `LocalRelation`: collecting, joining or broadcasting it
    starts no Spark job and no Python worker. A row list handed to
    `createDataFrame` would instead become a parallelized Python RDD
    whose first action starts the Python daemon and one task per core.
    Tables above `spark.sql.execution.arrow.localRelationThreshold` are
    still decoded in the JVM, never pickled."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    n = len(schema.fields)
    if any(len(r) != n for r in rows):
        raise ValueError(f"every row needs {n} values, one per field of {schema}")
    rebuilt = [f.name for f in schema.fields if _rebuilds_map(f.dataType)]
    if rebuilt:
        raise TypeError(
            f"fields {rebuilt} hold a map of timestamps or nested values, "
            "whose NULLs the Arrow path does not keep"
        )
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * n
    arrays = []
    for values, f, af in zip(columns, schema.fields, arrow_schema):
        if not f.nullable and any(v is None for v in values):
            raise ValueError(f"field {f.name!r} is not nullable, but got None")
        if f.dataType.needConversion():
            # Spark's internal form, as the row-list path builds it: a
            # naive datetime is local time, where Arrow would read UTC
            values = [f.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
