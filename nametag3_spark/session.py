"""SparkSession factory tuned for this engine.

Local mode here, but every config is chosen to also be correct on a
multi-executor cluster at 100 TB: AQE (runtime coalesce + skew-join
splitting), Arrow for pandas UDFs, UTC session timezone (so parquet
timestamps compare bit-identically against the DuckDB oracle), and
shuffle partitions sized to cores rather than the 200 default.

Small tables built on the driver (the gazetteer, the driver-CC map,
inline VALUES rows) go through ``local_frame``: an Arrow-backed
``LocalRelation`` that every plan scans in the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(ram_bytes: int) -> str:
    """``spark.driver.memory`` for a host with ``ram_bytes`` of physical
    RAM: 60% of it in whole MB, capped at 24g. Large hosts keep the 24g
    heap; a small one never promises the JVM more heap than the machine
    has, leaving room for the Python workers and the OS."""
    ram_mb = int(ram_bytes * 0.6) // (1024 * 1024)
    return f"{min(24 * 1024, ram_mb)}m"


def get_spark(
    app_name: str = "nametag3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan split size, parameterised (guide §6.1): the bench inputs
        # are a handful of single-file tables far below the 128m default,
        # so default splits collapse every scan to one task; 16m lets a
        # multi-row-group file (e.g. a larger driver-generated SF) scan
        # in parallel, and a single-row-group file still costs one task
        # either way (empty splits are free). At warehouse scale set
        # SPARK_GRAFT_MAX_PARTITION_BYTES to 256m-1g: there the input is
        # thousands of files and LARGER splits cut task-scheduling
        # overhead and the map-side shuffle block count (§2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # local_frame tables up to 1m stay LocalRelations (size stats for
        # the broadcast choice); larger ones, e.g. a driver-CC map of
        # 10^5+ nodes, become a JVM-side Arrow RDD decoded in parallel by
        # the scan's tasks. As a LocalRelation such a map is converted
        # and shipped to the tasks by the driver: a 250k-edge map's first
        # scan + aggregate took 4.1 s vs ~2 s as an Arrow RDD (local[4]).
        .config("spark.sql.execution.arrow.localRelationThreshold", "1m")
        # one model / tokenizer instance per reused Python worker
        # (reference shares model instances per checkpoint path,
        #  nametag3_server.py:437-444 — here: worker reuse + module cache)
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """DataFrame of driver-side ``rows`` (tuples in ``ddl`` column order).

    ``spark.createDataFrame(list, ddl)`` is a ``LogicalRDD`` over a
    PythonRDD: every plan execution that scans it starts Python workers
    to re-serialize the rows, and Catalyst sees no size estimate. The
    same rows as one Arrow table become a ``LocalRelation`` (decoded in
    the JVM, with real size stats; above
    ``spark.sql.execution.arrow.localRelationThreshold``, 1m in
    ``get_spark``, a JVM-side Arrow RDD), so a scan costs no Python
    task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)], schema=schema
    )
    return spark.createDataFrame(table, struct)
