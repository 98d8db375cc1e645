"""SparkSession factory with scale-oriented defaults, and ``local_frame``,
which builds small driver-side frames without starting a Python worker.

Defaults chosen for the 100 TB design point (AQE on, skew-join on,
partition coalescing on) while staying correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "wayproblems-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    ``None`` always becomes a ``local[...]`` master, so a cluster job
    builds its session with the bare builder under spark-submit instead.

    The driver JVM starts with ``-XX:CICompilerCount=2``: one C1 and one
    C2 compiler thread, where HotSpot's default on 4 CPUs is one C1 and
    two C2. Most of a short job's CPU goes to the JIT compiling Spark's
    own code (Catalyst, Janino, serialization), most of it in C2; with
    one C2 thread it compiles less while the job runs. Measured on
    ``local[4]`` (4 vCPUs), over the benchmark's cold validation job:
    42.3 → 33.7 CPU-s (medians of 10 fresh-JVM pairs), its wall time
    unchanged. The option goes in ``spark.driver.defaultJavaOptions``,
    which Spark places before ``spark.driver.extraJavaOptions`` (a later
    ``-XX:CICompilerCount`` there wins); an ``extra_conf`` value for that
    key replaces it. Executors on a cluster keep HotSpot's default.

    Spark's cache of generated classes holds 1,000 entries instead of its
    default 100 (a Guava LRU in 4 segments, so ~25 per segment). A warm
    streaming-dedup micro-batch (``streaming.dedup_stream``) compiles
    about 80 classes when it starts from an empty cache; under the
    default it evicted and recompiled 17–27 of them on every batch,
    though none was new (``local[4]``, batches of 40 documents).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas UDF / mapInArrow boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp rendering regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # one C2 compiler thread (docstring): JIT work dominates job CPU
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        # keep a stream batch's generated classes between batches (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in field order, or
    a ``pyarrow.Table`` in field order), typed by ``schema`` (a DDL
    string or a StructType).

    The rows travel as one Arrow table, which Spark plans as a
    ``LocalRelation`` for any number of rows, zero included, so running
    the frame starts no Python worker. A row-list ``createDataFrame``
    plans a pickled Python RDD instead, and its first job starts a
    second Python worker pool beside the one the pandas UDFs use.
    Build every small driver-side lookup frame through this helper.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(struct)
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, struct)
