"""SparkSession construction with scale-appropriate defaults.

Settings chosen for the 100 TB design point (and harmless locally):
AQE on (runtime re-plan + skew-join splitting for the heavy-tail host
distribution of real crawl frontiers), Arrow transport for the
vectorized UDF stages, shuffle partitions sized to cores locally —
on a real cluster raise spark.sql.shuffle.partitions to ~2-3× total
cores and let AQE coalesce.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def build_session(app_name: str = "gleaner-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 512
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: str | StructType) -> DataFrame:
    """A small driver-side relation (rows of Python values, DDL or
    StructType schema) as an Arrow ``LocalRelation``.

    ``createDataFrame(<list>)`` is ``parallelize``-backed, so every scan
    of it — a broadcast-join side included — runs Python tasks in
    workers that never import this package. A pandas frame takes that
    same path when it is empty or Arrow is off. A pyarrow Table takes
    the Arrow path in every case: the rows live in the plan, and
    scanning or broadcasting them runs JVM tasks only."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
