"""SparkSession factory tuned for the KG-construction workload.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting for
  hot domains/entities (north_rule requirement), dynamic join strategy.
- Arrow enabled for all pandas-UDF stages (the only Python workers in the
  hot path). Driver-built tables go through `local_frame`, which ships them
  to the JVM as Arrow and plans them as a `LocalRelation`, so scanning or
  broadcasting one never starts a Python worker.
- `spark.sql.shuffle.partitions` sized by caller (cores*4 locally; on a real
  cluster this is ~2-3x total cores and AQE coalesces down).
- Nested schema pruning stays on (default) so struct-typed mention columns
  prune at the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def get_spark(
    app_name: str = "ocds-entity-extract-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N*2 shuffle partitions; AQE coalesces small ones.
        n = cpus if "local" not in master or "*" in master else _local_n(master, cpus)
        shuffle_partitions = max(8, n * 2)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE, not up to defaultParallelism:
        # the KG graph stages (linking/CC) move KBs — without this every
        # tiny shuffle runs `cores` tasks and scheduling overhead dominates
        # (inverted scaling local[8] -> local[32] measured before the fix).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (incl. partition coalescing) under .cache() — off
        # by default, which silently pins cached subtrees (mention/signature
        # caches) to the raw shuffle-partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # throughput GC: the KG stages are allocation-heavy (explode + string
        # normalization + columnar cache build); G1's concurrent machinery
        # contends badly at 32 executor threads in one JVM (measured ~1.5-2x
        # slower than ParallelGC on the cache-build phases).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_n(master: str, default: int) -> int:
    try:
        return int(master.split("[", 1)[1].rstrip("]"))
    except (IndexError, ValueError):
        return default


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-side rows -> a DataFrame planned as a JVM `LocalRelation`.

    `spark.createDataFrame(<list>)` plans as a Python RDD scan
    (parallelize -> mapPartitions), so every scan of it, and every
    broadcast of it, runs one Python-worker task per partition. Shipped as
    a `pyarrow.Table` instead, a table under
    `spark.sql.execution.arrow.localRelationThreshold` becomes a
    `LocalRelation`: JVM-only, with exact size statistics.

    `schema` is a DDL string or a StructType. Timestamps follow the list
    path's reading: a naive datetime is local time, an aware one is
    converted to UTC.
    """
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            values = [
                None if v is None else v.astimezone(dt.timezone.utc)
                for v in values
            ]
        arrays.append(pa.array(list(values), type=arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
