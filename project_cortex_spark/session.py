"""SparkSession factory tuned for the engine.

Local mode is used for tests/bench; the config block is written so the
same settings scale to a real cluster: AQE on (runtime coalesce, skew
join splitting, broadcast conversion), shuffle partitions sized to the
environment, Arrow enabled for the few pandas-UDF operators, UTC session
timezone so results hash-match the DuckDB oracle.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "project_cortex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At 100 TB the same knobs matter, with different values supplied by the
    cluster manager: ``spark.sql.shuffle.partitions`` should be ~2-3x total
    executor cores, ``spark.sql.files.maxPartitionBytes`` stays 128-256 MB
    so each scan task fits comfortably in executor memory, and AQE handles
    post-shuffle coalescing plus skew-join splitting at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata timestamps are naive (no UTC adjustment); read them as
        # TimestampType in the UTC session so values match the DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # older testdata wrote TIMESTAMP(NANOS); read as long then the
        # registry converts to TimestampType (micros) via `div 1000`
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A small driver-built frame that plans as a ``LocalRelation``.

    ``schema`` is a ``StructType``, a DDL string, or a list of column
    names (types then inferred by Arrow from non-empty ``rows``: int ->
    bigint, str -> string, float -> double, as ``createDataFrame`` infers
    them from Python values). The rows go through a ``pyarrow.Table``, which Spark turns
    into a ``LocalRelation`` whatever the Arrow setting (up to
    ``spark.sql.execution.arrow.localRelationThreshold``).
    ``createDataFrame(<python list>)`` instead plans as a ``LogicalRDD``
    that is parallelized again on every execution. Medians of 12
    interleaved runs on 4 cores, for a 29-row frame: 18 ms vs 203 ms per
    collect, 91 ms vs 251 ms as a broadcast side, 69 ms vs 347 ms under
    an ``orderBy``.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    cols = list(zip(*rows))
    if isinstance(schema, StructType):
        arrow = to_arrow_schema(schema)
        cols = cols or [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    else:
        table = pa.Table.from_arrays([pa.array(c) for c in cols], names=list(schema))
    return spark.createDataFrame(table, schema)
