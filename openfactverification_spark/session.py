"""SparkSession factory tuned for this engine.

Local mode here is a stand-in for a multi-executor cluster: every config below is
cluster-meaningful (AQE, skew-join splitting, shuffle-partition sizing, Arrow batching),
not a local-mode hack.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


# The engine's machine-independent configs, shared by get_spark and the
# spark-submit entrypoint (scripts/job.py). Master, shuffle partitions and
# driver memory are per-deployment and stay in get_spark.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # A/B on the 2M-turn sink write (BENCH.md): zstd 2.3s/35MB vs snappy
    # 3.9s/45MB vs lz4 7.0s — faster AND ~22% smaller; at 100 TB the size
    # win also cuts scan IO for every downstream reader.
    "spark.sql.parquet.compression.codec": "zstd",
}


def get_spark(
    app_name: str = "openfactverification_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the pipeline's standard configs.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract); on a real
    cluster you'd pass ``yarn``/``k8s://...`` via spark-submit and these configs
    carry over unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; on a cluster AQE coalesces anyway
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)

    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config(map=extra_conf or {})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """The package's one way to turn driver-side Python rows into a DataFrame.

    The rows travel as an Arrow table typed by ``schema`` (a StructType or a
    DDL string), which Spark plans as a driver-local ``LocalTableScan``: no
    ``parallelize``, no ``PythonRDD`` and no Python worker when the frame is
    scanned or broadcast. ``spark.createDataFrame(rows, schema)`` would instead
    ship the rows through Python tasks on every action that reads them."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow, strict=True)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
