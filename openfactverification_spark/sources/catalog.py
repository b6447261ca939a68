"""Table-format adapter: Iceberg when a catalog is configured, parquet otherwise.

The production shape (BASELINE.json north_star) is an Iceberg table partitioned
`days(ts), bucket(conv_id)` with snapshot-id lineage; this container has no
Iceberg runtime jar, so the adapter keeps one code path for callers and picks
the format by what the session can see:

  * read: catalog-qualified names (`cat.db.transcripts`) -> `spark.read.table`;
    anything else -> parquet path.
  * write: `writeTo(...).overwritePartitions()` (Iceberg idempotent partition
    commit) when the target is a table name; dynamic-overwrite parquet
    partitionBy otherwise (the exact stand-in checkpoint.py uses), both
    laid out by operators/route.stage_sinks.
  * lineage: Iceberg `table.snapshots` current id when available; else a
    content fingerprint the caller supplies.
"""

from __future__ import annotations

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route as route_ops


_FILE_EXTENSIONS = ("parquet", "json", "csv", "orc", "avro", "txt", "tsv")


def is_table_name(target: str) -> bool:
    """Catalog tables must be dot-qualified (`db.table` / `cat.db.table`);
    bare single tokens are treated as (relative) paths — safer for local use,
    and production callers always qualify their catalog. A dotted token whose
    last segment is a known file extension (``data.parquet``) is a path, not a
    table."""
    import re

    if not re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)+", target):
        return False
    return target.rsplit(".", 1)[1].lower() not in _FILE_EXTENSIONS


_READERS = {
    "parquet": lambda r, p: r.parquet(p),
    "orc": lambda r, p: r.orc(p),
    "json": lambda r, p: r.json(p),
    "csv": lambda r, p: r.option("header", "true").option("inferSchema", "true").csv(p),
}


def read_transcripts(spark: SparkSession, target: str) -> DataFrame:
    """Catalog table, or a path in any supported format (chosen by extension;
    directories of part-files keep their format suffix on the directory name
    or default to parquet)."""
    if is_table_name(target):
        return spark.read.table(target)
    ext = target.rstrip("/").rsplit(".", 1)[-1].lower()
    reader = _READERS.get(ext, _READERS["parquet"])
    return reader(spark.read, target)


def write_bucketed_transcripts(
    df: DataFrame, table_name: str, buckets: int = 16, path: str | None = None
) -> None:
    """Persist transcripts as a BUCKETED table on conv_id (sorted by
    (conv_id, turn_idx)) — the native-Spark expression of the Iceberg spec's
    `bucket(conv_id)` half. A bucketed scan exposes HashPartitioning(conv_id),
    so per-conversation aggregations and conv-co-located joins run with NO
    exchange: at 100 TB this removes the one wide shuffle the pipeline's
    turn-order window would otherwise pay on every run — you pay the shuffle
    once at ingest, not per query (plan-shape proof: tests/test_catalog.py)."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_routed(routed: DataFrame, target: str) -> None:
    """Idempotent partitioned sink commit, format chosen by target kind; the
    layout is the batch sink's (route.stage_sinks)."""
    df = route_ops.stage_sinks(routed)
    if is_table_name(target):
        # Iceberg path: partition spec lives on the table (days(ts),
        # bucket(conv_id)); overwritePartitions replaces exactly the partitions
        # present in df — the exactly-once primitive checkpoint.py emulates.
        df.writeTo(target).overwritePartitions()
        return
    (
        df.write.mode("overwrite")
        .partitionBy(*route_ops.PARTITION_COLS)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(target)
    )


def current_lineage(spark: SparkSession, target: str, fallback: str = "") -> str:
    """Iceberg snapshot-id when the metadata table exists; SnapLog snapshot-id
    when the path is a snapshot-log table (sources/snaplog.py — the
    from-scratch format standing in for the blocked Iceberg runtime); caller
    fingerprint otherwise. A table name without a snapshots table is logged;
    any other error propagates."""
    if is_table_name(target):
        try:
            row = (
                spark.read.table(f"{target}.snapshots")
                .orderBy(F.desc("committed_at"))
                .select("snapshot_id")
                .first()
            )
            if row:
                return f"iceberg-snapshot:{row['snapshot_id']}"
        except AnalysisException as e:
            msg = "no Iceberg snapshots table for %s (%s): lineage is the fallback"
            logging.getLogger(__name__).warning(msg, target, e.getCondition())
    else:
        from . import snaplog

        if snaplog.is_snaplog_table(spark, target):
            sid = snaplog.current_snapshot_id(spark, target)
            if sid:
                return f"snaplog-snapshot:{sid}"
    return fallback
