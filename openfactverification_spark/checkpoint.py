"""Checkpointed, resumable pipeline runs with per-partition lineage + metrics.

North-rule obligation (SURVEY.md §4 custom-work items 2-3): the pipeline must be
resumable from per-partition checkpoints that record source lineage and
parse/route/agg metrics, with exactly-once per-sink counts across resume.

Design (batch analog of streaming state, SURVEY.md §2.9 note):

  * The run is split into **epochs** = one day of ``date(ts)``, the ``ts_day``
    half of the batch sink layout (operators/route.stage_sinks partitions
    every sink by (route, ts_day) — the days(ts) part of the Iceberg partition
    spec in BASELINE.json's north_star; parquet `partitionBy` is the sandbox
    stand-in, `overwritePartitions` on Iceberg is the production path). An
    epoch's write therefore touches exactly its own day partitions.
  * A **manifest** directory holds one JSON file per committed epoch:
    ``{epoch, lineage, metrics{parsed_records, routed_per_sink}, schema_version}``.
    The file is published ONLY after the epoch's sink write fully commits, so
    the manifest is the commit log, for both sink formats. One exclusive-create
    file per epoch (sources/snaplog._Fs, the Hadoop FileSystem I/O the
    snapshot log uses) = no read-modify-write races, and any Hadoop-supported
    ``out_dir`` (file://, hdfs://, s3a://) works.
  * **Resume** = ``left_anti`` join of the input's epochs against the manifest's
    committed epochs (SURVEY.md §2.4 note: anti join as resumability primitive).
  * **Idempotence**: sinks are written with dynamic partition overwrite keyed by
    (route, ts_day); re-processing a crashed epoch overwrites its partial output
    instead of duplicating it, so per-sink counts are exact across resume.
  * **Metrics** ride the sink write itself: an ``Observation`` of per-route
    counts on the written frame (the A5 usage-accounting analog,
    /root/reference/factcheck/utils/llmclient/gpt_client.py:36-41) — no
    persist, no second pass.

At cluster scale each epoch's write is a partition-pruned scan (the day
filter reaches the source) and the manifest stays tiny (one small JSON per day).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import route as route_ops
from .plans.pipeline import build_pipeline
from .rulepack import DEFAULT_PACK, RulePack
from .session import local_frame
from .sources import snaplog

SCHEMA_VERSION = 1


@dataclass
class EpochResult:
    epoch: str
    parsed_records: int
    routed_per_sink: dict[str, int]


def _manifest_fs(out_dir: str, spark: SparkSession | None) -> snaplog._Fs:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("epoch manifest I/O needs an active SparkSession")
    return snaplog._Fs(spark, out_dir.rstrip("/") + "/_manifest")


def committed_epochs(out_dir: str, spark: SparkSession | None = None) -> dict[str, dict]:
    """Read the manifest: epoch -> committed entry (Hadoop FS of ``spark`` or
    the active session)."""
    fs = _manifest_fs(out_dir, spark)
    names = [n for n in fs.list_names(fs.path()) if n.endswith(".json")]
    entries = (fs.read_json(fs.path(n)) for n in names)
    return {e["epoch"]: e for e in entries}


def _commit_epoch(out_dir: str, entry: dict, spark: SparkSession) -> None:
    """Publish the epoch's manifest entry whole (tmp file + exclusive create).
    An existing entry means another writer committed this epoch under us — a
    broken single-writer assumption, so fail rather than overwrite it."""
    fs = _manifest_fs(out_dir, spark)
    if not fs.create_exclusive(fs.path(f"{entry['epoch']}.json"), entry):
        raise RuntimeError(f"epoch {entry['epoch']} already committed in {out_dir}")


def pending_epochs(spark: SparkSession, transcripts: DataFrame, out_dir: str) -> list[str]:
    """Epochs present in the input but absent from the manifest (left_anti)."""
    input_epochs = transcripts.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("epoch")
    ).distinct()
    done = list(committed_epochs(out_dir, spark))
    if done:
        done_df = local_frame(spark, [(e,) for e in done], "epoch string")
        input_epochs = input_epochs.join(done_df, "epoch", "left_anti")
    return sorted(r["epoch"] for r in input_epochs.collect())


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    lineage: str = "",
    fail_after_epochs: int | None = None,
    fail_mid_epoch: bool = False,
    pack: RulePack = DEFAULT_PACK,
    sink_format: str = "parquet",
) -> list[EpochResult]:
    """Process all not-yet-committed epochs; safe to re-invoke after a crash.

    ``fail_after_epochs`` injects a crash after N epoch commits, before the
    next epoch starts; ``fail_mid_epoch`` crashes AFTER the sink write but
    BEFORE the manifest commit of the (fail_after_epochs+1)-th epoch — the
    partial-state case resume must repair idempotently (tests only).
    ``lineage`` identifies the input version (Iceberg snapshot-id in
    production; a SnapLog snapshot-id via catalog.current_lineage; any
    caller-supplied fingerprint here). The parser rule-pack identity
    (``name@version``) is recorded in every epoch's manifest entry, so a run
    is auditable down to the segmentation rules it used.

    ``sink_format="snaplog"`` commits each epoch's routed rows to a SnapLog
    table at ``{out_dir}/sinks`` via ``overwrite_partitions`` — the atomic,
    versioned partition commit the north star names (Iceberg
    ``overwritePartitions``), implemented from scratch in sources/snaplog.py
    because the Iceberg jar cannot enter this container. Each manifest entry
    then records the SINK snapshot id it produced, so lineage is end-to-end:
    input snapshot -> epoch -> output snapshot. Replaying a crashed epoch
    re-overwrites exactly its (route, ts_day) partitions — same idempotence
    as the parquet dynamic-overwrite path, but the swap is one atomic log
    append instead of a directory mutation.
    """
    if sink_format not in ("parquet", "snaplog"):
        raise ValueError(f"unknown sink_format {sink_format!r}")
    todo = pending_epochs(spark, transcripts, out_dir)
    results: list[EpochResult] = []

    sinks = os.path.join(out_dir, "sinks")
    for i, epoch in enumerate(todo):
        if fail_after_epochs is not None and not fail_mid_epoch and i >= fail_after_epochs:
            raise RuntimeError(f"injected failure before epoch {epoch}")

        # Partition-pruned slice: at cluster scale this filter reaches the
        # Iceberg scan as days(ts) partition pruning.
        day_slice = transcripts.filter(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd") == epoch
        )
        obs = Observation()
        staged = route_ops.stage_sinks(
            build_pipeline(spark, day_slice, pack=pack).routed.observe(
                obs,
                *[F.count(F.when(F.col("route") == s, 1)).alias(s) for s in route_ops.SINKS],
            )
        )

        # Sink write first (idempotent dynamic overwrite of (route, ts_day) —
        # writer-scoped option, not a session-global conf; the per-route
        # counts ride this same job), manifest commit last.
        sink_snapshot = ""
        if sink_format == "snaplog":
            if snaplog.current_snapshot(spark, sinks) is None:
                snap = snaplog.append(spark, sinks, staged, list(route_ops.PARTITION_COLS))
            else:
                snap = snaplog.overwrite_partitions(spark, sinks, staged)
            sink_snapshot = snap["snapshot_id"]
        else:
            (
                staged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*route_ops.PARTITION_COLS)
                .parquet(sinks)
            )
        if fail_mid_epoch and fail_after_epochs is not None and i >= fail_after_epochs:
            raise RuntimeError(f"injected mid-epoch failure after sink write of {epoch}")
        per_sink = {route: n for route, n in obs.get.items() if n}
        parsed = sum(per_sink.values())

        entry = {
            "epoch": epoch,
            "lineage": lineage,
            "schema_version": SCHEMA_VERSION,
            "rulepack": pack.identity,
            "metrics": {"parsed_records": parsed, "routed_per_sink": per_sink},
        }
        if sink_snapshot:
            entry["sink_snapshot"] = sink_snapshot
        _commit_epoch(out_dir, entry, spark=spark)
        results.append(EpochResult(epoch, parsed, per_sink))
    return results


def sink_counts(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Per-route row counts of the committed sink data (for exactness checks).
    Reads through the snapshot log when the sink is a SnapLog table, so the
    count reflects exactly the committed head — in-flight files are
    invisible by construction."""
    sinks = os.path.join(out_dir, "sinks")
    if snaplog.is_snaplog_table(spark, sinks):
        df = snaplog.read(spark, sinks)
    else:
        df = spark.read.parquet(sinks)
    return {
        r["route"]: r["n"]
        for r in df.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
