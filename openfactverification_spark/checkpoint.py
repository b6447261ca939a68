"""Checkpointed, resumable pipeline runs: one SnapLog commit per epoch.

North-rule obligation (SURVEY.md §4 custom-work items 2-3): the pipeline must be
resumable from per-partition checkpoints that record source lineage and
parse/route/agg metrics, with exactly-once per-sink counts across resume.

Design (batch analog of streaming state, SURVEY.md §2.9 note):

  * The run is split into **epochs** = one day of ``date(ts)``, the ``ts_day``
    half of the batch sink layout (operators/route.stage_sinks partitions
    every sink by (route, ts_day) — the days(ts) part of the Iceberg partition
    spec in BASELINE.json's north_star). An epoch's write therefore touches
    exactly its own day partitions. A row with a null ``ts`` has no day, so
    it belongs to no epoch: the run refuses such input instead of dropping it.
  * Each epoch is **one** commit to the SnapLog table ``{out_dir}/sinks``
    (sources/snaplog.py, the from-scratch stand-in for Iceberg's
    ``overwritePartitions``): the first epoch creates the table with
    ``append``, every later one is an ``overwrite_partitions``. The commit's
    snapshot summary carries the epoch entry
    ``{epoch, lineage, rulepack, parsed_records, routed_per_sink}``, so the
    sink log is the commit log — input snapshot -> epoch -> output snapshot
    in one atomic log append. Under the snapshot's ``format_version`` 2 the
    (route, ts_day) values ride inside every data file as well as in the
    manifest, so the table reads as one relation however many epochs it
    holds.
  * **Resume** = the input's distinct epochs minus the epochs named in the
    sink log (``snaplog.history``), the way ``snaplog.CommitOnce`` finds
    committed stream batches.
  * **The one crash window** lies between an epoch's data-file write and its
    log publish. A crash there leaves orphan files under ``data/<commit>/``
    that no snapshot names, so readers never see them, and resume re-runs
    the epoch. Replaying an already-committed epoch is a partition
    overwrite of its own (route, ts_day) partitions: it converges and can
    never duplicate rows.
  * **Metrics** ride the sink write itself: an ``Observation`` of per-route
    counts on the written frame (the A5 usage-accounting analog,
    /root/reference/factcheck/utils/llmclient/gpt_client.py:36-41) — no
    persist, no second pass. The commit resolves the entry after its data
    write, once the Observation is filled.

At cluster scale each epoch's write is a partition-pruned scan (the day
filter reaches the source) and the log grows by one small JSON per day.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import route as route_ops
from .plans.pipeline import build_pipeline
from .rulepack import DEFAULT_PACK, RulePack
from .sources import snaplog


@dataclass
class EpochResult:
    epoch: str
    parsed_records: int
    routed_per_sink: dict[str, int]


def _epoch_col():
    return F.date_format(F.to_date("ts"), "yyyy-MM-dd")


def committed_epochs(history: list[dict]) -> dict[str, dict]:
    """Epoch -> its entry (the summary of the sink snapshot that committed
    it), from the sink table's ``snaplog.history``; a replayed epoch maps to
    its newest commit."""
    return {h["summary"]["epoch"]: h["summary"] for h in history if "epoch" in h["summary"]}


def pending_epochs(transcripts: DataFrame, committed) -> list[str]:
    """Input epochs not in ``committed``, in order. The one job counts rows
    per epoch, so null-``ts`` rows (epoch None) are reported, not dropped."""
    counts = dict(transcripts.groupBy(_epoch_col().alias("epoch")).count().collect())
    n_null = counts.pop(None, 0)
    if n_null:
        raise ValueError(
            f"{n_null} input rows have a null (or unparseable) ts: a row with no "
            "day belongs to no day epoch; fill or drop them before a resumable run"
        )
    return sorted(set(counts) - set(committed))


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    lineage: str = "",
    pack: RulePack = DEFAULT_PACK,
    sink_format: str = "snaplog",
) -> list[EpochResult]:
    """Process all not-yet-committed epochs; safe to re-invoke after a crash.

    ``lineage`` identifies the input version (Iceberg snapshot-id in
    production; a SnapLog snapshot-id via catalog.current_lineage; any
    caller-supplied fingerprint here). The parser rule-pack identity
    (``name@version``) is recorded in every epoch's entry, so a run is
    auditable down to the segmentation rules it used. ``sink_format`` only
    accepts ``"snaplog"``, the one commit protocol."""
    if sink_format != "snaplog":
        raise ValueError(f"unknown sink_format {sink_format!r}")
    sinks = os.path.join(out_dir, "sinks")
    log = snaplog.history(spark, sinks)
    todo = pending_epochs(transcripts, committed_epochs(log))
    table_exists = bool(log)
    results: list[EpochResult] = []
    for epoch in todo:
        # Partition-pruned slice: at cluster scale this filter reaches the
        # Iceberg scan as days(ts) partition pruning.
        obs = Observation()
        staged = route_ops.stage_sinks(
            build_pipeline(spark, transcripts.filter(_epoch_col() == epoch), pack=pack)
            .routed.observe(
                obs,
                *[F.count(F.when(F.col("route") == s, 1)).alias(s) for s in route_ops.SINKS],
            )
        )

        def entry() -> dict:
            per_sink = {route: n for route, n in obs.get.items() if n}
            return {
                "epoch": epoch,
                "lineage": lineage,
                "rulepack": pack.identity,
                "parsed_records": sum(per_sink.values()),
                "routed_per_sink": per_sink,
            }

        if table_exists:
            snap = snaplog.overwrite_partitions(spark, sinks, staged, summary_extra=entry)
        else:
            snap = snaplog.append(
                spark, sinks, staged, list(route_ops.PARTITION_COLS), summary_extra=entry
            )
            table_exists = True
        s = snap["summary"]
        results.append(EpochResult(epoch, s["parsed_records"], s["routed_per_sink"]))
    return results


def sink_counts(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Per-route row counts of the committed sink head (for exactness checks);
    in-flight or orphaned files are invisible by construction."""
    df = snaplog.read(spark, os.path.join(out_dir, "sinks"))
    return {
        r["route"]: r["n"]
        for r in df.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
