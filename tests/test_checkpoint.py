"""Checkpoint/resume: per-partition lineage, crash-resume, exactly-once counts.

North-rule gate (SURVEY.md §4 items 2-3): resume must (a) skip committed epochs,
(b) reprocess crashed ones idempotently, (c) leave per-sink counts identical to a
single uninterrupted run.
"""

from __future__ import annotations

import os

import pytest

from openfactverification_spark import checkpoint as ckpt
from openfactverification_spark.plans.pipeline import run_to_sinks
from openfactverification_spark.sources import snaplog
from openfactverification_spark.sources.transcripts import transcripts_df

N_TURNS = 2000  # 5 distinct ts days (epochs) in the generator formula


def test_crash_resume_exactly_once(spark, tmp_path):
    transcripts = transcripts_df(spark, N_TURNS)

    # Reference run: single uninterrupted pass.
    ref_dir = str(tmp_path / "ref")
    ref_results = ckpt.run_resumable(spark, transcripts, ref_dir)
    assert len(ref_results) == 5
    ref_counts = ckpt.sink_counts(spark, ref_dir)
    assert set(ref_counts) == {"checkworthy", "non_factual", "tool_trace", "verdict"}

    # Crash run: fail after 2 committed epochs, then resume.
    out_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        ckpt.run_resumable(spark, transcripts, out_dir, fail_after_epochs=2)
    assert len(ckpt.committed_epochs(out_dir)) == 2

    resumed = ckpt.run_resumable(spark, transcripts, out_dir)
    assert len(resumed) == 3  # only the 3 uncommitted epochs re-ran
    assert ckpt.sink_counts(spark, out_dir) == ref_counts

    # Third invocation is a no-op (left_anti finds nothing pending).
    assert ckpt.run_resumable(spark, transcripts, out_dir) == []


def test_mid_epoch_crash_leaves_no_duplicates(spark, tmp_path):
    """Crash AFTER an epoch's sink write but BEFORE its manifest commit: the
    orphaned partition files must be replaced (not duplicated) on resume."""
    transcripts = transcripts_df(spark, N_TURNS)

    ref_dir = str(tmp_path / "ref")
    ckpt.run_resumable(spark, transcripts, ref_dir)
    ref_counts = ckpt.sink_counts(spark, ref_dir)

    out_dir = str(tmp_path / "mid")
    with pytest.raises(RuntimeError, match="mid-epoch"):
        ckpt.run_resumable(
            spark, transcripts, out_dir, fail_after_epochs=1, fail_mid_epoch=True
        )
    # epoch 0 committed; epoch 1's sink files exist but are NOT in the manifest
    assert len(ckpt.committed_epochs(out_dir)) == 1

    resumed = ckpt.run_resumable(spark, transcripts, out_dir)
    assert len(resumed) == 4  # epochs 1-4 re-ran, incl. the partially-written one
    assert ckpt.sink_counts(spark, out_dir) == ref_counts


def test_manifest_metrics_match_sinks(spark, tmp_path):
    out_dir = str(tmp_path / "m")
    ckpt.run_resumable(spark, transcripts_df(spark, N_TURNS), out_dir, lineage="v1")

    manifest = ckpt.committed_epochs(out_dir)
    totals: dict[str, int] = {}
    for entry in manifest.values():
        assert entry["lineage"] == "v1"
        assert entry["schema_version"] == ckpt.SCHEMA_VERSION
        for route, n in entry["metrics"]["routed_per_sink"].items():
            totals[route] = totals.get(route, 0) + n
    assert totals == ckpt.sink_counts(spark, out_dir)


def test_snaplog_sink_crash_resume_exactly_once(spark, tmp_path):
    """sink_format="snaplog": per-epoch atomic overwrite_partitions commits,
    sink snapshot-id lineage in every manifest entry, and exact per-sink
    counts across a mid-epoch crash-resume (the committed-but-unmanifested
    epoch is replayed as an idempotent partition overwrite)."""
    from openfactverification_spark.sources import snaplog

    transcripts = transcripts_df(spark, N_TURNS)

    ref_dir = str(tmp_path / "ref")
    ckpt.run_resumable(spark, transcripts, ref_dir)
    ref_counts = ckpt.sink_counts(spark, ref_dir)

    out_dir = str(tmp_path / "snap")
    with pytest.raises(RuntimeError, match="mid-epoch"):
        ckpt.run_resumable(
            spark, transcripts, out_dir,
            fail_after_epochs=1, fail_mid_epoch=True, sink_format="snaplog",
        )
    resumed = ckpt.run_resumable(spark, transcripts, out_dir, sink_format="snaplog")
    assert len(resumed) == 4
    # counts through the log head equal the uninterrupted parquet run
    assert ckpt.sink_counts(spark, out_dir) == ref_counts

    # end-to-end lineage: every manifest entry names the sink snapshot it
    # produced, and each recorded snapshot is a real log entry
    table = f"{out_dir}/sinks"
    hist = {h["snapshot_id"]: h for h in snaplog.history(spark, table)}
    entries = ckpt.committed_epochs(out_dir)
    assert len(entries) == 5
    for e in entries.values():
        assert e["sink_snapshot"] in hist
    # 6 commits: epoch0 append + crashed epoch1 + replayed epoch1 + epochs 2-4
    ops = [h["operation"] for h in snaplog.history(spark, table)]
    assert ops[0] == "append" and set(ops[1:]) == {"overwrite_partitions"}
    assert len(ops) == 6


@pytest.mark.parametrize("sink_format", ["parquet", "snaplog"])
def test_resumable_sinks_use_batch_layout(spark, tmp_path, sink_format):
    """Both resumable sink formats lay files out exactly as the batch sink
    does: partitioned by (route, ts_day), with per-partition row counts equal
    to run_to_sinks's."""
    transcripts = transcripts_df(spark, N_TURNS)
    batch_dir = str(tmp_path / "batch")
    run_to_sinks(spark, transcripts, batch_dir)

    out_dir = str(tmp_path / sink_format)
    ckpt.run_resumable(spark, transcripts, out_dir, sink_format=sink_format)
    sinks = f"{out_dir}/sinks"
    if sink_format == "snaplog":
        assert snaplog.current_snapshot(spark, sinks)["partition_cols"] == ["route", "ts_day"]
        resumed = snaplog.read(spark, sinks)
    else:
        routes = [d for d in os.listdir(sinks) if not d.startswith(("_", "."))]
        assert routes and all(d.startswith("route=") for d in routes), routes
        for d in routes:
            days = [x for x in os.listdir(os.path.join(sinks, d)) if not x.startswith(".")]
            assert days and all(x.startswith("ts_day=") for x in days), days
        resumed = spark.read.parquet(sinks)

    def counts(df):
        return sorted(tuple(r) for r in df.groupBy("route", "ts_day").count().collect())

    assert counts(resumed) == counts(spark.read.parquet(f"{batch_dir}/sinks"))
