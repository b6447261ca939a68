"""Checkpoint/resume: per-partition lineage, crash-resume, exactly-once counts.

North-rule gate (SURVEY.md §4 items 2-3): resume must (a) skip committed epochs,
(b) reprocess crashed ones idempotently, (c) leave per-sink counts identical to a
single uninterrupted run. Each epoch is one SnapLog commit to ``{out}/sinks``;
failures are injected by monkeypatching the commit or its log publish.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openfactverification_spark import checkpoint as ckpt
from openfactverification_spark.plans.pipeline import run_to_sinks
from openfactverification_spark.sources import snaplog
from openfactverification_spark.sources.transcripts import transcripts_df

N_TURNS = 2000  # 5 distinct ts days (epochs) in the generator formula


def _committed(spark, out_dir):
    return ckpt.committed_epochs(snaplog.history(spark, f"{out_dir}/sinks"))


@pytest.fixture(scope="module")
def ref_counts(spark, tmp_path_factory):
    """Per-sink counts of one uninterrupted run."""
    ref_dir = str(tmp_path_factory.mktemp("ref"))
    results = ckpt.run_resumable(spark, transcripts_df(spark, N_TURNS), ref_dir)
    assert len(results) == 5
    counts = ckpt.sink_counts(spark, ref_dir)
    assert set(counts) == {"checkworthy", "non_factual", "tool_trace", "verdict"}
    return counts


def test_crash_resume_exactly_once(spark, tmp_path, monkeypatch, ref_counts):
    """A crash before epoch 3's commit: resume runs only the 3 missing epochs."""
    transcripts = transcripts_df(spark, N_TURNS)
    real = snaplog.overwrite_partitions
    calls = []

    def dies_before_epoch_3(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:  # epoch 1 appends, epoch 2 is the first overwrite
            raise RuntimeError("injected failure before epoch 3")
        return real(*args, **kwargs)

    out_dir = str(tmp_path / "crash")
    monkeypatch.setattr(snaplog, "overwrite_partitions", dies_before_epoch_3)
    with pytest.raises(RuntimeError, match="injected failure"):
        ckpt.run_resumable(spark, transcripts, out_dir)
    monkeypatch.undo()
    assert len(_committed(spark, out_dir)) == 2

    resumed = ckpt.run_resumable(spark, transcripts, out_dir)
    assert len(resumed) == 3  # only the 3 uncommitted epochs re-ran
    assert ckpt.sink_counts(spark, out_dir) == ref_counts

    # Third invocation is a no-op (every input epoch is in the log).
    assert ckpt.run_resumable(spark, transcripts, out_dir) == []


def test_mid_epoch_crash_leaves_no_duplicates(spark, tmp_path, monkeypatch, ref_counts):
    """The one crash window: epoch 2's data files are written but its log
    publish fails. The orphan commit dir stays invisible, resume re-runs
    exactly that epoch and the later ones, and the log ends with one
    snapshot per epoch."""
    transcripts = transcripts_df(spark, N_TURNS)
    out_dir = str(tmp_path / "mid")
    table = f"{out_dir}/sinks"
    epochs = ckpt.pending_epochs(transcripts, {})
    real = snaplog._Fs.create_exclusive

    def publish_fails_at_v2(self, p, payload):
        if p.getName() == "v2.json":
            raise RuntimeError("injected log-publish failure")
        return real(self, p, payload)

    monkeypatch.setattr(snaplog._Fs, "create_exclusive", publish_fails_at_v2)
    with pytest.raises(RuntimeError, match="log-publish"):
        ckpt.run_resumable(spark, transcripts, out_dir)
    monkeypatch.undo()
    assert list(_committed(spark, out_dir)) == epochs[:1]

    (live,) = {f["path"].split("/")[1] for f in snaplog.current_snapshot(spark, table)["files"]}
    (orphan,) = set(os.listdir(os.path.join(table, "data"))) - {live}
    assert os.listdir(os.path.join(table, "data", orphan))

    resumed = ckpt.run_resumable(spark, transcripts, out_dir)
    assert [r.epoch for r in resumed] == epochs[1:]
    assert ckpt.sink_counts(spark, out_dir) == ref_counts
    assert not [f for f in snaplog.read(spark, table).inputFiles() if f"/data/{orphan}/" in f]
    hist = snaplog.history(spark, table)
    assert [h["summary"]["epoch"] for h in hist] == epochs


def test_manifest_metrics_match_sinks(spark, tmp_path):
    """The per-epoch counters, read back from the sink log's snapshot
    summaries alone, sum to the committed per-sink counts."""
    out_dir = str(tmp_path / "m")
    ckpt.run_resumable(spark, transcripts_df(spark, N_TURNS), out_dir, lineage="v1")

    hist = snaplog.history(spark, f"{out_dir}/sinks")
    assert len(hist) == 5
    totals: dict[str, int] = {}
    for h in hist:
        s = h["summary"]
        assert s["lineage"] == "v1" and s["rulepack"] == "default@2"
        assert s["parsed_records"] == sum(s["routed_per_sink"].values())
        for route, n in s["routed_per_sink"].items():
            totals[route] = totals.get(route, 0) + n
    assert totals == ckpt.sink_counts(spark, out_dir)


def test_snaplog_sink_crash_resume_exactly_once(spark, tmp_path, monkeypatch, ref_counts):
    """A crash in the FIRST epoch's log publish leaves no table: resume must
    create it with an append, then overwrite partitions per later epoch —
    one snapshot per epoch, each carrying its epoch entry."""
    transcripts = transcripts_df(spark, N_TURNS)
    out_dir = str(tmp_path / "snap")
    table = f"{out_dir}/sinks"

    def publish_fails(self, p, payload):
        raise RuntimeError("injected log-publish failure")

    monkeypatch.setattr(snaplog._Fs, "create_exclusive", publish_fails)
    with pytest.raises(RuntimeError, match="log-publish"):
        ckpt.run_resumable(spark, transcripts, out_dir, lineage="snap-1")
    monkeypatch.undo()
    assert snaplog.history(spark, table) == []

    resumed = ckpt.run_resumable(spark, transcripts, out_dir, lineage="snap-1")
    assert len(resumed) == 5
    assert ckpt.sink_counts(spark, out_dir) == ref_counts
    hist = snaplog.history(spark, table)
    assert [h["operation"] for h in hist] == ["append"] + ["overwrite_partitions"] * 4
    for h, r in zip(hist, resumed):
        assert h["summary"]["epoch"] == r.epoch
        assert h["summary"]["lineage"] == "snap-1"
        assert h["summary"]["routed_per_sink"] == r.routed_per_sink


def test_replayed_epoch_converges(spark, tmp_path, monkeypatch):
    """Re-running already-committed epochs (the log forgotten) re-commits
    each as a partition overwrite: counts unchanged, no row duplicated."""
    transcripts = transcripts_df(spark, N_TURNS)
    out_dir = str(tmp_path / "replay")
    table = f"{out_dir}/sinks"
    ckpt.run_resumable(spark, transcripts, out_dir)
    counts = ckpt.sink_counts(spark, out_dir)
    before = snaplog.current_snapshot(spark, table)["version"]

    monkeypatch.setattr(ckpt, "committed_epochs", lambda *a, **k: {})
    replayed = ckpt.run_resumable(spark, transcripts, out_dir)
    assert len(replayed) == 5

    hist = snaplog.history(spark, table)
    assert [h["operation"] for h in hist[before:]] == ["overwrite_partitions"] * 5
    assert ckpt.sink_counts(spark, out_dir) == counts
    old, new = snaplog.read(spark, table, version=before), snaplog.read(spark, table)
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


@pytest.mark.parametrize("null_when", ["turn_idx % 4 = 0", "true"], ids=["some", "all"])
def test_null_ts_rows_are_refused(spark, tmp_path, null_when):
    """A null-ts row has no day epoch: the run raises a ValueError naming
    those rows and commits nothing — for some null rows (they used to crash
    the epoch sort) and for all-null input (it used to commit a None epoch)."""
    df = transcripts_df(spark, 200).withColumn(
        "ts", F.when(~F.expr(null_when), F.col("ts"))
    )
    n_null = df.filter(F.col("ts").isNull()).count()
    assert n_null > 0
    out_dir = str(tmp_path / "null")
    with pytest.raises(ValueError, match=f"{n_null} input rows have a null"):
        ckpt.run_resumable(spark, df, out_dir)
    assert snaplog.history(spark, f"{out_dir}/sinks") == []


def test_unknown_sink_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="sink_format"):
        ckpt.run_resumable(spark, transcripts_df(spark, 10), str(tmp_path), sink_format="parquet")


@pytest.mark.parametrize("sink_format", ["snaplog"])
def test_resumable_sinks_use_batch_layout(spark, tmp_path, sink_format):
    """The resumable sink lays files out exactly as the batch sink does:
    partitioned by (route, ts_day), with per-partition row counts equal to
    run_to_sinks's."""
    transcripts = transcripts_df(spark, N_TURNS)
    batch_dir = str(tmp_path / "batch")
    run_to_sinks(spark, transcripts, batch_dir)

    out_dir = str(tmp_path / sink_format)
    ckpt.run_resumable(spark, transcripts, out_dir, sink_format=sink_format)
    sinks = f"{out_dir}/sinks"
    assert snaplog.current_snapshot(spark, sinks)["partition_cols"] == ["route", "ts_day"]

    def counts(df):
        return sorted(tuple(r) for r in df.groupBy("route", "ts_day").count().collect())

    assert counts(snaplog.read(spark, sinks)) == counts(
        spark.read.parquet(f"{batch_dir}/sinks")
    )
    # five epoch commits, one parquet relation
    plan = snaplog.read(spark, sinks)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 1
