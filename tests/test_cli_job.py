"""S2 CLI surface: scripts/job.py driven exactly as a user would, via
subprocess (fresh interpreter, fresh JVM) — batch mode and checkpointed
resume mode on a tmpdir (SURVEY.md §2.1 S2; reference CLI at
/root/reference/factcheck/__main__.py:10-39)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "scripts", "job.py")
N_TURNS = "64"


def _run(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, JOB, *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
    )


def test_cli_batch_mode(tmp_path):
    out = str(tmp_path / "batch")
    proc = _run("--out", out, "--n-turns", N_TURNS)
    assert proc.returncode == 0, proc.stderr[-2000:]
    # summary rows printed, sinks + summary written
    assert "Row(" in proc.stdout
    assert os.path.isdir(os.path.join(out, "sinks"))
    assert os.path.isdir(os.path.join(out, "summary"))
    routes = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(out, "sinks"))
        if d.startswith("route=")
    }
    assert routes <= {"checkworthy", "non_factual", "tool_trace", "verdict"}
    assert routes, "expected at least one routed sink partition"
    # the job runs with the engine's session configs: zstd-compressed sinks
    files = glob.glob(os.path.join(out, "sinks", "route=*", "ts_day=*", "*.parquet"))
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, (path, codecs)


def test_cli_resume_mode_idempotent(tmp_path):
    out = str(tmp_path / "resume")
    first = _run("--out", out, "--resume", "--n-turns", N_TURNS)
    assert first.returncode == 0, first.stderr[-2000:]
    epochs_first = [ln for ln in first.stdout.splitlines() if ln.startswith("epoch ")]
    assert epochs_first, first.stdout

    # second invocation: everything committed -> zero new epochs
    second = _run("--out", out, "--resume", "--n-turns", N_TURNS)
    assert second.returncode == 0, second.stderr[-2000:]
    epochs_second = [ln for ln in second.stdout.splitlines() if ln.startswith("epoch ")]
    assert epochs_second == [], second.stdout


def test_cli_resume_snaplog_sink(tmp_path, spark):
    """--resume: the sink is a versioned SnapLog table with one snapshot per
    epoch, each summary carrying the epoch entry, and a re-invocation
    commits nothing new (the SnapLog<->checkpoint<->CLI triangle driven
    end-to-end)."""
    from openfactverification_spark.sources import snaplog

    out = str(tmp_path / "rs")
    first = _run("--out", out, "--resume", "--n-turns", N_TURNS)
    assert first.returncode == 0, first.stderr[-2000:]
    epochs = [
        ln.split()[1].rstrip(":") for ln in first.stdout.splitlines() if ln.startswith("epoch ")
    ]
    assert epochs, first.stdout

    table = os.path.join(out, "sinks")
    assert snaplog.is_snaplog_table(spark, table)
    hist = snaplog.history(spark, table)
    assert [h["summary"]["epoch"] for h in hist] == epochs  # one snapshot per epoch
    for h in hist:
        assert h["summary"]["rulepack"] == "default@2"
        assert h["summary"]["parsed_records"] > 0
    n_rows = snaplog.read(spark, table).count()
    assert n_rows > 0

    second = _run("--out", out, "--resume", "--n-turns", N_TURNS)
    assert second.returncode == 0, second.stderr[-2000:]
    assert not [ln for ln in second.stdout.splitlines() if ln.startswith("epoch ")]
    assert len(snaplog.history(spark, table)) == len(hist)
    assert snaplog.read(spark, table).count() == n_rows


def test_cli_ingest_dedup_mode(tmp_path, spark):
    """--ingest-dedup end-to-end in a fresh interpreter: empty store, one
    micro-batch with a planted exact pair -> keeper new, twin dup_in_batch."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (4, "x y z w v u")],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    proc = _run("--ingest-dedup", "--input-parquet", src, "--out", out)
    assert proc.returncode == 0, proc.stderr[-2000:]

    from openfactverification_spark.sources import snaplog

    st = snaplog.read(spark, os.path.join(out, "status"))
    rows = {(r["doc_id"], r["batch_id"], r["status"], r["dup_of"]) for r in st.collect()}
    assert rows == {(1, 1, "new", None), (2, 1, "dup_in_batch", 1), (4, 1, "new", None)}
    # accepted docs' signatures entered the store; the dropped twin's did not
    store_ids = {
        r["doc_id"]
        for r in snaplog.read(spark, os.path.join(out, "store", "sh")).collect()
    }
    assert store_ids == {1, 4}


def test_cli_streaming_snaplog_sink(tmp_path, spark):
    """--streaming drives run_to_sinks_stream: exactly-once micro-batch
    SnapLog commits with the batch id in each snapshot summary."""
    from openfactverification_spark.sources import snaplog
    from openfactverification_spark.sources.transcripts import transcripts_df

    src = str(tmp_path / "src")
    transcripts_df(spark, int(N_TURNS)).write.parquet(src)
    out = str(tmp_path / "out")
    proc = _run("--streaming", "--input-parquet", src, "--out", out)
    assert proc.returncode == 0, proc.stderr[-2000:]
    table = os.path.join(out, "sinks")
    assert snaplog.read(spark, table).count() > 0
    assert all(
        "stream_batch_id" in h["summary"] for h in snaplog.history(spark, table)
    )
