"""Streaming ingest dedup ≡ batch dedup_incremental, and exactly-once replay.

The stream seeds the store with the corpus stratum (doc_id % 3 == 0), then
processes the two increment strata as two availableNow runs (second file
added after the first run completes, so micro-batch order is guaranteed and
the second run exercises checkpoint restart). Statuses must equal the batch
operator's exactly: the DuckDB dedup_incremental template over the same
fixture files (the Spark side of dedup_incremental is process_batch itself,
so comparing against it would compare the stream with itself)."""

from __future__ import annotations

import os
from functools import lru_cache

import duckdb
import pytest

from openfactverification_spark import testdata_queries as tq
from openfactverification_spark.operators import dual
from openfactverification_spark.sources import snaplog
from openfactverification_spark.sources.tables import table_path
from openfactverification_spark.streaming import ingest_dedup

SF = "/root/testdata/sf0.001"


@lru_cache(maxsize=1)
def _batch_statuses() -> frozenset:
    """(doc_id, batch_id, status, dup_of) rows of the DuckDB template."""
    con = duckdb.connect()
    path = table_path(SF, "documents")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    return frozenset(con.execute(dual.q_dedup_incremental(dual.D("duckdb"))).fetchall())


def _docs(spark):
    return spark.read.parquet(table_path(SF, "documents")).select("doc_id", "text")


def _run_stream(spark, tmp_path):
    docs = _docs(spark)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    src = str(tmp_path / "src")
    ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
    schema = docs.schema

    for stratum in (1, 2):
        docs.filter(f"doc_id % 3 = {stratum}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = ingest_dedup.run_ingest_dedup_stream(spark, stream, store, out, ck)
        q.awaitTermination(300)
    return store, out, ck, src, schema


def test_stream_statuses_equal_batch(spark, tmp_path):
    _, out, _, _, _ = _run_stream(spark, tmp_path)
    got = {
        (r["doc_id"], r["batch_id"], r["status"], r["dup_of"])
        for r in snaplog.read(spark, f"{out}/status").collect()
    }
    assert got == _batch_statuses()
    assert any(s == "dup_of_seen" for _, _, s, _ in got) or len(got) > 0


def test_maintained_stream_same_results_bounded_log(spark, tmp_path):
    """maintain_every=1 (compact + expire after every batch) must not change
    any status or store row, and must bound the snapshot log."""
    docs = _docs(spark)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
    for stratum in (1, 2):
        docs.filter(f"doc_id % 3 = {stratum}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = ingest_dedup.run_ingest_dedup_stream(
            spark,
            spark.readStream.schema(docs.schema).parquet(src),
            store,
            out,
            str(tmp_path / "ck"),
            maintain_every=1,
        )
        q.awaitTermination(300)

    got = {
        (r["doc_id"], r["batch_id"], r["status"], r["dup_of"])
        for r in snaplog.read(spark, f"{out}/status").collect()
    }
    assert got == _batch_statuses()
    # log bounded by expiry: at most keep_last retained snapshots per table
    assert len(snaplog.history(spark, f"{store}/sh")) <= 3
    assert len(snaplog.history(spark, f"{out}/status")) <= 3


def test_replay_is_exactly_once(spark, tmp_path):
    store, out, ck, src, schema = _run_stream(spark, tmp_path)
    before = sorted(
        tuple(r) for r in snaplog.read(spark, f"{out}/status").collect()
    )
    n_store = snaplog.read(spark, f"{store}/sh").count()
    # fresh checkpoint dir -> the whole source replays from scratch; every
    # epoch is already committed in the three logs, so nothing may change
    stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(schema).parquet(src)
    q = ingest_dedup.run_ingest_dedup_stream(
        spark, stream, store, out, str(tmp_path / "ck2")
    )
    q.awaitTermination(300)
    after = sorted(tuple(r) for r in snaplog.read(spark, f"{out}/status").collect())
    assert after == before
    assert snaplog.read(spark, f"{store}/sh").count() == n_store


def test_crash_between_store_and_status_replays_identically(spark, tmp_path, monkeypatch):
    """ADVICE r3 (high): a crash AFTER the store appends but BEFORE the status
    append used to corrupt the replay — process_batch recomputed `seen`
    against a store already holding this epoch's accepted signatures, so
    every accepted doc self-matched at jaccard 1.0 and was committed as
    dup_of_seen of itself. The fix pins store reads to the pre-epoch
    snapshot; this kills the process at exactly that boundary and asserts the
    replayed statuses equal an uncrashed run's."""
    docs = _docs(spark)
    runs = {}
    for mode in ("clean", "crashy"):
        store = str(tmp_path / mode / "store")
        out = str(tmp_path / mode / "out")
        ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
        batches = [
            docs.filter("doc_id % 3 = 1").localCheckpoint(eager=True),
            docs.filter("doc_id % 3 = 2").localCheckpoint(eager=True),
        ]
        ingest_dedup.process_batch(spark, batches[0], 0, store, out)
        if mode == "crashy":
            real_append = snaplog.append

            def boom(s, table, df, *a, **kw):
                if table.endswith("/status"):
                    raise RuntimeError("killed before status commit")
                return real_append(s, table, df, *a, **kw)

            monkeypatch.setattr(ingest_dedup.snaplog, "append", boom)
            try:
                ingest_dedup.process_batch(spark, batches[1], 1, store, out)
                raise AssertionError("crash hook did not fire")
            except RuntimeError:
                pass
            monkeypatch.setattr(ingest_dedup.snaplog, "append", real_append)
            # the store tables DID commit epoch 1; status did not
            commits = snaplog.CommitOnce(spark, "ingest_epoch")
            assert not commits.committed(f"{out}/status", 1)
            assert commits.committed(f"{store}/sh", 1)
        # replay (crashy) / first run (clean) of epoch 1
        ingest_dedup.process_batch(spark, batches[1], 1, store, out)
        runs[mode] = {
            tuple(r)
            for r in snaplog.read(spark, f"{out}/status")
            .select("doc_id", "batch_id", "status", "dup_of")
            .collect()
        }
        assert not any(
            s == "dup_of_seen" and d == i for i, _, s, d in runs[mode]
        ), "self-match: replay judged a doc against its own signatures"
    assert runs["crashy"] == runs["clean"]


def test_direct_batch_job_budget(spark, tmp_path):
    """A micro-batch is four materializations (signed, bands, seen, status)
    plus the store and status commits: with a store to judge against and
    accepted docs to append, one direct process_batch launches at most 30
    Spark jobs. The statuses are still the batch operator's."""
    docs = _docs(spark)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
    sc = spark.sparkContext
    jobs = {}
    try:
        for epoch, stratum in ((0, 1), (1, 2)):
            batch = docs.filter(f"doc_id % 3 = {stratum}").localCheckpoint(eager=True)
            group = f"ingest-job-budget-{tmp_path.name}-{epoch}"
            sc.setJobGroup(group, group)
            ingest_dedup.process_batch(spark, batch, epoch, store, out)
            jobs[epoch] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < jobs[1] <= 30, jobs

    got = {
        tuple(r)
        for r in snaplog.read(spark, f"{out}/status")
        .select("doc_id", "batch_id", "status", "dup_of")
        .collect()
    }
    assert got == _batch_statuses()


def test_all_duplicate_batch_skips_store_appends(spark, tmp_path):
    """A batch whose every doc is dup_of_seen commits its status and nothing
    else: no new store/sh or store/bands snapshot, same store rows."""
    texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "one two three four five six seven eight nine ten",
    ]
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ingest_dedup.seed_store(
        spark, spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string"), store
    )
    tables = (f"{store}/sh", f"{store}/bands")

    def store_state():
        return {
            t: (len(snaplog.history(spark, t)), snaplog.read(spark, t).count())
            for t in tables
        }

    before = store_state()
    batch = spark.createDataFrame(
        [(10 + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ingest_dedup.process_batch(spark, batch, 0, store, out)

    got = {tuple(r) for r in snaplog.read(spark, f"{out}/status").collect()}
    assert got == {(10, 1, "dup_of_seen", 0), (11, 1, "dup_of_seen", 1)}
    assert snaplog.CommitOnce(spark, "ingest_epoch").committed(f"{out}/status", 0)
    assert store_state() == before


def test_store_reads_stay_one_relation_as_the_store_grows(spark, tmp_path, monkeypatch):
    """Four direct process_batch epochs against a store seeded in two
    commits: every store/sh and store/bands read is one parquet relation
    while the pinned snapshot's commit count grows 2, 3, 4, 4. Epochs 2 and
    3 are empty micro-batches, so they read the grown store and add no
    status row; the statuses are still the batch operator's."""
    docs = _docs(spark)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    for half in (0, 3):
        ingest_dedup.seed_store(spark, docs.filter(f"doc_id % 6 = {half}"), store)

    reads: list[tuple[str, int, int]] = []
    real_read = snaplog.read

    def recording(s, table, *a, **kw):
        df = real_read(s, table, *a, **kw)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        commit_dirs = {u.split("/data/")[1].split("/")[0] for u in df.inputFiles()}
        reads.append((os.path.basename(table), plan.count("Relation ["), len(commit_dirs)))
        return df

    monkeypatch.setattr(ingest_dedup.snaplog, "read", recording)
    batches = [
        docs.filter("doc_id % 3 = 1"),
        docs.filter("doc_id % 3 = 2"),
        docs.limit(0),
        docs.limit(0),
    ]
    for epoch, batch in enumerate(batches):
        ingest_dedup.process_batch(
            spark, batch.localCheckpoint(eager=True), epoch, store, out
        )
    monkeypatch.setattr(ingest_dedup.snaplog, "read", real_read)

    for table in ("sh", "bands"):
        mine = [(rel, dirs) for t, rel, dirs in reads if t == table]
        assert mine == [(1, 2), (1, 3), (1, 4), (1, 4)], (table, mine)

    got = {
        tuple(r)
        for r in snaplog.read(spark, f"{out}/status")
        .select("doc_id", "batch_id", "status", "dup_of")
        .collect()
    }
    assert got == _batch_statuses()


class _FakeQuery:
    """A started query that never finishes (``finished=False``) or that
    finished with ``error``."""

    id = "fake-query"

    def __init__(self, finished: bool, error: Exception | None = None):
        self.finished, self.error, self.stopped = finished, error, False

    def awaitTermination(self, timeout=None):
        return self.finished

    def stop(self):
        self.stopped = True

    def exception(self):
        return self.error


def _fake_stream(monkeypatch, tmp_path, query):
    monkeypatch.setattr(tq, "SCRATCH_ROOT", str(tmp_path / "roots"))
    monkeypatch.setattr(
        ingest_dedup, "run_ingest_dedup_stream", lambda *a, **kw: query
    )


def test_stream_status_query_timeout_stops_and_raises(spark, tmp_path, monkeypatch):
    q = _FakeQuery(finished=False)
    _fake_stream(monkeypatch, tmp_path, q)
    with pytest.raises(TimeoutError):
        tq.q_ingest_dedup_stream_status(spark, SF)
    assert q.stopped
    assert os.listdir(tmp_path / "roots") == []


def test_stream_status_query_reraises_stream_error(spark, tmp_path, monkeypatch):
    q = _FakeQuery(finished=True, error=RuntimeError("batch failed"))
    _fake_stream(monkeypatch, tmp_path, q)
    with pytest.raises(RuntimeError, match="batch failed"):
        tq.q_ingest_dedup_stream_status(spark, SF)
    assert os.listdir(tmp_path / "roots") == []


def test_stream_status_query_removes_its_root(spark, tmp_path, monkeypatch):
    """The query's store, checkpoint, source and status files are gone once
    it returns, and its (materialized) rows are still the batch operator's."""
    monkeypatch.setattr(tq, "SCRATCH_ROOT", str(tmp_path / "roots"))
    got = {tuple(r) for r in tq.q_ingest_dedup_stream_status(spark, SF).collect()}
    assert os.listdir(tmp_path / "roots") == []
    assert got == _batch_statuses()


def test_incremental_runner_removes_its_root(spark, tmp_path, monkeypatch):
    """dedup_incremental's Spark runner (seed_store + two direct
    process_batch calls) leaves nothing under its per-call root, and its
    rows equal the DuckDB template's."""
    monkeypatch.setattr(tq, "SCRATCH_ROOT", str(tmp_path / "roots"))
    got = {tuple(r) for r in tq.q_dedup_incremental_runner(spark, SF).collect()}
    assert os.listdir(tmp_path / "roots") == []
    assert got == _batch_statuses()


def test_overwrite_daily_query_removes_its_root(spark, tmp_path, monkeypatch):
    """The registered snaplog_overwrite_daily query keeps its table in a
    per-call root and removes it before returning; its (materialized) rows
    still equal the DuckDB end-state oracle's."""
    monkeypatch.setattr(tq, "SCRATCH_ROOT", str(tmp_path / "roots"))
    got = sorted(
        (r["day"], r["n_events"], round(r["total_value"], 9))
        for r in tq.q_snaplog_overwrite_daily(spark, SF).collect()
    )
    assert os.listdir(tmp_path / "roots") == []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{table_path(SF, 'events')}')")
    want = sorted(
        (day, n, round(v, 9))
        for day, n, v in con.execute(tq.snaplog_overwrite_daily_oracle()).fetchall()
    )
    assert got and got == want
