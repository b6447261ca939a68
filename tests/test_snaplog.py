"""SnapLog snapshot-log table format (sources/snaplog.py): append /
overwrite_partitions / time travel / rollback / crash-safety / concurrent
commit race / manifest-level pruning / expire GC / lineage wiring."""

from __future__ import annotations

import json
import os
import threading
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openfactverification_spark.sources import catalog, snaplog


def _events(spark, n=300, day_mod=3, tag=""):
    """Deterministic little frame: n rows over `day_mod` distinct days."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % day_mod).cast("int")).alias("day"),
            (F.col("id") * 7 % 100).cast("double").alias("value"),
            F.concat(F.lit(tag), F.lit("e"), F.col("id")).alias("payload"),
        )
    )


def _counts(df):
    return {
        str(r["day"]): r["n"]
        for r in df.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_append_roundtrip_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = _events(spark, 300, tag="a")
    s1 = snaplog.append(spark, t, df1, partition_cols=["day"])
    df2 = _events(spark, 90, tag="b")
    s2 = snaplog.append(spark, t, df2)

    # latest = union; schema (incl. typed partition col) round-trips
    back = snaplog.read(spark, t)
    assert back.count() == 390
    assert dict(back.dtypes)["day"] == "date"
    assert _counts(back) == _counts(df1.unionByName(df2))

    # time travel by snapshot id and by version
    old = snaplog.read(spark, t, snapshot_id=s1["snapshot_id"])
    assert old.count() == 300
    assert {r["payload"][0] for r in old.select(F.substring("payload", 1, 1).alias("payload")).distinct().collect()} == {"a"}
    assert snaplog.read(spark, t, version=2).count() == 390
    assert s2["parent_id"] == s1["snapshot_id"]

    hist = snaplog.history(spark, t)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[-1]["operation"] == "append"


def test_overwrite_partitions_exact_semantics(spark, tmp_path):
    """Replaces exactly the partitions present in the frame; equality is
    checked against the plain-DataFrame recomputation of the same semantics
    (the dynamic-overwrite oracle)."""
    t = str(tmp_path / "tbl")
    base = _events(spark, 300, tag="a")  # days 01..03, 100 rows each
    snaplog.append(spark, t, base, partition_cols=["day"])

    # new data only for day 2024-01-02 (58 rows) — other days must survive
    patch = _events(spark, 58, day_mod=1, tag="p").withColumn(
        "day", F.lit("2024-01-02").cast("date")
    )
    s = snaplog.overwrite_partitions(spark, t, patch)
    assert s["summary"]["replaced_partitions"] == 1

    expected = base.filter(F.col("day") != "2024-01-02").unionByName(patch)
    got = snaplog.read(spark, t)
    assert _counts(got) == _counts(expected)
    got_d2 = got.filter(F.col("day") == "2024-01-02")
    assert got_d2.count() == 58
    assert {r["p"] for r in got_d2.select(F.substring("payload", 1, 1).alias("p")).distinct().collect()} == {"p"}

    # idempotent re-run converges (crash-replay of the same commit)
    snaplog.overwrite_partitions(spark, t, patch)
    assert _counts(snaplog.read(spark, t)) == _counts(expected)


def test_crash_before_log_commit_leaves_previous_snapshot_live(spark, tmp_path):
    """Write-ahead ordering: data files land before the log entry, so a crash
    between the two leaves orphan files and an intact previous snapshot."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 100), partition_cols=["day"])

    # simulate the crash: write data files but never commit the manifest
    fs = snaplog._Fs(spark, t)
    snaplog._write_data_files(_events(spark, 999, tag="orphan"), fs, ["day"])

    assert len(snaplog.history(spark, t)) == 1
    assert snaplog.read(spark, t).count() == 100  # orphans invisible

    # and the table still accepts new commits afterwards
    snaplog.append(spark, t, _events(spark, 50, tag="c"))
    assert snaplog.read(spark, t).count() == 150


class _PutOnlyFs:
    """Object-store stand-in for _Fs.fs: its only exclusive primitive is an
    atomic create(p, overwrite=False), refused with FileAlreadyExists when
    the slot is taken, and it has no rename. ``before_create`` runs inside
    create, after create_exclusive's fast-path exists check."""

    _lock = threading.Lock()

    def __init__(self, real, before_create, calls: list):
        self._real = real
        self._before_create = before_create
        self._calls = calls

    def __getattr__(self, name):
        return getattr(self._real, name)

    def create(self, p, overwrite):
        self._before_create()
        with self._lock:
            if not overwrite and self._real.exists(p):
                self._calls.append(("refused", p.getName()))
                raise RuntimeError(f"FileAlreadyExistsException: {p}")
            return self._real.create(p, overwrite)

    def rename(self, src, dst):
        self._calls.append(("rename", dst.getName()))
        raise RuntimeError("object stores have no atomic rename")


@pytest.mark.parametrize("publish", ["link", "put"])
def test_concurrent_commit_race_retries_and_keeps_both(
    spark, tmp_path, monkeypatch, publish
):
    """Losing the create(v{N}.json) race must re-read the new head and retry:
    both writers' rows end up live, lineage is a chain (optimistic
    concurrency). The race is forced by landing another writer's append
    first. ``link`` (file://): the intruder runs in a monkeypatched
    create_exclusive. ``put`` (object stores): the filesystem is _PutOnlyFs
    and the intruder runs inside its create, so the loss comes from the
    refused conditional create itself, with no rename anywhere."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 100), partition_cols=["day"])

    state = {"intruded": False}
    calls: list = []

    def intrude():
        if not state["intruded"]:
            state["intruded"] = True
            # another writer lands v2 first, with its own files
            snaplog.append(spark, t, _events(spark, 40, tag="w2"))

    if publish == "link":
        real_create = snaplog._Fs.create_exclusive

        def create_with_intruder(self, p, payload):
            intrude()
            return real_create(self, p, payload)

        monkeypatch.setattr(snaplog._Fs, "create_exclusive", create_with_intruder)
    else:
        real_init = snaplog._Fs.__init__

        def init_put_only(self, spark_, root):
            real_init(self, spark_, root)
            self.fs = _PutOnlyFs(self.fs, intrude, calls)

        monkeypatch.setattr(snaplog, "_publish_strategy", lambda scheme: "put")
        monkeypatch.setattr(snaplog._Fs, "__init__", init_put_only)
    snaplog.append(spark, t, _events(spark, 60, tag="w1"))

    assert state["intruded"]
    hist = snaplog.history(spark, t)
    assert [h["version"] for h in hist] == [1, 2, 3]
    # chain: each parent is the previous snapshot id
    assert hist[1]["parent_id"] == hist[0]["snapshot_id"]
    assert hist[2]["parent_id"] == hist[1]["snapshot_id"]
    assert snaplog.read(spark, t).count() == 200
    # put: the one loss is the refused create of v2, and nothing renames
    assert calls == ([("refused", "v2.json")] if publish == "put" else [])


def test_manifest_level_partition_pruning(spark, tmp_path):
    """A partition filter prunes at the manifest: Spark's inputFiles must only
    name files of the selected day."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 300), partition_cols=["day"])

    pruned = snaplog.read(spark, t, partition_filter={"day": "2024-01-02"})
    assert pruned.count() == 100
    files = pruned.inputFiles()
    head = snaplog.current_snapshot(spark, t)
    assert files and _rel_paths(pruned, t) == {
        f["path"] for f in head["files"] if f["partition"]["day"] == "2024-01-02"
    }

    full_files = snaplog.read(spark, t).inputFiles()
    assert len(files) < len(full_files)

    with pytest.raises(ValueError):
        snaplog.read(spark, t, partition_filter={"value": 1.0})


def test_rollback_and_expire(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = snaplog.append(spark, t, _events(spark, 100, tag="a"), partition_cols=["day"])
    snaplog.append(spark, t, _events(spark, 50, tag="b"))
    s3 = snaplog.rollback(spark, t, s1["snapshot_id"])
    assert s3["operation"] == "rollback"
    assert snaplog.read(spark, t).count() == 100  # b's rows gone from head
    # ...but still time-travelable until expiry
    assert snaplog.read(spark, t, version=2).count() == 150

    gone = snaplog.expire_snapshots(spark, t, keep_last=1)
    assert gone["expired_snapshots"] == 2
    assert gone["deleted_files"] > 0  # b's files were unreachable from head
    assert snaplog.read(spark, t).count() == 100  # head intact after GC
    with pytest.raises(ValueError):
        snaplog.read(spark, t, version=2)


def test_lineage_wiring_and_detection(spark, tmp_path):
    t = str(tmp_path / "tbl")
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    assert catalog.current_lineage(spark, plain, fallback="fp") == "fp"

    s = snaplog.append(spark, t, _events(spark, 30), partition_cols=["day"])
    assert snaplog.is_snaplog_table(spark, t)
    assert not snaplog.is_snaplog_table(spark, plain)
    lin = catalog.current_lineage(spark, t, fallback="fp")
    assert lin == f"snaplog-snapshot:{s['snapshot_id']}"

    # deterministic content-derived ids: same parent + same file set -> same id
    fs = snaplog._Fs(spark, t)
    snap = snaplog._load_snapshot(fs, 1)
    assert snaplog._snapshot_id(None, snap["files"]) == snap["snapshot_id"]


def test_snapshot_json_is_self_describing(spark, tmp_path):
    """The log entry carries everything a reader needs: schema, partition
    spec, full file listing with hive partition values."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 90), partition_cols=["day"])
    with open(os.path.join(t, "_snaplog", "v1.json")) as f:
        snap = json.load(f)
    assert snap["partition_cols"] == ["day"]
    assert snap["summary"]["total_files"] == len(snap["files"])
    days = {f["partition"]["day"] for f in snap["files"]}
    assert days == {"2024-01-01", "2024-01-02", "2024-01-03"}
    schema = json.loads(snap["schema"])
    assert {f["name"] for f in schema["fields"]} == {"event_id", "day", "value", "payload"}


def test_compact_small_files(spark, tmp_path):
    """Three appends -> partitions hold 3 files each; compact rewrites them to
    one file per partition in ONE atomic rewrite snapshot, rows identical,
    pre-compaction state still time-travelable."""
    t = str(tmp_path / "tbl")
    for i in range(3):
        snaplog.append(spark, t, _events(spark, 90, tag=f"c{i}"), partition_cols=["day"])
    before = snaplog.read(spark, t)
    n_before_files = len(before.inputFiles())
    assert n_before_files >= 9  # 3 days x 3 commits

    snap = snaplog.compact(spark, t)
    assert snap["operation"] == "rewrite"
    assert snap["summary"]["compacted_partitions"] == 3
    after = snaplog.read(spark, t)
    assert len(after.inputFiles()) == 3  # one file per day
    assert _counts(after) == _counts(before)
    assert after.count() == 270
    # old layout still reachable by version
    assert len(snaplog.read(spark, t, version=3).inputFiles()) == n_before_files
    # nothing left to compact
    assert snaplog.compact(spark, t) is None


def test_compact_aborts_if_head_moves(spark, tmp_path):
    """Compaction derived from head H must refuse to commit once another
    writer lands H+1 (a retry would silently drop the concurrent files)."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 90, tag="a"), partition_cols=["day"])
    snaplog.append(spark, t, _events(spark, 90, tag="b"))

    real_create = snaplog._Fs.create_exclusive
    state = {"intruded": False}

    def create_with_intruder(self, p, payload):
        if not state["intruded"] and payload.get("operation") == "rewrite":
            state["intruded"] = True
            snaplog.append(spark, t, _events(spark, 30, tag="late"))
        return real_create(self, p, payload)

    try:
        snaplog._Fs.create_exclusive = create_with_intruder
        with pytest.raises(snaplog.CommitConflict):
            snaplog.compact(spark, t)
    finally:
        snaplog._Fs.create_exclusive = real_create
    # the loser's data is intact: late append present, no duplicates
    assert snaplog.read(spark, t).count() == 210


def _file_relations(df) -> int:
    """Parquet relations in df's optimized plan."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("Relation [")


def _rel_paths(df, table) -> set[str]:
    """df.inputFiles() as table-relative paths, the manifest's form."""
    return {os.path.relpath(urlparse(u).path, table) for u in df.inputFiles()}


def _flat(spark, n, tag):
    """Unpartitioned rows, two files per append."""
    return _events(spark, n, tag=tag).drop("day").repartition(2)


@pytest.mark.parametrize("pcols", [[], ["day"]], ids=["unpartitioned", "day"])
def test_read_is_one_relation(spark, tmp_path, pcols):
    """A table reads as ONE parquet relation whatever its commit count,
    partitioned or not, over exactly the snapshot's files: time travel still
    pins the older file set, a partition column reads back typed from the
    files, and a frame missing a column reads back null-filled through the
    explicit schema."""
    t = str(tmp_path / "tbl")
    snaps = []
    for k in range(1, 7):
        df = _events(spark, 50, tag=f"u{k}").repartition(2)
        if not pcols:
            df = df.drop("day")
        if k == 6:
            df = df.drop("value")
        snaps.append(snaplog.append(spark, t, df, partition_cols=pcols))
        if k in (1, 3, 6):
            back = snaplog.read(spark, t)
            assert _file_relations(back) == 1, k
            assert _rel_paths(back, t) == {f["path"] for f in snaps[-1]["files"]}
            assert back.count() == 50 * k

    head = snaplog.read(spark, t)
    assert head.columns == ["event_id", *(["day"] if pcols else []), "value", "payload"]
    if pcols:
        assert head.schema["day"].dataType == T.DateType()
        want_day = F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("event_id") % 3).cast("int")
        )
        assert head.filter(F.col("day").eqNullSafe(want_day)).count() == 300
    missing = head.filter(F.col("payload").startswith("u6"))
    assert missing.count() == 50
    assert missing.filter(F.col("value").isNotNull()).count() == 0
    assert head.filter(F.col("value").isNull()).count() == 50

    v2 = snaplog.read(spark, t, version=2)
    assert _file_relations(v2) == 1
    assert _rel_paths(v2, t) == {f["path"] for f in snaps[1]["files"]}
    assert {r["payload"][:2] for r in v2.collect()} == {"u1", "u2"}


def test_unpartitioned_read_runs_no_listing_job(spark, tmp_path):
    """The manifest is the listing: a read naming more files than Spark's
    parallel-discovery threshold (32) stats them without a Spark job, and
    leaves the session's threshold as it found it."""
    t = str(tmp_path / "wide")
    snaplog.append(spark, t, spark.range(0, 400, 1, 40).toDF("id"))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    sc = spark.sparkContext
    group = f"snaplog-listing-{tmp_path.name}"
    try:
        sc.setJobGroup(group, group)
        df = snaplog.read(spark, t)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(df.inputFiles()) == 40
    assert jobs == 0
    assert spark.conf.get(key) == before
    assert df.count() == 400


def test_compact_unpartitioned_table(spark, tmp_path):
    """compact rewrites an unpartitioned table's files as one file, rows
    unchanged, and the pre-compaction snapshot still reads its old files."""
    t = str(tmp_path / "flat")
    for k in range(4):
        snaplog.append(spark, t, _flat(spark, 40, f"c{k}").coalesce(1))
    before = sorted(tuple(r) for r in snaplog.read(spark, t).collect())
    assert len(snaplog.current_snapshot(spark, t)["files"]) == 4

    snap = snaplog.compact(spark, t)
    assert snap["summary"]["compacted_files_in"] == 4
    assert len(snap["files"]) == 1
    after = snaplog.read(spark, t)
    assert len(after.inputFiles()) == 1
    assert sorted(tuple(r) for r in after.collect()) == before
    old = snaplog.read(spark, t, version=4)
    assert len(old.inputFiles()) == 4
    assert sorted(tuple(r) for r in old.collect()) == before
    assert snaplog.compact(spark, t) is None


def test_head_pinned_read_loads_the_log_once(spark, tmp_path, monkeypatch):
    """A read pinned to the head's snapshot_id is the head _head already
    loaded: one snapshot JSON read, not a second load of v{N}.json."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 10, tag="a"))
    s2 = snaplog.append(spark, t, _events(spark, 5, tag="b"))
    names = []
    orig = snaplog._Fs.read_json

    def counting(self, p):
        names.append(p.getName())
        return orig(self, p)

    monkeypatch.setattr(snaplog._Fs, "read_json", counting)
    df = snaplog.read(spark, t, snapshot_id=s2["snapshot_id"])
    assert names == ["v2.json"]
    monkeypatch.setattr(snaplog._Fs, "read_json", orig)
    assert df.count() == 15


def test_streaming_snaplog_sink_exactly_once(spark, tmp_path):
    """run_to_sinks_stream: stream counts == batch counts in the batch sink
    layout, every micro-batch is one snapshot carrying its batch id, and a
    full re-run with a FRESH checkpoint (same batch ids replayed from
    scratch) commits nothing new."""
    from openfactverification_spark.plans.pipeline import build_pipeline
    from openfactverification_spark.sources.transcripts import transcripts_df
    from openfactverification_spark.streaming import pipeline as spipe

    src = str(tmp_path / "src")
    transcripts_df(spark, 1500).write.parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "out")

    stream = spark.readStream.schema(schema).parquet(src)
    q = spipe.run_to_sinks_stream(spark, stream, out, str(tmp_path / "ck1"))
    q.awaitTermination(300)

    table = f"{out}/sinks"
    assert snaplog.current_snapshot(spark, table)["partition_cols"] == ["route", "ts_day"]
    got = {
        r["route"]: r["n"]
        for r in snaplog.read(spark, table).groupBy("route").count()
        .withColumnRenamed("count", "n").collect()
    }
    batch = build_pipeline(spark, spark.read.parquet(src)).routed
    want = {
        r["route"]: r["n"]
        for r in batch.groupBy("route").count().withColumnRenamed("count", "n").collect()
    }
    assert got == want

    hist = snaplog.history(spark, table)
    batch_ids = [h["summary"].get("stream_batch_id") for h in hist]
    assert all(b is not None for b in batch_ids)
    assert len(set(batch_ids)) == len(batch_ids)

    # replay from scratch: fresh checkpoint, same source -> same batch ids ->
    # every batch skips; the log must not grow and counts must not change
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = spipe.run_to_sinks_stream(spark, stream2, out, str(tmp_path / "ck2"))
    q2.awaitTermination(300)
    assert len(snaplog.history(spark, table)) == len(hist)
    got2 = {
        r["route"]: r["n"]
        for r in snaplog.read(spark, table).groupBy("route").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got2 == want


def test_schema_evolution_add_column(spark, tmp_path):
    """Additive evolution: a later append with an extra column evolves the
    manifest schema; old files null-fill the new column on read (on a
    partitioned table, whose partition column the files carry), and time
    travel to the pre-evolution snapshot keeps the original schema."""
    t = str(tmp_path / "evo")
    s1 = snaplog.append(spark, t, _events(spark, 60), partition_cols=["day"])
    evolved = _events(spark, 40, tag="n").withColumn(
        "quality", (F.col("event_id") % 5).cast("int")
    )
    snaplog.append(spark, t, evolved)

    head = snaplog.read(spark, t)
    assert "quality" in head.columns
    assert head.count() == 100
    old_rows = head.filter(~F.col("payload").startswith("n"))
    assert old_rows.count() == 60
    assert old_rows.filter(F.col("quality").isNotNull()).count() == 0
    assert head.filter(F.col("quality").isNotNull()).count() == 40

    pinned = snaplog.read(spark, t, snapshot_id=s1["snapshot_id"])
    assert "quality" not in pinned.columns
    assert pinned.count() == 60


def test_schema_evolution_missing_column_kept(spark, tmp_path):
    """A frame missing an existing column does NOT drop it from the table:
    the logical schema stays a superset and the new file reads as NULL."""
    t = str(tmp_path / "evo2")
    snaplog.append(spark, t, _events(spark, 30), partition_cols=["day"])
    snaplog.append(spark, t, _events(spark, 20, tag="m").drop("value"))
    head = snaplog.read(spark, t)
    assert "value" in head.columns
    assert head.count() == 50
    assert head.filter(F.col("value").isNull()).count() == 20


def test_concurrent_add_column_survives_a_racing_append(spark, tmp_path, monkeypatch):
    """Writer A writes its files, writer B then commits a new column ``x``,
    and A commits last: A's snapshot must evolve its schema against B's head,
    so the head keeps ``x`` and B's rows still read back ``'x'``."""
    t = str(tmp_path / "evo_race")
    snaplog.append(spark, t, _events(spark, 30))
    real_write = snaplog._write_data_files
    state = {"raced": False}

    def write_then_race(df, fs, partition_cols):
        out = real_write(df, fs, partition_cols)
        if not state["raced"]:
            state["raced"] = True
            b = _events(spark, 20, tag="b").withColumn("x", F.lit("x"))
            snaplog.append(spark, t, b)
        return out

    monkeypatch.setattr(snaplog, "_write_data_files", write_then_race)
    snaplog.append(spark, t, _events(spark, 10, tag="a"))
    monkeypatch.setattr(snaplog, "_write_data_files", real_write)

    assert [h["version"] for h in snaplog.history(spark, t)] == [1, 2, 3]
    head = snaplog.read(spark, t)
    assert "x" in head.columns
    assert head.count() == 60
    b_rows = head.filter(F.col("payload").startswith("b"))
    assert b_rows.count() == 20
    assert b_rows.filter(F.col("x") == "x").count() == 20
    assert head.filter(F.col("x").isNotNull()).count() == 20


def test_schema_evolution_type_change_rejected(spark, tmp_path):
    t = str(tmp_path / "evo3")
    snaplog.append(spark, t, _events(spark, 10), partition_cols=["day"])
    bad = _events(spark, 5).withColumn("value", F.col("value").cast("string"))
    with pytest.raises(ValueError, match="type change"):
        snaplog.append(spark, t, bad)


def test_torn_head_is_skipped_not_bricking(spark, tmp_path):
    """A truncated v{N}.json (crashed writer mid-payload) must not brick the
    table: every read path SKIPS it (no rename/delete — a destructive
    quarantine could race a peer re-using the slot and destroy a committed
    head), the head falls back to the previous snapshot, the next commit
    claims the version ABOVE the debris, and history/expire tolerate it."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 30, tag="a"), partition_cols=["day"])
    log = tmp_path / "tbl" / "_snaplog"
    (log / "v2.json").write_text('{"version": 2, "files": [{"trunc')

    head = snaplog.current_snapshot(spark, t)
    assert head["version"] == 1
    assert snaplog.read(spark, t).count() == 30
    # the torn slot is never reclaimed: the next commit takes v3, the debris
    # stays inert on disk and is invisible to history()
    s2 = snaplog.append(spark, t, _events(spark, 12, tag="b"))
    assert s2["version"] == 3
    assert snaplog.read(spark, t).count() == 42
    assert [h["version"] for h in snaplog.history(spark, t)] == [1, 3]
    assert (log / "v2.json").exists()  # untouched — nothing was destroyed
    # expiry sweeps the debris' log file along with expired snapshots
    snaplog.expire_snapshots(spark, t, keep_last=1)
    assert not (log / "v2.json").exists()
    assert snaplog.read(spark, t).count() == 42


def test_commit_payload_lands_via_tmp_rename(spark, tmp_path):
    """create_exclusive writes through a temp name: no committed log file may
    coexist with leftover tmp debris being mistaken for a snapshot, and a
    stray tmp file never enters the version listing."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 10), partition_cols=["day"])
    log = tmp_path / "tbl" / "_snaplog"
    (log / ".v9.json.deadbeef.tmp").write_text("{}")
    assert snaplog.current_snapshot(spark, t)["version"] == 1
    s2 = snaplog.append(spark, t, _events(spark, 10))
    assert s2["version"] == 2  # tmp file did not claim v9


def test_partition_filter_normalizes_python_types(spark, tmp_path):
    """A Python bool filter must match the writer's lowercase hive encoding
    (str(True) == 'True' used to prune every file silently)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, True)], "id long, flag boolean"
    )
    snaplog.append(spark, t, df, partition_cols=["flag"])
    hits = snaplog.read(spark, t, partition_filter={"flag": True})
    assert sorted(r["id"] for r in hits.collect()) == [1, 3]
    misses = snaplog.read(spark, t, partition_filter={"flag": False})
    assert sorted(r["id"] for r in misses.collect()) == [2]
    # string form still accepted, any case
    assert snaplog.read(spark, t, partition_filter={"flag": "True"}).count() == 2


def test_partition_filter_reads_the_manifest_subset(spark, tmp_path):
    """Over three commits a partition filter hands Spark exactly the
    manifest's matching files, as one relation, and the null partition
    reads back exactly its rows, as null."""
    t = str(tmp_path / "routes")
    for k in range(3):
        df = spark.range(30).select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 3 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("r"), (F.col("id") % 3).cast("string")))
            .alias("route"),
            F.lit(f"c{k}").alias("payload"),
        )
        snaplog.append(spark, t, df, partition_cols=["route"])
    head = snaplog.current_snapshot(spark, t)

    def manifest(value):
        return {f["path"] for f in head["files"] if f["partition"]["route"] == value}

    r1 = snaplog.read(spark, t, partition_filter={"route": "r1"})
    assert _file_relations(r1) == 1
    assert _rel_paths(r1, t) == manifest("r1")
    assert {r["route"] for r in r1.collect()} == {"r1"}
    assert r1.count() == 30

    nulls = snaplog.read(spark, t, partition_filter={"route": None})
    assert _rel_paths(nulls, t) == manifest("__HIVE_DEFAULT_PARTITION__")
    rows = nulls.collect()
    assert all(r["route"] is None for r in rows)
    assert sorted((r["event_id"], r["payload"]) for r in rows) == sorted(
        (i, f"c{k}") for k in range(3) for i in range(0, 30, 3)
    )


def test_partitioned_v1_table_is_refused(spark, tmp_path):
    """A partitioned format-1 snapshot keeps its partition values only in
    directory names: reading it would give nulls and extending it would mix
    layouts, so both raise. An unpartitioned v1 table's files are v2 files:
    it still reads and takes appends."""

    def as_v1(table):
        path = os.path.join(table, "_snaplog", "v1.json")
        with open(path) as f:
            snap = json.load(f)
        snap["format_version"] = 1
        with open(path, "w") as f:
            json.dump(snap, f)

    t = str(tmp_path / "part")
    snaplog.append(spark, t, _events(spark, 30), partition_cols=["day"])
    as_v1(t)
    with pytest.raises(ValueError, match=r"part is partitioned format_version 1"):
        snaplog.read(spark, t)
    with pytest.raises(ValueError, match="format_version 1"):
        snaplog.append(spark, t, _events(spark, 10, tag="b"))
    assert len(snaplog.history(spark, t)) == 1

    flat = str(tmp_path / "flat")
    snaplog.append(spark, flat, _flat(spark, 30, "a"))
    as_v1(flat)
    assert snaplog.read(spark, flat).count() == 30
    snaplog.append(spark, flat, _flat(spark, 10, "b"))
    assert snaplog.read(spark, flat).count() == 40


def test_is_snaplog_table_propagates_io_errors(spark, tmp_path, monkeypatch):
    """A failing existence check raises instead of reading as "not a SnapLog
    table", which would send callers down the plain-parquet path."""
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    assert not snaplog.is_snaplog_table(spark, plain)

    def unreachable(self, p):
        raise OSError("storage unreachable")

    monkeypatch.setattr(snaplog._Fs, "exists", unreachable)
    with pytest.raises(OSError, match="unreachable"):
        snaplog.is_snaplog_table(spark, plain)


def test_crash_mid_commit_leaves_no_torn_snapshot(spark, tmp_path, monkeypatch):
    """Kill the writer at the _commit boundary — tmp payload written, rename
    not reached (r3 verdict #5): the previous snapshot stays live, reads keep
    working, and the retried commit converges to the same end state with no
    torn v{N}.json ever visible."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 90), partition_cols=["day"])
    head = snaplog.current_snapshot(spark, t)
    orig = snaplog._Fs.create_exclusive

    def dying(self, p, payload):
        tmp = self.path_cls(p.getParent(), f".{p.getName()}.dying.tmp")
        out = self.fs.create(tmp, False)
        try:
            out.write(bytearray(b'{"torn": '))
        finally:
            out.close()
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(snaplog._Fs, "create_exclusive", dying)
    replacement = _events(spark, 30, day_mod=1, tag="n")
    with pytest.raises(RuntimeError, match="killed mid-commit"):
        snaplog.overwrite_partitions(spark, t, replacement)
    monkeypatch.setattr(snaplog._Fs, "create_exclusive", orig)

    # nothing torn: head unchanged, table fully readable
    assert snaplog.current_snapshot(spark, t)["snapshot_id"] == head["snapshot_id"]
    assert snaplog.read(spark, t).count() == 90
    log = tmp_path / "tbl" / "_snaplog"
    assert not (log / "v2.json").exists()

    # the retry converges: day 2024-01-01 replaced atomically, others intact
    snap = snaplog.overwrite_partitions(spark, t, replacement)
    assert snap["version"] == 2
    assert _counts(snaplog.read(spark, t)) == {
        "2024-01-01": 30, "2024-01-02": 30, "2024-01-03": 30,
    }
    day1 = snaplog.read(spark, t, partition_filter={"day": "2024-01-01"})
    assert all(r["payload"].startswith("ne") for r in day1.collect())


def test_expire_with_debris_at_tail_keeps_committed_head(spark, tmp_path):
    """The r4-advice crash state: committed v1 + torn debris v2 at the log
    TAIL, keep_last=1. The keep window must count committed snapshots only —
    counting raw versions would keep only the debris (which names no files),
    delete v1's data files and log entry, and destroy the table."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 30, tag="a"), partition_cols=["day"])
    log = tmp_path / "tbl" / "_snaplog"
    (log / "v2.json").write_text('{"version": 2, "files": [{"trunc')

    res = snaplog.expire_snapshots(spark, t, keep_last=1)
    assert res["expired_snapshots"] == 0
    assert res["deleted_files"] == 0
    # debris sits ABOVE the oldest kept committed version (could be a peer
    # mid-publish) so it is NOT swept
    assert res["swept_debris"] == 0
    assert (log / "v1.json").exists()
    assert (log / "v2.json").exists()
    assert snaplog.read(spark, t).count() == 30  # table alive, not destroyed

    # once a newer committed snapshot exists above it, the debris is dead
    # weight below the keep window and IS swept
    snaplog.append(spark, t, _events(spark, 12, tag="b"))
    res2 = snaplog.expire_snapshots(spark, t, keep_last=1)
    assert res2["expired_snapshots"] == 1  # v1
    assert res2["swept_debris"] == 1  # v2 debris, now below kept v3
    assert not (log / "v2.json").exists()
    assert snaplog.read(spark, t).count() == 42


def test_head_reraises_non_tolerable_read_errors(spark, tmp_path, monkeypatch):
    """_head must tolerate ONLY torn JSON and vanished-mid-read: any other
    error (transient IO, permissions) re-raises instead of silently falling
    back to an older snapshot — inside _commit that fallback would build the
    next version on a stale parent and silently drop the true head's files."""
    t = str(tmp_path / "tbl")
    snaplog.append(spark, t, _events(spark, 10, tag="a"), partition_cols=["day"])
    snaplog.append(spark, t, _events(spark, 5, tag="b"))

    orig = snaplog._Fs.read_json

    def flaky(self, p):
        if p.getName() == "v2.json":
            raise OSError("transient I/O hiccup on true head")
        return orig(self, p)

    monkeypatch.setattr(snaplog._Fs, "read_json", flaky)
    with pytest.raises(OSError, match="transient"):
        snaplog.current_snapshot(spark, t)
    # the commit path fails loudly too instead of committing data loss
    with pytest.raises(OSError, match="transient"):
        snaplog.append(spark, t, _events(spark, 3, tag="c"))
    monkeypatch.setattr(snaplog._Fs, "read_json", orig)
    assert snaplog.current_snapshot(spark, t)["version"] == 2
    assert snaplog.read(spark, t).count() == 15


def test_publish_strategy_per_scheme():
    """Object stores (no atomic rename; exists()+rename is check-then-act and
    S3A rename is a non-atomic copy) publish via create(overwrite=false) —
    the conditional PUT — never via rename."""
    assert snaplog._publish_strategy("file") == "link"
    for s in ("s3a", "s3", "gs", "abfs", "abfss", "wasbs", "oss"):
        assert snaplog._publish_strategy(s) == "put", s
    assert snaplog._publish_strategy("hdfs") == "rename"
    assert snaplog._publish_strategy("viewfs") == "rename"


def test_refused_commit_writes_no_data_files(spark, tmp_path):
    """append and overwrite_partitions check the head's format before they
    write: a commit refused for a partitioned format-1 table leaves no
    orphan commit directory under data/."""
    t = str(tmp_path / "part")
    snaplog.append(spark, t, _events(spark, 30), partition_cols=["day"])
    log = os.path.join(t, snaplog.LOG_DIR, "v1.json")
    with open(log) as f:
        snap = json.load(f)
    snap["format_version"] = 1
    with open(log, "w") as f:
        json.dump(snap, f)
    data = os.path.join(t, snaplog.DATA_DIR)
    before = sorted(os.listdir(data))

    with pytest.raises(ValueError, match="format_version 1"):
        snaplog.append(spark, t, _events(spark, 10, tag="b"))
    with pytest.raises(ValueError, match="format_version 1"):
        snaplog.overwrite_partitions(spark, t, _events(spark, 10, tag="c"))
    assert sorted(os.listdir(data)) == before
    assert len(snaplog.history(spark, t)) == 1
