"""Streaming ingest dedup: micro-batches judged against a SnapLog signature
store — the continuous form of operators.dual.q_dedup_incremental.

The production loop for continuously-ingested training data: every incoming
batch of documents is near-dup-checked against everything ACCEPTED so far,
and only accepted docs' signatures are appended to the store. Semantics are
exactly the batch operator's (same minhash banding + exact-jaccard verify,
same dup_of_seen / dup_in_batch / new rules, keeper-by-min); the
stream≡batch equality is pinned by tests/test_streaming_ingest_dedup.py.

Store layout (two SnapLog tables — band stream for candidate generation,
shingle stream for the exact verify):

    store/bands    (doc_id, band_idx, band_key)
    store/sh       (doc_id, shingle)
    out/status     (doc_id, batch_id, status, dup_of)

At 10^12 docs the shingle stream would store h7 hashes rather than raw
shingles (the dedup_ngram_spans trade); raw shingles keep the jaccard
arithmetic bit-identical to the batch operator here.

Exactly-once: foreachBatch is at-least-once, so every append goes through
snaplog.CommitOnce keyed by ``ingest_epoch`` and the replay path skips any
table that already committed this epoch (the same helper as
run_to_sinks_stream_snaplog, applied per table — a crash between the three
appends resumes by completing only the missing ones; each append is itself
one atomic snapshot)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import dual
from ..operators.dual import D
from ..session import local_frame
from ..sources import snaplog

_S = D("spark")
DEFAULT_THRESHOLD = 0.15


def _pre_epoch_snapshot_id(spark: SparkSession, table: str, epoch: int) -> str | None:
    """Newest snapshot NOT committed under this ingest_epoch — the store view a
    replay must judge against. A crash between the store appends and the
    status append leaves this epoch's accepted signatures already in the
    store; recomputing `seen` against the unpinned head would self-match
    every accepted doc at jaccard 1.0 (dup_of_seen of itself) and reclassify
    the dup_in_batch docs. Pinning store reads to the pre-epoch snapshot
    makes the replay byte-identical to the first attempt. Returns None when
    every snapshot carries this epoch (the store was empty before it).

    Walks the log NEWEST-FIRST loading one snapshot JSON at a time
    (snaplog.snapshots_newest_first, which also skips torn debris the way
    every other read path does): in the common non-replay case the head
    already lacks the current epoch, so the per-batch cost is one name
    listing + ONE small read — not the full-log scan history() would do
    (that would quietly re-introduce the unbounded per-batch driver I/O
    snaplog.CommitOnce exists to eliminate; only a genuine replay ever reads
    a second snapshot)."""
    for s in snaplog.snapshots_newest_first(spark, table):
        if s["summary"].get("ingest_epoch") != epoch:
            return s["snapshot_id"]
    return None


def _shingles(docs: DataFrame) -> DataFrame:
    # df.sparkSession, NOT the caller's session: inside foreachBatch the
    # micro-batch DataFrame belongs to a CLONED SparkSession, and temp views
    # are session-scoped — registering on the clone and querying through the
    # outer session silently resolves whatever view the outer session last
    # held (here: seed_store's corpus — every batch classified the corpus)
    docs.createOrReplaceTempView("ingest_docs")
    sh = dual.shingles_expr(_S)
    return docs.sparkSession.sql(
        f"SELECT doc_id, explode({sh}) AS shingle FROM ingest_docs"
    ).localCheckpoint(eager=True)


def _bands(sh: DataFrame) -> DataFrame:
    sh.createOrReplaceTempView("ingest_sh")
    sql = (
        f"WITH {dual.minhash_sig_cte(_S, sh_sql='SELECT doc_id, shingle FROM ingest_sh')}"
        f"\nSELECT * FROM ({dual.minhash_bands_sql(_S)}) b"
    )
    return sh.sparkSession.sql(sql).localCheckpoint(eager=True)


def _verified(
    cand: DataFrame,
    sh_x: DataFrame,
    sh_y: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-jaccard verify of candidate pairs (x from the batch, y from the
    partner side): same arithmetic as q_dedup_minhash_lsh's verify stage."""
    cand.createOrReplaceTempView("ingest_cand")
    sh_x.createOrReplaceTempView("ingest_shx")
    sh_y.createOrReplaceTempView("ingest_shy")
    return cand.sparkSession.sql(
        f"""
WITH szx AS (SELECT doc_id, count(*) AS sz FROM ingest_shx GROUP BY doc_id),
szy AS (SELECT doc_id, count(*) AS sz FROM ingest_shy GROUP BY doc_id),
inter AS (
  SELECT c.x, c.y, count(*) AS n_common
  FROM ingest_cand c
  JOIN ingest_shx a ON a.doc_id = c.x
  JOIN ingest_shy b ON b.doc_id = c.y AND a.shingle = b.shingle
  GROUP BY c.x, c.y
)
SELECT i.x, i.y
FROM inter i
JOIN szx ON szx.doc_id = i.x
JOIN szy ON szy.doc_id = i.y
WHERE cast(i.n_common as double) / (szx.sz + szy.sz - i.n_common) >= {threshold}"""
    ).localCheckpoint(eager=True)


def _append_accepted(
    store_dir: str,
    sh: DataFrame,
    bands: DataFrame,
    accepted: DataFrame,
    epoch: int,
    commits: snaplog.CommitOnce,
) -> None:
    """Append the accepted docs' shingle + band streams to the store, skipping
    any table that already committed this epoch (replay)."""
    for table, df in ((f"{store_dir}/sh", sh), (f"{store_dir}/bands", bands)):
        if commits.committed(table, epoch):
            continue
        rows = df.join(accepted, "doc_id", "semi")
        if not rows.isEmpty():
            commits.append(table, rows, epoch)


def seed_store(spark: SparkSession, docs: DataFrame, store_dir: str) -> None:
    """Bootstrap the store with an initial corpus (every doc accepted)."""
    sh = _shingles(docs)
    bands = _bands(sh)
    snaplog.append(spark, f"{store_dir}/sh", sh)
    snaplog.append(spark, f"{store_dir}/bands", bands)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch: int,
    store_dir: str,
    out_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    commits: snaplog.CommitOnce | None = None,
) -> None:
    """Judge one ingest batch against the store; append statuses + accepted
    signatures. batch_id in the output is epoch + 1 (epoch is 0-based).

    Crash-safe replay: store reads are PINNED to the newest snapshot not
    carrying this ingest_epoch (_pre_epoch_snapshot_id), so a crash between
    the store appends and the status append replays against the same store
    view the first attempt saw — the per-table skip then completes only the
    missing appends and the status rows come out identical (pinned by
    tests/test_streaming_ingest_dedup.py::test_crash_between_store_and_status).
    ``commits`` carries the committed epochs across a stream's batches; a
    direct call loads them from the logs."""
    # one session for every view/SQL in this batch: the micro-batch DataFrame
    # lives in a CLONED SparkSession and temp views are session-scoped
    s = batch_df.sparkSession
    commits = commits or snaplog.CommitOnce(s, "ingest_epoch")
    status_table = f"{out_dir}/status"
    if commits.committed(status_table, epoch):
        return  # full replay of a committed batch
    batch_df = batch_df.select("doc_id", "text").localCheckpoint(eager=True)
    sh_b = _shingles(batch_df)
    bands_b = _bands(sh_b)

    store_sh_t, store_bands_t = f"{store_dir}/sh", f"{store_dir}/bands"
    pin_sh = pin_bands = None
    has_store = snaplog.current_snapshot(s, store_bands_t) is not None
    if has_store:
        pin_bands = _pre_epoch_snapshot_id(s, store_bands_t, epoch)
        pin_sh = _pre_epoch_snapshot_id(s, store_sh_t, epoch)
        # every snapshot carries this epoch -> the store held nothing before
        # this batch first ran; judge against an empty store, as run 1 did
        has_store = pin_bands is not None and pin_sh is not None
    if has_store:
        sh_s = snaplog.read(s, store_sh_t, snapshot_id=pin_sh)
        bands_s = snaplog.read(s, store_bands_t, snapshot_id=pin_bands)
        cand_seen = (
            bands_b.alias("q")
            .join(
                bands_s.alias("s"),
                ["band_idx", "band_key"],
            )
            .selectExpr("q.doc_id AS x", "s.doc_id AS y")
            .distinct()
        )
        seen = (
            _verified(cand_seen, sh_b, sh_s, threshold)
            .groupBy("x")
            .agg({"y": "min"})
            .withColumnRenamed("min(y)", "dup_of")
            .withColumnRenamed("x", "doc_id")
            .localCheckpoint(eager=True)
        )
    else:
        seen = local_frame(s, [], "doc_id long, dup_of long")

    cand_intra = (
        bands_b.alias("a")
        .join(bands_b.alias("b"), ["band_idx", "band_key"])
        .selectExpr("a.doc_id AS x", "b.doc_id AS y")
        .where("y < x")
        .distinct()
        .join(seen.selectExpr("doc_id AS x"), "x", "anti")
        .join(seen.selectExpr("doc_id AS y"), "y", "anti")
    )
    intra = (
        _verified(cand_intra, sh_b, sh_b, threshold)
        .groupBy("x")
        .agg({"y": "min"})
        .withColumnRenamed("min(y)", "dup_of")
        .withColumnRenamed("x", "doc_id")
        .localCheckpoint(eager=True)
    )

    docs_ids = batch_df.select("doc_id")
    accepted = docs_ids.join(seen, "doc_id", "anti").join(intra, "doc_id", "anti")
    batch_id = epoch + 1
    status = (
        seen.selectExpr(
            "doc_id", f"{batch_id} AS batch_id", "'dup_of_seen' AS status", "dup_of"
        )
        .unionByName(
            intra.selectExpr(
                "doc_id",
                f"{batch_id} AS batch_id",
                "'dup_in_batch' AS status",
                "dup_of",
            )
        )
        .unionByName(
            accepted.selectExpr(
                "doc_id",
                f"{batch_id} AS batch_id",
                "'new' AS status",
                "cast(NULL as bigint) AS dup_of",
            )
        )
    )
    # store first, status last: the status commit is the batch's completion
    # marker, so a crash mid-way leaves a replayable (per-table-skipped) epoch
    _append_accepted(store_dir, sh_b, bands_b, accepted, epoch, commits)
    commits.append(status_table, status, epoch)


def maintain_store(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    keep_last: int = 3,
    min_files: int = 2,
) -> dict:
    """Housekeeping between batches: compact each table's small files (one
    atomic rewrite snapshot) and expire snapshots beyond ``keep_last``.
    Every append accretes files and one log entry, so without this the store
    read fans out over per-epoch files and the startup replay scan walks an
    unbounded log.

    ``keep_last`` must exceed the stream's replay horizon: expiry drops old
    log entries INCLUDING their ingest_epoch markers, so a replay older than
    the retained suffix would not be recognized as committed. A healthy
    stream replays at most the one batch in flight when it died; 3 is a
    comfortable margin."""
    audit: dict = {}
    for table in (f"{store_dir}/sh", f"{store_dir}/bands", f"{out_dir}/status"):
        if snaplog.current_snapshot(spark, table) is None:
            continue
        c = snaplog.compact(spark, table, min_files=min_files)
        e = snaplog.expire_snapshots(spark, table, keep_last=keep_last)
        audit[table] = {
            "compacted": 0 if c is None else c["summary"]["compacted_files_in"],
            **e,
        }
    return audit


def run_ingest_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    available_now: bool = True,
    maintain_every: int = 0,
):
    """Start the streaming ingest-dedup query over a streaming documents
    source (columns doc_id, text). Returns the started StreamingQuery.
    ``maintain_every=k`` runs compaction + snapshot expiry after every k-th
    batch (0 = caller handles maintenance)."""

    commits = snaplog.CommitOnce(spark, "ingest_epoch")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(
            spark,
            batch_df,
            batch_id,
            store_dir,
            out_dir,
            threshold=threshold,
            commits=commits,
        )
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            maintain_store(batch_df.sparkSession, store_dir, out_dir)

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
