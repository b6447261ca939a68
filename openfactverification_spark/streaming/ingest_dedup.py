"""Streaming ingest dedup: micro-batches judged against a SnapLog signature
store — the continuous form of operators.dual.q_dedup_incremental, and the
Spark side of the registered dedup_incremental query
(testdata_queries.q_dedup_incremental_runner: seed_store on batch 0, then
one direct process_batch per increment).

The production loop for continuously-ingested training data: every incoming
batch of documents is near-dup-checked against everything ACCEPTED so far,
and only accepted docs' signatures are appended to the store. Semantics are
exactly the batch operator's (same minhash banding + exact-jaccard verify,
same dup_of_seen / dup_in_batch / new rules, keeper-by-min, the same
dual.MINHASH_JACCARD threshold); the stream ≡ DuckDB-template equality is
pinned by tests/test_streaming_ingest_dedup.py.

Store layout (two SnapLog tables — band stream for candidate generation,
shingle stream for the exact verify):

    store/bands    (doc_id, band_idx, band_key)
    store/sh       (doc_id, shingle)
    out/status     (doc_id, batch_id, status, dup_of)

A micro-batch is four materializations, each one eager localCheckpoint:

    signed   (doc_id, sh)        sh = the batch operator's array_distinct
                                 shingle array (dual.shingles_expr over the
                                 staged word array; NULL below 3 words)
    bands    (doc_id, band_idx, band_key)
                                 dual.minhash_sig_cte + minhash_bands_sql
                                 over explode(sh) — the batch operator's own
                                 fragments, so stream ≡ batch by construction
    seen     (doc_id, dup_of)    band candidates against the pinned store,
                                 verified against the store's shingle rows
    status   (doc_id, batch_id, status, dup_of)
                                 one projection over the batch ids: left
                                 joins to seen and to the intra-batch verify,
                                 a CASE for the label

Accepted docs are ``status = 'new'``; their count rides the status
materialization as an Observation, so an all-duplicate batch skips the store
appends without another job. seed_store builds the same signed/bands frames.

Each store read in ``seen`` is one parquet relation over the pinned
snapshot's file list, as every SnapLog read is (snaplog _frame_for_files):
an accepted batch adds a file set to store/sh and store/bands, not a
relation, and the plan is as large at batch 100 as at batch 1. The bytes
each read scans still grow with the store.

The exact-jaccard verify is array arithmetic, not a shingle-row self-join,
and is bit-identical to the batch operator's ``count(*)`` form because every
shingle array is distinct (and so is every doc's run of store/sh rows): the
intra-batch n_common = size(array_intersect(shx, shy)) is exactly the
inner-join row count, and against the store the candidate partner's rows
give szy = count(*) and n_common = sum(array_contains(shx, shingle)). The
same integers go through the same double division and threshold. Only ~1k
batch arrays are broadcast; the store's shingle rows stream past them once.

At 10^12 docs the shingle stream would store h7 hashes rather than raw
shingles (the dedup_ngram_spans trade); raw shingles keep the jaccard
arithmetic bit-identical to the batch operator here.

Exactly-once: foreachBatch is at-least-once, so every append goes through
snaplog.CommitOnce keyed by ``ingest_epoch`` and the replay path skips any
table that already committed this epoch (the same helper as
run_to_sinks_stream, applied per table — a crash between the three
appends resumes by completing only the missing ones; each append is itself
one atomic snapshot)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import dual
from ..operators.dual import D
from ..session import local_frame
from ..sources import snaplog

_S = D("spark")


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


def _signed(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each doc's distinct shingle array over its staged word
    array, materialized once. sh is NULL for a doc shorter than 3 words: it
    gets no band, no candidate and no store row, and comes out new."""
    return (
        docs.selectExpr("doc_id", f"{_S.split_ws('text')} AS w")
        .selectExpr("doc_id", f"{dual.shingles_expr(_S)} AS sh")
        .localCheckpoint(eager=True)
    )


def _banded(signed: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) of a ``signed`` frame, materialized once:
    the batch operator's own signature and band fragments over explode(sh)."""
    # signed.sparkSession, NOT the caller's session: inside foreachBatch the
    # micro-batch DataFrame belongs to a CLONED SparkSession, and temp views
    # are session-scoped — registering on the clone and querying through the
    # outer session silently resolves whatever view the outer session last
    # held (here: seed_store's corpus — every batch classified the corpus)
    signed.createOrReplaceTempView("ingest_signed")
    sh_sql = "SELECT doc_id, explode(sh) AS shingle FROM ingest_signed"
    sql = (
        f"WITH {dual.minhash_sig_cte(_S, sh_sql=sh_sql)}"
        f"\nSELECT * FROM ({dual.minhash_bands_sql(_S)}) b"
    )
    return signed.sparkSession.sql(sql).localCheckpoint(eager=True)


def _shingle_rows(signed: DataFrame) -> DataFrame:
    """The store/sh layout (doc_id, shingle) of a ``signed`` frame."""
    return signed.selectExpr("doc_id", "explode(sh) AS shingle")


def _jaccard_at_least(threshold: float) -> str:
    """The batch operator's verify predicate over n_common/szx/szy columns;
    n_common > 0 keeps its inner-join semantics (no shared shingle, no pair)."""
    return (
        "n_common > 0 AND "
        f"cast(n_common as double) / (szx + szy - n_common) >= {threshold}"
    )


def _seen_sql(threshold: float) -> str:
    """Batch docs with a verified partner in the pinned store (views
    ingest_bands/ingest_signed of the batch, ingest_store_bands/_sh of the
    store): band candidates, then the store's shingle rows of each candidate
    partner y probed against the broadcast x arrays."""
    return f"""
WITH cand AS (
  SELECT /*+ BROADCAST(q) */ DISTINCT q.doc_id AS x, s.doc_id AS y
  FROM ingest_bands q JOIN ingest_store_bands s
    ON q.band_idx = s.band_idx AND q.band_key = s.band_key
),
inter AS (
  SELECT /*+ BROADCAST(c, a) */ c.x, c.y,
         sum(cast(array_contains(a.sh, t.shingle) AS int)) AS n_common,
         first(size(a.sh)) AS szx,
         count(*) AS szy
  FROM ingest_store_sh t
  JOIN cand c ON c.y = t.doc_id
  JOIN ingest_signed a ON a.doc_id = c.x
  GROUP BY c.x, c.y
)
SELECT x AS doc_id, min(y) AS dup_of
FROM inter WHERE {_jaccard_at_least(threshold)}
GROUP BY x"""


def _status_sql(batch_id: int, threshold: float) -> str:
    """One status row per batch doc (views ingest_signed, ingest_bands,
    ingest_seen): dup_of_seen, else dup_in_batch (a smaller same-batch
    partner, neither side dup_of_seen), else new. Batch-sized sides are
    broadcast by hint: a checkpoint's size estimate can exceed the broadcast
    threshold, and the sort-merge joins planned instead shuffle both sides."""
    return f"""
WITH cand AS (
  SELECT /*+ BROADCAST(b, sx, sy) */ DISTINCT a.doc_id AS x, b.doc_id AS y
  FROM ingest_bands a JOIN ingest_bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND b.doc_id < a.doc_id
  LEFT ANTI JOIN ingest_seen sx ON sx.doc_id = a.doc_id
  LEFT ANTI JOIN ingest_seen sy ON sy.doc_id = b.doc_id
),
pairs AS (
  SELECT /*+ BROADCAST(a, b) */ c.x, c.y,
         size(array_intersect(a.sh, b.sh)) AS n_common,
         size(a.sh) AS szx, size(b.sh) AS szy
  FROM cand c
  JOIN ingest_signed a ON a.doc_id = c.x
  JOIN ingest_signed b ON b.doc_id = c.y
),
intra AS (
  SELECT x AS doc_id, min(y) AS dup_of
  FROM pairs WHERE {_jaccard_at_least(threshold)}
  GROUP BY x
)
SELECT /*+ BROADCAST(s, i) */ d.doc_id, {batch_id} AS batch_id,
       CASE WHEN s.doc_id IS NOT NULL THEN 'dup_of_seen'
            WHEN i.doc_id IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       coalesce(s.dup_of, i.dup_of) AS dup_of
FROM ingest_signed d
LEFT JOIN ingest_seen s ON s.doc_id = d.doc_id
LEFT JOIN intra i ON i.doc_id = d.doc_id"""


def seed_store(spark: SparkSession, docs: DataFrame, store_dir: str) -> None:
    """Bootstrap the store with an initial corpus (every doc accepted)."""
    signed = _signed(docs)
    bands = _banded(signed)
    snaplog.append(spark, f"{store_dir}/sh", _shingle_rows(signed))
    snaplog.append(spark, f"{store_dir}/bands", bands)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch: int,
    store_dir: str,
    out_dir: str,
    threshold: float = dual.MINHASH_JACCARD,
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
    signed = _signed(batch_df)
    bands = _banded(signed)  # also (re)registers ingest_signed
    bands.createOrReplaceTempView("ingest_bands")

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
        snaplog.read(s, store_sh_t, snapshot_id=pin_sh).createOrReplaceTempView(
            "ingest_store_sh"
        )
        snaplog.read(s, store_bands_t, snapshot_id=pin_bands).createOrReplaceTempView(
            "ingest_store_bands"
        )
        seen = s.sql(_seen_sql(threshold)).localCheckpoint(eager=True)
    else:
        seen = local_frame(s, [], "doc_id long, dup_of long")
    seen.createOrReplaceTempView("ingest_seen")

    # the accepted count rides the status materialization (no second job)
    n_new = Observation("ingest_status")
    status = (
        s.sql(_status_sql(epoch + 1, threshold))
        .observe(n_new, F.count_if(F.col("status") == "new").alias("n"))
        .localCheckpoint(eager=True)
    )
    # store first, status last: the status commit is the batch's completion
    # marker, so a crash mid-way leaves a replayable (per-table-skipped) epoch
    if n_new.get["n"]:
        accepted = F.broadcast(status.where("status = 'new'").select("doc_id"))
        for table, df in (
            (store_sh_t, _shingle_rows(signed.join(accepted, "doc_id", "semi"))),
            (store_bands_t, bands.join(accepted, "doc_id", "semi")),
        ):
            commits.append(table, df, epoch)
    commits.append(status_table, status, epoch)


def maintain_store(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    keep_last: int = 3,
    min_files: int = 2,
) -> dict:
    """Housekeeping between batches: compact each table's small files into
    one file (one atomic rewrite snapshot) and expire snapshots beyond
    ``keep_last``. Every append accretes files and one log entry; the store
    read stays one relation regardless, but without this it opens one more
    file set per accepted batch and the startup replay scan walks an
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
    threshold: float = dual.MINHASH_JACCARD,
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
