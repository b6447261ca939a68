"""Structured Streaming expression of the parse→enrich→route→aggregate pipeline.

The batch operators (operators/parse.py, enrich.py, route.py) are all narrow
transformations + broadcast joins, so the identical functions apply unchanged to
a streaming DataFrame — one pipeline definition, two execution modes (the Spark
analog of the reference running the same stages per-request in its web app,
/root/reference/webapp.py:38-52).

Streaming-specific pieces:
  * ``transcripts_stream`` — the synthetic transcripts formula bound to the
    ``rate`` source (`value` plays the row-id role), for live-demo runs;
  * ``stream_routed`` — parse+enrich+route on any streaming transcripts frame;
  * ``windowed_summary`` — watermarked sliding/tumbling-window per-sink counts
    (the streaming analog of aggregate.sink_summary; late rows beyond the
    watermark are dropped, A6's sliding-window semantics recast);
  * ``run_to_sinks_stream`` — foreachBatch writer committing each micro-batch
    as one SnapLog append in the batch sink layout, skipped on replay by its
    batch id: exactly-once sinks under checkpointLocation-based recovery (the
    streaming twin of checkpoint.py, which commits one snapshot per epoch
    through the same log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route as route_ops
from ..plans.pipeline import build_pipeline
from ..sources import snaplog
from ..sources.transcripts import _transcript_exprs


def transcripts_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic transcripts as an unbounded stream (rate source; `value` = row id),
    rendered by the same dual-dialect formula as the batch/oracle table."""
    exprs = dict(_transcript_exprs("spark", t="value"))
    # The batch formula cycles ts modulo 5 days — fine for bounded inputs, fatal
    # under a watermark (older-day rows would arrive forever and be dropped).
    # The live stream instead advances ts monotonically with the row id.
    exprs["ts"] = "timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,value)"
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .selectExpr(*[f"{e} AS {name}" for name, e in exprs.items()])
    )


def stream_routed(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """parse→enrich→route on a streaming transcripts frame (all stateless).
    build_pipeline's aggregates are constructed only on first access, so a
    streaming caller never builds (or analyzes) them."""
    return build_pipeline(spark, transcripts).routed


def windowed_summary(
    routed: DataFrame, window: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """Watermarked tumbling-window per-sink aggregate: counts + checkworthy +
    verified per (window, route, role). State is bounded by the watermark."""
    is_claim = F.col("record_kind") == "claim"
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "route", "role")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(is_claim.cast("long")).alias("n_claims"),
            F.sum((is_claim & F.col("checkworthy")).cast("long")).alias("n_checkworthy"),
            F.sum((F.col("factuality_tag") == "SCORE").cast("long")).alias("n_verified"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "route",
            "role",
            "n_records",
            "n_claims",
            "n_checkworthy",
            "n_verified",
        )
    )


def run_to_sinks_stream(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming sink: each micro-batch is ONE atomic SnapLog
    append to ``{out_dir}/sinks`` whose snapshot summary records the batch
    id, so the snapshot log doubles as the sink-side transaction table (the
    txn-id pattern transactional-sink connectors use). foreachBatch is
    at-least-once — on restart the same batch id replays — and the replay
    path finds the id in the log and SKIPS, so rows land exactly once even
    though the streaming checkpoint and the sink commit are separate stores.
    The replay check is snaplog.CommitOnce: the log is read ONCE at
    (re)start to seed the committed-id set, and each batch adds O(1) after
    that (expire_snapshots bounds the one startup scan on long-lived
    tables). Returns the started StreamingQuery."""
    routed = stream_routed(spark, transcripts)
    table = f"{out_dir}/sinks"
    commits = snaplog.CommitOnce(spark, "stream_batch_id")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        commits.append(
            table,
            route_ops.stage_sinks(batch_df),
            batch_id,
            list(route_ops.PARTITION_COLS),
        )

    writer = routed.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_summary(
    routed: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Gap-merged session windows per conversation (F.session_window): a
    session extends while consecutive records of the conv arrive within `gap`;
    state is bounded by the watermark. The batch twin of the same semantics is
    the lag-gap sessionization (operators/dual.q_events_sessionize) — the
    equivalence of the two formulations is asserted in tests/test_streaming.py.

    Scale note: session_window keys streaming state by (conv_id, open
    session); the watermark closes and evicts sessions, so state is
    O(active conversations), never O(history)."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_records",
        )
    )


def stream_dedup(
    transcripts: DataFrame, watermark: str = "1 day", keys: tuple = ("conv_id", "turn_idx")
) -> DataFrame:
    """At-least-once → exactly-once: drop redelivered turns by key within the
    watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming twin of
    the batch dedup_exact/dropDuplicates step, and the standard guard in front
    of any log bus that redelivers (Kafka, Kinesis).

    State is keyed on `keys` and expired by the event-time watermark, so memory
    is bounded by (keys arriving within the horizon), not by stream length —
    the property that makes this viable on an unbounded 10^12-turn feed. A
    duplicate arriving later than the watermark is NOT caught here; that tail
    is the batch reconciliation pass (checkpoint.py epochs are idempotent, so
    replaying a day removes stragglers)."""
    return transcripts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def claims_with_nearby_tools(
    routed: DataFrame,
    time_range: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: each claim record matched to tool
    invocations of the SAME conversation within ±`time_range` of the claim's
    event time — the live "which tool produced this claim's evidence" trace
    (the reference computes this correlation in-process across its concurrent
    stages, /root/reference/factcheck/__init__.py:90-104; on an unbounded log
    bus it becomes a two-stream join).

    Both sides carry an event-time watermark AND the join predicate bounds
    |tool_ts - claim_ts|, which is exactly what lets Spark expire join state:
    per key, buffered rows older than watermark + range are dropped, so state
    is bounded by the arrival rate inside the horizon — not by stream length.
    The equi-key (conv_id) keys the shuffle on both sides; the range predicate
    prunes within the co-partitioned groups. The same function is its own
    batch twin (withWatermark is a no-op on bounded frames), which is how the
    equivalence test pins the semantics."""
    claims = (
        routed.filter(F.col("record_kind") == "claim")
        .select(
            "conv_id",
            "turn_idx",
            "claim_idx",
            F.col("ts").alias("claim_ts"),
        )
        .withWatermark("claim_ts", watermark)
    )
    tools = (
        routed.filter(F.col("record_kind") == "tool_call")
        .select(
            F.col("conv_id").alias("tool_conv_id"),
            F.col("turn_idx").alias("tool_turn_idx"),
            "tool_name",
            "tool_status",
            F.col("ts").alias("tool_ts"),
        )
        .withWatermark("tool_ts", watermark)
    )
    cond = F.expr(
        "conv_id = tool_conv_id "
        f"AND tool_ts >= claim_ts - interval {time_range} "
        f"AND tool_ts <= claim_ts + interval {time_range}"
    )
    return claims.join(tools, cond, "inner").select(
        "conv_id",
        "turn_idx",
        "claim_idx",
        "tool_turn_idx",
        "tool_name",
        "tool_status",
        "claim_ts",
        "tool_ts",
    )
