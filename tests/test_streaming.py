"""Structured Streaming pipeline: stream results must equal the batch pipeline on
the same input (one definition, two execution modes), and windowed aggregates
must match the batch groupBy twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.sources import snaplog
from openfactverification_spark.sources.transcripts import transcripts_df
from openfactverification_spark.streaming import pipeline as spipe

N_TURNS = 1500


def _file_stream(spark, tmp_path):
    """Deterministic bounded stream: write the synthetic table to parquet, read it
    back with readStream (availableNow processes everything then stops)."""
    src = str(tmp_path / "src")
    transcripts_df(spark, N_TURNS).write.parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def test_stream_sinks_match_batch(spark, tmp_path):
    stream = _file_stream(spark, tmp_path)
    out = str(tmp_path / "out")
    q = spipe.run_to_sinks_stream(spark, stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = (
        snaplog.read(spark, f"{out}/sinks")
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch = build_pipeline(spark, transcripts_df(spark, N_TURNS)).routed.groupBy(
        "route"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert {(r["route"], r["n"]) for r in got.collect()} == {
        (r["route"], r["n"]) for r in batch.collect()
    }


def test_windowed_summary_matches_batch_window(spark, tmp_path):
    stream = _file_stream(spark, tmp_path)
    routed_stream = spipe.stream_routed(spark, stream)
    q = (
        spipe.windowed_summary(routed_stream)
        .writeStream.format("memory")
        .queryName("win_summary")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.table("win_summary").collect()}
    # withWatermark is a no-op on batch frames, so the same function is the twin.
    batch_routed = build_pipeline(spark, transcripts_df(spark, N_TURNS)).routed
    expected = {tuple(r) for r in spipe.windowed_summary(batch_routed).collect()}
    assert got == expected


def test_session_windows_match_lag_sessionization(spark, tmp_path):
    """Cross-formulation equivalence: streaming F.session_window (gap-merged
    intervals) must produce the same per-conv session COUNT and record totals
    as the batch lag-gap formulation (the q_events_sessionize pattern) — two
    independent expressions of one session semantics."""
    from pyspark.sql.window import Window

    stream = _file_stream(spark, tmp_path)
    routed_stream = spipe.stream_routed(spark, stream)
    q = (
        spipe.session_summary(routed_stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_summary")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("sess_summary")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_records").alias("n_records"),
        )
    )

    batch_routed = build_pipeline(spark, transcripts_df(spark, N_TURNS)).routed
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx", "claim_idx")
    lag_based = (
        batch_routed.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                # session_window merges while next < prev + gap, so a new
                # session starts at diff >= gap (not strictly greater)
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") >= 30 * 60)
            ).cast("long"),
        )
        .groupBy("conv_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in lag_based.collect()}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream claim×tool interval join ≡ the same join run
    in batch mode on the same input (inner join emits on match; the watermark
    only bounds state, so bounded availableNow input yields the full result)."""
    stream = _file_stream(spark, tmp_path)
    joined_stream = spipe.claims_with_nearby_tools(spipe.stream_routed(spark, stream))
    q = (
        joined_stream.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {tuple(map(str, r)) for r in spark.table("ss_join").collect()}
    batch_routed = build_pipeline(spark, transcripts_df(spark, N_TURNS)).routed
    expected = {
        tuple(map(str, r))
        for r in spipe.claims_with_nearby_tools(batch_routed).collect()
    }
    assert got == expected
    assert len(expected) > 0  # the corpus must actually produce matches
