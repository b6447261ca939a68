"""Streaming exactly-once dedup (streaming/pipeline.stream_dedup): a source
that redelivers every turn (the at-least-once log-bus failure mode) must come
out with each (conv_id, turn_idx) exactly once, equal to the batch distinct."""

from __future__ import annotations

from openfactverification_spark.sources.transcripts import transcripts_df
from openfactverification_spark.streaming import pipeline as spipe

N_TURNS = 800


def test_stream_dedup_removes_redelivery(spark, tmp_path):
    src = str(tmp_path / "src")
    base = transcripts_df(spark, N_TURNS)
    # redeliver: the full feed lands twice (two files, same rows)
    base.write.parquet(src)
    base.write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = spipe.stream_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.sql(
        "SELECT conv_id, turn_idx, count(*) AS n FROM dedup_out GROUP BY 1, 2"
    ).collect()
    assert len(got) == N_TURNS
    assert all(r.n == 1 for r in got)
    # and the surviving set matches the batch distinct exactly
    batch_keys = {
        (r.conv_id, r.turn_idx)
        for r in base.select("conv_id", "turn_idx").distinct().collect()
    }
    assert {(r.conv_id, r.turn_idx) for r in got} == batch_keys
