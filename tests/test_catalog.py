"""Format adapter: parquet fallback path is fully exercised (Iceberg path needs
a catalog jar this container lacks — target-kind dispatch is still tested)."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.sources import catalog
from openfactverification_spark.sources.transcripts import transcripts_df


def test_target_kind_dispatch():
    assert catalog.is_table_name("cat.db.transcripts")
    assert catalog.is_table_name("db.transcripts")
    # bare tokens and anything path-like are paths, not tables
    assert not catalog.is_table_name("transcripts")
    assert not catalog.is_table_name("out")
    assert not catalog.is_table_name("/tmp/x")
    assert not catalog.is_table_name("s3://bucket/x")
    assert not catalog.is_table_name("dir/file.parquet")


def test_parquet_roundtrip_and_lineage_fallback(spark, tmp_path):
    src = str(tmp_path / "in")
    transcripts_df(spark, 500).write.parquet(src)
    t = catalog.read_transcripts(spark, src)
    routed = build_pipeline(spark, t).routed

    out = str(tmp_path / "sinks")
    catalog.write_routed(routed, out)
    back = spark.read.parquet(out)
    assert back.count() == routed.count()
    assert {r["route"] for r in back.select("route").distinct().collect()} == {
        "checkworthy",
        "non_factual",
        "tool_trace",
        "verdict",
    }
    assert catalog.current_lineage(spark, out, fallback="fp-123") == "fp-123"


def test_is_table_name_rejects_file_extensions():
    assert not catalog.is_table_name("data.parquet")
    assert not catalog.is_table_name("Events.JSON")
    assert catalog.is_table_name("db.events")


def test_multi_format_reads(spark, tmp_path):
    """Same transcripts through parquet / json / csv / orc paths — one reader
    entrypoint, format by extension."""
    base = transcripts_df(spark, 200)
    expected = base.count()
    for fmt in ("parquet", "json", "csv", "orc"):
        p = str(tmp_path / f"t_{fmt}.{fmt}")
        w = base.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(p)
        else:
            getattr(w, fmt)(p)
        got = catalog.read_transcripts(spark, p)
        assert got.count() == expected, fmt
        assert "conv_id" in got.columns and "text" in got.columns, fmt


def test_bucketed_table_removes_conv_shuffle(spark, tmp_path):
    """bucket(conv_id) at ingest: per-conv aggregation over the bucketed table
    must plan WITHOUT a shuffle (the scan already exposes
    HashPartitioning(conv_id)); the identical aggregation over plain parquet
    must show one — the pay-the-shuffle-once-at-ingest scale decision."""
    df = transcripts_df(spark, 2000)
    catalog.write_bucketed_transcripts(
        df, "tx_bucketed", buckets=8, path=str(tmp_path / "tx_bucketed")
    )

    plain = str(tmp_path / "tx_plain")
    df.write.parquet(plain)

    agg_bucketed = spark.table("tx_bucketed").groupBy("conv_id").count()
    agg_plain = spark.read.parquet(plain).groupBy("conv_id").count()
    plan_b = agg_bucketed._jdf.queryExecution().executedPlan().toString()
    plan_p = agg_plain._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_b, plan_b
    assert "Exchange" in plan_p
    # and the results are identical
    assert sorted(map(tuple, agg_bucketed.collect())) == sorted(
        map(tuple, agg_plain.collect())
    )
    spark.sql("DROP TABLE IF EXISTS tx_bucketed")


def test_lineage_logs_a_missing_snapshots_table(spark, caplog):
    """A table name whose `.snapshots` metadata table cannot be read gives the
    fallback, with one warning naming the target and the error condition."""
    with caplog.at_level(logging.WARNING, logger=catalog.__name__):
        assert catalog.current_lineage(spark, "db.t", fallback="fp") == "fp"
    warned = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1 and "db.t" in warned[0], warned


def test_lineage_propagates_other_errors(spark, monkeypatch):
    """Only an AnalysisException means 'no snapshots table'; any other error
    from the table read propagates instead of becoming the fallback."""
    from pyspark.sql.readwriter import DataFrameReader

    def broken(self, name):
        raise RuntimeError(f"catalog unreachable: {name}")

    monkeypatch.setattr(DataFrameReader, "table", broken)
    with pytest.raises(RuntimeError, match="catalog unreachable"):
        catalog.current_lineage(spark, "db.t", fallback="fp")
