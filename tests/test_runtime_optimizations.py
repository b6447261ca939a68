"""Runtime re-planning evidence: the two AQE/runtime-filter behaviors the north
rule leans on ('partitioning / shuffle / skew handled explicitly') must actually
fire on this engine's plans, not just be enabled in session.py.

Thresholds are scaled down so the behaviors trigger at test data sizes; the
configs being exercised are the same ones production sets (relative to its
128 MB-ish partitions).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    df.collect()  # AQE finalizes the plan only after execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_splits_skewed_join(spark):
    """A join keyed on a 90%-one-key distribution (the mega-conversation shape)
    must show AQE's skew-split annotation in the executed SMJ plan."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        # total agg, NOT a groupBy on k: a downstream requirement for
        # hashpartitioning(k) makes AQE veto the skew split (splitting breaks
        # the partitioning the aggregate would need)
        joined = big.join(dim, "k").agg(F.sum(F.length("payload")).alias("s"))
        plan = _executed_plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """A selective dimension filter must inject a runtime bloom filter on the
    fact side (Spark's runtime row-level filtering — the big-to-big join
    pruning path when broadcast doesn't apply)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    import tempfile

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with tempfile.TemporaryDirectory() as td:
            spark.range(0, 500_000).select(
                (F.col("id") % 50_000).alias("k"), F.col("id").alias("val")
            ).write.parquet(f"{td}/fact")
            spark.range(0, 50_000).select(
                F.col("id").alias("k"), (F.col("id") % 97).alias("cat")
            ).write.parquet(f"{td}/dim")
            fact = spark.read.parquet(f"{td}/fact")
            dim = spark.read.parquet(f"{td}/dim").filter(F.col("cat") == 3)
            joined = fact.join(dim, "k").agg(F.sum("val").alias("s"))
            plan = _executed_plan(joined)
            assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
