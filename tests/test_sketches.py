"""HLL cardinality sketches bounded against the exact-distinct anchor.

`events_distinct_daily` (exact count(DISTINCT), oracle-paired) is the anchor;
the scale path at 10^12 rows is HyperLogLog — approx_count_distinct and the
Datasketches hll_sketch_agg family. What makes HLL the production answer is not
just bounded memory but MERGEABILITY: per-partition / per-day sketches union
into the global cardinality without re-touching rows, which exact distinct
fundamentally cannot do. Both properties are asserted here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_approx_count_distinct_within_rsd(spark):
    ev = _events(spark).withColumn("day", F.col("ts").cast("date"))
    rsd = 0.05
    rows = (
        ev.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # HLL++ relative standard error is rsd; 4 sigma bounds a 30-group sweep.
        assert abs(r.approx - r.exact) <= max(4 * rsd * r.exact, 2.0), r


def test_hll_sketch_merge_equals_global(spark):
    """Union of per-day Datasketches HLL sketches ≡ sketching the whole table:
    the mergeability contract that makes per-partition pre-aggregation (and
    incremental daily rollups) possible at 10^12 rows."""
    ev = _events(spark).withColumn("day", F.col("ts").cast("date"))
    per_day = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_day.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    direct = ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")).collect()[
        0
    ]["est"]
    exact = ev.select("user_id").distinct().count()
    assert merged == direct  # merge is lossless vs one-shot sketching
    assert abs(direct - exact) <= max(0.05 * exact, 2.0)


def test_count_min_sketch_bounds_and_state(spark):
    """CMS (corpus_top_terms_cms): every estimate is a one-sided overestimate
    within the eN/width bound, and the sketch state is bounded by depth*width
    regardless of corpus size (the whole point of the swap)."""
    import math

    from openfactverification_spark.operators.dual import D, q_corpus_top_terms_cms

    spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    d = D("spark")
    depth, width = 4, 1024
    rows = spark.sql(q_corpus_top_terms_cms(d, depth=depth, width=width)).collect()
    n_tokens = spark.sql(
        "SELECT sum(size(split(text, ' '))) AS n FROM documents"
    ).first()["n"]
    bound = math.e / width * n_tokens * 3  # 3x slack on the w.h.p. bound
    assert len(rows) == 8
    for r in rows:
        assert r["est"] >= r["exact"], r
        assert r["est"] - r["exact"] <= bound, r

    # State bound: the sketch CTE itself can never exceed depth*width rows.
    sketch_sql = q_corpus_top_terms_cms(d, depth=depth, width=width).split("probes AS")[0]
    sketch_sql = sketch_sql.rsplit(",", 1)[0] + "\nSELECT count(*) AS n FROM sketch"
    n_cells = spark.sql(sketch_sql).first()["n"]
    assert n_cells <= depth * width
    spark.conf.set("spark.ofv.registered_sf", "")
