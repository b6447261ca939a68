"""Physical-plan shape guards: the scale properties the design promises must be
visible in the executed plan, not just intended.

These assert plan *classes* (broadcast vs sort-merge, narrow vs exchange), not
exact strings, so Spark-version formatting changes won't break them.
"""

from __future__ import annotations

from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.sources.tables import table_path
from openfactverification_spark.sources.transcripts import transcripts_df

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_routed_plan_is_narrow_with_broadcasts(spark):
    routed = build_pipeline(spark, transcripts_df(spark, 1000)).routed
    plan = _plan(routed)
    assert plan.count("BroadcastHashJoin") == 3  # cw, stance, tools
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate") == 1  # single explode, single scan
    # the only non-broadcast exchange allowed is the tiny stance-dim aggregate
    # (16 input rows on the broadcast BUILD side); the fact-table path itself
    # must be shuffle-free
    non_broadcast = [
        line
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert len(non_broadcast) <= 1, non_broadcast
    # no Python evaluation in the hot path
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_routed_no_expensive_expr_duplication(spark):
    routed = build_pipeline(spark, transcripts_df(spark, 1000)).routed
    plan = _plan(routed)
    # the two fallback regexes must appear exactly once (the cw_fallback column),
    # not inlined into every consumer (see operators/enrich.py)
    assert plan.count("i think|i believe|in my opinion") == 1


def test_parquet_scan_prunes_and_pushes_down(spark):
    df = (
        spark.read.parquet(table_path(SF_DIR, "lineitem"))
        .filter("l_shipdate <= timestamp'1998-09-02 00:00:00'")
        .select("l_returnflag", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the read schema must contain only the needed columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_quantity", "l_shipdate"}


def test_global_topk_uses_take_ordered(spark):
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    df = TESTDATA_QUERIES["topk_revenue_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # not a single-partition global sort


def test_scale_path_queries_never_plan_cartesian(spark):
    """Every banded/bucketed scale-path query must generate candidates through
    equi-joins (shuffle keyed on band/bucket/cell) — a CartesianProduct or
    BroadcastNestedLoopJoin in these plans means the candidate generation
    degenerated to all-pairs."""
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    for name in [
        "dedup_minhash_lsh",
        "dedup_simhash_banded",
        "embed_dup_pairs_lsh",
        "embed_lsh_ann",
        "embed_ivf_ann",
        "chunk_passages",
        "events_window_join_binned",
    ]:
        plan = _plan(TESTDATA_QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_range_join_baseline_vs_binned_plans_and_results(spark):
    """The naive range join plans a nested-loop join (acceptable only while
    the window dim broadcasts); the binned rewrite is a hash equi-join on the
    bin key — and both return identical rows."""
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    naive = TESTDATA_QUERIES["events_window_join"](spark, SF_DIR)
    binned = TESTDATA_QUERIES["events_window_join_binned"](spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in _plan(naive)
    plan_b = _plan(binned)
    assert "BroadcastNestedLoopJoin" not in plan_b
    assert "Join" in plan_b  # the equi-join survived
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, binned.collect()))


def test_sketch_runners_materialize_once(spark):
    """The minhash/simhash Spark runners must actually read the sketch from the
    cache (InMemoryTableScan) — if Spark re-inlined the CTE the n-gram explode
    would run once per reference (the 3-5x regression these runners exist to
    prevent)."""
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    for name, expected_refs in [("dedup_minhash_lsh", 5), ("dedup_simhash_banded", 2)]:
        plan = _plan(TESTDATA_QUERIES[name](spark, SF_DIR))
        assert plan.count("InMemoryTableScan") >= expected_refs, name


def test_asof_join_plan_is_one_window_no_join(spark):
    """The union+window as-of join must plan NO join operator at all — one
    exchange on the by-key, one sort, one Window (the property that makes it
    immune to range-join blowup)."""
    from pyspark.sql import functions as F

    from openfactverification_spark.operators import asof

    ev = spark.read.parquet(table_path(SF_DIR, "events"))
    left = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    plan = _plan(asof.asof_join(left, right))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct"):
        assert op not in plan, op
    assert plan.count("Window") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_semantic_dedup_assignment_is_projection(spark):
    """Cell assignment must be a pure projection: no Window, no Generate, and
    no cartesian/nested-loop anywhere in the whole query."""
    from openfactverification_spark.operators.dual import D, q_semantic_dedup

    spark.read.parquet(table_path(SF_DIR, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    plan = _plan(spark.sql(q_semantic_dedup(D("spark"))))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    spark.conf.set("spark.ofv.registered_sf", "")


def test_cms_sketch_aggregates_map_side(spark):
    """The count-min groupBy must plan a partial (map-side) aggregate — the
    bounded-exchange property the sketch exists for."""
    from openfactverification_spark.operators.dual import D, q_corpus_top_terms_cms

    spark.read.parquet(table_path(SF_DIR, "documents")).createOrReplaceTempView(
        "documents"
    )
    plan = _plan(spark.sql(q_corpus_top_terms_cms(D("spark"))))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    spark.conf.set("spark.ofv.registered_sf", "")


def test_multiprobe_lsh_ann_plans_bucket_equi_join(spark):
    """Multi-probe candidate generation must stay a bucket equi-join — the
    probe fan-out (explode over single-bit flips) must not degrade the join
    to a nested loop. (The registered *recall* queries embed the brute-force
    baseline by design, so the guard targets the ANN side alone.)"""
    from openfactverification_spark.operators import dual

    spark.read.parquet(table_path(SF_DIR, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    plan = _plan(spark.sql(dual.q_embed_lsh_ann(dual.D("spark"), radius=1, n_queries=30)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
