"""End-to-end pipeline tests: routing disjointness/completeness, golden
aggregates, enrich defaults, sink writes (SURVEY.md §5)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openfactverification_spark.operators import aggregate as agg_ops
from openfactverification_spark.operators.route import SINKS, write_sinks
from openfactverification_spark.plans.pipeline import build_pipeline, run_to_sinks
from openfactverification_spark.sources.transcripts import (
    DEFAULT_REASON,
    transcripts_df,
)

N = 1024


def _pipe(spark, n=N):
    return build_pipeline(spark, transcripts_df(spark, n))


def test_routes_partition_records(spark):
    """U5: sinks are disjoint and complete — route counts sum to record count."""
    res = _pipe(spark)
    total = res.records.count()
    by_route = dict(
        res.routed.groupBy("route").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert set(by_route) <= set(SINKS)
    assert sum(by_route.values()) == total
    assert all(v > 0 for v in by_route.values()), by_route


def test_factuality_tag_semantics(spark):
    """Union-typed factuality split (reference data_class.py:53-54): SCORE rows
    have a score in [0,1]; NO_EVIDENCE/NOTHING_TO_CHECK rows have null score."""
    v = _pipe(spark).verdicts
    assert v.filter((F.col("factuality_tag") == "SCORE") & F.col("factuality").isNull()).count() == 0
    assert v.filter((F.col("factuality_tag") != "SCORE") & F.col("factuality").isNotNull()).count() == 0
    out_of_range = v.filter(
        (F.col("factuality") < 0.0) | (F.col("factuality") > 1.0)
    ).count()
    assert out_of_range == 0


def test_enrich_default_reason_on_dict_miss(spark):
    """J1 default semantics (factcheck/__init__.py:175,188): claims missing from
    the checkworthy dict get the default reason and the rule-based label."""
    v = _pipe(spark).verdicts
    missing = v.filter(F.col("reason") == DEFAULT_REASON)
    assert missing.count() > 0
    # template 5 (fact, fallback->True) and 14 (vague 'They...', fallback->False)
    labels = {
        r["claim"]: r["checkworthy"]
        for r in missing.select("claim", "checkworthy").distinct().collect()
    }
    assert labels["The GDP of Argentina grew by 5 percent."] is True
    assert labels["They moved to a new office downtown."] is False


def test_tool_category_default(spark):
    routed = _pipe(spark).routed
    cats = {
        r["tool_name"]: r["tool_category"]
        for r in routed.filter(F.col("route") == "tool_trace")
        .select("tool_name", "tool_category")
        .distinct()
        .collect()
    }
    assert cats["search"] == "retrieval"
    assert cats["code"] == "unknown"  # absent from dim -> coalesce default


def test_summary_golden_small(spark):
    """Golden-output e2e on a tiny fixed input (the minimal_test.py pattern,
    reference script/minimal_test.py:15-54): hand-verified aggregate counts."""
    res = _pipe(spark, n=8)  # one full conversation, turns 0..7
    rows = {(r["route"], r["role"]): r for r in res.summary.collect()}
    # turns 2 and 5 are tool turns (turn_idx%3==2)
    tool = rows[("tool_trace", "tool")]
    assert tool["n_records"] == 2 and tool["n_claims"] == 0
    # total records = claims + tools; verify conservation against verdicts
    n_claims = res.verdicts.count()
    assert sum(r["n_records"] for r in rows.values()) == n_claims + 2
    # every verdict-sink claim has a score
    for (route, _role), r in rows.items():
        if route == "verdict":
            assert r["n_verified"] == r["n_records"]


def test_controversial_and_refuted_counts(spark):
    """A1 stance math: claims built from template 2 ('moon made of cheese',
    REFUTES x2) must score 0.0; template 10 (S+R) must be controversial 0.5."""
    v = _pipe(spark).verdicts
    moon = v.filter(F.col("claim") == "The moon is made of cheese.").collect()
    assert moon and all(r["factuality"] == 0.0 for r in moon)
    vax = v.filter(F.col("claim") == "The vaccine causes severe side effects.").collect()
    assert vax and all(math.isclose(r["factuality"], 0.5) for r in vax)
    apollo = v.filter(F.col("claim") == "Apollo 11 landed on the moon in 1969.").collect()
    assert apollo and all(r["factuality"] == 1.0 for r in apollo)


def test_write_sinks_partition_layout(spark, tmp_path):
    res = _pipe(spark, n=256)
    out = str(tmp_path / "sinks")
    write_sinks(res.routed, out)
    back = spark.read.parquet(out)
    assert back.count() == res.routed.count()
    # partition columns present and pruning-usable
    import os

    top = {d for d in os.listdir(out) if not d.startswith(("_", "."))}
    assert top and all(d.startswith("route=") for d in top), top


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_routed_plan_runs_no_python(spark):
    """The flagship plan is Python-free: the enrich dimensions are local
    relations, not ``createDataFrame`` RDD scans whose broadcast builds run
    Python-worker tasks on every write."""
    routed = _pipe(spark, n=64).routed
    routed.collect()  # AQE finalizes the plan only after execution
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "PythonRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_result_aggregates_are_lazy(spark, tmp_path):
    """The aggregates are built on first access and equal the operators
    applied to ``routed``; after run_to_sinks, ``summary`` reads summary/."""
    res = _pipe(spark, n=64)
    assert not {"summary", "summary_per_conv", "verdicts"} & set(vars(res))
    for got, want in (
        (res.summary, agg_ops.sink_summary(res.routed)),
        (res.summary_per_conv, agg_ops.sink_summary(res.routed, per_conv=True)),
        (res.verdicts, agg_ops.claim_verdicts(res.routed)),
    ):
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)

    out = str(tmp_path / "out")
    written = run_to_sinks(spark, transcripts_df(spark, 64), out)
    files = written.summary.inputFiles()
    assert files and all(f"{out}/summary/" in f for f in files), files
    assert _rows(written.summary) == _rows(res.summary)
