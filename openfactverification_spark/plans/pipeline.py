"""End-to-end parse → enrich → route → aggregate plan over transcripts.

This is the flagship job (SURVEY.md §7 step 1 + §4 physical plan sketch). The whole
chain is narrow until the final summary groupBy: parse is array-op/explode only,
both enrich joins are broadcasts, routing is a projection. At cluster scale the
only exchanges are (a) the sink-layout rebalance and (b) the summary
aggregation — both keyed on low-cardinality columns, both AQE-coalesced.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from ..operators import aggregate as agg_ops
from ..operators import enrich as enrich_ops
from ..operators import parse as parse_ops
from ..operators import route as route_ops
from ..rulepack import DEFAULT_PACK, RulePack


@dataclass
class PipelineResult:
    """The flagship frames. The aggregates are derived from ``routed`` on
    first access: PySpark analyzes a DataFrame when it is constructed, so an
    aggregate a run never reads would still cost driver time."""

    records: DataFrame  # parsed records (pre-route)
    routed: DataFrame  # records + route tag

    @cached_property
    def summary(self) -> DataFrame:
        """Per (route, role) aggregate."""
        return agg_ops.sink_summary(self.routed)

    @cached_property
    def summary_per_conv(self) -> DataFrame:
        """Per (route, role, conv_id) aggregate."""
        return agg_ops.sink_summary(self.routed, per_conv=True)

    @cached_property
    def verdicts(self) -> DataFrame:
        """Per-claim verdict projection."""
        return agg_ops.claim_verdicts(self.routed)


def build_pipeline(
    spark: SparkSession, transcripts: DataFrame, pack: RulePack = DEFAULT_PACK
) -> PipelineResult:
    cw = enrich_ops.checkworthy_dim(spark)
    stance = enrich_ops.stance_counts_dim(spark)
    tools = enrich_ops.tool_dim(spark)

    records = parse_ops.parse_turns(transcripts, pack)
    enriched = enrich_ops.enrich_tools(
        enrich_ops.enrich_claims(records, cw, stance), tools
    )
    return PipelineResult(records=records, routed=route_ops.route_records(enriched))


def run_to_sinks(spark: SparkSession, transcripts: DataFrame, out_dir: str) -> PipelineResult:
    """Compute the DAG once: write the routed sinks, aggregate the summary
    from what was written (a column-pruned scan of the sinks, never a second
    parse → enrich pass), and return a result whose ``summary`` reads the
    written ``summary/`` directory, so collecting it is a file read."""
    result = build_pipeline(spark, transcripts)
    staged = route_ops.write_sinks(result.routed, f"{out_dir}/sinks")
    # explicit schema: no footer inference, and an empty input (no sink
    # files at all) still yields an empty summary
    sinks = spark.read.schema(staged.schema)
    agg_ops.sink_summary(sinks.parquet(f"{out_dir}/sinks")).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/summary")
    result.summary = spark.read.parquet(f"{out_dir}/summary")
    return result


def observed_routed(transcripts: DataFrame, spark: SparkSession):
    """The routed frame instrumented with an `observe` metric set — the A5
    usage-accounting analog (/root/reference/factcheck/utils/llmclient/
    gpt_client.py:36-41): per-action counts of records/claims/checkworthy/tool
    errors ride the job itself (no second pass; collected from
    df.attrs/Observation after an action). Returns (routed_df, observation).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("pipeline_metrics")
    routed = build_pipeline(spark, transcripts).routed.observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.sum((F.col("record_kind") == "claim").cast("long")).alias("n_claims"),
        F.sum(F.coalesce(F.col("checkworthy"), F.lit(False)).cast("long")).alias(
            "n_checkworthy"
        ),
        F.sum((F.col("tool_status") == "error").cast("long")).alias("n_tool_errors"),
    )
    return routed, obs
