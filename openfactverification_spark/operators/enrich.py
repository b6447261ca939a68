"""E-stage: broadcast-hash lookup enrichment (SURVEY.md §2.4 J1/J7).

The reference's dict-lookup joins (/root/reference/factcheck/__init__.py:175,188)
become broadcast hash joins against small dimension tables. The key scale decision:
**stance aggregation happens on the dimension, not the fact table** — the evidence
corpus is pre-aggregated to per-claim stance counts (16 rows here; a few million on
a real corpus), so the 10^12-row fact side takes one broadcast join instead of an
explode + re-group shuffle. The exploded (claim, evidence) detail view is still
available via `attach_evidence` for sinks that need provenance rows.

The dimensions are driver-local relations (`session.local_frame`: Arrow-built,
planned as `LocalTableScan`), so building their broadcasts runs no Python
worker — the flagship hot path crosses the Python boundary nowhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..sources.transcripts import (
    DEFAULT_REASON,
    checkworthy_labels_rows,
    evidence_corpus_rows,
    tool_metadata_rows,
)
from .parse import checkworthy_fallback

_CW_SCHEMA = T.StructType(
    [
        T.StructField("claim_norm", T.StringType(), False),
        T.StructField("cw_label", T.BooleanType(), False),
        T.StructField("cw_reason", T.StringType(), True),
    ]
)

_EV_SCHEMA = T.StructType(
    [
        T.StructField("claim_norm", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("stance", T.StringType(), False),
        T.StructField("evidence_text", T.StringType(), False),
    ]
)

_TOOL_SCHEMA = T.StructType(
    [
        T.StructField("tool_name", T.StringType(), False),
        T.StructField("tool_category", T.StringType(), False),
        T.StructField("tool_description", T.StringType(), False),
    ]
)


def checkworthy_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, checkworthy_labels_rows(), _CW_SCHEMA)


def evidence_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, evidence_corpus_rows(), _EV_SCHEMA)


def tool_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, tool_metadata_rows(), _TOOL_SCHEMA)


def stance_counts_dim(spark: SparkSession) -> DataFrame:
    """Evidence corpus pre-aggregated to per-claim stance counts (dimension-side
    aggregation — the A1 shuffle happens on the tiny side)."""
    ev = evidence_dim(spark)
    return ev.groupBy("claim_norm").agg(
        F.sum(F.when(F.col("stance") == "SUPPORTS", 1).otherwise(0)).alias("n_supports"),
        F.sum(F.when(F.col("stance") == "REFUTES", 1).otherwise(0)).alias("n_refutes"),
        F.count(F.lit(1)).alias("n_evidence"),
    )


def enrich_claims(records: DataFrame, cw_dim: DataFrame, stance_dim: DataFrame) -> DataFrame:
    """Broadcast-join checkworthiness labels (J1) + stance counts (J7/A1) onto
    parsed records. Non-claim records pass through with nulls.

    Adds: claim_norm, checkworthy, reason, n_supports, n_refutes, n_evidence,
    factuality (double), factuality_tag ('SCORE'|'NO_EVIDENCE'|'NOTHING_TO_CHECK').
    The union-typed `factuality` of the reference
    (/root/reference/factcheck/utils/data_class.py:53-54) splits into tag + value.
    """
    # cw_fallback is materialized as its own column BEFORE the joins: Catalyst's
    # CollapseProject inlines referenced expressions into every consumer, and
    # `checkworthy` feeds ~7 downstream expressions — inlining would re-run the
    # two fallback regexes per consumer per row (measured ~2.5x on the enrich
    # stage). As a standalone column the regex pair runs exactly once per row.
    out = (
        records.withColumn("claim_norm", F.lower(F.col("claim")))
        .withColumn("cw_fallback", checkworthy_fallback(F.col("claim_norm")))
        .join(F.broadcast(cw_dim), "claim_norm", "left")
        .join(F.broadcast(stance_dim), "claim_norm", "left")
    )

    is_claim = F.col("record_kind") == "claim"
    checkworthy = F.when(is_claim, F.coalesce(F.col("cw_label"), F.col("cw_fallback")))
    scored = is_claim & checkworthy
    n_s = F.coalesce(F.col("n_supports"), F.lit(0))
    n_r = F.coalesce(F.col("n_refutes"), F.lit(0))

    factuality = F.when(scored & ((n_s + n_r) > 0), n_s / (n_s + n_r)).cast("double")
    factuality_tag = F.when(~is_claim, F.lit(None).cast("string")).otherwise(
        F.when(~checkworthy, F.lit("NOTHING_TO_CHECK"))
        .when((n_s + n_r) == 0, F.lit("NO_EVIDENCE"))
        .otherwise(F.lit("SCORE"))
    )

    # Two projections: the score reads the gated counts of the first, which
    # Catalyst keeps as their own Project anyway (the score references each
    # several times, so CollapseProject won't inline them).
    return (
        out.withColumns(
            {
                "checkworthy": checkworthy,
                "reason": F.when(
                    is_claim, F.coalesce(F.col("cw_reason"), F.lit(DEFAULT_REASON))
                ),
                "n_supports": F.when(scored, n_s).cast("int"),
                "n_refutes": F.when(scored, n_r).cast("int"),
                "n_evidence": F.when(
                    scored, F.coalesce(F.col("n_evidence"), F.lit(0))
                ).cast("int"),
            }
        )
        .withColumns({"factuality": factuality, "factuality_tag": factuality_tag})
        .drop("cw_label", "cw_reason", "cw_fallback")
    )


def enrich_tools(records: DataFrame, tool_meta: DataFrame) -> DataFrame:
    """Broadcast-join tool metadata; unknown tools coalesce to 'unknown' (J1
    default semantics)."""
    return records.join(F.broadcast(tool_meta), "tool_name", "left").withColumn(
        "tool_category",
        F.when(
            F.col("record_kind") == "tool_call",
            F.coalesce(F.col("tool_category"), F.lit("unknown")),
        ),
    )


def attach_evidence(claims: DataFrame, ev_dim: DataFrame) -> DataFrame:
    """Detail view: explode checkworthy claims against the evidence corpus
    (broadcast), one row per (claim, evidence). The reference's ClaimVerify pairing
    (/root/reference/factcheck/core/ClaimVerify.py:52-61)."""
    return (
        claims.filter((F.col("record_kind") == "claim") & F.col("checkworthy"))
        .join(F.broadcast(ev_dim), "claim_norm", "left")
        .withColumn("stance", F.coalesce(F.col("stance"), F.lit("IRRELEVANT")))
    )
