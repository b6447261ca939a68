"""Registry backing __spark_entry__.queries() / oracle_sql().

Each entry: a (spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL
string. Pipeline queries synthesize transcripts from the dual-dialect formula;
operator-coverage queries read the sf_dir parquet tables (pre-registered as DuckDB
views by the driver).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregate as agg_ops
from .operators import parse as parse_ops
from .plans import oracle as oracle_mod
from .plans.pipeline import build_pipeline
from .session import local_frame
from .sources.transcripts import transcripts_df

ORACLE_N_TURNS = 4096

QuerieFn = Callable[[SparkSession, str], DataFrame]


# ----------------------------------------------------------------------------------
# Pipeline queries (transcripts; oracle = dual-dialect formula)
# ----------------------------------------------------------------------------------

def _pipe(spark: SparkSession):
    return build_pipeline(spark, transcripts_df(spark, ORACLE_N_TURNS))


def q_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe(spark).summary


def q_pipeline_summary_per_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe(spark).summary_per_conv


def q_pipeline_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe(spark).verdicts


def q_pipeline_routed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe(spark).routed.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


def q_pipeline_parse_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = parse_ops.parse_turns(transcripts_df(spark, ORACLE_N_TURNS))
    return records.filter(F.col("record_kind") == "claim").select(
        "conv_id", "turn_idx", "claim_idx", "claim", "span_start", "span_end"
    )


def q_pipeline_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = parse_ops.parse_turns(transcripts_df(spark, ORACLE_N_TURNS))
    return parse_ops.span_reconstruction(records)


def q_pipeline_tool_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = _pipe(spark).routed
    return (
        routed.filter(F.col("route") == "tool_trace")
        .groupBy("tool_name", "tool_category", "tool_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_pipeline_query_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/U2: per-claim query fan-out, claim-as-query first, cap 5."""
    from .operators import verify as verify_ops

    return verify_ops.generate_queries(_pipe(spark).routed)


def q_pipeline_evidence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2 + J6/J7: top-k evidence rows per checkworthy claim."""
    from .operators import enrich as enrich_ops
    from .operators import verify as verify_ops

    return verify_ops.evidence_topk(_pipe(spark).routed, enrich_ops.evidence_dim(spark))


def q_pipeline_evidence_topk_ce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-ranked evidence top-k (reference extension point:
    /root/reference/factcheck/core/Retriever/base.py:19-23,167): the
    (claim, evidence) pairs are scored by the predict_batch_udf-pattern pandas
    UDF (functions/scoring.py — model loaded once per worker, Arrow-batched
    inference), then ranked JVM-side per claim. The oracle computes the same
    deterministic stub model in pure SQL."""
    from pyspark.sql.window import Window

    from .functions.scoring import ce_score_udf
    from .operators import enrich as enrich_ops

    routed = _pipe(spark).routed
    claims = routed.filter(
        (F.col("record_kind") == "claim") & F.col("checkworthy")
    ).select("conv_id", "turn_idx", "claim_idx", "claim", "claim_norm")
    det = claims.join(F.broadcast(enrich_ops.evidence_dim(spark)), "claim_norm")
    scored = det.withColumn("ce_score", ce_score_udf()("claim", "evidence_text"))
    w = Window.partitionBy("conv_id", "turn_idx", "claim_idx").orderBy(
        F.desc("ce_score"), "url"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "conv_id",
            "turn_idx",
            "claim_idx",
            "url",
            "ce_score",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def q_pipeline_evidence_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: evidence regrouped per claim, deterministic order."""
    from .operators import enrich as enrich_ops
    from .operators import verify as verify_ops

    return verify_ops.evidence_regrouped(
        _pipe(spark).routed, enrich_ops.evidence_dim(spark)
    )


def q_pipeline_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 grouping-sets extension: rollup(route, role) in one shuffle."""
    return agg_ops.summary_rollup(_pipe(spark).routed).withColumn(
        "grouping_level", F.col("grouping_level").cast("int")
    )


def q_pipeline_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: token accounting per role — whitespace tokens, BPE-ish regex
    tokens, and real subword counts from the deterministic mini-BPE
    (functions/bpe.py; the reference meters tiktoken BPE,
    /root/reference/factcheck/__init__.py:38). The BPE column is a pure
    lambda-fold projection (no UDF, no explode) — linear scan at any scale."""
    from .functions.bpe import bpe_token_count_expr

    t = transcripts_df(spark, ORACLE_N_TURNS)
    return t.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("sum_ws_tokens"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\w+|[^\w\s]"))).alias(
            "sum_regex_tokens"
        ),
        F.sum(F.expr(bpe_token_count_expr("text", "spark"))).alias("sum_bpe_tokens"),
    )


# CJK unified-ideograph range as literal characters, so the identical pattern
# parses in Java regex (Spark) and RE2 (DuckDB).
CJK_CLASS = "[一-鿿]"


def q_pipeline_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID over the multilingual transcript corpus (zh rows were added
    with the rule-pack work): CJK-character-ratio heuristic per claim turn,
    rolled up per (predicted_lang, role). Unlike the documents-table stopword
    baseline (text_lang_id), this one discriminates on real signal — the CJK
    range is unambiguous. The reference's zh path:
    /root/reference/script/minimal_test_zh.json + chatgpt_prompt_zh.py."""
    t = transcripts_df(spark, ORACLE_N_TURNS).filter(
        ~F.col("text").rlike(parse_ops.TOOL_CALL_RE)
    )
    ratio = F.regexp_count(F.col("text"), F.lit(CJK_CLASS)) / F.length("text")
    pred = F.when(ratio >= 0.3, F.lit("zh")).otherwise(F.lit("en"))
    return (
        t.withColumn("predicted_lang", pred)
        .groupBy("predicted_lang", "role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg(ratio), 6).alias("avg_cjk_ratio"),
        )
    )


def q_pipeline_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input data-quality gate: declarative constraint checks over the raw
    transcripts (domain membership, turn-index range, non-empty text, tool
    column ⇔ grok-parse consistency, timestamp range) — the
    validate-before-processing stage a production pipeline runs ahead of
    parse. ONE scan computes every violation count (conditional sums), then
    stack() unpivots to (check_name, n_checked, n_violations) rows — no
    per-check passes, no driver-side collect."""
    t = transcripts_df(spark, ORACLE_N_TURNS)
    tool_re = parse_ops.TOOL_CALL_RE
    checks: list[tuple[str, F.Column]] = [
        ("role_in_domain", ~F.col("role").isin("user", "assistant", "tool")),
        ("turn_idx_in_range", (F.col("turn_idx") < 0) | (F.col("turn_idx") >= 8)),
        ("text_nonempty", F.col("text").isNull() | (F.length("text") == 0)),
        (
            "tool_flag_consistent",
            F.col("text").rlike(tool_re) != F.col("tool").isNotNull(),
        ),
        (
            "tool_name_matches",
            F.col("tool").isNotNull()
            & (F.regexp_extract("text", tool_re, 1) != F.col("tool")),
        ),
        (
            "ts_in_range",
            (F.col("ts") < F.to_timestamp(F.lit("2025-01-01 00:00:00")))
            | (F.col("ts") >= F.to_timestamp(F.lit("2025-01-07 00:00:00"))),
        ),
    ]
    agg = t.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[F.sum(cond.cast("long")).alias(name) for name, cond in checks],
    )
    stack_args = ", ".join(f"'{name}', {name}" for name, _ in checks)
    return agg.selectExpr(
        f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)",
        "n_checked",
    ).select("check_name", "n_checked", "n_violations")


def q_pipeline_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: round-robin selection — the i-th claim of each turn in turn order
    until 5 per conversation (the reference's round-robin evidence aggregation
    pattern, base.py:140-145: orderBy(rank, query) + cap)."""
    from pyspark.sql.window import Window

    routed = _pipe(spark).routed
    w = Window.partitionBy("conv_id").orderBy("claim_idx", "turn_idx")
    return (
        routed.filter(F.col("record_kind") == "claim")
        .withColumn("rr_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rr_rank") <= 5)
        .select("conv_id", "turn_idx", "claim_idx", "rr_rank")
    )


def q_pipeline_evidence_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: two evidence populations merged — answer-box style (synthesized
    rank-0 snippet per checkworthy claim) unioned with the organic corpus, then
    counted per source (serper_retriever.py:86-112 two-branch merge)."""
    from .operators import enrich as enrich_ops

    routed = _pipe(spark).routed
    claims = routed.filter(
        (F.col("record_kind") == "claim") & F.col("checkworthy")
    ).select("conv_id", "turn_idx", "claim_idx", "claim_norm")

    answer_box = claims.select(
        "conv_id",
        "turn_idx",
        "claim_idx",
        F.lit("answer_box").alias("source"),
        F.concat(F.lit("AnswerBox: "), F.col("claim_norm")).alias("evidence_text"),
    )
    organic = (
        claims.join(F.broadcast(enrich_ops.evidence_dim(spark)), "claim_norm")
        .select(
            "conv_id",
            "turn_idx",
            "claim_idx",
            F.lit("organic").alias("source"),
            "evidence_text",
        )
    )
    return answer_box.unionByName(organic).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_evidence")
    )


def q_pipeline_tool_last_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: last-write-wins per-key map — final status per (conv_id, tool_name)
    by turn order (the dict.update accumulation, serper_retriever.py:108-112);
    max_by/arg_max, no window needed."""
    routed = _pipe(spark).routed
    return (
        routed.filter(F.col("record_kind") == "tool_call")
        .groupBy("conv_id", "tool_name")
        .agg(
            F.expr("max_by(tool_status, turn_idx)").alias("last_status"),
            F.max("turn_idx").alias("last_turn_idx"),
            F.count(F.lit(1)).alias("n_calls"),
        )
    )


def q_pipeline_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair extraction — the terminal product of a
    transcript training-data pipeline: each user turn paired with the next
    assistant turn of the same conversation (tool turns excluded), with token
    counts and a minimum-length keep gate.

    Scale shape: ONE window per conversation (lead over the role-filtered
    frame, ordered by turn_idx — the stable-turn-order contract from
    BASELINE.json) and nothing else; the filter prunes before the exchange, so
    the shuffle carries only user/assistant rows. Mega-conversation skew rides
    the same salted-window machinery as every per-conv window
    (operators/skew.py)."""
    from pyspark.sql.window import Window

    t = transcripts_df(spark, ORACLE_N_TURNS)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ua = t.filter(F.col("role").isin("user", "assistant"))
    paired = (
        ua.withColumn("next_role", F.lead("role").over(w))
        .withColumn("next_text", F.lead("text").over(w))
        .withColumn("next_turn_idx", F.lead("turn_idx").over(w))
        .filter((F.col("role") == "user") & (F.col("next_role") == "assistant"))
    )
    ntok = lambda c: F.size(F.split(F.col(c), " "))  # noqa: E731
    return paired.select(
        "conv_id",
        "turn_idx",
        F.col("next_turn_idx").cast("int").alias("response_turn_idx"),
        F.col("text").alias("prompt"),
        F.col("next_text").alias("response"),
        ntok("text").cast("int").alias("prompt_tokens"),
        ntok("next_text").cast("int").alias("response_tokens"),
        ((ntok("text") >= 3) & (ntok("next_text") >= 3)).alias("keep"),
    )


def q_pipeline_conv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation flattening — transcripts to one document per conversation
    (ordered turns joined role-tagged), the step that feeds every doc-level
    operator (dedup, quality gates, packing) when the training unit is the
    whole dialog. Emits the flattened text's length/token stats plus an md5
    fingerprint for downstream exact dedup.

    Scale shape: one groupBy(conv_id) with map-side partial collect; ordering
    inside the turn list is explicit (array_sort on (turn_idx, ...) struct —
    the stable-turn-order contract), never an orderBy before the groupBy
    (which would add a global sort exchange and still not guarantee per-group
    order)."""
    t = transcripts_df(spark, ORACLE_N_TURNS)
    tagged = t.select(
        "conv_id",
        F.struct(F.col("turn_idx"), F.concat_ws(": ", "role", "text").alias("line")).alias(
            "tl"
        ),
    )
    return (
        tagged.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("tl")).alias("tls"))
        .select(
            "conv_id",
            F.array_join(F.expr("transform(tls, x -> x.line)"), "\n").alias("doc"),
        )
        .select(
            "conv_id",
            F.length("doc").cast("int").alias("n_chars"),
            F.size(F.split("doc", " ")).cast("int").alias("n_tokens"),
            F.md5("doc").alias("fingerprint"),
        )
    )


def q_pipeline_pii_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline with the PII scrub as stage 0 (operators/scrub.py):
    deterministic PII is planted into the synthetic turns, scrubbed pre-parse,
    and the full parse → enrich → route chain runs over the redacted text. Per
    route: record counts, records carrying a redaction placeholder, and the
    leak count (records still matching a raw PII regex — the invariant is 0).

    The scrub is a regexp_replace projection fused into the parse scan — zero
    added shuffle; at 10^12 turns the hygiene pass is free IO-wise."""
    from .operators import scrub as scrub_ops

    scrubbed = scrub_ops.seed_and_scrub(transcripts_df(spark, ORACLE_N_TURNS))
    routed = build_pipeline(spark, scrubbed).routed
    return routed.groupBy("route").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(scrub_ops.placeholder_predicate().cast("int"))
        .cast("bigint")
        .alias("n_redacted_records"),
        F.sum(scrub_ops.pii_leak_predicate().cast("int"))
        .cast("bigint")
        .alias("n_leaks"),
    )


def q_pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 usage accounting joined to the hard gate (r3 verdict #7): the
    pipeline's Observation counters (plans/pipeline.py observed_routed — the
    reference's per-call usage metering,
    /root/reference/factcheck/utils/llmclient/gpt_client.py:36-41) emitted as
    (metric, value) rows. The metrics ride the job itself — ONE noop-sink
    pass materializes them; no second aggregation scan — and the DuckDB twin
    recomputes the same four counts from the routed relation, so the observe()
    plumbing (not just the counts) is what parity certifies."""
    from .plans.pipeline import observed_routed
    from .sources.transcripts import transcripts_df

    routed, obs = observed_routed(transcripts_df(spark, ORACLE_N_TURNS), spark)
    routed.write.format("noop").mode("overwrite").save()
    rows = sorted((k, int(v)) for k, v in obs.get.items())
    return local_frame(spark, rows, "metric string, value bigint")


PIPELINE_QUERIES: dict[str, QuerieFn] = {
    "pipeline_summary": q_pipeline_summary,
    "pipeline_summary_per_conv": q_pipeline_summary_per_conv,
    "pipeline_verdicts": q_pipeline_verdicts,
    "pipeline_routed_counts": q_pipeline_routed_counts,
    "pipeline_parse_claims": q_pipeline_parse_claims,
    "pipeline_span_invariant": q_pipeline_span_invariant,
    "pipeline_tool_trace": q_pipeline_tool_trace,
    "pipeline_query_fanout": q_pipeline_query_fanout,
    "pipeline_evidence_topk": q_pipeline_evidence_topk,
    "pipeline_evidence_topk_ce": q_pipeline_evidence_topk_ce,
    "pipeline_evidence_grouped": q_pipeline_evidence_grouped,
    "pipeline_rollup": q_pipeline_rollup,
    "pipeline_token_stats": q_pipeline_token_stats,
    "pipeline_round_robin": q_pipeline_round_robin,
    "pipeline_lang_id": q_pipeline_lang_id,
    "pipeline_dq_checks": q_pipeline_dq_checks,
    "pipeline_evidence_union": q_pipeline_evidence_union,
    "pipeline_tool_last_status": q_pipeline_tool_last_status,
    "pipeline_pii_scrubbed": q_pipeline_pii_scrubbed,
    "pipeline_training_pairs": q_pipeline_training_pairs,
    "pipeline_conv_docs": q_pipeline_conv_docs,
    "pipeline_observe_metrics": q_pipeline_observe_metrics,
}


def _correctness_files() -> list[str]:
    """Committed CORRECTNESS_r*.json paths, sorted. Pinned to `git ls-files`
    so registry iteration order is reproducible from the committed tree alone
    — an untracked or locally-edited CORRECTNESS file in a dirty checkout
    must not change `queries()` ordering. Falls back to a plain glob where
    git is unavailable (packaged --py-files zip run outside the repo)."""
    import glob
    import logging
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        res = subprocess.run(
            ["git", "-C", root, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if res.returncode == 0:
            files = [os.path.join(root, ln) for ln in res.stdout.split() if ln]
            return sorted(files)
    except Exception:
        pass
    logging.getLogger(__name__).warning(
        "git ls-files unavailable: CORRECTNESS_r*.json taken from a glob of %s", root
    )
    return sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))


def _last_green_round() -> dict[str, int]:
    """name -> NEWEST round whose committed driver row is fully green, where
    green is strict: rows_match, schema_match, and ``hash_match is True`` —
    a row whose value hash never ran (None) is NOT green; its query stays at
    the front of the window until the hash gate actually passes. Names absent
    from the dict have never earned a strict-green driver row."""
    import json
    import re

    last: dict[str, int] = {}
    for path in _correctness_files():
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, v in rows.items():
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is True
                and not v.get("err")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def build_queries() -> dict[str, QuerieFn]:
    """Registry in DRIVER-WINDOW priority order — rotation v2 (r4 verdict #2):
    least-recently-verified first. Sort key per query: newest strict-green
    driver round (0 for never-green); the sort is stable, so ties keep
    registry insertion order. The CORRECTNESS file is a 50-row prefix
    window, so never-green and new queries lead, and the rest re-earn a
    driver row round-robin — every query is re-verified by the driver
    roughly every 3 rounds instead of draining a one-time backlog. A fresh
    checkout (no committed CORRECTNESS files) keeps insertion order."""
    merged: dict[str, QuerieFn] = {}
    merged.update(PIPELINE_QUERIES)
    from .testdata_queries import TESTDATA_QUERIES

    merged.update(TESTDATA_QUERIES)
    last = _last_green_round()
    return {n: merged[n] for n in sorted(merged, key=lambda n: last.get(n, 0))}


def build_oracle_sql() -> dict[str, str]:
    out = dict(oracle_mod.oracle_queries(ORACLE_N_TURNS))
    from .testdata_queries import TESTDATA_ORACLES

    out.update(TESTDATA_ORACLES)
    return out
