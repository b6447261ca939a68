"""T3: greedy non-overlapping passage selection — the one inherently sequential
per-group operator (SURVEY.md §2.6 T3, §2.9 'the only UDTF-shaped thing').

The reference scans score-sorted passages and rejects interval overlaps, capping
at 5 per search result (/root/reference/factcheck/core/Retriever/base.py:174-197,
param :28). Order within a group is load-bearing, so the selection is a per-doc
left fold over the doc's chunks in (score desc, start_word) order, evaluated in
the JVM: one hash aggregate collects each doc's chunks, `aggregate` folds them
into at most MAX_PASSAGES chosen intervals, and `posexplode` turns the result
back into rows. No Python runs in the operator, and the fold's state is bounded
by MAX_PASSAGES, so a group costs one sort of its chunks however long the doc.

Scores are a deterministic portable hash of the chunk text, so re-runs and both
parallelism levels select identical passages.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h7

MAX_PASSAGES = 5  # base.py:28 max_passages_per_search_result_to_return

# One doc's chunks sorted ascending by (-score, start_word) = score desc, ties
# on start_word; the fold admits a chunk iff fewer than MAX_PASSAGES are chosen
# and neither of its endpoints falls inside a chosen interval (the reference
# predicate, see select_passages_pdf).
_SELECT_EXPR = f"""
aggregate(
  array_sort(collect_list(struct(-score AS k, start_word AS s, end_word AS e,
                                 score AS sc))),
  cast(array() as array<struct<s:int,e:int,sc:bigint>>),
  (acc, c) -> CASE
    WHEN size(acc) < {MAX_PASSAGES}
     AND NOT exists(acc, p -> (p.s <= c.s AND c.s < p.e) OR (p.s < c.e AND c.e <= p.e))
    THEN array_append(acc, struct(c.s AS s, c.e AS e, c.sc AS sc))
    ELSE acc END)
"""


def chunk_score(text: str) -> int:
    """28-bit md5-prefix hash — the value functions/hashing.h7 computes in the
    JVM, in Python for the pure-Python reference."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:7], 16)


def select_passages_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy per-doc selection: score desc (tie: start_word), reject overlaps,
    cap MAX_PASSAGES. Pure function of one group — reused by tests as the
    reference implementation.

    The overlap predicate mirrors the reference exactly
    (/root/reference/factcheck/core/Retriever/base.py:174-182): a candidate is
    rejected iff one of ITS endpoints falls inside an already-chosen interval
    (a candidate strictly containing a chosen passage would be admitted there).
    The reference's end index is inclusive; ours is exclusive, so
    cand.start ∈ [s, e-1] becomes s <= cs < e and cand.end-1 ∈ [s, e-1]
    becomes s < ce <= e. For sliding-window chunk geometry (an earlier chunk
    never strictly contains a later one) this is equivalent to any-intersection,
    but the predicate is now the reference's, not an approximation."""
    pdf = pdf.sort_values(["score", "start_word"], ascending=[False, True])
    chosen: list[tuple[int, int, int]] = []  # (start, end, score)
    for row in pdf.itertuples(index=False):
        if len(chosen) >= MAX_PASSAGES:
            break
        if any(
            (s <= row.start_word < e) or (s < row.end_word <= e) for s, e, _ in chosen
        ):
            continue
        chosen.append((row.start_word, row.end_word, row.score))
    doc_id = int(pdf["doc_id"].iloc[0]) if len(pdf) else 0
    return pd.DataFrame(
        [(doc_id, s, e, sc, i + 1) for i, (s, e, sc) in enumerate(chosen)],
        columns=["doc_id", "start_word", "end_word", "score", "sel_rank"],
    )


def select_passages(chunks: DataFrame) -> DataFrame:
    """chunks(doc_id, start_word, end_word, score) -> selected passages
    (doc_id, start_word, end_word, score, sel_rank); use with_scores first.

    Execution shape: one hash aggregate on doc_id whose value is the fold
    above, then a posexplode of the <= MAX_PASSAGES chosen intervals."""
    return (
        chunks.groupBy("doc_id")
        .agg(F.expr(_SELECT_EXPR).alias("chosen"))
        .selectExpr("doc_id", "posexplode(chosen) AS (pos, p)")
        .selectExpr(
            "doc_id", "p.s AS start_word", "p.e AS end_word", "p.sc AS score",
            "cast(pos + 1 AS int) AS sel_rank",
        )
    )


def with_scores(chunks: DataFrame) -> DataFrame:
    """Attach the portable JVM-side score (functions/hashing.h7 of the chunk
    text, the value chunk_score computes in Python)."""
    return chunks.withColumn("score", F.expr(h7("chunk_text", "spark")))
