"""Sequence packing: greedy fill of fixed-capacity context windows — the step
between a cleaned corpus and a training run (docs are concatenated into
CAP-token windows so no GPU batch slot is wasted on padding).

Greedy first-fit in a fixed traversal order is inherently sequential *within a
stream*, and a stream is unbounded (unlike a T3 doc's <= 5 passages, so no
per-group array fold fits): partition the corpus into independent packing
streams (here `source`; at 10^12 docs a hash-bucket column with ~10^5 buckets),
repartition + sortWithinPartitions, and ONE mapInPandas pass that packs many
streams per Arrow batch, carrying a stream that straddles two batches forward.
Wasted tail space is bounded per stream (< CAP tokens each), so more streams =
more parallelism at a fixed, known packing-efficiency cost.

The traversal order (source, doc_id) is total and deterministic, so bin
assignments are byte-identical across runs, engines, and parallelism levels —
the DuckDB oracle replays the same greedy scan as a recursive CTE
(dual.pack_sequences_oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PACK_CAP = 256  # tokens per context window (test-scale; 2k-8k in production)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("bin_idx", T.IntegerType(), False),
        T.StructField("offset_tokens", T.IntegerType(), False),
    ]
)


def pack_stream_pdf(pdf: pd.DataFrame, cap: int = PACK_CAP) -> pd.DataFrame:
    """Greedy first-fit for ONE stream, rows already in traversal order.
    A doc that doesn't fit opens the next bin; a doc longer than cap gets a
    bin of its own (never split — document boundaries are sacred here;
    chunking long docs is `chunk_documents`' job upstream)."""
    out = []
    bin_idx, fill = 0, 0
    for row in pdf.itertuples(index=False):
        n = int(row.n_tokens)
        if fill > 0 and fill + n > cap:
            bin_idx += 1
            fill = 0
        out.append(
            {
                "source": row.source,
                "doc_id": int(row.doc_id),
                "n_tokens": n,
                "bin_idx": bin_idx,
                "offset_tokens": fill,
            }
        )
        fill += n
    return pd.DataFrame(out, columns=[f.name for f in _OUT_SCHEMA.fields])


def _pack_batches(batches, cap: int = PACK_CAP):
    """mapInPandas worker: packs many streams per batch. Rows arrive sorted by
    stream, so only a batch's trailing stream can continue in the next batch:
    it is held back and packed together with that batch's rows."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        last = pdf["source"].iloc[-1]
        main = pdf[pdf["source"] != last]
        carry = pdf[pdf["source"] == last]
        if len(main):
            yield pd.concat(
                [pack_stream_pdf(g, cap) for _, g in main.groupby("source", sort=False)],
                ignore_index=True,
            )
    if carry is not None and len(carry):
        yield pd.concat(
            [pack_stream_pdf(g, cap) for _, g in carry.groupby("source", sort=False)],
            ignore_index=True,
        )


def pack_sequences(documents: DataFrame, cap: int = PACK_CAP) -> DataFrame:
    """documents(doc_id, text, source) -> per-doc (bin_idx, offset) packing
    assignment. Token counts are computed JVM-side before the Python boundary,
    so the exchange and the Arrow transfer carry three narrow columns — never
    the text."""
    sized = documents.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tokens"),
    )
    return (
        sized.repartition("source")
        .sortWithinPartitions("source", "doc_id")
        .mapInPandas(lambda it: _pack_batches(it, cap), _OUT_SCHEMA)
    )
