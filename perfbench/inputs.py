"""Seeded input generators. The program under test only ever sees what these
write; the same seed always gives the same inputs."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column small join customer query big order group filter "
    "stream vector the a"
).split()


def transcript_offset(seed: int) -> int:
    """Row-id offset of this seed's transcripts. A multiple of 8 keeps every
    conversation whole; the bound keeps conv ids within their 6 digits."""
    return 8 * ((seed * 7919) % 50_000)


def transcripts(spark, n_turns: int, seed: int):
    """The package's transcript formula over ids [offset, offset + n)."""
    from openfactverification_spark.sources.transcripts import _transcript_exprs

    off = transcript_offset(seed)
    exprs = _transcript_exprs("spark", t="id")
    return spark.range(off, off + n_turns).selectExpr(
        *[f"{e} AS {name}" for name, e in exprs.items()]
    )


def ingest_docs(spark, n: int, offset: int, batch_docs: int, seed: int):
    """Ingest corpus with planted near-duplicates (40 hashed words per doc):
    ids with id % 100 < 6 copy the class-50 doc of the previous batch with
    the last word changed (dup_of_seen), ids with 6 <= id % 100 < 12 copy the
    class-99 doc of their own batch (dup_in_batch). Each batch of a multiple
    of 100 docs is therefore 6% dup_of_seen, 6% dup_in_batch, 88% new."""
    return spark.range(offset, offset + n).selectExpr(
        "id AS doc_id",
        f"""concat_ws(' ', transform(sequence(0, 39), i -> substr(sha2(concat(
            '{seed}:', cast(
            (CASE WHEN id % 100 < 6 AND id >= {batch_docs}
                    THEN id - {batch_docs} - (id % 100) + 50
                  WHEN id % 100 >= 6 AND id % 100 < 12
                    THEN id - (id % 100) + 99
                  ELSE id END) * 40 +
            (CASE WHEN id % 100 < 12 AND i = 39 THEN -1 ELSE i END)
            AS string)), 256), 1, 8))) AS text""",
    )


def suite_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """documents + embeddings parquet in the driver-table layout, with planted
    near-duplicates (every 10th doc / vector copies an earlier one, slightly
    edited) so the dedup and ANN queries find real pairs."""
    rng = np.random.default_rng(seed % 2**32)
    os.makedirs(sf_dir, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i % 10 == 9:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(20, 80))))
        texts.append(" ".join(words))
    langs = ("en", "de", "fr", "es", "zh")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([langs[i % 5] for i in range(n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )

    vecs = rng.normal(0.0, 0.12, size=(n_vecs, 64)).astype(np.float32)
    for i in range(9, n_vecs, 10):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, 64).astype(
            np.float32
        )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, n_vecs), pa.int32()),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    # every suite query registers all driver tables as views; the ones the
    # suite does not read are one-row placeholders
    from openfactverification_spark.sources.tables import TABLES

    for t in TABLES:
        if t not in ("documents", "embeddings"):
            pq.write_table(
                pa.table({"id": pa.array([0], pa.int64())}),
                os.path.join(sf_dir, f"{t}.parquet"),
            )
