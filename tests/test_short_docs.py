"""Docs shorter than the shingle width (operators/dual.word_ngrams): they get
no n-grams on either engine, and neither the batch dedup queries nor an
ingest micro-batch abort on them."""

from __future__ import annotations

import duckdb
import pytest

from openfactverification_spark.operators import dual
from openfactverification_spark.operators.dual import D
from openfactverification_spark.sources import snaplog
from openfactverification_spark.streaming import ingest_dedup

_LONG = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
_OTHER = "kilo lima mike november oscar papa quebec romeo sierra tango"
# 0, 1 and 2 words, then two identical long docs
_DOCS = [(1, ""), (2, "one"), (3, "one two"), (4, _LONG), (5, _LONG)]


@pytest.mark.parametrize(
    "builder",
    [dual.q_dedup_minhash_lsh, dual.q_doc_fingerprint, dual.q_minhash_signatures],
    ids=["dedup_minhash_lsh", "doc_fingerprint", "minhash_signatures"],
)
def test_short_docs_same_rows_on_both_engines(spark, builder):
    spark.createDataFrame(_DOCS, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    # the planted view shadows the fixture table: make testdata_queries'
    # _register_views re-register real tables for whoever runs next
    spark.conf.set("spark.ofv.registered_sf", "")
    got = sorted(tuple(r) for r in spark.sql(builder(D("spark"))).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _DOCS)
    want = sorted(con.execute(builder(D("duckdb"))).fetchall())
    assert got == want
    if builder is dual.q_dedup_minhash_lsh:
        assert got == [(4, 5, 1.0)]
    else:
        assert {r[0] for r in got} == {4, 5}


def test_short_doc_in_ingest_batch_is_new_and_stores_nothing(spark, tmp_path):
    """A 2-word doc in a direct process_batch: the batch completes, the doc
    comes out new, and it adds no store/sh or store/bands row."""
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    ingest_dedup.seed_store(spark, spark.createDataFrame([(0, _LONG)], schema), store)
    batch = spark.createDataFrame([(1, "one two"), (2, _OTHER), (3, _LONG)], schema)
    ingest_dedup.process_batch(spark, batch, 0, store, out)
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in snaplog.read(spark, f"{out}/status").collect()
    }
    assert got == {1: ("new", None), 2: ("new", None), 3: ("dup_of_seen", 0)}
    for table in ("sh", "bands"):
        stored = {r["doc_id"] for r in snaplog.read(spark, f"{store}/{table}").collect()}
        assert stored == {0, 2}, table
