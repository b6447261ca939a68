"""Sequential store-growth semantics of dedup_incremental (planted batches).

Oracle parity (scripts/check_parity.py + the driver) pins Spark≡DuckDB on the
fixture corpus; these tests pin the SEMANTICS on planted documents where the
expected status of every increment doc is known by construction, once on
each side:

* the store grows with accepted docs — a batch-2 doc duplicating a doc
  ACCEPTED in batch 1 is dup_of_seen, not new (the Spark ingest path:
  seed_store + one process_batch per increment);
* dropped docs never enter the store — a batch-2 doc whose only near-dup
  partner was itself dropped in batch 1 comes out new (the DuckDB template,
  with the pair chain injected through ``pairs_sql``).
"""

from __future__ import annotations

import duckdb

from openfactverification_spark.operators import dual
from openfactverification_spark.sources import snaplog
from openfactverification_spark.streaming import ingest_dedup

# batch = doc_id % 3: 0 -> corpus, 1 -> first increment, 2 -> second increment
_T0 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
_T1 = "one two three four five six seven eight nine ten"
_T2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
_T3 = "uniform victor whiskey xray yankee zulu apple banana cherry dog"
_DOCS = [
    (0, _T0),  # corpus
    (3, _T1),  # corpus
    (1, _T0),  # b1: dup of corpus doc 0
    (4, _T2),  # b1: new
    (7, _T2),  # b1: dup of batch-mate 4
    (2, _T2),  # b2: dup of ACCEPTED batch-1 doc 4 (store grew)
    (5, _T3),  # b2: new
    (8, _T3),  # b2: dup of batch-mate 5
]


def test_store_growth_with_minhash_pairs(spark, tmp_path):
    """End-to-end through the Spark ingest path: identical texts pair at
    jaccard 1.0, the batch rules classify every increment doc, and only
    accepted docs' signatures enter the store — the dropped docs 1 and 7
    leave no store/sh or store/bands row."""
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
    for epoch in (0, 1):
        batch = docs.filter(f"doc_id % 3 = {epoch + 1}")
        ingest_dedup.process_batch(spark, batch, epoch, store, out, threshold=0.9)
    got = {
        r["doc_id"]: (r["batch_id"], r["status"], r["dup_of"])
        for r in snaplog.read(spark, f"{out}/status").collect()
    }
    assert got == {
        1: (1, "dup_of_seen", 0),
        4: (1, "new", None),
        7: (1, "dup_in_batch", 4),
        2: (2, "dup_of_seen", 4),
        5: (2, "new", None),
        8: (2, "dup_in_batch", 5),
    }
    for table in ("sh", "bands"):
        stored = {
            r["doc_id"]
            for r in snaplog.read(spark, f"{store}/{table}").select("doc_id").collect()
        }
        assert not stored & {1, 7}, table
        assert stored == {0, 3, 4, 5}, table


def test_dropped_docs_never_enter_store():
    """Injected pair chain 3~10, 10~11 (jaccard is not transitive): doc 10 is
    dropped as a corpus dup, so doc 11 — whose only partner is the DROPPED
    doc — is new, exactly what a signature store that only appends accepted
    docs would say."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES (3, 'corpus doc'), "
        "(10, 'near dup of corpus'), (11, 'near dup of ten')) t(doc_id, text)"
    )
    pairs = "SELECT * FROM (VALUES (3, 10), (10, 11)) p(id_a, id_b)"
    rows = con.execute(dual.q_dedup_incremental(dual.D("duckdb"), pairs_sql=pairs)).fetchall()
    got = {doc_id: (batch_id, status, dup_of) for doc_id, batch_id, status, dup_of in rows}
    assert got == {
        10: (1, "dup_of_seen", 3),
        11: (2, "new", None),
    }
