"""PageRank power iteration (q_pagerank_trade) — invariants."""

from __future__ import annotations

from openfactverification_spark.operators.dual import D, q_pagerank_trade
from openfactverification_spark.sources.tables import table_path

SF = "/root/testdata/sf0.01"
_TABLES = ("lineitem", "orders", "customer", "supplier", "nation")


def _views(spark):
    for t in _TABLES:
        spark.read.parquet(table_path(SF, t)).createOrReplaceTempView(t)


def test_pagerank_mass_conserved_and_converging(spark):
    _views(spark)
    d = D("spark")
    r5 = {r["node"]: r["pagerank"] for r in spark.sql(q_pagerank_trade(d, iters=5)).collect()}
    r8 = {r["node"]: r["pagerank"] for r in spark.sql(q_pagerank_trade(d, iters=8)).collect()}
    assert abs(sum(r5.values()) - 1.0) < 1e-4  # dangling mass redistributed, not lost
    # power iteration contraction: successive iterates approach the fixed point
    delta = max(abs(r5[n] - r8[n]) for n in r5)
    assert delta < 0.01
    assert len(set(r5.values())) > 10  # ranks actually differentiate


def test_pagerank_no_damping_is_uniform(spark):
    _views(spark)
    d = D("spark")
    rows = spark.sql(q_pagerank_trade(d, iters=3, damping=0.0)).collect()
    assert all(abs(r["pagerank"] - 1.0 / 25) < 1e-6 for r in rows)
