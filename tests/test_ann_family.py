"""The ANN / IVF / k-means family (operators/dual.py): every registered query
compiles under whole-stage codegen, and the two dialects' LSH bucket
renderers emit the same bucket stream."""

from __future__ import annotations

import duckdb
import pytest

from openfactverification_spark.operators import dual
from openfactverification_spark.sources.tables import table_path
from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

SF = "/root/testdata/sf0.001"

ANN_FAMILY = sorted(
    n for n in TESTDATA_QUERIES if n.startswith("embed_") or n == "semantic_dedup"
)


def test_ann_family_compiles_without_codegen_fallback(spark):
    """With spark.sql.codegen.fallback=false a generated method that does not
    compile (the 64KB method limit) raises instead of silently running
    interpreted: every registered ANN-family query must still collect."""
    assert {
        "embed_ivf_ann", "embed_dup_pairs_lsh", "embed_ann_recall",
        "embed_ann_recall_probe4", "embed_recall_clustered_refined",
        "embed_recall_clustered_probe2", "embed_recall_clustered_seeded",
        "embed_lsh_ann", "embed_lsh_recall_mt", "semantic_dedup",
    } <= set(ANN_FAMILY)
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        for name in ANN_FAMILY:
            assert TESTDATA_QUERIES[name](spark, SF).collect(), name
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.conf.set("spark.ofv.registered_sf", "")


@pytest.mark.parametrize("planes_per_table,n_tables", [(8, 1), (3, 8), (12, 8)])
def test_bucket_renderers_agree_across_engines(spark, planes_per_table, n_tables):
    """Spark's loop-form and DuckDB's relational (tbl, j, w) renderer give the
    same (vec_id, tbl, bucket) stream."""
    path = table_path(SF, "embeddings")
    spark.read.parquet(path).createOrReplaceTempView("embeddings")
    got = spark.sql(
        dual.lsh_buckets_sql(dual.D("spark"), planes_per_table, n_tables, "embeddings")
    ).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(
        dual.lsh_buckets_sql(dual.D("duckdb"), planes_per_table, n_tables, "embeddings")
    ).fetchall()
    n_vecs = spark.table("embeddings").count()
    assert len(got) == n_vecs * n_tables
    assert sorted(tuple(r) for r in got) == sorted(want)
    spark.conf.set("spark.ofv.registered_sf", "")
