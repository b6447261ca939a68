"""Operator-coverage queries over the driver's parquet tables.

Each entry pairs a Spark callable with a DuckDB oracle rendered from the SAME
dual-dialect template (operators/dual.py) — two engines, one semantic spec.
Spark executes via spark.sql (Catalyst plans are identical to the DataFrame API).
"""

from __future__ import annotations

import posixpath
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import hashing as H
from .operators import dual
from .operators.dual import D
from .operators.multimodal import (
    multimodal_bytes_oracle,
    multimodal_frames_oracle,
    q_multimodal_bytes,
    q_multimodal_frames,
)
from .sources.tables import TABLES, table_path

_SPARK = D("spark")
_DUCK = D("duckdb")

# name -> dual.py builder
_DUAL_QUERIES: dict[str, Callable[[D], str]] = {
    "dedup_exact": dual.q_dedup_exact,
    "dedup_ngram_jaccard": dual.q_dedup_ngram_jaccard,
    "minhash_signatures": dual.q_minhash_signatures,
    "dedup_minhash_lsh": dual.q_dedup_minhash_lsh,
    "dedup_incremental": dual.q_dedup_incremental,
    "dedup_simhash": dual.q_dedup_simhash,
    "dedup_simhash_banded": dual.q_dedup_simhash_banded,
    "doc_fingerprint": dual.q_doc_fingerprint,
    "training_ready": dual.q_training_ready,
    "sample_stratified": dual.q_sample_stratified,
    "sample_quality_weighted": dual.q_sample_quality_weighted,
    "split_train_holdout": dual.q_split_train_holdout,
    "mix_domains": dual.q_mix_domains,
    "epoch_shuffle": dual.q_epoch_shuffle,
    "text_stats": dual.q_text_stats,
    "clean_text": dual.q_clean_text,
    "text_lang_id": dual.q_lang_id,
    "text_lang_id_model": dual.q_lang_id_model,
    "chunk_documents": dual.q_chunk_documents,
    "embed_cosine_topk": dual.q_embed_cosine_topk,
    # every recall row is one point of q_embed_ann_recall, with the paid
    # candidate volume in-row (recall_with_cost_sql)
    "embed_ann_recall": dual.q_embed_ann_recall,
    "embed_ann_recall_probe4": partial(dual.q_embed_ann_recall, nprobe=4),
    "embed_lsh_recall": partial(dual.q_embed_ann_recall, method="lsh"),
    "embed_lsh_recall_planes4": partial(
        dual.q_embed_ann_recall, method="lsh", planes_per_table=4
    ),
    # multi-probe (Hamming-distance-1 buckets): recall 0.167 vs 0.022
    # single-bucket at 8 planes on the adversarial random fixture, and 0.933
    # at 8 planes on the clustered-geometry fixture
    "embed_lsh_recall_multiprobe": partial(
        dual.q_embed_ann_recall, method="lsh", radius=1
    ),
    "embed_lsh_recall_multiprobe_clustered": partial(
        dual.q_embed_ann_recall, method="lsh", radius=1, clustered=True
    ),
    # (planes x tables x probes) sweep on the RANDOM fixture (r4 verdict #6):
    # the >=0.9-recall configuration (0.933 recall@3 at 49% of brute-force
    # candidate volume at sf0.01; 0.967 at sf0.1) ...
    "embed_lsh_recall_mt": partial(
        dual.q_embed_ann_recall,
        method="lsh", planes_per_table=10, n_tables=12, radius=2,
    ),
    # ... and the sublinear-candidates point of the measured tradeoff curve
    # (~20% of brute force; recall 0.556 at sf0.01 rising to 0.811 at sf0.1
    # as true neighbors move closer) — the documented bound: on random
    # geometry recall >=0.9 costs ~half of brute force, BENCH.md "ANN sweep"
    "embed_lsh_recall_mt_sparse": partial(
        dual.q_embed_ann_recall,
        method="lsh", planes_per_table=12, n_tables=10, radius=2,
    ),
    "embed_dup_pairs": dual.q_embed_dup_pairs,
    "embed_dup_pairs_lsh": dual.q_embed_dup_pairs_lsh,
    # LSH in the regime it is built for: a planted near-exact twin per vector
    "embed_neardup_planted_lsh": partial(
        dual.q_embed_dup_pairs_lsh,
        threshold=0.98, planes_per_table=8, n_tables=4, bump=1.05,
    ),
    # production-regime LSH headline (r2 verdict #3): threshold 0.90, p=12
    # planes x L=8 tables on the planted-twin fixture — candidates ~linear;
    # the threshold-0.40 embed_dup_pairs_lsh stays registered as the
    # documented worst-case anchor
    "embed_dup_pairs_lsh_hi": partial(
        dual.q_embed_dup_pairs_lsh,
        threshold=0.90, planes_per_table=12, n_tables=8, bump=1.05,
    ),
    # one-row regime measurement: candidate volume vs all-pairs, oracle-paired
    "embed_lsh_hi_stats": partial(
        dual.q_embed_dup_pairs_lsh,
        threshold=0.90, planes_per_table=12, n_tables=8, bump=1.05, output="stats",
    ),
    "embed_lsh_ann": dual.q_embed_lsh_ann,
    "embed_ivf_ann": dual.q_embed_ivf_ann,
    "tpch_q1_pricing": dual.q_tpch_q1,
    "topk_revenue_orders": dual.q_topk_revenue_orders,
    "regional_revenue": dual.q_regional_revenue,
    "window_topk_per_order": dual.q_window_topk_per_order,
    "semi_join_returned": dual.q_semi_join_returned,
    "anti_join_idle_customers": dual.q_anti_join_idle_customers,
    "rollup_priority": dual.q_rollup_priority,
    "customer_set_ops": dual.q_customer_set_ops,
    "events_daily_route": dual.q_events_daily_route,
    "events_json_k": dual.q_events_json_k,
    "events_sessionize": dual.q_events_sessionize,
    "events_error_gap": dual.q_events_error_gap,
    "events_window_join": dual.q_events_window_join,
    "events_window_join_binned": dual.q_events_window_join_binned,
    "events_value_percentiles": dual.q_events_value_percentiles,
    "pii_redact": dual.q_pii_redact,
    "quality_repetition": dual.q_quality_repetition,
    "dedup_ngram_spans": dual.q_dedup_ngram_spans,
    "decontaminate_eval": dual.q_decontaminate_eval,
    "quality_perplexity": dual.q_quality_perplexity,
    "bm25_search": dual.q_bm25_search,
    "events_scd2": dual.q_events_scd2,
    "events_distinct_daily": dual.q_events_distinct_daily,
    "events_zorder_key": dual.q_events_zorder_key,
    "embed_kmeans_step": dual.q_embed_kmeans_step,
    "embed_kmeans_converged": dual.q_embed_kmeans_converged,
    "semantic_dedup": dual.q_semantic_dedup,
    "tokenize_bpe": dual.q_tokenize_bpe,
    "corpus_top_terms": dual.q_corpus_top_terms,
    "corpus_top_terms_cms": dual.q_corpus_top_terms_cms,
    "pagerank_trade": dual.q_pagerank_trade,
    "events_cdc_merge": dual.q_events_cdc_merge,
    "events_asof_value": dual.q_events_asof_value,
    "events_histogram": dual.q_events_histogram,
    "events_winsorize": dual.q_events_winsorize,
    "text_token_entropy": dual.q_text_token_entropy,
    "events_funnel": dual.q_events_funnel,
    "events_retention": dual.q_events_retention,
    "events_anomaly_mad": dual.q_events_anomaly_mad,
    "events_sliding_rate": dual.q_events_sliding_rate,
    "events_grok_parse": dual.q_events_grok_parse,
}


# k-means-refined IVF: Spark runs each through _refined_ivf_runner
# (collect-then-literal), DuckDB runs the registered builder itself
_REFINED_IVF: dict[str, partial] = {
    "embed_recall_random_refined": partial(
        dual.q_embed_ann_recall, n_cells=8, nprobe=4, rounds=3
    ),
    "embed_ivf_ann_refined": partial(dual.q_embed_ivf_ann, n_cells=8, nprobe=2, rounds=3),
    # clustered-geometry recall family: refined centroids reach recall >= 0.9
    # at nprobe=1 and 1.0 at nprobe=2, with the paid candidate volume in the
    # same row; rounds=0 is the unrefined ablation
    "embed_recall_clustered_refined": partial(
        dual.q_embed_ann_recall, clustered=True, n_cells=16, nprobe=1, rounds=2
    ),
    "embed_recall_clustered_probe2": partial(
        dual.q_embed_ann_recall, clustered=True, n_cells=16, nprobe=2, rounds=2
    ),
    "embed_recall_clustered_seeded": partial(
        dual.q_embed_ann_recall, clustered=True, n_cells=16, nprobe=1, rounds=0
    ),
}


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    registered = spark.conf.get("spark.ofv.registered_sf", "")
    if registered == sf_dir:
        return
    for t in TABLES:
        spark.read.parquet(table_path(sf_dir, t)).createOrReplaceTempView(t)
    spark.conf.set("spark.ofv.registered_sf", sf_dir)


# per-call scratch roots of the runners that write tables (SnapLog stores,
# stream checkpoints); each is removed when its call returns
SCRATCH_ROOT = "/tmp/ofv_query_roots"


@contextmanager
def _call_root(sf_dir: str):
    """A fresh directory under SCRATCH_ROOT for one call, so concurrent runs
    never share a table or checkpoint; removed when the block exits. A
    runner materializes its rows (localCheckpoint) inside the block."""
    base = posixpath.join(
        SCRATCH_ROOT,
        f"{posixpath.basename(sf_dir.rstrip('/'))}-{uuid.uuid4().hex[:12]}",
    )
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _make_runner(builder: Callable[[D], str]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_views(spark, sf_dir)
        return spark.sql(builder(_SPARK))

    return run


def q_dedup_minhash_lsh_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark execution of dedup_minhash_lsh with the shingle table materialized
    ONCE (cached temp view): the query references `sh` five times (signature
    agg, two verify sides, two size lookups) and Spark inlines CTEs, so the
    inline form re-runs the n-gram construction five times — measured ~3x
    slower at sf0.1 with the K=128 sketch. At cluster scale the same decision
    is 'write the shingle/signature table once, derive bands+verify from it'.
    The DuckDB oracle keeps the single self-contained template (DuckDB
    materializes multiply-referenced CTEs on its own)."""
    _register_views(spark, sf_dir)
    sh = spark.sql(dual.doc_shingles_sql(_SPARK)).persist()
    sh.count()  # eager: otherwise all five consumers race to populate the cache
    sh.createOrReplaceTempView("sh_mat")
    return spark.sql(
        dual.q_dedup_minhash_lsh(_SPARK, sh_sql="SELECT doc_id, shingle FROM sh_mat")
    )


def q_dedup_incremental_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark execution of dedup_incremental as the production ingest loop:
    streaming/ingest_dedup's seed_store on the corpus stratum (batch 0),
    then one direct process_batch per increment (batches 1 and 2, in order)
    against the SnapLog signature store, read back from ``out/status``. The
    single-statement DuckDB template is the oracle; its step CTEs chain five
    deep, which Catalyst's CTE inlining expands exponentially, while the
    store holds each step's result between batches."""
    from .sources import snaplog
    from .streaming import ingest_dedup

    docs = spark.read.parquet(table_path(sf_dir, "documents")).select("doc_id", "text")
    with _call_root(sf_dir) as base:
        store, out = posixpath.join(base, "store"), posixpath.join(base, "out")
        ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
        for epoch in (0, 1):
            batch = docs.filter(f"doc_id % 3 = {epoch + 1}")
            ingest_dedup.process_batch(spark, batch, epoch, store, out)
        return (
            snaplog.read(spark, posixpath.join(out, "status"))
            .select("doc_id", "batch_id", "status", "dup_of")
            .localCheckpoint(eager=True)
        )


def q_dedup_simhash_banded_runner(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """Spark execution of dedup_simhash_banded with the simhash sketch
    materialized ONCE (cached temp view): the banded self-join references `sim`
    twice and Spark inlines CTEs, so the inline form runs the word explode +
    48-way bit-sum aggregation twice. Same materialize-the-sketch decision as
    q_dedup_minhash_lsh_runner; the DuckDB oracle keeps the self-contained
    template."""
    _register_views(spark, sf_dir)
    # plain nested form, NOT the WITH-CTE form: a WithCTE node in the cached
    # plan defeats the CacheManager's subtree match inside the larger query
    sim = spark.sql(dual.simhash_plain_sql(_SPARK)).persist()
    sim.count()  # eager, so both self-join sides read the cache
    sim.createOrReplaceTempView("sim_mat")
    return spark.sql(
        dual.q_dedup_simhash_banded(
            _SPARK,
            max_hamming=max_hamming,
            sim_sql="SELECT doc_id, simhash FROM sim_mat",
        )
    )


def q_dedup_ngram_spans_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark execution of dedup_ngram_spans with the (doc_id, pos, gh) gram
    stream materialized ONCE (cached temp view): the query consumes it twice
    (gstats pre-agg + join-back) and Spark inlines CTEs, so the inline form
    re-runs the explode+h7 gram construction — measured ~3x slower at sf0.1.
    Same decision as the minhash/simhash runners; the groupBy-join de-skew
    shape (AQE-splittable hot grams) is unchanged."""
    _register_views(spark, sf_dir)
    grams = spark.sql(dual.ngram_spans_grams_sql(_SPARK)).persist()
    grams.count()  # eager: both consumers must read the cache
    grams.createOrReplaceTempView("grams_mat")
    return spark.sql(
        dual.q_dedup_ngram_spans(
            _SPARK, grams_sql="SELECT doc_id, pos, gh FROM grams_mat"
        )
    )


def _planted_lsh_runner(q: partial) -> Callable[[SparkSession, str], DataFrame]:
    """Spark execution of a planted-twin LSH query (``q``: its registered
    q_embed_dup_pairs_lsh partial) with the normed-vector and bucket tables
    materialized ONCE (cached temp views): nv feeds three CTEs and buckets
    self-joins, and Spark inlines CTEs, so the inline form computes the
    p x L plane-dot bucket bits twice and the norms three times — at
    p=12 x L=8 the bits are the dominant cost (measured ~2x at sf0.1). At
    cluster scale the same decision is 'write signatures once, join from the
    signature table'. DuckDB oracle stays self-contained."""
    kw = q.keywords

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_views(spark, sf_dir)
        nv_sql = dual.planted_nv_sql(_SPARK, kw["bump"])
        nv = spark.sql(f"SELECT * FROM ({nv_sql}) q").persist()
        nv.count()
        nv.createOrReplaceTempView("nv_mat")
        bk = spark.sql(
            dual.lsh_buckets_sql(
                _SPARK, kw["planes_per_table"], kw["n_tables"], nv_ref="nv_mat"
            )
        ).persist()
        bk.count()
        bk.createOrReplaceTempView("buckets_mat")
        return spark.sql(
            q(
                _SPARK,
                nv_sql="SELECT vec_id, embedding, nrm FROM nv_mat",
                buckets_over_sql="SELECT vec_id, tbl, bucket FROM buckets_mat",
            )
        )

    return run


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: connected components over the minhash-LSH
    pair graph, executed with the large-star/small-star contraction — the
    O(log^2 n) scale path (operators/components.py; plain label propagation is
    the verified-equal baseline). DuckDB oracle = the same fixpoint as a
    recursive-CTE transitive closure. Reuses the cached-shingle minhash runner
    for the pair list."""
    from .operators.components import connected_components_star

    pairs = q_dedup_minhash_lsh_runner(spark, sf_dir)
    nodes = spark.table("documents").select("doc_id")
    return connected_components_star(nodes, pairs)


def q_dedup_ensemble_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-method dedup: connected components over the UNION of the
    minhash-LSH (word-shingle jaccard) and simhash-banded (weighted-feature
    hamming, at the tight hamming<=ENSEMBLE_MAX_HAMMING verdict threshold)
    pair graphs — the methods catch different near-dup classes, and the union
    components merge their verdicts into one keeper assignment (the
    composition production dedup actually ships: several cheap candidate
    generators, one clustering). Both pair sources reuse their materialized-
    sketch runners, the contraction is the O(log^2 n) large-star/small-star
    path, and the DuckDB oracle re-derives both pair sets AND the closure in
    one recursive CTE."""
    from .operators.components import connected_components_star

    pairs_mh = q_dedup_minhash_lsh_runner(spark, sf_dir).select("id_a", "id_b")
    pairs_sh = q_dedup_simhash_banded_runner(
        spark, sf_dir, max_hamming=dual.ENSEMBLE_MAX_HAMMING
    ).select("id_a", "id_b")
    nodes = spark.table("documents").select("doc_id")
    return connected_components_star(nodes, pairs_mh.unionByName(pairs_sh))


def q_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: greedy non-overlapping passage selection per document as a JVM
    fold (one `aggregate` per doc over its sorted chunks). The DuckDB
    oracle expresses the same greedy scan as a recursive CTE
    (dual.chunk_passages_oracle); correctness is additionally pinned by
    tests/test_verify_ops.py against a pure-Python reference."""
    from .operators import passages as passage_ops

    _register_views(spark, sf_dir)
    chunks = spark.sql(dual.q_chunk_documents(_SPARK))
    return passage_ops.select_passages(passage_ops.with_scores(chunks))


def _converged_centroids(
    spark: SparkSession, n_cells: int, rounds: int, source: str
) -> list[list[float]]:
    """The (cells x dim) centroid matrix after ``rounds`` Lloyd's rounds
    (q_embed_kmeans_converged), collected to the driver."""
    rows = spark.sql(
        dual.q_embed_kmeans_converged(_SPARK, n_cells=n_cells, rounds=rounds, source=source)
    ).collect()
    got = {(r["cell_id"], r["pos"]): r["centroid_val"] for r in rows}
    return [[got[(c, j)] for j in range(H.EMBED_DIM)] for c in range(n_cells)]


def _refined_ivf_runner(q: partial) -> Callable[[SparkSession, str], DataFrame]:
    """Spark side of a k-means-refined IVF query (``q``: its registered
    q_embed_ivf_ann or q_embed_ann_recall partial), executed the production
    way: the clustered fixture, when asked for, is materialized ONCE
    (localCheckpoint + temp view; the monolith re-executes it per CTE
    reference); the Lloyd's refinement runs once and its (cells x dim)
    centroid matrix is collected — the classic driver round-trip, not a data
    collect; the IVF search (plus, for a recall row, the exact baseline and
    recall tail) runs with those centroids as the literal c0. The DuckDB
    oracle (``q`` itself) re-derives fixture, refinement AND search in one
    composed SQL, so the hash match proves the collect-then-literal split is
    bit-identical to the in-SQL chain (the 6 dp per-round rounding). rounds=0
    is the unrefined seeded pool."""
    kw = dict(q.keywords)
    recall = q.func is dual.q_embed_ann_recall
    source = "cemb" if kw.pop("clustered", False) else "embeddings"
    rounds = kw.pop("rounds")

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_views(spark, sf_dir)
        if source == "cemb":
            spark.sql(
                f"WITH {dual.clustered_embeddings_cte(_SPARK)} SELECT * FROM cemb"
            ).localCheckpoint(eager=True).createOrReplaceTempView("cemb")
        cents = _converged_centroids(spark, kw["n_cells"], rounds, source) if rounds else None
        ann = dual.q_embed_ivf_ann(
            _SPARK, centroids=cents, source=source, stats=recall, **kw
        )
        if not recall:
            return spark.sql(ann)
        bf = dual.q_embed_cosine_topk(_SPARK, k=3, n_queries=30, source=source)
        return spark.sql(dual.recall_with_cost_sql(_SPARK, ann, bf))

    return run


def q_snaplog_overwrite_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnapLog table format (sources/snaplog.py) driven through the
    correctness gate: three versioned commits — append days < 16, append the
    rest, then an atomic ``overwrite_partitions`` replacing the last five
    days with value-doubled recomputations (the Iceberg
    ``overwritePartitions`` semantics the north star names) — and a final
    read through the snapshot log, aggregated per day. The DuckDB oracle
    states the expected END STATE algebraically (untouched days UNION
    doubled days), so the whole commit protocol (immutable files, manifest
    listing, partition-value re-attachment) must compose correctly for the
    hashes to match. Time travel is asserted cheaply: version 1 must still
    read as exactly the pre-cut rows. The table lives in a per-call root
    that is removed once the aggregated rows are materialized."""
    from .sources import snaplog

    _register_views(spark, sf_dir)
    ev = spark.table("events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    with _call_root(sf_dir) as table:
        snaplog.append(spark, table, ev.filter(F.col("day") < "2024-01-16"), ["day"])
        snaplog.append(spark, table, ev.filter(F.col("day") >= "2024-01-16"))
        patch = ev.filter(F.col("day") >= "2024-01-26").withColumn(
            "value", F.col("value") * 2
        )
        snaplog.overwrite_partitions(spark, table, patch)

        v1_days = (
            snaplog.read(spark, table, version=1)
            .agg(F.max("day").alias("mx"))
            .collect()[0]["mx"]
        )
        assert v1_days < "2024-01-16", v1_days
        return (
            snaplog.read(spark, table)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )


def snaplog_overwrite_daily_oracle() -> str:
    """End-state spec of q_snaplog_overwrite_daily's three commits."""
    return """
WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, value FROM events),
final AS (
  SELECT day, value FROM ev WHERE day < '2024-01-26'
  UNION ALL
  SELECT day, value * 2 AS value FROM ev WHERE day >= '2024-01-26'
)
SELECT day, count(*) AS n_events, round(sum(value), 4) AS total_value
FROM final GROUP BY day"""


def _await_stream(q, timeout_s: float) -> None:
    """Block until an availableNow query has finished. A query still running
    at the deadline is stopped and raises TimeoutError; a query that failed
    re-raises its exception."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.id} still running after {timeout_s}s; stopped it"
        )
    err = q.exception()
    if err is not None:
        raise err


def q_ingest_dedup_stream_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-PRODUCED result through the correctness gate (r4 verdict #7):
    replay the fixed micro-batch sequence of dedup_incremental (batch =
    doc_id % 3; stratum 0 seeds the store, strata 1 and 2 arrive as two
    availableNow runs over a file source, the second restarting from the
    checkpoint) through the REAL streaming machinery — foreachBatch,
    SnapLog signature store, per-epoch exactly-once commits — and return the
    final ``out/status`` table. The DuckDB oracle is the batch operator's
    own dedup_incremental template: the stream's END STATE must equal the
    sequential batch computation row-for-row (stream ≡ batch, now
    driver-hash-checked, not just pytest-pinned).

    The status rows are materialized before the call's root (store,
    checkpoint, source and status files) is removed, so nothing is left
    behind; a stream that times out or fails raises."""
    from .sources import snaplog
    from .streaming import ingest_dedup

    with _call_root(sf_dir) as base:
        store, out, ck, src = (posixpath.join(base, d) for d in ("store", "out", "ck", "src"))
        docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
            "doc_id", "text"
        )
        ingest_dedup.seed_store(spark, docs.filter("doc_id % 3 = 0"), store)
        for stratum in (1, 2):
            docs.filter(f"doc_id % 3 = {stratum}").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = ingest_dedup.run_ingest_dedup_stream(
                spark, spark.readStream.schema(docs.schema).parquet(src), store, out, ck
            )
            _await_stream(q, 300)
        return (
            snaplog.read(spark, posixpath.join(out, "status"))
            .select("doc_id", "batch_id", "status", "dup_of")
            .localCheckpoint(eager=True)
        )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into fixed-capacity context windows via ONE
    Arrow-batched pandas pass over source-partitioned streams (operators/packing.py).
    DuckDB oracle = the same greedy scan as a recursive CTE."""
    from .operators.packing import pack_sequences

    _register_views(spark, sf_dir)
    return pack_sequences(spark.table("documents"))


TESTDATA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _make_runner(b) for name, b in _DUAL_QUERIES.items()
}
TESTDATA_QUERIES["multimodal_bytes"] = q_multimodal_bytes
TESTDATA_QUERIES["multimodal_frames"] = q_multimodal_frames
TESTDATA_QUERIES["chunk_passages"] = q_chunk_passages
TESTDATA_QUERIES["dedup_minhash_lsh"] = q_dedup_minhash_lsh_runner
TESTDATA_QUERIES["dedup_incremental"] = q_dedup_incremental_runner
TESTDATA_QUERIES["dedup_simhash_banded"] = q_dedup_simhash_banded_runner
TESTDATA_QUERIES["dedup_components"] = q_dedup_components
TESTDATA_QUERIES["dedup_ensemble_components"] = q_dedup_ensemble_components
TESTDATA_QUERIES["dedup_ngram_spans"] = q_dedup_ngram_spans_runner
for _name in ("embed_neardup_planted_lsh", "embed_dup_pairs_lsh_hi", "embed_lsh_hi_stats"):
    TESTDATA_QUERIES[_name] = _planted_lsh_runner(_DUAL_QUERIES[_name])
TESTDATA_QUERIES["pack_sequences"] = q_pack_sequences
TESTDATA_QUERIES["ingest_dedup_stream_status"] = q_ingest_dedup_stream_status
TESTDATA_QUERIES["snaplog_overwrite_daily"] = q_snaplog_overwrite_daily
for _name, _q in _REFINED_IVF.items():
    TESTDATA_QUERIES[_name] = _refined_ivf_runner(_q)

TESTDATA_ORACLES: dict[str, str] = {name: b(_DUCK) for name, b in _DUAL_QUERIES.items()}
TESTDATA_ORACLES["multimodal_bytes"] = multimodal_bytes_oracle()
TESTDATA_ORACLES["multimodal_frames"] = multimodal_frames_oracle()
TESTDATA_ORACLES["chunk_passages"] = dual.chunk_passages_oracle()
TESTDATA_ORACLES["dedup_components"] = dual.dedup_components_oracle()
TESTDATA_ORACLES["dedup_ensemble_components"] = dual.dedup_components_oracle(
    ensemble=True
)
TESTDATA_ORACLES["pack_sequences"] = dual.pack_sequences_oracle()
TESTDATA_ORACLES["ingest_dedup_stream_status"] = dual.q_dedup_incremental(_DUCK)
TESTDATA_ORACLES["snaplog_overwrite_daily"] = snaplog_overwrite_daily_oracle()
TESTDATA_ORACLES.update({name: q(_DUCK) for name, q in _REFINED_IVF.items()})
