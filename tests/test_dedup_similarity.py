"""Semantic tests for dedup / similarity / text-analysis operators — properties
beyond oracle parity (which scripts/check_parity.py + the driver already cover)."""

from __future__ import annotations

import pytest

from openfactverification_spark.functions import hashing as H
from openfactverification_spark.operators import dual
from openfactverification_spark.operators.dual import D
from openfactverification_spark.operators.multimodal import q_multimodal_bytes
from openfactverification_spark.sources.tables import TABLES, table_path

SF = "/root/testdata/sf0.001"
_S = D("spark")


@pytest.fixture(scope="module", autouse=True)
def views(spark):
    for t in TABLES:
        spark.read.parquet(table_path(SF, t)).createOrReplaceTempView(t)
    yield


def test_minhash_lsh_finds_high_jaccard_pairs(spark):
    """LSH candidates must contain every truly-similar pair the exact all-pairs
    scan finds at high jaccard (recall@high-sim ~ 1 for 4 bands x 2 rows)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in spark.sql(dual.q_dedup_ngram_jaccard(_S, threshold=0.6)).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in spark.sql(dual.q_dedup_minhash_lsh(_S, threshold=0.6)).collect()
    }
    assert exact, "fixture should contain at least one high-jaccard pair"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_simhash_close_pairs_share_text(spark):
    """Hamming<=2 simhash pairs should have higher jaccard than random pairs."""
    close = spark.sql(dual.q_dedup_simhash(_S, max_hamming=2)).count()
    loose = spark.sql(dual.q_dedup_simhash(_S, max_hamming=24)).count()
    assert 0 < close < loose  # 24-bit distance<=24 is all pairs


def test_lsh_ann_neighbors_subset_of_bruteforce_space(spark):
    """Every ANN hit must score exactly what brute force scores for that pair
    (bucketing changes the candidate set, never the metric)."""
    ann = spark.sql(dual.q_embed_lsh_ann(_S, k=3))
    brute = spark.sql(dual.q_embed_cosine_topk(_S, k=5, n_queries=10**9))
    joined = ann.join(
        brute.withColumnRenamed("cosine", "bf_cosine"), ["query_id", "neighbor_id"]
    )
    mismatches = joined.filter("abs(cosine - bf_cosine) > 1e-9").count()
    assert mismatches == 0


@pytest.mark.parametrize("family,max_hamming", [("minhash", None), ("simhash", 2), ("simhash", 6)])
def test_band_renderer_agrees_across_engines(spark, family, max_hamming):
    """The one band renderer (band_rows_sql): Spark's LATERAL VIEW explode
    and DuckDB's UNION ALL give the same (doc_id, band_idx, band key)
    stream, one row per (doc, band), for the minhash and simhash bands."""
    import duckdb

    def bands(d: D) -> str:
        if family == "minhash":
            return (
                f"WITH {dual.minhash_sig_cte(d)}\n"
                f"SELECT doc_id, band_idx, band_key FROM ({dual.minhash_bands_sql(d)}) b"
            )
        return (
            f"WITH {dual.simhash_cte(d)}\n"
            f"SELECT doc_id, band_idx, band_val FROM ({dual.simhash_bands_sql(d, max_hamming)}) b"
        )

    got = sorted(tuple(r) for r in spark.sql(bands(_S)).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{table_path(SF, 'documents')}')"
    )
    want = sorted(con.execute(bands(D("duckdb"))).fetchall())
    n_bands = H.MINHASH_BANDS if family == "minhash" else max_hamming + 1
    assert got and len(got) == len({r[0] for r in got}) * n_bands
    assert got == want


def test_connected_components_transitive_closure(spark):
    """Dedup clustering: A~B and B~C must land in one component even when A~C
    was never emitted as a pair; keepers are the component minima."""
    from openfactverification_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "doc_id long")
    out = {r["doc_id"]: r for r in connected_components(nodes, pairs).collect()}
    assert {out[i]["component_id"] for i in (1, 2, 3)} == {1}
    assert {out[i]["component_id"] for i in (10, 11)} == {10}
    assert {out[i]["component_id"] for i in (20, 21, 22, 23)} == {20}
    assert out[99]["component_id"] == 99  # singleton
    keepers = {i for i, r in out.items() if r["is_keeper"]}
    assert keepers == {1, 10, 20, 99}


def test_star_components_equal_plain_on_random_graphs(spark):
    """The large-star/small-star contraction (the O(log^2 n) extreme-scale
    path) must produce exactly the plain label-propagation fixpoint on random
    graphs — chains, stars, cliques, singletons, whatever the seed builds."""
    import random

    from openfactverification_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(10, 80))
            }
        )
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        plain = sorted(map(tuple, connected_components(nodes, pairs).collect()))
        star = sorted(map(tuple, connected_components_star(nodes, pairs).collect()))
        assert plain == star, f"seed={seed}"


def test_embed_dup_pairs_lsh_precision_and_recall(spark):
    """Scale twin of embed_dup_pairs: exact-cosine verify makes precision 1.0
    by construction (every reported pair is in the all-pairs baseline); recall
    is probabilistic-by-design (1-(1-q^p)^L) and deterministic given the seeded
    plane pool — assert the measured floor. Random vectors at cosine~0.4 are
    the hardest case; real near-dup corpora (cosine>=0.9) sit far up the recall
    curve (see q_embed_dup_pairs_lsh docstring)."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in spark.sql(dual.q_embed_dup_pairs(_S)).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in spark.sql(dual.q_embed_dup_pairs_lsh(_S)).collect()
    }
    assert exact, "fixture should contain dup pairs"
    assert set(lsh) <= set(exact), "precision must be exact (verify step)"
    for pair, cos in lsh.items():
        assert cos == exact[pair], "verified cosine must equal baseline cosine"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} below floor"


def test_ivf_ann_scores_match_bruteforce(spark):
    """IVF hits must score exactly what brute force scores for that pair, and
    nprobe cells per query bound the candidate reach (cell pruning changes the
    candidate set, never the metric)."""
    ivf = spark.sql(dual.q_embed_ivf_ann(_S, k=3))
    brute = spark.sql(dual.q_embed_cosine_topk(_S, k=5, n_queries=10**9))
    joined = ivf.join(
        brute.withColumnRenamed("cosine", "bf_cosine"), ["query_id", "neighbor_id"]
    )
    mismatches = joined.filter("abs(cosine - bf_cosine) > 1e-9").count()
    assert mismatches == 0


def test_ivf_nprobe_widens_candidates(spark):
    """nprobe is the recall knob: probing more cells can only add candidates,
    so top-k cosine at nprobe=2 dominates nprobe=1 per query."""
    from pyspark.sql import functions as F

    one = (
        spark.sql(dual.q_embed_ivf_ann(_S, k=1, nprobe=1))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("c1"))
    )
    two = (
        spark.sql(dual.q_embed_ivf_ann(_S, k=1, nprobe=2))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("c2"))
    )
    worse = one.join(two, "query_id").filter("c2 < c1 - 1e-9").count()
    assert worse == 0


def test_chunk_documents_covers_all_words(spark):
    """P9 chunking: step(8) < size(10) -> chunks tile every word index."""
    rows = spark.sql(dual.q_chunk_documents(_S)).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["start_word"], r["end_word"]))
    for doc, spans in by_doc.items():
        spans.sort()
        assert spans[0][0] == 0
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 <= e1, f"gap in doc {doc}: {s1, e1} -> {s2}"


def test_multimodal_binary_roundtrip(spark):
    """mapInPandas binary plumbing: payload bytes survive Arrow transfer."""
    rows = q_multimodal_bytes(spark, SF).collect()
    assert len(rows) == 500
    assert all(r["n_bytes"] == 16 for r in rows)
    assert all(0 <= r["first_byte"] <= 255 for r in rows)
    assert {r["media_type"] for r in rows} == {"image/png", "audio/wav"}


def test_exact_dedup_keeper_is_min(spark):
    df = spark.sql(dual.q_dedup_exact(_S))
    assert df.count() > 0
    assert df.filter("n_copies < 1").count() == 0


def test_approx_percentile_within_tolerance_of_exact(spark):
    """The scale path for percentiles is the t-digest sketch
    (approx_percentile: mergeable, bounded memory — exact percentile buffers
    whole groups). No cross-engine-exact oracle exists for a sketch, so this
    bounds its error against the exact registered anchor instead."""
    exact = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in spark.sql(dual.q_events_value_percentiles(_S)).collect()
    }
    approx = {
        r["event_type"]: (r["a50"], r["a90"], r["a99"])
        for r in spark.sql(
            """SELECT event_type,
                      approx_percentile(value, 0.5, 10000) AS a50,
                      approx_percentile(value, 0.9, 10000) AS a90,
                      approx_percentile(value, 0.99, 10000) AS a99
               FROM events GROUP BY event_type"""
        ).collect()
    }
    assert set(exact) == set(approx)
    # The sketch guarantees RANK error (<= 1/accuracy), not value error — on a
    # long-tailed distribution adjacent order statistics can be far apart, so
    # the correct contract is: the approx value lies inside the exact
    # [p - δ, p + δ] value band (δ = 0.02 rank slack for the tiny sf0.001
    # groups).
    bands = {
        r["event_type"]: r
        for r in spark.sql(
            """SELECT event_type,
                      percentile(value, 0.48) AS lo50, percentile(value, 0.52) AS hi50,
                      percentile(value, 0.88) AS lo90, percentile(value, 0.92) AS hi90,
                      percentile(value, 0.97) AS lo99, max(value) AS hi99
               FROM events GROUP BY event_type"""
        ).collect()
    }
    for et, (a50, a90, a99) in approx.items():
        b = bands[et]
        assert b["lo50"] - 1e-9 <= a50 <= b["hi50"] + 1e-9, (et, "p50", a50)
        assert b["lo90"] - 1e-9 <= a90 <= b["hi90"] + 1e-9, (et, "p90", a90)
        assert b["lo99"] - 1e-9 <= a99 <= b["hi99"] + 1e-9, (et, "p99", a99)


def test_ngram_span_interval_union_exact(spark):
    """Hand-built corpus: overlapping duplicated 8-gram spans must be counted
    via interval union (no double-count), docs shorter than n get zero."""
    from openfactverification_spark.operators.dual import D, q_dedup_ngram_spans

    # doc 1 and 2 share tokens w0..w9 (10 tokens => 3 dup 8-grams, union = 10
    # tokens each); doc 3 is unrelated; doc 4 is too short for any 8-gram.
    shared = " ".join(f"w{i}" for i in range(10))
    rows = [
        (1, shared + " only1 a b c"),
        (2, shared + " only2 x y z"),
        (3, " ".join(f"u{i}" for i in range(12))),
        (4, "tiny doc"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        got = {
            r["doc_id"]: r
            for r in spark.sql(q_dedup_ngram_spans(D("spark"))).collect()
        }
        assert got[1]["n_dup_grams"] == 3 and got[1]["dup_tokens"] == 10
        assert got[2]["n_dup_grams"] == 3 and got[2]["dup_tokens"] == 10
        assert got[3]["n_dup_grams"] == 0 and got[3]["dup_tokens"] == 0
        assert got[4]["n_grams"] == 0 and got[4]["dup_tokens"] == 0
        # keep verdict: 10/13 tokens covered > 0.30 threshold -> dropped
        assert not got[1]["keep"] and got[3]["keep"]
    finally:
        spark.read.parquet(table_path(SF, "documents")).createOrReplaceTempView(
            "documents"
        )
        spark.conf.set("spark.ofv.registered_sf", "")


def test_semantic_dedup_drops_are_true_near_dups(spark):
    """Every vector semantic_dedup drops has a genuine >=threshold cosine pair
    with a lower id in the all-pairs baseline (precision 1.0 by construction);
    misses are only cross-cell pairs (the documented SemDeDup tradeoff)."""
    from openfactverification_spark.operators.dual import (
        D,
        q_embed_dup_pairs,
        q_semantic_dedup,
    )

    d = D("spark")
    sd = {r["vec_id"]: r for r in spark.sql(q_semantic_dedup(d)).collect()}
    base_pairs = spark.sql(q_embed_dup_pairs(d)).collect()
    baseline_dropped = {r["id_b"] for r in base_pairs}

    dropped = {v for v, r in sd.items() if not r["keep"]}
    assert dropped, "threshold/corpus should produce at least one drop"
    assert dropped <= baseline_dropped  # no false drops
    # every miss straddles cells: for missed b, no >=tau lower-id partner shares b's cell
    cell = {v: r["cell_id"] for v, r in sd.items()}
    for r in base_pairs:
        if r["id_b"] not in dropped:
            assert cell[r["id_a"]] != cell[r["id_b"]]


def test_planted_neardup_lsh_full_recall_no_false_positives(spark):
    """In the near-exact regime (cosine ≈ 0.999, production bucket params) the
    multi-table LSH path must recover essentially every planted twin with
    zero false positives — the scale behavior the threshold-0.40 variant
    can't show on random vectors."""
    from openfactverification_spark.operators.dual import D, q_embed_dup_pairs_lsh

    n_vecs = spark.table("embeddings").count()
    rows = spark.sql(
        q_embed_dup_pairs_lsh(
            D("spark"), threshold=0.98, planes_per_table=8, n_tables=4, bump=1.05
        )
    ).collect()
    assert all(r["is_planted"] for r in rows)  # precision 1.0
    assert len(rows) >= 0.95 * n_vecs  # near-total recall
    assert min(r["cosine"] for r in rows) >= 0.998


def test_decontaminate_matches_python_ground_truth(spark):
    """Decontamination vs an independent pure-Python reference: rebuild the
    seeded corpus, the eval 13-gram set, and every training doc's hit count
    from the raw parquet text — the SQL detector must agree exactly (planted
    canaries all flagged, organic overlaps included, short docs clean)."""
    n = 13
    docs = {r["doc_id"]: r["text"] for r in spark.table("documents").collect()}
    canary = dual.DECON_CANARY

    def grams(text):
        w = text.split(" ")
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    seeded = {
        i: t + " " + canary if (i % 20 == 0 or i % 7 == 3) else t
        for i, t in docs.items()
    }
    eval_grams = set()
    for i, t in seeded.items():
        if i % 20 == 0:
            eval_grams.update(grams(t))
    expected = {}
    for i, t in seeded.items():
        if i % 20 == 0:
            continue
        g = grams(t)
        expected[i] = (len(g), sum(1 for x in g if x in eval_grams))

    got = {
        r["doc_id"]: (r["n_grams"], r["n_eval_hits"], r["contaminated"])
        for r in spark.sql(dual.q_decontaminate_eval(_S)).collect()
    }
    assert set(got) == set(expected)
    for i, (ng, hits) in expected.items():
        assert got[i] == (ng, hits, hits > 0), f"doc {i}"
    planted = [i for i in expected if i % 7 == 3]
    assert planted and all(got[i][2] for i in planted)


def test_perplexity_matches_python_bigram_lm(spark):
    """quality_perplexity vs an independent pure-Python add-k bigram LM built
    from the same corpus: per-doc cross-entropy must agree to 1e-5 and the
    keep flag must follow the rounded perplexity exactly."""
    import math
    from collections import Counter

    k = 0.5
    docs = {r["doc_id"]: r["text"].split(" ") for r in spark.table("documents").collect()}
    c2, c1 = Counter(), Counter()
    vocab = set()
    for w in docs.values():
        vocab.update(w)
        for a, b in zip(w, w[1:]):
            c2[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)

    rows = {r["doc_id"]: r for r in spark.sql(dual.q_quality_perplexity(_S)).collect()}
    assert set(rows) == set(docs)
    for i, w in docs.items():
        lps = [
            math.log((c2[(a, b)] + k) / (c1[a] + k * V)) for a, b in zip(w, w[1:])
        ]
        h = -sum(lps) / len(lps)
        r = rows[i]
        assert r["n_bigrams"] == len(lps)
        assert abs(r["cross_entropy"] - h) < 1e-5, f"doc {i}"
        assert r["keep"] == (round(math.exp(h), 4) <= 30.0)


def test_short_doc_sequence_guard_both_engines(spark):
    """ADVICE r2: empty/1-word docs must not crash Spark's sequence() (ANSI
    'Illegal sequence boundaries') in the gram-based quality/dedup queries, and
    both engines must agree on which docs survive. split('', ' ') yields ['']
    (one token), so the empty doc exercises the size(w)=1 path."""
    import duckdb

    rows = [
        (1, ""),
        (2, "solo"),
        (3, "two words"),
        (4, " ".join(f"w{i}" for i in range(12))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    try:
        for q in (dual.q_quality_repetition, dual.q_quality_perplexity,
                  dual.q_dedup_ngram_spans):
            got_s = {r["doc_id"] for r in spark.sql(q(_S)).collect()}
            got_d = {r[0] for r in con.execute(q(D("duckdb"))).fetchall()}
            assert got_s == got_d, q.__name__
        # spans keeps every doc via the left join; gram queries drop short docs
        spans = {r["doc_id"]: r for r in spark.sql(dual.q_dedup_ngram_spans(_S)).collect()}
        assert set(spans) == {1, 2, 3, 4}
        assert all(spans[i]["n_grams"] == 0 for i in (1, 2, 3))
        rep = {r["doc_id"] for r in spark.sql(dual.q_quality_repetition(_S)).collect()}
        assert rep == {3, 4}
    finally:
        spark.read.parquet(table_path(SF, "documents")).createOrReplaceTempView(
            "documents"
        )


def test_ngram_spans_hot_gram_skew_shape(spark):
    """r2 watch item: the duplicated-gram flag must NOT be a window partitioned
    by gram hash (a boilerplate gram shared by half the corpus would pin one
    giant partition to a single task); it is a groupBy pre-agg shuffle-joined
    back — the only Window left in the plan is the per-doc interval union."""
    import re as _re

    # boilerplate: the same 8-gram planted in half the docs
    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (i, (boiler + " " if i % 2 == 0 else "") + " ".join(f"d{i}x{j}" for j in range(10)))
        for i in range(40)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        df = spark.sql(dual.q_dedup_ngram_spans(_S))
        got = {r["doc_id"]: r for r in df.collect()}
        for i in range(40):
            if i % 2 == 0:
                assert got[i]["n_dup_grams"] == 1 and got[i]["dup_tokens"] == 8
            else:
                assert got[i]["n_dup_grams"] == 0
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        windows = [ln for ln in plan.splitlines() if _re.match(r"\s*[+:-]*\s*Window", ln)]
        assert len(windows) == 1, plan
        assert "doc_id" in windows[0] and "gh" not in windows[0]
    finally:
        spark.read.parquet(table_path(SF, "documents")).createOrReplaceTempView(
            "documents"
        )


def test_lsh_hi_regime_candidates_sublinear(spark):
    """r2 verdict #3: at production parameters (threshold 0.90, p=12 x L=8)
    on the planted-twin fixture, LSH candidates must be a small fraction of
    all-pairs while finding every planted near-duplicate — the regime the
    bench headline now runs in."""
    from functools import partial

    q = partial(
        dual.q_embed_dup_pairs_lsh,
        threshold=0.90, planes_per_table=12, n_tables=8, bump=1.05,
    )
    row = spark.sql(q(_S, output="stats")).collect()[0]
    n_vecs = spark.table("embeddings").count()
    assert row["n_planted_found"] == n_vecs, row
    assert row["n_verified"] == n_vecs, row  # planted twins are the only >=0.9 pairs
    assert row["n_candidates"] <= 0.05 * row["n_all_pairs"], row
    # pair output agrees with the stats row
    pairs = spark.sql(q(_S)).collect()
    assert len(pairs) == row["n_verified"]
    assert all(p["is_planted"] for p in pairs)


def test_ann_recall_knobs_monotone(spark):
    """The measured-recall quartet must order the way the scale knobs claim:
    more probes / fewer planes -> strictly higher recall@k (the oracle gate
    pins cross-engine equality; this pins the semantics of the knobs)."""
    def recall(**kw):
        return spark.sql(dual.q_embed_ann_recall(_S, **kw)).collect()[0]["recall_at_k"]

    ivf2, ivf4 = recall(), recall(nprobe=4)
    lsh8, lsh4 = recall(method="lsh"), recall(method="lsh", planes_per_table=4)
    assert ivf4 > ivf2 > 0
    assert lsh4 > lsh8 > 0
    # IVF at equal-ish candidate budgets beats single-table LSH here
    assert ivf2 > lsh4


def test_multiprobe_lsh_recall_lift(spark):
    """Multi-probe (Hamming-distance-1 buckets) must strictly beat the
    single-bucket LSH at equal planes on BOTH fixtures, reach the production
    regime (>= 0.9) on clustered geometry, and pay a candidate volume far
    below brute force — all from the same measured rows (r3 verdict #4,
    single-table-LSH half)."""
    def row(**kw):
        return spark.sql(
            dual.q_embed_ann_recall(_S, method="lsh", radius=1, **kw)
        ).collect()[0]

    single8 = spark.sql(
        dual.q_embed_ann_recall(_S, method="lsh")
    ).collect()[0]["recall_at_k"]
    mp8 = row()
    assert mp8["recall_at_k"] > single8
    mp8c = row(clustered=True)
    assert mp8c["recall_at_k"] >= 0.9, mp8c
    n_brute = 30 * 499
    assert mp8["n_candidates"] < 0.1 * n_brute
    assert mp8c["n_candidates"] < 0.15 * n_brute
