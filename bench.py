"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set:
  * the flagship transcripts pipeline (parse -> enrich -> route -> aggregate) at
    PIPE_TURNS rows — the BASELINE.json metric is turns/sec end-to-end, reported
    under "turns_per_sec";
  * the heavy operator-coverage queries over the sf parquet tables (dedup, ANN,
    TPC-H-ish aggregates, event sessionization).

Each query is forced with a count()-style full materialization (collect of an
aggregated or limited result), never a driver-side full collect of a big table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openfactverification_spark.plans.pipeline import build_pipeline, run_to_sinks  # noqa: E402
from openfactverification_spark.session import get_spark  # noqa: E402
from openfactverification_spark.sources.transcripts import transcripts_df  # noqa: E402

# 2_000_000 synthetic turns ~ the pipeline headline load at bench scale
PIPE_TURNS = int(os.environ.get("BENCH_PIPE_TURNS", "2000000"))

# Every headline entry is the SCALE PATH for its family: banded/bucketed
# candidate generation, never the all-pairs baselines (dedup_simhash and
# embed_cosine_topk/embed_dup_pairs stay registered as the oracle anchors the
# scale paths are verified against, but they are not what production runs).
TESTDATA_BENCH = [
    "dedup_exact",
    "dedup_minhash_lsh",  # K=128 banding, shingle table materialized once
    "dedup_simhash_banded",  # pigeonhole bands, hash-identical to all-pairs
    "text_stats",
    "embed_lsh_ann",  # bucketed ANN (parameterized planes)
    "embed_ivf_ann",  # cell-pruned ANN (n_cells, nprobe)
    "embed_dup_pairs_lsh_hi",  # production-regime LSH: thr 0.90, p=12 x L=8, ~linear candidates
    # (threshold-0.40 embed_dup_pairs_lsh stays registered as the worst-case
    #  anchor — quadratic-regime on random vectors by design, not a headline)
    "dedup_components",  # iterative min-label propagation over the pair graph
    "training_ready",  # composed keeper ∧ lang ∧ quality gate
    "multimodal_frames",  # mapInPandas frame-sample + resize
    "chunk_passages",  # greedy selection: one JVM fold per doc
    "tpch_q1_pricing",
    "regional_revenue",
    "window_topk_per_order",
    "events_sessionize",
    "events_window_join_binned",  # binned range-join rewrite (equi-join on time bin)
    "pii_redact",  # regex scrub — pure scan throughput
    "quality_repetition",  # Gopher gate — explode + hashed-gram shuffle
    "bm25_search",  # tf shuffle + scalar broadcasts + TakeOrdered
    "events_scd2",  # gaps-and-islands, one exchange reused across windows
    "pack_sequences",  # mapInPandas greedy packer, narrow Arrow transfer
    "events_grok_parse",  # grok compile -> anchored extracts, scan-bound
    "dedup_ngram_spans",  # hashed-gram shuffle + interval-union coverage
    "dedup_incremental",  # sequential batch-vs-store gate over minhash pairs
    "semantic_dedup",  # IVF-cell clustering + within-cell cosine (O(N^1.5))
    "corpus_top_terms_cms",  # count-min sketch: depth*width bounded exchange
    "embed_neardup_planted_lsh",  # LSH in its real regime: p=8 x L=4, ~linear candidates
    "decontaminate_eval",  # 13-gram eval overlap: broadcast eval grams, hashed join keys
    "quality_perplexity",  # corpus-trained bigram LM: two hashed count aggs + model join
    "embed_recall_clustered_refined",  # k-means-refined IVF recall@3 with measured probe cost
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _bw_probe_gbps() -> float:
    """Memory-bandwidth probe (~0.1s): GB/s of a 256 MB numpy copy. BENCH.md §3
    established that raw-CPU spin holds steady across this VM's slow phases
    while Spark throughput swings 3-10x — the phases are bandwidth/host-level.
    Reported per pipeline sample so a slow sample is attributable in the
    artifact itself, not just in prose."""
    import numpy as np

    a = np.zeros(32 * 1024 * 1024 // 8, dtype=np.float64)  # 32 MB warm
    a.copy()
    a = np.zeros(256 * 1024 * 1024 // 8, dtype=np.float64)
    t0 = time.perf_counter()
    a.copy()
    return round(0.5 / (time.perf_counter() - t0), 2)  # 2x256MB moved


def bench_pipeline(spark, n_turns: int) -> dict:
    """Time the shipped flagship path exactly as scripts/job.py runs it:
    ``run_to_sinks`` (one DAG pass writes the AQE-rebalanced partitioned
    sinks; the summary is aggregated from the written sinks) and then
    ``summary.collect()`` (a read of the written summary)."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="bench_sinks_")
    try:
        probe = _bw_probe_gbps()
        t0 = time.perf_counter()
        result = run_to_sinks(spark, transcripts_df(spark, n_turns), out)
        t_write = time.perf_counter()
        result.summary.collect()
        t1 = time.perf_counter()
        return {
            "sec": round(t1 - t0, 3),
            "run_to_sinks_sec": round(t_write - t0, 3),
            "summary_collect_sec": round(t1 - t_write, 3),
            "bw_probe_gbps": probe,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def bench_ingest_dedup_stream(
    spark, sf_dir: str, n_batches: int = 4, maintain_every: int = 0
) -> dict:
    """Streaming ingest dedup over the SnapLog signature store (r3 verdict #3):
    seed the store with one stratum of the documents table, then stream the
    remaining strata as one-file micro-batches. Reports docs/sec, per-batch
    durations (first vs last — the 100-TB question is whether per-batch cost
    grows with store size), and final store size."""
    import shutil
    import tempfile

    from openfactverification_spark.sources import snaplog
    from openfactverification_spark.streaming import ingest_dedup

    base = tempfile.mkdtemp(prefix="bench_ingest_")
    store, out, ck, src = (os.path.join(base, d) for d in ("store", "out", "ck", "src"))
    try:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        n_strata = n_batches + 1
        ingest_dedup.seed_store(spark, docs.filter(f"doc_id % {n_strata} = 0"), store)
        n_streamed = 0
        for i in range(1, n_strata):
            part = docs.filter(f"doc_id % {n_strata} = {i}")
            n_streamed += part.count()
            part.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(docs.schema)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = ingest_dedup.run_ingest_dedup_stream(
            spark, stream, store, out, ck, maintain_every=maintain_every
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        batch_secs = [
            p["batchDuration"] / 1000.0
            for p in (json.loads(str(x)) for x in q.recentProgress)
            if p.get("numInputRows", 0) > 0
        ]
        store_rows = snaplog.read(spark, f"{store}/sh").count()
        return {
            "sec": round(sec, 3),
            "docs_per_sec": round(n_streamed / sec, 1),
            "n_docs": n_streamed,
            "n_batches": len(batch_secs),
            "batch_sec_first": round(batch_secs[0], 3) if batch_secs else None,
            "batch_sec_last": round(batch_secs[-1], 3) if batch_secs else None,
            "store_shingle_rows": store_rows,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def synth_ingest_docs(spark, n: int, offset: int, batch_docs: int):
    """Deterministic synthetic ingest corpus, generated JVM-side (no external
    data): 40 hashed words per doc. Planted near-dups by doc_id class:
    ids with id%100 < 6 copy the class-50 doc of the PREVIOUS batch with one
    trailing word changed (a dup_of_seen hit against the store), ids with
    6 <= id%100 < 12 copy the class-99 doc of their own batch (an
    intra-batch near-dup pair). Target classes are natural/accepted docs, so
    every batch exercises both the store-verify and intra-batch joins at
    every store size."""
    return spark.range(offset, offset + n).selectExpr(
        "id AS doc_id",
        f"""concat_ws(' ', transform(sequence(0, 39), i -> substr(sha2(cast(
            (CASE WHEN id % 100 < 6 AND id >= {batch_docs}
                    THEN id - {batch_docs} - (id % 100) + 50
                  WHEN id % 100 >= 6 AND id % 100 < 12
                    THEN id - (id % 100) + 99
                  ELSE id END) * 40 +
            (CASE WHEN id % 100 < 12 AND i = 39 THEN -1 ELSE i END)
            AS string), 256), 1, 8))) AS text""",
    )


def bench_ingest_dedup_growth(
    spark, batch_docs: int = 25_000, n_batches: int = 10
) -> dict:
    """Production-regime ingest-dedup measurement (r4 verdict #4): n_batches
    micro-batches of batch_docs docs each (10x the bigbatch row) through the
    same streaming path, reporting the per-batch growth curve — docs/s at the
    first vs last batch and every per-batch duration, so 'fixed cost
    amortizes' is a measured curve with the knee visible, not a two-point
    extrapolation. The store grows by the accepted ~88% of each batch, so the
    last batch verifies against a store ~n_batches times the first's.
    ``add_batch_secs`` (each progress's ``durationMs.addBatch``) sits next to
    ``batch_secs``, separating batch work from trigger overhead;
    ``store_commits`` is the store/sh log length at the end."""
    import shutil
    import tempfile

    from openfactverification_spark.sources import snaplog
    from openfactverification_spark.streaming import ingest_dedup

    base = tempfile.mkdtemp(prefix="bench_ingest_growth_")
    store, out, ck, src = (os.path.join(base, d) for d in ("store", "out", "ck", "src"))
    try:
        ingest_dedup.seed_store(
            spark, synth_ingest_docs(spark, batch_docs, 0, batch_docs), store
        )
        for b in range(1, n_batches + 1):
            synth_ingest_docs(spark, batch_docs, b * batch_docs, batch_docs).coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(spark.read.parquet(src).schema)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = ingest_dedup.run_ingest_dedup_stream(spark, stream, store, out, ck)
        q.awaitTermination()
        sec = time.perf_counter() - t0
        progress = [
            p
            for p in (json.loads(str(x)) for x in q.recentProgress)
            if p.get("numInputRows", 0) > 0
        ]
        batch_secs = [round(p["batchDuration"] / 1000.0, 3) for p in progress]
        # the foreachBatch body alone: batch_secs minus this is trigger overhead
        add_batch_secs = [
            round(p["durationMs"]["addBatch"] / 1000.0, 3) for p in progress
        ]
        return {
            "sec": round(sec, 3),
            "batch_docs": batch_docs,
            "n_batches": len(batch_secs),
            "docs_per_sec": round(n_batches * batch_docs / sec, 1),
            "docs_per_sec_first_batch": round(batch_docs / batch_secs[0], 1),
            "docs_per_sec_last_batch": round(batch_docs / batch_secs[-1], 1),
            "batch_secs": batch_secs,
            "add_batch_secs": add_batch_secs,
            "store_shingle_rows": snaplog.read(spark, f"{store}/sh").count(),
            "store_commits": len(snaplog.history(spark, f"{store}/sh")),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def bench_stream_sink(spark, n_turns: int = 500_000) -> float:
    """Seconds for the exactly-once SnapLog streaming sink: the routed
    stream, availableNow over a staged parquet source, timed through the
    foreachBatch writer (data write plus one snapshot commit per batch)."""
    import shutil
    import tempfile

    from openfactverification_spark.streaming.pipeline import run_to_sinks_stream

    base = tempfile.mkdtemp(prefix="bench_sinks_stream_")
    src = os.path.join(base, "src")
    try:
        transcripts_df(spark, n_turns).write.parquet(src)
        schema = spark.read.parquet(src).schema
        sink_dir = os.path.join(base, "sink")
        stream = spark.readStream.schema(schema).parquet(src)
        t0 = time.perf_counter()
        q = run_to_sinks_stream(spark, stream, sink_dir, os.path.join(sink_dir, "_ckpt"))
        q.awaitTermination()
        return round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")

    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    timings: dict[str, float] = {}

    # Untimed warm-up: first-query JIT/codegen cost is amortized to zero at
    # production scale, so the headline measures steady-state throughput.
    bench_pipeline(spark, 50_000)

    # Compute-only probe (noop sink): the parse->enrich->route DAG without
    # the parquet sink, so the artifact itself carries the write-vs-compute
    # split (r4 verdict #1b). Phase-guarded like the headline: a single early
    # sample can land in a slow VM phase and print a NEGATIVE write cost
    # (noop > compute+write, which is impossible on quiet hardware), so the
    # probe is re-sampled after the headline minimum is known (below).
    n_turns = PIPE_TURNS
    noop_samples: list[float] = []

    def _noop_sample() -> None:
        t0 = time.perf_counter()
        build_pipeline(spark, transcripts_df(spark, n_turns)).routed.write.format(
            "noop"
        ).mode("overwrite").save()
        noop_samples.append(round(time.perf_counter() - t0, 3))
        print(f"  compute_noop sample: {noop_samples[-1]}s", file=sys.stderr)

    _noop_sample()

    # Headline protocol (r4 verdict #1a): >=4 samples SPREAD ACROSS the whole
    # bench run, not back-to-back — this VM's slow phases last minutes
    # (BENCH.md §3), so consecutive samples are phase-correlated while samples
    # minutes apart straddle phase boundaries. Each sample carries a memory-
    # bandwidth probe so a slow one is attributable inside the artifact.
    pipe_samples: list[dict] = []

    def _pipe_sample() -> None:
        s = bench_pipeline(spark, n_turns)
        pipe_samples.append(s)
        print(f"  pipeline_e2e sample: {s}", file=sys.stderr)

    _pipe_sample()
    _pipe_sample()

    for name in TESTDATA_BENCH:
        fn = TESTDATA_QUERIES[name]
        best = float("inf")
        # min-of-3: this VM's throughput swings 3-10x between phases, and the
        # first run additionally pays one-time codegen compile on the wide
        # generated plans; the minimum is the steady-state number.
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # Force full evaluation without shipping a big result to the driver.
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"  {name}: {best:.2f}s", file=sys.stderr)

    _pipe_sample()  # mid-run sample, minutes after the first pair

    # streaming paths (r3 verdict #3): ingest dedup over the SnapLog store —
    # plain and maintained (compaction visible) — and the exactly-once
    # SnapLog sink vs the parquet overwrite sink
    ingest = bench_ingest_dedup_stream(spark, sf_dir)
    timings["ingest_dedup_stream"] = ingest["sec"]
    print(f"  ingest_dedup_stream: {ingest}", file=sys.stderr)
    ingest_m = bench_ingest_dedup_stream(spark, sf_dir, maintain_every=2)
    timings["ingest_dedup_stream_maintained"] = ingest_m["sec"]
    print(f"  ingest_dedup_stream_maintained: {ingest_m}", file=sys.stderr)
    # ONE big micro-batch (half the table) instead of four small ones:
    # docs/sec rises with batch size because the per-batch fixed cost (store
    # join + snapshot commits) amortizes — the production regime is
    # million-doc batches
    ingest_big = bench_ingest_dedup_stream(spark, sf_dir, n_batches=1)
    timings["ingest_dedup_stream_bigbatch"] = ingest_big["sec"]
    print(f"  ingest_dedup_stream_bigbatch: {ingest_big}", file=sys.stderr)
    # production-regime growth curve (r4 verdict #4): 10 batches of 25k
    # synthetic docs — 10x bigbatch, per-batch curve in the artifact
    growth = bench_ingest_dedup_growth(
        spark,
        batch_docs=int(os.environ.get("BENCH_GROWTH_BATCH_DOCS", "25000")),
        n_batches=int(os.environ.get("BENCH_GROWTH_BATCHES", "10")),
    )
    timings["ingest_dedup_growth"] = growth["sec"]
    print(f"  ingest_dedup_growth: {growth}", file=sys.stderr)
    timings["stream_sink_snaplog"] = bench_stream_sink(spark)
    print(f"  stream sink: {timings['stream_sink_snaplog']}s", file=sys.stderr)

    _pipe_sample()  # end-of-run sample
    if max(s["sec"] for s in pipe_samples) > 1.5 * min(s["sec"] for s in pipe_samples):
        _pipe_sample()  # samples straddled a phase boundary — buy one more
    best = min(pipe_samples, key=lambda s: s["sec"])
    pipe_sec = best["sec"]
    # Split phase-guard: compute alone cannot cost more than compute+write;
    # if it does, the early noop sample was phase-polluted — resample now
    # (up to twice) and report the minimum. If that still fails the split is
    # unknown: null plus a flag, never a negative write cost.
    while min(noop_samples) > best["run_to_sinks_sec"] and len(noop_samples) < 3:
        _noop_sample()
    compute_noop_sec = min(noop_samples)
    split_polluted = compute_noop_sec > best["run_to_sinks_sec"]
    print(f"  pipeline_e2e: {pipe_sec:.1f}s (min of {len(pipe_samples)})", file=sys.stderr)
    timings["pipeline_e2e"] = pipe_sec

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "turns_per_sec": round(n_turns / pipe_sec, 1),
        "pipe_turns": n_turns,
        "pipeline_e2e_samples": [s["sec"] for s in pipe_samples],
        "pipeline_e2e_bw_probe_gbps": [s["bw_probe_gbps"] for s in pipe_samples],
        "pipeline_e2e_split": {
            "compute_noop_sec": compute_noop_sec,
            "compute_noop_samples": noop_samples,
            "run_to_sinks_sec": best["run_to_sinks_sec"],
            # the write side of run_to_sinks: the sinks plus the summary
            # aggregated from them
            "sink_write_over_compute_sec": None
            if split_polluted
            else round(best["run_to_sinks_sec"] - compute_noop_sec, 3),
            "split_phase_polluted": split_polluted,
            "summary_collect_sec": best["summary_collect_sec"],
        },
        "ingest_dedup_docs_per_sec": ingest["docs_per_sec"],
        "ingest_dedup_batch_sec_first_last": [
            ingest["batch_sec_first"],
            ingest["batch_sec_last"],
        ],
        "ingest_dedup_maintained_docs_per_sec": ingest_m["docs_per_sec"],
        "ingest_dedup_bigbatch_docs_per_sec": ingest_big["docs_per_sec"],
        "ingest_dedup_growth": {
            k: growth[k]
            for k in (
                "batch_docs",
                "n_batches",
                "docs_per_sec",
                "docs_per_sec_first_batch",
                "docs_per_sec_last_batch",
                "batch_secs",
                "add_batch_secs",
                "store_shingle_rows",
                "store_commits",
            )
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
