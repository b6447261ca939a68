"""The benchmark workloads. Each one stages its seeded inputs and warms its own
path in ``setup``, runs closed-loop operations in ``measure`` (the next starts
only after the previous one finished), checks every output in ``check``
(outside the timed region), and in a traced run adds its layer metrics in
``layers``."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from . import checks, inputs

SINKS = ("tool_trace", "non_factual", "checkworthy", "verdict")
SPARK_COUNTERS = ("input_bytes", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # scratch dir of this run
    cache: str  # oracle answers, shared by runs in one checkout
    seed: int
    seconds: int


@dataclass
class Measured:
    op_s: list[float] = field(default_factory=list)  # one entry per operation
    items: int = 0  # input records processed in the timed region
    wall_s: float = 0.0  # timed region
    attempted: int = 0
    failed: int = 0
    outputs: list = field(default_factory=list)
    state: dict = field(default_factory=dict)  # what ``check`` needs to find


def _closed_loop(ctx: Ctx, op, min_ops: int = 2, seconds: float | None = None) -> Measured:
    """Run ``op(i)`` back to back until ``seconds`` (default ``ctx.seconds``)
    have passed; a failed operation leaves ``None`` in ``outputs``."""
    seconds = ctx.seconds if seconds is None else seconds
    m = Measured()
    t_start = time.perf_counter()
    i = 0
    while True:
        t0 = time.perf_counter()
        m.attempted += 1
        try:
            out = op(i)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation {i} failed: {e!r}")
            m.failed += 1
            out = None
        m.op_s.append(time.perf_counter() - t0)
        m.outputs.append(out)
        i += 1
        if i >= min_ops and time.perf_counter() - t_start >= seconds:
            break
    m.wall_s = time.perf_counter() - t_start
    return m


def _dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ====================================================================== flagship
class FlagshipBatch:
    """``plans.pipeline.run_to_sinks`` + ``summary.collect()`` over seeded
    transcripts, the default path of ``scripts/job.py``."""

    name = "flagship_batch"
    n_turns = 30_000

    def setup(self, ctx: Ctx) -> None:
        from openfactverification_spark.plans.pipeline import run_to_sinks

        self.offset = inputs.transcript_offset(ctx.seed)
        # the generated frame, not staged files: job.py's default input
        self.tx = inputs.transcripts(ctx.spark, self.n_turns, ctx.seed)
        self.out = os.path.join(ctx.work, "out")
        for _ in range(2):  # the second run still warms the JIT measurably
            run_to_sinks(ctx.spark, self.tx, self.out).summary.collect()

    def _op(self, ctx: Ctx):
        from openfactverification_spark.plans.pipeline import run_to_sinks

        tr = ctx.tracer
        with tr.span("flagship.op"):
            with tr.span("pipeline.run_to_sinks") as rs:
                result = run_to_sinks(ctx.spark, self.tx, self.out)
            if rs is not None:
                # summary.write is the last call inside run_to_sinks
                ws = [s for s in tr.spans if s["name"] == "route.write_sinks"][-1]
                tr.add_span("aggregate.summary_write", ws["end"], rs["end"], rs["id"])
            with tr.span("aggregate.summary_collect"):
                rows = result.summary.collect()
        return [tuple(r) for r in rows], list(result.summary.columns)

    def measure(self, ctx: Ctx) -> Measured:
        m = _closed_loop(ctx, lambda i: self._op(ctx), min_ops=3)
        m.items = self.n_turns * len(m.op_s)
        return m

    def measure_pair(self, ctx: Ctx) -> tuple[Measured, Measured]:
        """Untraced and traced operations in U T T U order, so both see the
        same warm-up trend and host phase."""
        tr = ctx.tracer

        def op(i):
            tr.enabled = i % 4 in (1, 2)
            try:
                return self._op(ctx)
            finally:
                tr.enabled = True

        both = _closed_loop(ctx, op, min_ops=4, seconds=2 * ctx.seconds)
        pair = []
        for traced in (False, True):
            idx = [i for i in range(len(both.op_s)) if (i % 4 in (1, 2)) == traced]
            m = Measured(
                op_s=[both.op_s[i] for i in idx], outputs=[both.outputs[i] for i in idx]
            )
            m.attempted = len(m.op_s)
            m.failed = m.outputs.count(None)
            m.items = self.n_turns * len(m.op_s)
            m.wall_s = sum(m.op_s)
            pair.append(m)
        return pair[0], pair[1]

    def check(self, ctx: Ctx, m: Measured) -> int:
        from pyspark.sql import functions as F

        want = checks.flagship_oracle(ctx.cache, self.n_turns, self.offset)
        bad = 0
        for i, out in enumerate(m.outputs):
            if out is None:
                continue
            rows, cols = out
            if checks.normalize(rows, cols) != want["pipeline_summary"]:
                print(f"flagship op {i}: summary differs from the DuckDB oracle")
                bad += 1
        sinks = (
            ctx.spark.read.parquet(os.path.join(self.out, "sinks"))
            .groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        if checks.normalize([tuple(r) for r in sinks], ["route", "n"]) != want[
            "pipeline_routed_counts"
        ]:
            print("flagship sinks: per-route counts differ from the DuckDB oracle")
            bad = max(bad, 1)
        return bad

    def layers(self, ctx: Ctx, m: Measured) -> tuple[dict, int, int]:
        """Cut-point probes and a checked resumable SnapLog pass; returns
        (layer metrics, probes attempted, probes failed)."""
        from openfactverification_spark import checkpoint as ckpt
        from openfactverification_spark.operators import enrich as enrich_ops
        from openfactverification_spark.operators import parse as parse_ops
        from openfactverification_spark.operators import route as route_ops
        from openfactverification_spark.rulepack import DEFAULT_PACK

        tr, spark = ctx.tracer, ctx.spark
        records = parse_ops.parse_turns(self.tx, DEFAULT_PACK)
        enriched = enrich_ops.enrich_tools(
            enrich_ops.enrich_claims(
                records,
                enrich_ops.checkworthy_dim(spark),
                enrich_ops.stance_counts_dim(spark),
            ),
            enrich_ops.tool_dim(spark),
        )
        cuts = {
            "scan": self.tx,
            "parse": records,
            "enrich": enriched,
            "route": route_ops.route_records(enriched),
        }
        for _ in range(2):
            for cut, df in cuts.items():
                with tr.span(f"cut.{cut}"):
                    _noop(df)

        resume_dir = os.path.join(ctx.work, "resume")
        with tr.span("checkpoint.run_resumable") as rr:
            ckpt.run_resumable(spark, self.tx, resume_dir, sink_format="snaplog")
        resume_counts = ckpt.sink_counts(spark, resume_dir)
        want = {  # normalized rows are in column-name order: (n, route)
            route: n
            for n, route in checks.flagship_oracle(ctx.cache, self.n_turns, self.offset)[
                "pipeline_routed_counts"
            ]
        }
        resume_ok = resume_counts == want
        if not resume_ok:
            print(f"resumable pass: per-route counts {resume_counts} != oracle {want}")
        self._n_ops = len(tr.named("flagship.op"))

        def med(name):
            return statistics.median(s["end"] - s["start"] for s in tr.named(name))

        cut_s = {c: med(f"cut.{c}") for c in cuts}
        out: dict = {f"cut.{c}_s": v for c, v in cut_s.items()}
        out["transcripts.scan_s"] = cut_s["scan"]
        out["parse.self_s"] = cut_s["parse"] - cut_s["scan"]
        out["enrich.self_s"] = cut_s["enrich"] - cut_s["parse"]
        out["route.write_s"] = med("route.write_sinks")
        out["route.write_self_s"] = out["route.write_s"] - cut_s["route"]
        out["aggregate.summary_write_s"] = med("aggregate.summary_write")
        out["aggregate.summary_collect_s"] = med("aggregate.summary_collect")
        ops = tr.named("pipeline.run_to_sinks")
        out["pipeline.self_s"] = statistics.median(tr.self_time(s) for s in ops)
        # the op's layers telescope: cuts up to route, then the write, the
        # summary passes and plan building; compare with run.traced_s
        out["trace.layer_sum_s"] = (
            out["route.write_s"] + out["aggregate.summary_write_s"]
            + out["aggregate.summary_collect_s"] + out["pipeline.self_s"]
        )

        last_rows, _ = next(o for o in reversed(m.outputs) if o is not None)
        per_route = {s: 0 for s in SINKS}
        for r in last_rows:
            per_route[r[0]] += r[2]  # (route, role, n_records, ...)
        for s in SINKS:
            out[f"route.rows.{s}"] = per_route[s]
        out["parse.records_out"] = sum(per_route.values())
        out["route.files"], out["route.bytes"] = _dir_stats(os.path.join(self.out, "sinks"))
        out["flagship.sink_bytes_per_turn"] = out["route.bytes"] / self.n_turns

        epochs = _epoch_durations(tr, rr)
        out["checkpoint.run_s"] = rr["end"] - rr["start"]
        out["checkpoint.epochs"] = len(epochs)
        out["checkpoint.epoch_s_p50"] = statistics.median(epochs) if epochs else 0.0
        out["checkpoint.pending_s"] = sum(
            s["end"] - s["start"] for s in tr.named("checkpoint.pending_epochs")
        )
        files, nbytes = _dir_stats(os.path.join(resume_dir, "sinks", "data"))
        out["checkpoint.sink_files"], out["checkpoint.sink_bytes"] = files, nbytes
        return out, 1, (0 if resume_ok else 1)

    def spark_counters(self, ev) -> dict:
        """Stage counters of the traced operations, per operation."""
        labels = ("route.write_sinks", "pipeline.run_to_sinks", "aggregate.summary_collect")
        return {
            f"spark.{k}": sum(ev.by_span.get(lb, {}).get(k, 0) for lb in labels) / self._n_ops
            for k in SPARK_COUNTERS
        }

    def event_counters(self, ev, out: dict) -> None:
        n = self._n_ops
        out["route.shuffle_write_bytes"] = (
            ev.by_span.get("route.write_sinks", {}).get("shuffle_write_bytes", 0) / n
        )
        out["pipeline.sql_executions"] = (
            ev.sql_count("route.write_sinks")
            + ev.sql_count("pipeline.run_to_sinks")
            + ev.sql_count("aggregate.summary_collect")
        ) / n
        out["checkpoint.sql_executions"] = ev.sql_count("checkpoint.") + ev.sql_count(
            "snaplog."
        )


def _epoch_durations(tr, rr: dict) -> list[float]:
    """Epoch boundaries inside a run_resumable span: the end of
    pending_epochs, the start of each epoch's sink commit after the first,
    and the end of the run."""
    inside = [s for s in tr.spans if rr["start"] <= s["start"] <= rr["end"]]
    pend = [s for s in inside if s["name"] == "checkpoint.pending_epochs"]
    commits = [
        s for s in inside if s["name"] in ("snaplog.append", "snaplog.overwrite_partitions")
    ]
    if not pend or not commits:
        return []
    marks = [pend[0]["end"]] + [c["start"] for c in commits[1:]] + [rr["end"]]
    return [b - a for a, b in zip(marks, marks[1:])]


# ======================================================================== ingest
class IngestGrowth:
    """``streaming.ingest_dedup.run_ingest_dedup_stream`` fed one file per
    trigger while the SnapLog signature store grows several-fold."""

    name = "ingest_growth"
    batch_docs = 1_000
    warm_docs = 200
    shingles_per_doc = 38  # 40 words -> 38 word 3-grams

    def _n_batches(self, ctx: Ctx) -> int:
        return max(3, math.ceil(ctx.seconds / 2))

    def _stage(self, ctx: Ctx, root: str, b: int, n_batches: int) -> None:
        from openfactverification_spark.streaming import ingest_dedup

        self._seed_s = time.perf_counter()
        with ctx.tracer.span("ingest_dedup.seed_store"):
            ingest_dedup.seed_store(
                ctx.spark, inputs.ingest_docs(ctx.spark, b, 0, b, ctx.seed), f"{root}/store"
            )
        self._seed_s = time.perf_counter() - self._seed_s
        for i in range(1, n_batches + 1):
            inputs.ingest_docs(ctx.spark, b, i * b, b, ctx.seed).coalesce(1).write.mode(
                "append"
            ).parquet(f"{root}/src")

    def _stream(self, ctx: Ctx, root: str):
        from openfactverification_spark.streaming import ingest_dedup

        spark = ctx.spark
        src = f"{root}/src"
        stream = (
            spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(spark.read.parquet(src).schema)
            .parquet(src)
        )
        q = ingest_dedup.run_ingest_dedup_stream(
            spark, stream, f"{root}/store", f"{root}/out", f"{root}/ckpt"
        )
        q.awaitTermination()
        progress = [json.loads(str(p)) for p in q.recentProgress]
        return [p for p in progress if p.get("numInputRows", 0) > 0]

    def setup(self, ctx: Ctx) -> None:
        warm = os.path.join(ctx.work, "warm")
        self._stage(ctx, warm, self.warm_docs, 1)
        self._stream(ctx, warm)
        self.n_batches = self._n_batches(ctx)
        self._staged: list[str] = []
        self._streams = 0
        self._stage_root(ctx)

    def _stage_root(self, ctx: Ctx) -> None:
        root = os.path.join(ctx.work, f"ingest{len(self._staged)}")
        self._stage(ctx, root, self.batch_docs, self.n_batches)
        self._staged.append(root)

    def measure_pair(self, ctx: Ctx) -> tuple[Measured, Measured]:
        """An untraced stream, then a traced one."""
        ctx.tracer.enabled = False
        untraced = self.measure(ctx)
        ctx.tracer.enabled = True
        return untraced, self.measure(ctx)

    def measure(self, ctx: Ctx) -> Measured:
        """One stream over freshly staged batches (staging is untimed; the
        first staging is part of set-up)."""
        if len(self._staged) == self._streams:
            self._stage_root(ctx)
        root = self._staged[-1]
        self._streams += 1
        m = Measured(state={"root": root}, attempted=self.n_batches)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("ingest_dedup.stream"):
                batches = self._stream(ctx, root)
        except Exception as e:  # every batch of a failed stream counts as failed
            print(f"ingest stream failed: {e!r}")
            batches, m.failed = [], self.n_batches
        m.wall_s = time.perf_counter() - t0
        m.op_s = [p["batchDuration"] / 1000.0 for p in batches] or [m.wall_s]
        m.items = sum(p["numInputRows"] for p in batches)
        self.batch_ids = [p["batchId"] for p in batches]
        return m

    def check(self, ctx: Ctx, m: Measured) -> int:
        from openfactverification_spark.sources import snaplog

        spark, b, root = ctx.spark, self.batch_docs, m.state["root"]
        got: dict[int, dict[str, int]] = {}
        for r in (
            snaplog.read(spark, f"{root}/out/status")
            .groupBy("batch_id", "status").count().collect()
        ):
            got.setdefault(r["batch_id"], {})[r["status"]] = r["count"]
        want = {"dup_of_seen": b * 6 // 100, "dup_in_batch": b * 6 // 100,
                "new": b * 88 // 100}
        bad = sum(got.get(i, {}) != want for i in range(1, self.n_batches + 1))
        bad += len(set(got) - set(range(1, self.n_batches + 1)))
        if bad:
            print(f"ingest status counts {got} != {want} per batch")
        accepted = sum(c.get("new", 0) for c in got.values())
        store_rows = snaplog.read(spark, f"{root}/store/sh").count()
        if store_rows != (b + accepted) * self.shingles_per_doc:
            print(f"ingest store rows {store_rows} != ({b} + {accepted}) x 38")
            bad = max(bad, 1)
        return bad

    def layers(self, ctx: Ctx, m: Measured) -> tuple[dict, int, int]:
        """Store and batch metrics of the traced stream, then the curation
        suite probe; returns (layer metrics, probes attempted, probes failed)."""
        tr = ctx.tracer
        stream = tr.named("ingest_dedup.stream")[-1]
        reads = [
            s for s in tr.named("snaplog.read")
            if stream["start"] <= s["start"] <= stream["end"]
        ]
        # one read of store/sh and one of store/bands per batch, each pinned
        sh, bands = ([s["bytes"] for s in reads if s["table"] == t] for t in ("sh", "bands"))
        store = [a + b for a, b in zip(sh, bands)]
        out = {
            "ingest_dedup.seed_s": self._seed_s,
            "ingest_dedup.batches": len(m.op_s),
            "ingest_dedup.batch_s_first": m.op_s[0],
            "ingest_dedup.batch_s_last": m.op_s[-1],
            "snaplog.store_bytes_first": store[0] if store else 0,
            "snaplog.store_bytes_last": store[-1] if store else 0,
        }
        self._suite = CurationSuite()
        suite_out, attempted, bad = self._suite.side_probe(ctx)
        out.update(suite_out)
        return out, attempted, bad

    def spark_counters(self, ev) -> dict:
        """Stage counters of the traced stream, per micro-batch."""
        return {
            f"spark.{k}": statistics.mean(
                ev.by_batch.get(i, {}).get(k, 0) for i in self.batch_ids
            )
            for k in SPARK_COUNTERS
        }

    def event_counters(self, ev, out: dict) -> None:
        first, last = self.batch_ids[0], self.batch_ids[-1]
        out["ingest_dedup.shuffle_read_bytes_first"] = ev.by_batch.get(first, {}).get(
            "shuffle_read_bytes", 0
        )
        out["ingest_dedup.shuffle_read_bytes_last"] = ev.by_batch.get(last, {}).get(
            "shuffle_read_bytes", 0
        )
        self._suite.event_counters(ev, out)


# ========================================================================= suite
# query -> family; one pass runs them in this order
SUITE = {
    "embed_lsh_ann": "lsh_ann",
    "dedup_minhash_lsh": "dedup",
    "dedup_simhash_banded": "dedup",
    "chunk_passages": "udf",
    "pack_sequences": "udf",
    "multimodal_frames": "udf",
}


class CurationSuite:
    """A fixed set of registered ``testdata_queries`` over seeded documents and
    embeddings tables: LSH ANN, the minhash/simhash dedup family and the
    ``mapInPandas``/``applyInPandas`` family. Not a timed workload of its own
    (the run budget holds two workloads); the traced ingest_growth run runs
    one warm, checked pass of it for the operators.dual layer metrics."""

    n_docs = 200
    n_vecs = 200

    def _pass(self, ctx: Ctx) -> dict:
        from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

        res = {}
        for q in SUITE:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"dual.{q}"):
                df = TESTDATA_QUERIES[q](ctx.spark, self.sf)
                rows = [tuple(r) for r in df.collect()]
            res[q] = (rows, list(df.columns), time.perf_counter() - t0)
        return res

    def side_probe(self, ctx: Ctx):
        """A warm-up pass untraced, then one traced pass, checked. Returns
        (layer metrics, queries attempted, queries failed)."""
        self.sf = os.path.join(ctx.work, "tables")
        inputs.suite_tables(self.sf, self.n_docs, self.n_vecs, ctx.seed)
        ctx.tracer.enabled = False
        self._pass(ctx)
        ctx.tracer.enabled = True
        try:
            res = self._pass(ctx)
        except Exception as e:  # every query of a failed pass counts as failed
            print(f"suite pass failed: {e!r}")
            return {}, len(SUITE), len(SUITE)
        key = f"{self.n_docs}-{self.n_vecs}-{ctx.seed}"
        bad = 0
        out = {f"suite.{f}_s": 0.0 for f in SUITE.values()}
        for q, (rows, cols, sec) in res.items():
            if checks.normalize(rows, cols) != checks.suite_oracle(ctx.cache, self.sf, q, key):
                print(f"suite: {q} differs from its DuckDB oracle")
                bad += 1
            out[f"dual.{q}_s"] = sec
            out[f"suite.{SUITE[q]}_s"] += sec
        return out, len(SUITE), bad

    def event_counters(self, ev, out: dict) -> None:
        for q in SUITE:
            out[f"dual.{q}.shuffle_bytes"] = ev.by_span.get(f"dual.{q}", {}).get(
                "shuffle_write_bytes", 0
            )


WORKLOADS = {w.name: w for w in (FlagshipBatch, IngestGrowth)}
