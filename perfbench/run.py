"""Repository benchmark: one workload per run, on local[4] with one Spark
session, closed loop (one operation at a time).

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every run generates seeded inputs, warms
the workload's own path (counted in ``setup_s``), measures, then checks every
output against an independent oracle outside the timed region. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``. Spans, flags and the full detail
of each run are written to ``.perfbench_out/reports/``."""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "openfactverification_spark"
MASTER = "local[4]"


def bw_probe_gbps() -> float:
    """GB/s of a 64 MB numpy copy: a slow phase of the host shows here."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8)
    a.copy()
    t0 = time.perf_counter()
    a.copy()
    return 2 * a.nbytes / 1e9 / (time.perf_counter() - t0)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def start_spark(work: str, trace: bool):
    # Python workers are started by the JVM and inherit its environment, so
    # this makes the package importable in mapInPandas workers whatever the
    # working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from openfactverification_spark.session import get_spark

    return get_spark("perfbench", master=MASTER, driver_memory="3g", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import trace as trace_mod
    from perfbench import workloads as wl_mod

    if args.workload not in wl_mod.WORKLOADS:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    wl = wl_mod.WORKLOADS[args.workload]()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    out_root = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_root, "work", run_id)
    os.makedirs(work, exist_ok=True)

    spark = start_spark(work, bool(args.trace))
    try:
        tracer = trace_mod.Tracer(spark, run_id, enabled=False)
        ctx = wl_mod.Ctx(
            spark, tracer, work, os.path.join(ROOT, ".perfbench_cache"),
            args.seed, args.seconds,
        )
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_PROCESS
        bw = bw_probe_gbps()
        layer: dict = {}
        extra_attempted = extra_failed = 0
        if args.trace:
            tracer.enabled = True
            _instrument(tracer)
            m, mt = wl.measure_pair(ctx)
            runs = [m, mt]
            layer, extra_attempted, extra_failed = wl.layers(ctx, mt)
            tracer.unpatch()
            tracer.enabled = False
        else:
            m = wl.measure(ctx)
            runs = [m]
        bad = [wl.check(ctx, r) for r in runs]
        for r, b in zip(runs, bad):
            r.failed = min(r.attempted, r.failed + b)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    attempted = sum(r.attempted for r in runs) + extra_attempted
    failed = sum(r.failed for r in runs) + extra_failed
    end_to_end = {
        "setup_s": setup_s,
        "run_s": statistics.median(m.op_s),
        "items_per_s": m.items / m.wall_s,
        # the later half of the run: for ingest_growth the batches at the
        # largest store sizes
        "late_op_s": statistics.median(m.op_s[len(m.op_s) // 2:]),
    }
    detail = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "bw_probe_gbps": bw, "op_s": m.op_s,
        "end_to_end": end_to_end, "flags": [],
    }
    if args.trace:
        layer.update({
            "run.untraced_s": end_to_end["run_s"],
            "run.traced_s": statistics.median(mt.op_s),
            "process.peak_rss_mb": rss,
            "bw_probe_gbps": bw,
        })
        layer["trace.overhead_s"] = layer["run.traced_s"] - layer["run.untraced_s"]
        layer.update(_snaplog_metrics(tracer))
        ev = trace_mod.EventLog(_event_file(work))
        wl.event_counters(ev, layer)
        layer.update(wl.spark_counters(ev))
        tracer.write(os.path.join(out_root, "reports", run_id + ".spans.jsonl"))
        detail["op_s_traced"] = mt.op_s
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    else:
        layer = end_to_end
        names = [x["name"] for x in spec["end_to_end"]]
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}

    metrics, detail["metrics"] = {}, {}
    for name in names:
        v = layer.get(name, 0)
        detail["metrics"][name] = v
        if v < 0 and name.endswith("self_s"):
            # a negative self time is impossible: a cut-point delta lost in
            # noise. The report says unknown; the result line, which takes
            # numbers only, says no measurable time.
            detail["flags"].append(f"negative:{name}={v:.4f}")
            detail["metrics"][name] = None
            v = 0.0
        metrics[name] = {"value": v, "unit": units[name]}
    os.makedirs(os.path.join(out_root, "reports"), exist_ok=True)
    with open(os.path.join(out_root, "reports", run_id + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"bw_probe_gbps": bw, "op_s": m.op_s, "flags": detail["flags"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _instrument(tracer) -> None:
    from openfactverification_spark import checkpoint
    from openfactverification_spark.operators import route

    tracer.wrap_snaplog()
    tracer.wrap(route, "write_sinks", "route.write_sinks")
    tracer.wrap(checkpoint, "pending_epochs", "checkpoint.pending_epochs")


def _snaplog_metrics(tracer) -> dict:
    def total(name):
        return sum(s["end"] - s["start"] for s in tracer.named(name))

    return {
        "snaplog.append_s": total("snaplog.append"),
        "snaplog.overwrite_s": total("snaplog.overwrite_partitions"),
        "snaplog.read_s": total("snaplog.read"),
        "snaplog.commits": len(tracer.named("snaplog.append"))
        + len(tracer.named("snaplog.overwrite_partitions")),
        "snaplog.log_reads": sum(
            len(tracer.named(f"snaplog.{n}"))
            for n in ("current_snapshot", "history", "snapshots_newest_first", "read")
        ),
    }


def _event_file(work: str) -> str:
    d = os.path.join(work, "events")
    (name,) = [n for n in os.listdir(d) if not n.endswith(".inprogress")]
    return os.path.join(d, name)


if __name__ == "__main__":
    sys.exit(main())
