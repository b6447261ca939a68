"""Flagship scale-proof at 10x bench scale (r3 verdict #4).

Runs the full pipeline_e2e shape (run_to_sinks: parse -> enrich -> route ->
partitioned zstd sink write -> summary aggregated from the sinks, then
summary.collect(); exactly bench.py's bench_pipeline) at sf1.0-equivalent
load — 20M synthetic turns, 10x the driver bench's 2M — in a fresh JVM per
run, and checks the two scale laws:

  * throughput law: turns/sec at 20M must be within 2x of the sf0.1 rate
    (a plan whose cost grows super-linearly in N would fall out here);
  * hash law: the per-sink summary hash at 20M must be identical across
    parallelism levels (the north rule's exact-equality clause at 10x).

Usage: python scripts/bench_sf1.py [n_turns] [cpus_hi] [cpus_lo]
Defaults: 20M turns, local[32] and local[8]. Emits one JSON line for
BENCH.md §1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, sys, time
sys.path.insert(0, {repo!r})
from openfactverification_spark.session import get_spark
import bench

cpus, n_turns = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark("bench-sf1", master=f"local[{{cpus}}]")
bench.bench_pipeline(spark, 50_000)  # untimed warm-up
sec = bench.bench_pipeline(spark, n_turns)["sec"]

# per-sink hash of the same summary the scaling bench pins
from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.sources.transcripts import transcripts_df
summary = sorted(map(str, build_pipeline(spark, transcripts_df(spark, n_turns)).summary.collect()))
digest = hashlib.sha256("\n".join(summary).encode()).hexdigest()[:16]
print(json.dumps({{"cpus": cpus, "sec": sec, "turns_per_sec": n_turns / sec,
                   "summary_hash": digest}}))
spark.stop()
"""


def run_level(cpus: int, n_turns: int) -> dict:
    code = WORKER.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n_turns)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    r_hi = run_level(hi, n_turns)
    print(f"  local[{hi}]: {r_hi['sec']:.1f}s {r_hi['turns_per_sec']:.0f} turns/s "
          f"hash={r_hi['summary_hash']}", file=sys.stderr)
    r_lo = run_level(lo, n_turns)
    print(f"  local[{lo}]: {r_lo['sec']:.1f}s {r_lo['turns_per_sec']:.0f} turns/s "
          f"hash={r_lo['summary_hash']}", file=sys.stderr)

    print(json.dumps({
        "n_turns": n_turns,
        f"turns_per_sec_local{hi}": round(r_hi["turns_per_sec"], 1),
        f"turns_per_sec_local{lo}": round(r_lo["turns_per_sec"], 1),
        f"sec_local{hi}": round(r_hi["sec"], 1),
        "summary_hash": r_hi["summary_hash"],
        "hash_equal_across_levels": r_hi["summary_hash"] == r_lo["summary_hash"],
    }))


if __name__ == "__main__":
    main()
