"""Endurance + crash-resume proof at 100M turns (r4 verdict #5).

Runs the flagship pipeline in its checkpointed production shape
(checkpoint.run_resumable, SnapLog sink, 5 day-epochs) at sf5-equivalent load
— 100M synthetic turns, 50x the driver bench — with a REAL mid-epoch SIGKILL
(kill -9 of the whole process group, JVM included) once ~half the epochs have
committed, then a fresh-JVM resume, and checks:

  * resume law: the second invocation completes exactly the missing epochs
    (an epoch committed as a sink snapshot is never recomputed);
  * hash law end-to-end THROUGH the crash: the per-(route, role) summary
    computed FROM the resumed SnapLog sink table is hash-identical to a
    direct single-pass run of the same pipeline at the same n_turns;
  * no driver-side growth: the process-tree RSS is sampled every 2s across
    both phases; the series (and per-phase max) lands in the output row.

Usage: python scripts/bench_endurance.py [n_turns] [cpus]
Defaults: 100_000_000 turns, 32 cpus. Emits one JSON line for BENCH.md §1e.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUN_WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from openfactverification_spark.session import get_spark
from openfactverification_spark import checkpoint
from openfactverification_spark.sources.transcripts import transcripts_df

out_dir, n_turns, cpus = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark("endurance", master=f"local[{{cpus}}]")
t0 = time.perf_counter()
results = checkpoint.run_resumable(spark, transcripts_df(spark, n_turns), out_dir)
print(json.dumps({{
    "epochs_run": [r.epoch for r in results],
    "parsed_records": sum(r.parsed_records for r in results),
    "sec": round(time.perf_counter() - t0, 1),
}}))
spark.stop()
"""

VERIFY_WORKER = r"""
import hashlib, json, sys
sys.path.insert(0, {repo!r})
from openfactverification_spark.session import get_spark
from openfactverification_spark import checkpoint
from openfactverification_spark.operators import aggregate as agg_ops
from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.sources import snaplog
from openfactverification_spark.sources.transcripts import transcripts_df

out_dir, n_turns, cpus = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark("endurance-verify", master=f"local[{{cpus}}]")

def digest(df):
    rows = sorted(map(str, df.collect()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]

sunk = snaplog.read(spark, out_dir + "/sinks")
h_sink = digest(agg_ops.sink_summary(sunk))
n_sink = sunk.count()
h_direct = digest(build_pipeline(spark, transcripts_df(spark, n_turns)).summary)
log = snaplog.history(spark, out_dir + "/sinks")
print(json.dumps({{
    "hash_from_resumed_sink": h_sink,
    "hash_direct": h_direct,
    "hash_match": h_sink == h_direct,
    "sink_rows": n_sink,
    "epochs_committed": sorted(checkpoint.committed_epochs(log)),
    "sink_versions": len(log),
}}))
spark.stop()
"""


def _tree_rss_gb(pgid: int) -> float:
    """Total VmRSS (GiB) of every process in the process group — the whole
    'driver' of a local-mode run (python + JVM)."""
    total = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().split(")")[-1].split()[2]) != pgid:
                    continue
            with open(f"/proc/{d}/status") as f:
                for ln in f:
                    if ln.startswith("VmRSS:"):
                        total += int(ln.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return round(total / 1024 / 1024, 2)


class RssSampler(threading.Thread):
    def __init__(self, pgid: int, period: float = 2.0):
        super().__init__(daemon=True)
        self.pgid, self.period = pgid, period
        self.series: list[float] = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.series.append(_tree_rss_gb(self.pgid))
            self._halt.wait(self.period)

    def stop(self) -> list[float]:
        self._halt.set()
        self.join(timeout=5)
        return self.series


def _spawn(code: str, *args: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", code.format(repo=REPO), *args],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # own pgid: SIGKILL reaps the JVM too
        env=dict(os.environ, PYTHONPATH=REPO),
        cwd=REPO,
    )


def _snapshot_count(out_dir: str) -> int:
    """Committed sink snapshots = committed epochs (one commit per epoch)."""
    return len(glob.glob(os.path.join(out_dir, "sinks", "_snaplog", "v*.json")))


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out_dir = os.path.join("/tmp", f"endurance_{n_turns}")
    subprocess.run(["rm", "-rf", out_dir], check=True)

    # Phase 1: run until ~half the 5 epochs are committed, then kill -9 the
    # whole process group mid-epoch (5s after the 2nd commit, so epoch 3 is
    # in flight — data files written or half-written, snapshot not published).
    t0 = time.perf_counter()
    p1 = _spawn(RUN_WORKER, out_dir, str(n_turns), str(cpus))
    rss1 = RssSampler(os.getpgid(p1.pid))
    rss1.start()
    killed_at = None
    while p1.poll() is None:
        if _snapshot_count(out_dir) >= 2:
            time.sleep(5)
            killed_at = _snapshot_count(out_dir)
            os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
            break
        time.sleep(1)
    p1.wait()
    series1 = rss1.stop()
    sec1 = round(time.perf_counter() - t0, 1)
    assert killed_at is not None, "worker finished before the kill threshold"
    print(
        f"  phase1: SIGKILL after {killed_at} committed epochs at {sec1}s "
        f"(rss max {max(series1):.1f} GiB)",
        file=sys.stderr,
    )

    # Phase 2: fresh JVM resume — must complete exactly the missing epochs.
    t0 = time.perf_counter()
    p2 = _spawn(RUN_WORKER, out_dir, str(n_turns), str(cpus))
    rss2 = RssSampler(os.getpgid(p2.pid))
    rss2.start()
    out2, _ = p2.communicate()
    series2 = rss2.stop()
    sec2 = round(time.perf_counter() - t0, 1)
    assert p2.returncode == 0, out2[-2000:]
    resume = json.loads(out2.strip().splitlines()[-1])
    print(f"  phase2 (resume): {resume} in {sec2}s "
          f"(rss max {max(series2):.1f} GiB)", file=sys.stderr)

    # Verify: summary from the resumed SnapLog sink == direct single pass.
    p3 = _spawn(VERIFY_WORKER, out_dir, str(n_turns), str(cpus))
    out3, _ = p3.communicate()
    assert p3.returncode == 0, out3[-2000:]
    verify = json.loads(out3.strip().splitlines()[-1])
    print(f"  verify: {verify}", file=sys.stderr)

    def down(series: list[float], n: int = 24) -> list[float]:
        step = max(1, len(series) // n)
        return series[::step]

    print(json.dumps({
        "n_turns": n_turns,
        "cpus": cpus,
        "epochs_committed_before_kill": killed_at,
        "kill_was_mid_epoch": killed_at < 5,
        "epochs_resumed": resume["epochs_run"],
        "epochs_committed_final": verify["epochs_committed"],
        "resume_sec": sec2,
        "phase1_sec": sec1,
        "hash_direct": verify["hash_direct"],
        "hash_from_resumed_sink": verify["hash_from_resumed_sink"],
        "hash_match": verify["hash_match"],
        "sink_rows": verify["sink_rows"],
        "sink_versions": verify["sink_versions"],
        "rss_max_gb_phase1": max(series1),
        "rss_max_gb_resume": max(series2),
        "rss_series_gb_phase1": down(series1),
        "rss_series_gb_resume": down(series2),
    }))
    subprocess.run(["rm", "-rf", out_dir], check=True)


if __name__ == "__main__":
    main()
