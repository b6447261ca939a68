"""North-rule determinism gate: identical per-sink summaries and routed-row
hashes at two parallelism levels (SURVEY.md §5 item 4). Runs each level in a
fresh subprocess-owned SparkSession so the levels are genuinely independent."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, sys
sys.path.insert(0, sys.argv[2])
from openfactverification_spark.plans.pipeline import build_pipeline
from openfactverification_spark.session import get_spark
from openfactverification_spark.sources.transcripts import transcripts_df

cpus = int(sys.argv[1])
spark = get_spark("eq", master=f"local[{cpus}]", driver_memory="6g")
res = build_pipeline(spark, transcripts_df(spark, 3000))
summary = sorted(map(str, res.summary.collect()))
routed = sorted(map(str, res.routed.drop("ts").collect()))
print(json.dumps({
    "summary_hash": hashlib.sha256("\n".join(summary).encode()).hexdigest(),
    "routed_hash": hashlib.sha256("\n".join(routed).encode()).hexdigest(),
    "n_routed": len(routed),
}))
spark.stop()
"""


def _run(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), REPO],
        capture_output=True,
        text=True,
        check=True,
        timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_per_sink_and_routed_equality_across_parallelism():
    a, b = _run(2), _run(8)
    assert a["n_routed"] > 0
    assert a == b
