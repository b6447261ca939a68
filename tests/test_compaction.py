"""Compaction (operators/compaction.py): a fragmented sink directory is
rewritten into ~target-size files with contents bit-identical and the original
left intact on failure (two-phase swap)."""

from __future__ import annotations

from openfactverification_spark.operators.compaction import (
    compact_parquet,
    describe_files,
)

SF_DIR = "/root/testdata/sf0.01"


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.repartition(64).write.parquet(path)  # simulate 64 per-epoch micro-files
    before = describe_files(spark, path)
    assert len(before) == 64

    total = sum(b for _, b in before)
    target = max(1, total // 4)  # aim for ~4 files
    audit = compact_parquet(spark, path, target_bytes=target)

    after = describe_files(spark, path)
    assert audit["n_files_before"] == 64
    assert audit["n_files_after"] == len(after)
    assert len(after) <= 8  # ~4 expected; allow codec variance headroom
    # contents identical (order-free)
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert a == b
    # sizes near-uniform: no output file more than 3x the smallest
    sizes = sorted(s for _, s in after)
    assert sizes[-1] <= 3 * sizes[0], sizes


def test_compaction_fails_fast_on_stale_backup(spark, tmp_path):
    """ADVICE r2: a `.compact.old` left by a prior mid-swap crash must abort
    the run before any data is touched (plowing ahead risks deleting the only
    good copy), and the live directory must be untouched afterwards."""
    import pytest

    path = str(tmp_path / "data")
    spark.range(100).write.parquet(path)
    (tmp_path / "data.compact.old").mkdir()

    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    with pytest.raises(RuntimeError, match="compact.old"):
        compact_parquet(spark, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
