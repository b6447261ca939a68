"""Sequence-packing invariants (operators/packing.py) beyond the DuckDB oracle:
capacity respected, offsets contiguous per bin, every doc assigned exactly once,
and assignments identical across parallelism levels (the packer's determinism
contract — repartition("source") must not change any bin)."""

from __future__ import annotations

from collections import defaultdict

from openfactverification_spark.operators.packing import PACK_CAP, pack_sequences

SF_DIR = "/root/testdata/sf0.01"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_packing_invariants(spark):
    docs = _docs(spark)
    rows = pack_sequences(docs).collect()
    assert len(rows) == docs.count()  # every doc assigned exactly once
    by_bin = defaultdict(list)
    for r in rows:
        by_bin[(r.source, r.bin_idx)].append(r)
    for (_, _), members in by_bin.items():
        members.sort(key=lambda r: r.offset_tokens)
        fill = 0
        for m in members:
            assert m.offset_tokens == fill  # contiguous, no padding gaps
            fill += m.n_tokens
        # capacity: only a single oversized doc may exceed the cap
        assert fill <= PACK_CAP or len(members) == 1
    # bins are dense per stream: 0..max with none skipped
    per_src = defaultdict(set)
    for r in rows:
        per_src[r.source].add(r.bin_idx)
    for src, bins in per_src.items():
        assert bins == set(range(max(bins) + 1)), src


def test_packing_parallelism_independent(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, pack_sequences(docs.repartition(1)).collect()))
    b = sorted(map(tuple, pack_sequences(docs.repartition(17)).collect()))
    assert a == b
