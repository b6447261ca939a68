"""Portable deterministic hashing — identical values in Spark SQL and DuckDB.

Spark's murmur `hash()` and DuckDB's `hash()` disagree, so cross-engine-checkable
sketches (MinHash, SimHash, LSH) are built on md5 hex prefixes converted to
integers — bit-identical in both engines:

    Spark : cast(conv(substring(md5(x), 1, 7), 16, 10) as bigint)
    DuckDB: ('0x' || substr(md5(x), 1, 7))::BIGINT

A 7-hex-digit prefix is < 2^28, so affine re-hashes (a*h + b) mod P with
a,b < 2^31 stay well inside signed-64 range — no overflow on either engine.

Sketch parameters ARE the scale story for the dedup/ANN family, so they are
module-level *defaults* that every query builder accepts as arguments:

  * MinHash: K=128 signatures as 16 bands x 8 rows — the production default
    (collision prob at jaccard s is 1-(1-s^8)^16: ~0.9999 at s=0.9, ~0.24 at
    s=0.6, ~0 at s<0.3), a sharp enough curve that candidate volume stays
    ~linear in corpus size instead of exploding with false-positive bands.
    K=8 (4x2) was the round-1 toy sketch; it survives only in docstrings.
  * Hyperplane LSH: a seeded pool of 128 hyperplanes. L tables take L
    disjoint slices of p planes each (lsh_tables; buckets = 2^p per table,
    size p ≈ log2(N / target_bucket_rows) so bucket population stays bounded
    as N grows) and union candidates (per-pair hit prob 1-(1-q^p)^L with
    q = 1 - angle/pi). The single-table default is 8 planes = 256 buckets
    (test scale; at N=10^12 use p ~ log2(N / 10^5) ~ 23, or more tables for
    recall).
  * IVF: `n_cells` seeded centroids (production: ~sqrt(N), k-means-refined)
    with `nprobe` cells searched per query.
"""

from __future__ import annotations

import numpy as np

# Mersenne prime 2^31 - 1
MERSENNE_P = 2_147_483_647

# MinHash family: K affine hash functions, coefficients fixed by seed so both
# dialects embed the same literals.
MINHASH_K = 128
MINHASH_BANDS = 16  # 16 bands x 8 rows
_rng = np.random.RandomState(42)
MINHASH_A = [int(x) for x in _rng.randint(1, MERSENNE_P, size=MINHASH_K)]
MINHASH_B = [int(x) for x in _rng.randint(0, MERSENNE_P, size=MINHASH_K)]

# Random-hyperplane pool for embedding LSH: pool_size x dim literal matrix,
# seeded. Queries slice what they need (single-table prefix or per-table
# disjoint slices), so every configuration draws from one fixed pool.
# 128 covers the production-regime p=12 x L=8 headline; growing the pool only
# APPENDS draws (sequential seeded RNG), so every existing slice is unchanged.
HYPERPLANE_POOL_SIZE = 128
EMBED_DIM = 64
_rng2 = np.random.RandomState(7)
HYPERPLANE_POOL = [
    [round(float(v), 6) for v in _rng2.randn(EMBED_DIM)]
    for _ in range(HYPERPLANE_POOL_SIZE)
]

# 48-bit simhash (12 md5 hex digits of the word hash). 24 bits was too narrow
# for banded candidate generation: pigeonhole bands of 24/(k+1) ~ 3 bits have
# only 8 distinct values, so every band bucket holds ~N/8 docs and the banded
# join degenerates toward all-pairs. 48 bits gives ~7-bit bands (128 values) —
# selective banding — and a sharper similarity cut for the verify.
SIMHASH_BITS = 48

# IVF defaults: centroids from a second seeded pool (production: ~sqrt(N)
# k-means centroids; these stand in deterministically), nprobe>1 unions the
# query's nearest cells to recover recall lost at cell boundaries.
IVF_CELLS = 16
IVF_NPROBE = 2
_rng3 = np.random.RandomState(11)
IVF_CENTROID_POOL = [
    [round(float(v), 6) for v in _rng3.randn(EMBED_DIM)] for _ in range(IVF_CELLS)
]


def hash_prefix(expr: str, hex_digits: int, dialect: str) -> str:
    """(4*hex_digits)-bit portable hash of a string expression (md5 prefix).
    hex_digits <= 15 keeps the value inside signed-64 on both engines."""
    assert 1 <= hex_digits <= 15
    if dialect == "spark":
        return f"cast(conv(substring(md5({expr}), 1, {hex_digits}), 16, 10) as bigint)"
    return f"('0x' || substr(md5({expr}), 1, {hex_digits}))::BIGINT"


def h7(expr: str, dialect: str) -> str:
    """28-bit portable hash — the affine-rehash base (see MERSENNE_P note)."""
    return hash_prefix(expr, 7, dialect)


def minhash_expr(k: int, h_expr: str) -> str:
    """k-th affine re-hash of a precomputed h7 value (dialect-neutral)."""
    return f"(({MINHASH_A[k]} * {h_expr} + {MINHASH_B[k]}) % {MERSENNE_P})"


def lsh_tables(n_tables: int, planes_per_table: int) -> list[list[list[float]]]:
    """L disjoint slices of the hyperplane pool, one per LSH table."""
    need = n_tables * planes_per_table
    assert need <= HYPERPLANE_POOL_SIZE, (
        f"{need} planes requested, pool has {HYPERPLANE_POOL_SIZE}"
    )
    return [
        HYPERPLANE_POOL[t * planes_per_table : (t + 1) * planes_per_table]
        for t in range(n_tables)
    ]
