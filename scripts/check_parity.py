"""Local stand-in for the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB, compare row count + sorted values.

Usage: python scripts/check_parity.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openfactverification_spark.session import get_spark  # noqa: E402
from openfactverification_spark.sources.tables import TABLES, table_path  # noqa: E402


def normalize(rows, cols):
    def norm_cell(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        if isinstance(v, int):
            return int(v)
        return str(v)

    out = []
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def rows_digest(cols, normalized) -> str:
    """16-hex SHA-256 prefix of the sorted column names and the normalized
    rows, so two runs' [PASS] lines show whether they returned the same rows."""
    payload = repr((sorted(cols), normalized))
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")

    n_pass = n_fail = n_noora = 0
    for name, fn in sorted(qs.items()):
        if name_filter and name_filter not in name:
            continue
        try:
            t0 = time.time()
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            t_spark = time.time() - t0
            scols = sdf.columns
        except Exception as e:  # one crashing query must not hide the rest
            print(f"  [FAIL-spark-err] {name}: {(str(e) or repr(e)).splitlines()[0]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(srows)} rows ({t_spark:.1f}s spark)")
            n_noora += 1
            continue
        try:
            t0 = time.time()
            ores = con.execute(oracles[name])
            orows = ores.fetchall()
            t_duck = time.time() - t0
            ocols = [d[0] for d in ores.description]
        except Exception as e:
            print(f"  [FAIL-oracle-err] {name}: {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"  [FAIL-schema] {name}: spark={sorted(scols)} duck={sorted(ocols)}")
            n_fail += 1
            continue
        sn = normalize([tuple(r) for r in srows], scols)
        on = normalize(orows, ocols)
        if len(sn) != len(on):
            print(f"  [FAIL-count] {name}: spark={len(sn)} duck={len(on)}")
            n_fail += 1
            continue
        if sn != on:
            bad = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"  [FAIL-values] {name}: first diffs {bad}")
            n_fail += 1
            continue
        print(
            f"  [PASS] {name}: {len(sn)} rows ({t_spark:.1f}s spark, {t_duck:.1f}s duck)"
            f" sha256={rows_digest(scols, sn)}"
        )
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noora} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
