"""Correctness oracles: DuckDB twins of the package's Spark results, computed
on the same generated inputs and cached per input, since an oracle answer
depends only on the input."""

from __future__ import annotations

import json
import math
import os


def normalize(rows, cols: list[str]) -> list[tuple]:
    """Rows as sorted tuples with columns in name order and floats rounded,
    so results from two engines compare equal."""

    def cell(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, int):
            return v
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(list(r)[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _cached(cache_dir: str, key: str, compute):
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    rows = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, path)
    return [tuple(r) for r in rows]


def _duckdb_rows(sql: str, views: dict[str, str] | None = None) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return normalize(res.fetchall(), cols)
    finally:
        con.close()


def _with_offset(sql: str, n_turns: int, offset: int) -> str:
    """Shift the oracle's transcript ids to this seed's range."""
    base = f"FROM range(0, {n_turns}) AS r(t)"
    if base not in sql:
        raise ValueError("oracle transcripts source not found")
    return sql.replace(base, f"FROM range({offset}, {offset + n_turns}) AS r(t)")


def flagship_oracle(cache_dir: str, n_turns: int, offset: int) -> dict[str, list[tuple]]:
    """Summary rows per (route, role) and row counts per route."""
    from openfactverification_spark.plans.oracle import oracle_queries

    qs = oracle_queries(n_turns)
    return {
        name: _cached(
            cache_dir,
            f"flagship-{name}-{n_turns}-{offset}",
            lambda name=name: _duckdb_rows(_with_offset(qs[name], n_turns, offset)),
        )
        for name in ("pipeline_summary", "pipeline_routed_counts")
    }


def suite_oracle(cache_dir: str, sf_dir: str, query: str, key: str) -> list[tuple]:
    from openfactverification_spark.sources.tables import TABLES, table_path
    from openfactverification_spark.testdata_queries import TESTDATA_ORACLES

    views = {t: table_path(sf_dir, t) for t in TABLES}
    return _cached(
        cache_dir,
        f"suite-{query}-{key}",
        lambda: _duckdb_rows(TESTDATA_ORACLES[query], views),
    )
