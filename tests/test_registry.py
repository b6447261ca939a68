"""Driver-contract registry invariants: every query oracle-paired, and the
driver-window rotation v2 (r4 verdict #2) — least-recently-verified first
with STRICT green (hash_match is True), pinned to committed CORRECTNESS
files, so the 50-row CORRECTNESS prefix window is a rolling re-verification
of the whole registry (~every 3 rounds at 107 queries) rather than a
one-time backlog drain."""

from __future__ import annotations

import os

from openfactverification_spark import entry_queries as eq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_is_oracle_paired():
    qs = eq.build_queries()
    oracles = eq.build_oracle_sql()
    assert set(qs) <= set(oracles), sorted(set(qs) - set(oracles))
    assert len(qs) >= 106


def test_rotation_is_least_recently_verified(monkeypatch):
    """Never-green leads, then ascending by newest green driver round."""
    names = list(eq.build_queries())
    fake = {n: 4 for n in names}
    fake[names[10]] = 1  # green long ago -> second
    fake[names[20]] = 2  # -> third
    del fake[names[30]]  # never green -> first
    monkeypatch.setattr(eq, "_last_green_round", lambda: fake)
    order = list(eq.build_queries())
    assert order[0] == names[30]
    assert order[1] == names[10]
    assert order[2] == names[20]
    assert len(order) == len(names)  # rotation reorders, never drops


def test_green_requires_hash_match_true(monkeypatch, tmp_path):
    """A driver row whose hash gate never ran (hash_match None) or failed is
    NOT green: rows-only passes must stay at the front of the window until
    the value hash actually matches."""
    rows = {
        "a": {"rows_match": True, "schema_match": True, "hash_match": True},
        "b": {"rows_match": True, "schema_match": True, "hash_match": None},
        "c": {"rows_match": True, "schema_match": True, "hash_match": False},
        "d": {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": "boom"},
    }
    import json

    path = str(tmp_path / "CORRECTNESS_r7.json")
    with open(path, "w") as f:
        json.dump(rows, f)
    monkeypatch.setattr(eq, "_correctness_files", lambda: [path])
    assert eq._last_green_round() == {"a": 7}


def test_rotation_reads_committed_files_only():
    """Ordering input comes from `git ls-files`, not a directory glob — an
    untracked CORRECTNESS file in a dirty checkout must not perturb
    queries() ordering."""
    import subprocess

    files = eq._correctness_files()
    tracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "CORRECTNESS_r*.json"],
        capture_output=True,
        text=True,
    ).stdout.split()
    assert [f.rsplit("/", 1)[-1] for f in files] == sorted(
        t.rsplit("/", 1)[-1] for t in tracked
    )


def test_fresh_checkout_keeps_registry_order(monkeypatch):
    """Without readable CORRECTNESS files (packaged zip / fresh clone),
    every query ties at never-green and the registry keeps its insertion
    order: pipeline queries first, then the testdata queries."""
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    monkeypatch.setattr(eq, "_last_green_round", lambda: {})
    order = list(eq.build_queries())
    assert order == list(eq.PIPELINE_QUERIES) + list(TESTDATA_QUERIES)


def test_current_window_is_the_stalest_50():
    """On this checkout the 50-row prefix window must hold exactly the
    queries with the OLDEST strict-green rounds: no query outside the window
    may be staler than one inside it."""
    last = eq._last_green_round()
    if not last:  # packaged environment without the files — nothing to pin
        return
    order = list(eq.build_queries())
    window, rest = order[:50], order[50:]
    max_in = max(last.get(n, 0) for n in window)
    min_out = min(last.get(n, 0) for n in rest)
    assert max_in <= min_out
