"""As-of join (operators/asof.py): the JVM union+window form and the
cogroup+merge_asof form must agree exactly, including tie and no-match rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from openfactverification_spark.operators import asof

SF = "/root/testdata/sf0.01"


def _sets(df):
    return {
        (r["event_id"], r["user_id"], None if r["asof_value"] is None else round(r["asof_value"], 6))
        for r in df.collect()
    }


def test_asof_window_equals_merge_asof_on_events(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    a = asof.asof_join(left, right)
    b = asof.asof_join_pandas(left, right)
    assert _sets(a) == _sets(b)
    assert a.count() == left.count()  # left-preserving: one row per left row


def test_asof_inclusive_tie_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 5, 101), (2, 7, 102)], "user_id long, ts long, event_id long"
    )
    right = spark.createDataFrame(
        [(1, 10, 9.5), (1, 6, 1.25)], "user_id long, ts long, value double"
    )
    got = {
        (r["event_id"], r["asof_value"])
        for r in asof.asof_join(left, right).collect()
    }
    # ts=10 matches the equal-ts right row (inclusive); ts=5 precedes all views
    # (null); user 2 has no right rows at all (null).
    assert got == {(100, 9.5), (101, None), (102, None)}
    got_p = {
        (r["event_id"], r["asof_value"])
        for r in asof.asof_join_pandas(left, right).collect()
    }
    assert got_p == got


from hypothesis import given, settings
from hypothesis import strategies as st

_ROWS = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 20)), min_size=0, max_size=12
)


@settings(max_examples=8, deadline=None)
@given(_ROWS, _ROWS)
def test_asof_property_window_equals_merge_asof(spark, lrows, rrows):
    """Randomized by/ts mixes (duplicate timestamps, empty sides, keys present
    on only one side): the two as-of formulations must always agree."""
    left = spark.createDataFrame(
        [(u, t, i) for i, (u, t) in enumerate(lrows)] or [(99, 0, 0)],
        "user_id long, ts long, event_id long",
    )
    right = spark.createDataFrame(
        [(u, t, float(i)) for i, (u, t) in enumerate(rrows)] or [(98, 0, 0.0)],
        "user_id long, ts long, value double",
    )
    a = {
        (r["event_id"], r["asof_value"])
        for r in asof.asof_join(left, right).collect()
    }
    b = {
        (r["event_id"], r["asof_value"])
        for r in asof.asof_join_pandas(left, right).collect()
    }
    assert a == b
