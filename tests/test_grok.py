"""Grok compiler unit tests (functions/grok.py) — the query-level behavior is
oracle-checked via events_grok_parse; these pin the compiler contract."""

from __future__ import annotations

import re

import pytest

from openfactverification_spark.functions.grok import GrokError, compile_grok


def test_compile_basic_fields_in_order():
    rx, fields = compile_grok("%{IP:client} took %{NUMBER:ms}ms")
    assert fields == ["client", "ms"]
    m = re.fullmatch(rx, "10.2.3.4 took 12.5ms")
    assert m and m.group(1) == "10.2.3.4" and m.group(2) == "12.5"


def test_literal_text_is_escaped():
    rx, _ = compile_grok("a+b %{INT:n}")
    assert re.fullmatch(rx, "a+b 7")  # '+' literal, not regex plus
    assert not re.fullmatch(rx, "aaab 7")


def test_bare_refs_do_not_capture():
    rx, fields = compile_grok("%{WORD} %{INT:n}")
    assert fields == ["n"]
    assert re.compile(rx).groups == 1


def test_nested_patterns_expand():
    rx, fields = compile_grok(
        "%{HOSTPORT:hp}", patterns={"HOSTPORT": r"%{IP}:%{INT}"}
    )
    assert fields == ["hp"]
    assert re.fullmatch(rx, "1.2.3.4:8080")


def test_unknown_pattern_raises():
    with pytest.raises(GrokError):
        compile_grok("%{NOPE:x}")


def test_circular_pattern_raises():
    with pytest.raises(GrokError):
        compile_grok("%{A:x}", patterns={"A": "%{B}", "B": "%{A}"})


def test_sql_literal_escapes_single_quotes(spark):
    """ADVICE r2: a grok expression containing an apostrophe must render to
    valid SQL in both dialects — '' doubling inside the pattern literal."""
    import duckdb

    from openfactverification_spark.functions.grok import grok_select_sql

    expr = "it's %{WORD:who}"
    for dialect in ("spark", "duckdb"):
        cols = grok_select_sql("line", expr, dialect)
        sql = "SELECT " + ", ".join(cols) + " FROM t"
        if dialect == "spark":
            spark.createDataFrame([("it's me",)], "line string").createOrReplaceTempView("t")
            row = spark.sql(sql).collect()[0]
        else:
            con = duckdb.connect()
            con.execute("CREATE TABLE t(line VARCHAR)")
            con.execute("INSERT INTO t VALUES ('it''s me')")
            row = con.execute(sql).fetchone()
        assert row[0] == "me" and row[1] is True, dialect


def test_invalid_field_name_rejected():
    from openfactverification_spark.functions.grok import grok_select_sql

    with pytest.raises(GrokError, match="identifier"):
        grok_select_sql("line", "%{INT:1bad}", "spark")
