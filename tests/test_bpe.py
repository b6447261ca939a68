"""Mini-BPE tokenizer (functions/bpe.py): the SQL folds in BOTH engines must
equal the pure-Python reference encoder word for word, and training must be
deterministic."""

from __future__ import annotations

import duckdb
import pytest

from openfactverification_spark.functions import bpe


def test_training_is_deterministic():
    again = bpe.train_bpe(bpe.SEED_COUNTS, bpe.N_MERGES)
    assert again == bpe.MERGES
    assert len(bpe.MERGES) == bpe.N_MERGES
    # token alphabet stays [a-z0-9]: no merge output may contain the separator
    assert all("|" not in a + b and ":" not in a + b for a, b in bpe.MERGES)


def test_encoder_reference_properties():
    # concatenation invariant: tokens re-join to the word
    for w in ["window", "customer", "filterable", "zzz", "spark", "a", "20x"]:
        toks = bpe.bpe_encode(w)
        assert "".join(toks) == w
        assert all(toks)
    assert bpe.bpe_encode("") == []
    # a frequent training word must compress below character count
    assert len(bpe.bpe_encode("window")) < len("window")


@pytest.mark.parametrize("text", [
    "Hello spark window! x2",
    "the quick brown fox jumps over 13 lazy dogs",
    "scan scan scan merge-sort (group by key)",
    "",
    "!!! ???",
])
def test_sql_folds_match_python_encoder(spark, text):
    import re

    words = re.findall(r"[a-z0-9]+", text.lower())
    ref = sum(len(bpe.bpe_encode(w)) for w in words)

    lit = "'" + text.replace("'", "''") + "'"
    got_s = spark.sql(
        f"SELECT {bpe.bpe_token_count_expr(lit, 'spark')} AS n"
    ).collect()[0]["n"]
    got_d = duckdb.connect().execute(
        f"SELECT {bpe.bpe_token_count_expr(lit, 'duckdb')} AS n"
    ).fetchone()[0]
    assert got_s == ref, (text, got_s, ref)
    assert got_d == ref, (text, got_d, ref)
