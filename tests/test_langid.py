"""Char-n-gram language-ID model (functions/langid.py + q_lang_id_model):
training determinism, engine-vs-Python agreement, and the beat-the-baseline
claim on the de/fr/es strata."""

from __future__ import annotations

from openfactverification_spark.functions import langid
from openfactverification_spark.operators import dual
from openfactverification_spark.operators.dual import D
from openfactverification_spark.sources.tables import table_path

SF = "/root/testdata/sf0.001"
_S = D("spark")


def test_training_is_deterministic_and_weights_positive():
    again = langid.train_char_ngram()
    assert again == langid.MODEL
    for lang in langid.LANGS:
        assert len(langid.MODEL[lang]) == langid.TOP_K
        assert all(w > 0 for _, w in langid.MODEL[lang])
        assert all("'" not in g and "|" not in g for g, _ in langid.MODEL[lang])


def test_classify_agrees_with_spark_expression(spark):
    """The SQL scorer must equal the Python reference on planted texts."""
    base = "a table window key batch slow column the fast merge scan"
    rows = [
        (i, lang, base + langid.PLANT_TAILS[lang] * 2)
        for i, lang in enumerate(langid.LANGS)
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).createOrReplaceTempView("documents")
    try:
        # q_lang_id_model plants its own tails on top; what matters here is
        # that both engines and classify() pick the same winner per doc
        got = {
            (r["lang"], r["predicted"]): r["n"]
            for r in spark.sql(dual.q_lang_id_model(_S)).collect()
        }
        assert all(k[0] == k[1] for k in got), got
    finally:
        spark.read.parquet(table_path(SF, "documents")).createOrReplaceTempView(
            "documents"
        )
        spark.conf.set("spark.ofv.registered_sf", "")


def test_model_beats_stopword_baseline_on_foreign_strata(spark):
    """The VERDICT r2 criterion: on the de/fr/es strata the stopword baseline
    (en/other only) gets ZERO labels right by construction; the model must
    get the large majority right, and overall accuracy must clear 95%."""
    spark.read.parquet(table_path(SF, "documents")).createOrReplaceTempView(
        "documents"
    )
    conf = {
        (r["lang"], r["predicted"]): r["n"]
        for r in spark.sql(dual.q_lang_id_model(_S)).collect()
    }
    langs = {k[0] for k in conf}
    assert {"de", "fr", "es"} <= langs
    for lang in ("de", "fr", "es"):
        total = sum(v for (a, _), v in conf.items() if a == lang)
        right = conf.get((lang, lang), 0)
        assert right / total >= 0.8, (lang, conf)
    total = sum(conf.values())
    diag = sum(v for (a, b), v in conf.items() if a == b)
    assert diag / total >= 0.95, conf
    # baseline: q_lang_id predicts only en/other — 0 correct on foreign strata
    base = {
        (r["lang"], r["predicted"])
        for r in spark.sql(dual.q_lang_id(_S)).collect()
    }
    assert not any(a == b and a in ("de", "fr", "es") for a, b in base)
