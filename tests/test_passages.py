"""T3 passage selection as a JVM fold (operators/passages.py): no Python node
in the executed plan, the same rows at every shuffle parallelism, and the
pure-Python reference select_passages_pdf on the predicate's edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from openfactverification_spark.operators import passages as passage_ops

SF_DIR = "/root/testdata/sf0.01"
_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonRDD")
_COLS = ["doc_id", "start_word", "end_word", "score", "sel_rank"]


def _chunks(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, start_word int, end_word int, score long"
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*_COLS).collect())


def _reference(chunks) -> list[tuple]:
    pdf = chunks.toPandas()
    out = []
    for _, grp in pdf.groupby("doc_id"):
        sel = passage_ops.select_passages_pdf(grp)
        out += [tuple(int(v) for v in r) for r in sel.itertuples(index=False)]
    return sorted(out)


def _plan(df) -> str:
    df.collect()  # the final adaptive plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_selection_plans_no_python_node(spark):
    from openfactverification_spark.testdata_queries import TESTDATA_QUERIES

    generated = (
        spark.range(400)
        .select(
            (F.col("id") % 40).alias("doc_id"),
            ((F.col("id") / 40).cast("int") * 8).alias("start_word"),
        )
        .withColumn("end_word", F.col("start_word") + 10)
        .withColumn("chunk_text", F.concat_ws(" ", "doc_id", "start_word"))
    )
    frames = {
        "select_passages": passage_ops.select_passages(
            passage_ops.with_scores(generated)
        ),
        "chunk_passages": TESTDATA_QUERIES["chunk_passages"](spark, SF_DIR),
    }
    for name, df in frames.items():
        plan = _plan(df)
        for node in _PYTHON_NODES:
            assert node not in plan, (name, node)


def test_selection_equal_across_shuffle_parallelism(spark):
    """Direction 6's 'done when': the same rows at 1 and 16 shuffle
    partitions, equal to the pure-Python reference per doc."""
    from openfactverification_spark.operators.dual import D, q_chunk_documents
    from openfactverification_spark.sources.tables import table_path

    spark.read.parquet(table_path(SF_DIR, "documents")).createOrReplaceTempView(
        "documents"
    )
    scored = passage_ops.with_scores(spark.sql(q_chunk_documents(D("spark"))))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}
    try:
        for n in (1, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            got[n] = _rows(passage_ops.select_passages(scored))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got[1] and got[1] == got[16]
    assert got[1] == _reference(scored)


def test_containing_chunk_is_admitted(spark):
    """The reference predicate rejects a candidate only when one of its
    endpoints falls inside a chosen interval, so a chunk strictly containing
    a chosen one is admitted (any-intersection would reject it)."""
    chunks = _chunks(spark, [(1, 4, 6, 90), (1, 0, 10, 50), (1, 5, 8, 40)])
    got = _rows(passage_ops.select_passages(chunks))
    assert got == _reference(chunks)
    assert got == [(1, 0, 10, 50, 2), (1, 4, 6, 90, 1)]


def test_more_than_cap_disjoint_chunks_keep_top_scores(spark):
    scores = [5, 80, 30, 70, 10, 60, 20, 90, 40]
    rows = [(7, 10 * i, 10 * i + 10, sc) for i, sc in enumerate(scores)]
    chunks = _chunks(spark, rows)
    got = _rows(passage_ops.select_passages(chunks))
    assert got == _reference(chunks)
    top = sorted(rows, key=lambda r: (-r[3], r[1]))[: passage_ops.MAX_PASSAGES]
    assert {r[:4] for r in got} == set(top)
    by_rank = sorted(got, key=lambda r: r[4])
    assert [(r[3], r[4]) for r in by_rank] == [(90, 1), (80, 2), (70, 3), (60, 4), (40, 5)]


def test_equal_scores_tie_break_on_start_word(spark):
    chunks = _chunks(
        spark,
        [(3, 4, 14, 9), (3, 0, 10, 9), (3, 30, 40, 9), (3, 20, 30, 9), (4, 0, 5, 1)],
    )
    got = _rows(passage_ops.select_passages(chunks))
    assert got == _reference(chunks)
    assert [r[1:3] + r[4:] for r in got if r[0] == 3] == [
        (0, 10, 1),
        (20, 30, 2),
        (30, 40, 3),
    ]


def test_empty_chunks_give_typed_empty_frame(spark):
    out = passage_ops.select_passages(_chunks(spark, []))
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"),
        ("start_word", "int"),
        ("end_word", "int"),
        ("score", "bigint"),
        ("sel_rank", "int"),
    ]
