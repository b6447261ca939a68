"""session.local_frame: the package's one Python-rows → DataFrame path."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from openfactverification_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("cw_reason", T.StringType(), True),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("cw_label", T.BooleanType(), False),
    ]
)
ROWS = [("fact", 1, True), (None, 2, False), ("opinion", 3, True)]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    """Same rows and same schema as ``spark.createDataFrame(rows, schema)``:
    a nullable string holding None, IntegerType from Python ints, booleans,
    and an empty row list."""
    got = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema == SCHEMA
    assert got.collect() == want.collect()


def test_local_frame_ddl_schema(spark):
    got = local_frame(spark, [("a", 1)], "metric string, value bigint")
    assert got.schema == spark.createDataFrame([("a", 1)], "metric string, value bigint").schema
    assert [tuple(r) for r in got.collect()] == [("a", 1)]


def test_local_frame_is_a_local_table_scan(spark):
    """The executed plan is a driver-local relation: no RDD scan, so no
    Python worker runs when the frame is read or broadcast."""
    df = local_frame(spark, ROWS, SCHEMA)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan, plan
