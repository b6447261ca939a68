"""Z-order layout: file-skipping evidence.

`events_zorder_key` (oracle-paired) computes the Morton key; this test shows the
key DOES what the docstring claims: writing the table sorted by zval keeps each
parquet file's (user_id, day) min-max envelope tight in BOTH dimensions, so a
box predicate intersects far fewer files than a time-sorted layout — the exact
mechanism engines use for min-max (zone-map) file skipping. Envelopes are read
from parquet footer statistics via pyarrow, engine-independent ground truth.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openfactverification_spark.operators import dual

SF_DIR = "/root/testdata/sf0.01"
N_FILES = 16


def _write_layout(spark, df, order_col, path):
    # repartitionByRange = the production layout move: a global range
    # partitioning on the sort key, each output file owning one key range
    df.repartitionByRange(N_FILES, F.col(order_col)).sortWithinPartitions(
        order_col
    ).write.mode("overwrite").parquet(path)


def _write_zbucket_layout(spark, df, path):
    # file boundaries ALIGNED to z-cells (top 4 z bits = one file), the
    # Iceberg partition-transform analog: sampled range boundaries land
    # mid-cell and smear two cells' envelopes into one file, costing most of
    # the pruning win (measured 19 vs 20 files hit before alignment)
    # data spans user<150 (8 bits) x day<30 (5 bits) -> significant z bits are
    # [14..0]; >>9 keeps (u7,u6,u5,d4): 32-user x 16-day aligned cells
    df.withColumn("zbucket", F.shiftright(F.col("zval"), 9)).repartition(
        N_FILES, F.col("zbucket")
    ).sortWithinPartitions("zbucket", "zval").write.mode("overwrite").partitionBy(
        "zbucket"
    ).parquet(path)


def _envelopes(path):
    out = []
    for f in glob.glob(f"{path}/**/part-*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        lo = {"user_id": None, "day_no": None}
        hi = {"user_id": None, "day_no": None}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    st = col.statistics
                    lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                    hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
        out.append((lo, hi))
    return out


def _files_hit(envs, u_lo, u_hi, d_lo, d_hi):
    return sum(
        1
        for lo, hi in envs
        if not (hi["user_id"] < u_lo or lo["user_id"] > u_hi)
        and not (hi["day_no"] < d_lo or lo["day_no"] > d_hi)
    )


def test_zorder_layout_prunes_box_queries(spark, tmp_path):
    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView("events")
    keyed = spark.sql(dual.q_events_zorder_key(dual.D("spark")))
    base = spark.read.parquet(f"{SF_DIR}/events.parquet").join(keyed, "event_id").select(
        keyed["user_id"], "day_no", "zval", "ts", "value"
    )

    z_path, t_path = str(tmp_path / "zorder"), str(tmp_path / "tsorder")
    _write_zbucket_layout(spark, base, z_path)
    _write_layout(spark, base, "ts", t_path)

    z_envs, t_envs = _envelopes(z_path), _envelopes(t_path)
    assert len(z_envs) >= 8 and len(t_envs) >= N_FILES // 2, (len(z_envs), len(t_envs))

    # box queries: a quarter of each dimension
    boxes = [(0, 37, 0, 7), (40, 77, 8, 15), (80, 117, 16, 23), (110, 149, 22, 29)]
    z_total = sum(_files_hit(z_envs, *b) for b in boxes)
    t_total = sum(_files_hit(t_envs, *b) for b in boxes)
    # time-sorted files each span ~all users, so every box hits ~n_files/4
    # (the day quarter); z-order must strictly beat it
    assert z_total < t_total, (z_total, t_total)
    # and meaningfully so: at least 30% fewer file reads across the box sweep
    assert z_total <= 0.7 * t_total, (z_total, t_total)
