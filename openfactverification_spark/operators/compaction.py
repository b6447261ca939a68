"""Small-file compaction: rewrite a parquet directory into ~target-size files.

Streaming/per-epoch sinks (checkpoint.py appends one directory per epoch; the
routed sink salts its partitions) inevitably accumulate small files, and at
10^12 rows the NameNode/manifest pressure and per-file open cost of 10^7 tiny
files dominates read time. Compaction is the standing maintenance job every
log pipeline schedules — the parquet stand-in for Iceberg's
`rewrite_data_files` (CATALOG.md documents the Iceberg jar blocker).

Sizing is measured, not guessed: bytes/row comes from the input footers
(compressed size), so the file count adapts to the actual schema/codec.
The write is a two-phase commit: compact into `<dir>.compact.tmp`, verify row
count, then swap directories via two renames. Every rename/delete boolean is
checked (Hadoop FS returns False instead of throwing), and a pre-existing
`.compact.old` from a prior crash fails fast before any work starts. Recovery
after a mid-swap crash (original renamed away, tmp not yet promoted): restore
`<dir>.compact.old` back to `<dir>` by hand — the data is never deleted until
the new directory is live.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the classic HDFS-block-ish target


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def describe_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every data file under `path` (Hadoop FS API, so the
    same code serves file:// and hdfs:///s3a:// — the ADVICE r1 lesson from
    driver-side metadata I/O)."""
    fs, hpath, _ = _fs(spark, path)
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict:
    """Rewrite `path` (parquet dir) into ceil(total_bytes/target) files of
    roughly equal size. Returns the audit record the maintenance job logs."""
    fs, hpath, jvm = _fs(spark, path)
    bak = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact.old")
    if fs.exists(bak):
        # A prior run crashed mid-swap. Deciding which copy wins needs a human
        # (or at least an inspection) — refuse to plow ahead and risk deleting
        # the only good copy.
        raise RuntimeError(
            f"stale {bak} exists: a prior compaction crashed mid-swap; "
            f"inspect and restore/delete it before compacting again"
        )

    files = describe_files(spark, path)
    total = sum(b for _, b in files)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(path)
    n_rows = df.count()

    tmp = path.rstrip("/") + ".compact.tmp"
    # round-robin repartition (not coalesce): coalesce glues whole input files
    # together and inherits their skew; a shuffle costs one pass and yields
    # near-uniform output sizes
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)

    got = spark.read.parquet(tmp).count()
    if got != n_rows:
        raise RuntimeError(f"compaction row mismatch: {got} != {n_rows}")

    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.rename(hpath, bak):
        raise RuntimeError(f"compaction swap failed: rename {hpath} -> {bak}")
    if not fs.rename(htmp, hpath):
        # Put the original back so the table stays live; if even that fails,
        # say exactly where the data sits.
        if not fs.rename(bak, hpath):
            raise RuntimeError(
                f"compaction swap failed and rollback failed: data is at {bak}"
            )
        raise RuntimeError(
            f"compaction swap failed: rename {htmp} -> {hpath} (rolled back)"
        )
    if not fs.delete(bak, True):
        raise RuntimeError(f"compaction cleanup failed: delete {bak}")

    return {
        "n_files_before": len(files),
        "n_files_after": len(describe_files(spark, path)),
        "bytes_total": total,
        "n_rows": n_rows,
        "target_bytes": target_bytes,
    }
