"""Cluster job entrypoint — the spark-submit deployment shape of the pipeline.

    python scripts/package_pyfiles.py   # builds dist/openfactverification_spark.zip
    spark-submit --py-files dist/openfactverification_spark.zip scripts/job.py \
        --out s3://bucket/sinks --n-turns 1000000000 [--resume] [--skew-pct 2]

On a cluster, pass the real master via spark-submit (--master yarn / k8s://...);
the SparkSession here builds with no master override so spark-submit's choice
wins. Input defaults to the deterministic synthetic transcripts generator; swap
`--input-parquet` (or an Iceberg table name in production) to read real data.
"""

from __future__ import annotations

import argparse
import os
import sys

# Plain `python scripts/job.py` runs get the package from the repo checkout;
# spark-submit --py-files runs get it from the shipped zip (this is a no-op).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="sink output directory")
    ap.add_argument("--n-turns", type=int, default=1_000_000)
    ap.add_argument("--input-parquet", default=None, help="read transcripts from parquet")
    ap.add_argument("--skew-pct", type=int, default=0)
    ap.add_argument(
        "--resume",
        action="store_true",
        help="checkpointed resumable run: one SnapLog commit per day epoch",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="structured-streaming mode: one SnapLog commit per micro-batch",
    )
    ap.add_argument(
        "--ingest-dedup",
        action="store_true",
        help="streaming ingest dedup: judge each micro-batch of documents "
        "(--input-parquet dir, columns doc_id/text) against the SnapLog "
        "signature store and append statuses + accepted signatures",
    )
    ap.add_argument(
        "--store", default=None, help="signature-store dir for --ingest-dedup"
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from openfactverification_spark.session import ENGINE_CONF

    # spark-submit supplies master/deploy-mode; only the engine configs here.
    spark = SparkSession.builder.appName("ofv-pipeline").config(map=ENGINE_CONF).getOrCreate()

    from openfactverification_spark import checkpoint as ckpt
    from openfactverification_spark.plans.pipeline import run_to_sinks
    from openfactverification_spark.sources.transcripts import transcripts_df

    if args.ingest_dedup:
        if not args.input_parquet:
            ap.error("--ingest-dedup requires --input-parquet (documents dir)")
        from openfactverification_spark.streaming.ingest_dedup import (
            run_ingest_dedup_stream,
        )

        schema = spark.read.parquet(args.input_parquet).schema
        stream = spark.readStream.schema(schema).parquet(args.input_parquet)
        q = run_ingest_dedup_stream(
            spark,
            stream,
            args.store or f"{args.out}/store",
            args.out,
            f"{args.out}/_ingest_ckpt",
        )
        q.awaitTermination()
        spark.stop()
        return

    if args.streaming:
        from openfactverification_spark.streaming.pipeline import (
            run_to_sinks_stream,
            transcripts_stream,
        )

        if args.input_parquet:
            schema = spark.read.parquet(args.input_parquet).schema
            stream = spark.readStream.schema(schema).parquet(args.input_parquet)
        else:
            stream = transcripts_stream(spark)
        q = run_to_sinks_stream(
            spark, stream, args.out, f"{args.out}/_stream_ckpt",
            available_now=bool(args.input_parquet),  # rate source runs until killed
        )
        q.awaitTermination()
        spark.stop()
        return

    lineage = ""
    if args.input_parquet:
        from openfactverification_spark.sources import catalog, snaplog

        if snaplog.is_snaplog_table(spark, args.input_parquet):
            # versioned input: read the committed head, carry its snapshot id
            transcripts = snaplog.read(spark, args.input_parquet)
            lineage = catalog.current_lineage(spark, args.input_parquet)
        else:
            transcripts = spark.read.parquet(args.input_parquet)
    else:
        transcripts = transcripts_df(spark, args.n_turns, skew_pct=args.skew_pct)

    if args.resume:
        results = ckpt.run_resumable(spark, transcripts, args.out, lineage=lineage)
        for r in results:
            print(f"epoch {r.epoch}: {r.parsed_records} records {r.routed_per_sink}")
    else:
        result = run_to_sinks(spark, transcripts, args.out)
        for row in result.summary.collect():
            print(row)

    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
