#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north rule: deployed
with ``spark-submit --py-files`` on multi-executor clusters).

Usage:
    python tools/package.py                     # → dist/pdf_ocr_spark.zip
    spark-submit --master <cluster-or-local[N]> \\
        --py-files dist/pdf_ocr_spark.zip \\
        jobs/extract_submit.py \\
        --input  /path/to/pages \\
        --output /path/to/docs_table \\
        [--input-format parquet|warc|jsonl] \\
        [--snapshot-log | --sidecar /path/to/lineage_parquet] \\
        [--partitions 512] [--buckets 64] [--split-giants]
    spark-submit ... jobs/extract_submit.py --output /path/to/docs_table \\
        --compact                               # fold snapshot-log runs

The plain parquet table (lineage to --sidecar) and the --snapshot-log
table run through the same checkpointed driver: rerunning with the same
--output anti-joins the committed urls and processes only the
remainder.  On a cluster, export SPARK_GRAFT_OCR_URL via --conf
spark.executorEnv to swap the OCR stub for the remote VLM engine.
"""

from __future__ import annotations

import argparse
import functools
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="pages parquet (required unless --compact)")
    ap.add_argument("--input-format", choices=("parquet", "warc", "jsonl"),
                    default="parquet",
                    help="'warc' ingests raw *.warc/*.warc.gz/*.wet.gz "
                         "segments straight into the pipeline")
    ap.add_argument("--output", required=True)
    ap.add_argument("--sidecar", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=None,
                    help="Iceberg-style bucket(url) output partitioning")
    ap.add_argument("--split-giants", action="store_true",
                    help="page-range-split documents larger than --giant-bytes")
    ap.add_argument("--giant-bytes", type=int, default=4 << 20)
    ap.add_argument("--snapshot-log", action="store_true",
                    help="Iceberg-style snapshot-log table: atomic manifest "
                         "commits + snapshot-isolation resume (crash-safe)")
    ap.add_argument("--compact", action="store_true",
                    help="instead of extracting, fold the snapshot table's "
                         "committed runs into one compacted run (small-files "
                         "maintenance; implies --snapshot-log layout)")
    args = ap.parse_args()
    if not args.compact and not args.input:
        ap.error("--input is required unless --compact")

    # under spark-submit the session comes preconfigured by the cluster;
    # getOrCreate attaches to it (local runs fall back to the defaults)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf-ocr-spark-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.monotonic()
    if args.compact:
        from pdf_ocr_spark.pipeline.snapshot_log import compact_table

        n = compact_table(spark, args.output,
                          target_partitions=args.partitions or 32)
    else:
        from pdf_ocr_spark.pipeline.extract_job import run_extraction
        from pdf_ocr_spark.pipeline.snapshot_log import run_extraction_snapshot

        run = (
            run_extraction_snapshot
            if args.snapshot_log
            else functools.partial(run_extraction, sidecar_path=args.sidecar)
        )
        n = run(
            spark,
            args.input,
            args.output,
            num_partitions=args.partitions,
            partition_buckets=args.buckets,
            split_giants=args.split_giants,
            giant_bytes=args.giant_bytes,
            input_format=args.input_format,
        )

    print(
        json.dumps(
            {
                # appended THIS run (0 on a fully-resumed rerun) — counting
                # the whole output table would full-scan it every run
                "docs_appended": n,
                "wall_sec": round(time.monotonic() - t0, 2),
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
