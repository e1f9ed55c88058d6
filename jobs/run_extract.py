#!/usr/bin/env python
"""Cluster job entrypoint.

Launch (cluster):
  zip -r pkg.zip py_pdf_parser_spark
  spark-submit --py-files pkg.zip jobs/run_extract.py \\
      --input  <parquet-path-or-uri> \\
      --output <output-dir> --buckets 4096 --waves 64

Local sandbox:
  python jobs/run_extract.py --input synthdata/mixed_flat_sf0.001 \\
      --output /tmp/extract_out --cores 4

The input is a parquet file or directory (hive partition directories are
read as Spark reads them).  Input and output are plain paths or
``file://``, ``s3://`` (also ``s3a://``/``s3n://``), ``gs://``,
``hdfs://`` or ``viewfs://`` URIs: the checkpoint lineage and the input
listing go through ``pyarrow.fs``, which resolves only these schemes.

The job is resume-safe: re-running with the same --output continues from
the checkpoint lineage (completed buckets are skipped; failed or missing
buckets are reprocessed idempotently via dynamic partition overwrite).
"""

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=4)
    ap.add_argument("--heavy-threshold", type=int, default=2048)
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode only; under spark-submit the cluster "
                         "master is used as-is")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cores:
        from py_pdf_parser_spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="extract-job")
    else:
        spark = SparkSession.builder.appName("extract-job").getOrCreate()

    from py_pdf_parser_spark.pipeline import run_job

    stats = run_job(
        spark,
        args.input,
        args.output,
        num_buckets=args.buckets,
        num_waves=args.waves,
        heavy_threshold=args.heavy_threshold,
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
