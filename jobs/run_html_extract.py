#!/usr/bin/env python
"""HTML main-content extraction job entrypoint.

Launch (cluster):
  zip -r pkg.zip py_pdf_parser_spark
  spark-submit --py-files pkg.zip jobs/run_html_extract.py \\
      --input  <parquet-path of (doc_id, html) pages> \\
      --output <output-dir> [--what spans|text|features]

Local sandbox:
  python jobs/run_html_extract.py --cores 4 \\
      --input synthdata/html_sf0.01 --output /tmp/html_out

Batch analogue of streaming.stream with content_spans; the block pipeline is
pure Column expressions, so the job is a narrow map over the page scan
plus one doc_id aggregate — no Python workers at all.
"""

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--what",
        choices=["spans", "text", "features"],
        default="spans",
        help="spans: canonical (kind,text,media_ref,order) span rows; "
        "text: per-page main_text; features: per-block classifier table",
    )
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode only; under spark-submit the cluster "
                         "master is used as-is")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cores:
        from py_pdf_parser_spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="html-extract-job")
    else:
        spark = SparkSession.builder.appName("html-extract-job").getOrCreate()

    from py_pdf_parser_spark.textops import html as H

    pages = spark.read.parquet(args.input)
    out = {
        "spans": H.content_spans,
        "text": H.main_text,
        "features": H.block_features,
    }[args.what](pages)
    out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {spark.read.parquet(args.output).count()} rows")


if __name__ == "__main__":
    main()
