"""spark-submit entry point for the production extraction job.

Launch (the north-rule deployment shape — identical on a real cluster,
only ``--master`` changes):

    zip -r /tmp/ocr_spark.zip ocr_spark
    spark-submit --master local[32] --driver-memory 64g \\
        --py-files /tmp/ocr_spark.zip \\
        ocr_spark/jobs/extract_job.py \\
        --input <pages parquet dir or sf_dir> --output <out_dir>

Memory note: heap must be sized on the spark-submit COMMAND LINE
(``--driver-memory`` in local mode, ``--executor-memory`` on a cluster) —
builder-level ``spark.driver.memory`` is ignored once the launcher has
started the JVM. The 1g local default OOMs around 10^6 pages of ~10 KB
html blobs across 32 concurrent tasks; ~2 GB/core holds comfortably.

Reads a pages table (or synthesizes one from a testdata sf dir when
``--input`` points at one), runs the fused extraction, writes the
salt-partitioned output with lineage. A rerun skips the dates whose
lineage is committed; ``--no-resume`` re-extracts every date. Prints one JSON line (``rows_out``, ``dates_processed``, ...).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from ocr_spark.session import get_spark

    # under spark-submit the master comes from the launcher's --master
    spark = get_spark("ocr_spark.extract")
    from ocr_spark.sinks.partitioned import extract_and_write
    from ocr_spark.sources.pages import pages_from_documents

    if os.path.exists(os.path.join(args.input, "documents.parquet")):
        pages = pages_from_documents(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.monotonic()
    result = extract_and_write(
        spark, pages, args.output, resume=not args.no_resume
    )
    wall = time.monotonic() - t0
    n = spark.read.parquet(f"{args.output}/data").count()
    print(
        json.dumps(
            {
                "job": "extract",
                "rows_out": n,
                "wall_sec": round(wall, 3),
                "dates_processed": [str(d) for d in result["dates_processed"]],
                "dates_skipped": [str(d) for d in result["dates_skipped"]],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
