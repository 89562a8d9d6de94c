#!/usr/bin/env python
"""spark-submit entry point for the distributed pruned scan.

Cluster usage (mirrors scripts/run_encode.py):

    cd /root/repo && zip -r /tmp/fps.zip fastparquet_spark
    spark-submit --py-files /tmp/fps.zip scripts/run_scan.py \
        --input /data/encoded \
        --filters '[["doc_id", ">=", 1000], ["doc_id", "<", 2000]]' \
        --columns doc_id,lang --output /data/scan_out

Runs engine.paged_read: driver-side stats + bloom row-group pruning
(concurrent metadata fetches only), executor-side ColumnIndex page
skipping and the exact residual filter.  ``--filters`` is JSON — a flat
AND-list ``[[col, op, val], ...]`` or OR-of-ANDs ``[[[...]], [[...]]]``.
With ``--output`` the result is written as parquet; without it the row
count and a sample are printed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--filters", required=True,
                   help="JSON AND-list or OR-of-ANDs of [col, op, val]")
    p.add_argument("--columns", default=None,
                   help="comma-separated projection")
    p.add_argument("--output", default=None,
                   help="write result here as parquet (else print count)")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[k] when no master is configured")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from fastparquet_spark.engine import paged_read

    b = SparkSession.builder.appName("fps-scan") \
        .config("spark.sql.adaptive.enabled", "true")
    if args.cpus:
        b = b.master(f"local[{args.cpus}]")
    spark = b.getOrCreate()

    columns = args.columns.split(",") if args.columns else None

    df = paged_read(spark, args.input, json.loads(args.filters),
                    columns=columns)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"rows": n, "output": args.output}))
    else:
        n = df.count()
        sample = [r.asDict() for r in df.limit(5).collect()]
        print(json.dumps({"rows": n, "sample": sample}, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
