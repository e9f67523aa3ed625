#!/usr/bin/env python
"""spark-submit entry point for the parse -> enrich -> route -> aggregate
pipeline (the north rule's deployment shape).

Cluster:

    zip -r syslog_spark.zip syslog_spark
    spark-submit --py-files syslog_spark.zip \
        scripts/run_pipeline.py \
        --input iceberg:catalog.db.tokens --out s3://bucket/routed \
        [--resume] [--reference-year 2024] [--reference-tz-seconds 0]

Local smoke (no spark-submit):

    python scripts/run_pipeline.py --input /path/tokens --out /tmp/out \
        --master 'local[8]'

Under spark-submit an existing SparkSession/conf is respected
(getOrCreate); standalone runs build one via syslog_spark.build_session
(which also ships the package zip to executors — --py-files is the
cluster-native equivalent). Prints one JSON line with routed_rows,
error_rows, sinks, rows_per_sec, and per-stage seconds; per-sink
aggregates land in <out>/aggregates, lineage rows in <out>/metrics,
the resume manifest in <out>/manifest.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="token table: parquet dir or iceberg:<table>")
    ap.add_argument("--out", required=True, help="output root directory")
    ap.add_argument("--resume", action="store_true",
                    help="skip sinks already in <out>/manifest")
    ap.add_argument("--reference-year", type=int, default=None,
                    help="year injected into year-less nginx timestamps")
    ap.add_argument("--reference-tz-seconds", type=int, default=None,
                    help="tz offset injected into zone-less timestamps")
    ap.add_argument("--master", default=None,
                    help="standalone only; under spark-submit leave unset")
    ap.add_argument("--source-prefix", action="append", default=None,
                    metavar="PREFIX",
                    help="process only sources matching this LIKE-'p%%' "
                         "prefix (repeatable); prunes partitions at the "
                         "file list (direct) or scan (standard)")
    args = ap.parse_args()

    from syslog_spark import constants as C
    from syslog_spark.session import build_session
    from syslog_spark.plans.pipeline import PipelineConfig, run_pipeline

    spark = build_session(
        app_name="syslog_spark_pipeline", master=args.master
    )
    cfg = PipelineConfig(
        reference_year=(
            args.reference_year
            if args.reference_year is not None
            else C.DEFAULT_REFERENCE_YEAR
        ),
        reference_tz_offset=(
            args.reference_tz_seconds
            if args.reference_tz_seconds is not None
            else C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS
        ),
        resume=args.resume,
        source_prefixes=args.source_prefix,
    )
    res = run_pipeline(spark, args.input, args.out, cfg)
    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
