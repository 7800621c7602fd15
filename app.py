#!/usr/bin/env python
"""spark-submit entrypoint for the streaming CEP pipeline.

Usage (multi-executor cluster):

  zip -r app.zip spamscope_spark/
  spark-submit --py-files app.zip \\
      --conf spark.sql.shuffle.partitions=2000 \\
      app.py --input s3://bucket/turns --work-dir s3://bucket/spamscope \\
             --gap-s 1800 --watermark "4 hours" [--continuous]

Runs the three queries (enriched turns / sessions / tool pairs) with
checkpoints under {work-dir}/checkpoints — kill it and resubmit, it
resumes from offsets + state. Default trigger is availableNow (drain
the backlog and exit); --continuous keeps it running on a 30s trigger.

--conf spark.sql.shuffle.partitions sets each checkpoint's state
partition count for its whole life: the first run records it in the
offset log and every resubmit reuses it, whatever the --conf says then.
Pick it per deployment when a checkpoint first starts (Spark's default
is 200).

The reference's equivalent is `spamscope-topology submit`
(src/cli/spamscope_topology.py:32-142).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="turns table path (parquet dir) or Iceberg table name")
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--work-dir", required=True, help="checkpoints + outputs root")
    ap.add_argument("--gap-s", type=int, default=1800)
    ap.add_argument("--watermark", default="4 hours")
    ap.add_argument("--band-s", type=int, default=600)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--continuous", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("spamscope-spark").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from spamscope_spark.streaming.metrics import MetricsListener
    from spamscope_spark.streaming.pipeline import (
        PipelineConfig,
        start_enriched_query,
        start_join_query,
        start_session_query,
    )

    cfg = PipelineConfig(
        input_path=args.input,
        work_dir=args.work_dir,
        input_format=args.input_format,
        gap_s=args.gap_s,
        watermark=args.watermark,
        band_s=args.band_s,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    listener = MetricsListener()
    spark.streams.addListener(listener)

    available_now = not args.continuous
    if args.continuous:
        # Storm-topology dataflow: one enrichment pass feeds downstream
        # stages — sessions stream FROM the enriched sink's epochs as
        # they land (cascade). In drain mode (availableNow) the stages
        # run independently instead, since a drained enriched query may
        # finish after sessions already listed its input files.
        session_cfg = PipelineConfig(
            input_path=args.input,
            work_dir=args.work_dir,
            input_format=args.input_format,
            gap_s=args.gap_s,
            watermark=args.watermark,
            band_s=args.band_s,
            max_files_per_trigger=args.max_files_per_trigger,
            enriched_source=cfg.output("enriched"),
        )
    else:
        session_cfg = cfg
    queries = [
        start_enriched_query(spark, cfg, available_now=available_now)[0],
        start_session_query(spark, session_cfg, available_now=available_now)[0],
        start_join_query(spark, cfg, available_now=available_now)[0],
    ]
    for q in queries:
        q.awaitTermination()
    json.dump(listener.summary(), sys.stdout, indent=2)
    print()


if __name__ == "__main__":
    main()
