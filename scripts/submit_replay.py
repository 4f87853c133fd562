#!/usr/bin/env python
"""spark-submit entrypoint for the CDC engine (north-star deployment shape).

Cluster launch:

    zip -r ams.zip airbyte_module_spark
    spark-submit --master <cluster> --py-files ams.zip \\
        scripts/submit_replay.py --feed s3://bucket/feed \\
        --table s3://bucket/tables/repo_files --checkpoint s3://bucket/ck \\
        [--tail --processing-time '5 seconds'] [--max-files-per-trigger 1000]

Local smoke (this sandbox):

    python scripts/submit_replay.py --feed /tmp/feed --table /tmp/t \\
        --checkpoint /tmp/ck

The driver config mirrors airbyte_module_spark.session.get_spark: AQE +
skew-join on, Arrow on, shuffle partitions sized to the cluster. At 10^10
events set --shuffle-partitions to ~2-4x total executor cores and use a
bucket count (--n-buckets) that keeps per-bucket batch slices under the
executor memory budget (SURVEY.md section 4.2).
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--feed", required=True, help="change-feed directory (NDJSON envelope shards)")
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--tail", action="store_true", help="continuous tail instead of bounded replay")
    ap.add_argument("--processing-time", default="5 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    import os

    from airbyte_module_spark import Engine
    from airbyte_module_spark.session import get_spark

    # under spark-submit the master comes from the submit command and must
    # not be overridden; plain-python smoke runs fall back to local[*].
    # Detection: spark-submit launches this script through PythonRunner,
    # which exports the Py4J gateway env vars before python starts —
    # SparkConf() would NOT work here (before the JVM exists it is a plain
    # dict that never sees the --master system property).
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ or "SPARK_ENV_LOADED" in os.environ
    master = "__submitted__" if submitted else None
    spark = get_spark(
        app_name="ams-cdc-replay",
        master=master,
        shuffle_partitions=args.shuffle_partitions,
    )
    eng = Engine(spark, args.table, n_buckets=args.n_buckets)
    if args.tail:
        query = eng.tail(
            args.feed,
            args.checkpoint,
            processing_time=args.processing_time,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        query.awaitTermination()
    else:
        eng.replay(args.feed, checkpoint_dir=args.checkpoint)
        for line in eng.lineage()[-5:]:
            print(line, file=sys.stderr)
        print(f"final rows: {eng.read().count()}")


if __name__ == "__main__":
    main()
