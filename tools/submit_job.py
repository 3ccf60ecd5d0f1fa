"""spark-submit entrypoint for the engine (north rule: jobs launched via
``spark-submit --py-files``).

Package the library and run any registered query against a table directory:

    python -m zipfile -c /tmp/gcs.zip gstools_core_spark
    spark-submit --py-files /tmp/gcs.zip tools/submit_job.py \
        --query variogram_unstructured --sf-dir /root/testdata/sf0.01 \
        --out /tmp/variogram_out

Writes the result as parquet and prints row count + wall time as JSON.

This path builds its own session, not ``session.get_session``, so its
Python workers keep pyspark's stock daemon rather than
``gstools_core_spark.worker_daemon``: the ``--py-files`` zip is fetched
into each task's working directory and is not importable yet when the
daemon process launches, so a daemon module inside the package could not
start.  Tasks on this path still pay the per-task ``pyspark.zip``
directory re-read that module avoids.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True, help="name from the query registry")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="parquet output dir (optional)")
    ap.add_argument("--checkpoint-dir", default=None, help="enable resumable run")
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"gcs-{args.query}").getOrCreate()

    from gstools_core_spark.queries import registry

    fn, _sql = registry()[args.query]
    t0 = time.time()
    df = fn(spark, args.sf_dir)

    if args.checkpoint_dir:
        from gstools_core_spark.operators.checkpoint import CheckpointedRun

        key = df.columns[0]
        run = CheckpointedRun(args.checkpoint_dir, n_buckets=args.buckets)
        stats = run.run(df, lambda d: d, key_col=key)
        n = run.read_output(spark).count()
        extra = stats
    elif args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        extra = {}
    else:
        n = df.count()
        extra = {}

    print(json.dumps({"query": args.query, "rows": n, "sec": round(time.time() - t0, 3), **extra}))
    spark.stop()


if __name__ == "__main__":
    main()
