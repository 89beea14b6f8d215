"""spark-submit entrypoint for the crawl engine (north_rule: "the whole job
ships via spark-submit --py-files").

    spark-submit --master local[8] \
        --py-files /path/to/spark_graft_pkg.zip \
        jobs/crawl_job.py --fixture-tier tiny --out /tmp/crawl_out

The package zip is built by tools/submit.sh.  The job drains the frontier
for the given fixture tier and writes ``listings``, ``seen``, and
``metrics`` parquet tables plus a JSON run summary under ``--out``.
Unlike test/bench code this creates the session WITHOUT a master override,
so the cluster manager chosen on the spark-submit command line (YARN, k8s,
standalone, local[N]) is in charge.
"""

import argparse
import json
import os
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture-tier", default="tiny",
                    help="synthetic web tier (tiny/sf0.001/sf0.01/sf0.1)")
    ap.add_argument("--fixture-dir", default=None,
                    help="pre-generated fixture dir (overrides --fixture-tier)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--hour", type=int, default=7)
    ap.add_argument("--max-waves", type=int, default=100)
    ap.add_argument("--checkpoint-every", type=int, default=0)
    ap.add_argument("--resume-from", default=None,
                    help="checkpoint dir from a previous run")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("spark-crawl-engine")
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", args.shuffle_partitions)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = b.getOrCreate()
    if not args.shuffle_partitions:
        # default 200 is wrong at both ends: size to the actual cluster
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            spark.sparkContext.defaultParallelism,
        )

    from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import CrawlEngine
    from scrapy_crawler_german_real_estate_sites_spark.sources import tables
    from scrapy_crawler_german_real_estate_sites_spark.sources.synth import generate

    tables.ensure_udf_imports(spark)
    fix = args.fixture_dir or generate(
        args.fixture_tier, os.path.join(args.out, "fixture")
    )
    eng = CrawlEngine(
        spark, fix, workdir=args.out, hour=args.hour,
        checkpoint_every=args.checkpoint_every, track_order=False,
    )
    if args.resume_from:
        eng.resume_from(args.resume_from)
    summary = eng.run(max_waves=args.max_waves)

    os.makedirs(args.out, exist_ok=True)
    # sinks go through the table-format switch: parquet paths by default,
    # Iceberg snapshot tables when SPARK_GRAFT_TABLE_FORMAT=iceberg
    tables.write_state(eng.items_df(), os.path.join(args.out, "listings"))
    tables.write_state(eng.seen, os.path.join(args.out, "seen"))
    tables.write_state(
        spark.createDataFrame(
            [(m["iteration"], json.dumps(m)) for m in eng.metrics],
            "iteration int, metrics_json string",
        ),
        os.path.join(args.out, "metrics"),
    )
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
