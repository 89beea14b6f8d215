"""spark-submit entrypoint for the adaptive RECRAWL loop.

The reference re-crawls on a fixed cron cadence — two full runs per day
(``/root/reference/scheduler.txt:1-2``).  At 10^10 URLs a flat cadence
wastes the fetch budget on static pages; this job closes the adaptive
loop instead (Cho & Garcia-Molina 2003, ``operators/recrawl.py``):

1. capture-history stats ``(url, n_obs, n_changes, span_s, age_s[,
   last_digest])`` → ``recrawl_schedule``: bias-corrected change-rate
   MLE → clamped refresh interval → staleness priority;
2. DUE rows (priority ≥ 1) become frontier pending rows, one seed per
   netloc, drained over politeness-bounded refresh WAVES via
   ``operators/politeness.py:tag_batch`` — the crawl engine's own wave
   selector in its priority mode (``order_cols=["_prio", "fifo_seq"]``,
   per-netloc token bucket intact), so a fast-changing page (higher
   staleness ratio) is re-fetched in an EARLIER wave than a
   slowly-changing one on the same host;
3. each wave fetch-joins the selected batch against the pages store
   (the engine's S3 broadcast-join shape), digests the body, and flags
   ``changed`` vs the stats' ``last_digest``;
4. outputs: ``captures/`` (url, wave, digest, changed) and
   ``stats_next/`` — the SAME stats shape with n_obs+1 / n_changes
   incremented / span extended / age reset for re-fetched rows — i.e.
   the input of the next recrawl cycle.  The loop is closed.

Scale shape: schedule + due-filter are expression-only; the wave
selector is the engine's windowed token bucket (shuffle by netloc, the
politeness key); the fetch join broadcasts the wave batch.  No Python
rows, no driver-side URL lists.

usage:
    spark-submit --py-files spark_graft_pkg.zip jobs/recrawl_job.py \
        --stats stats.parquet --pages-dir fixtures/sf0.01 \
        --out /tmp/recrawl [--max-waves 8] [--iter-seconds 50]
"""

import argparse
import json
import os


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--stats", required=True,
                    help="parquet: url, n_obs, n_changes, span_s, age_s"
                         " [, last_digest]")
    ap.add_argument("--pages-dir", required=True,
                    help="dir with pages.parquet (url, html|text)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-waves", type=int, default=8)
    ap.add_argument("--iter-seconds", type=float, default=50.0,
                    help="wall seconds per wave (tokens = wall/delay)")
    ap.add_argument("--min-interval", type=float, default=3600.0)
    ap.add_argument("--max-interval", type=float, default=30 * 86400.0)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        tag_batch,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators.recrawl import (
        recrawl_schedule,
    )

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("spark-crawl-recrawl").getOrCreate()

    stats = spark.read.parquet(args.stats)
    has_digest = "last_digest" in stats.columns
    pages = spark.read.parquet(os.path.join(args.pages_dir, "pages.parquet"))
    body_col = "html" if "html" in pages.columns else "text"

    sched = recrawl_schedule(
        stats, min_interval_s=args.min_interval,
        max_interval_s=args.max_interval)
    due = sched.where("due").select("url", "priority")

    netloc = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    # frontier pending rows (the engine's PENDING shape): one seed per
    # netloc; fifo_seq by DESCENDING staleness priority = the engine's
    # priority drain (tie-break url for determinism)
    pending = due.select(
        netloc.alias("seed_id"),
        F.row_number().over(
            Window.partitionBy(netloc).orderBy(F.desc("priority"), "url")
        ).cast("long").alias("fifo_seq"),
        "url",
        F.lit("detail").alias("kind"),
        netloc.alias("netloc"),
        F.lit("{}").alias("meta"),
        F.lit(0).alias("not_before"),
        F.lit(0).alias("depth"),
        (-F.col("priority")).alias("_prio"),
    ).localCheckpoint(eager=True)

    hosts = pending.select("seed_id").distinct()
    state = hosts.select(
        "seed_id", F.lit(0).alias("scraped"),
        F.lit(1 << 30).alias("budget"),
        F.lit(False).alias("spider_stop"), F.lit(False).alias("stopped"))
    robots_path = os.path.join(args.pages_dir, "robots.parquet")
    if os.path.exists(robots_path):
        robots = spark.read.parquet(robots_path).select(
            "netloc", "crawl_delay_s", "max_concurrent",
            "disallow_prefixes")
    else:
        robots = hosts.select(
            F.col("seed_id").alias("netloc"),
            F.lit(10.0).alias("crawl_delay_s"),
            F.lit(1).alias("max_concurrent"),
            F.array().cast("array<string>").alias("disallow_prefixes"))

    wave_counts = []
    all_captures = None
    for iter_no in range(args.max_waves):
        tagged = tag_batch(
            pending, state, robots, iter_no,
            iter_seconds=args.iter_seconds,
            order_cols=["_prio", "fifo_seq"],
        ).localCheckpoint(eager=True)
        batch = tagged.where("sel")
        # one capture per url even when pages holds a url twice: duplicate
        # rows would fan out the captures and the stats join below
        fetched = pages.join(
            F.broadcast(batch.select("url")), "url", "inner"
        ).groupBy("url").agg(
            F.min(F.md5(F.col(body_col))).alias("digest")
        ).select("url", F.lit(iter_no).alias("wave"), "digest")
        all_captures = (fetched if all_captures is None
                        else all_captures.unionByName(fetched))
        n = batch.count()
        wave_counts.append(n)
        pending = tagged.where(~F.col("sel")).drop("sel")
        if n == 0:
            break
    captures = (all_captures or spark.createDataFrame(
        [], "url string, wave int, digest string")).localCheckpoint(
        eager=True)

    # close the loop: next cycle's stats — n_obs+1, n_changes+changed,
    # span extended by the elapsed age, age reset, digest refreshed
    joined = stats.alias("s").join(
        captures.alias("c"), "url", "left")
    changed = (
        (F.col("c.digest").isNotNull())
        & (F.col("s.last_digest").isNotNull())
        & (F.col("c.digest") != F.col("s.last_digest"))
    ) if has_digest else F.lit(False)
    refetched = F.col("c.digest").isNotNull()
    stats_next = joined.select(
        "url",
        F.when(refetched, F.col("n_obs") + 1)
        .otherwise(F.col("n_obs")).alias("n_obs"),
        F.when(changed, F.col("n_changes") + 1)
        .otherwise(F.col("n_changes")).alias("n_changes"),
        F.when(refetched, F.col("span_s") + F.col("age_s"))
        .otherwise(F.col("span_s")).alias("span_s"),
        F.when(refetched, F.lit(0.0)).otherwise(F.col("age_s"))
        .alias("age_s"),
        *([F.coalesce("c.digest", "s.last_digest").alias("last_digest")]
          if has_digest else []),
    )

    captures_out = captures.join(
        stats.select("url", *(["last_digest"] if has_digest else [])),
        "url", "left")
    if has_digest:
        captures_out = captures_out.withColumn(
            "changed",
            F.col("last_digest").isNotNull()
            & (F.col("digest") != F.col("last_digest"))).drop("last_digest")
    else:
        captures_out = captures_out.withColumn("changed", F.lit(None)
                                               .cast("boolean"))
    captures_out.write.mode("overwrite").parquet(
        os.path.join(args.out, "captures"))
    stats_next.write.mode("overwrite").parquet(
        os.path.join(args.out, "stats_next"))
    print(json.dumps({
        "due": due.count(),
        "fetched": sum(wave_counts),
        "waves": len([c for c in wave_counts if c > 0]),
        "wave_counts": wave_counts,
    }))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
