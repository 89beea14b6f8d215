"""The engine's URL-seen sketch end-to-end: the DELETABLE cuckoo filter
(north_rule's "bloom-filter + cuckoo-verified URL-seen set").

* parity: the crawl is byte-identical to the sequential
  reference-semantics simulator while starting from a deliberately tiny
  sketch table, so the same run covers the engine's data-sized rebuild
  (no stash, no false negatives afterwards);
* purge: ``CrawlEngine.purge_seen`` (the reference's liveness delete,
  ``database.py:125-129,27-37``) removes fingerprints from the sketch
  IN PLACE — no rebuild — and a second run over the same seeds
  re-crawls exactly the purged URLs while un-purged seen URLs still
  dup-skip.
"""

from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
    build_cuckoo,
    n_buckets_for,
)
from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import CrawlEngine


TINY_BUCKETS = 16  # 64 slots: the tiny tier's seen set outgrows it


@pytest.fixture(scope="module")
def cuckoo_run(spark, fix_tiny):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CrawlEngine, "_CUCKOO_BUCKETS", TINY_BUCKETS)
        eng = CrawlEngine(spark, fix_tiny, hour=7, track_order=True)
        assert eng.cuckoo.n_buckets == TINY_BUCKETS
        summary = eng.run(max_waves=60)
    return eng, summary


def test_cuckoo_crawl_matches_simulator(cuckoo_run, sim_tiny):
    eng, _ = cuckoo_run
    sim_per, eng_per = defaultdict(list), defaultdict(list)
    for seed_id, _seq, url, kind in sim_tiny.fetch_order:
        sim_per[seed_id].append((url, kind))
    for seed_id, _fifo, url, kind in eng.fetch_order():
        eng_per[seed_id].append((url, kind))
    assert set(sim_per) == set(eng_per)
    for seed_id in sim_per:
        assert eng_per[seed_id] == sim_per[seed_id], seed_id
    assert {r.url for r in eng.seen.select("url").collect()} == sim_tiny.seen
    assert set(eng.logs["dup_skips"]) == set(sim_tiny.dup_skips)
    # the sketch grew past the tiny table to the data's size, with
    # nothing spilled to the stash, and holds every seen URL (no false
    # negatives)
    seen_urls = sorted(sim_tiny.seen)
    assert eng.cuckoo.n_buckets >= n_buckets_for(len(seen_urls)) > TINY_BUCKETS
    assert eng.cuckoo.stash == []
    assert eng.cuckoo.contains_series(pd.Series(seen_urls)).all()


def test_purge_then_second_run_recrawls(cuckoo_run, spark, fix_tiny):
    eng, _ = cuckoo_run
    from collections import Counter
    row_counts = Counter(r.url for r in eng.seen.select("url").collect())
    seen_urls = sorted(row_counts)
    assert len(seen_urls) >= 6, "fixture too small for a purge split"
    purged, kept = seen_urls[::2], seen_urls[1::2]

    dead = spark.createDataFrame([(u,) for u in purged], "url string")
    n_deleted = eng.purge_seen(dead)
    # in-place sketch delete: one fingerprint per purged URL, no rebuild
    assert n_deleted == len(purged)
    assert not set(r.url for r in eng.seen.select("url").collect()) & set(purged)
    # kept URLs keep sketch membership; purged single-insert URLs drop.
    # (A URL with >1 seen row may have been inserted in two waves — its
    # second advisory copy survives by design, multiset semantics; the
    # exact seen table above is the truth.)
    assert eng.cuckoo.contains_series(pd.Series(kept)).all()
    single = [u for u in purged if row_counts[u] == 1]
    assert not eng.cuckoo.contains_series(pd.Series(single)).any()
    assert len(single) >= 0.95 * len(purged), "multi-insert should be rare"

    # second run (the reference's twice-daily cadence): same seeds, seen
    # inherited from run 1 with the prior-run fifo convention (-1).  Run
    # it TWICE — once against the purged state, once against an unpurged
    # CONTROL — so the assertion is causal: purging changes the fetch set
    # by exactly the re-crawled purged URLs.  (Some portals fetch item
    # pages dup-check-exempt and drop dups at the item pipeline — the
    # reference's semantics — so "kept is never fetched" would be wrong.)
    def second_run(seen_df, sketch):
        e = CrawlEngine(spark, fix_tiny, hour=17, track_order=True)
        e.seen = seen_df.select(
            "url", "seed_id", F.lit(-1).cast("long").alias("fifo_seq")
        ).localCheckpoint(eager=True)
        e.cuckoo = sketch
        e.run(max_waves=60)
        fetched = {url for _s, _f, url, _k in e.fetch_order()}
        dups = {url for _s, url in e.logs["dup_skips"]}
        return fetched, dups

    # control = pre-purge membership, rebuilt from the original URL set
    # (seed_id is irrelevant for prior-run rows: fifo_seq=-1 satisfies
    # the dup rule's position disjunct for every candidate)
    control_seen = spark.createDataFrame(
        [(u, "s") for u in seen_urls], "url string, seed_id string"
    ).withColumn("fifo_seq", F.lit(-1).cast("long"))
    control_sketch = build_cuckoo(
        control_seen.select("url"),
        n_buckets=eng.cuckoo.n_buckets, slots=eng.cuckoo.slots)

    fetched_c, dup_c = second_run(control_seen, control_sketch)
    fetched_p, dup_p = second_run(eng.seen, eng.cuckoo)

    gained = fetched_p - fetched_c
    # the purge causes re-crawls, all of them purged URLs, and at least
    # one URL flips from dup-skipped (control) to fetched (purged run)
    assert gained and gained <= set(purged), sorted(gained - set(purged))[:5]
    assert set(purged) & dup_c & fetched_p, "no dup->fetch flip observed"
    # kept URLs behave identically with and without the purge
    assert set(kept) & fetched_p == set(kept) & fetched_c
    assert set(kept) & dup_p == set(kept) & dup_c
