"""The correctness gate (BASELINE.json:input_hint / north_rule):

* byte-identical extracted item text per url,
* identical per-seed crawl (fetch) ordering,
* identical final URL-seen membership, docs, alerts and dup-skips

between the Spark engine (parallel waves) and the offline sequential
reference-semantics simulator, under the same seed list + politeness
budget."""

import json
from collections import defaultdict

import pandas as pd
import pytest

from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import CrawlEngine
from scrapy_crawler_german_real_estate_sites_spark.plans.simulator import (
    canonical_item_text,
)


@pytest.fixture(scope="module")
def engine_run(spark, fix_small):
    eng = CrawlEngine(spark, fix_small, hour=7, track_order=True)
    summary = eng.run(max_waves=60)
    return eng, summary


def _sim_per_seed_fetch(sim):
    per = defaultdict(list)
    for seed_id, _seq, url, kind in sim.fetch_order:
        per[seed_id].append((url, kind))
    return per


def _eng_per_seed_fetch(eng):
    per = defaultdict(list)
    for seed_id, _fifo, url, kind in eng.fetch_order():
        per[seed_id].append((url, kind))
    return per


def test_fetch_order_identical(engine_run, sim_small):
    eng, _ = engine_run
    sim_per = _sim_per_seed_fetch(sim_small)
    eng_per = _eng_per_seed_fetch(eng)
    assert set(sim_per) == set(eng_per)
    for seed_id in sim_per:
        assert eng_per[seed_id] == sim_per[seed_id], f"order diverges for {seed_id}"


def test_items_byte_identical(engine_run, sim_small):
    eng, _ = engine_run
    sim_items = defaultdict(list)
    for seed_id, url, item, _kind in sim_small.items:
        sim_items[seed_id].append((url, canonical_item_text(item)))
    rows = (
        eng.items_df()
        .orderBy("seed_id", "fifo_seq", "item_idx")
        .select("seed_id", "url", "item_json")
        .collect()
    )
    eng_items = defaultdict(list)
    for r in rows:
        eng_items[r.seed_id].append((r.url, r.item_json))
    assert set(sim_items) == set(eng_items)
    for seed_id in sim_items:
        assert eng_items[seed_id] == sim_items[seed_id], seed_id


def test_seen_membership_identical(engine_run, sim_small):
    eng, _ = engine_run
    eng_seen = {r.url for r in eng.seen.select("url").collect()}
    assert eng_seen == sim_small.seen
    # the URL-seen sketch has no false negatives
    seen_urls = pd.Series(sorted(sim_small.seen))
    assert eng.cuckoo.contains_series(seen_urls).all()


def test_docs_alerts_dups_identical(engine_run, sim_small):
    eng, _ = engine_run
    sim_docs = sorted(
        json.dumps(d, sort_keys=True, ensure_ascii=False, default=str)
        for d in sim_small.docs
    )
    eng_docs = sorted(
        r.doc_json
        for r in eng.items_df().where("doc_json is not null").collect()
    )
    assert eng_docs == sim_docs
    eng_alerts = sorted(
        r.alert for r in eng.items_df().where("alert is not null").collect()
    )
    assert eng_alerts == sorted(sim_small.alerts)
    assert set(eng.logs["dup_skips"]) == set(sim_small.dup_skips)


def test_politeness_budget_preserves_order(spark, fix_tiny, sim_tiny):
    """Throttled waves (small per-netloc token buckets) must not change the
    per-seed fetch order or the outputs — only how many waves it takes."""
    eng = CrawlEngine(spark, fix_tiny, hour=7, iter_seconds=10.0, track_order=True,
                      token_scale=25.0)  # 25 pages/netloc/wave
    eng.run(max_waves=400)
    sim_per = _sim_per_seed_fetch(sim_tiny)
    eng_per = _eng_per_seed_fetch(eng)
    for seed_id in sim_per:
        assert eng_per[seed_id] == sim_per[seed_id]
    # politeness actually throttled: every wave obeyed the per-netloc cap
    n_netlocs = len({
        u.split("//")[1].split("/")[0]
        for per in sim_per.values()
        for u, _ in per
    })
    for m in eng.metrics:
        assert m["selected"] <= 25 * max(n_netlocs, 1)
