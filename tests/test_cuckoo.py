"""Cuckoo filter (operators/cuckoo.py): no false negatives, spec FP rate,
DELETION (the capability the bloom lacks), kick-chain behavior under
load, distributed build ≡ local build, and the Spark flag path."""

import numpy as np
import pandas as pd
import pytest

from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
    CuckooFilter,
    build_cuckoo,
    n_buckets_for,
    with_cuckoo_flag,
)


def _urls(n, tag="u"):
    return [f"https://host{i % 97}.example/{tag}/{i}" for i in range(n)]


def test_no_false_negatives_and_low_fp():
    cf = CuckooFilter(n_buckets=1 << 12)  # 16384 slots
    ins = _urls(8000)
    assert cf.insert_many(ins) == 8000
    assert cf.contains_series(pd.Series(ins)).all()
    # FP rate at ~49% load: spec bound 2·b/2^f = 8/65536 ≈ 0.012%
    probe = pd.Series(_urls(20000, tag="absent"))
    fp_rate = cf.contains_series(probe).mean()
    assert fp_rate < 0.005, fp_rate


def test_delete_removes_membership():
    cf = CuckooFilter(n_buckets=1 << 10)
    ins = _urls(1500)
    cf.insert_many(ins)
    dead = ins[::3]
    assert cf.delete_many(dead) == len(dead)
    alive = [u for u in ins if u not in set(dead)]
    # deletions never create false negatives for the survivors
    assert cf.contains_series(pd.Series(alive)).all()
    # deleted URLs drop out (tiny residual = other items' colliding
    # fingerprints, bounded by the FP rate)
    assert cf.contains_series(pd.Series(dead)).mean() < 0.01
    # load actually shrank
    assert abs(cf.load * cf.table.size - len(alive)) < 5


def test_delete_then_reinsert_roundtrip():
    cf = CuckooFilter(n_buckets=1 << 8)
    u = ["https://a.example/x", "https://b.example/y"]
    cf.insert_many(u)
    assert cf.delete_many(u) == 2
    assert cf.insert_many(u) == 2
    assert cf.contains_series(pd.Series(u)).all()


def test_kick_chain_sustains_high_load():
    # b=4, 16-bit fingerprints: the spec reports ~95% feasible load
    cf = CuckooFilter(n_buckets=1 << 8)  # 1024 slots
    n = int(1024 * 0.93)
    assert cf.insert_many(_urls(n)) == n
    assert cf.load == pytest.approx(n / 1024)


def test_duplicate_inserts_occupy_slots_and_delete_once_each():
    # spec semantics: duplicates store multiple copies (up to 2b), and
    # each delete removes exactly one copy
    cf = CuckooFilter(n_buckets=1 << 8)
    u = ["https://dup.example/page"] * 3
    assert cf.insert_many(u) == 3
    assert cf.delete_many(u[:1]) == 1
    assert cf.contains_series(pd.Series(u[:1])).all()  # 2 copies left


def test_distributed_build_matches_local(spark):
    urls = _urls(5000)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    dist = build_cuckoo(df.repartition(7), n_buckets=1 << 12)
    local = CuckooFilter(n_buckets=1 << 12)
    local.insert_many(urls)
    # same membership answers on present + absent probes (tables may
    # differ slot-wise: insertion order differs, membership must not)
    present = pd.Series(urls)
    absent = pd.Series(_urls(5000, tag="no"))
    assert dist.contains_series(present).all()
    assert (dist.contains_series(absent).to_numpy()
            == local.contains_series(absent).to_numpy()).mean() > 0.999
    # compact-entry merge really carried every fingerprint
    assert dist.load == local.load


def test_n_buckets_for_keeps_load_under_80pct():
    assert n_buckets_for(0) == 1 << 17
    for n in (10**5, 10**6, 3 * 10**6, 10**7):
        nb = n_buckets_for(n)
        assert nb & (nb - 1) == 0
        assert n < 0.8 * 4 * nb           # under 80% load
        assert nb == 1 << 17 or 0.8 * 4 * (nb // 2) <= n  # and smallest


def test_build_sizes_table_from_data(spark):
    urls = _urls(5000)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    cf = build_cuckoo(df.repartition(3))
    assert cf.n_buckets == n_buckets_for(5000)
    assert cf.n_entries == 5000 and cf.stash == []
    assert cf.contains_series(pd.Series(urls)).all()


def test_with_cuckoo_flag_spark_path(spark):
    urls = _urls(400)
    cf = CuckooFilter(n_buckets=1 << 10)
    cf.insert_many(urls[:200])
    df = spark.createDataFrame([(u,) for u in urls], "norm_url string")
    got = {r.norm_url: r.maybe_seen
           for r in with_cuckoo_flag(df, cf).collect()}
    assert all(got[u] for u in urls[:200])  # no false negatives
    fp = sum(got[u] for u in urls[200:])
    assert fp <= 2  # ≈0.012% spec rate on 200 probes


def test_serialization_roundtrip():
    cf = CuckooFilter(n_buckets=1 << 8)
    cf.insert_many(_urls(300))
    clone = CuckooFilter.from_bytes(cf.to_bytes(), 1 << 8)
    assert np.array_equal(clone.table, cf.table)
    assert clone.contains_series(pd.Series(_urls(300))).all()


def test_overflow_goes_to_stash_no_false_negatives():
    # Drive a tiny table past capacity: kick-chain exhaustion must park
    # the final victim in the stash, never silently drop membership.
    cf = CuckooFilter(n_buckets=1 << 4, slots=2, max_kicks=20)
    ins = _urls(40)  # 40 urls into 32 slots -> guaranteed overflow
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        landed = cf.insert_many(ins)
    assert landed < len(ins)          # table genuinely overflowed...
    assert len(cf.stash) >= len(ins) - landed - 1  # ...victims stashed
    assert cf.contains_series(pd.Series(ins)).all()  # ZERO false negatives

    # stash entries survive serialization and the Spark broadcast path
    clone = CuckooFilter.from_bytes(cf.to_bytes(), cf.n_buckets, cf.slots)
    assert clone.stash == cf.stash
    assert clone.contains_series(pd.Series(ins)).all()

    # deletion reaches the stash too
    n_stash_before = len(cf.stash)
    assert cf.delete_many(ins) >= len(ins) - 1  # fp-collision slack
    assert len(cf.stash) < n_stash_before or n_stash_before == 0

    # occupied_entries round-trips stash entries into a same-n_buckets
    # table with more slots (partial-key entries are bucket-count-bound)
    big = CuckooFilter(n_buckets=1 << 4, slots=8)
    b, f = clone.occupied_entries()
    assert big.merge_entries(b, f) == len(b)
    assert big.contains_series(pd.Series(ins)).all()
    assert not big.stash
