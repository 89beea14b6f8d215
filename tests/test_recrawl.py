"""Recrawl scheduler (operators/recrawl.py): Cho–GM estimator against an
independent python mirror, clamp band, due flag, and the priority
plug-in contract with CrawlEngine."""

import math

import pytest

from scrapy_crawler_german_real_estate_sites_spark.operators.recrawl import (
    recrawl_schedule,
)

MIN_I, MAX_I = 3600.0, 30 * 86400.0


def py_lambda(n, x, span):
    return -math.log((n - x + 0.5) / (n + 0.5)) * n / span


def _run(spark, rows):
    df = spark.createDataFrame(
        rows, "url string, n_obs double, n_changes double, span_s double,"
              "age_s double")
    return {r.url: r for r in recrawl_schedule(df).collect()}


def test_estimator_matches_python_mirror(spark):
    span = 30 * 86400.0
    rows = [(f"u{x}", 8.0, float(x), span, 86400.0) for x in range(9)]
    got = _run(spark, rows)
    for x in range(9):
        lam = py_lambda(8, x, span)
        assert got[f"u{x}"].lambda_hat == pytest.approx(lam, abs=1e-9)
    # monotone: more observed changes -> higher rate, shorter interval
    lams = [got[f"u{x}"].lambda_hat for x in range(9)]
    assert lams == sorted(lams)
    ivs = [got[f"u{x}"].interval_s for x in range(9)]
    assert ivs == sorted(ivs, reverse=True)


def test_clamp_band_and_never_changed(spark):
    span = 30 * 86400.0
    got = _run(spark, [
        ("cold", 8.0, 0.0, span, 1000.0),     # never changed -> max band
        ("hot", 8.0, 8.0, 3600.0, 1000.0),    # ~hourly churn -> min band
        ("mid", 8.0, 4.0, span, 1000.0),
    ])
    assert got["cold"].lambda_hat == 0.0
    assert got["cold"].interval_s == MAX_I
    assert got["hot"].interval_s == MIN_I
    assert MIN_I < got["mid"].interval_s < MAX_I
    assert got["mid"].interval_s == pytest.approx(
        1.0 / py_lambda(8, 4, span), abs=0.001)


def test_due_flag_is_staleness_ratio(spark):
    span = 30 * 86400.0
    iv = 1.0 / py_lambda(8, 4, span)
    got = _run(spark, [
        ("due", 8.0, 4.0, span, iv * 2),
        ("fresh", 8.0, 4.0, span, iv * 0.5),
    ])
    assert got["due"].due is True
    assert got["due"].priority == pytest.approx(2.0, abs=1e-4)
    assert got["fresh"].due is False


def test_priority_feeds_crawl_engine(spark, fix_tiny):
    """The output's (url, priority) is directly acceptable as
    CrawlEngine(priority_ranks=…) rank mass."""
    import pyspark.sql.functions as F

    from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import (
        CrawlEngine,
    )

    span = 30 * 86400.0
    df = spark.createDataFrame(
        [("https://www.immonet.de/x", 8.0, 6.0, span, 7 * 86400.0)],
        "url string, n_obs double, n_changes double, span_s double,"
        "age_s double")
    ranks = recrawl_schedule(df).select(
        "url", F.col("priority").alias("rank_mass"))
    eng = CrawlEngine(spark, fix_tiny, hour=7, priority_ranks=ranks)
    assert eng._rank_df is not None
    eng.close()


def test_schedule_matches_duckdb_bit_for_bit(spark):
    """Spark and the DuckDB mirror emit the same doubles, bit for bit (sign
    of zero included), on rows that used to split them: never-changed rows
    (λ̂ = 0), a priority on a 6-decimal tie (162162 / 2592000 = 0.0625625),
    and ages exactly on, and one ULP under, the due boundary."""
    import duckdb
    import pandas as pd

    from scrapy_crawler_german_real_estate_sites_spark.operators.recrawl import (
        sql_recrawl_schedule,
    )

    span = 30 * 86400.0
    rows = [(f"u{x}", 8.0, float(x), span, 86400.0) for x in range(9)]
    rows += [
        ("tie", 8.0, 0.0, span, 162162.0),
        ("max_due", 8.0, 0.0, span, MAX_I),
        ("min_due", 8.0, 8.0, 3600.0, MIN_I),
    ]
    # an age equal to a derived (unclamped) interval: priority exactly 1
    iv = _run(spark, [("mid", 8.0, 4.0, span, 0.0)])["mid"].interval_s
    rows += [("mid_due", 8.0, 4.0, span, iv),
             ("mid_fresh", 8.0, 4.0, span, math.nextafter(iv, 0.0))]

    def bits(r):
        return (r[0], *(float(v).hex() for v in r[1:4]), bool(r[4]))

    got = sorted(bits(tuple(r)) for r in _run(spark, rows).values())
    con = duckdb.connect()
    con.register("stats", pd.DataFrame(
        rows, columns=["url", "n_obs", "n_changes", "span_s", "age_s"]))
    want = sorted(bits(r) for r in con.execute(
        sql_recrawl_schedule("stats")).fetchall())
    assert got == want
    by_url = {r[0]: r for r in got}
    assert by_url["u0"][1] == (0.0).hex()
    assert by_url["tie"][3] == (162162.0 / MAX_I).hex()
    assert by_url["max_due"][4] and by_url["min_due"][4]
    assert by_url["mid_due"][4] and not by_url["mid_fresh"][4]
