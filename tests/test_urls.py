"""RFC 3986 URL canonicalizer (functions/urls.py): known-answer cases for
every normalization step, idempotence, and the documented bounds."""

import pytest

from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
    canonicalize_url,
)

CASES = [
    # scheme + host case (§6.2.2.1)
    ("HTTP://WWW.Example.DE/Pfad", "http://www.example.de/Pfad"),
    # default ports (§6.2.3)
    ("http://h.de:80/x", "http://h.de/x"),
    ("https://h.de:443/x", "https://h.de/x"),
    ("https://h.de:8443/x", "https://h.de:8443/x"),  # non-default kept
    ("http://h.de:443/x", "http://h.de:443/x"),      # wrong-scheme kept
    # fragment
    ("https://h.de/a#sec2", "https://h.de/a"),
    ("https://h.de/a?q=1#sec", "https://h.de/a?q=1"),
    # duplicate slashes (path only, scheme untouched)
    ("https://h.de/a//b///c", "https://h.de/a/b/c"),
    # dot segments (§5.2.4)
    ("https://h.de/a/./b", "https://h.de/a/b"),
    ("https://h.de/a/b/../c", "https://h.de/a/c"),
    ("https://h.de/a/b/c/../../d", "https://h.de/a/d"),
    ("https://h.de/a/./b/./c/../d", "https://h.de/a/b/d"),
    ("https://h.de/a/.", "https://h.de/a/"),
    ("https://h.de/a/b/..", "https://h.de/a/"),
    # empty query
    ("https://h.de/a?", "https://h.de/a"),
    # query content preserved verbatim (no param reordering)
    ("https://h.de/a?b=2&a=1", "https://h.de/a?b=2&a=1"),
    # path steps are PATH-ONLY: query values with dots/slashes untouched
    ("https://h.de/p?next=/a/../b", "https://h.de/p?next=/a/../b"),
    ("https://h.de/p?u=https://x//y", "https://h.de/p?u=https://x//y"),
    ("https://h.de/a/./b?keep=/./x", "https://h.de/a/b?keep=/./x"),
    # combined
    ("HTTPS://H.DE:443/a//b/./c/../d?#f", "https://h.de/a/b/d"),
]


@pytest.fixture(scope="module")
def canon(spark):
    def run(urls):
        df = spark.createDataFrame([(u,) for u in urls], "u string")
        return [r.c for r in
                df.select(canonicalize_url(df.u).alias("c")).collect()]
    return run


def test_known_answers(canon):
    got = canon([u for u, _ in CASES])
    for (src, want), g in zip(CASES, got):
        assert g == want, f"{src}: {g} != {want}"


def test_idempotent(canon):
    once = canon([u for u, _ in CASES])
    twice = canon(once)
    assert twice == once


def test_bounded_dot_iterations(canon):
    # 4 levels resolve (the documented bound per pass pair)...
    deep = "https://h.de/a/b/c/d/e/../../../../f"
    assert canon([deep]) == ["https://h.de/a/f"]
    # ...and a pathological deeper chain degrades SAFELY (no crash, still
    # idempotent-canonical prefix handling), documented limitation
    deeper = "https://h.de/" + "a/" * 9 + "../" * 9 + "z"
    (out,) = canon([deeper])
    assert out.startswith("https://h.de/")


PCT_CASES = [
    # §6.2.2.1 hex case: uppercase the triplet digits
    ("https://h.de/a%3fb", "https://h.de/a%3Fb"),
    ("https://h.de/%2fx%2F", "https://h.de/%2Fx%2F"),
    ("https://h.de/%aa%ab%fa", "https://h.de/%AA%AB%FA"),
    # §6.2.2.2 unreserved decode
    ("https://h.de/%41%62%39", "https://h.de/Ab9"),
    ("https://h.de/%7Efoo/%2d%2e%5f", "https://h.de/~foo/-._"),
    # reserved stay encoded: %2F (/), %3F (?), %25 (%), %20 (space)
    ("https://h.de/a%2Fb%3F%25%20c", "https://h.de/a%2Fb%3F%25%20c"),
    # %25-escaped percent cannot cascade into a new decode
    ("https://h.de/%2541", "https://h.de/%2541"),
    # untouched plain urls
    ("https://h.de/plain?q=1", "https://h.de/plain?q=1"),
]


def test_percent_normalization_known_answers(spark):
    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        normalize_percent_encoding,
    )

    df = spark.createDataFrame([(u,) for u, _ in PCT_CASES], "u string")
    got = [r.c for r in df.select(
        normalize_percent_encoding(df.u).alias("c")).collect()]
    for (src, want), g in zip(PCT_CASES, got):
        assert g == want, f"{src}: {g} != {want}"


def test_percent_normalization_matches_duckdb(spark):
    import duckdb

    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        normalize_percent_encoding,
        sql_normalize_percent_encoding,
    )

    urls = [u for u, _ in PCT_CASES] + [
        f"https://h.de/p%{a}{b}tail" for a in "0369cf" for b in "258be"]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    got = [r.c for r in df.select(
        normalize_percent_encoding(df.u).alias("c")).collect()]
    con = duckdb.connect()
    expr = sql_normalize_percent_encoding("u")
    want = [con.execute(f"SELECT {expr} FROM (SELECT ? AS u)", [u])
            .fetchone()[0] for u in urls]
    assert got == want


# a '%' that starts no triplet makes the URL malformed: any of its '%' may
# be literal, so neither engine rewrites it (a literal %41 stays %41)
PCT_MALFORMED = [
    "https://h.de/50%off/%41",
    "https://h.de/a%4",
    "https://h.de/a%",
    "https://h.de/%zz%61",
    "https://h.de/%%41",
    "https://h.de/%4g%2f",
]


def test_percent_normalization_leaves_malformed_urls_unchanged(spark):
    import duckdb

    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        normalize_percent_encoding,
        sql_normalize_percent_encoding,
    )

    # the same kind of URL with a valid triplet stream is still normalized
    cases = [(u, u) for u in PCT_MALFORMED] + [
        ("https://h.de/50%25off/%41", "https://h.de/50%25off/A"),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(
        normalize_percent_encoding(df.u).alias("c")).collect()]
    assert got == [want for _, want in cases]
    con = duckdb.connect()
    expr = sql_normalize_percent_encoding("u")
    duck = [con.execute(f"SELECT {expr} FROM (SELECT ?::VARCHAR AS u)", [u])
            .fetchone()[0] for u, _ in cases]
    assert duck == got
