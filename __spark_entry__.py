"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship: run the crawl engine end-to-end on the
                 self-synthesized 'tiny' pages fixture and return the typed
                 listings DataFrame (the engine's primary output table).
``queries``    — one entry per implemented operator family (SURVEY.md §2 +
                 the training-data pipeline ops).  Crawl-fixture queries
                 read the deterministic synthetic web under
                 /root/repo/fixtures/<tier> (generated lazily, cached);
                 relational/documents/embeddings queries read the driver's
                 testdata parquet via ``sf_dir``.
``oracle_sql`` — DuckDB-equivalent SQL per query.  Cross-engine value
                 equality is engineered: md5 as the shared hash, decimal
                 sums for exactness, round(…, 6) after float math,
                 deterministic tie-breaks in every window.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FIX_ROOT = os.environ.get("SPARK_GRAFT_FIXDIR", "/root/repo/fixtures")
ORACLE_TIER = "sf0.01"  # the driver's correctness scale


def _fixture(sf_dir: str) -> str:
    from scrapy_crawler_german_real_estate_sites_spark.sources.synth import (
        TIERS, generate,
    )

    tier = os.path.basename(os.path.normpath(sf_dir or ""))
    if tier not in TIERS:
        tier = ORACLE_TIER
    return generate(tier, os.path.join(FIX_ROOT, tier))


def _fp(table: str) -> str:
    """Oracle-side fixture parquet path (driver compares at sf0.01)."""
    return os.path.join(FIX_ROOT, ORACLE_TIER, f"{table}.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fx(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_fixture(sf_dir), f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Run the crawl engine on the deterministic 'tiny' synthetic web and
    return typed listings (url, title, prices, features…)."""
    from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import CrawlEngine
    from scrapy_crawler_german_real_estate_sites_spark.sources.synth import generate

    fix = generate("tiny", os.path.join(FIX_ROOT, "tiny"))
    eng = CrawlEngine(spark, fix, hour=7)
    eng.run(max_waves=60)
    items = eng.items_df()
    g = lambda f: F.get_json_object("item_json", f"$.{f}")
    return items.select(
        "url",
        g("title").alias("title"),
        g("typ").alias("typ"),
        g("adresse").alias("adresse"),
        g("zimmer").alias("zimmer"),
        g("flache").alias("flache"),
        g("gesamtkosten").alias("gesamtkosten"),
        g("kaltmiete").alias("kaltmiete"),
        g("nebenkosten").alias("nebenkosten"),
        g("kaufen").cast("int").alias("kaufen"),
        g("haus").cast("int").alias("haus"),
        g("anbieter").alias("anbieter"),
        g("stadtid").cast("int").alias("stadtid"),
        g("bezugsfreiab").alias("bezugsfreiab"),
        F.col("alert").isNotNull().alias("alerted"),
        F.col("doc_json").isNotNull().alias("inserted"),
    )


# ---------------------------------------------------------------------------
# relational operator queries (testdata; strong oracles)
# ---------------------------------------------------------------------------

def q_sorted_scan_limit(spark, sf_dir):
    # A4 (database.py:107-110): sorted scan + limit 50
    o = _t(spark, sf_dir, "orders")
    return o.orderBy("o_orderdate", "o_orderkey").limit(50).select(
        "o_orderkey", "o_orderdate"
    )


SQL_SORTED_SCAN = (
    "SELECT o_orderkey, o_orderdate FROM orders "
    "ORDER BY o_orderdate, o_orderkey LIMIT 50"
)


def q_event_time_stats(spark, sf_dir):
    # D11-style event-time scan + per-type rollup
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
            "sum_value"
        ),
        F.date_trunc("DAY", F.min("ts")).alias("first_day"),
        F.date_trunc("DAY", F.max("ts")).alias("last_day"),
    )


SQL_EVENT_STATS = """
SELECT event_type, count(*) AS cnt,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value,
       date_trunc('day', min(ts)) AS first_day,
       date_trunc('day', max(ts)) AS last_day
FROM events GROUP BY event_type
"""


SESSION_GAP_MIN = 30


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events log (operators/temporal.py):
    one user-partitioned window pass (lag → break → running sum), then a
    per-(user, session) rollup that reuses the window's partitioning —
    Catalyst inserts no second exchange."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.temporal import (
        sessionize,
    )

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MIN)


SQL_SESSIONIZE = f"""
WITH x AS (SELECT user_id, ts, event_id, value, epoch_us(ts) AS tus,
                  lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
           FROM events),
b AS (SELECT *, CASE WHEN prev_tus IS NULL
                       OR tus - prev_tus > {SESSION_GAP_MIN * 60 * 1000000}
                     THEN 1 ELSE 0 END AS brk
      FROM x),
s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_idx
      FROM b)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts,
       max(tus) - min(tus) AS duration_us,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM s GROUP BY user_id, session_idx
"""


def q_asof_attribution(spark, sf_dir):
    """As-of join (operators/temporal.py): every purchase event matched to
    the user's latest click at or before it — the union + last(payload)
    IGNORE NULLS sort-merge re-expression of DuckDB/kdb ASOF JOIN."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.temporal import (
        asof_join,
    )

    e = _t(spark, sf_dir, "events")
    return asof_join(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
    )


SQL_ASOF_ATTRIBUTION = """
WITH p AS (SELECT event_id AS left_id, user_id, ts AS left_ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, max(event_id) AS rid
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
m AS (SELECT p.*, (SELECT max(c2.ts) FROM c c2
                   WHERE c2.user_id = p.user_id AND c2.ts <= p.left_ts)
                  AS right_ts
      FROM p)
SELECT m.left_id, m.user_id, m.left_ts, c.rid AS right_id, m.right_ts,
       CASE WHEN m.right_ts IS NULL THEN NULL
            ELSE epoch_us(m.left_ts) - epoch_us(m.right_ts) END AS wait_us
FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.ts = m.right_ts
"""


def q_event_quantiles(spark, sf_dir):
    """Exact distributed quantiles (operators/quantiles.py): p50/p90/p99 of
    event value per type via rank arithmetic — sort-based and spillable, no
    per-group buffering (Spark's exact ``percentile`` would OOM on a 10^10-row
    hot group at 100 TB; ``approx_percentile`` isn't oracle-checkable)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.quantiles import (
        group_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    return group_quantiles(
        e, ["event_type"], "value", {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    )


# identical rank arithmetic (floor/ceil of (n-1)*q, two-term interpolation)
# so the doubles match bit-for-bit before the 6dp round; 0.5 etc. are CAST
# to DOUBLE because DuckDB types bare decimal literals as DECIMAL.
def _sql_quantile_term(q: str) -> str:
    pos = f"(n - 1) * CAST({q} AS DOUBLE)"
    return f"""round(sum(CASE
        WHEN rk = floor({pos}) AND floor({pos}) = ceil({pos}) THEN v
        WHEN rk = floor({pos}) THEN v * (1 - ({pos} - floor({pos})))
        WHEN rk = ceil({pos}) THEN v * ({pos} - floor({pos}))
        END), 6)"""


SQL_EVENT_QUANTILES = f"""
WITH r AS (
    SELECT event_type, CAST(value AS DOUBLE) AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events)
SELECT event_type, max(n) AS n,
       {_sql_quantile_term('0.5')} AS p50,
       {_sql_quantile_term('0.9')} AS p90,
       {_sql_quantile_term('0.99')} AS p99
FROM r GROUP BY event_type
"""


def q_event_props(spark, sf_dir):
    """Semi-structured path: the ``props`` JSON column parsed once with
    ``from_json`` + an explicit schema (JVM-side, codegen'd — never a Python
    UDF), then rolled up per event type.  Averages are emitted as an exact
    integer sum plus a final double division so the oracle matches
    bit-for-bit (a running double mean would be summation-order dependent)."""
    e = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.count_distinct("k").alias("k_distinct"),
        )
        .withColumn(
            "k_avg",
            F.round(F.col("k_sum").cast("double") / F.col("n_events"), 6),
        )
    )


SQL_EVENT_PROPS = """
WITH e AS (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS k_sum,
       count(DISTINCT k) AS k_distinct,
       round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS k_avg
FROM e GROUP BY event_type
"""


def q_orders_rollup(spark, sf_dir):
    """OLAP rollup surface: subtotal + grand-total rows in one pass
    (Spark plans ROLLUP as a single Expand + hash aggregate — one shuffle
    for all grouping sets, not one scan per level).  Rollup NULLs are
    disambiguated from data NULLs with grouping() flags, and monetary sums
    go through DECIMAL so the oracle reproduces them exactly."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_rollup_v")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '') AS status,
               coalesce(CAST(year(o_orderdate) AS STRING), '') AS yr,
               grouping(o_orderstatus) AS g_status,
               grouping(year(o_orderdate)) AS g_yr,
               count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
        FROM orders_rollup_v
        GROUP BY ROLLUP(o_orderstatus, year(o_orderdate))
        """
    )


SQL_ORDERS_ROLLUP = """
SELECT coalesce(o_orderstatus, '') AS status,
       coalesce(CAST(year(o_orderdate) AS VARCHAR), '') AS yr,
       grouping(o_orderstatus) AS g_status,
       grouping(year(o_orderdate)) AS g_yr,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, year(o_orderdate))
"""


def q_change_detect(spark, sf_dir):
    """CDC over entity history — the recrawl 'value changed since last
    capture' shape (the reference re-crawls listings on a cron and its
    pipeline updates rows whose fields moved;
    /root/reference/demo_crawl/pipelines.py update path).  One lag window
    per (entity, metric) ordered by event time: emits only transitions.
    Scale shape: hash-partitioned by the entity key — per-entity history is
    bounded, so no skew — and nothing but the transition rows leave the
    window stage."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return (
        e.select("user_id", "event_type", "ts", "event_id", "value",
                 prev.alias("prev_value"))
        .where(F.col("prev_value").isNotNull()
               & (F.col("prev_value") != F.col("value")))
        .withColumn("delta", F.round(F.col("value") - F.col("prev_value"), 6))
    )


SQL_CHANGE_DETECT = """
SELECT user_id, event_type, ts, event_id, value, prev_value,
       round(value - prev_value, 6) AS delta
FROM (
    SELECT user_id, event_type, ts, event_id, value,
           lag(value) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS prev_value
    FROM events)
WHERE prev_value IS NOT NULL AND prev_value <> value
"""


def q_retention_candidates(spark, sf_dir):
    # D10 (database.py:27-37): delete-older-than window, per month+status
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus,
               date_trunc('MONTH', o_orderdate) AS month,
               count(*) AS to_delete
        FROM orders_v
        WHERE o_orderdate < (SELECT max(o_orderdate) - INTERVAL 5 DAY FROM orders_v)
        GROUP BY o_orderstatus, date_trunc('MONTH', o_orderdate)
        """
    )


SQL_RETENTION = """
SELECT o_orderstatus, date_trunc('month', o_orderdate) AS month, count(*) AS to_delete
FROM orders
WHERE o_orderdate < (SELECT max(o_orderdate) - INTERVAL 5 DAY FROM orders)
GROUP BY o_orderstatus, date_trunc('month', o_orderdate)
"""


# ---------------------------------------------------------------------------
# crawl-fixture operator queries (deterministic synthetic web)
# ---------------------------------------------------------------------------

_NETLOC_RE = r"^https?://([^/]+)"


def q_url_normalize(spark, sf_dir):
    # D1 (database.py:91-92): query-string strip + dedup per netloc
    p = _fx(spark, sf_dir, "pages")
    return (
        p.select(
            F.regexp_extract("url", _NETLOC_RE, 1).alias("netloc"),
            F.substring_index("url", "?", 1).alias("norm_url"),
        )
        .groupBy("netloc")
        .agg(
            F.countDistinct("norm_url").alias("urls_norm"),
            F.count("*").alias("urls_total"),
        )
    )


SQL_URL_NORMALIZE = f"""
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS netloc,
       count(DISTINCT split_part(url, '?', 1)) AS urls_norm,
       count(*) AS urls_total
FROM read_parquet('{_fp("pages")}') GROUP BY 1
"""


def q_frontier_init(spark, sf_dir):
    # S1/S2: seeds → initial frontier rows
    s = _fx(spark, sf_dir, "seeds")
    return s.select(
        "seed_id",
        "portal",
        "url",
        F.regexp_extract("url", _NETLOC_RE, 1).alias("netloc"),
        F.lit(0).cast("long").alias("fifo_seq"),
        F.lit("start").alias("kind"),
    )


SQL_FRONTIER_INIT = f"""
SELECT seed_id, portal, url,
       regexp_extract(url, '^https?://([^/]+)', 1) AS netloc,
       CAST(0 AS BIGINT) AS fifo_seq, 'start' AS kind
FROM read_parquet('{_fp("seeds")}')
"""


def q_lang_freshness(spark, sf_dir):
    """Input-contract rollup over the north-rule pages shape
    (BASELINE.json:input_hint — url, warc_ts, html, text, lang): per-lang
    page count, capture-window bounds, and distinct-host breadth.  A
    Common-Crawl-style recrawl scheduler reads exactly this to decide
    which language shards are stale.  Map-side-combinable groupBy on a
    low-cardinality key — scale-safe (distinct netloc via a two-level
    exact count: the inner distinct shuffles (lang, netloc) pairs, which
    are bounded by langs x hosts, not pages)."""
    p = _fx(spark, sf_dir, "pages").select(
        "lang", "warc_ts",
        F.regexp_extract("url", _NETLOC_RE, 1).alias("netloc"),
    )
    return p.groupBy("lang").agg(
        F.count("*").alias("pages"),
        F.min("warc_ts").alias("first_capture"),
        F.max("warc_ts").alias("last_capture"),
        F.countDistinct("netloc").alias("hosts"),
    )


SQL_LANG_FRESHNESS = f"""
SELECT lang, count(*) AS pages,
       min(warc_ts) AS first_capture,
       max(warc_ts) AS last_capture,
       CAST(count(DISTINCT regexp_extract(url, '^https?://([^/]+)', 1))
            AS BIGINT) AS hosts
FROM read_parquet('{_fp("pages")}')
GROUP BY lang
"""


def q_politeness_select(spark, sf_dir):
    """P1/P2/P4/P7 — the ACTUAL wave-batch operator
    (operators/politeness.py select_batch: not_before gating, per-seed
    budget prefix, spider-stop listing drain, per-netloc token bucket) on a
    deterministic frontier derived from the fixture pages: one seed per
    netloc, md5-derived kinds / not_before / budgets / stop flags, wave
    iter_no=1 with 50s of wall (= 5 tokens at the reference's 10s
    crawl_delay — settings.py:53-55)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        select_batch,
    )

    pages = _fx(spark, sf_dir, "pages").select(
        "url", F.regexp_extract("url", _NETLOC_RE, 1).alias("netloc")
    )
    h = F.md5("url")
    pend = pages.select(
        "netloc",
        F.col("netloc").alias("seed_id"),
        F.row_number()
        .over(Window.partitionBy("netloc").orderBy("url"))
        .alias("fifo_seq"),
        "url",
        F.when(F.substring(h, 1, 1) < "8", F.lit("detail"))
        .otherwise(F.lit("listing"))
        .alias("kind"),
        (F.conv(F.substring(h, 2, 1), 16, 10).cast("long") % 3)
        .cast("int")
        .alias("not_before"),
    )
    hs = F.md5("seed_id")
    state = (
        pages.select(F.col("netloc").alias("seed_id"))
        .distinct()
        .select(
            "seed_id",
            (F.lit(3) + F.conv(F.substring(hs, 1, 2), 16, 10).cast("long") % 5)
            .alias("budget"),
            F.lit(0).cast("long").alias("scraped"),
            (F.conv(F.substring(hs, 3, 2), 16, 10).cast("long") % 4 == 0)
            .alias("spider_stop"),
            (F.conv(F.substring(hs, 5, 2), 16, 10).cast("long") % 7 == 0)
            .alias("stopped"),
        )
    )
    robots = _fx(spark, sf_dir, "robots")
    return select_batch(pend, state, robots, iter_no=1, iter_seconds=50.0)


SQL_POLITENESS_SELECT = f"""
WITH pend AS (
  SELECT netloc, netloc AS seed_id,
         row_number() OVER (PARTITION BY netloc ORDER BY url) AS fifo_seq,
         url, kind, not_before
  FROM (
    SELECT url,
           regexp_extract(url, '^https?://([^/]+)', 1) AS netloc,
           CASE WHEN substr(md5(url), 1, 1) < '8'
                THEN 'detail' ELSE 'listing' END AS kind,
           CAST(CAST(concat('0x', substr(md5(url), 2, 1)) AS BIGINT) % 3
                AS INT) AS not_before
    FROM read_parquet('{_fp("pages")}')
  )
),
st AS (
  SELECT seed_id,
         3 + CAST(concat('0x', substr(md5(seed_id), 1, 2)) AS BIGINT) % 5 AS budget,
         CAST(0 AS BIGINT) AS scraped,
         CAST(concat('0x', substr(md5(seed_id), 3, 2)) AS BIGINT) % 4 = 0 AS spider_stop,
         CAST(concat('0x', substr(md5(seed_id), 5, 2)) AS BIGINT) % 7 = 0 AS stopped
  FROM (SELECT DISTINCT netloc AS seed_id FROM pend)
),
pres AS (
  SELECT p.*, s.budget, s.scraped, s.spider_stop,
    (p.not_before <= 1) AS elig,
    COALESCE(SUM(CASE WHEN p.kind IN ('detail', 'detail2') AND p.not_before <= 1
                      THEN 1 ELSE 0 END)
      OVER (PARTITION BY p.seed_id ORDER BY p.fifo_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_det_excl,
    COALESCE(SUM(CASE WHEN p.kind = 'listing' AND p.not_before <= 1
                      THEN 1 ELSE 0 END)
      OVER (PARTITION BY p.seed_id ORDER BY p.fifo_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lst_excl
  FROM pend p JOIN st s ON p.seed_id = s.seed_id
  WHERE NOT s.stopped
),
tagged AS (
  SELECT *,
    (elig AND cum_det_excl < (budget - scraped)
          AND (NOT spider_stop OR cum_lst_excl = 0)) AS presel
  FROM pres
),
tok AS (
  SELECT t.*,
    CAST(ceil(50.0 / COALESCE(r.crawl_delay_s, 10.0))
         * COALESCE(r.max_concurrent, 1) AS BIGINT) AS tokens,
    SUM(CASE WHEN t.presel THEN 1 ELSE 0 END)
      OVER (PARTITION BY t.netloc ORDER BY t.fifo_seq, t.seed_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sel
  FROM tagged t
  LEFT JOIN read_parquet('{_fp("robots")}') r ON t.netloc = r.netloc
)
SELECT netloc, seed_id, fifo_seq, url, kind, not_before
FROM tok WHERE presel AND cum_sel <= tokens
"""


def q_viertel_index(spark, sf_dir):
    # J2 (database.py:68-86): district index = array position
    s = _fx(spark, sf_dir, "stadte")
    return s.select(
        F.col("id").alias("stadtid"),
        F.posexplode("stadtviertel").alias("idx", "viertel"),
    ).select("stadtid", "viertel", "idx")


SQL_VIERTEL = f"""
SELECT id AS stadtid, unnest(stadtviertel) AS viertel,
       generate_subscripts(stadtviertel, 1) - 1 AS idx
FROM read_parquet('{_fp("stadte")}')
"""


def q_liveness_gone(spark, sf_dir):
    # D9/E14 (checkStadt.py:26-57): dead-listing markers → urls to delete
    p = _fx(spark, sf_dir, "pages")
    return p.where(
        F.col("text").contains("Angebot wurde deaktiviert")
        | F.col("text").contains("Objekt nicht mehr verfügbar.")
    ).select("url")


SQL_LIVENESS = f"""
SELECT url FROM read_parquet('{_fp("pages")}')
WHERE text LIKE '%Angebot wurde deaktiviert%'
   OR text LIKE '%Objekt nicht mehr verfügbar.%'
"""


def q_robots_filter(spark, sf_dir):
    # P5 (north_rule): disallow-prefix filter — blocked URL count per netloc
    p = _fx(spark, sf_dir, "pages").select(
        "url", F.regexp_extract("url", _NETLOC_RE, 1).alias("netloc")
    )
    r = _fx(spark, sf_dir, "robots")
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    joined = p.join(F.broadcast(r.select("netloc", "disallow_prefixes")), "netloc")
    blocked = F.exists("disallow_prefixes", lambda pfx: path.startswith(pfx))
    return joined.groupBy("netloc").agg(
        F.sum(blocked.cast("int")).alias("blocked"),
        F.count("*").alias("total"),
    )


SQL_ROBOTS = f"""
SELECT p.netloc,
       CAST(sum(CASE WHEN len(list_filter(r.disallow_prefixes,
             pfx -> starts_with(regexp_replace(p.url, '^https?://[^/]+', ''), pfx))) > 0
           THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
       count(*) AS total
FROM (SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS netloc
      FROM read_parquet('{_fp("pages")}')) p
JOIN read_parquet('{_fp("robots")}') r USING (netloc)
GROUP BY p.netloc
"""


def q_geocode_enrich(spark, sf_dir):
    """J3/J4 (reference pipelines.py:31-100, dead code — see COVERAGE.md):
    suburb → stadtid resolution over the deterministic geocache fixture,
    re-expressed as a broadcast membership join (ermittleStadtvidFromSuburb
    semantics; min id for determinism on ambiguous suburb names)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.geocode import (
        resolve_suburb_stadtid,
    )

    return resolve_suburb_stadtid(
        _fx(spark, sf_dir, "geocache"), _fx(spark, sf_dir, "stadte")
    )


SQL_GEOCODE_ENRICH = f"""
SELECT g.address, g.lat, g.lon, g.suburb,
       CAST(min(s.id) AS BIGINT) AS stadtid
FROM read_parquet('{_fp("geocache")}') g
JOIN read_parquet('{_fp("stadte")}') s
  ON list_contains(s.stadtviertel, g.suburb)
GROUP BY g.address, g.lat, g.lon, g.suburb
"""


def q_crawl_listings(spark, sf_dir):
    """End-to-end crawl (tiny tier for bounded runtime).  The crawl itself
    is iterative+stateful, so the oracle reads the GOLDEN SIMULATOR's
    expected items (written as parquet at fixture-generate time); the
    simulator's fidelity to the reference spiders is what
    tests/test_crawl_parity.py proves (byte-identical item text, fetch
    order, seen set)."""
    eng = _tiny_crawl(spark)
    return eng.items_df().select("seed_id", "url", "item_json", "doc_json")


def _tiny_fp(table: str) -> str:
    return os.path.join(FIX_ROOT, "tiny", f"{table}.parquet")


SQL_CRAWL_LISTINGS = f"""
SELECT seed_id, url, item_json, doc_json
FROM read_parquet('{_tiny_fp("expected_listings")}')
"""


def q_multimodal_stub(spark, sf_dir):
    # binary-column metadata extraction (decode stubbed deterministically)
    p = _fx(spark, sf_dir, "pages")
    hx = F.lower(F.hex(F.col("html")))
    md = F.md5(hx)
    return p.select(
        "url",
        F.octet_length("html").alias("n_bytes"),
        (F.conv(F.substring(md, 1, 4), 16, 10).cast("int") % 1024).alias("img_w"),
        (F.conv(F.substring(md, 5, 4), 16, 10).cast("int") % 1024).alias("img_h"),
    )


SQL_MULTIMODAL = f"""
SELECT url, octet_length(html) AS n_bytes,
       CAST(concat('0x', substr(md5(lower(hex(html))), 1, 4)) AS BIGINT) % 1024 AS img_w,
       CAST(concat('0x', substr(md5(lower(hex(html))), 5, 4)) AS BIGINT) % 1024 AS img_h
FROM read_parquet('{_fp("pages")}')
"""


def q_host_url_hll(spark, sf_dir):
    """Per-host HyperLogLog distinct-URL estimate next to the exact count
    (operators/sketches.py:host_url_hll) — the mergeable 256-register
    sketch a 10^10-URL frontier keeps per host for recrawl budgeting.
    Deterministic md5-derived bucket/rho (string/CASE arithmetic, no
    float log2) so the DuckDB oracle replays it register-for-register."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sketches import (
        host_url_hll,
    )

    return host_url_hll(_fx(spark, sf_dir, "pages"))


def _sql_host_url_hll() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.operators.sketches import (
        _ALPHA, _M,
    )

    return f"""
WITH p AS (
  SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host, md5(url) AS h
  FROM read_parquet('{_fp("pages")}')
), f AS (
  SELECT host, url,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
         regexp_replace(substr(h, 3, 15), '^0+', '') AS tail
  FROM p
), r0 AS (
  SELECT host, bucket,
         CASE WHEN length(tail) = 0 THEN 61
              ELSE 4 * (15 - length(tail))
                   + CASE WHEN substr(tail, 1, 1) = '1' THEN 3
                          WHEN substr(tail, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(tail, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1 END AS rho
  FROM f
), regs AS (
  SELECT host, bucket, max(rho) AS m FROM r0 GROUP BY host, bucket
), sk AS (
  SELECT host, sum(pow(2.0, -m)) AS z_present, count(*) AS b FROM regs GROUP BY host
), est AS (
  SELECT host,
         CASE WHEN CAST({_ALPHA!r} AS DOUBLE) * {_M * _M} / (z_present + ({_M} - b))
                     <= {2.5 * _M}
                   AND b < {_M}
              THEN {_M}.0 * ln({_M}.0 / ({_M} - b))
              ELSE CAST({_ALPHA!r} AS DOUBLE) * {_M * _M} / (z_present + ({_M} - b))
         END AS e
  FROM sk
), ex AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
         CAST(count(DISTINCT url) AS BIGINT) AS exact_distinct
  FROM p GROUP BY host
)
SELECT ex.host, n_pages, exact_distinct,
       round(e, 4) AS est_distinct,
       round((e - exact_distinct) / exact_distinct, 4) AS rel_err
FROM ex JOIN est ON ex.host = est.host
"""


def q_url_traps(spark, sf_dir):
    """Spider-trap triage per host (operators/traps.py:trap_report):
    path-depth / loop-segment / query-explosion / calendar heuristics as
    narrow column expressions, one hosts-wide rollup."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.traps import (
        trap_report,
    )

    return trap_report(_fx(spark, sf_dir, "pages"))


def _sql_url_traps() -> str:
    return f"""
WITH f AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM read_parquet('{_fp("pages")}')
), g AS (
  SELECT host,
         len(list_filter(str_split(path, '/'), s -> s <> '')) AS depth,
         len(list_filter(str_split(path, '/'), s -> s <> ''))
           - len(list_distinct(list_filter(str_split(path, '/'), s -> s <> ''))) AS dup_segs,
         CASE WHEN query = '' THEN 0
              ELSE length(query) - length(replace(query, '&', '')) + 1 END AS n_params,
         regexp_matches(path, '/(19|20)[0-9]{{2}}/[0-9]{{1,2}}(/|$)') AS calendar
  FROM f
), s AS (
  SELECT *,
         (depth > 6 OR dup_segs >= 2 OR n_params > 5 OR calendar) AS trap_suspect
  FROM g
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN trap_suspect THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
       round(sum(CASE WHEN trap_suspect THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS suspect_share,
       CAST(sum(CASE WHEN depth > 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_deep,
       CAST(sum(CASE WHEN dup_segs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_loops,
       CAST(sum(CASE WHEN n_params > 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_param_explosion,
       CAST(sum(CASE WHEN calendar THEN 1 ELSE 0 END) AS BIGINT) AS n_calendar,
       CAST(max(depth) AS INT) AS max_depth,
       CAST(max(n_params) AS INT) AS max_params
FROM s GROUP BY host
"""


def q_boilerplate(spark, sf_dir):
    """Line-level boilerplate census over raw crawled HTML
    (operators/boilerplate.py): jusText-lite link-density rule as array
    expressions — zero shuffle, zero UDF; the stats are a projection of
    the scan."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.boilerplate import (
        boilerplate_stats,
    )

    return boilerplate_stats(_fx(spark, sf_dir, "pages"))


def _sql_boilerplate() -> str:
    vis = ("length(trim(regexp_replace(regexp_replace(l, '<[^>]*>', ' ', 'g'),"
           " ' {2,}', ' ', 'g')))")
    nanch = "(length(l) - length(regexp_replace(l, '<a ', '', 'g'))) / 3"
    content = f"({vis} > 0 AND NOT ({nanch} >= 1 AND {vis} < 40))"
    return f"""
SELECT url,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(coalesce(list_sum(list_transform(lines,
            l -> CASE WHEN {content} THEN 1 ELSE 0 END)), 0) AS BIGINT)
         AS content_lines,
       CAST(coalesce(list_sum(list_transform(lines,
            l -> CASE WHEN {content} THEN 0 ELSE 1 END)), 0) AS BIGINT)
         AS boiler_lines,
       CAST(coalesce(list_sum(list_transform(lines,
            l -> CASE WHEN {nanch} >= 1 THEN 1 ELSE 0 END)), 0) AS BIGINT)
         AS link_lines,
       CAST(coalesce(list_sum(list_transform(lines,
            l -> CASE WHEN {content} THEN {vis} ELSE 0 END)), 0) AS BIGINT)
         AS content_chars
FROM (
  SELECT url, str_split(text, chr(10)) AS lines
  FROM read_parquet('{_fp("pages")}')
)
"""


def q_capture_diff(spark, sf_dir):
    """Crawl-snapshot delta per host (operators/temporal.py:
    capture_diff): the fixture's capture window split at its epoch
    midpoint — computed in-plan (broadcast 1-row aggregate), no driver
    round-trip — and the two halves diffed as captures A and B."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.temporal import (
        capture_diff,
    )

    # warc_ts is TIMESTAMP_NTZ; build epoch-us from wall-clock components
    # (unix_date + hour/minute/fractional-second) so the value is
    # session-timezone- and DST-independent and matches DuckDB's
    # epoch_us(naive-ts-as-UTC) exactly.
    ntz_us = F.expr(
        "unix_date(cast(warc_ts as date)) * 86400000000L"
        " + cast(hour(warc_ts) as bigint) * 3600000000L"
        " + cast(minute(warc_ts) as bigint) * 60000000L"
        " + cast(date_part('second', warc_ts) * 1000000 as bigint)"
    )
    p = _fx(spark, sf_dir, "pages").select("url", "text", ntz_us.alias("us"))
    cut = p.agg(
        F.floor((F.min("us") + F.max("us")) / 2).cast("long").alias("cut")
    )
    pc = p.crossJoin(F.broadcast(cut))
    return capture_diff(
        pc.where(F.col("us") < F.col("cut")),
        pc.where(F.col("us") >= F.col("cut")),
    )


def _sql_capture_diff() -> str:
    return f"""
WITH p AS (
  SELECT url, text, epoch_us(warc_ts) AS us FROM read_parquet('{_fp("pages")}')
), cut AS (
  SELECT CAST(floor((min(us) + max(us)) / 2.0) AS BIGINT) AS c FROM p
), a AS (
  SELECT url, md5(text) AS ha FROM p WHERE us < (SELECT c FROM cut)
), b AS (
  SELECT url, md5(text) AS hb FROM p WHERE us >= (SELECT c FROM cut)
), j AS (
  SELECT coalesce(a.url, b.url) AS url, ha, hb
  FROM a FULL OUTER JOIN b ON a.url = b.url
), s AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         CASE WHEN ha IS NULL THEN 'added'
              WHEN hb IS NULL THEN 'removed'
              WHEN ha <> hb THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM j
)
SELECT host,
       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       round(sum(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS churn
FROM s GROUP BY host
"""


def q_host_graph(spark, sf_dir):
    """Domain-level link graph (operators/graph.py:host_graph): the URL
    edge list collapsed to host pairs — output bounded by host-pairs,
    the scheduler's discovery/budget view."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.graph import (
        extract_edges, host_graph,
    )

    return host_graph(extract_edges(_fx(spark, sf_dir, "pages")))


def _sql_host_graph() -> str:
    return f"""
WITH raw AS (
  SELECT url AS src,
         regexp_extract(url, '^(https?://[^/]+)', 1) AS base,
         unnest(regexp_extract_all(text, 'href="([^"]+)"', 1)) AS link
  FROM read_parquet('{_fp("pages")}')
), resolved AS (
  SELECT src,
         regexp_replace(
           CASE WHEN link LIKE 'http://%' OR link LIKE 'https://%' THEN link
                WHEN link LIKE '/%' THEN base || link END, '#.*$', '') AS dst
  FROM raw
), edges AS (
  SELECT DISTINCT src, dst FROM resolved WHERE dst IS NOT NULL AND dst <> src
)
SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src_host,
       regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       regexp_extract(src, '^https?://([^/]+)', 1)
         = regexp_extract(dst, '^https?://([^/]+)', 1) AS intra
FROM edges GROUP BY 1, 2
"""


def q_token_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/sketches.py:
    token_cms_topk): CMS estimates next to exact counts for the top
    tokens.  width=32 on the tiny fixture vocabulary so hash collisions
    actually occur and the est >= exact overshoot is exercised."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sketches import (
        token_cms_topk,
    )

    return token_cms_topk(_t(spark, sf_dir, "documents"), width=32, k=50)


def _hex_int_sql(expr: str, nchars: int) -> str:
    """DuckDB integer from the first ``nchars`` hex chars of ``expr``
    via strpos arithmetic (DuckDB has no conv())."""
    out = "0"
    for i in range(1, nchars + 1):
        out = (f"(({out}) * 16 + strpos('0123456789abcdef',"
               f" substr({expr}, {i}, 1)) - 1)")
    return out


def _sql_token_cms() -> str:
    width, depth, k = 32, 4, 50
    bucket_cols = ", ".join(
        _hex_int_sql(f"substr(md5('cms{i}:' || token), 1, 5)", 5)
        + f" % {width} AS b{i}"
        for i in range(depth)
    )
    counter_ctes = ", ".join(
        f"c{i} AS (SELECT b{i}, sum(exact_cnt) AS c{i} FROM wb GROUP BY b{i})"
        for i in range(depth)
    )
    joins = " ".join(f"JOIN c{i} USING (b{i})" for i in range(depth))
    least = "least(" + ", ".join(f"c{i}" for i in range(depth)) + ")"
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
), exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY token
), wb AS (
  SELECT token, exact_cnt, {bucket_cols} FROM exact
), top AS (
  SELECT * FROM wb ORDER BY exact_cnt DESC, token LIMIT {k}
), {counter_ctes}
SELECT token, exact_cnt,
       CAST({least} AS BIGINT) AS cms_est,
       CAST({least} - exact_cnt AS BIGINT) AS overestimate
FROM top {joins}
"""


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/sampling.py:weighted_sample): char-mass-proportional
    top-k via deterministic u^(1/w) keys — one map expression plus
    TakeOrderedAndProject, no global sort."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        weighted_sample,
    )

    return weighted_sample(_t(spark, sf_dir, "documents"), k=100)


def _sql_weighted_sample() -> str:
    u_int = _hex_int_sql(
        "substr(md5('wsample-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)", 15
    )
    return f"""
WITH b AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CASE WHEN n_chars > 0
              THEN pow((CAST({u_int} AS DOUBLE) + 0.5) / 1152921504606846976.0,
                       1.0 / n_chars)
              ELSE -1.0 END AS sample_key
  FROM documents
)
SELECT doc_id, weight, sample_key FROM b
ORDER BY sample_key DESC, doc_id LIMIT 100
"""


def q_warc_ingest(spark, sf_dir):
    """Common-Crawl-style archive ingest (sources/warc.py): binaryFile
    scan over per-record-gzip WARC segment files → one Arrow unframing
    pass → north-rule pages projection, text/lang/hashes all JVM-side.
    The oracle reads the fixture writer's ground truth and re-derives the
    text/lang columns with the byte-identical SQL mirror of the
    extraction chain — so the check proves the engine recovered the exact
    framed bytes AND transformed them exactly as specified."""
    from scrapy_crawler_german_real_estate_sites_spark.sources.warc import (
        pages_from_warc, warc_fixture, warc_scan,
    )

    wdir = warc_fixture(_fixture(sf_dir))
    pages = pages_from_warc(warc_scan(spark, wdir))
    return pages.select(
        "url",
        "warc_ts",
        F.octet_length("html").alias("n_bytes"),
        F.md5("html").alias("html_md5"),
        F.length("text").alias("text_chars"),
        F.col("lang").alias("lang_pred"),
    )


def _sql_warc_ingest() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        LANG_STOPWORDS,
    )
    from scrapy_crawler_german_real_estate_sites_spark.sources.warc import (
        sql_html_to_text,
    )

    langs = sorted(LANG_STOPWORDS)
    scores = {lg: _sql_lang_score(lg) for lg in langs}
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    exp = os.path.join(FIX_ROOT, ORACLE_TIER, "expected_warc.parquet")
    return f"""
WITH exp AS (SELECT url, warc_ts, html_str FROM read_parquet('{exp}')),
base AS (
  SELECT url, warc_ts, strlen(html_str) AS n_bytes, md5(html_str) AS html_md5,
         {sql_html_to_text('html_str')} AS text
  FROM exp),
scored AS (
  SELECT *, {", ".join(f"{scores[lg]} AS s_{lg}" for lg in langs)}
  FROM base)
SELECT url, warc_ts, n_bytes, html_md5, length(text) AS text_chars,
       CASE WHEN {best} > 0 THEN {lang_case} ELSE 'unknown' END AS lang_pred
FROM scored
"""


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_exact,
    )

    return dedup_exact(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""

_SQL_SHINGLES = """
toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i))
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    # max_df: the exact shingle self-join is quadratic in per-shingle doc
    # frequency; dropping shingles shared by >100 docs bounds the hottest
    # join keys at any corpus size (df-capped shingling).  The SQL oracle
    # mirrors the cap, and tests/test_dedup.py proves the guard semantics
    # on a corpus with a planted hot shingle.
    return dedup_ngram_jaccard(_t(spark, sf_dir, "documents"), threshold=0.1,
                               max_df=100)


SQL_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
sh2 AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh2 a JOIN sh2 b USING (sh) WHERE a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.1
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (Lee et al. 2022 / GPT-3 appendix C):
    documents sharing ≥1 word 4-gram with the benchmark slice (doc_id %
    13 == 0 stands in for the eval set) and how many distinct grams they
    share.  The benchmark's distinct gram set broadcasts; the corpus side
    never shuffles pre-join (operators/decontam.py)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.decontam import (
        contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 13 == 0)
    corpus = docs.where(F.col("doc_id") % 13 != 0)
    return contamination(corpus, bench, n=4)


SQL_DECONTAMINATE = """
WITH btoks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
               FROM documents WHERE doc_id % 13 = 0),
bsh AS (SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS sh
        FROM btoks, unnest(generate_series(1, greatest(len(t) - 3, 1))) AS g(i)),
dtoks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE doc_id % 13 <> 0),
dsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS sh
        FROM dtoks, unnest(generate_series(1, greatest(len(t) - 3, 1))) AS g(i))
SELECT doc_id, count(*) AS grams_hit FROM dsh JOIN bsh USING (sh) GROUP BY doc_id
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    return dedup_minhash_lsh(_t(spark, sf_dir, "documents"), threshold=0.1)


SQL_MINHASH_LSH = f"""
WITH {_SQL_SHINGLES},
mh AS (SELECT doc_id, g.i AS i, min(md5(concat(CAST(g.i AS VARCHAR), ':', sh))) AS h
       FROM sh, unnest(generate_series(0, 15)) AS g(i) GROUP BY doc_id, g.i),
sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id),
bands AS (SELECT doc_id, b.b AS band,
                 md5(array_to_string(sig[b.b*4+1 : b.b*4+4], '|')) AS bucket
          FROM sig, unnest(generate_series(0, 3)) AS b(b)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         FROM bands a JOIN bands b2 ON a.band = b2.band AND a.bucket = b2.bucket
         WHERE a.doc_id < b2.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
          GROUP BY c.id_a, c.id_b)
SELECT i.id_a AS id_a, i.id_b AS id_b,
       round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.1
"""


def q_dedup_simhash(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_simhash,
    )

    return dedup_simhash(_t(spark, sf_dir, "documents"), max_hamming=3)


# 60-bit packed fingerprint (first 15 md5 hex chars per distinct token),
# per-bit sign-sum, 4 bands x 15 bits, hamming = bit_count(XOR) — mirrors
# operators/dedup.py:simhash_fingerprint/dedup_simhash bit-for-bit
SQL_SIMHASH = """
WITH toks AS (SELECT doc_id,
                     unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
              FROM documents),
hv AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
bits AS (SELECT doc_id, b.b AS b,
                CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                     THEN CAST(1 AS BIGINT) << b.b ELSE CAST(0 AS BIGINT) END AS bitval
         FROM hv, unnest(generate_series(0, 59)) AS b(b) GROUP BY doc_id, b.b),
sv AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sv FROM bits GROUP BY doc_id),
banded AS (SELECT doc_id, sv, bd.bd AS band,
                  (sv >> (bd.bd * 15)) & 32767 AS bucket
           FROM sv, unnest(generate_series(0, 3)) AS bd(bd)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                 a.sv AS sva, b2.sv AS svb
          FROM banded a JOIN banded b2 ON a.band = b2.band AND a.bucket = b2.bucket
          WHERE a.doc_id < b2.doc_id)
SELECT id_a, id_b,
       CAST(bit_count(xor(sva, svb)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(sva, svb)) <= 3
"""


def q_embedding_topk(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.similarity import (
        cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return cosine_topk(emb, q, k=5)


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           ORDER BY vec_id LIMIT 10),
scored AS (SELECT q.q_id, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(q.qv AS DOUBLE[])), 6) AS cosine
           FROM embeddings e, q WHERE e.vec_id <> q.q_id),
ranked AS (SELECT q_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


def q_embedding_neardup(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_embedding_cosine,
    )

    # random-hyperplane LSH blocking (8 bands × 4 bits): candidates share at
    # least one exact 4-bit band of md5-seeded sign bits; exact-cosine verify
    # of candidates only.  Unlike the previous label-blocking, bucket keys
    # are hash-uniform (skew-free shuffle) and similarity-preserving — the
    # 100 TB path.  The oracle mirrors the banding bit-for-bit (planes are
    # md5-derived, so both engines compute identical signatures); pair
    # recall vs the exact cross join is proven in tests/test_dedup.py.
    return dedup_embedding_cosine(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, lsh_bands=8, lsh_bits=4
    )


# mirrors hyperplane_signature(): plane p component j = md5("p,j")[:8] as a
# 32-bit int mapped to [-1,1); bit = sign of <v, plane>; 8 bands of 4 bits
SQL_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v,
          list_transform(range(0, 32), p ->
            CASE WHEN list_sum(list_transform(range(1, len(v) + 1), j ->
                   v[j] * ((CAST(concat('0x', substr(md5(concat(p, ',', j - 1)), 1, 8))
                                 AS BIGINT) / 4294967296.0) * 2.0 - 1.0)
                 )) >= 0 THEN 1 ELSE 0 END) AS sv
        FROM e),
banded AS (SELECT vec_id, bd.bd AS band,
                  array_to_string(sv[bd.bd*4+1 : bd.bd*4+4], '') AS bucket
           FROM sig, unnest(generate_series(0, 7)) AS bd(bd)),
pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
FROM pairs JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.3
"""


SQL_EMBEDDING_ANN_IVF = """
WITH v AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS MATERIALIZED (
    SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 8),
a0 AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT v.vec_id, v.v, c0.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c0.cv)^2, 6), c0.cid) AS rn
        FROM v, c0) WHERE rn = 1),
c1 AS MATERIALIZED (
    SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, g.pos AS pos, avg(v[g.pos]) AS m
        FROM a0, unnest(generate_series(1, 64)) AS g(pos)
        GROUP BY cid, g.pos)
    GROUP BY cid),
a1 AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT v.vec_id, v.v, c1.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c1.cv)^2, 6), c1.cid) AS rn
        FROM v, c1) WHERE rn = 1),
q AS MATERIALIZED (
    SELECT vec_id AS q_id, v AS qv FROM v ORDER BY vec_id LIMIT 10),
probes AS MATERIALIZED (
    SELECT q_id, qv, cid FROM (
        SELECT q.q_id, q.qv, c1.cid,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY round(list_distance(q.qv, c1.cv)^2, 6), c1.cid) AS rn
        FROM q, c1) WHERE rn <= 3),
scored AS (
    SELECT p.q_id, a1.vec_id,
           round(list_cosine_similarity(a1.v, p.qv), 6) AS cosine
    FROM probes p JOIN a1 USING (cid) WHERE a1.vec_id <> p.q_id)
SELECT q_id, vec_id, rank, cosine FROM (
    SELECT q_id, vec_id, cosine,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cosine DESC, vec_id) AS rank
    FROM scored) WHERE rank <= 5
"""


def q_embedding_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate NN (``ivf_topk``: centroids seeded from the
    8 lowest-id vectors + one Lloyd refinement step, nprobe=3).  The single
    refinement step unrolls into the DuckDB oracle above; sub-1e-6 distance
    gaps are rounded away before ranking in BOTH engines so float
    summation-order noise can't flip an assignment."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.similarity import (
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return ivf_topk(emb, q, k=5, ncentroids=8, nprobe=3)


def q_embedding_ann_pq(spark, sf_dir):
    """Product-quantization ANN (similarity.py:pq_topk, Jégou et al.
    2011): per-subspace codebooks (8 subspaces × 16 codes, deterministic
    seeded Lloyd, one refinement) encode the corpus as 8 small ints; each
    query scores via its broadcast distance table (ADC), never touching
    the float vectors — then the top-50 candidates re-rank by EXACT d²
    (the faiss IndexRefine stage; these near-random synthetic embeddings
    are PQ's worst case, and the refinement is what makes the recall
    usable — see tests/test_similarity.py).  The oracle unrolls the
    per-subspace Lloyd step the same way SQL_EMBEDDING_ANN_IVF unrolls
    the coarse one; d2 ranks are 6dp-rounded in BOTH engines before every
    compare."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.similarity import (
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return pq_topk(emb, q, k=5, m=8, ksub=16, subdim=8, rerank=50)


SQL_EMBEDDING_ANN_PQ = """
WITH v AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sub AS MATERIALIZED (
    SELECT vec_id, g.s AS s, v[g.s*8+1 : g.s*8+8] AS sv
    FROM v, unnest(generate_series(0, 7)) AS g(s)),
c0 AS MATERIALIZED (
    SELECT s, vec_id AS code, sv AS cv FROM sub
    WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
a0 AS MATERIALIZED (
    SELECT vec_id, s, sv, code FROM (
        SELECT sub.vec_id, sub.s, sub.sv, c0.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_distance(sub.sv, c0.cv)^2, 6), c0.code)
                 AS rn
        FROM sub JOIN c0 ON sub.s = c0.s) WHERE rn = 1),
c1 AS MATERIALIZED (
    SELECT s, code, list(mu ORDER BY pos) AS cv FROM (
        SELECT s, code, g.pos AS pos, avg(sv[g.pos]) AS mu
        FROM a0, unnest(generate_series(1, 8)) AS g(pos)
        GROUP BY s, code, g.pos) GROUP BY s, code),
codes AS MATERIALIZED (
    SELECT vec_id, s, code FROM (
        SELECT sub.vec_id, sub.s, c1.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_distance(sub.sv, c1.cv)^2, 6), c1.code)
                 AS rn
        FROM sub JOIN c1 ON sub.s = c1.s) WHERE rn = 1),
q AS (SELECT vec_id AS q_id, s, sv AS qsv FROM sub
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 10)),
dtab AS MATERIALIZED (
    SELECT q.q_id, c1.s, c1.code, list_distance(q.qsv, c1.cv)^2 AS d2
    FROM q JOIN c1 ON q.s = c1.s),
scored AS (
    SELECT d.q_id, codes.vec_id, round(sum(d.d2), 6) AS approx_d2
    FROM codes JOIN dtab d ON codes.s = d.s AND codes.code = d.code
    WHERE codes.vec_id <> d.q_id
    GROUP BY d.q_id, codes.vec_id),
cand AS (
    SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY approx_d2, vec_id) AS rank
        FROM scored) WHERE rank <= 50),
exact AS (
    SELECT c.q_id, c.vec_id, round(list_distance(qv.v, cv.v)^2, 6) AS d2
    FROM cand c JOIN v qv ON qv.vec_id = c.q_id
                JOIN v cv ON cv.vec_id = c.vec_id)
SELECT q_id, vec_id, rank, d2 FROM (
    SELECT q_id, vec_id, d2,
           row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rank
    FROM exact) WHERE rank <= 5
"""


def q_embedding_ann_ivfpq(spark, sf_dir):
    """IVF + PQ composed (similarity.py:ivfadc_topk — the faiss-IVFADC
    dataflow, Jégou et al. 2011 §IV.A): the coarse quantizer prunes WHICH
    vectors each query scores (nprobe=3 of 8 shards), PQ codes over the
    COARSE RESIDUALS v − c(v) shrink WHAT a candidate reads (8 bytes,
    never floats; one query distance table per probed cell), exact
    re-rank of the top-50 in the family metric (cosine) refines.  The
    oracle composes BOTH unrolled Lloyd steps (coarse c0→c1 and
    per-subspace pc0→pc1) plus the residual algebra
    (list_zip/list_transform); 6dp rounding before every rank/compare in
    both engines."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.similarity import (
        ivfadc_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return ivfadc_topk(
        emb, q, k=5, ncentroids=8, nprobe=3, m=8, ksub=16, subdim=8, rerank=50
    )


SQL_EMBEDDING_ANN_IVFPQ = """
WITH v AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS MATERIALIZED (
    SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 8),
a0 AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT v.vec_id, v.v, c0.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c0.cv)^2, 6), c0.cid) AS rn
        FROM v, c0) WHERE rn = 1),
c1 AS MATERIALIZED (
    SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, g.pos AS pos, avg(v[g.pos]) AS m
        FROM a0, unnest(generate_series(1, 64)) AS g(pos)
        GROUP BY cid, g.pos)
    GROUP BY cid),
a1 AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c1.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c1.cv)^2, 6), c1.cid) AS rn
        FROM v, c1) WHERE rn = 1),
resid AS MATERIALIZED (
    -- faiss-IVFADC proper: PQ quantizes the coarse residual v - c1(cid)
    SELECT a1.vec_id, a1.cid,
           list_transform(list_zip(v.v, c1.cv), x -> x[1] - x[2]) AS rv
    FROM a1 JOIN v USING (vec_id) JOIN c1 USING (cid)),
sub AS MATERIALIZED (
    SELECT vec_id, g.s AS s, rv[g.s*8+1 : g.s*8+8] AS sv
    FROM resid, unnest(generate_series(0, 7)) AS g(s)),
pc0 AS MATERIALIZED (
    SELECT s, vec_id AS code, sv AS cv FROM sub
    WHERE vec_id IN (SELECT vec_id FROM resid ORDER BY vec_id LIMIT 16)),
pa0 AS MATERIALIZED (
    SELECT vec_id, s, sv, code FROM (
        SELECT sub.vec_id, sub.s, sub.sv, pc0.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_distance(sub.sv, pc0.cv)^2, 6), pc0.code)
                 AS rn
        FROM sub JOIN pc0 ON sub.s = pc0.s) WHERE rn = 1),
pc1 AS MATERIALIZED (
    SELECT s, code, list(mu ORDER BY pos) AS cv FROM (
        SELECT s, code, g.pos AS pos, avg(sv[g.pos]) AS mu
        FROM pa0, unnest(generate_series(1, 8)) AS g(pos)
        GROUP BY s, code, g.pos) GROUP BY s, code),
codes AS MATERIALIZED (
    SELECT vec_id, s, code FROM (
        SELECT sub.vec_id, sub.s, pc1.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_distance(sub.sv, pc1.cv)^2, 6), pc1.code)
                 AS rn
        FROM sub JOIN pc1 ON sub.s = pc1.s) WHERE rn = 1),
q AS MATERIALIZED (
    SELECT vec_id AS q_id, v AS qv FROM v ORDER BY vec_id LIMIT 10),
probes AS MATERIALIZED (
    SELECT q_id, cid FROM (
        SELECT q.q_id, c1.cid,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY round(list_distance(q.qv, c1.cv)^2, 6), c1.cid) AS rn
        FROM q, c1) WHERE rn <= 3),
qresid AS MATERIALIZED (
    -- one query residual PER PROBED CELL
    SELECT p.q_id, p.cid,
           list_transform(list_zip(q.qv, c1.cv), x -> x[1] - x[2]) AS qrv
    FROM probes p JOIN q USING (q_id) JOIN c1 USING (cid)),
qsub AS MATERIALIZED (
    SELECT q_id, cid, g.s AS s, qrv[g.s*8+1 : g.s*8+8] AS qsv
    FROM qresid, unnest(generate_series(0, 7)) AS g(s)),
dtab AS MATERIALIZED (
    SELECT qsub.q_id, qsub.cid, pc1.s, pc1.code,
           list_distance(qsub.qsv, pc1.cv)^2 AS d2
    FROM qsub JOIN pc1 ON qsub.s = pc1.s),
scored AS (
    SELECT p.q_id, codes.vec_id, round(sum(d.d2), 6) AS approx_d2
    FROM codes
    JOIN a1 ON a1.vec_id = codes.vec_id
    JOIN probes p ON p.cid = a1.cid
    JOIN dtab d ON d.q_id = p.q_id AND d.cid = p.cid
               AND d.s = codes.s AND d.code = codes.code
    WHERE codes.vec_id <> p.q_id
    GROUP BY p.q_id, codes.vec_id),
cand AS (
    SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY approx_d2, vec_id) AS rank
        FROM scored) WHERE rank <= 50),
exact AS (
    -- re-rank in the family metric (cosine), like ivf_topk/cosine_topk
    SELECT c.q_id, c.vec_id,
           round(list_cosine_similarity(qv.v, cv.v), 6) AS cosine
    FROM cand c JOIN v qv ON qv.vec_id = c.q_id
                JOIN v cv ON cv.vec_id = c.vec_id)
SELECT q_id, vec_id, rank, cosine FROM (
    SELECT q_id, vec_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
             AS rank
    FROM exact) WHERE rank <= 5
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-blocked semantic dedup —
    cluster with the same deterministic coarse quantizer as the IVF index
    (8 centroids seeded from the lowest-id vectors + one Lloyd step),
    compare pairs only within a cluster, drop members with a lower-id
    neighbor at cosine >= 0.3.  The oracle unrolls the Lloyd step exactly
    like SQL_EMBEDDING_ANN_IVF, then states the within-cluster pair rule;
    d2 and cosine round to 6dp in BOTH engines before any rank/compare."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        semdedup,
    )

    return semdedup(_t(spark, sf_dir, "embeddings"), threshold=0.3, ncentroids=8)


# c0/a0/c1/a1 mirror SQL_EMBEDDING_ANN_IVF's unrolled Lloyd step (same
# quantizer constants: 8 centroids, 64 dims, 6dp tie-rounding)
SQL_SEMDEDUP = """
WITH v AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS MATERIALIZED (
    SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 8),
a0 AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT v.vec_id, v.v, c0.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c0.cv)^2, 6), c0.cid) AS rn
        FROM v, c0) WHERE rn = 1),
c1 AS MATERIALIZED (
    SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, g.pos AS pos, avg(v[g.pos]) AS m
        FROM a0, unnest(generate_series(1, 64)) AS g(pos)
        GROUP BY cid, g.pos)
    GROUP BY cid),
a1 AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT v.vec_id, v.v, c1.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_distance(v.v, c1.cv)^2, 6), c1.cid) AS rn
        FROM v, c1) WHERE rn = 1),
pairs AS (
    SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id)
SELECT id_b AS vec_id, cid, id_a AS dup_of, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY cid, id_b ORDER BY id_a) AS rn
    FROM pairs WHERE cosine >= 0.3) WHERE rn = 1
"""


def q_text_stats(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.functions import textops as tx

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.lang_id(F.col("text")).alias("lang_pred"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.ws_token_count(F.col("text")).alias("ws_tokens"),
        tx.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        tx.punct_ratio(F.col("text")).alias("punct_ratio"),
        tx.stopword_ratio(F.col("text")).alias("stopword_ratio"),
    )


def _sql_word_count(w):
    # DuckDB string literals keep backslashes as-is → single \b
    return f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"


def _sql_lang_score(lang):
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        LANG_STOPWORDS,
    )

    return " + ".join(_sql_word_count(w) for w in LANG_STOPWORDS[lang])


def _sql_text_stats():
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        BPE_ISH_PATTERN, LANG_STOPWORDS,
    )

    langs = sorted(LANG_STOPWORDS)
    scores = {lg: _sql_lang_score(lg) for lg in langs}
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    all_hits = " + ".join(
        _sql_word_count(w) for ws in LANG_STOPWORDS.values() for w in ws
    )
    bpe = BPE_ISH_PATTERN  # single backslashes survive DuckDB literals
    return f"""
WITH base AS (
  SELECT doc_id, text,
         {", ".join(f"{scores[lg]} AS s_{lg}" for lg in langs)},
         len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
         len(regexp_extract_all(lower(text), '{bpe}')) AS bpe_tokens,
         round(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(({all_hits}) * 1.0
               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
           AS stopword_ratio,
         round(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                       t -> length(t))) * 1.0
               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
           AS mwl
  FROM documents)
SELECT doc_id,
       CASE WHEN {best} > 0 THEN {lang_case} ELSE 'unknown' END AS lang_pred,
       round(0.3 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END)
           + 0.2 * (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.4 END)
           + 0.3 * (CASE WHEN stopword_ratio > 0.05 THEN 1.0 ELSE 0.5 END)
           + 0.2 * (CASE WHEN mwl BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END), 6)
         AS quality,
       ws_tokens, bpe_tokens, punct_ratio, stopword_ratio
FROM base
"""


def q_doc_fingerprint(spark, sf_dir):
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        fingerprint,
    )

    d = _t(spark, sf_dir, "documents")
    md5_fp, min_fp = fingerprint(F.col("text"), n=5)
    return d.select("doc_id", md5_fp, min_fp)


SQL_FINGERPRINT = """
WITH n AS (SELECT doc_id,
                  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
t AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n)
SELECT doc_id, md5(norm) AS md5_fp,
       (SELECT min(md5(array_to_string(toks[g.i+1:g.i+5], ' ')))
        FROM unnest(generate_series(0, greatest(len(toks) - 5, 0))) AS g(i))
         AS min_shingle_fp
FROM t
"""



def q_stratified_sample(spark, sf_dir):
    """Exact-n per-stratum uniform sample (operators/sampling.py): rows
    rank by md5(salt||id) within their lang stratum, first 20 survive —
    deterministic without-replacement draw, WindowGroupLimit plan (map
    tasks forward ≤ n rows per stratum pre-shuffle)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, strata_col="lang", n=20)


SQL_STRATIFIED_SAMPLE = """
SELECT lang, doc_id, rk FROM (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents)
WHERE rk <= 20
"""


def q_dataset_split(spark, sf_dir):
    """Deterministic train/valid split audit, stratified by lang
    (operators/sampling.py): the assignment is a pure md5-threshold
    function of the salted doc_id — per-row independent (no shuffle),
    stable under corpus growth, identical across engines; the audit
    groupBy moves only (lang, split) partial counts."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        dataset_split,
    )

    d = _t(spark, sf_dir, "documents")
    return dataset_split(d, valid_frac=0.05, strata_col="lang")


def _sql_dataset_split():
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        split_threshold_hex,
    )

    thr = split_threshold_hex(0.05)
    return f"""
SELECT lang,
       CASE WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{thr}'
            THEN 'valid' ELSE 'train' END AS split,
       count(*) AS docs
FROM documents
GROUP BY 1, 2
"""


def q_doc_chunk(spark, sf_dir):
    """Fixed-token chunking with overlap (functions/textops.py:chunk_docs,
    chunk 64 / overlap 16): row-local higher-order exprs + one posexplode,
    zero shuffle — the sequence-prep step upstream of shard_pack."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        chunk_docs,
    )

    return chunk_docs(_t(spark, sf_dir, "documents"), chunk_size=64, overlap=16)


SQL_DOC_CHUNK = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents),
c AS (
  SELECT doc_id, g.i AS chunk_id,
         array_to_string(toks[g.i*48+1 : g.i*48+64], ' ') AS chunk_text
  FROM t, unnest(generate_series(0, CAST(floor((len(toks)-1)/48.0) AS BIGINT)))
         AS g(i))
SELECT doc_id, chunk_id, chunk_text,
       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_chunk_tokens
FROM c
"""


def q_shard_pack(spark, sf_dir):
    """Token-budget shard packing (operators/sampling.py:shard_pack):
    documents in deterministic md5 order, shard_id = floor(tokens_before /
    2000).  The oracle states the semantic spec as ONE global running-sum
    window; the Spark side must reproduce it with the scale-correct
    two-pass prefix sum (256 md5-prefix buckets: per-bucket totals → tiny
    offsets dim → bucket-partitioned windows) — no global sort, no
    single-partition stage over the corpus."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        shard_pack,
    )

    return shard_pack(_t(spark, sf_dir, "documents"), budget=2000)


SQL_SHARD_PACK = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         md5('pack-v1:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY key, doc_id)
                   - n_tokens) / 2000.0) AS BIGINT) AS shard_id
FROM t
"""


def q_sitemap_cities(spark, sf_dir):
    # S10 (seoSitemap.py:6-76): sitemap entries for cities with >=10
    # districts; loc mirrors the reference's city-page URL template
    st = _fx(spark, sf_dir, "stadte")
    return (
        st.where(F.size("stadtviertel") >= 10)
        .select(
            "id",
            "stadt",
            F.size("stadtviertel").alias("n_viertel"),
            F.concat(
                F.lit("https://www.immorobo.de/stadt/"), F.lower("stadt")
            ).alias("loc"),
        )
    )


SQL_SITEMAP = f"""
SELECT id, stadt, len(stadtviertel) AS n_viertel,
       concat('https://www.immorobo.de/stadt/', lower(stadt)) AS loc
FROM read_parquet('{_fp("stadte")}')
WHERE len(stadtviertel) >= 10
"""


def q_url_canonicalize(spark, sf_dir):
    """RFC 3986 canonicalization (functions/urls.py) proven cross-engine:
    deterministically MESS UP every page URL (uppercased scheme+host,
    default port, dot-segments, duplicate slashes, fragment, empty
    query) with the same expressions in both engines, then canonicalize —
    the hashes match only if the full chain is byte-identical."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        canonicalize_url,
    )

    p = _fx(spark, sf_dir, "pages").select("url")
    host = F.regexp_extract("url", r"^https?://([^/?#]+)", 1)
    path = F.regexp_replace("url", r"^https?://[^/?#]+", "")
    messy = F.concat(
        F.lit("HTTPS://"), F.upper(host), F.lit(":443//x/../."),
        F.lit("/"), path, F.lit("?#frag"),
    )
    return p.select(
        "url",
        messy.alias("messy"),
        canonicalize_url(messy).alias("canon"),
    )


def _sql_url_canonicalize() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        sql_canonicalize_url,
    )

    messy = (
        "concat('HTTPS://', upper(regexp_extract(url, '^https?://([^/?#]+)', 1)),"
        " ':443//x/../.', '/',"
        " regexp_replace(url, '^https?://[^/?#]+', ''), '?#frag')"
    )
    return f"""
SELECT url, {messy} AS messy, {sql_canonicalize_url(messy)} AS canon
FROM read_parquet('{_fp("pages")}')
"""


def q_content_sniff(spark, sf_dir):
    """Magic-byte MIME sniffing (functions/sniff.py, WHATWG sniffing core
    table) over BOTH binary families the fixture carries: the images
    table (real BMP/PNG/PPM + opaque payloads) and the pages table
    (HTML bodies) — per-mime rollup so the oracle pins every branch."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.sniff import (
        sniff_mime,
    )

    img = _fx(spark, sf_dir, "images").select(
        F.lit("images").alias("src"), sniff_mime(F.col("img")).alias("mime"))
    pg = _fx(spark, sf_dir, "pages").select(
        F.lit("pages").alias("src"),
        sniff_mime(F.col("html")).alias("mime"))
    return img.unionByName(pg).groupBy("src", "mime").agg(
        F.count("*").cast("long").alias("n"))


def _sql_content_sniff() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.functions.sniff import (
        sql_sniff_mime,
    )

    return f"""
WITH u AS (
  SELECT 'images' AS src, {sql_sniff_mime("img")} AS mime
  FROM read_parquet('{_fp("images")}')
  UNION ALL
  SELECT 'pages' AS src, {sql_sniff_mime("html")} AS mime
  FROM read_parquet('{_fp("pages")}')
)
SELECT src, mime, count(*) AS n FROM u GROUP BY src, mime
"""


def q_recrawl_schedule(spark, sf_dir):
    """Recrawl scheduling (operators/recrawl.py, Cho & Garcia-Molina
    2003): per-URL capture history → bias-corrected change-rate MLE →
    clamped refresh interval → staleness priority.  History is derived
    deterministically from each URL's md5 with identical expressions in
    both engines (the multimodal-stub pattern), so the oracle proves the
    estimator/policy math cross-engine."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.recrawl import (
        recrawl_schedule,
    )

    p = _fx(spark, sf_dir, "pages").select("url")
    h = F.md5(F.col("url"))
    stats = p.select(
        "url",
        F.lit(8.0).alias("n_obs"),
        (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % 9)
        .cast("double").alias("n_changes"),
        F.lit(2592000.0).alias("span_s"),
        (F.lit(86400.0)
         + (F.conv(F.substring(h, 3, 5), 16, 10).cast("long") % 2592000)
         .cast("double")).alias("age_s"),
    )
    return recrawl_schedule(stats)


def _sql_recrawl_schedule() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.operators.recrawl import (
        sql_recrawl_schedule,
    )

    stats = f"""(
SELECT url, 8.0 AS n_obs,
       CAST(CAST(concat('0x', substr(md5(url), 1, 2)) AS BIGINT) % 9 AS DOUBLE) AS n_changes,
       2592000.0 AS span_s,
       86400.0 + CAST(CAST(concat('0x', substr(md5(url), 3, 5)) AS BIGINT) % 2592000 AS DOUBLE) AS age_s
FROM read_parquet('{_fp("pages")}')
) stats"""
    return sql_recrawl_schedule(stats)


def q_sitemap_ingest(spark, sf_dir):
    """Sitemap ingest (operators/sitemaps.py): the tier's per-host
    sitemap/sitemap-index documents (fixture ``sitemaps.parquet``,
    derived from the tier's real page URLs by sources/synth.py
    ``_write_discovery``) exploded to frontier candidate rows.  The
    DuckDB oracle replays the block/field extraction with RE2 regexes —
    the fixture XML is single-line, so the Python side's (?s) flag and
    RE2's default dot agree by construction."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sitemaps import (
        sitemap_urls,
    )

    docs = _fx(spark, sf_dir, "sitemaps")
    return sitemap_urls(docs, src_col="url", xml_col="xml")


def _sql_sitemap_ingest() -> str:
    loc = (r"<loc[^>]*>\s*(?:<!\[CDATA\[)?(.*?)(?:\]\]>)?\s*</loc>")
    # mirror operators/sitemaps._ENTITIES order (amp last)
    unesc = "x"
    for ent, rep in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "''"), ("&apos;", "''"), ("&amp;", "&")]:
        unesc = f"replace({unesc}, '{ent}', '{rep}')"
    return f"""
WITH docs AS (
  SELECT url AS src, xml FROM read_parquet('{_fp("sitemaps")}')
), blocks AS (
  SELECT src, unnest(regexp_extract_all(xml, '<url\\b[^>]*>(.*?)</url>', 1)) AS b,
         false AS is_index
  FROM docs
  UNION ALL
  SELECT src, unnest(regexp_extract_all(xml, '<sitemap\\b[^>]*>(.*?)</sitemap>', 1)) AS b,
         true AS is_index
  FROM docs
), fields AS (
  SELECT src, is_index,
         regexp_extract(b, '{loc}', 1) AS rawloc,
         nullif(regexp_extract(b, '<lastmod[^>]*>\\s*(?:<!\\[CDATA\\[)?(.*?)(?:\\]\\]>)?\\s*</lastmod>', 1), '') AS lastmod,
         nullif(regexp_extract(b, '<changefreq[^>]*>\\s*(?:<!\\[CDATA\\[)?(.*?)(?:\\]\\]>)?\\s*</changefreq>', 1), '') AS changefreq,
         try_cast(nullif(regexp_extract(b, '<priority[^>]*>\\s*(?:<!\\[CDATA\\[)?(.*?)(?:\\]\\]>)?\\s*</priority>', 1), '') AS DOUBLE) AS priority
  FROM blocks
)
SELECT src, {unesc.replace('x', 'rawloc')} AS url, lastmod, changefreq,
       priority, is_index
FROM fields WHERE rawloc <> ''
"""


_TINY_CRAWL = {}


def _tiny_crawl(spark):
    """One cached tiny-tier crawl shared by the crawl-derived queries.

    Keyed by applicationId, not id(spark): id() can be reused after a
    session is GC'd, which would hand a stale engine (freed block-manager
    state) to a brand-new session."""
    key = spark.sparkContext.applicationId
    if key not in _TINY_CRAWL:
        from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import CrawlEngine
        from scrapy_crawler_german_real_estate_sites_spark.sources.synth import generate

        fix = generate("tiny", os.path.join(FIX_ROOT, "tiny"))
        eng = CrawlEngine(spark, fix, hour=7)
        eng.run(max_waves=60)
        _TINY_CRAWL[key] = eng
    return _TINY_CRAWL[key]


def q_alerts(spark, sf_dir):
    """S9 (pipelines.py:388-390, telegram.py:3-22): items with images and
    gesamtkosten < 1000 -> alert side-output.  Oracle: the golden
    simulator's expected alerts parquet (see q_crawl_listings)."""
    eng = _tiny_crawl(spark)
    return (
        eng.items_df()
        .where(F.col("alert").isNotNull())
        .select("seed_id", "url", "alert")
    )


SQL_ALERTS = f"""
SELECT seed_id, url, alert FROM read_parquet('{_tiny_fp("expected_alerts")}')
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive closure + keep-one over the MinHash-LSH pair graph
    (operators/cluster.py, alternating large-star/small-star): every doc in
    ≥1 near-dup pair labeled with its cluster's min doc_id; the min is the
    canonical keeper.  Oracle: DuckDB recursive-CTE reachability over the
    same pair set."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.cluster import (
        dedup_clusters,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(docs, threshold=0.1)
    return dedup_clusters(docs, pairs)


# reachability closure over the minhash pair set (the inner WITH…SELECT is
# SQL_MINHASH_LSH verbatim); cluster id = min reachable node (incl. self)
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b AS u, id_a AS v FROM pairs),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS cluster_id,
       (u = least(u, min(v))) AS is_canonical
FROM reach GROUP BY u
"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality filters (functions/textops.py:
    repetition_stats): duplicate-word fraction, most-frequent-bigram mass,
    duplicate-5-gram mass — the boilerplate/template-spam signals a
    training-data pipeline gates on."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        repetition_stats,
    )

    return repetition_stats(_t(spark, sf_dir, "documents"))


SQL_TEXT_REPETITION = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
           FROM documents),
base AS (SELECT doc_id, len(tk) AS n_words, len(list_distinct(tk)) AS n_distinct
         FROM t),
g2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
       FROM t, unnest(generate_series(1, greatest(len(tk) - 1, 1))) AS s(i)),
bi AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
top AS (SELECT doc_id, g AS top_bigram, cnt AS top_cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        FROM bi),
g5 AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
       FROM t, unnest(generate_series(1, greatest(len(tk) - 4, 1))) AS s(i)),
f5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g),
d5 AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * 5 ELSE 0 END) AS dup5_mass
       FROM f5 GROUP BY doc_id)
SELECT b.doc_id AS doc_id, b.n_words AS n_words,
       round(1.0 - b.n_distinct * 1.0 / b.n_words, 6) AS dup_word_frac,
       top.top_bigram AS top_bigram,
       round(top.top_cnt * 2.0 / b.n_words, 6) AS top_bigram_frac,
       round(d5.dup5_mass * 1.0 / b.n_words, 6) AS dup_5gram_frac
FROM base b
JOIN top ON top.doc_id = b.doc_id AND top.rn = 1
JOIN d5 ON d5.doc_id = b.doc_id
"""


BM25_QUERY_TERMS = ["spark", "merge", "vector"]
BM25_K = 20


def q_bm25_search(spark, sf_dir):
    """BM25 top-k lexical search (operators/search.py): postings-list
    dataflow — explode filtered to the query terms pre-shuffle, broadcast
    IDF + corpus scalars, TakeOrderedAndProject top-k."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.search import (
        bm25_topk,
    )

    return bm25_topk(_t(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=BM25_K)


_BM25_IN = ", ".join(f"'{t}'" for t in sorted(BM25_QUERY_TERMS))
SQL_BM25 = f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
           FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM t),
posts AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM t),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM posts
       WHERE term IN ({_BM25_IN}) GROUP BY doc_id, dl, term),
idf AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
        FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats)
SELECT doc_id,
       round(sum(idf * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
FROM tf JOIN idf USING (term), stats
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {BM25_K}
"""


def q_quality_filter(spark, sf_dir):
    """Gopher-style composite quality filter (operators/quality.py, Rae
    et al. 2021 §A1.1 shape): keep/drop + FIRST failing rule per doc.
    Signals reuse textops.repetition_stats (map-side-combinable per-doc
    gram groupBys) plus row-local mean-word-length / stopword-ratio
    expressions; thresholds compare round(…,6) values so the DuckDB
    oracle reproduces decisions bit-for-bit."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.quality import (
        quality_filter,
    )

    return quality_filter(_t(spark, sf_dir, "documents"))


def _sql_quality_filter():
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        LANG_STOPWORDS,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators.quality import (
        DEFAULTS as TH,
    )

    all_hits = " + ".join(
        _sql_word_count(w) for ws in LANG_STOPWORDS.values() for w in ws
    )
    return f"""
WITH t AS (SELECT doc_id, text,
                  regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
           FROM documents),
base AS (SELECT doc_id, len(tk) AS n_words, len(list_distinct(tk)) AS n_distinct
         FROM t),
g2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
       FROM t, unnest(generate_series(1, greatest(len(tk) - 1, 1))) AS s(i)),
bi AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
top AS (SELECT doc_id, cnt AS top_cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        FROM bi),
g5 AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
       FROM t, unnest(generate_series(1, greatest(len(tk) - 4, 1))) AS s(i)),
f5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g),
d5 AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * 5 ELSE 0 END) AS dup5_mass
       FROM f5 GROUP BY doc_id),
rl AS (SELECT doc_id,
              round(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                            x -> length(x))) * 1.0
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                AS mwl,
              round(({all_hits}) * 1.0
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                AS swr
       FROM t),
m AS (SELECT b.doc_id, b.n_words,
             round(1.0 - b.n_distinct * 1.0 / b.n_words, 6) AS dupw,
             round(top.top_cnt * 2.0 / b.n_words, 6) AS topbi,
             round(d5.dup5_mass * 1.0 / b.n_words, 6) AS dup5,
             rl.mwl, rl.swr
      FROM base b
      JOIN top ON top.doc_id = b.doc_id AND top.rn = 1
      JOIN d5 ON d5.doc_id = b.doc_id
      JOIN rl ON rl.doc_id = b.doc_id)
SELECT doc_id, n_words,
       CASE WHEN n_words < {TH["min_words"]} THEN 'too_short'
            WHEN mwl < {TH["min_mwl"]} OR mwl > {TH["max_mwl"]} THEN 'word_len'
            WHEN swr <= 0.0 THEN 'no_stopwords'
            WHEN dupw > {TH["max_dup_word"]} THEN 'dup_words'
            WHEN topbi > {TH["max_top_bigram"]} THEN 'top_bigram'
            WHEN dup5 > {TH["max_dup_5gram"]} THEN 'dup_5gram'
            ELSE 'ok' END AS reason,
       (CASE WHEN n_words < {TH["min_words"]} THEN 'too_short'
             WHEN mwl < {TH["min_mwl"]} OR mwl > {TH["max_mwl"]} THEN 'word_len'
             WHEN swr <= 0.0 THEN 'no_stopwords'
             WHEN dupw > {TH["max_dup_word"]} THEN 'dup_words'
             WHEN topbi > {TH["max_top_bigram"]} THEN 'top_bigram'
             WHEN dup5 > {TH["max_dup_5gram"]} THEN 'dup_5gram'
             ELSE 'ok' END) = 'ok' AS keep
FROM m
"""


LM_VOCAB_CAP = 25  # corpus vocab is 31 — the cap makes OOV scoring real


def q_unigram_nll(spark, sf_dir):
    """CCNet-style unigram-LM scoring (operators/lm.py, Wenzek et al.
    2020): add-one-smoothed unigram LM trained on the corpus (vocab
    capped via a distributed TakeOrderedAndProject), broadcast to score
    every document's mean −ln p(w) and perplexity; OOV tokens hit the
    smoothed floor."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.lm import (
        unigram_nll,
    )

    return unigram_nll(_t(spark, sf_dir, "documents"), vocab_cap=LM_VOCAB_CAP)


SQL_UNIGRAM_NLL = f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
           FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
c AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS n_total, count(*) AS full_vocab FROM c),
konst AS (SELECT (n_total + least(full_vocab, {LM_VOCAB_CAP}) + 1) * 1.0 AS denom
          FROM tot),
vocab AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT {LM_VOCAB_CAP}),
lm AS (SELECT w, ln((c + 1.0) / denom) AS lp FROM vocab, konst),
sc AS (SELECT doc_id, -coalesce(lp, ln(1.0 / denom)) AS nl
       FROM tok LEFT JOIN lm USING (w), konst)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(nl), 6) AS nll,
       round(exp(avg(nl)), 4) AS ppl
FROM sc GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_line_dedup(spark, sf_dir):
    """C4-style cross-corpus line dedup (operators/dedup.py:line_dedup):
    every line of >=5 words that occurs in more than one document keeps
    only its first corpus-wide occurrence (min (doc_id, pos)); documents
    are reassembled in original line order.  Two skew-safe equi-shuffles
    (map-side-combinable keeper groupBy; AQE-splittable join-back)."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        line_dedup,
    )

    return line_dedup(_t(spark, sf_dir, "documents"))


SQL_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id, lang, string_split(text, chr(10)) AS ls FROM documents
), lines AS (
  SELECT doc_id, lang, CAST(len(ls) AS BIGINT) AS n_lines,
         unnest(ls) AS line, unnest(range(0, len(ls))) AS pos
  FROM base
), tagged AS (
  SELECT *, len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5 AS longline,
         doc_id * 1000000 + pos AS occ
  FROM lines
), keep AS (
  SELECT line, min(occ) AS keep_occ FROM tagged WHERE longline GROUP BY line
), kept AS (
  SELECT t.* FROM tagged t LEFT JOIN keep k ON t.line = k.line
  WHERE NOT t.longline OR t.occ = k.keep_occ
)
SELECT doc_id, max(lang) AS lang,
       array_to_string(list(line ORDER BY pos), chr(10)) AS text_dedup,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(max(n_lines) - count(*) AS BIGINT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def q_dedup_normalized(spark, sf_dir):
    """Normalized exact dedup (operators/dedup.py:dedup_normalized):
    lowercase + strip non-letter/digit + collapse whitespace, then one
    map-side-combinable groupBy on the md5 of the canonical form."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        dedup_normalized,
    )

    return dedup_normalized(_t(spark, sf_dir, "documents"))


SQL_DEDUP_NORMALIZED = r"""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS cluster_key,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub (functions/textops.py:redact_pii): emails -> <EMAIL>,
    IPv4 -> <IP>, phone-length digit runs -> <PHONE>, plus per-doc counts.
    Row-local regexp chain, zero shuffle.  The fixture documents carry no
    planted PII, so the query deterministically plants some on every 7th
    doc (mirrored in the oracle) to make the redaction observable."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.textops import (
        pii_counts, redact_pii,
    )

    d = _t(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact: user"), F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."), (F.col("doc_id") % 200).cast("string"),
                F.lit("."), ((F.col("doc_id") * 7) % 250).cast("string"),
                F.lit(" tel "), (F.col("doc_id") + 30000000).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    return planted.select(
        "doc_id",
        *pii_counts(F.col("text")),
        redact_pii(F.col("text")).alias("text_redacted"),
    )


SQL_PII_REDACT = r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                   || '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.' || CAST((doc_id * 7) % 250 AS VARCHAR)
                   || ' tel ' || CAST(doc_id + 30000000 AS VARCHAR)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '\+?\b\d{7,15}\b')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\b\d{7,15}\b', '<PHONE>', 'g') AS text_redacted
FROM planted
"""


def q_domain_cap(spark, sf_dir):
    """Per-domain quota cap (operators/sampling.py:domain_cap): top-3 docs
    per source by n_chars desc (doc_id tie-break) — executes as
    WindowGroupLimit, so the shuffle moves O(sources x 3) rows."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        domain_cap,
    )

    return domain_cap(_t(spark, sf_dir, "documents"), k=3)


SQL_DOMAIN_CAP = """
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= 3
"""


def q_substring_dedup(spark, sf_dir):
    """Duplicated-substring mass per doc (operators/dedup.py:
    substring_dedup) — the ExactSubstr criterion (Lee et al. 2021) as a
    shuffle-friendly rolling-window-hash dataflow: any 12-token span seen
    earlier anywhere in the corpus marks its tokens duplicated; spans are
    interval-unioned per doc."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.dedup import (
        substring_dedup,
    )

    return substring_dedup(_t(spark, sf_dir, "documents"), window=12)


SQL_SUBSTRING_DEDUP = r"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), b AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(greatest(0, len(toks) - 11) AS BIGINT) AS n_windows, toks
  FROM t
), w AS (
  SELECT doc_id, pos,
         md5(array_to_string(toks[pos + 1 : pos + 12], ' ')) AS h,
         doc_id * 1000000 + pos AS occ
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 11)) AS pos
        FROM b WHERE len(toks) >= 12)
), keep AS (
  SELECT h, min(occ) AS keep_occ FROM w GROUP BY h
), dup AS (
  SELECT w.doc_id, w.pos FROM w JOIN keep k ON w.h = k.h WHERE w.occ <> k.keep_occ
), covered AS (
  SELECT doc_id,
         coalesce(least(12, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), 12) AS contrib
  FROM dup
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(contrib) AS BIGINT) AS dup_tokens
  FROM covered GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       coalesce(p.n_dup_windows, 0) AS n_dup_windows,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE)
         / CAST(greatest(1, b.n_tokens) AS DOUBLE) AS dup_frac
FROM b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
"""


def q_corpus_clean(spark, sf_dir):
    """The composed hygiene pipeline (operators/pipeline.py:clean_corpus):
    quality gate → exact dedup → normalized dedup → line dedup → PII
    redaction → split assignment, all cross-engine-verified as ONE query —
    the composition itself is what a refactor breaks silently."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.pipeline import (
        clean_corpus,
    )

    return clean_corpus(_t(spark, sf_dir, "documents"))


def _sql_corpus_clean() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        split_threshold_hex,
    )

    sql = r"""
WITH quality AS MATERIALIZED (
  SELECT doc_id FROM (@QUALITY@) WHERE keep
), s0 AS (
  SELECT d.* FROM documents d JOIN quality q USING (doc_id)
), ex AS (
  SELECT min(doc_id) AS keep_id FROM s0 GROUP BY md5(text)
), s1 AS (
  SELECT s0.* FROM s0 JOIN ex ON s0.doc_id = ex.keep_id
), nm AS (
  SELECT min(doc_id) AS keep_id FROM s1
  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')))
), s2 AS (
  SELECT s1.* FROM s1 JOIN nm ON s1.doc_id = nm.keep_id
), lbase AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2
), llines AS (
  SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS pos FROM lbase
), ltag AS (
  SELECT *, len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5 AS longline,
         doc_id * 1000000 + pos AS occ
  FROM llines
), lkeep AS (
  SELECT line, min(occ) AS keep_occ FROM ltag WHERE longline GROUP BY line
), lkept AS (
  SELECT t.doc_id, t.pos, t.line FROM ltag t LEFT JOIN lkeep k ON t.line = k.line
  WHERE NOT t.longline OR t.occ = k.keep_occ
), ld AS (
  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text_dedup
  FROM lkept GROUP BY doc_id
), s3 AS (
  SELECT s2.doc_id, s2.lang, s2.source, s2.n_chars, ld.text_dedup AS txt
  FROM s2 JOIN ld USING (doc_id)
)
SELECT doc_id, lang, source, n_chars,
       regexp_replace(regexp_replace(regexp_replace(txt,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\b\d{7,15}\b', '<PHONE>', 'g') AS text,
       CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(txt, '\+?\b\d{7,15}\b')) AS BIGINT) AS n_phones,
       CASE WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) < '@THR@'
            THEN 'valid' ELSE 'train' END AS split
FROM s3
"""
    return (
        sql.replace("@QUALITY@", _sql_quality_filter())
        .replace("@THR@", split_threshold_hex(0.05))
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature-based host rebalancing (operators/sampling.py:
    temperature_mix): p_s ∝ n_s^0.6 over the crawl's per-host page
    counts, 60k-page budget, salted-md5 per-row membership — the
    data-mixing step that stops the mega-portals from dominating a
    training corpus.  Oracle mirrors pow/round/threshold byte-for-byte."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.sampling import (
        temperature_mix,
    )

    p = _fx(spark, sf_dir, "pages").select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("source"), "url"
    )
    return temperature_mix(p, alpha=0.6, budget=60_000)


SQL_TEMPERATURE_MIX = f"""
WITH p AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS source, url
  FROM read_parquet('{_fp("pages")}')
), c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_docs FROM p GROUP BY 1),
pw AS (SELECT source, n_docs, pow(n_docs, 0.6) AS pp FROM c),
t AS (SELECT sum(pp) AS tp FROM pw),
d AS (SELECT source, n_docs, pp / (SELECT tp FROM t) AS weight FROM pw),
d2 AS (SELECT source, n_docs, weight,
              least(1.0, round((60000.0 * weight) / n_docs, 9)) AS keep_frac
       FROM d),
d3 AS (SELECT *, printf('%08x', CAST(floor(keep_frac * 4294967296.0) AS BIGINT)) AS thr
       FROM d2),
k AS (SELECT p.source, d3.n_docs, d3.weight, d3.keep_frac,
             CASE WHEN d3.keep_frac >= 1.0
                    OR substr(md5('mix-v1:' || p.url), 1, 8) < d3.thr
                  THEN 1 ELSE 0 END AS kept
      FROM p JOIN d3 USING (source))
SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs, max(weight) AS weight,
       max(keep_frac) AS keep_frac, CAST(sum(kept) AS BIGINT) AS n_kept
FROM k GROUP BY source
"""


def q_link_pagerank(spark, sf_dir):
    """URL-graph PageRank (operators/graph.py): href edges extracted from
    the page HTML by a pure JVM regexp pass, then 8 iterations of the
    standard contributions dataflow with dangling-mass redistribution.
    The crawl-priority centrality a Common-Crawl-scale frontier feeds on.
    Oracle: the identical extraction + 8 unrolled iterations in SQL."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.graph import (
        extract_edges, pagerank,
    )

    return pagerank(extract_edges(_fx(spark, sf_dir, "pages")), iters=8)


def _sql_link_pagerank(iters: int = 8, d: float = 0.85) -> str:
    sql = f"""
WITH raw AS (
  SELECT url AS src,
         regexp_extract(url, '^(https?://[^/]+)', 1) AS base,
         unnest(regexp_extract_all(text, 'href="([^"]+)"', 1)) AS link
  FROM read_parquet('{_fp("pages")}')
), resolved AS (
  SELECT src,
         regexp_replace(
           CASE WHEN link LIKE 'http://%' OR link LIKE 'https://%' THEN link
                WHEN link LIKE '/%' THEN base || link END, '#.*$', '') AS dst
  FROM raw
), edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM resolved WHERE dst IS NOT NULL AND dst <> src
), nodes AS MATERIALIZED (
  SELECT DISTINCT url
  FROM (SELECT src AS url FROM edges UNION ALL SELECT dst AS url FROM edges)
), nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY 1),
r0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    for i in range(iters):
        sql += f""",
dang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.r), 0.0) AS m FROM r{i} r
  LEFT JOIN (SELECT DISTINCT src FROM outdeg) o ON r.url = o.src
  WHERE o.src IS NULL),
c{i} AS MATERIALIZED (
  SELECT e.dst AS url, sum(r.r / o.deg) AS s
  FROM r{i} r JOIN outdeg o ON r.url = o.src JOIN edges e ON e.src = r.url
  GROUP BY 1),
r{i + 1} AS MATERIALIZED (
  SELECT n.url,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(c.s, 0.0) + (SELECT m FROM dang{i}) / (SELECT n FROM nn)) AS r
  FROM nodes n LEFT JOIN c{i} c ON n.url = c.url)"""
    return sql + f"\nSELECT url, r * (SELECT n FROM nn) AS rank_mass FROM r{iters}"


def q_host_pagerank(spark, sf_dir):
    """Host-level PageRank — the domain-authority ranking a web-scale
    frontier budgets hosts by (Common Crawl publishes exactly this as its
    host-level ranks): URL edges rolled up to distinct inter-host pairs
    (`operators/graph.py:host_graph`, self-loops dropped), then the same
    dangling-mass PageRank dataflow as `link_pagerank` for 6 iterations.
    Oracle: identical extraction + host rollup + 6 unrolled iterations."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.graph import (
        extract_edges, host_graph, pagerank,
    )

    hedges = (
        host_graph(extract_edges(_fx(spark, sf_dir, "pages")))
        .where(~F.col("intra"))
        .select(F.col("src_host").alias("src"),
                F.col("dst_host").alias("dst"))
    )
    return pagerank(hedges, iters=6).withColumnRenamed("url", "host")


def _sql_host_pagerank(iters: int = 6, d: float = 0.85) -> str:
    sql = f"""
WITH raw AS (
  SELECT url AS src,
         regexp_extract(url, '^(https?://[^/]+)', 1) AS base,
         unnest(regexp_extract_all(text, 'href="([^"]+)"', 1)) AS link
  FROM read_parquet('{_fp("pages")}')
), resolved AS (
  SELECT src,
         regexp_replace(
           CASE WHEN link LIKE 'http://%' OR link LIKE 'https://%' THEN link
                WHEN link LIKE '/%' THEN base || link END, '#.*$', '') AS dst
  FROM raw
), uedges AS (
  SELECT DISTINCT src, dst FROM resolved WHERE dst IS NOT NULL AND dst <> src
), edges AS MATERIALIZED (
  SELECT DISTINCT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
                  regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
  FROM uedges
  WHERE regexp_extract(src, '^https?://([^/]+)', 1)
        <> regexp_extract(dst, '^https?://([^/]+)', 1)
), nodes AS MATERIALIZED (
  SELECT DISTINCT url
  FROM (SELECT src AS url FROM edges UNION ALL SELECT dst AS url FROM edges)
), nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY 1),
r0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    for i in range(iters):
        sql += f""",
dang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.r), 0.0) AS m FROM r{i} r
  LEFT JOIN (SELECT DISTINCT src FROM outdeg) o ON r.url = o.src
  WHERE o.src IS NULL),
c{i} AS MATERIALIZED (
  SELECT e.dst AS url, sum(r.r / o.deg) AS s
  FROM r{i} r JOIN outdeg o ON r.url = o.src JOIN edges e ON e.src = r.url
  GROUP BY 1),
r{i + 1} AS MATERIALIZED (
  SELECT n.url,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(c.s, 0.0) + (SELECT m FROM dang{i}) / (SELECT n FROM nn)) AS r
  FROM nodes n LEFT JOIN c{i} c ON n.url = c.url)"""
    return sql + (f"\nSELECT url AS host, r * (SELECT n FROM nn) AS rank_mass"
                  f" FROM r{iters}")


def q_anchor_text(spark, sf_dir):
    """Anchor-text aggregation per link target (operators/graph.py):
    in-anchor count, distinct-anchor count, and most-frequent anchor
    (count desc, text asc tie-break) — map-side-combinable (dst, anchor)
    rollup + WindowGroupLimit top-1."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.graph import (
        anchor_text,
    )

    return anchor_text(_fx(spark, sf_dir, "pages"))


SQL_ANCHOR_TEXT = f"""
WITH tags AS (
  SELECT regexp_extract(url, '^(https?://[^/]+)', 1) AS base,
         unnest(regexp_extract_all(text, '<a [^>]*href="[^"]*"[^>]*>[^<]*</a>', 0)) AS tag
  FROM read_parquet('{_fp("pages")}')
), pairs AS (
  SELECT regexp_replace(
           CASE WHEN regexp_extract(tag, 'href="([^"]+)"', 1) LIKE 'http://%'
                  OR regexp_extract(tag, 'href="([^"]+)"', 1) LIKE 'https://%'
                THEN regexp_extract(tag, 'href="([^"]+)"', 1)
                WHEN regexp_extract(tag, 'href="([^"]+)"', 1) LIKE '/%'
                THEN base || regexp_extract(tag, 'href="([^"]+)"', 1) END,
           '#.*$', '') AS dst,
         regexp_extract(tag, '>([^<]*)</a>', 1) AS anchor
  FROM tags
), counts AS (
  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs WHERE dst IS NOT NULL AND anchor <> '' GROUP BY 1, 2
), ranked AS (
  SELECT dst, anchor,
         row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rk,
         sum(cnt) OVER (PARTITION BY dst) AS tot,
         count(*) OVER (PARTITION BY dst) AS uniq
  FROM counts
)
SELECT dst, CAST(tot AS BIGINT) AS n_anchors,
       CAST(uniq AS BIGINT) AS n_unique_anchors, anchor AS top_anchor
FROM ranked WHERE rk = 1
"""


def q_seen_cuckoo(spark, sf_dir):
    """D2 URL-seen membership via the DELETABLE cuckoo sketch
    (operators/cuckoo.py, Fan et al. 2014; reference seen handling
    database.py:27-37,88-98 + liveness delete 125-129) as a standalone
    oracle-backed query: build the sketch distributed over the seen set,
    DELETE a purge subset in place (the op the bloom can't do), then
    flag a candidate stream sketch-first with an exact verify join —
    the output is exact regardless of sketch false positives, so the
    DuckDB oracle is a plain semi-join."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
        build_cuckoo,
        cuckoo_shard_rows,
        decode_entry_payload,
        with_cuckoo_flag,
    )

    pages = _fx(spark, sf_dir, "pages").select("url")
    seen = pages.where(F.length("url") % 3 != 0)
    purged = seen.where(F.length("url") % 5 == 0)
    # build_cuckoo sizes the table from the data (n_buckets_for: ~80%
    # load, so nothing spills into the linearly-probed stash); the size
    # changes nothing semantically — the verify join is the truth
    cf = build_cuckoo(seen)
    # in-place purge: partitions hash dead URLs to compact (bucket, fp)
    # entries, the driver deletes those fingerprints — no rebuild
    for row in cuckoo_shard_rows(purged.coalesce(8), cf.n_buckets).collect():
        cf.delete_entries(*decode_entry_payload(row.entries, row.n))
    surviving = seen.join(purged, "url", "left_anti")
    cand = pages.unionByName(
        pages.where(F.length("url") % 2 == 1)
        .select(F.concat("url", F.lit("-neu")).alias("url")))
    flagged = with_cuckoo_flag(cand, cf, url_col="url")
    # exact verify join: sketch-positive candidates checked against the
    # surviving seen set (sketch is advisory, the join is the truth)
    out = flagged.join(
        surviving.withColumn("in_seen", F.lit(True)), "url", "left")
    return out.select(
        "url",
        (F.col("maybe_seen")
         & F.coalesce("in_seen", F.lit(False))).alias("is_seen"))


def _sql_seen_cuckoo() -> str:
    return f"""
WITH pages AS (SELECT url FROM read_parquet('{_fp("pages")}')),
seen AS (SELECT url FROM pages WHERE length(url) % 3 <> 0),
surviving AS (SELECT url FROM seen WHERE length(url) % 5 <> 0),
cand AS (SELECT url FROM pages
         UNION ALL
         SELECT url || '-neu' AS url FROM pages WHERE length(url) % 2 = 1)
SELECT c.url, (s.url IS NOT NULL) AS is_seen
FROM cand c LEFT JOIN surviving s ON c.url = s.url
"""


def q_url_percent_normalize(spark, sf_dir):
    """RFC 3986 §6.2.2.1–§6.2.2.2 percent-encoding normalization
    (functions/urls.py:normalize_percent_encoding, the opt-in complement
    to the syntax canonicalizer): deterministically percent-encode a
    slice of every page URL's path with LOWERCASE hex (the same
    expressions in both engines), then normalize — hex uppercased,
    unreserved octets decoded back, reserved ones kept.  Cross-engine
    hash equality proves all 78 chained rewrites match."""
    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        normalize_percent_encoding,
    )

    p = _fx(spark, sf_dir, "pages").select("url")
    # mess it up: '/x' -> '%2f%78…' style — encode 'l' 'a' '/' 'e' as
    # lowercase triplets (mixed unreserved + reserved)
    messy = F.col("url")
    for ch, code in (("l", "%6c"), ("a", "%61"), ("/", "%2f"), ("e", "%65")):
        messy = F.replace(messy, F.lit(ch), F.lit(code))
    messy = F.concat(F.lit("https://h.de/"), messy, F.lit("?q=%7e%3f"))
    return p.select(
        "url", messy.alias("messy"),
        normalize_percent_encoding(messy).alias("norm"))


def _sql_url_percent_normalize() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.functions.urls import (
        sql_normalize_percent_encoding,
    )

    messy = "url"
    for ch, code in (("l", "%6c"), ("a", "%61"), ("/", "%2f"), ("e", "%65")):
        messy = f"replace({messy}, '{ch}', '{code}')"
    messy = f"concat('https://h.de/', {messy}, '?q=%7e%3f')"
    return f"""
SELECT url, {messy} AS messy,
       {sql_normalize_percent_encoding(messy)} AS norm
FROM read_parquet('{_fp("pages")}')
"""


_RFC_DIS = ["/intern/", "/*.pdf$", "/li*g", "/x9$"]
_RFC_ALW = ["/intern/pub*", "/li*gs/ok"]


def q_robots_rules(spark, sf_dir):
    """Full RFC 9309 §2.2.2 rule matching
    (operators/politeness.py:robots_filter_rfc): '*' wildcards, trailing
    '$' anchors, most-octets precedence, Allow wins ties — proven
    cross-engine over every page URL (+ a '.pdf' variant per odd URL)
    against a fixed wildcard rule set applied to every host."""
    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        robots_filter_rfc,
    )

    pages = _fx(spark, sf_dir, "pages").select("url")
    netloc = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    links = pages.select(netloc.alias("netloc"), "url").unionByName(
        pages.where(F.length("url") % 2 == 1).select(
            netloc.alias("netloc"),
            F.concat("url", F.lit("/doc.pdf")).alias("url")))
    robots = links.select("netloc").distinct().select(
        "netloc",
        F.array(*[F.lit(r) for r in _RFC_DIS]).alias("disallow_prefixes"),
        F.array(*[F.lit(r) for r in _RFC_ALW]).alias("allow_prefixes"))
    allowed, blocked = robots_filter_rfc(links, robots)
    return (allowed.select("url", F.lit(False).alias("blocked"))
            .unionByName(blocked.select("url", F.lit(True).alias("blocked"))))


def _sql_robots_rules() -> str:
    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        sql_best_match_len,
    )

    dis = "[" + ", ".join(f"'{r}'" for r in _RFC_DIS) + "]"
    alw = "[" + ", ".join(f"'{r}'" for r in _RFC_ALW) + "]"
    path = "regexp_replace(url, '^https?://[^/]+', '')"
    return f"""
WITH pages AS (SELECT url FROM read_parquet('{_fp("pages")}')),
links AS (SELECT url FROM pages
          UNION ALL
          SELECT url || '/doc.pdf' AS url FROM pages
          WHERE length(url) % 2 = 1)
SELECT url,
       coalesce({sql_best_match_len(dis, path)}, -1)
         > coalesce({sql_best_match_len(alw, path)}, -1) AS blocked
FROM links
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is CURATED, not historical — standing rotation
    policy (round-5 verdict item #2):

    * the round driver's correctness harness checks (at most) the FIRST
      50 keys, so every query NEW in round N is placed inside round N's
      window;
    * demotions below the window marker always hold a green
      (rows+schema+hash) row on an EARLIER driver board — round 5
      demotes sorted_scan_limit, event_quantiles, dedup_normalized,
      embedding_neardup, stratified_sample, temperature_mix (all green
      on CORRECTNESS_r04) to make room for the five round-4 queries
      (green only under local check_oracles until now) plus the new
      round-5 seen_cuckoo and url_percent_normalize and
      robots_rules (token_cms and doc_chunk demoted in their stead —
      sketch family keeps host_url_hll, text family keeps 7 rows);
    * redundant entries are RETIRED outright (round 5: the TPC-H trio
      pricing_summary / nation_revenue / top_orders_per_cust — generic
      warm-ups with no SURVEY §2 row — and politeness_window, a window
      proxy strictly subsumed by politeness_select, the actual
      operator).

    The first 50 entries are the representative set: every operator
    family from SURVEY.md §2 plus every LLM-pipeline operator has a row
    inside the window.  `tools/check_oracles.py` still verifies the
    full registry locally.
    """
    return {
        # --- crawl core (S/F/D/P/E/J families) -----------------------
        "url_normalize": q_url_normalize,
        "frontier_init": q_frontier_init,
        "politeness_select": q_politeness_select,
        "viertel_index": q_viertel_index,
        "liveness_gone": q_liveness_gone,
        "robots_filter": q_robots_filter,
        "geocode_enrich": q_geocode_enrich,
        "crawl_listings": q_crawl_listings,
        "sitemap_cities": q_sitemap_cities,
        "alerts": q_alerts,
        "retention_candidates": q_retention_candidates,
        # --- round-4/5 crawl-infrastructure queries ------------------
        "sitemap_ingest": q_sitemap_ingest,
        "url_canonicalize": q_url_canonicalize,
        "recrawl_schedule": q_recrawl_schedule,
        "content_sniff": q_content_sniff,
        "host_pagerank": q_host_pagerank,
        "seen_cuckoo": q_seen_cuckoo,
        "url_percent_normalize": q_url_percent_normalize,
        "robots_rules": q_robots_rules,
        # --- scan/agg representative ---------------------------------
        "event_time_stats": q_event_time_stats,
        # --- sources / sketches / graph / temporal -------------------
        "multimodal_stub": q_multimodal_stub,
        "warc_ingest": q_warc_ingest,
        "host_url_hll": q_host_url_hll,
        "url_traps": q_url_traps,
        "boilerplate": q_boilerplate,
        "capture_diff": q_capture_diff,
        "link_pagerank": q_link_pagerank,
        "anchor_text": q_anchor_text,
        # --- dedup family --------------------------------------------
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "line_dedup": q_line_dedup,
        "substring_dedup": q_substring_dedup,
        "semdedup": q_semdedup,
        # --- filters / text ops --------------------------------------
        "decontaminate": q_decontaminate,
        "quality_filter": q_quality_filter,
        "unigram_nll": q_unigram_nll,
        "text_repetition": q_text_repetition,
        "text_stats": q_text_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "pii_redact": q_pii_redact,
        # --- search / ANN --------------------------------------------
        "bm25_search": q_bm25_search,
        "embedding_topk": q_embedding_topk,
        "embedding_ann_ivf": q_embedding_ann_ivf,
        "embedding_ann_ivfpq": q_embedding_ann_ivfpq,
        # --- sampling / mixing / packing -----------------------------
        "dataset_split": q_dataset_split,
        "domain_cap": q_domain_cap,
        "shard_pack": q_shard_pack,
        # --- end-to-end pipeline (50th = window edge) ----------------
        "corpus_clean": q_corpus_clean,
        # ==== entries below are OUTSIDE the driver's 50-row window ====
        # (each green on an earlier board; see docstring)
        "sorted_scan_limit": q_sorted_scan_limit,
        "token_cms": q_token_cms,
        "doc_chunk": q_doc_chunk,
        "event_quantiles": q_event_quantiles,
        "dedup_normalized": q_dedup_normalized,
        "embedding_neardup": q_embedding_neardup,
        "stratified_sample": q_stratified_sample,
        "temperature_mix": q_temperature_mix,
        "orders_rollup": q_orders_rollup,
        "sessionize": q_sessionize,
        "asof_attribution": q_asof_attribution,
        "event_props": q_event_props,
        "change_detect": q_change_detect,
        "lang_freshness": q_lang_freshness,
        "weighted_sample": q_weighted_sample,
        "host_graph": q_host_graph,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "embedding_ann_pq": q_embedding_ann_pq,
    }


def oracle_sql() -> dict[str, str]:
    # fixture-backed oracles need the fixture on disk — idempotent, cached
    try:
        from scrapy_crawler_german_real_estate_sites_spark.sources.synth import (
            generate,
        )

        generate(ORACLE_TIER, os.path.join(FIX_ROOT, ORACLE_TIER))
        # the crawl-derived oracles read the golden simulator's expected
        # parquet from the tiny tier (written at generate time)
        generate("tiny", os.path.join(FIX_ROOT, "tiny"))
        # the WARC-ingest oracle reads the archive writer's ground truth
        from scrapy_crawler_german_real_estate_sites_spark.sources.warc import (
            warc_fixture,
        )

        warc_fixture(os.path.join(FIX_ROOT, ORACLE_TIER))
    except Exception:
        pass
    return {
        "sorted_scan_limit": SQL_SORTED_SCAN,
        "event_time_stats": SQL_EVENT_STATS,
        "sessionize": SQL_SESSIONIZE,
        "asof_attribution": SQL_ASOF_ATTRIBUTION,
        "event_quantiles": SQL_EVENT_QUANTILES,
        "event_props": SQL_EVENT_PROPS,
        "change_detect": SQL_CHANGE_DETECT,
        "orders_rollup": SQL_ORDERS_ROLLUP,
        "retention_candidates": SQL_RETENTION,
        "url_normalize": SQL_URL_NORMALIZE,
        "frontier_init": SQL_FRONTIER_INIT,
        "politeness_select": SQL_POLITENESS_SELECT,
        "lang_freshness": SQL_LANG_FRESHNESS,
        "viertel_index": SQL_VIERTEL,
        "liveness_gone": SQL_LIVENESS,
        "robots_filter": SQL_ROBOTS,
        "geocode_enrich": SQL_GEOCODE_ENRICH,
        # crawl_listings/alerts: the crawl itself is iterative+stateful, so
        # the DuckDB side reads the GOLDEN SIMULATOR's expected output
        # (plans/simulator.py expected_tables, written at fixture-generate
        # time); the simulator's fidelity to the reference is what
        # tests/test_crawl_parity.py proves
        "crawl_listings": SQL_CRAWL_LISTINGS,
        "alerts": SQL_ALERTS,
        "multimodal_stub": SQL_MULTIMODAL,
        "warc_ingest": _sql_warc_ingest(),
        "host_url_hll": _sql_host_url_hll(),
        "url_traps": _sql_url_traps(),
        "boilerplate": _sql_boilerplate(),
        "token_cms": _sql_token_cms(),
        "weighted_sample": _sql_weighted_sample(),
        "capture_diff": _sql_capture_diff(),
        "host_graph": _sql_host_graph(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
        "dedup_minhash_lsh": SQL_MINHASH_LSH,
        "decontaminate": SQL_DECONTAMINATE,
        "quality_filter": _sql_quality_filter(),
        "unigram_nll": SQL_UNIGRAM_NLL,
        "dedup_simhash": SQL_SIMHASH,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "text_repetition": SQL_TEXT_REPETITION,
        "bm25_search": SQL_BM25,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "embedding_neardup": SQL_EMBEDDING_NEARDUP,
        "embedding_ann_ivf": SQL_EMBEDDING_ANN_IVF,
        "embedding_ann_pq": SQL_EMBEDDING_ANN_PQ,
        "embedding_ann_ivfpq": SQL_EMBEDDING_ANN_IVFPQ,
        "semdedup": SQL_SEMDEDUP,
        "text_stats": _sql_text_stats(),
        "doc_fingerprint": SQL_FINGERPRINT,
        "dataset_split": _sql_dataset_split(),
        "doc_chunk": SQL_DOC_CHUNK,
        "shard_pack": SQL_SHARD_PACK,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "line_dedup": SQL_LINE_DEDUP,
        "dedup_normalized": SQL_DEDUP_NORMALIZED,
        "pii_redact": SQL_PII_REDACT,
        "domain_cap": SQL_DOMAIN_CAP,
        "link_pagerank": _sql_link_pagerank(),
        "anchor_text": SQL_ANCHOR_TEXT,
        "temperature_mix": SQL_TEMPERATURE_MIX,
        "substring_dedup": SQL_SUBSTRING_DEDUP,
        "corpus_clean": _sql_corpus_clean(),
        "sitemap_cities": SQL_SITEMAP,
        "sitemap_ingest": _sql_sitemap_ingest(),
        "url_canonicalize": _sql_url_canonicalize(),
        "recrawl_schedule": _sql_recrawl_schedule(),
        "content_sniff": _sql_content_sniff(),
        "host_pagerank": _sql_host_pagerank(),
        "seen_cuckoo": _sql_seen_cuckoo(),
        "url_percent_normalize": _sql_url_percent_normalize(),
        "robots_rules": _sql_robots_rules(),
    }
