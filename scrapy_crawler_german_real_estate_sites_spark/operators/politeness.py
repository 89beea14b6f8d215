"""Politeness + budget batch selection (SURVEY.md §2.4 P1–P8).

Per iteration ("wave") the engine selects a frontier prefix that respects:

* **per-netloc token buckets** (P1/P2): at most
  ``max_concurrent × ceil(iter_seconds / crawl_delay_s)`` pages per netloc
  per wave — the Spark form of ``CONCURRENT_REQUESTS_PER_DOMAIN=1`` +
  ``DOWNLOAD_DELAY=10`` (settings.py:53-55).  A wave is the engine's unit
  of wall-clock; tokens scale with ``iter_seconds``.
* **FIFO-prefix discipline**: within a seed, only a *prefix* of the
  fifo-ordered pending rows may be selected — this is what makes the
  engine's per-seed fetch order provably identical to Scrapy's FIFO
  scheduler (ordering contract A6).
* **item budget** (P7, ``CLOSESPIDER_ITEMCOUNT``): at most
  ``budget − scraped`` detail rows per seed per wave; rows after the
  cut-off detail (including pagination) are deferred so the budget stop
  lands on exactly the same page as the reference.
* **spider-stop drain** (D3): a seed whose pipeline set ``spider.stop``
  fetches only up to and including its next listing page (which the
  reference fetches and then closes on — immonet.py:82-84).
* ``not_before`` gating (P4: 429-style backoff re-enqueue).

All of it is native window/filter logic — no Python on this path; the
netloc partitioning is also the shuffle key, so one hot portal cannot skew
a wave (north_rule: per-host token buckets per netloc partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_batch(
    pending: DataFrame,
    state: DataFrame,
    robots: DataFrame,
    iter_no: int,
    iter_seconds: float = 10.0,
    default_delay: float = 10.0,
    default_concurrent: int = 1,
    token_scale: float = 1.0,
    delays: DataFrame | None = None,
) -> DataFrame:
    """pending: (seed_id, fifo_seq, url, kind, netloc, meta, not_before, depth)
    state:   (seed_id, scraped, budget, spider_stop, stopped)
    robots:  (netloc, crawl_delay_s, max_concurrent, disallow_prefixes)

    Returns the selected wave batch.  Thin filter over :func:`tag_batch`
    (single source of truth for the selection semantics — the engine uses
    the tagged form directly so one checkpoint carries batch + remainder).
    """
    return tag_batch(
        pending, state, robots, iter_no,
        iter_seconds=iter_seconds, default_delay=default_delay,
        default_concurrent=default_concurrent, token_scale=token_scale,
        delays=delays,
    ).where(F.col("sel")).drop("sel")


def tag_batch(
    pending: DataFrame,
    state: DataFrame,
    robots: DataFrame,
    iter_no: int,
    iter_seconds: float = 10.0,
    default_delay: float = 10.0,
    default_concurrent: int = 1,
    token_scale: float = 1.0,
    delays: DataFrame | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Fused form of :func:`select_batch`: returns the pending set (minus
    stopped seeds) with a boolean ``sel`` column marking the wave batch,
    instead of returning only the selected rows.

    One checkpoint of this result replaces TWO per-wave engine jobs — the
    batch-select materialization at wave start and the frontier anti-join
    ("remove fetched rows") at wave end become complementary filters over
    the same cached blocks.  Semantics are identical to ``select_batch``:
    the cumulative budget/listing windows count only rows eligible at this
    wave (``not_before`` gate), and the bounded-mode token bucket ranks
    only rows that survived the budget filters (conditional cumulative sum
    ≡ row_number over the filtered subset).  Exception: in drain mode
    (``iter_seconds >= 1e5`` with ``token_scale >= 1``) the per-netloc
    token bucket is skipped by design, so very large robots crawl delays
    are ignored rather than yielding a tiny-but-binding token count.
    """
    p = pending.join(F.broadcast(state), "seed_id").where(~F.col("stopped"))
    elig = F.col("not_before") <= F.lit(iter_no)

    # ``order_cols`` (default FIFO) is the drain discipline: the budget /
    # listing prefixes and the token bucket all rank by it.  The engine
    # passes ["_prio", "fifo_seq"] in priority mode (P11+PageRank wiring,
    # plans/crawl.py) — fifo_seq stays as the deterministic tie-break.
    order = order_cols or ["fifo_seq"]
    w = Window.partitionBy("seed_id").orderBy(*order)
    w_excl = w.rowsBetween(Window.unboundedPreceding, -1)
    is_det = (F.col("kind").isin("detail", "detail2") & elig).cast("int")
    is_listing = ((F.col("kind") == "listing") & elig).cast("int")
    cum_det_excl = F.coalesce(F.sum(is_det).over(w_excl), F.lit(0))
    cum_lst_excl = F.coalesce(F.sum(is_listing).over(w_excl), F.lit(0))

    remaining = F.col("budget") - F.col("scraped")
    presel = (
        elig
        & (cum_det_excl < remaining)
        & (~F.col("spider_stop") | (cum_lst_excl == 0))
    )
    p = p.withColumn("presel", presel)

    # per-netloc token bucket.  Fast path: iter_seconds >= 1e5 is the
    # engine's explicit "politeness-unbounded" sentinel (drain mode /
    # throughput benchmarking) — the token bucket is DISABLED there BY
    # DESIGN, skipping the netloc window entirely: it partitions by netloc
    # (13 German portals = 13 partitions), a skewed low-parallelism shuffle
    # that would serialize the wave at any cluster size.  Note this is not
    # "provably non-binding": a robots crawl_delay_s near a day still
    # yields ~ceil(1e5/86400)*concurrent tokens, which could bind — drain
    # mode intentionally ignores crawl delays.  token_scale < 1 is an
    # explicit request for scaled-down politeness, so it always takes the
    # real bucket.
    if iter_seconds < 1e5 or token_scale < 1.0:
        p = p.join(
            F.broadcast(robots.select("netloc", "crawl_delay_s", "max_concurrent")),
            "netloc",
            "left",
        )
        delay_expr = F.coalesce(F.col("crawl_delay_s"), F.lit(default_delay))
        if delays is not None:
            # P3 AutoThrottle: the folded per-netloc delay can only SLOW a
            # host below its static/robots rate, never speed it up
            p = p.join(
                F.broadcast(delays.select("netloc", "delay_s")), "netloc", "left"
            )
            delay_expr = F.greatest(
                F.coalesce(F.col("delay_s"), F.lit(0.0)), delay_expr
            )
        tokens = (
            F.ceil(F.lit(iter_seconds) / delay_expr)
            * F.coalesce(F.col("max_concurrent"), F.lit(default_concurrent))
            * F.lit(token_scale)
        ).cast("long")
        wn = Window.partitionBy("netloc").orderBy(*order, "seed_id")
        cum_sel = F.sum(F.col("presel").cast("long")).over(
            wn.rowsBetween(Window.unboundedPreceding, 0)
        )
        p = p.withColumn("sel", F.col("presel") & (cum_sel <= tokens))
    else:
        p = p.withColumn("sel", F.col("presel"))

    return p.select(*pending.columns, "sel")


def robots_filter(links: DataFrame, robots: DataFrame):
    """P5 (north_rule): drop candidate links whose path starts with a
    disallowed prefix for their netloc.  Returns (allowed, blocked)."""
    l = links.join(
        F.broadcast(robots.select("netloc", "disallow_prefixes")), "netloc", "left"
    )
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    blocked_cond = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda pfx: path.startswith(pfx),
    )
    allowed = l.where(~blocked_cond).drop("disallow_prefixes")
    blocked = l.where(blocked_cond).drop("disallow_prefixes")
    return allowed, blocked


# ---------------------------------------------------------------------------
# P5 full RFC 9309 §2.2.2 rule matching — wildcards + longest-match
# precedence.  The prefix filter above is the engine's hot-path default
# (and mirrors the reference's effective behavior); this is the complete
# spec semantics every major crawler implements: rules may contain ``*``
# (any octet sequence) and a trailing ``$`` (end-of-path anchor), the
# matching rule with the MOST OCTETS wins, and on a tie the least
# restrictive (Allow) rule wins.
# ---------------------------------------------------------------------------

_RX_ESCAPE = list("\\.[]{}()+?^|")  # backslash FIRST; '*' and '$' special


def _rule_regex(rule):
    """robots path pattern (Column) → anchored regex string (Column),
    shared Java∩RE2 output: specials escaped, ``*`` → ``.*``, a TRAILING
    ``$`` kept as the end anchor (mid-pattern ``$`` is literal)."""
    x = rule
    for ch in _RX_ESCAPE:
        x = F.replace(x, F.lit(ch), F.lit("\\" + ch))
    x = F.replace(x, F.lit("$"), F.lit("\\$"))
    # restore the trailing anchor ('$' in a Java replacement is a group
    # ref, so it must itself be escaped there)
    x = F.regexp_replace(x, r"\\\$$", "\\$")
    x = F.replace(x, F.lit("*"), F.lit(".*"))
    return F.concat(F.lit("^"), x)


def _best_match_len(rules, path):
    """Longest matching rule's octet count (original rule text), NULL if
    none match — array higher-order functions, no explode, no UDF."""
    matched = F.filter(
        F.coalesce(rules, F.array()),
        lambda r: F.regexp_like(path, _rule_regex(r)),
    )
    return F.array_max(F.transform(matched, lambda r: F.octet_length(r)))


def robots_filter_rfc(links: DataFrame, robots: DataFrame):
    """Full RFC 9309 verdict per link: blocked iff the longest matching
    Disallow rule is strictly longer than the longest matching Allow rule
    (no matching rule at all → allowed).  Same (allowed, blocked) shape
    as :func:`robots_filter`; expects the robots table to carry BOTH
    ``disallow_prefixes`` and ``allow_prefixes`` (as
    ``operators/robotstxt.py:parse_robots`` emits)."""
    l = links.join(
        F.broadcast(robots.select(
            "netloc", "disallow_prefixes", "allow_prefixes")),
        "netloc", "left",
    )
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    dis = F.coalesce(_best_match_len(F.col("disallow_prefixes"), path),
                     F.lit(-1))
    alw = F.coalesce(_best_match_len(F.col("allow_prefixes"), path),
                     F.lit(-1))
    blocked_cond = dis > alw
    drop = ["disallow_prefixes", "allow_prefixes"]
    return (l.where(~blocked_cond).drop(*drop),
            l.where(blocked_cond).drop(*drop))


# ---------------------------------------------------------------------------
# P3: AutoThrottle — latency-feedback delay controller
# ---------------------------------------------------------------------------
# The reference ENABLES AutoThrottle (settings.py:95-104:
# AUTOTHROTTLE_ENABLED=True, START_DELAY=5, MAX_DELAY=35, target
# concurrency default 1.0) with DOWNLOAD_DELAY=10 as the floor, so its
# effective per-slot delay lives in [10, 35] and follows Scrapy's
# published adjustment rule (scrapy/extensions/throttle.py):
#
#   target_delay = latency / target_concurrency
#   new = (prev + target_delay) / 2
#   new = max(target_delay, new)            # never undershoot the target
#   new = clamp(new, min_delay, max_delay)
#   non-OK responses may only increase the delay
#
# Scrapy folds this per response inside one process; the distributed form
# folds it per netloc over the wave's responses in fetch order
# (applyInPandas — each netloc's fold is a tiny sequential scalar loop),
# returning O(netlocs) rows to the driver, which feeds the next wave's
# token bucket.

AT_START_DELAY = 5.0
AT_MAX_DELAY = 35.0
AT_TARGET_CONCURRENCY = 1.0


def autothrottle_update(
    prev_delay: float,
    latency: float,
    ok: bool = True,
    min_delay: float = 10.0,
    max_delay: float = AT_MAX_DELAY,
    target_concurrency: float = AT_TARGET_CONCURRENCY,
) -> float:
    """One response's delay adjustment (Scrapy's _adjust_delay rule)."""
    target = latency / target_concurrency
    new = (prev_delay + target) / 2.0
    new = max(target, new)
    new = min(max(min_delay, new), max_delay)
    if not ok and new <= prev_delay:
        return prev_delay
    return new


def autothrottle_fold(
    responses: DataFrame,
    start_delays: dict | None = None,
    min_delay: float = 10.0,
    max_delay: float = AT_MAX_DELAY,
    target_concurrency: float = AT_TARGET_CONCURRENCY,
) -> dict:
    """Fold :func:`autothrottle_update` over one wave's responses.

    responses: (netloc, fifo_seq, latency_s, ok) — the wave's fetched rows.
    start_delays: {netloc: delay} carried from the previous wave (absent
    netlocs start at AT_START_DELAY, like a fresh Scrapy slot).

    Each netloc's fold runs where its rows live (``applyInPandas`` keyed
    by netloc — the same partitioning as the token bucket), and exactly
    one (netloc, delay) row per HOST crosses to the driver: O(netlocs)
    driver state, consistent with the engine's O(seeds) doctrine.
    """
    import pandas as pd

    starts = dict(start_delays or {})

    def fold(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        d = starts.get(key[0], AT_START_DELAY)
        for row in pdf.sort_values("fifo_seq").itertuples(index=False):
            d = autothrottle_update(
                d, float(row.latency_s), bool(row.ok),
                min_delay=min_delay, max_delay=max_delay,
                target_concurrency=target_concurrency,
            )
        return pd.DataFrame({"netloc": [key[0]], "delay_s": [d]})

    out = (
        responses.select("netloc", "fifo_seq", "latency_s", "ok")
        .groupBy("netloc")
        .applyInPandas(fold, "netloc string, delay_s double")
        .collect()
    )
    new = dict(starts)
    new.update({r["netloc"]: r["delay_s"] for r in out})
    return new


def sql_rule_regex(var: str) -> str:
    """The :func:`_rule_regex` chain as a DuckDB expression over lambda
    variable ``var`` (oracle mirror; same escape list, same anchor/
    wildcard order)."""
    x = var
    for ch in _RX_ESCAPE:
        e = ch.replace("'", "''")
        x = f"replace({x}, '{e}', '\\{e}')"
    x = f"replace({x}, '$', '\\$')"
    x = f"regexp_replace({x}, '\\\\\\$$', '$')"
    x = f"replace({x}, '*', '.*')"
    return f"concat('^', {x})"


def sql_best_match_len(rules_sql: str, path_sql: str) -> str:
    """DuckDB mirror of :func:`_best_match_len` (NULL if none match)."""
    return (f"list_max(list_transform(list_filter({rules_sql}, "
            f"r -> regexp_matches({path_sql}, {sql_rule_regex('r')})), "
            f"r -> strlen(r)))")
