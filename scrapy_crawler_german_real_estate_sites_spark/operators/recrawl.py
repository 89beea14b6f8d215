"""Recrawl scheduling — change-rate estimation + refresh intervals
(Cho & Garcia-Molina, "Effective page refresh policies for web crawlers",
ACM TODS 2003).

A 10^10-URL frontier cannot re-fetch everything; it allocates its fetch
budget by how often each page actually changes.  The standard machinery:

* **Change-rate estimate** from capture history.  For a page observed
  ``n`` times over span ``T`` with ``X`` detected changes, the naive
  ``X/T`` is biased low (a change between two captures can hide several);
  Cho & Garcia-Molina's bias-corrected MLE is

      λ̂ = −ln( (n − X + 0.5) / (n + 0.5) ) · n / T

  (their Estimator 4.2 with the +0.5 continuity correction, defined even
  at X = n).  The signal (url, n, X) is exactly what
  ``operators/temporal.py:capture_diff`` emits per snapshot pair, folded
  over history.

* **Refresh interval** ∝ 1/λ̂ clamped to a policy band — the
  uniform-allocation rule (their §5: under a freshness objective the
  optimal interval is monotone in 1/λ; the proportional rule is the
  standard operating point, with the clamp absorbing the "don't chase
  pathological pages" correction they prove for very hot pages).

* **Priority** = age/interval — a dimensionless staleness ratio ≥ 1 when
  a page is due; the frontier drains by descending priority (and this
  column is exactly what ``CrawlEngine(priority_ranks=…)`` accepts as
  ``rank_mass``).

All expression-only (whole-stage codegen, DuckDB-mirrorable — query
``recrawl_schedule``).  The two engines emit bit-identical values: λ̂ is
the only value computed through ``ln``, which Spark (Java) and DuckDB (C)
may return a few ULPs apart, and it is rounded to ``LAMBDA_DP`` decimals,
which absorbs that difference.  Every later column is derived from the
rounded λ̂ by division, min/max and comparison only, which IEEE 754 makes
exact in both engines, and is not rounded again: a decimal rounding of an
exact quotient (``age_s / 2592000`` for ``age_s = 162162`` is 0.0625625)
can land on a tie, which Spark (half-up on the shortest decimal) and
DuckDB (``round(x * 10^d) / 10^d``) break differently."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decimals of the emitted λ̂ (per second).  Rates of interest run from
# ~4e-7/s (monthly) up; at a weekly rate an interval derived from a λ̂
# rounded to 14 decimals would already move by ~2 ms, at 15 by ~0.2 ms
LAMBDA_DP = 15


def change_rate(n_obs: Column, n_changes: Column, span_s: Column) -> Column:
    """λ̂ per second (Cho–GM bias-corrected MLE; 0 when nothing ever
    changed, well-defined at X = n via the continuity correction).
    Written as ``ln(b/a)``, not ``−ln(a/b)``, so that X = 0 gives +0.0 and
    not −0.0."""
    return (
        F.log((n_obs + F.lit(0.5)) / (n_obs - n_changes + F.lit(0.5)))
        * n_obs / span_s
    )


def recrawl_schedule(
    stats: DataFrame,
    min_interval_s: float = 3600.0,
    max_interval_s: float = 30 * 86400.0,
    url_col: str = "url",
) -> DataFrame:
    """(url, n_obs, n_changes, span_s, age_s) → (url, lambda_hat,
    interval_s, priority, due).

    ``lambda_hat`` is λ̂ rounded to ``LAMBDA_DP`` decimals, and the rest
    derive from it: ``interval_s`` = clamp(1/λ̂, band); pages with λ̂ = 0
    (never seen to change) sit at the band maximum.  ``priority`` =
    age_s/interval_s; ``due`` = priority ≥ 1."""
    lam = F.round(
        change_rate(F.col("n_obs"), F.col("n_changes"), F.col("span_s")),
        LAMBDA_DP)
    interval = F.when(
        lam <= 0, F.lit(float(max_interval_s))
    ).otherwise(
        F.least(
            F.lit(float(max_interval_s)),
            F.greatest(F.lit(float(min_interval_s)), F.lit(1.0) / lam),
        )
    )
    prio = F.col("age_s") / interval
    return stats.select(
        F.col(url_col).alias("url"),
        lam.alias("lambda_hat"),
        interval.alias("interval_s"),
        prio.alias("priority"),
        (prio >= 1.0).alias("due"),
    )


def sql_recrawl_schedule(src: str, min_interval_s: float = 3600.0,
                         max_interval_s: float = 30 * 86400.0) -> str:
    """DuckDB mirror of :func:`recrawl_schedule` over relation ``src``
    providing (url, n_obs, n_changes, span_s, age_s)."""
    lam = ("round(ln((n_obs + 0.5)/(n_obs - n_changes + 0.5)) * n_obs / span_s,"
           f" {LAMBDA_DP})")
    interval = (
        f"CASE WHEN {lam} <= 0 THEN {max_interval_s!r}::DOUBLE "
        f"ELSE least({max_interval_s!r}::DOUBLE, "
        f"greatest({min_interval_s!r}::DOUBLE, 1.0/{lam})) END"
    )
    return f"""
SELECT url,
       {lam} AS lambda_hat,
       {interval} AS interval_s,
       age_s / ({interval}) AS priority,
       (age_s / ({interval})) >= 1.0 AS due
FROM {src}
"""
