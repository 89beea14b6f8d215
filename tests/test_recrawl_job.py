"""Adaptive recrawl loop end-to-end (jobs/recrawl_job.py): capture
history → Cho–GM schedule → due URLs → politeness-bounded refresh waves
→ refreshed captures + next-cycle stats.  Pins the headline property:
pages that CHANGE get refreshed earlier than static ones."""

import json
import os

import pytest


def _write_fixture(spark, tmp_path, extra_pages=()):
    """Two hosts x 12 urls: per host 4 HOT (changed 6/8 observations),
    4 WARM (changed 1/8), 4 STATIC (never changed).  Ages chosen so hot
    and warm are due (priority >= 1) and static is not.  ``extra_pages``
    rows are appended to the pages table as they are."""
    rows, pages = [], list(extra_pages)
    for h in ("a.de", "b.de"):
        for i in range(4):
            u = f"https://{h}/hot/{i}"
            rows.append((u, 8.0, 6.0, 2_592_000.0, 2_000_000.0, "old"))
            pages.append((u, f"<html>hot {h} {i} NEW</html>"))
        for i in range(4):
            u = f"https://{h}/warm/{i}"
            # λ̂ ≈ 3.86e-7 → interval ≈ 2.59e6 s; age 3e6 → priority ≈ 1.16
            # (due, but far below hot's ≈ 7.6)
            rows.append((u, 8.0, 1.0, 2_592_000.0, 3_000_000.0, "old"))
            pages.append((u, f"<html>warm {h} {i}</html>"))
        for i in range(4):
            u = f"https://{h}/static/{i}"
            rows.append((u, 8.0, 0.0, 2_592_000.0, 500_000.0, "old"))
            pages.append((u, f"<html>static {h} {i}</html>"))
    stats = spark.createDataFrame(
        rows, "url string, n_obs double, n_changes double, span_s double,"
              " age_s double, last_digest string")
    stats_p = str(tmp_path / "stats.parquet")
    stats.write.mode("overwrite").parquet(stats_p)
    pages_dir = str(tmp_path / "pagesdir")
    spark.createDataFrame(pages, "url string, html string") \
        .write.mode("overwrite").parquet(
            os.path.join(pages_dir, "pages.parquet"))
    return stats_p, pages_dir


def test_recrawl_job_changed_pages_refresh_earlier(spark, tmp_path, capsys):
    from jobs.recrawl_job import main

    stats_p, pages_dir = _write_fixture(spark, tmp_path)
    out = str(tmp_path / "out")
    # iter_seconds=10 at the 10 s default delay -> ONE fetch per host per
    # wave: the drain order IS the priority order, observable per wave
    main(["--stats", stats_p, "--pages-dir", pages_dir, "--out", out,
          "--iter-seconds", "10", "--max-waves", "12"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    caps = {r.url: r for r in
            spark.read.parquet(os.path.join(out, "captures")).collect()}
    hot = [u for u in caps if "/hot/" in u]
    warm = [u for u in caps if "/warm/" in u]
    static = [u for u in caps if "/static/" in u]

    # static pages are not due at all; hot + warm are
    assert not static
    assert len(hot) == 8 and len(warm) == 8
    assert summary["due"] == 16 and summary["fetched"] == 16
    # the adaptive ordering: EVERY hot page refreshes in an earlier wave
    # than every warm page on its host (1 token/host/wave)
    for h in ("a.de", "b.de"):
        hmax = max(caps[u].wave for u in hot if h in u)
        wmin = min(caps[u].wave for u in warm if h in u)
        assert hmax < wmin, (h, hmax, wmin)
    # changed flags come from the digest comparison vs last_digest
    assert all(caps[u].changed for u in hot + warm)  # digest != "old"

    # loop closure: next-cycle stats advanced only for re-fetched rows
    nxt = {r.url: r for r in
           spark.read.parquet(os.path.join(out, "stats_next")).collect()}
    for u in hot + warm:
        assert nxt[u].n_obs == 9.0
        assert nxt[u].n_changes in (2.0, 7.0)  # incremented by 1
        assert nxt[u].age_s == 0.0
        assert nxt[u].span_s == (4_592_000.0 if u in hot else 5_592_000.0)
        assert nxt[u].last_digest != "old"
    for u in (set(nxt) - set(caps)):
        assert nxt[u].n_obs == 8.0 and nxt[u].age_s == 500_000.0
        assert nxt[u].last_digest == "old"


def test_recrawl_job_second_cycle_converges(spark, tmp_path, capsys):
    """Feeding stats_next back in: re-fetched pages have age 0, so
    nothing is due — the adaptive loop idles instead of re-fetching
    (the anti-thundering-herd property a fixed cron lacks)."""
    from jobs.recrawl_job import main

    stats_p, pages_dir = _write_fixture(spark, tmp_path)
    out1 = str(tmp_path / "o1")
    main(["--stats", stats_p, "--pages-dir", pages_dir, "--out", out1])
    capsys.readouterr()
    out2 = str(tmp_path / "o2")
    main(["--stats", os.path.join(out1, "stats_next"),
          "--pages-dir", pages_dir, "--out", out2])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["due"] == 0 and summary["fetched"] == 0


def test_recrawl_job_duplicate_page_rows(spark, tmp_path, capsys):
    """A url stored twice in pages, with the same or a different body, is
    one capture and one next-cycle stats row, advanced once."""
    from jobs.recrawl_job import main

    dups = [("https://a.de/hot/0", "<html>hot a.de 0 NEW</html>"),
            ("https://a.de/warm/0", "<html>warm a.de 0 v2</html>")]
    stats_p, pages_dir = _write_fixture(spark, tmp_path, extra_pages=dups)
    out = str(tmp_path / "out")
    main(["--stats", stats_p, "--pages-dir", pages_dir, "--out", out,
          "--iter-seconds", "10", "--max-waves", "12"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["fetched"] == 16

    caps = spark.read.parquet(os.path.join(out, "captures")).collect()
    assert len(caps) == len({r.url for r in caps}) == 16
    nxt = spark.read.parquet(os.path.join(out, "stats_next")).collect()
    assert len(nxt) == len({r.url for r in nxt}) == 24
    for r in nxt:
        if r.url in {u for u, _ in dups}:
            assert r.n_obs == 9.0 and r.age_s == 0.0
