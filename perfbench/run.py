"""Crawl benchmark for ``CrawlEngine``.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 30 --trace 0

Each run is one fresh driver process at ``local[nproc]``: it starts the
JVM, builds a ``CrawlEngine`` over a fixture written from the seed, crawls
once, checks the output against ``plans/simulator.py`` and prints one JSON
line last on stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a separate traced run (Spark event
log on, per-seed fetch order collected, checkpoint and recovery, standalone
layer probes).

Load model: a closed-loop batch job, like the reference's cron run.  A run
is one whole crawl (``drain``) or window of waves (``polite``), whatever
``--seconds`` says: repeating it would add a JVM start and more waves of
the same kind per unit, and one crawl already measures 30-45 s on a
4-core host.  JVM start and the cold first wave are counted, because every
cron run pays them.

Workloads (every seed samples a fixed number of seed rows per portal from
the ``sf0.01`` synthetic tier, so seeds differ in content, not in size):

* ``drain`` -- 420 of the 450 seeds of each large portal (all of the two
  smaller ones), politeness-unbounded waves: the per-URL parse, pipeline
  and seen work is largest here.
* ``polite`` -- 4 seeds per portal at the reference's politeness budget
  (10 s crawl delay, 1 request per netloc, 30 s waves): about 3 URLs per
  netloc per wave, so the fixed per-wave cost does nearly all the work.
  The crawl would take ~100 waves to drain; a run measures the first 10.
  Its expected output is the simulator's items for the URLs the engine
  fetched in the window, and those URLs must be a prefix of each seed's
  simulated fetch order.

The golden output is the simulator's crawl of every seed of the base tier,
computed once per package source digest (in ``nproc`` processes; seeds
are independent) and cached; a run takes the seeds it sampled.  Item text
per seed and URL, and the final seen set, must equal the simulator's; the
traced run also checks per-seed fetch order and the seen set after a
checkpoint, a recovery in a fresh engine and a purge of 10% of it.  A
mismatch, or counts that differ from an earlier run of the same seed on
the same code, make the run exit 1.

Run records (host fingerprint, per-wave table, spans, event-log totals) go
to ``.perfbench/out/`` in the checkout; the benchmark reads and writes
nothing outside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import pickle
import platform
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

T_START = time.time()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PKG = "scrapy_crawler_german_real_estate_sites_spark"
BASE_TIER = "sf0.01"
HOUR = 7

WORKLOADS = {
    "drain": {"per_portal": 420, "engine": {}, "max_waves": None},
    "polite": {"per_portal": 4, "engine": {"iter_seconds": 30.0},
               "max_waves": 10},
}
PURGE_FRAC = 0.10
RECOVERIES = 3  # traced: crawl.resume_from_s is the median of this many
PROBE_UNSEEN = 20_000  # unseen URLs per sketch false-positive probe
KERNEL_SEEDS = 200  # traced: seeds in the single-process simulate probe

END_TO_END = {"setup_s": "s", "urls_per_s": "1/s", "wave_p50_s": "s"}
# reported in the run record and on stderr, but not gated: no run has
# enough waves for a tail percentile, resident memory follows the JVM's
# heap sizing, and the two fractions are zero on every correct run
REPORTED = {
    "wave_tail_s": "s", "peak_rss_mb": "MB",
    "item_mismatch_frac": "frac", "op_fail_frac": "frac",
}
PER_LAYER = {
    "tables.get_spark_s": "s", "tables.checkpoint_s": "s",
    "crawl.init_s": "s", "crawl.jobs_per_wave": "count",
    "crawl.stages_per_wave": "count", "crawl.tasks_per_wave": "count",
    "crawl.exec_busy_frac": "frac", "crawl.task_cpu_s": "s",
    "crawl.gc_s": "s", "crawl.shuffle_bytes": "B", "crawl.spill_bytes": "B",
    "crawl.resume_from_s": "s", "crawl.purge_s": "s",
    "crawl.items_df_s": "s", "crawl.waves": "count",
    "crawl.fetched": "count", "crawl.items": "count",
    "crawl.new_links": "count", "crawl.dups_filtered": "count",
    "crawl.robots_blocked": "count", "crawl.inserted": "count",
    "crawl.dup_frac": "frac", "kernel.us_per_url": "us",
    "parse.us_core_per_url": "us", "parse.boundary_x": "x",
    "politeness.tag_s": "s", "politeness.tag_rows_in": "count",
    "politeness.sel_rows": "count", "seen.bloom_build_s": "s",
    "seen.bloom_flag_us_per_url": "us", "seen.bloom_fp_frac": "frac",
    "seen.cuckoo_build_s": "s", "seen.cuckoo_flag_us_per_url": "us",
    "seen.cuckoo_fp_frac": "frac", "seen.cuckoo_delete_us_per_url": "us",
    "seen.cuckoo_load": "frac",
}
COUNT_KEYS = ("waves", "fetched", "items", "inserted")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class Tracer:
    """Spans around every timed call into a layer: name, start, end and the
    enclosing span.  Every span is one attempted operation; a span whose
    body raised is a failed one."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        except BaseException:
            rec["failed"] = True
            raise
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()

    def durations(self, name):
        return [s["dur"] for s in self.spans if s["name"] == name]

    @property
    def failed(self):
        return sum(1 for s in self.spans if s.get("failed"))


# ---------------------------------------------------------------- host
def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_heap() -> str:
    """A quarter of host RAM, between 1 and 8 GiB: the JVM shares the host
    with the Python workers and the benchmark's own process."""
    mb = host_ram_bytes() // 4 // (1 << 20)
    return f"{max(1024, min(8192, mb))}m"


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def children(pid) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:  # the process ended while being read
        pass
    return out + [d for c in out for d in children(c)]


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        p = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        return None
    return ref


# ------------------------------------------------------------- fixture
def read_seeds(base: str) -> list:
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(base, "seeds.parquet")).to_pylist()
    return sorted(rows, key=lambda r: r["seed_id"])


def read_pages(base: str) -> dict:
    import pyarrow.parquet as pq

    pages = pq.read_table(os.path.join(base, "pages.parquet"),
                          columns=["url", "text"])
    return dict(zip(pages.column("url").to_pylist(),
                    pages.column("text").to_pylist()))


def read_stadte(base: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(base, "stadte.parquet")).to_pylist()


def write_fixture(base: str, workload: str, seed: int) -> tuple:
    """Sample ``per_portal`` seed rows per portal from the base tier and
    write a fixture directory holding that sample; pages, cities and
    robots rules are the whole base tier's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = WORKLOADS[workload]
    schema = pq.read_schema(os.path.join(base, "seeds.parquet"))
    by_portal: dict = {}
    for row in read_seeds(base):
        by_portal.setdefault(row["portal"], []).append(row)
    rng = random.Random(f"perfbench|{workload}|{seed}")
    sample = sorted(
        (r for p in sorted(by_portal)
         for r in rng.sample(by_portal[p], min(spec["per_portal"],
                                               len(by_portal[p])))),
        key=lambda r: r["seed_id"])
    fix = os.path.join(WORK, "fix", f"{workload}-{seed}")
    shutil.rmtree(fix, ignore_errors=True)
    os.makedirs(fix)
    pq.write_table(pa.Table.from_pylist(sample, schema=schema),
                   os.path.join(fix, "seeds.parquet"))
    for name in ("pages", "stadte", "robots"):
        shutil.copyfile(os.path.join(base, f"{name}.parquet"),
                        os.path.join(fix, f"{name}.parquet"))
    return fix, sample


# -------------------------------------------------------------- golden
_SIM_INPUT: tuple = ()  # (pages, stadte), set before the pool forks


def simulate_seeds(seeds, pages, stadte) -> dict:
    """seed -> ([(url, kind)] fetched, [(url, item_json, seen_url)]) in the
    simulator's order.  Fixture URLs are disjoint across seeds, so seeds
    simulate independently."""
    from scrapy_crawler_german_real_estate_sites_spark.plans.simulator import (
        canonical_item_text,
        simulate,
    )

    sim = simulate(pages, seeds, stadte, hour=HOUR)
    out: dict = {s["seed_id"]: ([], []) for s in seeds}
    for seed_id, _seq, url, kind in sim.fetch_order:
        out[seed_id][0].append((url, kind))
    for (seed_id, url, item, _k), eff in zip(sim.items, sim.effects):
        out[seed_id][1].append((url, canonical_item_text(item), eff[1]))
    return out


def _simulate_chunk(seeds) -> dict:
    return simulate_seeds(seeds, *_SIM_INPUT)


class FetchBudget:
    """A pages mapping that serves a seed's first ``n`` fetches and then
    answers like a missing page, so the simulator stops where a window of
    waves stopped."""

    def __init__(self, pages, n):
        self.pages, self.left = pages, n

    def get(self, url):
        body = self.pages.get(url) if self.left else None
        self.left -= body is not None
        return body


def golden(base: str, digest: str, cores: int) -> dict:
    """The simulator's crawl of every seed of the base tier, cached per
    package source digest."""
    global _SIM_INPUT
    path = os.path.join(WORK, "golden", f"{BASE_TIER}-h{HOUR}-{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    seeds = read_seeds(base)
    _SIM_INPUT = (read_pages(base), read_stadte(base))
    chunks = [seeds[i:i + 50] for i in range(0, len(seeds), 50)]
    pool = multiprocessing.get_context("fork").Pool(cores)
    try:
        parts = pool.map(_simulate_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    _SIM_INPUT = ()
    gold = {k: v for part in parts for k, v in part.items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(gold, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(path + ".tmp", path)
    return gold


# ---------------------------------------------------------------- crawl
class Crawl:
    """One benchmark run: a Spark session, the engines built on it, and
    what the run measured."""

    def __init__(self, args, fix, tracer, collect_batches=False):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.fix = fix
        self.tr = tracer
        self.collect_batches = collect_batches
        self.waves: list = []  # one record per non-empty wave
        self.batches: list = []  # fetched batch rows, when collected
        self.pending_snap = None  # traced: mid-crawl frontier and state
        self.crawl_wall = 0.0  # wave 1 to drained
        self.excluded = 0.0  # batch and frontier collection inside it
        self.stage_seen: set = set()
        self.ckpt_dir = os.path.join(WORK, "ckpt",
                                     f"{args.workload}-{args.seed}")
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)

    # -- session ------------------------------------------------------
    def start(self, eventlog_dir=None):
        from scrapy_crawler_german_real_estate_sites_spark.sources.tables import (
            get_spark,
        )

        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep the JVM's temporary files inside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if eventlog_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": eventlog_dir,
            })
        cpus = str(self.args.cores)
        with self.tr.span("tables.get_spark"):
            self.spark = get_spark(app=f"perfbench-{self.args.workload}",
                                   cpus=cpus, shuffle_partitions=cpus,
                                   extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid

    def stop(self):
        """Stop Spark and its JVM and wait for every process they started
        (the JVM and its Python workers) to end."""
        gw = self.sc._gateway
        kids = children(self.jvm_pid)
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)

    # -- layer calls --------------------------------------------------
    def new_engine(self):
        from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import (
            CrawlEngine,
        )

        self.sc.setJobGroup("init", "CrawlEngine.__init__")
        with self.tr.span("crawl.init"):
            return CrawlEngine(self.spark, self.fix, workdir=self.ckpt_dir,
                               hour=HOUR, track_order=bool(self.args.trace),
                               **self.spec["engine"])

    def wave(self, eng) -> bool:
        """Run one wave; False once the frontier is empty."""
        label = f"wave{len(self.waves)}"
        if self.collect_batches:
            t0 = time.time()
            self.sc.setJobGroup("batch", "fetched batch")
            self.batches += rows(eng.tagged.where("sel").select(
                "seed_id", "fifo_seq", "url", "kind", "netloc", "meta"))
            self.excluded += time.time() - t0
        self.sc.setJobGroup(label, label)
        with self.tr.span("crawl.run_wave", wave=label) as sp:
            m = eng.run_wave()
        jobs, failed, stages, tasks = self._job_counts(label)
        if not m.get("selected"):
            return False
        rec = {"wave": label, "wall": sp["dur"], "jobs": jobs,
               "jobs_failed": failed, "stages": stages, "tasks": tasks}
        rec.update({k: m[k] for k in (
            "selected", "fetched", "items", "new_links", "dups_filtered",
            "robots_blocked", "inserted")})
        self.waves.append(rec)
        return True

    def _job_counts(self, group):
        """Jobs, jobs that did not succeed, stages and tasks of one job
        group, read from Spark's status tracker."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        failed = stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            failed += info is None or info.status != "SUCCEEDED"
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                # a stage reused by a later job keeps the id it ran under:
                # count it once, in the wave that ran it
                if si is None or sid in self.stage_seen:
                    continue
                self.stage_seen.add(sid)
                stages += 1
                tasks += si.numTasks
        return len(jobs), failed, stages, tasks

    def crawl(self, eng):
        """Drain the frontier, or run the workload's window of waves."""
        max_waves = self.spec["max_waves"]
        snap_at = (max_waves or 8) // 2  # a drain has 8 or 9 waves
        t0 = time.time()
        while max_waves is None or len(self.waves) < max_waves:
            if not self.wave(eng):
                break
            if self.args.trace and len(self.waves) == snap_at:
                self.snapshot_pending(eng)
        self.crawl_wall = time.time() - t0

    def snapshot_pending(self, eng):
        """Keep the mid-crawl frontier and seed state for the standalone
        ``tag_batch`` probe."""
        t0 = time.time()
        self.sc.setJobGroup("trace.pending", "frontier for the tag probe")
        self.pending_snap = (rows(eng.pending),
                             json.loads(json.dumps(eng.state)),
                             eng.iteration, eng.iter_seconds, eng.token_scale)
        self.excluded += time.time() - t0

    def items(self, eng) -> list:
        self.sc.setJobGroup("items", "items_df")
        with self.tr.span("crawl.items_df"):
            return rows(eng.items_df().select(
                "seed_id", "fifo_seq", "item_idx", "url", "item_json"))

    def seen(self, eng) -> set:
        self.sc.setJobGroup("seen", "seen set")
        return {r.url for r in eng.seen.select("url").collect()}

    def checkpoint(self, eng) -> str:
        self.sc.setJobGroup("checkpoint", "checkpoint")
        with self.tr.span("tables.checkpoint"):
            eng.checkpoint()
        return os.path.join(self.ckpt_dir, f"ckpt_{eng.iteration:04d}")

    def recover(self, ckpt):
        eng = self.new_engine()
        self.sc.setJobGroup("resume", "resume_from")
        with self.tr.span("crawl.resume_from"):
            eng.resume_from(ckpt)
        return eng

    def recovered(self, eng):
        """Checkpoint the final state and recover it ``RECOVERIES`` times,
        each in a fresh engine; returns the last recovered engine."""
        ckpt = self.checkpoint(eng)
        eng.close()
        for _ in range(RECOVERIES - 1):
            self.recover(ckpt).close()
        return self.recover(ckpt)

    def purge(self, eng, urls):
        dead = self.spark.createDataFrame([(u,) for u in urls], "url string")
        self.sc.setJobGroup("purge", "purge_seen")
        with self.tr.span("crawl.purge_seen"):
            eng.purge_seen(dead)


def rows(df) -> list:
    return [tuple(r) for r in df.collect()]


# ----------------------------------------------------------- correctness
def window_expectation(batches, gold, sample, pages, stadte) -> tuple:
    """What a window of waves must have emitted: per seed, the simulator's
    items when it may fetch only as many pages as the engine fetched.  The
    engine's fetched pages, in FIFO order, must be the start of the seed's
    simulated fetch order; returns (expected, seeds where they are not)."""
    fetched: dict = {}
    for seed_id, _fifo, url, *_ in sorted(batches, key=lambda r: r[:2]):
        if url in pages:  # a URL without a page is never fetched
            fetched.setdefault(seed_id, []).append(url)
    exp: dict = {}
    off = 0
    for s in sample:
        got = fetched.get(s["seed_id"], [])
        order = [u for u, _k in gold[s["seed_id"]][0]]
        off += got != order[:len(got)]
        exp[s["seed_id"]] = simulate_seeds(
            [s], FetchBudget(pages, len(got)), stadte)[s["seed_id"]][1]
    return exp, off


def check_items(items, exp) -> tuple:
    """Item text per seed and URL must equal the expected list.  Returns
    (mismatching or missing items, items expected, the seen URLs the
    expected items insert)."""
    got: dict = {}
    for seed_id, _fifo, _idx, url, js in sorted(items):
        got.setdefault(seed_id, []).append((url, js))
    mismatches = expected = 0
    seen = set()
    for sid in set(exp) | set(got):
        e, g = exp.get(sid, []), got.get(sid, [])
        expected += len(e)
        mismatches += sum(1 for i in range(max(len(e), len(g)))
                          if i >= len(e) or i >= len(g) or g[i] != e[i][:2])
        seen |= {s for _u, _j, s in e if s is not None}
    return mismatches, expected, seen


def check_order(fetch_order, gold, sample, window: bool) -> int:
    """Seeds whose fetch order differs from the simulator's (from the start
    of it, for a window)."""
    got: dict = {}
    for seed_id, _fifo, url, kind in sorted(fetch_order,
                                            key=lambda r: (r[0], r[1])):
        got.setdefault(seed_id, []).append((url, kind))
    bad = 0
    for s in sample:
        exp = gold[s["seed_id"]][0]
        g = got.pop(s["seed_id"], [])
        bad += g != (exp[:len(g)] if window else exp)
    return bad + len(got)


def check_counts(workload, seed, digest, counts) -> list:
    """Counts must repeat across runs of the same seed on the same code and
    workload definition."""
    spec = hashlib.sha256(json.dumps(WORKLOADS[workload], sort_keys=True)
                          .encode()).hexdigest()[:8]
    path = os.path.join(WORK, "counts",
                        f"{workload}-{seed}-{digest}-{spec}.json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        return [] if prev == counts else [
            f"counts {counts} != earlier run {prev}"]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(counts, f)
    return []


# ---------------------------------------------------------------- probes
def probe_kernel(crawl, sample, pages, stadte, seed) -> float:
    """Single-process ``simulate`` over a seeded subset of the run's seeds:
    microseconds per fetched URL."""
    rng = random.Random(f"perfbench|kernel|{seed}")
    seeds = sorted(rng.sample(sample, min(KERNEL_SEEDS, len(sample))),
                   key=lambda r: r["seed_id"])
    with crawl.tr.span("probe.simulate") as sp:
        out = simulate_seeds(seeds, pages, stadte)
    return sp["dur"] / sum(len(v[0]) for v in out.values()) * 1e6


def probe_parse(crawl, sample, stadte):
    """``parse_pages`` over the run's fetched pages, with the seed-context
    broadcast in the layout its docstring gives."""
    import datetime

    from pyspark.sql import functions as F

    from scrapy_crawler_german_real_estate_sites_spark.operators.parse_batch import (
        parse_pages,
    )

    spark, sc = crawl.spark, crawl.sc
    viertel = {int(s["id"]): tuple(s["stadtviertel"]) for s in stadte}
    ctx = sc.broadcast({
        s["seed_id"]: (s["portal"], int(s["stadtid"]), s["stadtname"],
                       int(s["haus"]), int(s["kaufen"]), s["chatid"], HOUR,
                       s["url"], viertel.get(int(s["stadtid"]), ()))
        for s in sample})
    sc.setJobGroup("probe.parse_input", "parse probe input")
    batch = spark.createDataFrame(
        crawl.batches,
        "seed_id string, fifo_seq long, url string, kind string, "
        "netloc string, meta string")
    pages = spark.read.parquet(os.path.join(crawl.fix, "pages.parquet"))
    inp = (pages.select("url", "html").join(F.broadcast(batch), "url")
           .repartition(4 * crawl.args.cores).cache())
    n = inp.count()
    sc.setJobGroup("probe.parse", "parse_pages")
    with crawl.tr.span("probe.parse_pages"):
        parse_pages(inp, datetime.date(2021, 5, 1), ctx).write.format(
            "noop").mode("overwrite").save()
    inp.unpersist()
    return n


def probe_tag(crawl):
    from pyspark.sql import functions as F

    from scrapy_crawler_german_real_estate_sites_spark.operators.politeness import (
        tag_batch,
    )
    from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import (
        PENDING_SCHEMA,
        STATE_SCHEMA,
    )
    from scrapy_crawler_german_real_estate_sites_spark.sources.tables import (
        load_robots,
    )

    frontier, state, iter_no, iter_seconds, token_scale = crawl.pending_snap
    spark = crawl.spark
    crawl.sc.setJobGroup("probe.tag_input", "tag probe input")
    pending = spark.createDataFrame(frontier, PENDING_SCHEMA).cache()
    n_in = pending.count()
    state_df = spark.createDataFrame(
        [(sid, s["scraped"], s["stop_condition"], s["spider_stop"],
          s["stopped"], s["budget"]) for sid, s in state.items()],
        STATE_SCHEMA).cache()
    state_df.count()
    robots = load_robots(spark, crawl.fix).cache()
    robots.count()
    crawl.sc.setJobGroup("probe.tag", "tag_batch")
    with crawl.tr.span("probe.tag_batch"):
        sel = tag_batch(pending, state_df, robots, iter_no,
                        iter_seconds=iter_seconds, token_scale=token_scale
                        ).agg(F.sum(F.col("sel").cast("long"))).first()[0]
    for df in (pending, state_df, robots):
        df.unpersist()
    return n_in, int(sel or 0)


def probe_seen(crawl, seen_urls, pages, seed):
    """Bloom and cuckoo build, flag and delete on the final seen set; the
    false-positive rate is measured against exact membership on a seeded
    set of page URLs the crawl never inserted.  A flagged-unseen URL is a
    false positive; a seen URL the sketch misses is a correctness error."""
    from pyspark.sql import functions as F

    from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
        build_cuckoo,
        with_cuckoo_flag,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators.seen import (
        build_bloom,
        with_bloom_flag,
    )

    spark, sc, tr = crawl.spark, crawl.sc, crawl.tr
    seen = sorted(seen_urls)
    rng = random.Random(f"perfbench|unseen|{seed}")
    pool = sorted(u for u in pages if u not in seen_urls)
    unseen = rng.sample(pool, min(PROBE_UNSEEN, len(pool)))
    sc.setJobGroup("probe.seen_input", "sketch probe input")
    seen_df = spark.createDataFrame([(u,) for u in seen], "url string").cache()
    seen_df.count()
    cand = spark.createDataFrame(
        [(u, True) for u in seen] + [(u, False) for u in unseen],
        "norm_url string, is_seen boolean").cache()
    n = cand.count()
    out = {}
    errors = []

    def flag_counts(flagged):
        r = flagged.agg(
            F.sum((F.col("maybe_seen") & F.col("is_seen")).cast("long")),
            F.sum((F.col("maybe_seen") & ~F.col("is_seen")).cast("long")),
        ).first()
        return int(r[0] or 0), int(r[1] or 0)

    sc.setJobGroup("probe.bloom", "bloom")
    with tr.span("probe.build_bloom") as sp:
        bf = build_bloom(seen_df)
    out["seen.bloom_build_s"] = sp["dur"]
    with tr.span("probe.with_bloom_flag") as sp:
        hit, fp = flag_counts(with_bloom_flag(cand, bf))
    out["seen.bloom_flag_us_per_url"] = sp["dur"] / n * 1e6
    out["seen.bloom_fp_frac"] = fp / max(1, len(unseen))
    if hit != len(seen):
        errors.append(f"bloom missed {len(seen) - hit} seen URLs")

    sc.setJobGroup("probe.cuckoo", "cuckoo")
    with tr.span("probe.build_cuckoo") as sp:
        cf = build_cuckoo(seen_df, n_buckets=1 << 19)
    out["seen.cuckoo_build_s"] = sp["dur"]
    out["seen.cuckoo_load"] = cf.load
    with tr.span("probe.with_cuckoo_flag") as sp:
        hit, fp = flag_counts(with_cuckoo_flag(cand, cf))
    out["seen.cuckoo_flag_us_per_url"] = sp["dur"] / n * 1e6
    out["seen.cuckoo_fp_frac"] = fp / max(1, len(unseen))
    if hit != len(seen):
        errors.append(f"cuckoo missed {len(seen) - hit} seen URLs")
    dead = rng.sample(seen, max(1, int(len(seen) * PURGE_FRAC)))
    with tr.span("probe.cuckoo_delete_many") as sp:
        deleted = cf.delete_many(dead)
    out["seen.cuckoo_delete_us_per_url"] = sp["dur"] / len(dead) * 1e6
    if deleted != len(dead):
        errors.append(f"cuckoo deleted {deleted} of {len(dead)} URLs")
    seen_df.unpersist()
    cand.unpersist()
    return out, errors


# ---------------------------------------------------------------- report
def tail(walls):
    """No run has 20 waves, so no percentile at or above the median has 10
    waves beyond it; the tail reported is the slowest wave, with n."""
    return max(walls), {"percentile": 100, "n": len(walls)}


def measure(args, tr, record) -> tuple:
    """Run the workload; returns (end-to-end, per-layer, problems)."""
    from scrapy_crawler_german_real_estate_sites_spark.sources import synth

    digest = record["host"]["source_digest"]
    window = WORKLOADS[args.workload]["max_waves"] is not None
    # the benchmark's own work, outside every metric: inputs and golden
    base = synth.generate(BASE_TIER, os.path.join(WORK, "base", BASE_TIER))
    gold = golden(base, digest, args.cores)
    fix, sample = write_fixture(base, args.workload, args.seed)
    record["seeds"] = len(sample)

    evdir = None
    if args.trace:
        evdir = os.path.join(WORK, "out", f"eventlog-{record['run_id']}")
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
    crawl = Crawl(args, fix, tr, collect_batches=bool(args.trace) or window)
    problems: list = []
    try:
        record["phase_s"] = {"inputs": time.time() - T_START}
        crawl.start(evdir)
        record["host"]["java"] = crawl.sc._jvm.System.getProperty(
            "java.version")
        eng = crawl.new_engine()
        setup_s = (record["import_s"] + tr.durations("tables.get_spark")[0]
                   + tr.durations("crawl.init")[0])
        record["phase_s"]["setup"] = time.time() - T_START
        crawl.crawl(eng)
        record["phase_s"]["crawl"] = time.time() - T_START
        items = crawl.items(eng)

        pages, stadte = read_pages(base), read_stadte(base)
        if window:
            exp, off = window_expectation(crawl.batches, gold, sample,
                                          pages, stadte)
            if off:
                problems.append(f"{off} seeds fetched other pages than the "
                                "start of their simulated fetch order")
        else:
            exp = {s["seed_id"]: gold[s["seed_id"]][1] for s in sample}
        mismatches, expected, exp_seen = check_items(items, exp)
        record["item_mismatch_frac"] = mismatches / max(1, expected)
        if mismatches:
            problems.append(f"{mismatches} of {expected} items differ")
        seen = crawl.seen(eng)
        if seen != exp_seen:
            problems.append(f"seen set: {len(seen - exp_seen)} extra, "
                            f"{len(exp_seen - seen)} missing")
        counts = {k: (len(crawl.waves) if k == "waves" else
                      sum(w[k] for w in crawl.waves)) for k in COUNT_KEYS}
        problems += check_counts(args.workload, args.seed, digest, counts)

        walls = [w["wall"] for w in crawl.waves]
        record["wave_tail_s"], record["wave_tail"] = tail(walls)
        e2e = {
            "setup_s": setup_s,
            "urls_per_s": counts["fetched"]
            / (crawl.crawl_wall - crawl.excluded),
            "wave_p50_s": statistics.median(walls),
        }
        if args.trace:
            bad = check_order(eng.fetch_order(), gold, sample, window)
            if bad:
                problems.append(f"fetch order differs for {bad} seeds")
            eng = crawl.recovered(eng)
            rng = random.Random(f"perfbench|purge|{args.seed}")
            purged = set(rng.sample(sorted(exp_seen),
                                    int(len(exp_seen) * PURGE_FRAC)))
            crawl.purge(eng, sorted(purged))
            after = crawl.seen(eng)
            if after != exp_seen - purged:
                problems.append(
                    f"seen set after recovery and purge: "
                    f"{len(after - exp_seen)} extra, "
                    f"{len(exp_seen - purged - after)} missing")
            kernel_us = probe_kernel(crawl, sample, pages, stadte, args.seed)
            n_pages = probe_parse(crawl, sample, stadte)
            n_in, n_sel = probe_tag(crawl)
            sketch, errors = probe_seen(crawl, after, pages, args.seed)
            problems += errors
        record["phase_s"]["checks"] = time.time() - T_START
        eng.close()
        record["peak_rss_mb"] = (vm_hwm_kb("self")
                                 + vm_hwm_kb(crawl.jvm_pid)) / 1024
    finally:
        if hasattr(crawl, "spark"):
            crawl.stop()
        shutil.rmtree(fix, ignore_errors=True)
        shutil.rmtree(crawl.ckpt_dir, ignore_errors=True)
    record["phase_s"]["stopped"] = time.time() - T_START
    record["counts"] = counts
    record["waves"] = crawl.waves
    if not args.trace:
        return e2e, {}, problems

    from eventlog import fold

    groups = fold(os.path.join(evdir, os.listdir(evdir)[0]))
    record["eventlog_groups"] = groups
    waves = crawl.waves
    nw = len(waves)

    def wave_total(key):
        return sum(groups.get(w["wave"], {}).get(key, 0) for w in waves)

    n_links = sum(w["new_links"] for w in waves)
    n_dups = sum(w["dups_filtered"] for w in waves)
    parse_us = groups["probe.parse"]["task_s"] / n_pages * 1e6
    per_layer = {
        "tables.get_spark_s": tr.durations("tables.get_spark")[0],
        "tables.checkpoint_s": tr.durations("tables.checkpoint")[0],
        "crawl.init_s": tr.durations("crawl.init")[0],
        # medians: a wave now and then issues one job more than the same
        # wave of another run of the same seed; the run record keeps them all
        "crawl.jobs_per_wave": statistics.median(w["jobs"] for w in waves),
        "crawl.stages_per_wave": statistics.median(w["stages"]
                                                   for w in waves),
        "crawl.tasks_per_wave": statistics.median(w["tasks"] for w in waves),
        "crawl.exec_busy_frac": wave_total("task_s")
        / (sum(w["wall"] for w in waves) * args.cores),
        "crawl.task_cpu_s": wave_total("cpu_s") / nw,
        "crawl.gc_s": wave_total("gc_s") / nw,
        "crawl.shuffle_bytes": wave_total("shuffle_write_bytes") / nw,
        "crawl.spill_bytes": wave_total("spill_bytes") / nw,
        "crawl.resume_from_s": statistics.median(
            tr.durations("crawl.resume_from")),
        "crawl.purge_s": tr.durations("crawl.purge_seen")[0],
        "crawl.items_df_s": tr.durations("crawl.items_df")[0],
        "crawl.waves": counts["waves"],
        "crawl.fetched": counts["fetched"],
        "crawl.items": counts["items"],
        "crawl.new_links": n_links,
        "crawl.dups_filtered": n_dups,
        "crawl.robots_blocked": sum(w["robots_blocked"] for w in waves),
        "crawl.inserted": counts["inserted"],
        "crawl.dup_frac": n_dups / max(1, n_links),
        "kernel.us_per_url": kernel_us,
        "parse.us_core_per_url": parse_us,
        "parse.boundary_x": parse_us / kernel_us,
        "politeness.tag_s": tr.durations("probe.tag_batch")[0],
        "politeness.tag_rows_in": n_in,
        "politeness.sel_rows": n_sel,
        **sketch,
    }
    untraced = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}"
                            "-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            plain = json.load(f)["end_to_end"]
        record["trace_overhead"] = {k: e2e[k] - plain[k]
                                    for k in e2e if k in plain}
    return e2e, per_layer, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"perfbench: no {PKG} package next to perfbench/; nothing to run")
        return 2
    sys.path.insert(0, ROOT)
    args.cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap = driver_heap()
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    import pyspark

    import scrapy_crawler_german_real_estate_sites_spark  # noqa: F401

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "import_s": time.time() - T_START,
        "host": {
            "nproc": args.cores, "ram_bytes": host_ram_bytes(),
            "driver_heap": heap, "spark": pyspark.__version__,
            "python": platform.python_version(), "git_commit": git_commit(),
            "source_digest": source_digest(), "loadavg_before": loadavg(),
        },
    }
    tr = Tracer()
    e2e, per_layer = {}, {}
    try:
        e2e, per_layer, problems = measure(args, tr, record)
    except Exception as e:  # noqa: BLE001 -- reported as a failed run
        import traceback

        traceback.print_exc()
        problems = [f"{type(e).__name__}: {e}"]
    record["host"]["loadavg_after"] = loadavg()
    record.update({
        "end_to_end": e2e, "per_layer": per_layer, "problems": problems,
        "op_fail_frac": tr.failed / max(1, len(tr.spans)),
    })
    out = os.path.join(WORK, "out")
    with open(os.path.join(out, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out, f"{run_id}-spans.json"), "w") as f:
            json.dump(tr.spans, f)

    h = record["host"]
    log(f"# {run_id}: {record.get('seeds')} seeds, {h['nproc']} cores, "
        f"RAM {h['ram_bytes'] >> 20} MiB, heap {heap}, spark {h['spark']}, "
        f"python {h['python']}, java {h.get('java')}, "
        f"load {h['loadavg_before']} -> {h['loadavg_after']}")
    for w in record.get("waves", []):
        log(f"#   {w['wave']:>7} fetched {w['fetched']:6d} "
            f"wall {w['wall']:6.2f}s jobs {w['jobs']:3d} "
            f"(not succeeded {w['jobs_failed']}) stages {w['stages']:3d} "
            f"tasks {w['tasks']:4d}")
    for k, v in e2e.items():
        log(f"# {k:32s} {v:14.4f} {END_TO_END[k]}")
    for k, unit in REPORTED.items():
        if k in record:
            log(f"# {k:32s} {record[k]:14.4f} {unit} (not gated)")
    for k, v in per_layer.items():
        log(f"# {k:32s} {v:14.4f} {PER_LAYER[k]}")
    for p in problems:
        log(f"# PROBLEM: {p}")
    metrics, units = (per_layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    correct = not problems
    print(json.dumps({
        "correct": correct,
        "attempted": len(tr.spans),
        "failed": tr.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
