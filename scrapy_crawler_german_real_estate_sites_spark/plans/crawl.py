"""The crawl engine: a partitioned URL frontier drained in waves.

Replaces the reference's cron + caller.py + 10 scrapyd nodes + Twisted
event loop (SURVEY.md §3.1) with one declarative per-wave dataflow built
around three materialization points (every extra barrier is serial time
that caps scaling):

    [parse]    fetch (broadcast-hash join batch × pages)
                 → parse + link-extract                 [Arrow mapInPandas]
                 → per-seed pipeline pass               [mapInPandas]
               → checkpoint
    [collect]  per-seed state + per-partition lineage stats
                 + inserted-URL cuckoo entry shards, one driver round-trip
    [frontier] robots filter → seen-rule dedup (single anti-join) → FIFO
                 sequence window → union with the unselected remainder →
                 tag_batch marks the NEXT wave's politeness batch ('sel'
                 column) → checkpoint

These are not the wave's only Spark jobs: broadcast builds and
adaptive-execution stage jobs come on top, and the traced drain benchmark
(``perfbench/run.py --trace 1``) counts about 30 jobs per wave.  The
frontier checkpoint lands in the same job that counts the next wave's batch
and this wave's new links.

A wave's Python stages are sized from its batch (``wave_width``): below
4,096 URLs the cached pages are coalesced to one parse task per 256 URLs,
link extraction runs on the parse partitions, and the pipeline pass runs
no more tasks than the parse, so a small politeness-bounded wave does not
pay a Python task per core.

The wave-start "select" is a filter over the frontier checkpoint from the
previous wave — politeness.tag_batch fuses batch selection and the
remove-fetched frontier update into complementary filters.

Ordering contract (A6): every new link gets a per-seed monotone
``fifo_seq`` reconstructing Scrapy's FIFO enqueue order (parents in fifo
order, in-page links in document order, details before pagination).  The
per-seed sequence of *counted* fetches is then byte-identical to the
sequential reference simulation — verified by tests/test_crawl_parity.py.

Scale notes: the fetch join broadcasts the (politeness-bounded) wave batch
so the pages table is never shuffled; at cluster scale pages is an Iceberg
table bucketed by url and the join is storage-partitioned.  The seen set is
an exact table that the dedup anti-join reads; a cuckoo filter over it
(operators/cuckoo.py) rides along as an ADVISORY might-contain flag in the
join condition and can delete in place (``purge_seen``).  Frontier and
seen live as snapshots per wave (parquet here, Iceberg snapshots in prod) —
``resume_from`` restarts a run mid-crawl from any wave, exactly
(north_rule: resumable from checkpoint).  Driver-held per-seed counters are
O(seeds), not O(urls).
"""

from __future__ import annotations

import base64
import datetime
import json
import os
import re
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import cuckoo as cuckoo_ops
from ..operators import politeness
from ..operators.parse_batch import explode_links, parse_pages
from .simulator import DEFAULT_ITEM_BUDGET, ITEM_BUDGETS, DUP_STREAK_LIMIT

STATE_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.StringType()),
        T.StructField("scraped", T.IntegerType()),
        T.StructField("stop_condition", T.IntegerType()),
        T.StructField("spider_stop", T.BooleanType()),
        T.StructField("stopped", T.BooleanType()),
        T.StructField("budget", T.IntegerType()),
    ]
)

PASS_SCHEMA = (
    "seed_id string, fifo_seq long, item_idx int, url string, kind string, "
    "counted boolean, effective boolean, item_json string, item_kind string, "
    "doc_json string, seen_url string, alert string, failure string, "
    "partition_id int"
)

PENDING_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.StringType()),
        T.StructField("fifo_seq", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("netloc", T.StringType()),
        T.StructField("meta", T.StringType()),
        T.StructField("not_before", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("seed_id", T.StringType()),
        T.StructField("fifo_seq", T.LongType()),
    ]
)

_NETLOC = r"^https?://([^/]+)"


def _netloc(col):
    return F.regexp_extract(col, _NETLOC, 1)


# A wave's Python stages (parse, link extraction + seen flag, pipeline
# pass) pay a fixed per-task cost of about 75 ms on a 4-core host, about
# the portal kernel's work on 256 URLs (~290 us/URL).  Below 4,096 URLs a
# wave therefore runs one such task per 256 URLs; from 4,096 URLs on it
# plans at the full 4 tasks/core, which levels stragglers (the per-page
# parse cost varies 10x).
_URLS_PER_TASK = 256
_FULL_WIDTH_URLS = 4096


def wave_width(n_batch: int, cores: int) -> int:
    """Python tasks for the parse stage of a wave of ``n_batch`` URLs."""
    if n_batch >= _FULL_WIDTH_URLS:
        return 4 * cores
    return max(1, min(-(-n_batch // _URLS_PER_TASK), 4 * cores))


def pipeline_pass(parsed: DataFrame, state_snap_bc, stadte_by_id: dict,
                  run_ts: datetime.datetime, n_parts: int = None) -> DataFrame:
    """Per-seed sequential pipeline semantics: item budget (P7),
    cumulative-failure spider stop (D3 pipeline variant,
    pipelines.py:363-369), insert/alert effects via the SAME ``apply_item``
    the golden simulator uses.

    The exchange feeding this pass carries ONLY what the state machine
    needs (seed_id, fifo_seq, url, kind, parse_ok, items) — the ``links``
    arrays never shuffle, never cross the Arrow boundary, and are not
    re-materialized in the PASS checkpoint: the engine filters them
    IN PLACE on the parse partitions with a broadcast semi-join against
    this pass's ``effective`` page set (see ``_run_wave_inner``).

    Dataflow: ``repartition(seed_id) → sortWithinPartitions(seed_id,
    fifo_seq) → mapInPandas`` with cross-Arrow-batch group continuation —
    NOT ``groupBy.applyInPandas``.  Semantically identical (every seed's
    rows land in one partition, processed in fifo order with running
    state), but applyInPandas pays one python call + pandas DataFrame
    round-trip PER GROUP, and crawl waves have thousands of seeds with ~10
    rows each: the per-group overhead measured 10x the whole parse kernel
    (1.1k vs 11k urls/s at local[8], sf0.1 wave 1).  One python call per
    PARTITION amortizes it.

    ``state_snap_bc``: SparkContext.broadcast of
    ``{seed_id: (scraped, stop_condition, spider_stop, budget)}`` for this
    wave — replaces a per-wave createDataFrame + broadcast join (serial
    driver time) with one small torrent broadcast.

    ``n_parts``: tasks of the pass, by default 2 per core; the engine
    passes ``min(2 * cores, wave_width(n_batch, cores))``."""
    from .simulator import apply_item  # shared effect core

    def process_seed(pdf: pd.DataFrame, out: list) -> None:
        """Append PASS rows for one seed's fifo-ordered rows to ``out``."""
        seed_id = pdf.iloc[0].seed_id
        st = state_snap_bc.value[seed_id]
        scraped = int(st[0])
        stop_condition = int(st[1])
        spider_stop = bool(st[2])
        budget = int(st[3])
        stopped = False

        def base_rec(row):
            return {
                "seed_id": seed_id, "fifo_seq": int(row.fifo_seq),
                "item_idx": -1, "url": row.url, "kind": row.kind,
                "counted": False, "effective": False, "item_json": None,
                "item_kind": None, "doc_json": None, "seen_url": None,
                "alert": None, "failure": None,
                "partition_id": int(row.partition_id),
            }

        for row in pdf.itertuples(index=False):
            rec = base_rec(row)
            if stopped:
                out.append(rec)  # wasted fetch (queue was dropped)
                continue
            if row.kind == "listing" and spider_stop:
                # fetched, then parse closes the spider (immonet.py:82-84)
                rec["counted"] = True
                stopped = True
                out.append(rec)
                continue
            rec["counted"] = True
            rec["effective"] = True
            out.append(rec)
            items = row.items if row.parse_ok else []
            for idx, it in enumerate(items):
                item_kind, item_json = it["kind"], it["item_json"]
                if stop_condition >= DUP_STREAK_LIMIT:  # pipelines.py:363-369
                    stop_condition = 0
                    spider_stop = True
                item = json.loads(item_json)
                doc, seen_url, alert, failure = apply_item(
                    item, stadte_by_id, run_ts
                )
                irec = base_rec(row)
                irec.update(
                    kind="__item__", item_idx=idx, item_json=item_json,
                    item_kind=item_kind, seen_url=seen_url, alert=alert,
                    failure=failure,
                )
                if doc is not None:
                    irec["doc_json"] = json.dumps(
                        doc, sort_keys=True, ensure_ascii=False, default=str
                    )
                if failure is not None:
                    stop_condition += 1
                scraped += 1
                out.append(irec)
                if scraped >= budget:  # CLOSESPIDER_ITEMCOUNT: queue dropped
                    stopped = True
                    break
        out.append(
            {
                "seed_id": seed_id, "fifo_seq": -1, "url": None,
                "kind": "__state__", "counted": False, "effective": False,
                "item_json": None, "item_kind": None,
                "doc_json": json.dumps(
                    {
                        "scraped": scraped,
                        "stop_condition": stop_condition,
                        "spider_stop": spider_stop,
                        "stopped": stopped,
                    }
                ),
                "seen_url": None, "alert": None, "failure": None,
                "partition_id": -1, "item_idx": -1,
            }
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive sorted by (seed_id, fifo_seq); a seed's rows may span
        # consecutive Arrow batches, so hold back the final (possibly
        # incomplete) seed of each batch and prepend it to the next
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                buf = None
                continue
            sids = pdf["seed_id"].values
            tail_mask = sids == sids[-1]
            buf = pdf[tail_mask]
            done = pdf[~tail_mask]
            if len(done):
                out = []
                for _, g in done.groupby("seed_id", sort=False):
                    process_seed(g, out)
                yield pd.DataFrame(out)
        if buf is not None and len(buf):
            out = []
            for _, g in buf.groupby("seed_id", sort=False):
                process_seed(g, out)
            yield pd.DataFrame(out)

    # explicit width: at most 2 tasks/core levels pipeline stragglers,
    # while the checkpointed output stays narrow enough that the
    # downstream maintenance jobs (state collect, dedup anti-join,
    # frontier window) don't inherit the parse phase's 4x-core task
    # fan-out; a small wave needs no more tasks than its parse stage
    if n_parts is None:
        n_parts = 2 * parsed.sparkSession.sparkContext.defaultParallelism
    return (
        parsed.select(
            "seed_id", "fifo_seq", "url", "kind", "partition_id",
            "parse_ok", "items",
        )
        .repartition(n_parts, "seed_id")
        .sortWithinPartitions("seed_id", "fifo_seq")
        .mapInPandas(run, PASS_SCHEMA)
    )


# The columnar page cache is compressed: measured ~1.5x the parquet bytes
# on the sf1.2 tier (3.85 GB parquet -> ~5.6 GB block-manager storage once
# the accumulated checkpoint blocks are subtracted; see
# BENCH/engine_runs_sf12_r3.json).  2.0 is the conservative planning ratio.
_CACHE_DECODE_RATIO = 2.0
# The items the crawl emits (wide JSON payload rows) total ~5.9x the pages
# parquet bytes when pinned as checkpoint blocks (22.6 GB vs 3.85 GB at
# sf1.2).  Planning ratio for the spill decision below.
_ITEMS_PIN_RATIO = 6.0
# Keep in-pool state (cache or pinned item blocks) under this share of the
# unified pool — the rest stays execution memory for concurrent tasks.
_POOL_SHARE = 0.5


def _heap_bytes(size: str) -> int:
    # Accept the full Spark byteStringAsBytes surface: "4g", "4gb",
    # "512m", "512mb", bare byte counts.  (Two-letter suffixes are
    # Spark-valid and arrive via SPARK_GRAFT_DRIVER_MEM or a
    # user-built session.)
    s = size.strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in "kmgt":
        s = s[:-1]
    mult = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}.get(s[-1], 1)
    return int(float(s[:-1] if s[-1] in "kmgt" else s)) * mult


def _pages_parquet_bytes(fix_dir: str):
    """On-disk bytes of the pages table, or None for non-parquet layouts."""
    pages_path = os.path.join(fix_dir, "pages.parquet")
    if os.path.isfile(pages_path):
        return os.path.getsize(pages_path)
    if os.path.isdir(pages_path):
        total = 0
        for root, _dirs, files in os.walk(pages_path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.endswith(".parquet")
            )
        return total
    return None


def _unified_pool_bytes(spark: SparkSession) -> float:
    # local mode: the driver heap IS the executor heap.  The conf string
    # is absent when the session wasn't built by get_spark (user session
    # with JVM defaults) — falling back to "1g" would underestimate the
    # pool ~56x and silently force the spill/uncached paths, so read the
    # actual JVM max heap as the authoritative source and use the conf
    # only when the JVM probe is unavailable.
    heap = None
    try:
        heap = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:
        pass
    if not heap or heap <= 0:
        heap = _heap_bytes(spark.conf.get("spark.driver.memory", "1g"))
    frac = float(spark.conf.get("spark.memory.fraction", "0.6"))
    return (heap - 300 * 2**20) * frac


def _should_cache_pages(spark: SparkSession, fix_dir: str) -> bool:
    """Data-sized pages-cache decision.

    Caching the (url, html) projection wins while it fits: waves 2..N
    probe decoded in-memory blocks instead of re-reading parquet.  But
    storage and execution share one unified pool
    (``spark.memory.fraction`` of heap − 300 MB), and storage that fills
    the pool starves every concurrent task's execution memory.  At
    cluster scale the uncached path is the normal shape anyway: an
    Iceberg-bucketed scan re-reads the pages table per wave with
    predicate pushdown, and the OS page cache absorbs the hot blocks.

    ``SPARK_GRAFT_PAGES_CACHE=0/1`` forces either path.
    """
    forced = os.environ.get("SPARK_GRAFT_PAGES_CACHE")
    if forced in ("0", "1"):
        cache = forced == "1"
    else:
        parquet_bytes = _pages_parquet_bytes(fix_dir)
        if parquet_bytes is None:
            return True  # unknown layout (Iceberg catalog): keep the cache
        pool = _unified_pool_bytes(spark)
        cache = parquet_bytes * _CACHE_DECODE_RATIO <= _POOL_SHARE * pool
    if not cache:
        # The uncached path's skew-free claim depends on fine-grained
        # scan splits (city-clustered parquet + the 128 MB default =
        # coarse splits and a ~25% parse-stage straggler).  The conf is
        # runtime-settable, so enforce it here rather than assuming
        # get_spark built the session.
        cur = spark.conf.get("spark.sql.files.maxPartitionBytes", "")
        if not cur or _heap_bytes(cur) > 16 * 2**20:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 2**20))
    return cache


def _should_spill_items(spark: SparkSession, fix_dir: str) -> bool:
    """Data-sized item-sink decision.

    Each wave's pipeline output checkpoints eagerly, and the lazy item
    batches root in those WIDE blocks (item_json / doc_json payloads) —
    keeping them pinned for the whole run accumulates O(total items)
    block-manager storage (measured 22.6 GB at sf1.2, crowding the
    35.9 GB unified pool and starving the 32 concurrent tasks' execution
    memory; BENCH/engine_runs_sf12_r3.json).  Past the threshold the
    engine instead APPENDS each wave's item batch to a parquet sink and
    releases the wave's pass blocks — the streaming-insert shape a
    cluster deployment uses unconditionally (the reference's per-item
    Mongo insert, demo_crawl/pipelines.py:360-404, batched per wave).

    ``SPARK_GRAFT_SPILL_ITEMS=0/1`` forces either path.
    """
    forced = os.environ.get("SPARK_GRAFT_SPILL_ITEMS")
    if forced in ("0", "1"):
        return forced == "1"
    parquet_bytes = _pages_parquet_bytes(fix_dir)
    if parquet_bytes is None:
        return False
    pool = _unified_pool_bytes(spark)
    return parquet_bytes * _ITEMS_PIN_RATIO > _POOL_SHARE * pool


class CrawlEngine:
    _SEEN_FOLD = 4  # fold the lazy seen-union every N waves
    # initial URL-seen sketch size: the sketch is rebuilt at
    # n_buckets_for(entries) once the seen set outgrows it
    _CUCKOO_BUCKETS = cuckoo_ops.n_buckets_for(0)

    def __init__(
        self,
        spark: SparkSession,
        fix_dir: str,
        workdir: str = None,
        hour: int = 7,
        run_date: datetime.date = datetime.date(2021, 5, 1),
        run_ts: datetime.datetime = None,
        iter_seconds: float = 1e6,  # default: politeness-unbounded waves
        token_scale: float = 1.0,
        item_budgets: dict = None,
        checkpoint_every: int = 0,  # 0 = no parquet checkpoints
        epoch: int = 0,  # D7 run generation (immowelt progressCounter):
        #   resumed frontier rows whose request meta carries an older epoch
        #   are late responses from a previous run — fetched, items dropped
        #   (immowelt.py:200-204)
        track_order: bool = False,  # golden-ordering bookkeeping: collects
        #   every fetched/dup row to the driver per wave — O(fetched rows)
        #   driver memory, for the parity/resume test suites only.  Default
        #   OFF so production paths never collect per-row state.
        priority_ranks=None,  # optional (url, rank_mass) DataFrame — e.g.
        #   operators/graph.py:link_pagerank output — that re-prioritizes
        #   the frontier drain: priority = depth + kind_weight −
        #   normalized rank boost, lower drains first (token-bucketed
        #   waves fetch high-rank URLs in earlier waves; budget prefixes
        #   count in priority order).  OFF by default: the parity suites'
        #   FIFO discipline (ordering contract A6) is byte-preserved
        #   unless a rank table is explicitly supplied.
        priority_weight: float = 1.0,
        autothrottle: bool = False,  # P3: latency-feedback delay control
        #   (reference settings.py:95-104).  Off by default so the parity
        #   suites see the reference's effective schedule unchanged; when
        #   on, each wave folds Scrapy's delay-adjustment rule per netloc
        #   over the wave's responses and the NEXT wave's token bucket
        #   uses the greater of the folded delay and the static/robots
        #   delay.  No real network in the sandbox, so latency is the
        #   deterministic stand-in bytes/50KBps + 200ms; on a cluster the
        #   fetch UDF's measured wall time plugs into the same column.
    ):
        self.spark = spark
        self.fix_dir = fix_dir
        self.workdir = workdir
        self.hour = hour
        self.run_date = run_date
        self.run_ts = run_ts or datetime.datetime(2021, 5, 1, hour, 0, 0)
        self.iter_seconds = iter_seconds
        self.token_scale = token_scale
        self.checkpoint_every = checkpoint_every
        self.track_order = track_order
        self.epoch = int(epoch)
        self.autothrottle = autothrottle
        self.at_delays: dict = {}  # netloc -> folded AutoThrottle delay
        # PageRank-fed frontier priority (opt-in).  Normalize once at
        # construction (one O(1) scalar agg) so the per-wave join ships a
        # bounded [0, priority_weight] boost; the rank table is broadcast
        # (O(ranked urls), a top-N slice at cluster scale).
        self._rank_df = None
        if priority_ranks is not None:
            m = priority_ranks.agg(
                F.max(F.col("rank_mass").cast("double"))
            ).first()[0]
            if m and m > 0:
                self._rank_df = priority_ranks.select(
                    "url",
                    (F.col("rank_mass").cast("double") / F.lit(float(m))
                     * F.lit(float(priority_weight))).alias("_rank_boost"),
                )

        from ..sources import tables

        tables.ensure_udf_imports(spark)
        # pages are re-scanned every wave (the fetch join probes them with
        # the broadcast wave batch) — cache the (url, html) projection so
        # waves 2..N read decoded in-memory blocks instead of re-reading +
        # re-decompressing the parquet.  At cluster scale the analogue is
        # OS page cache / Iceberg-bucketed scans with url pruning.
        # hash-repartition the cache: parquet file-order partitions are
        # city-clustered and coarse (~19 splits at sf0.1), so a wave's
        # matched pages skew across tasks and the last task straggles the
        # whole parse stage (~25% of stage time measured at local[8]).
        # uniform url-hash partitions, 4 per core (at least 16), fix both;
        # at cluster scale this is the Iceberg url-bucketed layout.  A
        # wave of 4,096 URLs or more parses one task per cache partition;
        # a smaller wave coalesces them to ``wave_width(n_batch)`` tasks
        # (see ``_run_wave_inner``).
        #
        # BUT block-manager storage must not crowd the unified memory
        # pool: storage beyond ~half the pool starves the concurrent
        # tasks' execution memory — the sf1.2 instrumented legs measured
        # parse-stage cost per URL DOUBLING (56.3us vs 29.3us at sf0.6)
        # with GC and storage-spill both ruled out
        # (BENCH/engine_runs_sf12_r3.json).  So both in-pool state terms
        # are data-sized decisions, not constants: cache the pages only
        # while the estimated footprint fits (else scan the parquet per
        # wave — fine-grained 16 MB splits keep the stage skew-free
        # without the repartition, whose shuffle would recompute per wave
        # on the uncached plan), and spill item batches once their pinned
        # total would crowd the pool (below).
        self.pages_cached = _should_cache_pages(spark, fix_dir)
        # big tiers: sink each wave's item batch to parquet and release
        # the wave's wide pass blocks instead of pinning them all run
        # (see _should_spill_items) — the per-wave insert a cluster
        # deployment does against the items table unconditionally
        self.spill_items = _should_spill_items(spark, fix_dir)
        self._spill_dir = None
        if self.spill_items:
            import tempfile

            base = self.workdir or tempfile.gettempdir()
            os.makedirs(base, exist_ok=True)
            self._spill_dir = tempfile.mkdtemp(
                prefix="crawl_items_", dir=base
            )
        if self.pages_cached:
            n_page_parts = max(4 * spark.sparkContext.defaultParallelism, 16)
            self.pages = (
                tables.load_pages(spark, fix_dir)
                .select("url", "html")
                .repartition(n_page_parts, "url")
                .cache()
            )
        else:
            self.pages = tables.load_pages(spark, fix_dir).select("url", "html")
        seeds = tables.load_seeds(spark, fix_dir)
        stadte = tables.load_stadte(spark, fix_dir)
        # every wave broadcasts robots twice (tag_batch, robots_filter):
        # read the table once, not two parquet scans per wave
        self.robots = tables.load_robots(spark, fix_dir).localCheckpoint(
            eager=True)

        # per-seed parse context, shipped to workers ONCE as a python
        # broadcast (a per-wave seed_ctx broadcast-join costs serial driver
        # time rebuilding the same broadcast every wave)
        ctx_rows = (
            seeds.join(
                stadte.select(
                    F.col("id").alias("stadtid"),
                    F.col("stadtviertel"),
                ),
                "stadtid",
                "left",
            )
            .select(
                "seed_id", "portal", "stadtid", "stadtname", "haus", "kaufen",
                "chatid", F.col("url").alias("seed_url"), "stadtviertel",
            )
            .collect()
        )
        self._ctx_bc = spark.sparkContext.broadcast(
            {
                r.seed_id: (
                    r.portal, int(r.stadtid), r.stadtname, int(r.haus),
                    int(r.kaufen), r.chatid, int(hour), r.seed_url,
                    tuple(r.stadtviertel) if r.stadtviertel is not None
                    else (),
                    self.epoch,
                )
                for r in ctx_rows
            }
        )
        self._seeds_local = seeds.select(
            "seed_id", "portal", "url"
        ).collect()
        self._stadte_by_id = {
            int(r["id"]): {
                "id": int(r["id"]),
                "stadt": r["stadt"],
                "Stadtviertel": list(r["stadtviertel"]),
            }
            for r in stadte.collect()
        }
        budgets = dict(ITEM_BUDGETS)
        if item_budgets:
            budgets.update(item_budgets)
        self.state = {
            r.seed_id: {
                "scraped": 0,
                "stop_condition": 0,
                "spider_stop": False,
                "stopped": False,
                "budget": budgets.get(r.portal, DEFAULT_ITEM_BUDGET),
            }
            for r in self._seeds_local
        }
        # frontier state: ``tagged`` = pending rows + a boolean ``sel``
        # marking the NEXT wave's batch (politeness.tag_batch).  One
        # checkpoint per wave carries both the batch and the remaining
        # frontier — wave start reads sel=true, wave end unions sel=false
        # with the new links; no separate select job, no remove-fetched
        # anti-join.
        pending0 = self._local_df(
            [
                (r.seed_id, 0, r.url, "start", re.match(_NETLOC, r.url).group(1),
                 json.dumps({}), 0, 0)
                for r in self._seeds_local
            ],
            PENDING_SCHEMA,
        )
        # seen is APPEND-ONLY: the dedup joins are EXISTS-style (anti/semi),
        # so duplicate (url, seed_id) rows cannot change their outcome and
        # no per-wave re-group of the whole set is needed.  Wave increments
        # union in lazily (their lineage roots in the wave's checkpointed
        # pass output) and the union is folded to a localCheckpoint every
        # _SEEN_FOLD waves to bound plan depth.  The empty start has no
        # partitions, so the unfolded union's jobs get no task from it.
        self.seen = self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), SEEN_SCHEMA)
        self._seen_unfolded = 0
        # the deletable URL-seen sketch (advisory: the anti-join against
        # ``seen`` is the truth); at 10^10 URLs one shard per netloc bucket
        self.cuckoo = cuckoo_ops.CuckooFilter(self._CUCKOO_BUCKETS)
        self._land_frontier(self._tag(pending0, 0), 0)
        self.logs = {k: [] for k in ("fetch", "dup_skips")}
        self._trash = []
        self.out_batches = {"items": [], "docs": [], "alerts": []}
        self.metrics = []
        self.iteration = 0

    # ---------------------------------------------------------------
    def _local_df(self, rows: list, schema: T.StructType) -> DataFrame:
        """A driver-built frame that crosses to the JVM through Arrow, as a
        local table scan: unlike ``createDataFrame`` of a Python list, no
        job over Python workers computes it when a join broadcasts it.
        (Empty ``rows`` take the Python-list path.)"""
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=schema.names), schema)

    def _land_frontier(self, tagged: DataFrame, depth: int) -> int:
        """Make ``tagged`` the frontier.  One job materializes its
        checkpoint and counts both the next wave's batch (kept for
        ``run_wave``) and the rows at ``depth``, which it returns."""
        self.tagged = tagged.localCheckpoint(eager=False)
        n_sel, n_depth = self.tagged.agg(
            F.count(F.when(F.col("sel"), 1)),
            F.count(F.when(F.col("depth") == depth, 1)),
        ).first()
        self._n_batch = n_sel
        return n_depth

    def _tag(self, pending_df: DataFrame, iter_no: int) -> DataFrame:
        delays = None
        if self.autothrottle and self.at_delays:
            delays = self._local_df(
                sorted((k, float(v)) for k, v in self.at_delays.items()),
                T.StructType([T.StructField("netloc", T.StringType()),
                              T.StructField("delay_s", T.DoubleType())]),
            )
        order_cols = None
        if self._rank_df is not None:
            # priority = depth + kind_weight − rank boost: shallower rows
            # and structural pages keep a head start, high-rank URLs jump
            # the queue within it; fifo_seq stays as the deterministic
            # tie-break so equal-priority drain matches FIFO.
            kind_w = (
                F.when(F.col("kind") == "start", F.lit(0.0))
                .when(F.col("kind") == "listing", F.lit(0.25))
                .otherwise(F.lit(0.5))
            )
            pending_df = pending_df.join(
                F.broadcast(self._rank_df), "url", "left"
            ).withColumn(
                "_prio",
                F.col("depth").cast("double") + kind_w
                - F.coalesce(F.col("_rank_boost"), F.lit(0.0)),
            )
            order_cols = ["_prio", "fifo_seq"]
        tagged = politeness.tag_batch(
            pending_df, self._state_df(), self.robots, iter_no,
            iter_seconds=self.iter_seconds, token_scale=self.token_scale,
            delays=delays, order_cols=order_cols,
        )
        if self._rank_df is not None:
            tagged = tagged.drop("_prio", "_rank_boost")
        return tagged

    @property
    def pending(self) -> DataFrame:
        """The not-yet-fetched frontier (checkpoint/inspection surface)."""
        return self.tagged.drop("sel")

    def _state_df(self):
        rows = [
            (
                sid, s["scraped"], s["stop_condition"], s["spider_stop"],
                s["stopped"], s["budget"],
            )
            for sid, s in self.state.items()
        ]
        return self._local_df(rows, STATE_SCHEMA)

    def _entry_shards(self, urls: DataFrame) -> DataFrame:
        """Cuckoo entry shards of url-disjoint ``urls`` as ``rec='ckf'``
        rows of the wave's state collect — the payload base64 in
        ``doc_json``, its entry count in ``parsed``; compact (bucket, fp)
        entries, never URL strings.  ``coalesce`` (no shuffle, keeps
        url-disjointness) bounds the shard count."""
        return cuckoo_ops.cuckoo_shard_rows(
            urls.coalesce(8), self.cuckoo.n_buckets
        ).select(
            F.lit("ckf").alias("rec"),
            F.lit(None).cast("string").alias("seed_id"),
            F.base64("entries").alias("doc_json"),
            F.lit(None).cast("int").alias("partition_id"),
            F.col("n").alias("parsed"),
            F.lit(None).cast("long").alias("items"),
        )

    @staticmethod
    def _shard_entries(row) -> tuple:
        """(buckets, fps) arrays of one :meth:`_entry_shards` row."""
        return cuckoo_ops.decode_entry_payload(
            base64.b64decode(row.doc_json), int(row.parsed))

    def _rebuild_sketch(self) -> None:
        """Rebuild the sketch from the exact seen set, sized from the
        data (one distributed job; entries, not URLs, reach the driver)."""
        self.cuckoo = cuckoo_ops.build_cuckoo(
            self.seen.select("url").distinct())

    def _unpersist_later(self, df):
        """Queue a superseded localCheckpoint snapshot for release.  The
        python reference is dropped by ``_flush_trash()`` at the end of the
        SAME wave that queued it — after every job of the wave has run, so
        nothing in flight can still read it.  All consumers of a queued ref
        (notably the spilled item write that consumes ``passed``) MUST be
        synchronous jobs issued before the wave's flush; a reorder that
        defers one past ``_flush_trash()`` would read a released block.
        Without this release, every wave's batch/passed/frontier snapshots
        accumulate in the block manager for the whole run."""
        self._trash.append(df)

    def _flush_trash(self):
        self._trash.clear()

    def run_wave(self) -> dict:
        """One frontier wave. Returns metrics for the wave.

        NOTE: after a wave returns ``selected=0`` / ``fetched=0`` the run is
        over — ``self.tagged`` is not re-tagged at a later iter_no on the
        empty path, so ``not_before``-deferred rows (P4 backoff re-enqueue,
        an API no live path populates yet) cannot surface by calling
        run_wave() again; ``run()`` terminates on the first empty wave.

        Restores the caller's ``spark.sql.shuffle.partitions`` on exit —
        the per-phase overrides (4x cores for the python-heavy phase, 1x
        for small frontier jobs) are scoped to the wave's own jobs.
        """
        orig_shuffle = self.spark.conf.get("spark.sql.shuffle.partitions")
        try:
            return self._run_wave_inner()
        finally:
            # per-phase overrides must not leak into other workloads
            # sharing this SparkSession (streaming, bench analytics)
            self.spark.conf.set("spark.sql.shuffle.partitions", orig_shuffle)

    def _run_wave_inner(self) -> dict:
        t0 = time.time()
        stage_t = {}
        _last = [t0]

        def _mark(name):
            now = time.time()
            stage_t[name] = round(now - _last[0], 3)
            _last[0] = now

        it = self.iteration
        # the batch was tagged, checkpointed and counted at the END of the
        # previous wave — selecting it is a filter over cached blocks, not
        # a job over the politeness windows
        batch = self.tagged.where(F.col("sel")).select(
            "seed_id", "fifo_seq", "url", "kind", "netloc", "meta", "depth"
        )
        n_batch = self._n_batch
        _mark('select')
        if n_batch == 0:
            return {"iteration": it, "fetched": 0, "wall_ms": 0}
        state_snap_bc = self.spark.sparkContext.broadcast(
            {
                sid: (s["scraped"], s["stop_condition"], s["spider_stop"],
                      s["budget"])
                for sid, s in self.state.items()
            }
        )

        # per-phase sizing: the python-heavy stages (parse, links + seen
        # flag, pipeline pass) are sized from the batch by ``wave_width``.
        # The wave's SMALL jobs (state collect, frontier maintenance) plan
        # at 1x cores: at 4x they paid 4x the task-launch + python
        # round-trip overhead for KB-sized shuffles (measured 9.3s -> 3.9s
        # per wave at local[32], same data).  (Byte-based AQE coalescing
        # can't express this: it would collapse the python-heavy stages to
        # single partitions.)
        cores = self.spark.sparkContext.defaultParallelism
        width = wave_width(n_batch, cores)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(4 * cores))

        fetched = self.pages.join(F.broadcast(batch), "url", "inner")
        if self.pages_cached and n_batch < _FULL_WIDTH_URLS:
            # narrow: each parse task reads several cache partitions, no
            # shuffle, no html movement.  Uncached pages keep their scan
            # splits: coalescing those would read the table in few tasks.
            fetched = fetched.coalesce(width)
        # parse directly on the scan splits (coalesced for a small wave):
        # the html bytes are never shuffled — only the state machine's
        # inputs (fields + item json, the smallest slice of the parse
        # output) move in the groupBy(seed) exchange feeding the pipeline
        # pass.  At cluster scale this is the Iceberg-bucketed pages scan
        # with the wave batch broadcast to it.  Seed ctx and wave state
        # ride as python broadcasts, not joins: the only per-wave
        # broadcast BUILD is the wave batch itself.
        # non-eager localCheckpoint: the pipeline checkpoint below is the
        # first job over the parse output, so parsing happens ONCE and its
        # blocks serve both consumers — the per-seed pipeline exchange
        # (which now moves only the state machine's inputs) and the links
        # path (which stays on the parse partitions entirely: link arrays
        # never shuffle, never re-cross the Arrow boundary, and are not
        # re-materialized in the PASS checkpoint)
        parsed = parse_pages(fetched, self.run_date, self._ctx_bc).localCheckpoint(
            eager=False
        )
        if self.autothrottle:
            # P3 latency feedback: fold this wave's (deterministic
            # stand-in) latencies into the per-netloc delays that gate the
            # NEXT wave's tokens.  One extra narrow job over the wave
            # batch; O(netlocs) rows reach the driver.
            resp = fetched.select(
                "netloc", "fifo_seq",
                (F.octet_length("html") / F.lit(50_000.0) + F.lit(0.2)).alias(
                    "latency_s"
                ),
                F.lit(True).alias("ok"),
            )
            self.at_delays = politeness.autothrottle_fold(
                resp, self.at_delays
            )
        passed = pipeline_pass(
            parsed, state_snap_bc, self._stadte_by_id, self.run_ts,
            n_parts=min(2 * cores, width),
        ).localCheckpoint(eager=True)
        state_snap_bc.unpersist(blocking=False)
        # small-job phase: state aggregates + frontier maintenance.  Width
        # is DATA-sized, not core-sized: these jobs shuffle O(100k) narrow
        # rows (frontier urls, state records), where per-task launch +
        # python round-trip overhead dominates past ~16 tasks — measured
        # at local[32] the frontier/state/seen stages cost 57/23/13s at 32
        # partitions vs 28/10/2s at 8 (same data).  On a real cluster the
        # equivalent is sizing maintenance-stage partitions by bytes (AQE
        # advisory size), not by fleet width; the parse stage above is
        # sized from the batch (``wave_width``) because its cost is per-row
        # python once a wave is large.
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(cores, 8))
        )
        _mark('parse')

        # --- state update + per-partition lineage stats + inserted URLs:
        # ONE driver round-trip computes all three aggregates over the
        # checkpointed pass output (every extra per-wave job is pure serial
        # time at scale)
        pages_out = passed.where(
            ~F.col("kind").isin("__state__", "__item__")
        )
        item_rows = passed.where(F.col("kind") == "__item__")
        # non-eager localCheckpoint: the state job below (sketch shards)
        # computes this aggregation anyway and materializes the NARROW
        # (url, seed_id, fifo_seq) rows as blocks as a side effect — the
        # lazy seen-union then roots in those blocks instead of re-running
        # this groupBy over the WIDE checkpointed pass rows (item_json /
        # doc_json strings) in every later frontier job until the next
        # fold.  Measured: the unfolded-seen waves' frontier job dropped
        # from ~10s to ~wave-minimum at sf0.1.
        inserts = (
            item_rows.where(F.col("seen_url").isNotNull())
            .groupBy(F.col("seen_url").alias("url"), "seed_id")
            .agg(F.min("fifo_seq").alias("fifo_seq"))
            .localCheckpoint(eager=False)
        )
        state_rows = passed.where(F.col("kind") == "__state__").select(
            F.lit("state").alias("rec"), "seed_id", "doc_json",
            F.lit(None).cast("int").alias("partition_id"),
            F.lit(None).cast("long").alias("parsed"),
            F.lit(None).cast("long").alias("items"),
        )
        stat_rows = (
            passed.where(F.col("kind") != "__state__")
            .groupBy("partition_id")
            .agg(
                F.sum((F.col("kind") != "__item__").cast("int")).alias("parsed"),
                F.sum((F.col("kind") == "__item__").cast("int")).alias("items"),
            )
            .select(
                F.lit("pstat").alias("rec"),
                F.lit(None).cast("string").alias("seed_id"),
                F.lit(None).cast("string").alias("doc_json"),
                "partition_id", "parsed", "items",
            )
        )
        # inserted URLs reach the driver as per-partition cuckoo ENTRY
        # SHARDS (10 B/URL), not as URL strings — collecting ~85k Row
        # objects per wave measured ~55 s of pure driver time per run at
        # sf0.1, and at 10^10 URLs it couldn't work at all.  ``distinct()``
        # shuffles by url, so partitions are url-disjoint and the shard
        # counts sum exactly.
        ins_shards = self._entry_shards(inserts.select("url").distinct())
        part_stats = []
        shards = []
        for r in state_rows.unionByName(stat_rows).unionByName(ins_shards).collect():
            if r.rec == "state":
                self.state[r.seed_id].update(json.loads(r.doc_json))
            elif r.rec == "pstat":
                part_stats.append(r)
            else:
                shards.append(self._shard_entries(r))
        n_inserted = sum(len(buckets) for buckets, _ in shards)
        _mark('state')

        # --- seen update FIRST: this wave's inserts must be visible to the
        # dedup join below (the fifo-position rule resolves same-wave order).
        # The union is LAZY (inserts roots in the checkpointed pass output);
        # folding to a localCheckpoint every _SEEN_FOLD waves bounds the
        # number of unfolded parts without paying a materialization job
        # every wave.
        if n_inserted:
            self.seen = self.seen.unionByName(inserts)
            self._seen_unfolded += 1
            if self._seen_unfolded >= self._SEEN_FOLD:
                old_seen = self.seen
                self.seen = self.seen.localCheckpoint(eager=True)
                self._unpersist_later(old_seen)
                self._seen_unfolded = 0
            # a table the data outgrows spills into the stash that every
            # probe scans linearly: rebuild at the data's size instead
            if (cuckoo_ops.n_buckets_for(self.cuckoo.n_entries + n_inserted)
                    > self.cuckoo.n_buckets):
                self._rebuild_sketch()
            else:
                for buckets, fps in shards:
                    self.cuckoo.merge_entries(buckets, fps)
        _mark('seen')

        # --- new links from effective rows: the pipeline pass decided
        # WHICH pages are effective (budget/stop prefix); the link arrays
        # themselves stayed on the parse partitions.  The effective page
        # set is one narrow (seed_id, fifo_seq) row per fetched page — a
        # broadcast semi-join filters the links in place, so link bytes
        # move exactly once (into the frontier append).
        eff_pages = pages_out.where(F.col("effective")).select(
            "seed_id", "fifo_seq"
        )
        links = explode_links(
            parsed.join(F.broadcast(eff_pages), ["seed_id", "fifo_seq"], "semi")
            .select("seed_id", "fifo_seq", "links")
        ).withColumn("netloc", _netloc(F.col("url")))
        allowed, blocked = politeness.robots_filter(links, self.robots)
        # the blocked count is diagnostics; in throughput mode don't spend a
        # driver round-trip on it
        n_blocked = blocked.count() if self.track_order else -1
        _mark('links_robots')

        cand = allowed.withColumn(
            "norm_url", F.substring_index(F.col("url"), "?", 1)
        )
        seen_df = self.seen
        cand = cuckoo_ops.with_cuckoo_flag(cand, self.cuckoo)
        # reference dup rule (database.py:88-98): candidate is a dup iff an
        # item with EXACTLY url==strip(candidate) was inserted before the
        # parent page's parse (FIFO position), or by another seed / a
        # previous run (fifo_seq = -1).  ONE anti-join covers all cases:
        # rows the sketch clears (~maybe_seen — no false negatives) and
        # no-dup-check kinds carry a false conjunct, so no seen row can
        # match them and the anti-join passes them through.  The flag is
        # advisory: the planner keeps it as the join's residual condition,
        # so every candidate is still probed.  No candidate-set split, no
        # intermediate checkpoint; the whole
        # subtree roots in the checkpointed pass output and evaluates once
        # inside the wave-end frontier job.
        # coalesce: parse never emits NULL dup_check, but pin the fused
        # anti-join's NULL semantics explicitly — NULL means "no dup check",
        # the row passes through as a new link (not three-valued 'not true'
        # by accident)
        dup_cond = (F.col("c.norm_url") == F.col("s.url")) & F.coalesce(
            F.col("c.dup_check"), F.lit(False)
        ) & (
            (F.col("s.seed_id") != F.col("c.seed_id"))
            | (F.col("s.fifo_seq") < F.col("c.parent_fifo_seq"))
        ) & F.col("c.maybe_seen")
        new_links = cand.alias("c").join(
            seen_df.alias("s"), dup_cond, "left_anti"
        )
        if self.track_order:
            dup_rows = (
                cand.alias("c")
                .join(seen_df.alias("s"), dup_cond, "left_semi")
                .select("seed_id", "url")
                .collect()
            )
            self.logs["dup_skips"].extend((r.seed_id, r.url) for r in dup_rows)
        else:
            dup_rows = []

        # --- fifo assignment (per-seed monotone enqueue order).  fifo_seq
        # only has to be ORDER-preserving, not dense: links discovered in
        # wave k are enqueued after every wave<k link of the same seed, so
        # ``(wave+1)<<40 + per-seed rank`` reproduces Scrapy's FIFO order
        # without a per-wave next-fifo base table (createDataFrame +
        # broadcast join + per-seed counts round-trip were serial driver
        # time every wave).
        w = Window.partitionBy("seed_id").orderBy("parent_fifo_seq", "seq")
        new_pending = (
            new_links.withColumn("rn", F.row_number().over(w))
            .select(
                "seed_id",
                (F.lit((it + 1) << 40) + F.col("rn")).alias("fifo_seq"),
                "url",
                "kind",
                "netloc",
                "meta",
                F.lit(0).alias("not_before"),
                F.lit(it + 1).alias("depth"),
            )
        )
        _mark('dedup')

        # --- fused frontier update + NEXT wave's politeness select: the
        # unselected remainder (complementary filter over this wave's
        # cached blocks — no remove-fetched anti-join) unions with the new
        # links, and tag_batch marks wave it+1's batch against the state
        # updated above (stopped seeds' rows drop inside tag_batch).  ONE
        # checkpoint job materializes dedup + fifo + frontier + select.
        nxt = self.tagged.where(~F.col("sel")).drop("sel").unionByName(
            new_pending
        )
        # n_new_links counts post-stopped-drop rows (diagnostics), in the
        # same job that lands the checkpoint and counts the next batch
        old_tagged = self.tagged
        n_new_links = self._land_frontier(self._tag(nxt, it + 1), it + 1)
        self._unpersist_later(old_tagged)
        # the parse-output blocks are fully consumed once the frontier
        # checkpoint lands (pipeline checkpoint + links append both done);
        # unlike ``passed`` nothing later roots in them
        self._unpersist_later(parsed)
        _mark('frontier')

        # --- item outputs.  Small tiers: batches stay lazy (they root in
        # the checkpointed pass output, so accumulating them costs no job)
        # and ``passed`` blocks must then stay alive all run — a
        # localCheckpoint has no lineage to recompute from.  Big tiers
        # (self.spill_items): append the wave's batch to the parquet sink
        # and queue ``passed`` for release like every other wave snapshot,
        # so block-manager storage stays bounded by TWO waves instead of
        # O(total items) — the per-wave items-table insert a cluster
        # deployment does unconditionally (reference pipelines.py:360-404,
        # batched; here parquet, Iceberg append under the table-format
        # switch).  The lazy seen-set increments survive this: ``inserts``
        # is a non-eager localCheckpoint whose narrow blocks materialized
        # during this wave's state job, so the seen union roots in those,
        # not in ``passed``.
        item_batch = item_rows.select(
            "seed_id", "fifo_seq", "item_idx", "url", "item_json",
            "item_kind", "doc_json", "seen_url", "alert", "failure"
        )
        if self.spill_items:
            item_batch.write.mode("append").parquet(self._spill_dir)
            self._unpersist_later(passed)
        else:
            self.out_batches["items"].append(item_batch)
        if self.track_order:
            fetch_rows = (
                pages_out.where(F.col("counted"))
                .select("seed_id", "fifo_seq", "url", "kind")
                .collect()
            )
            self.logs["fetch"].extend(
                (r.seed_id, r.fifo_seq, r.url, r.kind) for r in fetch_rows
            )
        _mark('outputs')
        wall_ms = int((time.time() - t0) * 1000)
        m = {
            "iteration": it,
            "selected": n_batch,
            "fetched": sum(p["parsed"] or 0 for p in part_stats),
            "items": sum(p["items"] or 0 for p in part_stats),
            "new_links": n_new_links,
            "dups_filtered": len(dup_rows),
            "robots_blocked": n_blocked,
            "inserted": n_inserted,
            "partitions": [
                {"partition_id": p.partition_id, "parsed": p.parsed,
                 "items": int(p["items"] or 0)}
                for p in part_stats
            ],
            "wall_ms": wall_ms,
            "stages": stage_t,
        }
        self.metrics.append(m)
        self._flush_trash()
        self.iteration += 1
        if self.checkpoint_every and self.iteration % self.checkpoint_every == 0:
            self.checkpoint()
        return m

    def run(self, max_waves: int = 200) -> dict:
        total_fetched = 0
        while self.iteration < max_waves:
            # no pre-check job on pending: an empty frontier yields an
            # empty politeness batch and the wave returns selected=0
            m = self.run_wave()
            total_fetched += m.get("fetched", 0)
            if m.get("selected", 0) == 0:
                break
        return {
            "waves": self.iteration,
            "fetched": total_fetched,
            "items": sum(m.get("items", 0) for m in self.metrics),
            "inserted": sum(m.get("inserted", 0) for m in self.metrics),
        }

    # ---------------------------------------------------------------
    def close(self) -> None:
        """Release every executor-side resource this engine pinned: the
        pages cache, the frontier/seen localCheckpoint blocks (by dropping
        the python refs so the ContextCleaner reclaims them), and the
        seed-ctx broadcast.  A drained engine otherwise holds GBs of block-
        manager storage for its remaining lifetime — callers that run more
        work on the same SparkSession (bench warm-up, multi-run jobs) must
        close() the engine they are done with."""
        import logging

        log = logging.getLogger(__name__)
        # Py4JError/IllegalStateException = session already torn down,
        # expected and harmless; anything else deserves a visible warning
        # rather than a silent swallow.
        try:
            self.pages.unpersist(blocking=False)
        except Exception as e:  # noqa: BLE001 — logged, not hidden
            log.warning("close(): pages.unpersist failed: %s", e)
        try:
            self._ctx_bc.unpersist(blocking=False)
        except Exception as e:  # noqa: BLE001 — logged, not hidden
            log.warning("close(): ctx broadcast unpersist failed: %s", e)
        self.tagged = None
        self.seen = None
        self.robots = None
        self._trash.clear()
        self.out_batches = {"items": [], "docs": [], "alerts": []}
        if self._spill_dir:
            import shutil

            shutil.rmtree(self._spill_dir, ignore_errors=True)
            self._spill_dir = None
        self._closed = True

    def _check_open(self):
        if getattr(self, "_closed", False):
            raise RuntimeError(
                "CrawlEngine is closed — its cached pages/frontier blocks "
                "were released; build a new engine instead of reading "
                "results from this one"
            )

    # ---------------------------------------------------------------
    def items_df(self) -> DataFrame:
        self._check_open()
        dfs = [d for d in self.out_batches["items"]]
        if self.spill_items and self._spill_dir and os.listdir(self._spill_dir):
            dfs.append(self.spark.read.parquet(self._spill_dir))
        if not dfs:
            return self.spark.createDataFrame(
                [], "seed_id string, fifo_seq long, item_idx int, url string,"
                    "item_json string, item_kind string, doc_json string,"
                    "seen_url string, alert string, failure string")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def fetch_order(self):
        """Canonical per-seed fetch order: list of (seed_id, url, kind),
        sorted by (seed_id, fifo_seq) — comparable to SimResult.fetch_order."""
        return sorted(self.logs["fetch"], key=lambda r: (r[0], r[1]))

    def checkpoint(self):
        if not self.workdir:
            return
        from ..sources.tables import write_state

        d = os.path.join(self.workdir, f"ckpt_{self.iteration:04d}")
        os.makedirs(d, exist_ok=True)
        write_state(self.pending, os.path.join(d, "pending"))
        write_state(self.seen, os.path.join(d, "seen"))
        with open(os.path.join(d, "state.json"), "w") as f:
            json.dump({"state": self.state, "iteration": self.iteration}, f)

    def resume_from(self, ckpt_dir: str):
        from ..sources.tables import read_state

        self.seen = read_state(
            self.spark, os.path.join(ckpt_dir, "seen")
        ).localCheckpoint(eager=True)
        with open(os.path.join(ckpt_dir, "state.json")) as f:
            snap = json.load(f)
        self.state = snap["state"]
        self.iteration = snap["iteration"]
        pending = read_state(self.spark, os.path.join(ckpt_dir, "pending"))
        self._land_frontier(self._tag(
            pending.select([f.name for f in PENDING_SCHEMA.fields]),
            self.iteration,
        ), self.iteration)
        # distributed sketch rebuild from compact entry shards — NOT a
        # collect of every seen URL, which is O(inserted URLs) driver
        # memory/time and cannot work at the 10^10-URL north-star scale
        self._rebuild_sketch()

    def purge_seen(self, dead_urls: DataFrame, url_col: str = "url") -> int:
        """Liveness/retention purge of the URL-seen set (the reference's
        ``deleteItem`` + seen removal, ``database.py:125-129,27-37``):
        dead URLs drop from BOTH the exact seen table and the membership
        sketch, so a re-discovered URL is re-crawled.

        The sketch delete is IN PLACE — partitions hash their dead URLs
        to compact (bucket, fp) entries and the driver deletes those
        fingerprints (Fan et al. 2014: no 10^10-row sketch rebuild).
        Deletion is restricted to URLs actually present in the seen set
        (the cuckoo deletion precondition: deleting a never-inserted item
        could evict a colliding fingerprint), and removes ONE fingerprint
        copy per URL — multiset semantics per Fan et al. §3.2.  A URL
        inserted in two different waves (possible via dup-check-exempt
        re-fetches; rare) keeps one advisory copy, which only adds
        vanishing FP pressure: the exact seen table is the truth, so
        re-crawl decisions stay exact either way.  Returns the number of
        sketch entries deleted."""
        dead = dead_urls.select(F.col(url_col).alias("url")).distinct()
        # semi-join BEFORE the seen update: the sketch must only delete
        # fingerprints it actually holds
        dead_in_seen = dead.join(
            self.seen.select("url").distinct(), "url", "semi"
        ).localCheckpoint(eager=True)
        self.seen = self.seen.join(
            F.broadcast(dead_in_seen), "url", "left_anti"
        ).localCheckpoint(eager=True)
        self._seen_unfolded = 0
        return sum(
            self.cuckoo.delete_entries(*self._shard_entries(row))
            for row in self._entry_shards(dead_in_seen).collect()
        )
