"""Table IO.

Storage note (scale): the production design (SURVEY.md §1.2) targets
Iceberg tables — ``pages`` bucketed by ``bucket(N, url)`` so the per-wave
fetch join is co-partitioned, ``frontier``/``seen``/``listings`` snapshotted
for exact resume, row-level deletes for retention (D10) and liveness (E14).
This sandbox has no Iceberg runtime jars, so ``fmt()`` degrades to plain
parquet paths with the same schemas; all engine code goes through these
helpers, so pointing ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` at a configured
catalog is a config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ensure_pythonpath():
    """Python UDF workers import this package by name — make sure the repo
    root is on PYTHONPATH regardless of the driver's cwd."""
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            REPO_ROOT + (os.pathsep + pp if pp else "")
        )


def ensure_udf_imports(spark: SparkSession):
    """For sessions we didn't create (driver harness): ship the package to
    workers via addPyFile if the repo root isn't importable there.  No-op
    when the package was itself imported from a zip (spark-submit
    --py-files already distributed it — re-adding a same-named zip with
    different bytes makes executor dependency fetch fail)."""
    import hashlib
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if ".zip" in pkg_root:
        return
    tmp = tempfile.mkdtemp(prefix="spark_graft_pkg_")
    base = shutil.make_archive(
        os.path.join(tmp, "pkg"), "zip", REPO_ROOT,
        "scrapy_crawler_german_real_estate_sites_spark",
    )
    with open(base, "rb") as f:
        h = hashlib.md5(f.read()).hexdigest()[:12]
    # content-addressed name: same code → same file (addPyFile dedups);
    # changed code → new name (no stale-content clash on executors)
    zip_path = os.path.join(tempfile.gettempdir(), f"spark_graft_pkg_{h}.zip")
    if not os.path.exists(zip_path):
        shutil.move(base, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context


def table_format() -> str:
    """Engine state-table format switch (north_rule: Iceberg snapshots).
    ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` routes all engine state writes
    (checkpoints, listings/seen/metrics sinks) through an Iceberg hadoop
    catalog; the default is plain parquet paths with the same schemas."""
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def iceberg_ready(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _iceberg_ident(path: str) -> str:
    """Map a state path to a catalog identifier under the hadoop warehouse:
    ``…/run1/ckpt_0003/pending`` → ``graft.ckpt_0003_<h8>.pending`` (the
    path-hash suffix keeps concurrent runs' namespaces disjoint)."""
    import hashlib
    import re

    norm = os.path.normpath(os.path.abspath(path))
    parts = [p for p in norm.split(os.sep) if p]
    ns = re.sub(r"[^A-Za-z0-9_]", "_", parts[-2] if len(parts) > 1 else "state")
    name = re.sub(r"[^A-Za-z0-9_]", "_", parts[-1])
    h8 = hashlib.md5(norm.encode()).hexdigest()[:8]
    return f"graft.{ns}_{h8}.{name}"


def write_state(df: DataFrame, path: str, mode: str = "overwrite"):
    """Engine state sink: parquet path or Iceberg table per
    :func:`table_format`.  Iceberg writes are ``createOrReplace`` — each
    checkpoint is a new table snapshot, giving exact resume + time travel
    without the parquet-dir overwrite races."""
    if table_format() == "iceberg":
        df.writeTo(_iceberg_ident(path)).using("iceberg").createOrReplace()
    else:
        df.write.mode(mode).parquet(path)


def read_state(spark: SparkSession, path: str) -> DataFrame:
    if table_format() == "iceberg":
        return spark.read.table(_iceberg_ident(path))
    return spark.read.parquet(path)


def delete_rows(spark: SparkSession, path: str, keys: DataFrame, key_cols=("url",)):
    """Row-level delete of every row matching ``keys`` on ``key_cols`` —
    the executed sink side of D9 (liveness sweep) and D10 (retention
    window): reference ``database.py:27-37`` (``deleteStadtAngebot``) and
    ``database.py:125-129`` (``deleteUrlsliste``) issue per-row Mongo
    deletes; at 100 TB the analogue is one set-oriented

        MERGE INTO listings t USING candidates k
        ON t.url = k.url WHEN MATCHED THEN DELETE

    against the Iceberg table (row-level delete files, no table rewrite).
    The parquet fallback rewrites the table via a broadcast-able anti-join
    — correct but O(table) IO, which is exactly why the production format
    is Iceberg.  Returns the number of rows deleted."""
    before = read_state(spark, path)
    n_before = before.count()
    if table_format() == "iceberg":
        ident = _iceberg_ident(path)
        view = "_graft_delete_keys"
        keys.select(*key_cols).distinct().createOrReplaceTempView(view)
        cond = " AND ".join(f"t.{c} = k.{c}" for c in key_cols)
        spark.sql(
            f"MERGE INTO {ident} t USING {view} k ON {cond} "
            "WHEN MATCHED THEN DELETE"
        )
        spark.catalog.dropTempView(view)
    else:
        remaining = before.join(
            keys.select(*key_cols).distinct(),
            on=list(key_cols),
            how="left_anti",
        )
        # materialize off the input files before overwriting them
        remaining = remaining.localCheckpoint(eager=True)
        write_state(remaining, path)
    return n_before - read_state(spark, path).count()


def driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 40% of physical RAM, capped at the
    56g the engine was tuned with.  In local mode the driver JVM is the
    executor; a heap sized past the host lets the JVM grow until the
    kernel's OOM killer ends it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(56, int(ram * 0.4) >> 30))}g"


def get_spark(app="spark-crawl-engine", cpus=None, shuffle_partitions=None,
              extra_conf=None) -> SparkSession:
    _ensure_pythonpath()
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER overrides the default local[cpus] — notably
    # local-cluster[N,cores,memMB], the multi-executor-JVM mode used for
    # the scaling-attribution control experiment (separate heaps on one
    # box, the closest the sandbox gets to a real N->4N memory step).
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE partition coalescing sizes partitions by shuffle BYTES; our
        # post-shuffle stages are python-heavy (applyInPandas pipeline pass,
        # parse dispatch) where a few MB of compressed json = minutes of CPU,
        # so byte-based coalescing collapses them to 1 partition and runs
        # them single-core (measured 10x slowdown).  Shuffle partitions are
        # set to the core count deliberately; keep AQE for skew splitting.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # don't wait for data-local task slots in local mode — every slot
        # reads the same block manager, and waiting shows up as straggler
        # gaps between waves
        .config("spark.locality.wait", "0s")
        # single-file parquet inputs must still fan out to all cores for
        # expression-heavy scans (minhash/simhash/parse)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode: driver JVM == executor; size the heap for the pages
        # cache + per-wave localCheckpoint blocks with enough headroom that
        # G1 never runs mixed-GC storms mid-wave (measured multi-10s stage
        # stalls at 24g with 32 task threads at sf0.1)
        .config("spark.driver.memory", driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.session.timeZone", "UTC")
    )
    # every master but local[N] runs separate executor JVMs.  local-cluster
    # needs an explicit default: the master string's memMB is only the
    # WORKER capacity, and executors left at 1g OOM-loop on real tiers
    executor_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM") or (
        "13g" if master.startswith("local-cluster") else None)
    if executor_mem and master.split("[")[0] != "local":
        b = b.config("spark.executor.memory", executor_mem)
    if table_format() == "iceberg":
        wh = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        )
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.graft",
                    "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.graft.type", "hadoop")
            .config("spark.sql.catalog.graft.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load(spark: SparkSession, dir_: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(dir_, f"{name}.parquet"))


def load_pages(spark, fix_dir):
    return load(spark, fix_dir, "pages")


def load_seeds(spark, fix_dir):
    return load(spark, fix_dir, "seeds")


def load_stadte(spark, fix_dir):
    return load(spark, fix_dir, "stadte")


def load_robots(spark, fix_dir):
    return load(spark, fix_dir, "robots")
