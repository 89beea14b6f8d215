import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from scrapy_crawler_german_real_estate_sites_spark.sources.tables import get_spark

    # the host's cores unless pinned; no test depends on the core count
    cpus = (os.environ.get("SPARK_GRAFT_TEST_CPUS")
            or os.environ.get("SPARK_GRAFT_CPUS")
            or str(os.cpu_count() or 1))
    s = get_spark(app="tests", cpus=cpus, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fix_small(tmp_path_factory):
    from scrapy_crawler_german_real_estate_sites_spark.sources.synth import generate

    d = tmp_path_factory.mktemp("fix") / "sf0.001"
    return generate("sf0.001", str(d))


@pytest.fixture(scope="session")
def fix_tiny(tmp_path_factory):
    from scrapy_crawler_german_real_estate_sites_spark.sources.synth import generate

    d = tmp_path_factory.mktemp("fixt") / "tiny"
    return generate("tiny", str(d))


def run_simulator(fix_dir, **kw):
    import pyarrow.parquet as pq

    from scrapy_crawler_german_real_estate_sites_spark.plans.simulator import simulate

    pages = pq.read_table(os.path.join(fix_dir, "pages.parquet"))
    pages_map = dict(
        zip(pages.column("url").to_pylist(), pages.column("text").to_pylist())
    )
    seeds = pq.read_table(os.path.join(fix_dir, "seeds.parquet")).to_pylist()
    stadte = pq.read_table(os.path.join(fix_dir, "stadte.parquet")).to_pylist()
    return simulate(pages_map, seeds, stadte, **kw)


@pytest.fixture(scope="session")
def sim_tiny(fix_tiny):
    return run_simulator(fix_tiny, hour=7)


@pytest.fixture(scope="session")
def sim_small(fix_small):
    import pyarrow.parquet as pq

    from scrapy_crawler_german_real_estate_sites_spark.plans.simulator import simulate

    pages = pq.read_table(os.path.join(fix_small, "pages.parquet"))
    pages_map = dict(
        zip(pages.column("url").to_pylist(), pages.column("text").to_pylist())
    )
    seeds = pq.read_table(os.path.join(fix_small, "seeds.parquet")).to_pylist()
    stadte = pq.read_table(os.path.join(fix_small, "stadte.parquet")).to_pylist()
    return simulate(pages_map, seeds, stadte, hour=7)
