"""A wave's Python stages are sized from its batch (plans/crawl.py
``wave_width``): one task per 256 URLs below 4,096 URLs, 4 per core from
there on, so a small politeness-bounded wave does not pay a Python task
per core."""

import pytest

from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import (
    CrawlEngine,
    wave_width,
)


@pytest.mark.parametrize("cores", [1, 4, 8, 32])
def test_wave_width_full_from_4096_urls(cores):
    assert wave_width(4096, cores) == 4 * cores
    assert wave_width(10**7, cores) == 4 * cores
    assert wave_width(1, cores) == 1
    assert wave_width(256, cores) == 1
    assert wave_width(257, cores) == min(2, 4 * cores)
    assert wave_width(4095, cores) == min(16, 4 * cores)


def test_small_wave_runs_one_parse_and_one_pipeline_task(spark, fix_tiny):
    """The second politeness-bounded wave on the tiny tier, under a job
    group (the first one also builds the pages cache).  The wave's only
    eager ``localCheckpoint`` is the pipeline pass: its result stage is the
    pipeline stage, and the stage just before it in the same job is the
    parse stage that feeds the pass's exchange."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    eng = CrawlEngine(spark, fix_tiny, hour=7, iter_seconds=30)
    group = "test-wave-width"
    try:
        eng.run_wave()
        sc.setJobGroup(group, "one small wave")
        m = eng.run_wave()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        eng.close()
    assert 0 < m["selected"] <= 256
    width = wave_width(m["selected"], cores)
    assert width == 1

    st = sc.statusTracker()
    checkpoint_jobs = []
    for j in st.getJobIdsForGroup(group):
        stages = sorted(st.getJobInfo(j).stageIds)
        last = st.getStageInfo(stages[-1])
        if last is not None and last.name.startswith("localCheckpoint at"):
            checkpoint_jobs.append(stages)
    assert len(checkpoint_jobs) == 1
    *_, parse_id, pipeline_id = checkpoint_jobs[0]
    assert st.getStageInfo(parse_id).numTasks == width
    assert st.getStageInfo(pipeline_id).numTasks == min(2 * cores, width)
    # the parse output partitions are the parse tasks
    assert len(m["partitions"]) == width
