"""session.py: the driver heap default and the shared thread pool."""

from __future__ import annotations

import pytest

from api_to_amt_data_lake_spark import session

GB = 2**30


def _phys(monkeypatch, total_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": total_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


@pytest.mark.parametrize("phys_gb, heap", [
    (16, "8192m"),     # half of a 16 GB host
    (15.5, "7936m"),   # whole megabytes, rounded down
    (96, "49152m"),    # exactly the cap
    (512, "49152m"),   # capped at 48g
])
def test_driver_memory_defaults_to_half_of_physical_capped(
        monkeypatch, phys_gb, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _phys(monkeypatch, int(phys_gb * GB))
    assert session.driver_memory() == heap


def test_driver_memory_env_overrides_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    _phys(monkeypatch, 16 * GB)
    assert session.driver_memory() == "4g"


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_pool_map_keeps_order_and_caller_job_group(spark):
    """Results come back in input order, and every call's Spark jobs
    belong to the caller's job group; a call that sets its own job
    description leaves its siblings' descriptions alone."""
    sc = spark.sparkContext
    group = "test-pool-map-group"

    def run(i: int) -> tuple[int, str | None]:
        if i == 0:
            sc.setJobDescription("call-0")
        n = spark.range(i + 1).count()
        return n, sc.getLocalProperty("spark.job.description")

    sc.setJobGroup(group, "pool-map caller")
    try:
        got = session.pool_map(spark, run, range(5), 3)
    finally:
        _clear_job_group(sc)
    assert [n for n, _ in got] == [1, 2, 3, 4, 5]
    assert [d for _, d in got] == ["call-0"] + ["pool-map caller"] * 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 5


def test_pool_map_raises_first_failure_after_all_calls(spark):
    done = []

    def run(i: int) -> int:
        if i in (1, 3):
            raise ValueError(f"item {i}")
        done.append(i)
        return i

    with pytest.raises(ValueError, match="item 1"):
        session.pool_map(spark, run, range(6), 2)
    assert sorted(done) == [0, 2, 4, 5]
