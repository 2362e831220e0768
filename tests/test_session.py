"""Session factory: the default master fits the host; package shipping
is idempotent per SparkContext; concurrent driver chains cancel each
other on failure."""

import os
import sys
import time

import pytest

from ner_extractor_spark.session import (_ship_package, default_master,
                                         run_concurrently)


def test_default_master_is_one_thread_per_usable_cpu(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert default_master({}) == "local[3]"
    assert default_master({"SPARK_GRAFT_CPUS": "6"}) == "local[6]"
    assert default_master({"SPARK_GRAFT_MASTER": "local[2]",
                           "SPARK_GRAFT_CPUS": "6"}) == "local[2]"


def test_ship_package_twice_is_a_noop(spark):
    # the fixture's get_spark already shipped the zip once; every
    # further call (one per input spread) must not re-add it
    sc = spark.sparkContext
    includes, path = list(sc._python_includes), list(sys.path)
    _ship_package(spark)
    _ship_package(spark)
    assert sc._python_includes == includes
    assert sys.path == path
    assert any(name.startswith("ner_extractor_spark-")
               for name in includes)


@pytest.mark.parametrize("nested", [False, True])
def test_failing_chain_cancels_its_sibling(spark, nested):
    """One chain raises while the other runs a job that would take a
    minute: the call raises the first error within seconds and the
    sibling's job ends cancelled, also when that job runs in a chain
    nested inside the sibling."""
    from pyspark.sql import functions as F

    @F.udf("long")
    def slow(x):
        import time
        time.sleep(60)
        return x

    sc = spark.sparkContext
    sibling_errors, failed_at = [], []

    def slow_chain():
        try:
            return spark.range(1, numPartitions=1).select(slow("id")).collect()
        except Exception as e:
            sibling_errors.append(e)
            raise

    def failing_chain():
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "sibling job never started"
            time.sleep(0.1)
        failed_at.append(time.monotonic())
        raise RuntimeError("chain failed")

    def nested_chain():
        return run_concurrently(slow_chain, lambda: None)

    with pytest.raises(RuntimeError, match="chain failed"):
        run_concurrently(nested_chain if nested else slow_chain,
                         failing_chain)
    assert time.monotonic() - failed_at[0] < 15
    assert len(sibling_errors) == 1
    assert "cancel" in str(sibling_errors[0]).lower()
    assert not sc.getJobTags()
