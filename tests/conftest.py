from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rad_database_parse_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_session(app_name="rad_database_parse_spark_tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_session_holder():
    """Alias fixture for hypothesis-driven tests (hypothesis forbids function-
    scoped fixtures under @given; session scope is fine)."""
    return get_session(app_name="rad_database_parse_spark_tests")


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and returns
    ``(number of Spark jobs it launched, fn's result)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture()
def executed_plans(spark):
    """``executed_plans(fn)`` runs ``fn()`` and returns ``(physical plan
    descriptions of the SQL executions it launched, fn's result)`` — the
    plans of eager checkpoints, counts and collects inside ``fn``."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        # executions are listed in id order; ids only grow
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def run(fn):
        first = last_id() + 1
        out = fn()
        plans = []
        for e in range(first, last_id() + 1):
            ui = store.execution(e)
            if ui.isDefined():
                plans.append(ui.get().physicalPlanDescription())
        return plans, out

    return run


@pytest.fixture()
def count_compiles(spark):
    """``count_compiles(fn)`` runs ``fn()`` and returns ``(number of
    generated classes Janino compiled meanwhile, fn's result)``; a class
    served from the codegen cache is not compiled again."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn):
        before = timer.getCount()
        out = fn()
        return timer.getCount() - before, out

    return run
