"""The registry's prepared-plan memo (``registry._memoized``).

A registry query called again in the same session, under the same conf,
over unchanged input files returns a fresh DataFrame over the plan its
last build analyzed, without running the Python builder. These tests pin
what must miss (a rewritten file, a file added to an input directory, a
flipped SQL conf, a new session, ``clear_caches``), what is never memoized
(a build that runs a job, a Python UDF or UDTF, a ``LogicalRDD`` leaf),
that a hit returns what a fresh build returns, and that the nine
``olap_mix`` queries stay eligible.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rad_database_parse_spark import registry
from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.session import clear_caches
from tools.check_correctness import compare, duck_conn

SCHEMA = "k int, v int"


@pytest.fixture()
def data_dir():
    d = tempfile.mkdtemp(prefix="prepared_plans_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(path: str, rows: list[tuple[int, int]]) -> None:
    """Write `rows` to a parquet file that replaces `path` (a new inode)."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    pq.write_table(
        pa.table(
            {"k": pa.array([r[0] for r in rows], pa.int32()),
             "v": pa.array([r[1] for r in rows], pa.int32())}
        ),
        tmp,
    )
    os.replace(tmp, path)


class Builder:
    """A memoized builder that counts how often its Python body runs."""

    def __init__(self, body):
        self.body = body
        self.builds = 0
        self.fn = registry._memoized(f"test_{uuid.uuid4().hex}", self._build)

    def _build(self, spark, sf_dir):
        self.builds += 1
        return self.body(spark, sf_dir)


def _sum_by_k(path: str):
    return lambda spark, d: (
        spark.read.schema(SCHEMA).parquet(os.path.join(d, path))
        .groupBy("k").agg(F.sum("v").alias("s"))
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_a_hit_skips_the_build_and_returns_the_fresh_result(spark, data_dir):
    _write(os.path.join(data_dir, "t.parquet"), [(1, 10), (1, 5), (2, 7)])
    q = Builder(_sum_by_k("t.parquet"))
    fresh = q.fn(spark, data_dir)
    hit = q.fn(spark, data_dir)
    assert q.builds == 1
    assert hit is not fresh
    assert _rows(hit) == _rows(fresh) == [(1, 15), (2, 7)]


def test_a_rewritten_input_file_misses(spark, data_dir):
    path = os.path.join(data_dir, "t.parquet")
    _write(path, [(1, 10)])
    q = Builder(_sum_by_k("t.parquet"))
    assert _rows(q.fn(spark, data_dir)) == [(1, 10)]
    _write(path, [(1, 10), (3, 4)])
    assert _rows(q.fn(spark, data_dir)) == [(1, 10), (3, 4)]
    assert q.builds == 2


def test_a_file_added_to_an_input_directory_misses(spark, data_dir):
    os.mkdir(os.path.join(data_dir, "t"))
    _write(os.path.join(data_dir, "t", "part-0.parquet"), [(1, 10)])
    q = Builder(_sum_by_k("t"))
    assert _rows(q.fn(spark, data_dir)) == [(1, 10)]
    q.fn(spark, data_dir)
    assert q.builds == 1
    # the plan's file index lists the directory once; a hit here would
    # silently drop the new file's rows
    _write(os.path.join(data_dir, "t", "part-1.parquet"), [(1, 1), (2, 2)])
    assert _rows(q.fn(spark, data_dir)) == [(1, 11), (2, 2)]
    assert q.builds == 2


def test_a_flipped_sql_conf_misses(spark, data_dir):
    _write(os.path.join(data_dir, "t.parquet"), [(1, 10)])
    q = Builder(_sum_by_k("t.parquet"))
    q.fn(spark, data_dir)
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        q.fn(spark, data_dir)
        assert q.builds == 2
        q.fn(spark, data_dir)
        assert q.builds == 2
    finally:
        spark.conf.set(key, before)
    q.fn(spark, data_dir)
    assert q.builds == 3


def test_a_new_session_misses(spark, data_dir):
    _write(os.path.join(data_dir, "t.parquet"), [(1, 10)])
    q = Builder(_sum_by_k("t.parquet"))
    q.fn(spark, data_dir)
    other = spark.newSession()
    assert _rows(q.fn(other, data_dir)) == [(1, 10)]
    assert q.builds == 2


def test_clear_caches_drops_the_memo(spark, data_dir):
    _write(os.path.join(data_dir, "t.parquet"), [(1, 10)])
    q = Builder(_sum_by_k("t.parquet"))
    q.fn(spark, data_dir)
    q.fn(spark, data_dir)
    assert q.builds == 1
    clear_caches(spark)
    q.fn(spark, data_dir)
    assert q.builds == 2


def test_an_entry_is_rebuilt_after_max_hits(spark, data_dir, monkeypatch):
    monkeypatch.setattr(registry, "_MAX_HITS", 2)
    _write(os.path.join(data_dir, "t.parquet"), [(1, 10)])
    q = Builder(_sum_by_k("t.parquet"))
    for _ in range(4):
        q.fn(spark, data_dir)
    assert q.builds == 2  # build, hit, hit, build


def _runs_a_job(spark, d):
    n = spark.range(3).count()
    return spark.range(n).select((F.col("id") * 2).alias("x"))


def _python_udf(spark, d):
    plus_one = F.udf(lambda x: x + 1, "long")
    return spark.range(3).select(plus_one("id").alias("x"))


def _python_udtf(spark, d):
    @F.udtf(returnType="x int")
    class UpToThree:
        def eval(self, n: int):
            for x in range(n, 4):
                yield (x,)

    # deterministic, so the UDTF rule, not the determinism one, applies
    return UpToThree.asDeterministic()(F.lit(1))


def _logical_rdd(spark, d):
    rdd = spark.sparkContext.parallelize([(0,), (2,), (4,)])
    return spark.createDataFrame(rdd, "x long")


@pytest.mark.parametrize(
    "body, want",
    [
        (_runs_a_job, [0, 2, 4]),
        (_python_udf, [1, 2, 3]),
        (_python_udtf, [1, 2, 3]),
        (_logical_rdd, [0, 2, 4]),
    ],
)
def test_ineligible_builds_are_never_memoized(spark, count_jobs, body, want):
    q = Builder(body)
    for _ in range(3):
        assert sorted(r.x for r in q.fn(spark, "unused").collect()) == want
    assert q.builds == 3
    if body is not _runs_a_job:  # so its own rule is what turns it away
        assert count_jobs(lambda: body(spark, "unused"))[0] == 0


OLAP_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q18_large_volume_orders",
    "window_topk_per_customer",
    "agg_rollup_region_nation",
    "sessionize_events",
    "funnel_view_click_purchase",
    "asof_last_view_before_purchase",
]


def _jobs_and_stages(spark, fn):
    """``(jobs, stages that ran a task, fn's result)`` for ``fn()``."""
    sc = spark.sparkContext
    group = f"prepared-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    # past spark.ui.retainedStages the status store evicts the stages with
    # the oldest completion time, skipped ones (none) first: a stage that
    # ran a task during fn() completed last and is still there, so an
    # evicted stage ran none
    infos = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    stages = [i for i in infos if i is not None and i.numCompletedTasks > 0]
    return len(jobs), len(stages), out


@pytest.mark.parametrize("name", OLAP_MIX)
def test_olap_mix_queries_hit_and_run_like_a_fresh_build(spark, sf_dir, name):
    # An eager action or a Python UDF added to one of these builders turns
    # its memo off and silently costs the benchmark its warm-pass win;
    # this fails instead.
    qd = all_queries()[name]
    qd.fn.__wrapped__(spark, sf_dir)  # infer the input schemas first
    registry.clear_prepared_plans()
    fresh = qd.fn(spark, sf_dir)
    entry = registry._PLANS.get((name, sf_dir))
    assert entry is not None, f"{name} is no longer memoized"
    hit = qd.fn(spark, sf_dir)
    assert registry._PLANS[(name, sf_dir)] is entry and hit is not fresh
    fresh_run = _jobs_and_stages(spark, fresh.toPandas)
    hit_run = _jobs_and_stages(spark, hit.toPandas)
    assert hit_run[:2] == fresh_run[:2]
    conn = duck_conn(sf_dir)
    try:
        oracle = conn.execute(qd.oracle).fetchdf()
    finally:
        conn.close()
    assert compare(name, hit_run[2], oracle) == []
