"""Session-factory hygiene (ADVICE r10, GC default r12).

1. ``get_session`` builds every session with the codegen cache sized to
   the olap working set (256 entries) and the parquet nanos conf set, and
   reads only its documented env vars; ``extra_conf`` overrides any conf.
2. ``clear_caches``: catalog ``clearCache()`` does not release
   RDD-level persists (``localCheckpoint`` blocks live outside the
   CacheManager); the gate/bench hygiene sweep must release both.
3. ``_merge_gc_flag``: the r12 ParallelGC default must never clobber
   an explicit collector choice and must honor the
   SPARK_GRAFT_STOCK_GC=1 revert knob.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark import StorageLevel

import pytest

import rad_database_parse_spark.session as session_mod
from rad_database_parse_spark.session import (
    _GC_FLAG,
    _env_conf,
    _merge_gc_flag,
    clear_caches,
    get_session,
)

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
JVM_OPTS = "spark.driver.extraJavaOptions"


def test_env_conf_parses_pairs(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF",
        "spark.sql.join.preferSortMergeJoin=false; spark.io.compression.codec=zstd ;",
    )
    assert _env_conf() == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.io.compression.codec": "zstd",
    }


def test_env_conf_empty_and_malformed(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF", raising=False)
    assert _env_conf() == {}
    monkeypatch.setenv("SPARK_GRAFT_CONF", "no-equals-sign")
    with pytest.raises(ValueError):
        _env_conf()


def test_env_conf_rejects_jvm_options(monkeypatch):
    # silently dropping a JVM-flag arm would make an A/B measure stock
    # with no signal (ADVICE r12) — it must fail loudly, pointing at
    # SPARK_DRIVER_EXTRA_JAVA_OPTIONS
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF", "spark.driver.extraJavaOptions=-XX:+UseZGC"
    )
    with pytest.raises(ValueError, match="SPARK_DRIVER_EXTRA_JAVA_OPTIONS"):
        _env_conf()


def test_gc_flag_appended_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STOCK_GC", raising=False)
    assert _merge_gc_flag("") == _GC_FLAG
    assert _merge_gc_flag("-Xss4m") == f"-Xss4m {_GC_FLAG}"


def test_gc_flag_never_clobbers_explicit_collector(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STOCK_GC", raising=False)
    # + and - forms, any collector name
    assert _merge_gc_flag("-XX:+UseZGC") == "-XX:+UseZGC"
    assert _merge_gc_flag("-XX:+UseG1GC -Xss4m") == "-XX:+UseG1GC -Xss4m"
    assert _merge_gc_flag("-XX:-UseG1GC") == "-XX:-UseG1GC"
    assert _merge_gc_flag(_GC_FLAG) == _GC_FLAG


def test_gc_flag_stock_knob_reverts(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STOCK_GC", "1")
    assert _merge_gc_flag("") == ""
    assert _merge_gc_flag("-Xss4m") == "-Xss4m"


def test_clear_caches_releases_localcheckpoint_blocks(spark):
    df = spark.range(100).localCheckpoint(eager=True)
    df.count()
    rdd = spark.range(50).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    clear_caches(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


class _FakeBuilder:
    """Records the confs ``get_session`` sets, in order."""

    def __init__(self):
        self.conf = []

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf.append((k, v))
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


class _RecordingEnv(dict):
    def __init__(self, env):
        super().__init__(env)
        self.read = set()

    def get(self, k, default=None):
        self.read.add(k)
        return super().get(k, default)

    def __getitem__(self, k):
        self.read.add(k)
        return super().__getitem__(k)


@pytest.fixture()
def fake_build(monkeypatch):
    """``fake_build(**get_session_kwargs)`` runs ``get_session`` as if no
    session were active; returns ``(confs set, last value wins; env vars
    read)``."""

    def run(**kwargs):
        builder = _FakeBuilder()
        env = _RecordingEnv(os.environ)
        monkeypatch.setattr(session_mod, "os", SimpleNamespace(environ=env))
        monkeypatch.setattr(
            session_mod,
            "SparkSession",
            SimpleNamespace(getActiveSession=lambda: None, builder=builder),
        )
        get_session(**kwargs)
        return dict(builder.conf), env.read

    return run


def test_session_conf_sizes_the_codegen_cache(spark):
    assert spark.conf.get(CODEGEN_CACHE) == "256"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_get_session_reads_only_its_documented_env(fake_build, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STOCK_GC", raising=False)
    monkeypatch.setenv("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "-Xss4m")
    conf, read = fake_build()
    assert conf[CODEGEN_CACHE] == "256"
    assert conf[JVM_OPTS] == f"-Xss4m {_GC_FLAG}"
    assert read == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_DRIVER_EXTRA_JAVA_OPTIONS",
        "SPARK_GRAFT_STOCK_GC",
        "SPARK_GRAFT_CONF",
    }


def test_extra_conf_overrides_session_defaults(fake_build, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STOCK_GC", raising=False)
    monkeypatch.setenv("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "-Xss4m")
    conf, _ = fake_build(extra_conf={CODEGEN_CACHE: "1000", JVM_OPTS: "-Xmx1g"})
    assert conf[CODEGEN_CACHE] == "1000"
    # extra_conf options replace the env's; the GC flag is still merged in
    assert conf[JVM_OPTS] == f"-Xmx1g {_GC_FLAG}"
