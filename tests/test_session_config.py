"""Session-factory hygiene (ADVICE r10, GC default r12).

1. ``_merge_driver_java_options``: the ReservedCodeCacheSize fix must
   never clobber externally configured driver JVM options, and an
   ``extra_conf`` that sets its own ``extraJavaOptions`` must not
   silently drop the code-cache flag (unless it carries an explicit
   ReservedCodeCacheSize of its own).
2. ``clear_caches``: catalog ``clearCache()`` does not release
   RDD-level persists (``localCheckpoint`` blocks live outside the
   CacheManager); the gate/bench hygiene sweep must release both.
3. ``_merge_gc_flag``: the r12 ParallelGC default must never clobber
   an explicit collector choice and must honor the
   SPARK_GRAFT_STOCK_GC=1 revert knob.
"""

from __future__ import annotations

from pyspark import StorageLevel

import pytest

from rad_database_parse_spark.session import (
    _CODE_CACHE_FLAG,
    _GC_FLAG,
    _env_conf,
    _merge_driver_java_options,
    _merge_gc_flag,
    clear_caches,
)


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


def test_merge_defaults_to_flag_only():
    opts, remaining = _merge_driver_java_options(None)
    assert opts == _CODE_CACHE_FLAG
    assert remaining == {}


def test_merge_appends_to_env_options():
    opts, _ = _merge_driver_java_options(None, "-Xss4m -Dfoo=bar")
    assert opts.startswith("-Xss4m -Dfoo=bar ")
    assert opts.endswith(_CODE_CACHE_FLAG)


def test_merge_extra_conf_wins_over_env_but_keeps_flag():
    opts, remaining = _merge_driver_java_options(
        {"spark.driver.extraJavaOptions": "-Xmx1g", "other.key": "v"},
        "-Xss4m",
    )
    assert "-Xss4m" not in opts  # extra_conf takes precedence over env
    assert opts == f"-Xmx1g {_CODE_CACHE_FLAG}"
    # the consumed extraJavaOptions entry must not be re-applied later
    assert remaining == {"other.key": "v"}


def test_merge_respects_explicit_code_cache_size():
    opts, _ = _merge_driver_java_options(
        {"spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=256m"}
    )
    assert opts == "-XX:ReservedCodeCacheSize=256m"
    assert "512m" not in opts


def test_merge_env_explicit_code_cache_size_respected():
    opts, _ = _merge_driver_java_options(None, "-XX:ReservedCodeCacheSize=1g")
    assert opts == "-XX:ReservedCodeCacheSize=1g"


def test_clear_caches_releases_localcheckpoint_blocks(spark):
    df = spark.range(100).localCheckpoint(eager=True)
    df.count()
    rdd = spark.range(50).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    clear_caches(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
