"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configs are
chosen so the same code scales to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) so shuffle
  partition counts self-correct between the sf0.001 smoke and a 100 TB run.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster AQE
  coalesces from a higher initial number.
- Arrow enabled so every Pandas-UDF boundary is batched, never per-row.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from .registry import clear_prepared_plans

_JVM_OPTS_KEY = "spark.driver.extraJavaOptions"
_GC_FLAG = "-XX:+UseParallelGC"


def _merge_gc_flag(opts: str) -> str:
    """Append the throughput-collector flag unless the caller already
    names a collector.

    Shipped round 12 from a four-arm interleaved GC A/B over the legacy
    full query battery (the battery is in git history up to commit
    6582a12, the per-arm results BENCH_AB_r12_*.json up to 27a9fa0;
    decision rule pre-registered before the runs): vs stock
    G1, ParallelGC cut
    battery-concurrent ("organic") GC 21.5→5.3s (-75-80%, consistent in
    all four parallel-arm runs) and won battery min-of-2 342.0s vs
    429.2s (-20%) with headline not worse (19.2 vs 22.4 min-of-2);
    normalized by the CPU calibration it was best-or-tied in BOTH
    interleaved cycles (199/224 vs stock 250/270). Honest caveat,
    recorded in SCALE.md: the session VM drifted ±30% (calib 1.52-2.09)
    across arms and raw battery split 1-1 by cycle — the ship rests on
    the pre-registered min-of-2 rule, the every-run normalized
    consistency, and the mechanism (a latency-irrelevant batch engine
    doesn't need G1's pause guarantees; G1's write barriers +
    remembered-set upkeep tax Tungsten's allocation-heavy operators).
    This is the classic throughput-collector recommendation for batch
    Spark; on a real cluster apply the same flag to
    spark.executor.extraJavaOptions. To measure stock G1, name it in the
    options (``-XX:+UseG1GC``)."""
    if re.search(r"-XX:[+-]Use\w*GC", opts):
        return opts  # never clobber an explicit collector choice
    return f"{opts} {_GC_FLAG}".strip()


def get_session(
    app_name: str = "rad_database_parse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    An existing active session is reused untouched, so ``extra_conf`` (the
    one way to set confs here) applies only when a session is built.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The nine olap_mix queries generate ~100-130 classes per pass; at
        # Spark's default of 100 entries every warm pass evicted and
        # recompiled nearly all of them. 256 holds that working set twice.
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # read the TIMESTAMP(NANOS) columns of some testdata generations as
        # long (catalog.io.normalize_timestamps converts them)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    merged = dict(extra_conf or {})
    caller_opts = merged.pop(
        _JVM_OPTS_KEY, os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "")
    )
    caller_opts = _merge_gc_flag(caller_opts)
    if caller_opts:
        builder = builder.config(_JVM_OPTS_KEY, caller_opts)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_caches(spark: SparkSession) -> None:
    """HARNESS-ONLY cache sweep: drop ALL cached state between queries.

    For ``tools/check_correctness.py`` and tests, which own the whole
    session. It is deliberately indiscriminate — it unpersists EVERY
    RDD in the context's persistent-RDD map, including caches owned by
    unrelated caller code on a shared ``getOrCreate`` session — so do
    NOT call it from library paths.

    Library paths materialize an intermediate with ``localCheckpoint``,
    never ``persist`` + ``count``: a checkpoint adds no CacheManager
    entry, and its blocks (RDD-level persists OUTSIDE the CacheManager)
    are freed by the ContextCleaner once the caller drops the DataFrame
    and Python+JVM GC collect it — at a nondeterministic time over a
    long many-query session. ``spark.catalog.clearCache()`` only evicts
    CacheManager entries (the lazy ``persist``/``cache`` marks some
    registry ops still set). This sweeps both, so nothing one query
    materialized outlives it: the catalog cache, then every RDD still
    registered in the context's persistent-RDD map.

    It also forgets the registry's prepared plans
    (``registry.clear_prepared_plans``), so the next call of each
    registry query is a fresh Python build and analysis."""
    clear_prepared_plans()
    spark.catalog.clearCache()
    # JavaSparkContext.getPersistentRDDs(): Map<Integer, JavaRDD<?>>.
    # unpersist(True) = blocking, so block release can't bleed into the
    # next query's run (ADVICE r11).
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
