"""Library calls leave no cached state behind.

The llm dedup stages, connected components and the registry iterates
materialize their intermediates with ``localCheckpoint``: after the
caller's action the session's CacheManager holds nothing, and once the
caller drops the result, Spark's ContextCleaner frees every checkpoint
block, so the persistent-RDD count returns to where it started.
"""

from __future__ import annotations

import gc
import time

import pytest

from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.session import clear_caches

# every registry query over a converted path whose builder sets no lazy
# persist of its own
QUERIES = [
    "docs_minhash_lsh",
    "docs_neardup_clusters",
    "docs_curation_funnel",
    "docs_leakage_safe_split",
    "docs_minhash_estimator_error",
    "docs_lexical_semantic_agreement",
    "docs_minhash_recall_vs_exact",
    "docs_setsim_prefix_join",
    "docs_containment_join",
    "emb_knn_loo_accuracy",
    "docs_bpe_multi_merge",
    "graph_kcore_decomposition",
]


def _persistent_rdds(spark) -> int:
    # the context's live registry, read in the JVM: getPersistentRDDs()
    # hands Python a map of JavaRDD wrappers that the py4j gateway keeps
    # reachable, so polling through it holds the very RDDs it counts
    return spark.sparkContext._jsc.sc().persistentRdds().size()


@pytest.mark.parametrize("name", QUERIES)
def test_query_leaves_no_cached_state(spark, sf_dir, name):
    clear_caches(spark)
    baseline = _persistent_rdds(spark)
    df = all_queries()[name].fn(spark, sf_dir)
    df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    del df
    # the ContextCleaner drops a checkpoint's blocks asynchronously, once
    # Python and JVM GC have both collected the dropped DataFrame
    deadline = time.monotonic() + 30
    while _persistent_rdds(spark) != baseline and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
    assert _persistent_rdds(spark) == baseline
