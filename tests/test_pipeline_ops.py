"""Semantic tests for the pipeline-ops family: PageRank vs a pure-Python
reference, CDC diff round-trip, packing invariants."""

import math

from pyspark.sql import functions as F

from rad_database_parse_spark.llm.cluster import pagerank_fixed_point


def _python_pagerank(edges, iters, scale, base):
    """Independent reference of the fixed-point rules (same math, no
    Spark): rank(v) = base + floor(0.85 * sum(floor(rank(u)/deg(u))))
    over the FULL node set (src ∪ dst) — a node with no inbound edges
    keeps rank = base, and its outbound contributions keep flowing."""
    from collections import defaultdict

    deg = defaultdict(int)
    nodes = set()
    for u, v in edges:
        deg[u] += 1
        nodes.add(u)
        nodes.add(v)
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        incoming = defaultdict(int)
        for u, v in edges:
            incoming[v] += math.floor(rank[u] / deg[u])
        rank = {
            v: base + math.floor(0.85 * incoming.get(v, 0)) for v in nodes
        }
    return rank


def test_pagerank_matches_python_reference(spark):
    # star + chain + triangle, symmetrized: heterogeneous degrees
    directed = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (7, 8), (8, 9), (9, 7)]
    edges = directed + [(v, u) for u, v in directed]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(df, iters=6).collect()
    }
    want = _python_pagerank(edges, iters=6, scale=1_000_000, base=150_000)
    assert got == want
    # the hub of the star must out-rank its leaves
    assert got[1] > got[2] == got[3]


def test_pagerank_keeps_pure_source_nodes(spark):
    """ADVICE r2: a node with out-edges but no in-edges (node 1 here) must
    survive every iteration at rank = base and keep feeding its successors
    — previously it vanished after round 1 and rounds 2+ diverged."""
    directed = [(1, 2), (2, 3), (3, 2), (2, 4), (4, 2)]
    df = spark.createDataFrame(directed, ["src", "dst"])
    got = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(df, iters=5).collect()
    }
    want = _python_pagerank(directed, iters=5, scale=1_000_000, base=150_000)
    assert got == want
    assert got[1] == 150_000  # pure source: base rank, never dropped
    # node 2 receives node 1's contribution every round, so it must
    # out-rank what it would get from 3 and 4 alone
    assert got[2] > got[3]


def test_snapshot_diff_roundtrip(spark, sf_dir):
    """Applying the emitted diff to the old snapshot reproduces the new
    snapshot exactly — the CDC contract."""
    from rad_database_parse_spark.registry.pipeline_ops import (
        snapshot_diff_customers,
    )
    from rad_database_parse_spark.catalog.io import load_table

    diff = snapshot_diff_customers(spark, sf_dir).persist()
    c = load_table(spark, sf_dir, "customer")
    old = c.select(
        "c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("bal")
    )
    # reconstruct new = old - removed - changed_old + changed_new + added
    upserts = diff.filter(F.col("change_type") != "removed").select(
        "c_custkey", F.col("new_bal").cast("decimal(12,2)").alias("bal")
    )
    dropped_keys = diff.filter(
        F.col("change_type") != "added"
    ).select("c_custkey")
    reconstructed = (
        old.join(dropped_keys, "c_custkey", "left_anti").unionByName(upserts)
    )
    # independent build of the new snapshot (mirrors the query's synthesis)
    new = (
        c.filter(F.col("c_custkey") % 10 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0,
                F.col("c_acctbal").cast("decimal(12,2)") + 100,
            )
            .otherwise(F.col("c_acctbal").cast("decimal(12,2)"))
            .alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
            )
        )
    )
    assert reconstructed.exceptAll(new).count() == 0
    assert new.exceptAll(reconstructed).count() == 0
    diff.unpersist()


def test_pack_sequences_conservation(spark, sf_dir):
    """Packing must conserve documents and tokens per language."""
    from rad_database_parse_spark.registry.pipeline_ops import (
        docs_pack_sequences,
    )
    from rad_database_parse_spark.catalog.io import load_table
    from rad_database_parse_spark.llm.text import token_count_expr

    packs = docs_pack_sequences(spark, sf_dir)
    got = {
        r.lang: (r.docs, r.toks)
        for r in packs.groupBy("lang")
        .agg(
            F.sum("n_docs").alias("docs"), F.sum("pack_tokens").alias("toks")
        )
        .collect()
    }
    d = load_table(spark, sf_dir, "documents")
    want = {
        r.lang: (r.docs, r.toks)
        for r in d.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(token_count_expr(F.col("text"))).alias("toks"),
        )
        .collect()
    }
    assert got == want

