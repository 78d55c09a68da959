from pyspark.sql import functions as F

from rad_database_parse_spark.llm.dedup import (
    exact_dedup_by_hash,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
    token_ids,
    tokenize,
)
from rad_database_parse_spark.llm.similarity import (
    brute_force_cosine_topk,
    lsh_bucketed_cosine_topk,
)
from rad_database_parse_spark.llm.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_stats,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),       # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "el rapido zorro marron salta sobre el perro y la casa es de la familia"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = exact_dedup_by_hash(_docs(spark), "text", "doc_id")
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 3, 4, 5}  # doc 2 collapses onto min-id twin 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "text", "doc_id", n=3, threshold=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.3 <= got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_minhash_deterministic_and_lsh_candidates(spark):
    docs = _docs(spark)
    s1 = {(r.doc_id, r.hash_idx): r.minhash
          for r in minhash_signatures(docs, "text", "doc_id").collect()}
    s2 = {(r.doc_id, r.hash_idx): r.minhash
          for r in minhash_signatures(docs, "text", "doc_id").collect()}
    assert s1 == s2  # arithmetic hashes: run-to-run deterministic
    # identical docs share every signature → must be an LSH candidate pair
    pairs = minhash_lsh_candidates(docs, "text", "doc_id", threshold=0.9)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} >= {(1, 2)}


def test_simhash_collision_on_exact_dup(spark):
    sigs = {r.doc_id: r.simhash
            for r in simhash_signatures(_docs(spark), "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_cosine_topk_exact_and_lsh(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    exact = brute_force_cosine_topk(q, e, k=3)
    rows = exact.collect()
    assert len(rows) == 9  # 3 queries × k
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, nbrs in by_q.items():
        sims = [r.sim for r in sorted(nbrs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)
    # LSH path returns a subset ranking consistent with same-bucket search
    approx = lsh_bucketed_cosine_topk(q, e, k=3)
    assert approx.count() <= 9


def test_language_id(spark):
    out = {r.doc_id: r.predicted_lang
           for r in language_id(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == "en"
    assert out[5] == "es"


def test_quality_and_token_stats(spark):
    docs = _docs(spark)
    q = {r.doc_id: r for r in quality_score(docs, "text", "doc_id").collect()}
    assert all(0.0 <= r.quality <= 1.0 for r in q.values())
    s = {r.doc_id: r for r in token_stats(docs, "text", "doc_id").collect()}
    assert s[1].n_tokens_ws == 9
    assert s[1].n_tokens_bpe >= s[1].n_tokens_ws  # sub-word splits ≥ words


def test_fingerprint_order_sensitive(spark):
    a = spark.createDataFrame([(1, "alpha beta gamma"), (2, "gamma beta alpha")],
                              ["doc_id", "text"])
    toks = token_ids(tokenize(a, "text", "doc_id"))
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprint(toks, "doc_id").collect()}
    assert fp[1] != fp[2]  # same bag of words, different order → different print


def test_connected_components_path_and_clique(spark):
    from rad_database_parse_spark.llm.cluster import (
        connected_components,
        neardup_cluster_assign,
    )

    # path 1-2-3-4-5 (needs transitive propagation, exercises pointer
    # jumping), clique 10-11-12, singleton 20 (no pairs at all)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        ["id_a", "id_b"],
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20]], ["doc_id"])
    assign = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in neardup_cluster_assign(docs, pairs).collect()
    }
    assert assign[20] == (20, True)
    assert assign[1] == (1, True) and assign[5] == (1, False)
    assert assign[10] == (10, True) and assign[12] == (10, False)


def test_connected_components_plans_no_round_over_caller_lineage(
    spark, tmp_path, executed_plans
):
    # the edge list is checkpointed at entry: that is the one execution
    # that reads the caller's pairs; no round, and no plan over the
    # result, reads or re-plans that lineage
    from rad_database_parse_spark.llm.cluster import connected_components

    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    ).write.parquet(path)
    plans, comp = executed_plans(
        lambda: connected_components(spark.read.parquet(path), "id_a", "id_b")
    )
    assert len(plans) > 2  # the entry checkpoint and the probes
    assert sum("pairs.parquet" in p for p in plans) == 1
    leaves = comp._jdf.queryExecution().analyzed().collectLeaves()
    assert {leaves.apply(i).nodeName() for i in range(leaves.length())} == {
        "LogicalRDD"
    }
    assert sorted(tuple(r) for r in comp.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)
    ]


def test_simhash_64_extends_32(spark):
    docs = _docs(spark)
    s32 = {r.doc_id: r.simhash
           for r in simhash_signatures(docs, "text", "doc_id", bits=32).collect()}
    s64 = {r.doc_id: r.simhash
           for r in simhash_signatures(docs, "text", "doc_id", bits=64).collect()}
    # low 32 bits of the 64-bit signature == the legacy 32-bit signature
    for d in s32:
        assert s64[d] & 0xFFFFFFFF == s32[d]
    # the second hash block contributes real bits above bit 31
    assert any(s64[d] >> 32 != 0 for d in s64)
    # exact dups still collide at 64 bits
    assert s64[1] == s64[2] and s64[1] != s64[4]


def test_ngram_jaccard_shingle_df_cap(spark):
    docs = _docs(spark)
    # default cap is a no-op at this scale: near-dup pair survives
    base = {(r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, "text", "doc_id").collect()}
    assert (1, 2) in base
    # cap=1 drops every shared shingle -> no candidate pairs at all
    capped = ngram_jaccard_pairs(docs, "text", "doc_id", max_shingle_df=1)
    assert capped.count() == 0


def test_ivf_zero_norm_raises_on_both_paths(spark):
    # ADVICE r9: the HOF path silently kept NaN rows for zero-norm
    # vectors while the blocked kernel raised. Both now enforce the same
    # precondition in ivf_assign (_norm_checked) and fail identically.
    import pytest

    from rad_database_parse_spark.llm.similarity import (
        ivf_cosine_topk,
        ivf_cosine_topk_blocked,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    for fn in (ivf_cosine_topk, ivf_cosine_topk_blocked):
        with pytest.raises(Exception, match="zero-norm"):
            fn(vecs, vecs, cents, k=1, nprobe=1).collect()
    # and a zero-norm CENTROID raises too, on clean vectors
    ok = vecs.filter(F.col("vec_id") != 2)
    bad_cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="zero-norm"):
        ivf_cosine_topk(ok, ok, bad_cents, k=1, nprobe=1).collect()
