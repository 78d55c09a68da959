"""Similarity search over embedding columns (array<float>).

- ``brute_force_cosine_topk``: exact top-k — queries broadcast against the
  corpus, cosine computed with built-in higher-order array functions
  (zip_with + aggregate, JVM-side, no Python), ranked by a per-query window.
  This is the correctness baseline; cost is |Q|·|corpus|.
- ``lsh_bucketed_cosine_topk``: the scale path — sign-bit bucketing on a
  fixed subset of coordinates (a deterministic random-hyperplane LSH
  degenerate that both Spark and an SQL oracle can reproduce). Candidates
  are only corpus vectors in the same bucket, so the join is
  |Q|·(corpus/2^bits) in expectation. At 100 TB you'd use multiple bucket
  tables (OR-amplification); the plumbing is identical.

Cosines are rounded before ranking so ranking is stable across engines'
float summation orders; ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SIGN_DIMS = [0, 8, 16, 24, 32, 40, 48, 56]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _norm_checked(a: Column, ctx: str) -> Column:
    """_norm that raises on a zero-norm vector instead of yielding a norm
    that turns every downstream cosine into NaN. Shared precondition for
    the HOF and blocked IVF paths (ADVICE r9): before r10 the blocked
    kernel raised while the HOF path silently kept NaN rows (ranked first
    by Spark's window) — now both paths fail identically, at the one place
    every corpus/query/centroid vector flows through (ivf_assign)."""
    n = _norm(a)
    return F.when(
        n == F.lit(0.0),
        F.raise_error(
            F.lit(
                f"{ctx}: zero-norm embedding — cosine is undefined; "
                "filter or impute zero vectors upstream"
            )
        ).cast("double"),
    ).otherwise(n)


def brute_force_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank). Queries are
    the small side → broadcast; corpus streams through one codegen stage."""
    # Norms are precomputed ONCE per side (a scan-local projection), not
    # per pair: the cosine inner loop then folds one zip_with instead of
    # three 64-element aggregates — ~3x less per-pair work, bit-identical
    # results (dot/(qn*cn) is the same IEEE expression on the same values).
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def sign_bucket(vec: Column, dims: list[int] | None = None) -> Column:
    """Bucket id from the sign bits of fixed coordinates (deterministic
    hyperplane-LSH stand-in: hyperplane i = coordinate axis dims[i]).

    Recall/scale dial (SCALE.md): a single b-bit table finds a pair only
    if ALL b signs agree (recall (1-θ/π)^b for angle θ). Production tuning
    OR-amplifies: L independent tables (different ``dims`` draws), union
    the candidate pairs, dedup — recall 1-(1-p^b)^L while each table's
    bucket join stays N/2^b-sized. The plan is this function called L
    times with a table id column unioned before the bucket self-join."""
    dims = dims or DEFAULT_SIGN_DIMS
    bucket = F.lit(0)
    for i, d in enumerate(dims):
        bit = F.when(F.element_at(vec, d + 1).cast("double") >= 0, 1).otherwise(0)
        bucket = bucket + bit * F.lit(1 << i)
    return bucket


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: list[int] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) for every
    same-bucket pair with rounded cosine ≥ threshold.

    The sign-bucket self-join is the scale lever: instead of the |N|² cosine
    matrix, each vector only meets vectors sharing its bucket — the shuffle
    partitions by bucket id, and the cosine runs row-locally in codegen on
    the two joined arrays (no explode)."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col), sign_bucket(F.col(vec_col), dims).alias("bucket")
    )
    a = c.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    # precomputed per-side norms: see brute_force_cosine_topk
    a = a.withColumn("na", _norm(F.col("va")))
    b = b.withColumn("nb", _norm(F.col("vb")))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    n_assign: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cent_id, cent rank) — each vector's n_assign nearest centroids
    by rounded cosine (ties on cent_id). One broadcast join + one window;
    at scale this is a map-side pass over the corpus, shuffling only
    (id, cent_id) pairs."""
    c = centroids.select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    ).withColumn("cent_n", _norm_checked(F.col("cent_v"), "ivf_assign(centroid)"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("cent_sim").desc(), F.col("cent_id").asc()
    )
    return (
        df.withColumn("vn", _norm_checked(F.col(vec_col), "ivf_assign"))
        .crossJoin(F.broadcast(c))
        .withColumn(
            "cent_sim",
            F.round(
                _dot(F.col(vec_col), F.col("cent_v"))
                / (F.col("vn") * F.col("cent_n")),
                round_digits,
            ),
        )
        .withColumn("cent_rank", F.row_number().over(w))
        .filter(F.col("cent_rank") <= n_assign)
        .select(id_col, vec_col, "cent_id")
    )


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are inverted-listed under
    their single nearest centroid; each query probes its nprobe nearest
    centroids and ranks cosine only within those lists.

    The scale shape: the corpus assignment is a broadcast-join pass
    (centroid count is small by construction), the probe join partitions by
    cent_id — work is |Q|·(corpus/nlist)·nprobe instead of |Q|·|corpus|.
    Centroids here are deterministic seed vectors (picked by id) so an SQL
    oracle reproduces the exact same lists; production would k-means them,
    which changes only the centroid table's provenance, not the plan.

    Perf note (r5, closing the r3 "+44% drift" flag): the executed plan was
    re-inspected — both broadcasts are intact (BroadcastNestedLoopJoin for
    the centroid assign, BroadcastHashJoin BuildRight for the probe join;
    the only exchanges are the two window partitionings the ranks require).
    The r3 bench number (1.77s vs r2's 1.23s) was VM speed spread, not a
    re-plan: the r5 VM measures 1.45x slower than r3's median-over-identical-
    code, yet IVF timed 1.81s there — i.e. ~1.25s in r3-machine terms, right
    at the r2 figure. The legacy battery that emitted `calib_sec` for that
    normalization is in git history up to commit 6582a12; perfbench's
    paired, alternating runs now cancel VM drift instead."""
    inv = (
        ivf_assign(corpus, centroids, 1, id_col, vec_col, round_digits)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            "cent_id",
        )
        .withColumn("cn", _norm(F.col("cv")))
    )
    probes = (
        ivf_assign(queries, centroids, nprobe, id_col, vec_col, round_digits)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            "cent_id",
        )
        .withColumn("qn", _norm(F.col("qv")))
    )
    sims = (
        inv.join(F.broadcast(probes), "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_cosine_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ivf_cosine_topk with the per-pair cosine computed as a BLOCKED
    numpy pass per inverted list (applyInPandas over cent_id) instead of
    the interpreted zip_with/aggregate HOF — for the corpus-probes-itself
    shape (kNN-graph construction) where pair volume is n·nprobe·n/nlists
    and the HOF fold dominates wall time.

    BIT-EXACT by construction, not approximately: the kernel accumulates
    dimension-by-dimension (``acc += outer(Q[:,d], C[:,d])``), which per
    pair is the identical left-to-right IEEE-double fold the HOF performs
    (((0+q0c0)+q1c1)+...); norms fold the same way before one sqrt; the
    division is the same dot/(qn*cn) expression. float32 inputs widen to
    f64 exactly on both paths. Selection safety: the kernel emits, per
    query and list, every pair whose RAW sim is within 1e-6 (one rounding
    granule at round_digits=6) of the k-th best raw sim — a PROVABLE
    superset of the rounded top-k (|round6(x)-x| <= 5e-7, so any excluded
    x has >= k pairs whose rounded sim is strictly greater) — and the
    final round + window ranking then run in Spark exactly as the HOF
    path, so the oracle contract is unchanged. Measured (r8, sf0.1 kNN
    graph, 12.5M pairs): see SCALE.md.

    PRECONDITION (ADVICE r8/r9): all vectors must have non-zero norm. A
    zero-norm vector yields sim = NaN, and before r10 the two paths
    DIVERGED — the HOF path kept NaN rows (Spark's window ranks NaN above
    every double) while this kernel's ``NaN >= kth - margin`` comparison
    is False (silent prune). Since r10 the precondition is enforced ONCE
    in ivf_assign (``_norm_checked``), which every corpus, query, and
    centroid vector flows through on BOTH paths — HOF and blocked now
    raise identically. The in-kernel raise below stays as defense in
    depth for direct callers that bypass ivf_assign."""
    import pandas as pd

    inv = ivf_assign(corpus, centroids, 1, id_col, vec_col, round_digits)
    probes = ivf_assign(
        queries, centroids, nprobe, id_col, vec_col, round_digits
    )
    tagged = inv.select(
        F.lit(0).alias("role"),
        F.col(id_col).cast("bigint").alias("rid"),
        F.col(vec_col).alias("v"),
        F.col("cent_id").cast("bigint").alias("cent_id"),
    ).unionByName(
        probes.select(
            F.lit(1).alias("role"),
            F.col(id_col).cast("bigint").alias("rid"),
            F.col(vec_col).alias("v"),
            F.col("cent_id").cast("bigint").alias("cent_id"),
        )
    )
    margin = 10.0 ** (-round_digits)

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        qs = pdf[pdf["role"] == 1]
        cs = pdf[pdf["role"] == 0]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim_raw": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "sim_raw": "float64"})
        Q = np.stack(qs["v"].to_numpy()).astype(np.float64)
        C = np.stack(cs["v"].to_numpy()).astype(np.float64)
        nq, d = Q.shape
        nc = C.shape[0]
        # dimension-ordered folds — bit-identical to the HOF per pair
        acc = np.zeros((nq, nc))
        qn = np.zeros(nq)
        cn = np.zeros(nc)
        for j in range(d):
            acc += np.multiply.outer(Q[:, j], C[:, j])
            qn += Q[:, j] * Q[:, j]
            cn += C[:, j] * C[:, j]
        if not (qn.all() and cn.all()):
            raise ValueError(
                "ivf_cosine_topk_blocked: zero-norm embedding in block — "
                "cosine is undefined (NaN) and the blocked kernel's top-k "
                "prune would silently diverge from the HOF path; filter "
                "or impute zero vectors upstream"
            )
        sims = acc / np.multiply.outer(np.sqrt(qn), np.sqrt(cn))
        qid = qs["rid"].to_numpy()
        cid = cs["rid"].to_numpy()
        self_mask = np.equal.outer(qid, cid)
        sims_sel = np.where(self_mask, -np.inf, sims)
        if nc - 1 > k:  # per-query k-th best among non-self pairs
            kth = np.partition(sims_sel, -k, axis=1)[:, -k]
            keep = sims_sel >= (kth - margin)[:, None]
        else:
            keep = ~self_mask
        keep &= ~self_mask
        qi, ci = np.nonzero(keep)
        return pd.DataFrame(
            {
                "query_id": qid[qi],
                "neighbor_id": cid[ci],
                "sim_raw": sims[qi, ci],
            }
        )

    cand = tagged.groupBy("cent_id").applyInPandas(
        block, "query_id bigint, neighbor_id bigint, sim_raw double"
    )
    sims = cand.withColumn("sim", F.round(F.col("sim_raw"), round_digits))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def lsh_bucketed_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: list[int] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: join restricted to same sign-bucket, then the same
    rounded-cosine ranking as the exact path."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("cv")), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
