"""Round-7c operators: model-based quality filtering, trend/effect-size
statistics, embedding cluster evaluation, price elasticity, and a seeded
personalized-PageRank ranking.

Parity contract as everywhere (registry/__init__.py float policy); both
engines truncate integral division toward zero — verified for DuckDB
``//`` vs Spark ``div`` on negatives — so centroid/moment divisions need
no sign handling.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. docs_quality_linear_classifier — fixed-weight model filter
# ------------------------------------------------------------------

# Fixed public weights (micro-logits per feature unit) — stands in for a
# trained fastText/logreg quality model; the Spark-side plumbing (feature
# extraction, scoring, per-source keep rates) is the production shape.
_QW0 = -2_000_000  # intercept, micro-logits
_QW_TOK = 9_000  # per token
_QW_WLEN = 300  # per milli-char of avg word length
_QW_STOP = -4  # per ppm of function-word share
_QW_DIST = 2  # per ppm of distinct-token ratio


@register(
    "docs_quality_linear_classifier",
    f"""
    WITH feat AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_char,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x IN ('the', 'a'))) AS BIGINT)
               AS n_stop,
             CAST(len(list_distinct(string_split_regex(trim(text), '\\s+')))
               AS BIGINT) AS n_dist
      FROM documents),
    scored AS (
      SELECT source,
             {_QW0} + {_QW_TOK} * n_tok
             + {_QW_WLEN} * (n_char * 1000 // n_tok)
             + {_QW_STOP} * (n_stop * 1000000 // n_tok)
             + {_QW_DIST} * (n_dist * 1000000 // n_tok) AS z_micro
      FROM feat),
    probs AS (
      SELECT source,
             CAST(round(1e6 / (1 + exp(-(z_micro / 1e6)))) AS BIGINT)
               AS score_ppm
      FROM scored)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_keep,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm
    FROM probs GROUP BY source ORDER BY source
    """,
)
def docs_quality_linear_classifier(spark: SparkSession, sf_dir: str):
    """Model-based quality filtering with a fixed linear model — the
    FineWeb-Edu-style 'score every document with a tiny classifier, keep
    above threshold' stage. Features are exact integers (token count,
    milli avg-word-length, ppm function-word share, ppm distinct-token
    ratio — all from one scan, JVM-side); the logit is an integer dot
    product with pinned public weights, and only the final sigmoid runs
    in double on the identical micro-logit, rounded to ppm before
    aggregation. Per-source keep rates are what a curation team reads to
    see which sources the model likes. At 100 TB: embarrassingly
    parallel scan, no shuffle except the source-grain rollup; swapping
    the pinned weights for a trained model's is a constant change."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    feat = d.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.length(F.regexp_replace(F.col("text"), " ", ""))
        .cast("bigint")
        .alias("n_char"),
        F.size(
            F.filter(toks, lambda x: x.isin("the", "a"))
        )
        .cast("bigint")
        .alias("n_stop"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_dist"),
    )
    z = (
        F.lit(_QW0)
        + _QW_TOK * F.col("n_tok")
        + _QW_WLEN * F.expr("n_char * 1000 div n_tok")
        + _QW_STOP * F.expr("n_stop * 1000000 div n_tok")
        + _QW_DIST * F.expr("n_dist * 1000000 div n_tok")
    )
    probs = feat.select(
        "source",
        F.round(1e6 / (1 + F.exp(-(z / 1e6)))).cast("bigint").alias(
            "score_ppm"
        ),
    )
    return (
        probs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("score_ppm") >= 500000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
            F.expr("CAST(SUM(score_ppm) div COUNT(*) AS BIGINT)").alias(
                "avg_score_ppm"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------
# 2. orders_cochran_armitage_trend — proportion trend across years
# ------------------------------------------------------------------


@register(
    "orders_cochran_armitage_trend",
    """
    WITH yr AS (
      SELECT year(o_orderdate) - 1995 AS tscore,
             CAST(COUNT(*) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS r_t
      FROM orders GROUP BY 1),
    m AS (
      SELECT CAST(SUM(n_t) AS BIGINT) AS n,
             CAST(SUM(r_t) AS BIGINT) AS r,
             CAST(SUM(tscore * r_t) AS BIGINT) AS str_,
             CAST(SUM(tscore * n_t) AS BIGINT) AS stn,
             CAST(SUM(tscore * tscore * n_t) AS BIGINT) AS sttn
      FROM yr),
    red AS (
      SELECT n, r,
             CAST(n::HUGEINT * str_ - r::HUGEINT * stn AS BIGINT) AS num,
             CAST((r::HUGEINT * (n - r)
                   * (n::HUGEINT * sttn - stn::HUGEINT * stn))
                  // 1000000 AS BIGINT) AS den6
      FROM m)
    SELECT n AS n_orders, r AS n_urgent,
           CAST(num AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
           / sqrt(CAST(den6 AS DOUBLE) * 1e6) AS z_trend
    FROM red
    """,
)
def orders_cochran_armitage_trend(spark: SparkSession, sf_dir: str):
    """Cochran-Armitage trend test: is the urgent-order share drifting
    monotonically across order years? The ordinal-dose refinement of
    orders_priority_drift_chi2 (which only detects SOME change, not a
    direction). One year-grain conditional aggregate produces the five
    exact integer moments; num = N·Σtr − R·Σtn stays exact, the e21-
    magnitude denominator product reduces by truncating integral
    division to bigint range BEFORE any double forms (hugeint→double at
    1e21 is the known parity trap), and z assembles from identical
    doubles. Calendar-year grain: ≤ a few dozen rows after the scan."""
    o = t(spark, sf_dir, "orders")
    yr = o.groupBy(
        (F.year("o_orderdate") - 1995).alias("tscore")
    ).agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("r_t"),
    )
    m = yr.agg(
        F.sum("n_t").cast("bigint").alias("n"),
        F.sum("r_t").cast("bigint").alias("r"),
        F.sum(F.col("tscore") * F.col("r_t")).cast("bigint").alias("str_"),
        F.sum(F.col("tscore") * F.col("n_t")).cast("bigint").alias("stn"),
        F.sum(F.col("tscore") * F.col("tscore") * F.col("n_t"))
        .cast("bigint")
        .alias("sttn"),
    )
    big = "decimal(38,0)"
    red = m.select(
        "n",
        "r",
        F.expr(
            f"CAST(CAST(n AS {big}) * str_ - CAST(r AS {big}) * stn"
            " AS BIGINT)"
        ).alias("num"),
        F.expr(
            f"CAST((CAST(r AS {big}) * (n - r)"
            f" * (CAST(n AS {big}) * sttn - CAST(stn AS {big}) * stn))"
            " div 1000000 AS BIGINT)"
        ).alias("den6"),
    )
    return red.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_urgent"),
        (
            F.col("num").cast("double")
            * F.sqrt(F.col("n").cast("double"))
            / F.sqrt(F.col("den6").cast("double") * 1e6)
        ).alias("z_trend"),
    )


# ------------------------------------------------------------------
# 3. emb_silhouette_buckets — cluster-quality evaluation per label
# ------------------------------------------------------------------


@register(
    "emb_silhouette_buckets",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(1000000 * CAST(x AS DOUBLE)) AS BIGINT))
               AS qv
      FROM embeddings),
    flat AS (
      SELECT label, p.pos, qv[p.pos] AS val
      FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p),
    cent AS (
      SELECT label, pos, SUM(val) // COUNT(*) AS c
      FROM flat GROUP BY label, pos),
    carr AS (
      SELECT label AS clabel, list(c ORDER BY pos) AS cv
      FROM cent GROUP BY label),
    dists AS (
      SELECT q.vec_id, q.label, carr.clabel,
             list_sum(list_transform(range(1, 65),
               i -> (qv[i] - cv[i]) * (qv[i] - cv[i]) // 1000000))
               AS d2_micro
      FROM q CROSS JOIN carr),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN label = clabel THEN d2_micro END) AS a2,
             MIN(CASE WHEN label <> clabel THEN d2_micro END) AS b2
      FROM dists GROUP BY vec_id, label),
    s AS (
      SELECT label,
             (b2 - a2) * 1000000 // GREATEST(GREATEST(a2, b2), 1)
               AS s_ppm
      FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS avg_silhouette_ppm
    FROM s GROUP BY label ORDER BY label
    """,
)
def emb_silhouette_buckets(spark: SparkSession, sf_dir: str):
    """Simplified (centroid-based) silhouette per embedding label — the
    cluster-quality readout for the kmeans/centroid tier: a = squared
    distance to the OWN label centroid, b = min squared distance to any
    other centroid, s = (b−a)/max(a,b) in exact ppm. The medoid-free
    variant is the one that scales: per-vector cost is k centroid
    distances (k bounded), not n² pairwise. Coordinates and centroids
    are the kmeans fixed-point micro-integers (floor ×1e6, truncating
    centroid division — identical in both engines), distances collapse
    per-term to micro units, so every comparison is integer. Centroid
    table is label-grain and broadcasts."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(F.lit(1000000) * x.cast("double")).cast(
                "bigint"
            ),
        ).alias("qv"),
    )
    flat = q.select(
        "label", F.posexplode("qv").alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = flat.groupBy("label", "pos").agg(
        F.expr("SUM(val) div COUNT(*)").alias("c")
    )
    carr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)"
        ).alias("cv")
    )
    dists = q.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            "aggregate(zip_with(qv, cv, (x, y) ->"
            " (x - y) * (x - y) div 1000000),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("d2_micro"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("label") == F.col("clabel"), F.col("d2_micro"))
        ).alias("a2"),
        F.min(
            F.when(F.col("label") != F.col("clabel"), F.col("d2_micro"))
        ).alias("b2"),
    )
    s = ab.select(
        "label",
        F.expr(
            "(b2 - a2) * 1000000 div GREATEST(GREATEST(a2, b2), 1)"
        ).alias("s_ppm"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.expr("CAST(SUM(s_ppm) div COUNT(*) AS BIGINT)").alias(
                "avg_silhouette_ppm"
            ),
        )
        .orderBy("label")
    )


# ------------------------------------------------------------------
# 4. lineitem_cohens_d_matrix — pairwise effect sizes
# ------------------------------------------------------------------


@register(
    "lineitem_cohens_d_matrix",
    """
    WITH g AS (
      SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)::HUGEINT
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT))
                  AS HUGEINT) AS ss
      FROM lineitem GROUP BY 1),
    red AS (
      SELECT flag, n, s,
             CAST((ss - s::HUGEINT * s // n) // 1000 AS BIGINT) AS ssm3
      FROM g),
    pairs AS (
      SELECT a.flag AS flag_a, b.flag AS flag_b,
             a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / a.n AS mean_a,
             CAST(b.s AS DOUBLE) / b.n AS mean_b,
             (CAST(a.ssm3 AS DOUBLE) + b.ssm3) * 1000
               / (a.n + b.n - 2) AS pooled_var
      FROM red a JOIN red b ON a.flag < b.flag)
    SELECT flag_a, flag_b, n_a, n_b,
           (mean_a - mean_b) / sqrt(pooled_var) AS cohens_d,
           (mean_a - mean_b) / sqrt(pooled_var)
             * (1 - 3.0 / (4 * (n_a + n_b) - 9)) AS hedges_g
    FROM pairs ORDER BY flag_a, flag_b
    """,
)
def lineitem_cohens_d_matrix(spark: SparkSession, sf_dir: str):
    """Pairwise Cohen's d (and small-sample Hedges' g) of extended price
    across the three return flags — the effect-size companion the
    repo's test battery (Welch t, MWU, KS) needs: a significant p with
    d≈0 is noise at this row count, and d is what the power-analysis op
    consumes. One conditional-moment pass per flag (exact cents and
    cents² in HUGEINT/decimal(38,0)); the s²/n correction subtracts
    exactly, reduces to bigint range by truncating division, and the
    3-row group table self-joins (a.flag < b.flag) into 3 pairs —
    metadata-grain arithmetic after one scan."""
    l = t(spark, sf_dir, "lineitem")
    big = "decimal(38,0)"
    cents = (dec("l_extendedprice") * 100).cast("bigint")
    g = l.select(
        F.col("l_returnflag").alias("flag"), cents.alias("v")
    ).groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum((F.col("v").cast(big) * F.col("v")).cast(big)).alias("ss"),
    )
    red = g.select(
        "flag",
        "n",
        "s",
        F.expr(
            f"CAST((ss - CAST(s AS {big}) * s div n) div 1000 AS BIGINT)"
        ).alias("ssm3"),
    )
    a = red.select(
        F.col("flag").alias("flag_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ssm3").alias("ssm3_a"),
    )
    b = red.select(
        F.col("flag").alias("flag_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ssm3").alias("ssm3_b"),
    )
    pairs = a.join(b, F.col("flag_a") < F.col("flag_b")).select(
        "flag_a",
        "flag_b",
        "n_a",
        "n_b",
        (F.col("s_a").cast("double") / F.col("n_a")).alias("mean_a"),
        (F.col("s_b").cast("double") / F.col("n_b")).alias("mean_b"),
        (
            (F.col("ssm3_a").cast("double") + F.col("ssm3_b")) * 1000
            / (F.col("n_a") + F.col("n_b") - 2)
        ).alias("pooled_var"),
    )
    d = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(F.col("pooled_var"))
    return pairs.select(
        "flag_a",
        "flag_b",
        "n_a",
        "n_b",
        d.alias("cohens_d"),
        (
            d * (1 - 3.0 / (4 * (F.col("n_a") + F.col("n_b")) - 9))
        ).alias("hedges_g"),
    ).orderBy("flag_a", "flag_b")


# ------------------------------------------------------------------
# 5. part_price_elasticity_loglog — log-log demand elasticity
# ------------------------------------------------------------------


@register(
    "part_price_elasticity_loglog",
    """
    WITH obs AS (
      SELECT p_type,
             CAST(round(1e6 * ln(
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               // CAST(l_quantity AS BIGINT))) AS BIGINT) AS lp_micro,
             CAST(round(1e6 * ln(CAST(l_quantity AS BIGINT))) AS BIGINT)
               AS lq_micro
      FROM lineitem JOIN part ON p_partkey = l_partkey),
    m AS (
      SELECT p_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(lp_micro::HUGEINT) AS sx, SUM(lq_micro::HUGEINT) AS sy,
             SUM(lp_micro::HUGEINT * lp_micro) AS sxx,
             SUM(lp_micro::HUGEINT * lq_micro) AS sxy
      FROM obs GROUP BY p_type),
    red AS (
      SELECT p_type, CAST(n AS BIGINT) AS n_lines,
             CAST((n * sxy - sx * sy) // 1000000 AS BIGINT) AS covr,
             CAST((n * sxx - sx * sx) // 1000000 AS BIGINT) AS varr
      FROM m)
    SELECT p_type, n_lines,
           CAST(covr AS DOUBLE) / varr AS elasticity
    FROM red ORDER BY p_type
    """,
)
def part_price_elasticity_loglog(spark: SparkSession, sf_dir: str):
    """Log-log price elasticity of demand per part type: the OLS slope
    of ln(quantity) on ln(unit price) — the constant-elasticity read
    (%Δqty per %Δprice) a pricing team wants, where
    lineitem_discount_qty_ols gives only the local linear slope. Unit
    price is the exact integer cents floor-quotient; each row takes two
    ln's on exact integers, micro-quantized BEFORE the moment sums
    (HUGEINT/decimal(38,0)), and the covariance/variance reduction
    truncates to bigint range before the one double division. Part side
    broadcasts; one type-grain aggregate after the scan."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    unit = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        " div CAST(l_quantity AS BIGINT)"
    )
    obs = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            "p_type",
            F.round(1e6 * F.log(unit)).cast("bigint").alias("lp_micro"),
            F.round(1e6 * F.log(F.col("l_quantity").cast("bigint")))
            .cast("bigint")
            .alias("lq_micro"),
        )
    )
    big = "decimal(38,0)"
    m = obs.groupBy("p_type").agg(
        F.count("*").cast(big).alias("n"),
        F.sum(F.col("lp_micro").cast(big)).alias("sx"),
        F.sum(F.col("lq_micro").cast(big)).alias("sy"),
        F.sum((F.col("lp_micro").cast(big) * F.col("lp_micro")).cast(big)).alias(
            "sxx"
        ),
        F.sum((F.col("lp_micro").cast(big) * F.col("lq_micro")).cast(big)).alias(
            "sxy"
        ),
    )
    red = m.select(
        "p_type",
        F.col("n").cast("bigint").alias("n_lines"),
        F.expr("CAST((n * sxy - sx * sy) div 1000000 AS BIGINT)").alias(
            "covr"
        ),
        F.expr("CAST((n * sxx - sx * sx) div 1000000 AS BIGINT)").alias(
            "varr"
        ),
    )
    return red.select(
        "p_type",
        "n_lines",
        (F.col("covr").cast("double") / F.col("varr")).alias("elasticity"),
    ).orderBy("p_type")


# ------------------------------------------------------------------
# 6. graph_ppr_seed_part — personalized PageRank from one seed
# ------------------------------------------------------------------

_PPR_CTES = """pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    nodes AS (SELECT DISTINCT u AS node FROM und),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
    sd AS (SELECT MIN(u) AS seed FROM und)"""


def _ppr_iter_sql(prev: str, this: str) -> str:
    return f"""
    c{this} AS (
      SELECT und.v AS node,
             CAST(SUM(CAST(floor(CAST(r AS DOUBLE) / d) AS BIGINT))
                  AS BIGINT) AS m
      FROM und JOIN deg ON und.u = deg.u
               JOIN r{prev} ON r{prev}.node = und.u
      WHERE r > 0
      GROUP BY und.v),
    r{this} AS (
      SELECT n.node,
             CAST(CASE WHEN n.node = sd.seed THEN 150000 ELSE 0 END
                  + CAST(floor(0.85 * COALESCE(c{this}.m, 0)) AS BIGINT)
                  AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN c{this} ON c{this}.node = n.node
      CROSS JOIN sd)"""


@register(
    "graph_ppr_seed_part",
    f"""
    WITH {_PPR_CTES},
    r0 AS (
      SELECT n.node,
             CAST(CASE WHEN n.node = sd.seed THEN 1000000 ELSE 0 END
                  AS BIGINT) AS r
      FROM nodes n CROSS JOIN sd),
    {_ppr_iter_sql("0", "1")},
    {_ppr_iter_sql("1", "2")},
    {_ppr_iter_sql("2", "3")}
    SELECT CAST(node AS BIGINT) AS part_key, r AS ppr_fp
    FROM r3 WHERE r > 0
    ORDER BY ppr_fp DESC, part_key LIMIT 15
    """,
)
def graph_ppr_seed_part(spark: SparkSession, sf_dir: str):
    """Personalized PageRank from one seed part over the co-purchase
    graph — 'related products for THIS item', the query-time sibling of
    the global pagerank op: restart mass returns to the seed instead of
    spreading uniformly, so rank decays with graph distance from it.
    Three unrolled integer fixed-point iterations (same arithmetic
    contract as llm/cluster.pagerank_fixed_point: floor(r/d) spread,
    floor(0.85·Σ) damp, restart 150000 at the seed — every double op
    touches exact ints < 2^53). The seed is the minimum part key in the
    edge list — computed as a 1-row broadcast, no collect. Shares the
    persisted co-purchase edge list with the label-propagation/
    modularity family; iteration state is node-grain.

    r9 degree fold (the pagerank recipe, llm/cluster.py): degree comes
    from a count window over the repartitioned undirected edges and the
    joined edges+deg relation persists ONCE — the old lazy
    groupBy+join deg was re-executed by every one of the 3 unrolled
    iterations' plan branches (3 edge-grain shuffles), and nodes/seed
    now read the same cache. Interleaved A/B at sf0.1: 6.6-7.1s →
    4.75s, top-15 identical (exact fixed-point integers)."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    from .round6b_ops import _copurchase_labels

    _edges, und, _r2 = _copurchase_labels(spark, sf_dir)
    # Partition sizing reuses the pagerank formula (llm/cluster.py:167,
    # ADVICE r9 — a literal 32 over-shatters small machines and
    # under-partitions at scale): ~1M undirected edges per partition,
    # floored at min(32, defaultParallelism). und reads the persisted
    # edge cache, so the count is a cache scan, not a recompute.
    n_und = und.count()
    par = spark.sparkContext.defaultParallelism
    nparts = max(min(32, par), -(-n_und // 1_000_000))
    ed = (
        und.repartition(nparts, "u")
        .withColumn(
            "d", F.count("*").over(Window.partitionBy("u")).cast("bigint")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ed.count()  # materialize once; all 3 iterations + nodes/seed reuse it
    # Setup-cache release (VERDICT r12 item 4, the pagerank
    # release_after_setup idiom): the shared co-purchase caches serve
    # SETUP only here — und.count() materialized the edge cache, ed is
    # now materialized from it, and everything downstream (nodes, seed,
    # all 3 iterations) reads ed — so the edge cache must not outlive
    # setup for library callers that have no harness cache sweep. _r2's
    # persist mark never materialized in this query (no consumer), so
    # unpersisting it only drops the CacheManager entry. The CacheManager
    # keys entries by plan, so this release is session-wide: a later
    # graph_label_propagation or modularity op in the same session
    # re-pays the lineitem self-join the shared edge cache saved.
    # Results are unaffected.
    _edges.unpersist()
    _r2.unpersist()
    nodes = ed.select(F.col("u").alias("node")).distinct()
    sd = ed.agg(F.min("u").alias("seed"))
    restart = F.when(F.col("node") == F.col("seed"), F.lit(150000)).otherwise(
        F.lit(0)
    )
    ranks = nodes.crossJoin(F.broadcast(sd)).select(
        "node",
        F.when(F.col("node") == F.col("seed"), F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
    )
    for _ in range(3):
        contrib = (
            ed.join(
                # node-grain and nonzero-pruned: early iterations carry
                # only the seed's neighborhood; parts are dimension-
                # bounded, so the rank table broadcasts at any fact scale
                F.broadcast(ranks.filter(F.col("r") > 0)),
                ed.u == F.col("node"),
            )
            .select(
                F.col("v").alias("node"),
                F.floor(F.col("r").cast("double") / F.col("d"))
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("m"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(sd))
            .select(
                "node",
                (
                    restart
                    + F.floor(
                        F.lit(0.85) * F.coalesce(F.col("m"), F.lit(0))
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
    return (
        ranks.filter(F.col("r") > 0)
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.col("r").alias("ppr_fp"),
        )
        .orderBy(F.col("ppr_fp").desc(), "part_key")
        .limit(15)
    )
