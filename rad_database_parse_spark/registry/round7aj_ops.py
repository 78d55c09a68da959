"""Round-7aj operators: Hotelling T² control, weighted least squares,
WoE/IV feature scoring, Harinarayan-Rajaraman-Ullman greedy cube view
selection, Chao1 unseen-population estimate, and interrupted time
series.

Parity contract as everywhere (registry/__init__.py float policy).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. part_hotelling_t2_brands — multivariate control chart
# ------------------------------------------------------------------


@register(
    "part_hotelling_t2_brands",
    """
    WITH base AS (
      SELECT p_brand AS brand,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
               AS BIGINT) AS x1,
             CAST(p_size AS BIGINT) AS x2
      FROM part),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s1,
             CAST(SUM(x2) AS BIGINT) AS s2,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11,
             CAST(SUM(x2 * x2) AS BIGINT) AS s22,
             CAST(SUM(x1 * x2) AS BIGINT) AS s12
      FROM base),
    cov AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n AS m2,
             (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
               / (n - 1) AS v11,
             (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
               / (n - 1) AS v22,
             (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)
               / (n - 1) AS v12
      FROM g),
    b AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(x1) AS BIGINT) AS b1,
             CAST(SUM(x2) AS BIGINT) AS b2
      FROM base GROUP BY 1)
    SELECT b.brand, b.nb,
           CAST(b.b1 AS DOUBLE) / b.nb - c.m1 AS d_price_cents,
           CAST(b.b2 AS DOUBLE) / b.nb - c.m2 AS d_size,
           b.nb * ((CAST(b.b1 AS DOUBLE) / b.nb - c.m1)
                   * (CAST(b.b1 AS DOUBLE) / b.nb - c.m1) * c.v22
                   - 2.0 * (CAST(b.b1 AS DOUBLE) / b.nb - c.m1)
                     * (CAST(b.b2 AS DOUBLE) / b.nb - c.m2) * c.v12
                   + (CAST(b.b2 AS DOUBLE) / b.nb - c.m2)
                     * (CAST(b.b2 AS DOUBLE) / b.nb - c.m2) * c.v11)
             / (c.v11 * c.v22 - c.v12 * c.v12) AS t2
    FROM b CROSS JOIN cov c
    ORDER BY t2 DESC, brand
    """,
)
def part_hotelling_t2_brands(spark: SparkSession, sf_dir: str):
    """Hotelling T² multivariate control statistic per brand over the
    (price, size) plane — the 2-D generalization of the tier's
    univariate control charts (XmR, CUSUM): T² = n·d'S⁻¹d catches
    brands whose price-size COMBINATION drifts even when each
    marginal looks normal (the correlation term is the whole point —
    a cheap-but-large part can be 3σ multivariate while <1σ on each
    axis). The 2×2 covariance inverts in closed form (explicit
    determinant — no linear-algebra library), so T² is a fixed double
    expression of exact BIGINT moments from TWO map-side folds
    (global, per-brand). At 100 TB both folds are hash partials; the
    ranking touches 25 brand rows. The tier's ANOVA ops ask 'do
    groups differ on one axis'; this asks 'which group sits furthest
    out in the joint distribution'."""
    p = t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_brand").alias("brand"),
        (dec("p_retailprice") * 100).cast("bigint").alias("x1"),
        F.col("p_size").cast("bigint").alias("x2"),
    ).persist()
    g = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
    )
    cov = g.select(
        "n",
        F.expr("CAST(s1 AS DOUBLE) / n").alias("m1"),
        F.expr("CAST(s2 AS DOUBLE) / n").alias("m2"),
        F.expr(
            "(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)"
            " / (n - 1)"
        ).alias("v11"),
        F.expr(
            "(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)"
            " / (n - 1)"
        ).alias("v22"),
        F.expr(
            "(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)"
            " / (n - 1)"
        ).alias("v12"),
    )
    b = base.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("x1").cast("bigint").alias("b1"),
        F.sum("x2").cast("bigint").alias("b2"),
    )
    d1 = "(CAST(b1 AS DOUBLE) / nb - m1)"
    d2 = "(CAST(b2 AS DOUBLE) / nb - m2)"
    return (
        b.crossJoin(F.broadcast(cov))
        .select(
            "brand",
            "nb",
            F.expr(d1).alias("d_price_cents"),
            F.expr(d2).alias("d_size"),
            F.expr(
                f"nb * ({d1} * {d1} * v22"
                f" - 2.0 * {d1} * {d2} * v12"
                f" + {d2} * {d2} * v11)"
                " / (v11 * v22 - v12 * v12)"
            ).alias("t2"),
        )
        .orderBy(F.col("t2").desc(), "brand")
    )


# ------------------------------------------------------------------
# 2. lineitem_wls_discount_slope — heteroskedasticity-corrected fit
# ------------------------------------------------------------------


@register(
    "lineitem_wls_discount_slope",
    """
    WITH base AS (
      SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem),
    cells AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM base GROUP BY 1),
    wcells AS (
      SELECT x, n_x,
             CAST(sy * 1000 // n_x AS BIGINT) AS ybar_milli,
             CAST(n_x * 1000000000 //
                  ((n_x * syy - sy * sy) * 1000
                   // (n_x * (n_x - 1))) AS BIGINT) AS w_micro
      FROM cells),
    sums AS (
      SELECT CAST(SUM(w_micro) AS BIGINT) AS sw,
             CAST(SUM(w_micro * x) AS BIGINT) AS swx,
             CAST(SUM(w_micro * x * x) AS BIGINT) AS swxx,
             CAST(SUM(w_micro * ybar_milli) AS BIGINT) AS swy,
             CAST(SUM(w_micro * x * ybar_milli) AS BIGINT) AS swxy
      FROM wcells)
    SELECT sw, swx,
           (CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE) * swy / sw)
             / (CAST(swxx AS DOUBLE) - CAST(swx AS DOUBLE) * swx / sw)
             / 1000.0 AS wls_slope_qty_per_pct,
           (CAST(swy AS DOUBLE) / sw
            - (CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE) * swy / sw)
              / (CAST(swxx AS DOUBLE) - CAST(swx AS DOUBLE) * swx / sw)
              * (CAST(swx AS DOUBLE) / sw)) / 1000.0
             AS wls_intercept_qty
    FROM sums
    """,
)
def lineitem_wls_discount_slope(spark: SparkSession, sf_dir: str):
    """Weighted least squares on the grouped discount design — the
    FIX for what the tier's Breusch-Pagan test detects: when residual
    variance differs across discount cells, OLS is inefficient and
    its SEs lie; inverse-variance weights (w = n/s² per cell) restore
    efficiency, and on a discrete design WLS over the 11 cell means
    is EXACT (no approximation in the grouping). Parity shape: cell
    moments fold as BIGINT; weights and cell means fixed-point-
    quantize to integers BEFORE the cross-cell sums (an 11-term double
    sum would be order-dependent — the mixture-plan trick again;
    scales chosen so w·x·ȳ products clear int64 past sf10), so the final
    slope/intercept are fixed double expressions of exact integer
    sums. Two map-side folds at any scale. Read next to the OLS
    slope: the gap between them is the heteroskedasticity the
    weights just corrected."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        (dec("l_discount") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    cells = base.groupBy("x").agg(
        F.count("*").cast("bigint").alias("n_x"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    wcells = cells.select(
        "x",
        "n_x",
        F.expr("CAST(sy * 1000 div n_x AS BIGINT)").alias(
            "ybar_milli"
        ),
        F.expr(
            "CAST(n_x * 1000000000 div"
            " ((n_x * syy - sy * sy) * 1000"
            " div (n_x * (n_x - 1))) AS BIGINT)"
        ).alias("w_micro"),
    )
    sums = wcells.agg(
        F.sum("w_micro").cast("bigint").alias("sw"),
        F.sum(F.col("w_micro") * F.col("x")).cast("bigint").alias("swx"),
        F.sum(F.col("w_micro") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("swxx"),
        F.sum(F.col("w_micro") * F.col("ybar_milli"))
        .cast("bigint")
        .alias("swy"),
        F.sum(F.col("w_micro") * F.col("x") * F.col("ybar_milli"))
        .cast("bigint")
        .alias("swxy"),
    )
    slope = (
        "(CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE) * swy / sw)"
        " / (CAST(swxx AS DOUBLE) - CAST(swx AS DOUBLE) * swx / sw)"
    )
    return sums.select(
        "sw",
        "swx",
        F.expr(f"{slope} / 1000.0").alias("wls_slope_qty_per_pct"),
        F.expr(
            f"(CAST(swy AS DOUBLE) / sw - {slope}"
            " * (CAST(swx AS DOUBLE) / sw)) / 1000.0"
        ).alias("wls_intercept_qty"),
    )


# ------------------------------------------------------------------
# 3. orders_woe_iv_price_bins — credit-scoring feature evaluation
# ------------------------------------------------------------------

_WOE_BIN_CENTS = 3_000_000  # $30k bins
_WOE_MAX_BIN = 19


@register(
    "orders_woe_iv_price_bins",
    f"""
    WITH binned AS (
      SELECT LEAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
               AS BIGINT) // {_WOE_BIN_CENTS}, {_WOE_MAX_BIN}) AS bin,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS is_event
      FROM orders),
    cells AS (
      SELECT bin,
             CAST(SUM(is_event) + 1 AS BIGINT) AS g,
             CAST(SUM(1 - is_event) + 1 AS BIGINT) AS b
      FROM binned GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt
      FROM cells),
    scored AS (
      SELECT c.bin, c.g - 1 AS n_urgent, c.b - 1 AS n_rest,
             CAST(round(ln((CAST(c.g AS DOUBLE) / t.gt)
                           / (CAST(c.b AS DOUBLE) / t.bt)) * 1000000)
               AS BIGINT) AS woe_micro,
             CAST(c.g * 1000000 // t.gt
                  - c.b * 1000000 // t.bt AS BIGINT) AS diff_ppm
      FROM cells c CROSS JOIN tot t),
    iv AS (
      SELECT CAST(SUM(diff_ppm * woe_micro) AS BIGINT) AS iv_scaled
      FROM scored)
    SELECT s.bin, s.n_urgent, s.n_rest, s.woe_micro,
           s.diff_ppm * s.woe_micro AS iv_contrib_scaled,
           i.iv_scaled AS iv_total_scaled
    FROM scored s CROSS JOIN iv i
    ORDER BY s.bin
    """,
)
def orders_woe_iv_price_bins(spark: SparkSession, sf_dir: str):
    """Weight-of-Evidence / Information-Value scoring of the price
    feature against the urgent-priority target — the credit-scoring
    feature-screening standard (IV < 0.02 useless, > 0.3 strong) and
    the log-odds binning that feeds scorecard models: per fixed $30k
    bin, WoE = ln((g/G)/(b/B)) with Laplace +1 smoothing so empty
    cells stay finite (smoothing declared, applied identically in
    both engines), and IV = Σ(g/G − b/B)·WoE. Parity: WoE micro-
    rounds ONE engine-side ln per bin (the adamic-adar precedent);
    the IV sum multiplies exact ppm differences by those micro ints —
    pure BIGINT accumulation, no double sums. One fact fold to ≤20
    bins; the total rides along every row (fit and per-bin detail in
    one relation). At 100 TB this is the standard one-pass feature
    audit run per candidate column."""
    o = t(spark, sf_dir, "orders")
    binned = o.select(
        F.expr(
            f"LEAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100"
            f" AS BIGINT) div {_WOE_BIN_CENTS}, {_WOE_MAX_BIN})"
        ).alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("is_event"),
    )
    cells = binned.groupBy("bin").agg(
        (F.sum("is_event") + 1).cast("bigint").alias("g"),
        (F.sum(1 - F.col("is_event")) + 1).cast("bigint").alias("b"),
    )
    tot = cells.agg(
        F.sum("g").cast("bigint").alias("gt"),
        F.sum("b").cast("bigint").alias("bt"),
    )
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        (F.col("g") - 1).alias("n_urgent"),
        (F.col("b") - 1).alias("n_rest"),
        F.expr(
            "CAST(round(ln((CAST(g AS DOUBLE) / gt)"
            " / (CAST(b AS DOUBLE) / bt)) * 1000000) AS BIGINT)"
        ).alias("woe_micro"),
        F.expr(
            "CAST(g * 1000000 div gt - b * 1000000 div bt AS BIGINT)"
        ).alias("diff_ppm"),
    )
    iv = scored.agg(
        F.sum(F.col("diff_ppm") * F.col("woe_micro"))
        .cast("bigint")
        .alias("iv_scaled")
    )
    return (
        scored.crossJoin(F.broadcast(iv))
        .select(
            "bin",
            "n_urgent",
            "n_rest",
            "woe_micro",
            (F.col("diff_ppm") * F.col("woe_micro")).alias(
                "iv_contrib_scaled"
            ),
            F.col("iv_scaled").alias("iv_total_scaled"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------------------------
# 4. orders_cube_view_selection_greedy — HRU materialized views
# ------------------------------------------------------------------

_HRU_PICKS = 3
# 3-bit view masks: bit 2 = priority, bit 1 = year, bit 0 = month
_HRU_NAMES = {
    0: "()",
    1: "(month)",
    2: "(year)",
    3: "(year,month)",
    4: "(priority)",
    5: "(priority,month)",
    6: "(priority,year)",
    7: "(priority,year,month)",
}


def _hru_oracle() -> str:
    names = ", ".join(
        f"({m}, '{n}')" for m, n in _HRU_NAMES.items()
    )
    steps = []
    prev_m = "m0"
    for k in range(1, _HRU_PICKS + 1):
        steps.append(
            f"""
    cost{k - 1} AS (
      SELECT q.mask AS qmask,
             MIN(s.sz) AS c
      FROM sizes q JOIN {prev_m} m ON (q.mask & m.mask) = q.mask
      JOIN sizes s ON s.mask = m.mask
      GROUP BY 1),
    gain{k} AS (
      SELECT cand.mask AS cmask,
             CAST(SUM(GREATEST(c0.c - (CASE WHEN (q.mask & cand.mask)
                 = q.mask AND cand.sz < c0.c THEN cand.sz
                 ELSE c0.c END), 0)) AS BIGINT) AS benefit
      FROM sizes cand
      JOIN sizes q ON TRUE
      JOIN cost{k - 1} c0 ON c0.qmask = q.mask
      WHERE cand.mask NOT IN (SELECT mask FROM {prev_m})
      GROUP BY 1, cand.sz),
    pick{k} AS (
      SELECT cmask, benefit FROM gain{k}
      ORDER BY benefit DESC, cmask LIMIT 1),
    m{k} AS (
      SELECT mask FROM {prev_m}
      UNION ALL SELECT cmask FROM pick{k})"""
        )
        prev_m = f"m{k}"
    picks_union = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({k} AS BIGINT) AS pick_order, cmask, benefit"
        f" FROM pick{k}"
        for k in range(1, _HRU_PICKS + 1)
    )
    return f"""
    WITH cube_rows AS (
      SELECT GROUPING(o_orderpriority) * 4 + GROUPING(y) * 2
               + GROUPING(mo) AS gid
      FROM (SELECT o_orderpriority, year(o_orderdate) AS y,
                   month(o_orderdate) AS mo FROM orders)
      GROUP BY CUBE (o_orderpriority, y, mo)),
    sizes AS (
      SELECT CAST(7 - gid AS BIGINT) AS mask,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM cube_rows GROUP BY 1),
    vnames (mask, view_name) AS (VALUES {names}),
    m0 AS (SELECT CAST(7 AS BIGINT) AS mask),
    {','.join(steps)},
    picks AS (
      {picks_union})
    SELECT p.pick_order, v.view_name, p.benefit,
           s.sz AS view_rows
    FROM picks p
    JOIN vnames v ON v.mask = p.cmask
    JOIN sizes s ON s.mask = p.cmask
    ORDER BY p.pick_order
    """


@register("orders_cube_view_selection_greedy", _hru_oracle())
def orders_cube_view_selection_greedy(spark: SparkSession, sf_dir: str):
    """Greedy materialized-view selection over the CUBE lattice —
    Harinarayan-Rajaraman-Ullman's classic (SIGMOD'96), the algorithm
    under every 'which rollups should we precompute' decision: view
    sizes come from ONE CUBE aggregation (grouping-id masks — the
    8-view lattice costs one pass, not 8), a query on view q costs
    the size of its smallest materialized ancestor (q ⊆ m tested as a
    bitmask subset), and each greedy round picks the view with the
    largest total cost reduction — carrying the classic (1−1/e)
    guarantee for monotone submodular benefit. The {_HRU_PICKS}
    unrolled rounds touch only the 8-row size table (the coverage-
    greedy shape); every size/cost/benefit is an exact BIGINT row
    count. Spark and DuckDB GROUPING() share the 1-means-aggregated
    convention, so mask = 7−gid is engine-identical. At 100 TB the
    CUBE pass is the only fact-scale stage — the planner itself is
    constant-time.

    Re-planned round 12: the greedy rounds now run DRIVER-SIDE over
    the collected 8-row size table in exact Python ints (the
    customer_coverage_greedy_brands idiom). The previous distributed
    lattice unrolled pick_k → gain_k → cost_k → m_{k-1} → pick_{k-1}
    lineage whose fan-out re-embedded the CUBE aggregate ~2^k times —
    and the r12 plan audit measured the damage: the `sizes.persist()`
    failed CacheManager substitution for most references (2
    InMemoryTableScans vs 132 raw parquet scans in the executed plan;
    Catalyst had pushed mask predicates below the cube's Expand in
    the un-substituted branches), so the fact table was scanned 66×.
    Driver-side, the plan is ONE CUBE pass + an 8-row collect; the
    greedy is integer arithmetic the oracle replicates term for
    term.

    EAGER BUILDER (ADVICE r12): like customer_coverage_greedy_brands,
    constructing this op's DataFrame runs the fact-scale CUBE job at
    build time (the collect feeds the driver-side greedy), so plan-only
    sweeps (e.g. an explain-only audit) pay the full pass per build.
    A timer must include the builder call to count that pass, as
    perfbench's registry ops do."""
    o = t(spark, sf_dir, "orders")
    dims = o.select(
        "o_orderpriority",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
    )
    cube_rows = dims.cube("o_orderpriority", "y", "mo").agg(
        F.expr(
            "GROUPING(o_orderpriority) * 4 + GROUPING(y) * 2"
            " + GROUPING(mo)"
        ).alias("gid")
    )
    sizes_df = cube_rows.groupBy(
        F.expr("CAST(7 - gid AS BIGINT)").alias("mask")
    ).agg(F.count("*").cast("bigint").alias("sz"))
    # bounded: the CUBE lattice over 3 dims is exactly 2^3 = 8 rows at
    # any corpus size — the one fact-scale stage is the CUBE aggregate
    # feeding this collect; the greedy itself is metadata arithmetic
    sizes = {r["mask"]: r["sz"] for r in sizes_df.collect()}
    _schema = (
        "pick_order BIGINT, view_name STRING, benefit BIGINT,"
        " view_rows BIGINT"
    )
    if 7 not in sizes:
        # Degenerate empty-orders corpus (ADVICE r12): the CUBE over zero
        # rows yields no lattice masks at all, so the greedy has no base
        # view to cost against — degrade to the empty result the old
        # distributed plan produced instead of a KeyError.
        return spark.createDataFrame([], _schema)
    materialized = [7]
    picks: list[tuple[int, str, int, int]] = []
    for k in range(1, _HRU_PICKS + 1):
        # cost of answering q = size of its smallest materialized
        # ancestor (q ⊆ m as bitmask subset; m0={7} covers every q)
        cost = {
            q: min(sizes[m] for m in materialized if (q & m) == q)
            for q in sizes
        }
        best: tuple[tuple[int, int], int, int] | None = None
        for cand, csz in sizes.items():
            if cand in materialized:
                continue
            benefit = sum(
                cost[q] - csz
                for q in sizes
                if (q & cand) == q and csz < cost[q]
            )
            key = (benefit, -cand)  # ORDER BY benefit DESC, cmask ASC
            if best is None or key > best[0]:
                best = (key, cand, benefit)
        assert best is not None
        _, cmask, benefit = best
        picks.append((k, _HRU_NAMES[cmask], benefit, sizes[cmask]))
        materialized.append(cmask)
    return spark.createDataFrame(picks, _schema).orderBy("pick_order")


# ------------------------------------------------------------------
# 5. events_chao1_unseen_users — capture-recapture richness
# ------------------------------------------------------------------


@register(
    "events_chao1_unseen_users",
    """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1),
    fof AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
      FROM per_user)
    SELECT s_obs, f1, f2,
           CAST(s_obs * 1000 + f1 * (f1 - 1) * 1000
                // (2 * (f2 + 1)) AS BIGINT) AS chao1_milli,
           CAST(f1 * (f1 - 1) * 1000 // (2 * (f2 + 1)) AS BIGINT)
             AS est_unseen_milli
    FROM fof
    """,
)
def events_chao1_unseen_users(spark: SparkSession, sf_dir: str):
    """Chao1 estimate of the UNSEEN population — capture-recapture
    statistics applied to the event stream: from the frequency-of-
    frequencies (how many users appeared exactly once, exactly
    twice), the bias-corrected Chao1 Ŝ = S_obs + f1(f1−1)/(2(f2+1))
    lower-bounds the true user population including those the stream
    never captured — the coverage question behind 'how many users
    does this panel actually represent' and the sibling of the Heaps-
    law vocabulary curve (which asks it of words). The bias-corrected
    form is defined at f2 = 0, so no branch divergence; everything is
    exact integer arithmetic off two hash folds (user counts, then
    the 2-cell frequency census). At 100 TB the user fold is the same
    shuffle every per-user op pays; the estimator itself reads 3
    numbers. A singleton share (f1/S) near zero certifies the stream
    as saturated — the stopping rule for panel growth."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("k")
    )
    fof = per_user.agg(
        F.count("*").cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return fof.select(
        "s_obs",
        "f1",
        "f2",
        F.expr(
            "CAST(s_obs * 1000 + f1 * (f1 - 1) * 1000"
            " div (2 * (f2 + 1)) AS BIGINT)"
        ).alias("chao1_milli"),
        F.expr(
            "CAST(f1 * (f1 - 1) * 1000 div (2 * (f2 + 1)) AS BIGINT)"
        ).alias("est_unseen_milli"),
    )


# ------------------------------------------------------------------
# 6. events_interrupted_time_series — segmented regression readout
# ------------------------------------------------------------------

_ITS_BREAK = "2024-01-15"


def _its_fit(prefix: str) -> str:
    """Closed-form OLS slope/intercept from integer daily moments."""
    return f"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sx,
             CAST(SUM(d * d) AS BIGINT) AS sxx,
             CAST(SUM(rev) AS BIGINT) AS sy,
             CAST(SUM(d * rev) AS BIGINT) AS sxy
      FROM daily WHERE {prefix}"""


@register(
    "events_interrupted_time_series",
    f"""
    WITH daily AS (
      SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS d,
             CAST(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               ELSE 0 END) AS BIGINT) AS rev
      FROM events GROUP BY 1),
    brk AS (
      SELECT datediff('day', DATE '2024-01-01', DATE '{_ITS_BREAK}')
        AS t0),
    pre AS ({_its_fit("d < (SELECT t0 FROM brk)")}),
    post AS ({_its_fit("d >= (SELECT t0 FROM brk)")}),
    fits AS (
      SELECT
        (CAST(pre.n AS DOUBLE) * pre.sxy
         - CAST(pre.sx AS DOUBLE) * pre.sy)
          / (CAST(pre.n AS DOUBLE) * pre.sxx
             - CAST(pre.sx AS DOUBLE) * pre.sx) AS b_pre,
        (CAST(post.n AS DOUBLE) * post.sxy
         - CAST(post.sx AS DOUBLE) * post.sy)
          / (CAST(post.n AS DOUBLE) * post.sxx
             - CAST(post.sx AS DOUBLE) * post.sx) AS b_post,
        CAST(pre.sy AS DOUBLE) / pre.n AS my_pre,
        CAST(pre.sx AS DOUBLE) / pre.n AS mx_pre,
        CAST(post.sy AS DOUBLE) / post.n AS my_post,
        CAST(post.sx AS DOUBLE) / post.n AS mx_post,
        CAST(pre.n AS BIGINT) AS n_pre,
        CAST(post.n AS BIGINT) AS n_post
      FROM pre, post)
    SELECT n_pre, n_post, b_pre AS pre_slope_cents_per_day,
           b_post AS post_slope_cents_per_day,
           b_post - b_pre AS slope_change,
           (my_post + b_post * ((SELECT t0 FROM brk) - mx_post))
             - (my_pre + b_pre * ((SELECT t0 FROM brk) - mx_pre))
             AS level_change_at_break_cents
    FROM fits
    """,
)
def events_interrupted_time_series(spark: SparkSession, sf_dir: str):
    """Interrupted time series (segmented regression) around the
    known intervention date — the quasi-experimental readout when
    there IS no control group (the DiD op's sibling for single-arm
    rollouts): separate OLS fits on the pre and post daily-revenue
    segments give the slope change (trend break) and the level change
    AT the break (both segments extrapolated to t0 — the immediate
    effect, cleanly separated from the trend effect; the tier's Chow
    test asks IF a break exists, ITS quantifies WHAT changed). Daily
    revenue folds to exact cents; both fits are closed-form
    expressions of the two segments' five BIGINT moments each —
    engine-identical doubles, no iteration. At 100 TB the day-grain
    fold is the only fact-scale stage; the fit reads ten numbers."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                (dec("value") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rev")
    ).persist()
    t0 = F.datediff(
        F.lit(_ITS_BREAK).cast("date"), F.lit("2024-01-01").cast("date")
    )

    def seg_fit(df):
        return df.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("d").cast("bigint").alias("sx"),
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sxx"),
            F.sum("rev").cast("bigint").alias("sy"),
            F.sum(F.col("d") * F.col("rev")).cast("bigint").alias("sxy"),
        )

    pre = seg_fit(daily.filter(F.col("d") < t0)).select(
        *[F.col(c).alias(f"{c}_pre") for c in ["n", "sx", "sxx", "sy", "sxy"]]
    )
    post = seg_fit(daily.filter(F.col("d") >= t0)).select(
        *[
            F.col(c).alias(f"{c}_post")
            for c in ["n", "sx", "sxx", "sy", "sxy"]
        ]
    )

    def slope(sfx: str) -> str:
        return (
            f"(CAST(n_{sfx} AS DOUBLE) * sxy_{sfx}"
            f" - CAST(sx_{sfx} AS DOUBLE) * sy_{sfx})"
            f" / (CAST(n_{sfx} AS DOUBLE) * sxx_{sfx}"
            f" - CAST(sx_{sfx} AS DOUBLE) * sx_{sfx})"
        )

    fits = pre.crossJoin(F.broadcast(post)).withColumn("t0", t0)
    return fits.select(
        F.col("n_pre"),
        F.col("n_post"),
        F.expr(slope("pre")).alias("pre_slope_cents_per_day"),
        F.expr(slope("post")).alias("post_slope_cents_per_day"),
        F.expr(f"{slope('post')} - {slope('pre')}").alias("slope_change"),
        F.expr(
            f"(CAST(sy_post AS DOUBLE) / n_post + {slope('post')}"
            " * (t0 - CAST(sx_post AS DOUBLE) / n_post))"
            f" - (CAST(sy_pre AS DOUBLE) / n_pre + {slope('pre')}"
            " * (t0 - CAST(sx_pre AS DOUBLE) / n_pre))"
        ).alias("level_change_at_break_cents"),
    )
