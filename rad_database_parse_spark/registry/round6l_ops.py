"""Round-6l operators: corpus divergence, embedding-space geometry,
and seasonality strength.

Same parity contract as the rest of the registry."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. docs_js_divergence_sources — per-source corpus divergence
# ------------------------------------------------------------------


@register(
    "docs_js_divergence_sources",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    tc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS a FROM tc GROUP BY source),
    ctot AS (SELECT tok, SUM(c) AS ct FROM tc GROUP BY tok),
    ntot AS (SELECT SUM(c) AS n FROM tc),
    probs AS (
      SELECT tc.source, tc.tok,
             CAST(tc.c::HUGEINT * 1000000000 // stot.a AS BIGINT) AS p_ppb,
             CAST((ctot.ct - tc.c)::HUGEINT * 1000000000
                  // (ntot.n - stot.a) AS BIGINT) AS q_ppb
      FROM tc
      JOIN stot ON tc.source = stot.source
      JOIN ctot ON tc.tok = ctot.tok
      CROSS JOIN ntot),
    terms AS (
      SELECT source,
             SUM(CASE WHEN p_ppb > 0 THEN CAST(round(
               -1e6 * (p_ppb / 1e9) * ln(p_ppb / 1e9)) AS BIGINT)
               ELSE 0 END) AS hp_micro,
             SUM(CASE WHEN q_ppb > 0 THEN CAST(round(
               -1e6 * (q_ppb / 1e9) * ln(q_ppb / 1e9)) AS BIGINT)
               ELSE 0 END) AS hq_micro,
             SUM(CASE WHEN p_ppb + q_ppb > 0 THEN CAST(round(
               -1e6 * (((p_ppb + q_ppb) // 2) / 1e9)
               * ln(GREATEST((p_ppb + q_ppb) // 2, 1) / 1e9))
               AS BIGINT) ELSE 0 END) AS hm_micro
      FROM probs GROUP BY source)
    SELECT source,
           CAST(hp_micro AS BIGINT) AS h_source_micro,
           CAST(hq_micro AS BIGINT) AS h_rest_micro,
           CAST(hm_micro AS BIGINT) AS h_mixture_micro,
           CAST(hm_micro - (hp_micro + hq_micro) // 2 AS BIGINT)
             AS jsd_micro
    FROM terms ORDER BY source
    """,
)
def docs_js_divergence_sources(spark: SparkSession, sf_dir: str):
    """Jensen-Shannon divergence of each source's token distribution
    against the rest of the corpus — the mixture-balance metric a
    curation team reads before weighting sources (JSD≈0: the source is
    interchangeable with the corpus; high JSD: it contributes genuinely
    different text — or template junk, which docs_source_keyness_g2
    then names). Token probabilities quantize to exact integer ppb
    (per-source and rest-of-corpus denominators from the SAME token-
    grain aggregate), the mixture is the integer midpoint, and each
    entropy term takes one ln on a ratio of exact integers quantized to
    micro-nats before the cross-token sums — so JSD = H(m) − (H(p)+
    H(q))/2 is reproducible integer arithmetic. Token-grain joins
    only; output is source-grain."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    stot = tc.groupBy("source").agg(F.sum("c").alias("a"))
    ctot = tc.groupBy("tok").agg(F.sum("c").alias("ct"))
    ntot = tc.agg(F.sum("c").alias("n"))
    probs = (
        tc.join(F.broadcast(stot), "source")
        .join(ctot, "tok")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "tok",
            F.expr(
                "CAST(c * 1000000000 div a AS BIGINT)"
            ).alias("p_ppb"),
            F.expr(
                "CAST((ct - c) * 1000000000 div (n - a) AS BIGINT)"
            ).alias("q_ppb"),
        )
    )

    def ent(col):
        return F.when(
            col > 0,
            F.round(
                -1e6 * (col / 1e9) * F.log(col / 1e9)
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    m_ppb = F.expr("(p_ppb + q_ppb) div 2")
    terms = probs.groupBy("source").agg(
        F.sum(ent(F.col("p_ppb"))).alias("hp_micro"),
        F.sum(ent(F.col("q_ppb"))).alias("hq_micro"),
        F.sum(
            F.when(
                F.col("p_ppb") + F.col("q_ppb") > 0,
                F.round(
                    -1e6
                    * (m_ppb / 1e9)
                    * F.log(
                        F.greatest(m_ppb, F.lit(1)) / 1e9
                    )
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("hm_micro"),
    )
    return terms.select(
        "source",
        F.col("hp_micro").cast("bigint").alias("h_source_micro"),
        F.col("hq_micro").cast("bigint").alias("h_rest_micro"),
        F.col("hm_micro").cast("bigint").alias("h_mixture_micro"),
        F.expr(
            "CAST(hm_micro - (hp_micro + hq_micro) div 2 AS BIGINT)"
        ).alias("jsd_micro"),
    ).orderBy("source")


# ------------------------------------------------------------------
# 2. emb_pairwise_distance_histogram — space-geometry screen
# ------------------------------------------------------------------

_PDH_EVERY = 13
_PDH_BUCKET = 500  # milli-units of squared distance per bucket


@register(
    "emb_pairwise_distance_histogram",
    f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {_PDH_EVERY} = 0),
    pd AS (
      SELECT list_sum(list_transform(range(1, 65),
               i -> CAST(round((a.v[i] - b.v[i]) * (a.v[i] - b.v[i])
                               * 1000) AS BIGINT))) AS d2_milli
      FROM s a JOIN s b ON a.vec_id < b.vec_id)
    SELECT CAST(d2_milli // {_PDH_BUCKET} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(d2_milli) AS BIGINT) AS min_d2_milli,
           CAST(MAX(d2_milli) AS BIGINT) AS max_d2_milli
    FROM pd GROUP BY bucket ORDER BY bucket
    """,
)
def emb_pairwise_distance_histogram(spark: SparkSession, sf_dir: str):
    """Pairwise squared-distance histogram over a deterministic
    embedding sample — the space-geometry screen behind every ANN
    design review: a histogram collapsing toward one spike means
    distance concentration (high intrinsic dimension — LSH and IVF
    recall will suffer and the JL audit's k must rise); heavy left
    mass means dense near-dup clusters (the dedup tier's workload).
    Distances are the repo's exact per-term milli-quantized integers
    (no summation-order exposure), so bucket assignment matches across
    engines exactly; the quadratic term is confined to the id-modulus
    sample, and the full-corpus path at scale is the IVF-bucketed
    variant of the same histogram. Complements emb_norm_profile
    (1st-moment) and emb_dimension_isotropy_audit (per-axis 2nd
    moment) with the PAIRWISE view."""
    e = t(spark, sf_dir, "embeddings")
    s = e.filter(F.col("vec_id") % _PDH_EVERY == 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    a = s.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = s.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pd = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.expr(
                "aggregate(zip_with(va, vb, (x, y) ->"
                " CAST(round((x - y) * (x - y) * 1000) AS BIGINT)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d2_milli")
        )
    )
    return (
        pd.groupBy(
            F.expr(f"CAST(d2_milli div {_PDH_BUCKET} AS BIGINT)").alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("d2_milli").cast("bigint").alias("min_d2_milli"),
            F.max("d2_milli").cast("bigint").alias("max_d2_milli"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------------
# 3. orders_seasonal_strength_anova — variance explained by season
# ------------------------------------------------------------------


@register(
    "orders_seasonal_strength_anova",
    """
    WITH m AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS ym,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    g AS (
      SELECT 1 + ym % 12 AS moy, COUNT(*) AS n,
             SUM(rev::HUGEINT) AS s, SUM(rev::HUGEINT * rev) AS ss
      FROM m GROUP BY 1),
    tot AS (
      SELECT SUM(n) AS nt, SUM(s) AS st,
             SUM(ss) AS sst_raw,
             SUM((s * s + n // 2) // n) AS between_raw
      FROM g)
    SELECT CAST(nt AS BIGINT) AS n_months,
           CAST(GREATEST(sst_raw - (st * st + nt // 2) // nt, 0)
                // 1000000 AS BIGINT) AS ss_total_e6,
           CAST(GREATEST(between_raw - (st * st + nt // 2) // nt, 0)
                // 1000000 AS BIGINT) AS ss_between_e6,
           CAST(GREATEST(between_raw - (st * st + nt // 2) // nt, 0)
                * 1000000
                // GREATEST(sst_raw - (st * st + nt // 2) // nt, 1)
                AS BIGINT)
             AS seasonal_strength_ppm
    FROM tot
    """,
)
def orders_seasonal_strength_anova(spark: SparkSession, sf_dir: str):
    """Seasonal-strength readout: the share of monthly-revenue variance
    explained by month-of-year (one-way ANOVA eta² = SS_between /
    SS_total over the calendar-month series) — the single number that
    decides whether a forecaster needs the seasonal component at all
    (lineitem_seasonal_decompose then estimates it; this op justifies
    it). Month revenues are exact integer cents; group and total
    moment sums ride HUGEINT/decimal(38,0), and the s²/n corrections
    use exact integer rounding division ((s² + n div 2) div n — a
    double detour diverges at 1e26 magnitudes where hugeint→double
    conversion is not correctly rounded in every engine); strength
    reports in exact ppm. Everything after the one fact groupBy is 12-row
    metadata arithmetic."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("ym")
    ).agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    big = "decimal(38,0)"
    g = m.groupBy((1 + F.col("ym") % 12).alias("moy")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("rev").cast(big)).alias("s"),
        F.sum((F.col("rev").cast(big) * F.col("rev")).cast(big)).alias(
            "ss"
        ),
    )

    # Exact big-decimal division helpers. Spark's integral `div` silently
    # wraps once the quotient exceeds bigint, so divide via pmod:
    # (y - pmod(y, n)) / n is an exact integer and the decimal division
    # cannot round. rdiv rounds half-up (+ n div 2 first), fdiv floors.
    def fdiv(y: str, n: str) -> str:
        yy = f"CAST({y} AS DECIMAL(38,0))"
        return (
            f"CAST(({yy} - pmod({yy}, {n})) / ({n}) AS DECIMAL(38,0))"
        )

    def rdiv(y: str, n: str) -> str:
        return fdiv(f"({y}) + ({n}) div 2", n)

    corr = F.expr(rdiv("s * s", "n"))
    tot = g.select("n", "s", "ss", corr.alias("corr")).agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst_raw"),
        F.sum("corr").alias("between_raw"),
    )
    tot_corr = rdiv("st * st", "nt")
    ss_total = f"GREATEST(sst_raw - {tot_corr}, 0)"
    ss_between = f"GREATEST(between_raw - {tot_corr}, 0)"
    return tot.select(
        F.col("nt").cast("bigint").alias("n_months"),
        F.expr(f"CAST({fdiv(ss_total, '1000000')} AS BIGINT)").alias(
            "ss_total_e6"
        ),
        F.expr(f"CAST({fdiv(ss_between, '1000000')} AS BIGINT)").alias(
            "ss_between_e6"
        ),
        F.expr(
            "CAST("
            + fdiv(f"({ss_between}) * 1000000", f"GREATEST({ss_total}, 1)")
            + " AS BIGINT)"
        ).alias("seasonal_strength_ppm"),
    )
