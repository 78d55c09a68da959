"""Round-7h operators: video scene cuts (completing the multimodal
audio/image/video matrix), a Kleinberg-style burst fold, inverted-index
segment-merge accounting, a TOPSIS supplier scorecard, and an ensemble
anomaly vote.

Parity contract as everywhere (registry/__init__.py float policy).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. multimodal_video_scene_cuts — shot-boundary detection
# ------------------------------------------------------------------

_VSC_FB = 16  # bytes per frame
_VSC_NF = 16  # frames per payload
_VSC_TH = 200  # cut threshold on |energy delta|


@register(
    "multimodal_video_scene_cuts",
    f"""
    WITH px AS (
      SELECT doc_id, CAST(gs.i AS BIGINT) // {_VSC_FB} AS frame,
             ord(substr(text, CAST(gs.i AS INT) + 1, 1)) AS b
      FROM documents LEFT JOIN LATERAL
           (SELECT unnest(range({_VSC_FB * _VSC_NF})) AS i) gs ON TRUE
      WHERE length(text) >= {_VSC_FB * _VSC_NF} AND gs.i IS NOT NULL),
    fe AS (
      SELECT doc_id, frame, CAST(SUM(b) AS BIGINT) AS energy
      FROM px GROUP BY doc_id, frame),
    diffs AS (
      SELECT doc_id,
             ABS(energy - LAG(energy) OVER (
               PARTITION BY doc_id ORDER BY frame)) AS d
      FROM fe),
    agg AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN d > {_VSC_TH} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cuts,
             CAST(MAX(d) AS BIGINT) AS max_frame_delta,
             CAST(SUM(d) * 1000 // COUNT(d) AS BIGINT)
               AS mean_delta_milli
      FROM diffs WHERE d IS NOT NULL GROUP BY doc_id)
    SELECT doc_id, CAST({_VSC_NF} AS BIGINT) AS n_frames, n_cuts,
           max_frame_delta, mean_delta_milli
    FROM agg ORDER BY doc_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str):
    """Shot-boundary (scene-cut) detection over binary payloads — the
    VIDEO member that completes the multimodal matrix (audio:
    multimodal_audio_frame_energy, image: multimodal_image_patch_stats):
    16 frames × 16 bytes per payload, per-frame luminance proxy = byte
    sum, cut where the frame-to-frame |energy delta| clears the
    threshold — the first-pass heuristic every video curation pipeline
    runs before model scoring. REAL numpy (frombuffer → reshape →
    vectorized diff) inside Arrow-batched mapInPandas; payloads are
    ASCII so the DuckDB mirror reproduces every byte via ord(substr)
    and a per-doc lag. Value-gated end to end — swap frombuffer for a
    codec and the batch shape/schema is the production pipeline
    (llm/multimodal.py video_scene_cuts)."""
    from ..llm.multimodal import attach_binary_payload, video_scene_cuts

    d = attach_binary_payload(t(spark, sf_dir, "documents"), "text")
    return video_scene_cuts(
        d,
        payload_col="payload",
        id_col="doc_id",
        frame_bytes=_VSC_FB,
        n_frames=_VSC_NF,
        cut_threshold=_VSC_TH,
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# 2. orders_kleinberg_burst_fold — 2-state burst automaton
# ------------------------------------------------------------------


@register(
    "orders_kleinberg_burst_fold",
    """
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
    cal AS (
      SELECT d0 + CAST(gs.i AS INT) AS d
      FROM span LEFT JOIN LATERAL
        (SELECT unnest(range(5000)) AS i) gs ON TRUE
      WHERE d0 + CAST(gs.i AS INT) <= d1),
    dense AS (
      SELECT cal.d, COALESCE(days.c, 0) AS c
      FROM cal LEFT JOIN days USING (d)),
    series AS (
      SELECT list(c ORDER BY d) AS cs, CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(c) AS BIGINT) AS total
      FROM dense),
    rates AS (
      SELECT cs, nd, total,
             total * 1000 // nd AS r0,
             2 * (total * 1000 // nd) AS r1
      FROM series),
    folded AS (
      SELECT nd, r0, r1,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), r0, 0, 0],
                            list_transform(cs, x -> [x, 0, 0, 0])),
               (acc, e) -> [
                 LEAST(acc[1], acc[2]) + ABS(e[1] * 1000 - r0),
                 LEAST(acc[1] + r0, acc[2]) + ABS(e[1] * 1000 - r1),
                 CASE WHEN acc[1] <= acc[2] THEN acc[3] ELSE acc[4] END,
                 (CASE WHEN acc[1] + r0 < acc[2] THEN acc[3]
                       ELSE acc[4] END) + 1]) AS st
      FROM rates)
    SELECT nd AS n_days, r0 AS base_rate_milli,
           CAST(LEAST(st[1], st[2]) AS BIGINT) AS min_cost_milli,
           CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4] END
             AS BIGINT) AS burst_days
    FROM folded
    """,
)
def orders_kleinberg_burst_fold(spark: SparkSession, sf_dir: str):
    """Two-state Kleinberg-style burst detection over the daily order
    series, solved as a Viterbi min-cost fold INSIDE an array-HOF
    aggregate — the second distributed-recursion showcase next to the
    Croston op: state 0 tracks the base rate, state 1 twice it, per-day
    cost is the |count − rate| L1 deviation (milli units), entering the
    burst state pays the r0 penalty, and the fold carries
    [cost0, cost1, burstdays0, burstdays1] so the winning path's burst
    census pops out with NO backtrace pass. The calendar-densified
    series is bounded (~2.5k days), every quantity is an exact integer,
    ties break toward staying — deterministic on any partitioning.
    DuckDB seeds via the zero-state prepend (no list_reduce init);
    Spark's aggregate() seeds explicitly — identical LEFT folds."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = (
        span.select(
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
        )
    )
    dense = cal.join(days, "d", "left").select(
        "d", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")
    )
    series = dense.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, c))), s -> s.c)"
        ).alias("cs"),
        F.count("*").cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("total"),
    )
    rates = series.select(
        "cs",
        "nd",
        F.expr("total * 1000 div nd").alias("r0"),
        F.expr("2 * (total * 1000 div nd)").alias("r1"),
    )
    fold = (
        "aggregate(cs, array(CAST(0 AS BIGINT), r0, CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT)), (acc, x) -> array("
        " LEAST(acc[0], acc[1]) + ABS(x * 1000 - r0),"
        " LEAST(acc[0] + r0, acc[1]) + ABS(x * 1000 - r1),"
        " CASE WHEN acc[0] <= acc[1] THEN acc[2] ELSE acc[3] END,"
        " (CASE WHEN acc[0] + r0 < acc[1] THEN acc[2] ELSE acc[3] END)"
        " + 1))"
    )
    folded = rates.select(
        "nd", F.col("r0").alias("base_rate_milli"), F.expr(fold).alias("st")
    )
    return folded.select(
        F.col("nd").alias("n_days"),
        "base_rate_milli",
        F.expr("CAST(LEAST(st[0], st[1]) AS BIGINT)").alias(
            "min_cost_milli"
        ),
        F.expr(
            "CAST(CASE WHEN st[0] <= st[1] THEN st[2] ELSE st[3] END"
            " AS BIGINT)"
        ).alias("burst_days"),
    )


# ------------------------------------------------------------------
# 3. docs_postings_segment_merge — inverted-index maintenance account
# ------------------------------------------------------------------


@register(
    "docs_postings_segment_merge",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    seg AS (
      SELECT term,
             CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS df_base,
             CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS df_delta
      FROM toks GROUP BY term)
    SELECT term, df_base, df_delta,
           df_base + df_delta AS df_merged,
           (df_base + df_delta) * 8 AS merged_postings_bytes,
           CASE WHEN df_delta * 5 > df_base THEN 1 ELSE 0 END
             AS needs_major_merge
    FROM seg
    ORDER BY df_merged DESC, term LIMIT 20
    """,
)
def docs_postings_segment_merge(spark: SparkSession, sf_dir: str):
    """Inverted-index segment-merge accounting — the Lucene-style
    maintenance view over docs_inverted_index_segments: the corpus
    splits into a base segment and a delta segment (new arrivals, the
    doc_id%10 systematic slice), per-term document frequencies come
    from ONE conditional aggregate over the distinct (doc, term) grain,
    and the report carries merged posting sizes plus the major-merge
    trigger (delta exceeding 20% of base) — the IVM-for-IR decision an
    index maintenance job makes per term/segment. Token-grain work with
    map-side combine; 20-row output."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).distinct()
    seg = toks.groupBy("term").agg(
        F.sum(F.when(F.col("doc_id") % 10 != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("df_base"),
        F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("df_delta"),
    )
    return (
        seg.select(
            "term",
            "df_base",
            "df_delta",
            (F.col("df_base") + F.col("df_delta")).alias("df_merged"),
            ((F.col("df_base") + F.col("df_delta")) * 8).alias(
                "merged_postings_bytes"
            ),
            F.when(F.col("df_delta") * 5 > F.col("df_base"), 1)
            .otherwise(0)
            .alias("needs_major_merge"),
        )
        .orderBy(F.col("df_merged").desc(), "term")
        .limit(20)
    )


# ------------------------------------------------------------------
# 4. supplier_topsis_scorecard — multi-criteria ranking
# ------------------------------------------------------------------


@register(
    "supplier_topsis_scorecard",
    """
    WITH crit AS (
      SELECT s_suppkey, s_name,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev,
             CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) * 1000
                  // COUNT(*) AS BIGINT) AS lat_milli,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS ret_ppm
      FROM supplier
        JOIN lineitem ON l_suppkey = s_suppkey
        JOIN orders ON o_orderkey = l_orderkey
      GROUP BY s_suppkey, s_name),
    rng AS (
      SELECT MIN(rev) AS rev_mn, MAX(rev) AS rev_mx,
             MIN(lat_milli) AS lat_mn, MAX(lat_milli) AS lat_mx,
             MIN(ret_ppm) AS ret_mn, MAX(ret_ppm) AS ret_mx
      FROM crit),
    norm AS (
      SELECT s_suppkey, s_name,
             (rev - rev_mn) * 1000000 // GREATEST(rev_mx - rev_mn, 1)
               AS n_rev,
             (lat_mx - lat_milli) * 1000000
               // GREATEST(lat_mx - lat_mn, 1) AS n_lat,
             (ret_mx - ret_ppm) * 1000000
               // GREATEST(ret_mx - ret_mn, 1) AS n_ret
      FROM crit CROSS JOIN rng),
    dist AS (
      SELECT s_suppkey, s_name,
             CAST(floor(sqrt(CAST(
               (1000000 - n_rev) * (1000000 - n_rev)
               + (1000000 - n_lat) * (1000000 - n_lat)
               + (1000000 - n_ret) * (1000000 - n_ret) AS DOUBLE)))
               AS BIGINT) AS d_plus,
             CAST(floor(sqrt(CAST(
               n_rev * n_rev + n_lat * n_lat + n_ret * n_ret AS DOUBLE)))
               AS BIGINT) AS d_minus
      FROM norm)
    SELECT s_suppkey, s_name, d_plus, d_minus,
           d_minus * 1000000 // GREATEST(d_plus + d_minus, 1)
             AS closeness_ppm
    FROM dist ORDER BY closeness_ppm DESC, s_suppkey LIMIT 10
    """,
)
def supplier_topsis_scorecard(spark: SparkSession, sf_dir: str):
    """TOPSIS multi-criteria supplier ranking — the MCDM method the
    single-metric scorecards (OTIF, ABC) can't replace when criteria
    conflict: revenue (benefit), mean ship latency (cost), and return
    rate (cost) min-max normalize to exact ppm, each supplier measures
    its Euclidean distance to the ideal and anti-ideal points (integer
    sums of squares; floor(sqrt) on exact doubles — the Fisher-index
    contract), and closeness = d⁻/(d⁺+d⁻) ranks in exact ppm. One
    fact-scan aggregate to supplier grain (dimension-bounded), then
    metadata arithmetic; top-10 with key tie-break."""
    s = t(spark, sf_dir, "supplier")
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    crit = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.sum((dec("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev"),
            F.expr(
                "CAST(SUM(datediff(l_shipdate, o_orderdate)) * 1000"
                " div COUNT(*) AS BIGINT)"
            ).alias("lat_milli"),
            F.expr(
                "CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("ret_ppm"),
        )
    )
    rng = crit.agg(
        F.min("rev").alias("rev_mn"),
        F.max("rev").alias("rev_mx"),
        F.min("lat_milli").alias("lat_mn"),
        F.max("lat_milli").alias("lat_mx"),
        F.min("ret_ppm").alias("ret_mn"),
        F.max("ret_ppm").alias("ret_mx"),
    )
    norm = crit.crossJoin(F.broadcast(rng)).select(
        "s_suppkey",
        "s_name",
        F.expr(
            "(rev - rev_mn) * 1000000 div GREATEST(rev_mx - rev_mn, 1)"
        ).alias("n_rev"),
        F.expr(
            "(lat_mx - lat_milli) * 1000000"
            " div GREATEST(lat_mx - lat_mn, 1)"
        ).alias("n_lat"),
        F.expr(
            "(ret_mx - ret_ppm) * 1000000"
            " div GREATEST(ret_mx - ret_mn, 1)"
        ).alias("n_ret"),
    )
    dist = norm.select(
        "s_suppkey",
        "s_name",
        F.floor(
            F.sqrt(
                F.expr(
                    "CAST((1000000 - n_rev) * (1000000 - n_rev)"
                    " + (1000000 - n_lat) * (1000000 - n_lat)"
                    " + (1000000 - n_ret) * (1000000 - n_ret) AS DOUBLE)"
                )
            )
        )
        .cast("bigint")
        .alias("d_plus"),
        F.floor(
            F.sqrt(
                F.expr(
                    "CAST(n_rev * n_rev + n_lat * n_lat + n_ret * n_ret"
                    " AS DOUBLE)"
                )
            )
        )
        .cast("bigint")
        .alias("d_minus"),
    )
    return (
        dist.select(
            "s_suppkey",
            "s_name",
            "d_plus",
            "d_minus",
            F.expr(
                "d_minus * 1000000 div GREATEST(d_plus + d_minus, 1)"
            ).alias("closeness_ppm"),
        )
        .orderBy(F.col("closeness_ppm").desc(), "s_suppkey")
        .limit(10)
    )


# ------------------------------------------------------------------
# 5. orders_anomaly_ensemble_votes — multi-detector alert consensus
# ------------------------------------------------------------------


@register(
    "orders_anomaly_ensemble_votes",
    """
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    gstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS BIGINT) AS s,
             SUM(rev::HUGEINT * rev) AS ss,
             quantile_cont(CAST(rev AS DOUBLE), 0.5) AS med
      FROM days),
    mad AS (
      SELECT quantile_cont(ABS(CAST(rev AS DOUBLE) - med), 0.5) AS madv
      FROM days CROSS JOIN gstats),
    feats AS (
      SELECT d, rev,
             AVG(CAST(rev AS DOUBLE)) OVER (
               ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS roll7,
             COUNT(*) OVER (
               ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS roll_n
      FROM days),
    votes AS (
      SELECT f.d, f.rev,
             CASE WHEN ABS(CAST(f.rev AS DOUBLE) - CAST(g.s AS DOUBLE)/g.n)
                  > 2.0 * sqrt((CAST(g.ss AS DOUBLE)
                                - CAST(g.s AS DOUBLE) * g.s / g.n)
                               / (g.n - 1))
                  THEN 1 ELSE 0 END AS v_z,
             CASE WHEN ABS(CAST(f.rev AS DOUBLE) - g.med)
                  > 3.0 * 1.4826 * m.madv THEN 1 ELSE 0 END AS v_mad,
             CASE WHEN f.roll_n >= 4 AND f.roll7 IS NOT NULL
                       AND ABS(CAST(f.rev AS DOUBLE) - f.roll7)
                           > 0.5 * f.roll7
                  THEN 1 ELSE 0 END AS v_roll
      FROM feats f CROSS JOIN gstats g CROSS JOIN mad m)
    SELECT strftime(d, '%Y-%m-%d') AS day, rev AS rev_cents, v_z, v_mad, v_roll,
           v_z + v_mad + v_roll AS votes
    FROM votes WHERE v_z + v_mad + v_roll >= 2
    ORDER BY day
    """,
)
def orders_anomaly_ensemble_votes(spark: SparkSession, sf_dir: str):
    """Ensemble anomaly consensus over daily revenue: three independent
    detectors — global z-score (>2σ), robust MAD fence (>3 scaled
    MADs), and a trailing-week deviation (>50% off the 7-day rolling
    mean) — each vote once, and only days with ≥2 votes alert: the
    standard ops-team trick that cuts single-detector false positives
    without tuning any of them. Day-grain series (calendar-bounded —
    the rolling window is whitelisted like the month-grain family);
    moments exact integers, quantiles interpolation-parity pinned,
    compares in double on identical operands."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    big = "decimal(38,0)"
    gstats = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev").cast("bigint").alias("s"),
        F.sum((F.col("rev").cast(big) * F.col("rev")).cast(big)).alias("ss"),
        F.percentile(F.col("rev").cast("double"), 0.5).alias("med"),
    )
    mad = (
        days.crossJoin(F.broadcast(gstats))
        .select(
            F.abs(F.col("rev").cast("double") - F.col("med")).alias("ad")
        )
        .agg(F.percentile(F.col("ad"), 0.5).alias("madv"))
    )
    w7 = Window.orderBy("d").rowsBetween(-7, -1)
    feats = days.select(
        "d",
        "rev",
        F.avg(F.col("rev").cast("double")).over(w7).alias("roll7"),
        F.count("*").over(w7).alias("roll_n"),
    )
    j = feats.crossJoin(F.broadcast(gstats)).crossJoin(F.broadcast(mad))
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    v_z = F.when(
        F.abs(F.col("rev").cast("double") - mean) > 2.0 * sd, 1
    ).otherwise(0)
    v_mad = F.when(
        F.abs(F.col("rev").cast("double") - F.col("med"))
        > 3.0 * 1.4826 * F.col("madv"),
        1,
    ).otherwise(0)
    v_roll = F.when(
        (F.col("roll_n") >= 4)
        & F.col("roll7").isNotNull()
        & (
            F.abs(F.col("rev").cast("double") - F.col("roll7"))
            > 0.5 * F.col("roll7")
        ),
        1,
    ).otherwise(0)
    votes = j.select(
        F.date_format(F.col("d"), "yyyy-MM-dd").alias("day"),
        F.col("rev").alias("rev_cents"),
        v_z.alias("v_z"),
        v_mad.alias("v_mad"),
        v_roll.alias("v_roll"),
    ).withColumn(
        "votes", F.col("v_z") + F.col("v_mad") + F.col("v_roll")
    )
    return votes.filter(F.col("votes") >= 2).orderBy("day")
