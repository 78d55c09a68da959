"""Round-7r operators: Goh-Barabasi burstiness+memory, a gravity trade
model fit, an embedding triplet-margin audit, multi-round BPE merges,
a censored purchase-conversion hazard curve, and a price/volume/mix
revenue bridge.

Parity contract as everywhere (registry/__init__.py float policy).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. events_gap_burstiness_memory — inter-event time structure
# ------------------------------------------------------------------


@register(
    "events_gap_burstiness_memory",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS g,
             epoch_us(LEAD(ts, 2) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id))
               - epoch_us(LEAD(ts) OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts, event_id)) AS g2
      FROM events),
    mom AS (
      SELECT event_type,
             CAST(COUNT(g) AS BIGINT) AS n,
             CAST(SUM(g) AS HUGEINT) AS s,
             SUM(CAST(g AS HUGEINT) * g) AS ss,
             CAST(COUNT(g2) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN g2 IS NOT NULL THEN g END) AS HUGEINT)
               AS sa,
             CAST(SUM(g2) AS HUGEINT) AS sb,
             SUM(CASE WHEN g2 IS NOT NULL
                 THEN CAST(g AS HUGEINT) * g END) AS saa,
             SUM(CAST(g2 AS HUGEINT) * g2) AS sbb,
             SUM(CAST(g AS HUGEINT) * g2) AS sab
      FROM gaps WHERE g IS NOT NULL GROUP BY 1)
    SELECT event_type, n AS n_gaps,
           CAST(s // n AS BIGINT) AS mean_gap_us,
           CAST(round(1e3 * (sqrt((CAST(ss AS DOUBLE) * n
               - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n))
               - CAST(s AS DOUBLE) / n)
             / (sqrt((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
               / (CAST(n AS DOUBLE) * n)) + CAST(s AS DOUBLE) / n))
             AS BIGINT) AS burstiness_milli,
           CAST(round(1e3 * (CAST(np AS DOUBLE) * CAST(sab AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((CAST(np AS DOUBLE) * CAST(saa AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
               * (CAST(np AS DOUBLE) * CAST(sbb AS DOUBLE)
               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))
             AS BIGINT) AS memory_milli
    FROM mom ORDER BY event_type
    """,
)
def events_gap_burstiness_memory(spark: SparkSession, sf_dir: str):
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) and
    memory coefficient M = corr(gap_i, gap_{i+1}) of each event
    type's inter-event times — the two-number signature that
    separates Poisson traffic (B ~ 0, M ~ 0) from human/bot bursts
    (B > 0) and from correlated cascades (M > 0); the
    autocorrelation complement to events_fano_burstiness's count
    dispersion. Gaps come from one PARTITIONED (user, type) sequence
    window in exact microseconds (unix_micros/epoch_us, the
    sessionization parity pattern); all moments — including the
    lag-1 pair moments via a second LEAD — are exact
    HUGEINT/decimal(38,0) integer folds; doubles enter once per
    output expression. One fact scan, 5-row output."""
    e = t(spark, sf_dir, "events")
    big = "decimal(38,0)"
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = e.select(
        "event_type",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("g"),
        (
            F.unix_micros(F.lead("ts", 2).over(w))
            - F.unix_micros(F.lead("ts").over(w))
        ).alias("g2"),
    ).filter(F.col("g").isNotNull())
    mom = gaps.groupBy("event_type").agg(
        F.count("g").cast("bigint").alias("n"),
        F.sum("g").cast(big).alias("s"),
        F.sum(F.col("g").cast(big) * F.col("g")).alias("ss"),
        F.count("g2").cast("bigint").alias("np"),
        F.sum(F.when(F.col("g2").isNotNull(), F.col("g")))
        .cast(big)
        .alias("sa"),
        F.sum("g2").cast(big).alias("sb"),
        F.sum(
            F.when(
                F.col("g2").isNotNull(),
                F.col("g").cast(big) * F.col("g"),
            )
        ).alias("saa"),
        F.sum(F.col("g2").cast(big) * F.col("g2")).alias("sbb"),
        F.sum(F.col("g").cast(big) * F.col("g2")).alias("sab"),
    )
    sig = (
        "sqrt((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * n))"
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_gap_us"),
        F.expr(
            f"CAST(round(1e3 * ({sig} - CAST(s AS DOUBLE) / n)"
            f" / ({sig} + CAST(s AS DOUBLE) / n)) AS BIGINT)"
        ).alias("burstiness_milli"),
        F.expr(
            "CAST(round(1e3 * (CAST(np AS DOUBLE) * CAST(sab AS DOUBLE)"
            " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
            " / sqrt((CAST(np AS DOUBLE) * CAST(saa AS DOUBLE)"
            " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
            " * (CAST(np AS DOUBLE) * CAST(sbb AS DOUBLE)"
            " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))"
            " AS BIGINT)"
        ).alias("memory_milli"),
    ).orderBy("event_type")


# ------------------------------------------------------------------
# 2. nation_gravity_trade_fit — log-linear gravity model
# ------------------------------------------------------------------


@register(
    "nation_gravity_trade_fit",
    """
    WITH flows AS (
      SELECT sn.n_nationkey AS i, c.c_nationkey AS j,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
               AS BIGINT)) AS BIGINT) AS f
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer c ON c.c_custkey = o_custkey
      JOIN supplier s ON s.s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      GROUP BY 1, 2),
    mass AS (
      SELECT i, CAST(SUM(f) AS BIGINT) AS outv FROM flows GROUP BY 1),
    dem AS (
      SELECT j, CAST(SUM(f) AS BIGINT) AS inv FROM flows GROUP BY 1),
    pts AS (
      SELECT CAST(round(1e6 * ln(CAST(fl.f AS DOUBLE))) AS BIGINT) AS y,
             CAST(round(1e6 * ln(CAST(m.outv AS DOUBLE))) AS BIGINT)
               AS x1,
             CAST(round(1e6 * ln(CAST(d.inv AS DOUBLE))) AS BIGINT)
               AS x2
      FROM flows fl
      JOIN mass m ON m.i = fl.i
      JOIN dem d ON d.j = fl.j
      WHERE fl.f > 0),
    mn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS my,
             CAST(SUM(x1) // COUNT(*) AS BIGINT) AS m1,
             CAST(SUM(x2) // COUNT(*) AS BIGINT) AS m2
      FROM pts),
    cen AS (
      SELECT mn.n, mn.my,
             SUM(CAST(p.x1 - mn.m1 AS HUGEINT) * (p.x1 - mn.m1)) AS s11,
             SUM(CAST(p.x1 - mn.m1 AS HUGEINT) * (p.x2 - mn.m2)) AS s12,
             SUM(CAST(p.x2 - mn.m2 AS HUGEINT) * (p.x2 - mn.m2)) AS s22,
             SUM(CAST(p.x1 - mn.m1 AS HUGEINT) * (p.y - mn.my)) AS s1y,
             SUM(CAST(p.x2 - mn.m2 AS HUGEINT) * (p.y - mn.my)) AS s2y,
             SUM(CAST(p.y - mn.my AS HUGEINT) * (p.y - mn.my)) AS syy
      FROM pts p CROSS JOIN mn GROUP BY 1, 2)
    SELECT CAST(n AS BIGINT) AS n_cells,
           CAST((s22 * s1y - s12 * s2y) * 1000000
             // (s11 * s22 - s12 * s12) AS BIGINT) AS beta_supply_micro,
           CAST((s11 * s2y - s12 * s1y) * 1000000
             // (s11 * s22 - s12 * s12) AS BIGINT) AS beta_demand_micro,
           CAST(round(1e9 * (CAST(s1y AS DOUBLE)
               * (CAST(s22 AS DOUBLE) * s1y - CAST(s12 AS DOUBLE) * s2y)
               + CAST(s2y AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y
               - CAST(s12 AS DOUBLE) * s1y))
             / (CAST(syy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
               - CAST(s12 AS DOUBLE) * s12))) AS BIGINT) AS r2_ppb
    FROM cen
    """,
)
def nation_gravity_trade_fit(spark: SparkSession, sf_dir: str):
    """Gravity model of inter-nation trade: ln(flow_ij) regressed on
    ln(supplier nation's total exports) and ln(customer nation's
    total imports) — international economics' empirical workhorse
    (flows scale with both masses; elasticities near 1 mean the
    gravity law holds). The 25x25 flow matrix and both mass vectors
    come from ONE fact aggregate; the two-regressor OLS runs on
    CENTERED micro-log points (means first, then centered cross
    moments — centering keeps every 2x2-solve determinant inside
    decimal(38,0)/HUGEINT where the raw 3x3 normal equations would
    need ~1e53), with the logs micro-quantized once so both engines
    fold identical integers. R-squared enters doubles once at the
    end."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    big = "decimal(38,0)"
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("i"),
            F.col("c_nationkey").alias("j"),
        )
        .agg(
            F.sum((dec("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("f")
        )
    )
    flows = flows.persist()
    mass = flows.groupBy("i").agg(
        F.sum("f").cast("bigint").alias("outv")
    )
    demd = flows.groupBy("j").agg(
        F.sum("f").cast("bigint").alias("inv")
    )
    pts = (
        flows.filter(F.col("f") > 0)
        .join(mass, "i")
        .join(demd, "j")
        .select(
            F.expr(
                "CAST(round(1e6 * ln(CAST(f AS DOUBLE))) AS BIGINT)"
            ).alias("y"),
            F.expr(
                "CAST(round(1e6 * ln(CAST(outv AS DOUBLE))) AS BIGINT)"
            ).alias("x1"),
            F.expr(
                "CAST(round(1e6 * ln(CAST(inv AS DOUBLE))) AS BIGINT)"
            ).alias("x2"),
        )
    )
    mn = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(SUM(y) div COUNT(*) AS BIGINT)").alias("my"),
        F.expr("CAST(SUM(x1) div COUNT(*) AS BIGINT)").alias("m1"),
        F.expr("CAST(SUM(x2) div COUNT(*) AS BIGINT)").alias("m2"),
    )
    cen = pts.crossJoin(F.broadcast(mn)).groupBy("n", "my").agg(
        F.sum(
            (F.col("x1") - F.col("m1")).cast(big)
            * (F.col("x1") - F.col("m1"))
        ).alias("s11"),
        F.sum(
            (F.col("x1") - F.col("m1")).cast(big)
            * (F.col("x2") - F.col("m2"))
        ).alias("s12"),
        F.sum(
            (F.col("x2") - F.col("m2")).cast(big)
            * (F.col("x2") - F.col("m2"))
        ).alias("s22"),
        F.sum(
            (F.col("x1") - F.col("m1")).cast(big)
            * (F.col("y") - F.col("my"))
        ).alias("s1y"),
        F.sum(
            (F.col("x2") - F.col("m2")).cast(big)
            * (F.col("y") - F.col("my"))
        ).alias("s2y"),
        F.sum(
            (F.col("y") - F.col("my")).cast(big)
            * (F.col("y") - F.col("my"))
        ).alias("syy"),
    )
    return cen.select(
        F.expr("CAST(n AS BIGINT)").alias("n_cells"),
        F.expr(
            "CAST((s22 * s1y - s12 * s2y) * 1000000"
            " div (s11 * s22 - s12 * s12) AS BIGINT)"
        ).alias("beta_supply_micro"),
        F.expr(
            "CAST((s11 * s2y - s12 * s1y) * 1000000"
            " div (s11 * s22 - s12 * s12) AS BIGINT)"
        ).alias("beta_demand_micro"),
        F.expr(
            "CAST(round(1e9 * (CAST(s1y AS DOUBLE)"
            " * (CAST(s22 AS DOUBLE) * s1y - CAST(s12 AS DOUBLE) * s2y)"
            " + CAST(s2y AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y"
            " - CAST(s12 AS DOUBLE) * s1y))"
            " / (CAST(syy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22"
            " - CAST(s12 AS DOUBLE) * s12))) AS BIGINT)"
        ).alias("r2_ppb"),
    )


# ------------------------------------------------------------------
# 3. emb_triplet_margin_audit — embedding separation quality
# ------------------------------------------------------------------

_TRIP_SCALE = 1_000_000
_TRIP_MARGIN = 0.1  # on euclidean distance, unit-norm-ish vectors
_EMB_DIM = 64


@register(
    "emb_triplet_margin_audit",
    f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_TRIP_SCALE} + 0.5)
                    AS BIGINT)) AS qe
      FROM embeddings),
    expl AS (
      SELECT label, r.pos,
             CAST(floor(CAST(embedding[CAST(r.pos AS INT) + 1] AS DOUBLE)
                        * {_TRIP_SCALE} + 0.5) AS BIGINT) AS v_fp
      FROM embeddings CROSS JOIN range({_EMB_DIM}) r(pos)),
    cent AS (
      SELECT label AS clabel,
             list(CAST(floor(s * 1.0 / n + 0.5) AS BIGINT)
                  ORDER BY pos) AS ce
      FROM (SELECT label, pos, SUM(v_fp) AS s, COUNT(*) AS n
            FROM expl GROUP BY 1, 2)
      GROUP BY 1),
    dists AS (
      SELECT q.vec_id, q.label, c.clabel,
             list_sum(list_transform(range(1, {_EMB_DIM + 1}),
               k -> (q.qe[k] - c.ce[k]) * (q.qe[k] - c.ce[k]))) AS d2
      FROM q CROSS JOIN cent c),
    split AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN d2 END) AS d_own,
             MIN(CASE WHEN clabel != label THEN d2 END) AS d_other
      FROM dists GROUP BY 1, 2)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN sqrt(CAST(d_own AS DOUBLE))
                 / {_TRIP_SCALE} + {_TRIP_MARGIN}
                 > sqrt(CAST(d_other AS DOUBLE)) / {_TRIP_SCALE}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(SUM(CASE WHEN sqrt(CAST(d_own AS DOUBLE))
                 / {_TRIP_SCALE} + {_TRIP_MARGIN}
                 > sqrt(CAST(d_other AS DOUBLE)) / {_TRIP_SCALE}
               THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS violation_ppm
    FROM split GROUP BY 1 ORDER BY label
    """,
)
def emb_triplet_margin_audit(spark: SparkSession, sf_dir: str):
    """Triplet-margin audit of the labeled embedding space: for every
    vector, is its distance to its OWN class prototype at least
    `margin` closer than to the nearest OTHER prototype? The
    violation rate per label is the metric-learning health check
    (the prototype form of the triplet loss — violations are exactly
    the triplets a fine-tuning pass would train on, and labels with
    high rates are the confusable classes emb_silhouette_buckets
    scores more coarsely). Vectors and centroids share the
    emb_label_centroids fixed-point quantization (floor(v*1e6+0.5) —
    IEEE-exact in both engines), distances are exact integer folds
    over the 64 dims, and the only doubles are the two final sqrt
    calls. Vector x centroid is N x 10 with the 10-row prototype
    table BROADCAST — linear, no pair explosion."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            f" * {_TRIP_SCALE} + 0.5) AS BIGINT))"
        ).alias("qe"),
    )
    expl = e.select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
                f" * {_TRIP_SCALE} + 0.5) AS BIGINT))"
            )
        ).alias("pos", "v_fp"),
    )
    cent = (
        expl.groupBy("label", "pos")
        .agg(F.sum("v_fp").alias("s"), F.count("*").alias("n"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos,"
                " CAST(floor(s * 1.0 / n + 0.5) AS BIGINT) AS cv))),"
                " z -> z.cv)"
            ).alias("ce")
        )
    )
    dists = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            f"aggregate(sequence(1, {_EMB_DIM}), CAST(0 AS BIGINT),"
            " (acc, k) -> acc + (element_at(qe, k) - element_at(ce, k))"
            " * (element_at(qe, k) - element_at(ce, k)))"
        ).alias("d2"),
    )
    split = dists.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("d2"))
        ).alias("d_own"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("d2"))
        ).alias("d_other"),
    )
    viol = (
        f"CASE WHEN sqrt(CAST(d_own AS DOUBLE)) / {_TRIP_SCALE}"
        f" + {_TRIP_MARGIN} > sqrt(CAST(d_other AS DOUBLE))"
        f" / {_TRIP_SCALE} THEN 1 ELSE 0 END"
    )
    return (
        split.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.expr(f"CAST(SUM({viol}) AS BIGINT)").alias(
                "n_violations"
            ),
            F.expr(
                f"CAST(SUM({viol}) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("violation_ppm"),
        )
        .orderBy("label")
    )


# ------------------------------------------------------------------
# 4. docs_bpe_multi_merge — three unrolled BPE merge rounds
# ------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_TOPW = 200


def _bpe_merge_duck(syms: str, p1: str, p2: str) -> str:
    # greedy left-to-right merge of adjacent pair (p1, p2) in a symbol
    # list; accumulator and elements are VARCHAR[] for list_reduce.
    return f"""list_reduce(
      list_prepend(CAST([] AS VARCHAR[]),
                   list_transform({syms}, s -> [s])),
      (acc, e) -> CASE
        WHEN len(acc) > 0 AND acc[-1] = {p1} AND e[1] = {p2}
        THEN list_append(acc[1:len(acc) - 1], {p1} || {p2})
        ELSE list_append(acc, e[1]) END)"""


def _bpe_oracle() -> str:
    steps = []
    prev = "w0"
    picks = []
    for k in range(1, _BPE_ROUNDS + 1):
        steps.append(
            f"""
    pc{k} AS (
      SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS support
      FROM (
        SELECT cnt, syms[i] AS s1, syms[i + 1] AS s2
        FROM {prev}, UNNEST(range(1, len(syms))) AS u(i))
      GROUP BY 1, 2),
    pick{k} AS (
      SELECT s1 AS ps1, s2 AS ps2, support FROM pc{k}
      ORDER BY support DESC, s1, s2 LIMIT 1),
    w{k} AS (
      SELECT word, cnt,
             {_bpe_merge_duck('syms', 'p.ps1', 'p.ps2')} AS syms
      FROM {prev} CROSS JOIN pick{k} p)"""
        )
        picks.append(
            f"SELECT {k} AS merge_order, ps1 || ps2 AS merged_token,"
            f" support FROM pick{k}"
        )
        prev = f"w{k}"
    return f"""
    WITH toks AS (
      SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    wc AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE w != '' GROUP BY 1
      ORDER BY cnt DESC, word LIMIT {_BPE_TOPW}),
    w0 AS (
      SELECT word, cnt,
             list_transform(range(1, len(word) + 1),
                            i -> word[i:i]) AS syms
      FROM wc),
    {','.join(steps)}
    SELECT CAST(merge_order AS BIGINT) AS merge_order, merged_token,
           support AS weighted_support
    FROM ({' UNION ALL '.join(picks)})
    ORDER BY merge_order
    """


@register("docs_bpe_multi_merge", _bpe_oracle())
def docs_bpe_multi_merge(spark: SparkSession, sf_dir: str):
    """Three unrolled rounds of byte-pair-encoding vocabulary
    construction — the actual tokenizer-training loop (count adjacent
    symbol pairs weighted by word frequency, merge the argmax
    EVERYWHERE, recount), extending docs_bpe_first_merge from one
    static merge to the real sequential process where round k's
    counts depend on round k-1's merge. BPE's key scale property is
    exploited structurally: merging operates on WORD TYPES, not
    corpus positions, so after one fact-grain token count the rounds
    run on a {_BPE_TOPW}-word-type table (top types by count —
    production BPE caps the same way), each round = one pair explode
    + a 1-row argmax + a greedy left-to-right merge fold (overlap
    handled correctly: 'aaa' + merge(a,a) -> [aa, a]). Each round's
    argmax is a limit(1) row, so it is collected (bounded: one merge
    per round) and the next round's fold runs on literal s1/s2 —
    so the output holds no reference to the per-round type tables.
    Each round's table is a checkpoint; rebinding `words` drops the
    previous one and Spark's ContextCleaner frees its blocks."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("w")
    ).filter(F.col("w") != "")
    wc = (
        toks.groupBy(F.col("w").alias("word"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(_BPE_TOPW)
    )
    words = wc.select(
        "word",
        "cnt",
        F.expr("split(word, '')").alias("syms"),
    ).localCheckpoint()
    merges = []
    for k in range(1, _BPE_ROUNDS + 1):
        pairs = (
            words.select(
                "cnt",
                F.explode(
                    F.expr(
                        # sequence(1, 0) DESCENDS in Spark — guard
                        # single-symbol words explicitly
                        "IF(size(syms) < 2, array(),"
                        " transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS s1,"
                        " element_at(syms, i + 1) AS s2)))"
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.s1").alias("s1"), F.col("pr.s2").alias("s2"))
            .agg(F.sum("cnt").cast("bigint").alias("support"))
        )
        # bounded: limit 1 — exactly one argmax merge row per round
        pick = pairs.orderBy(
            F.col("support").desc(), "s1", "s2"
        ).limit(1).collect()
        if not pick:  # empty/degenerate corpus: no pair left to merge
            break
        s1, s2, support = pick[0]["s1"], pick[0]["s2"], pick[0]["support"]
        merges.append((k, s1 + s2, support))
        if k == _BPE_ROUNDS:
            break  # the last merge needs no recount — skip the dead fold
        words = (
            words.withColumn("s1", F.lit(s1))
            .withColumn("s2", F.lit(s2))
            .select(
                "word",
                "cnt",
                F.expr(
                    "aggregate(syms, CAST(array() AS ARRAY<STRING>),"
                    " (acc, s) -> IF(size(acc) > 0"
                    "  AND element_at(acc, -1) = s1 AND s = s2,"
                    "  concat(slice(acc, 1, size(acc) - 1),"
                    "         array(s1 || s2)),"
                    "  concat(acc, array(s))))"
                ).alias("syms"),
            )
            .localCheckpoint()
        )
    return spark.createDataFrame(
        merges,
        "merge_order bigint, merged_token string, weighted_support bigint",
    ).orderBy("merge_order")


# ------------------------------------------------------------------
# 5. events_purchase_conversion_hazard — censored discrete hazard
# ------------------------------------------------------------------


@register(
    "events_purchase_conversion_hazard",
    """
    WITH per_user AS (
      SELECT user_id,
             datediff('day', CAST(MIN(ts) AS DATE),
               CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS DATE)) AS ev_d,
             datediff('day', CAST(MIN(ts) AS DATE),
                      CAST(MAX(ts) AS DATE)) AS cens_d
      FROM events GROUP BY 1),
    evs AS (
      SELECT ev_d AS d, CAST(COUNT(*) AS BIGINT) AS n_conv
      FROM per_user WHERE ev_d IS NOT NULL GROUP BY 1),
    cns AS (
      SELECT cens_d AS d, CAST(COUNT(*) AS BIGINT) AS n_cens
      FROM per_user WHERE ev_d IS NULL GROUP BY 1),
    days AS (
      SELECT d FROM evs UNION SELECT d FROM cns),
    risk AS (
      SELECT dd.d,
             CAST(COALESCE((SELECT SUM(e.n_conv) FROM evs e
                            WHERE e.d >= dd.d), 0)
               + COALESCE((SELECT SUM(c.n_cens) FROM cns c
                           WHERE c.d >= dd.d), 0) AS BIGINT)
               AS n_at_risk,
             CAST(COALESCE((SELECT n_conv FROM evs e2
                            WHERE e2.d = dd.d), 0) AS BIGINT) AS n_conv
      FROM days dd)
    SELECT d AS lag_days, n_conv AS n_converted, n_at_risk,
           CAST(n_conv * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
    FROM risk
    WHERE d <= 14 AND n_at_risk > 0
    ORDER BY d
    """,
)
def events_purchase_conversion_hazard(spark: SparkSession, sf_dir: str):
    """Discrete-time hazard of FIRST PURCHASE, measured in days since
    each user's first observed event, with proper right-censoring:
    users who never purchase stay in the at-risk denominator until
    their last observed day and then censor out — the Kaplan-Meier
    style conversion curve (the per-day version of the funnel ops,
    which only report the terminal rate). One fact scan collapses to
    user grain (first event, first purchase, last event); event and
    censor counts live on the bounded day grain, and the at-risk
    denominator is a bounded tail-sum self-join — no windows, no
    fact-grain sort. A hazard spike at d=0 reads as same-session
    conversion; the tail slope is the nurture rate. Exact ppm."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.datediff(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).cast("date"),
            F.min("ts").cast("date"),
        ).alias("ev_d"),
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("cens_d"),
    )
    evs = (
        per_user.filter(F.col("ev_d").isNotNull())
        .groupBy(F.col("ev_d").alias("d"))
        .agg(F.count("*").cast("bigint").alias("n_conv"))
    )
    cns = (
        per_user.filter(F.col("ev_d").isNull())
        .groupBy(F.col("cens_d").alias("d"))
        .agg(F.count("*").cast("bigint").alias("n_cens"))
    )
    days = evs.select("d").unionByName(cns.select("d")).distinct()
    e2 = evs.select(F.col("d").alias("de"), "n_conv")
    c2 = cns.select(F.col("d").alias("dc"), "n_cens")
    conv_tail = (
        days.join(e2, F.col("de") >= F.col("d"), "left")
        .groupBy("d")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("tail_conv"))
    )
    cens_tail = (
        days.join(c2, F.col("dc") >= F.col("d"), "left")
        .groupBy("d")
        .agg(F.coalesce(F.sum("n_cens"), F.lit(0)).alias("tail_cens"))
    )
    risk = (
        days.join(conv_tail, "d")
        .join(cens_tail, "d")
        .join(evs, "d", "left")
        .select(
            "d",
            (F.col("tail_conv") + F.col("tail_cens"))
            .cast("bigint")
            .alias("n_at_risk"),
            F.coalesce(F.col("n_conv"), F.lit(0))
            .cast("bigint")
            .alias("n_conv"),
        )
    )
    return (
        risk.filter((F.col("d") <= 14) & (F.col("n_at_risk") > 0))
        .select(
            F.col("d").alias("lag_days"),
            F.col("n_conv").alias("n_converted"),
            "n_at_risk",
            F.expr(
                "CAST(n_conv * 1000000 div n_at_risk AS BIGINT)"
            ).alias("hazard_ppm"),
        )
        .orderBy("lag_days")
    )


# ------------------------------------------------------------------
# 6. orders_price_volume_mix_bridge — revenue variance bridge
# ------------------------------------------------------------------


@register(
    "orders_price_volume_mix_bridge",
    """
    WITH yr AS (
      SELECT MAX(year(o_orderdate)) AS y2 FROM orders),
    seg AS (
      SELECT o.o_orderpriority AS priority,
             year(o.o_orderdate) AS yy,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
               AS BIGINT)) AS BIGINT) AS r
      FROM lineitem JOIN orders o ON o.o_orderkey = l_orderkey
      CROSS JOIN yr
      WHERE year(o.o_orderdate) IN (yr.y2 - 1, yr.y2)
      GROUP BY 1, 2),
    wide AS (
      SELECT priority,
             MAX(CASE WHEN yy = (SELECT y2 - 1 FROM yr) THEN q END) AS q1,
             MAX(CASE WHEN yy = (SELECT y2 - 1 FROM yr) THEN r END) AS r1,
             MAX(CASE WHEN yy = (SELECT y2 FROM yr) THEN q END) AS q2,
             MAX(CASE WHEN yy = (SELECT y2 FROM yr) THEN r END) AS r2
      FROM seg GROUP BY 1),
    tq AS (
      SELECT CAST(SUM(q1) AS BIGINT) AS tq1, CAST(SUM(q2) AS BIGINT)
               AS tq2
      FROM wide),
    fx AS (
      SELECT w.priority, w.q1, w.r1, w.q2, w.r2,
             (w.r2 * 1000000 // w.q2 - w.r1 * 1000000 // w.q1) * w.q2
               // 1000000 AS price_eff,
             (w.r1 * 1000000 // w.q1)
               * (t.tq2 * w.q1 // t.tq1 - w.q1) // 1000000 AS vol_eff,
             (w.r1 * 1000000 // w.q1)
               * (w.q2 - t.tq2 * w.q1 // t.tq1) // 1000000 AS mix_eff
      FROM wide w CROSS JOIN tq t)
    SELECT priority,
           r1 AS revenue_y1_cents, r2 AS revenue_y2_cents,
           CAST(price_eff AS BIGINT) AS price_effect_cents,
           CAST(vol_eff AS BIGINT) AS volume_effect_cents,
           CAST(mix_eff AS BIGINT) AS mix_effect_cents,
           CAST(r2 - r1 - price_eff - vol_eff - mix_eff AS BIGINT)
             AS residual_cents
    FROM fx ORDER BY priority
    """,
)
def orders_price_volume_mix_bridge(spark: SparkSession, sf_dir: str):
    """Price/volume/mix revenue bridge between the two latest years,
    per order priority — the FP&A variance decomposition that answers
    'did revenue move because prices changed, because the market
    grew, or because the sales MIX shifted toward this segment?':
    price effect = (p2-p1)q2, volume effect = p1 * (segment's share
    of total growth at constant mix), mix effect = p1 * (actual -
    constant-mix quantity), with the truncation residual emitted so
    the bridge reconciles to the exact revenue delta BY CONSTRUCTION.
    One fact scan filtered to two years collapses to the 5x2 segment
    grid; unit prices are exact micro divisions. The year pair is
    data-derived (max year and its predecessor), engine-identical."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    yr = o.agg(F.max(F.year("o_orderdate")).alias("y2"))
    seg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(yr))
        .filter(
            (F.year("o_orderdate") == F.col("y2"))
            | (F.year("o_orderdate") == F.col("y2") - 1)
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.year("o_orderdate").alias("yy"),
            "y2",
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q"),
            F.sum((dec("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("r"),
        )
    )
    wide = seg.groupBy("priority").agg(
        F.max(
            F.when(F.col("yy") == F.col("y2") - 1, F.col("q"))
        ).alias("q1"),
        F.max(
            F.when(F.col("yy") == F.col("y2") - 1, F.col("r"))
        ).alias("r1"),
        F.max(F.when(F.col("yy") == F.col("y2"), F.col("q"))).alias(
            "q2"
        ),
        F.max(F.when(F.col("yy") == F.col("y2"), F.col("r"))).alias(
            "r2"
        ),
    )
    tq = wide.agg(
        F.sum("q1").cast("bigint").alias("tq1"),
        F.sum("q2").cast("bigint").alias("tq2"),
    )
    fx = wide.crossJoin(F.broadcast(tq)).select(
        "priority",
        "q1",
        "r1",
        "q2",
        "r2",
        F.expr(
            "(r2 * 1000000 div q2 - r1 * 1000000 div q1) * q2"
            " div 1000000"
        ).alias("price_eff"),
        F.expr(
            "(r1 * 1000000 div q1)"
            " * (tq2 * q1 div tq1 - q1) div 1000000"
        ).alias("vol_eff"),
        F.expr(
            "(r1 * 1000000 div q1)"
            " * (q2 - tq2 * q1 div tq1) div 1000000"
        ).alias("mix_eff"),
    )
    return fx.select(
        "priority",
        F.col("r1").alias("revenue_y1_cents"),
        F.col("r2").alias("revenue_y2_cents"),
        F.expr("CAST(price_eff AS BIGINT)").alias(
            "price_effect_cents"
        ),
        F.expr("CAST(vol_eff AS BIGINT)").alias(
            "volume_effect_cents"
        ),
        F.expr("CAST(mix_eff AS BIGINT)").alias("mix_effect_cents"),
        F.expr(
            "CAST(r2 - r1 - price_eff - vol_eff - mix_eff AS BIGINT)"
        ).alias("residual_cents"),
    ).orderBy("priority")
