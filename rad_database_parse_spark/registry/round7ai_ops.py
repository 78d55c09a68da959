"""Round-7ai operators: 1-NN leave-one-out accuracy, Luhn check-digit
generation/validation, circular hour-of-day concentration, candidate-
key uniqueness census, grouped Cook's-distance influence, and an
edge-ngram autocomplete index plan.

Parity contract as everywhere (registry/__init__.py float policy).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dec, t

# ------------------------------------------------------------------
# 1. emb_knn_loo_accuracy — label coherence of the embedding space
# ------------------------------------------------------------------

_KNN_QUERY_MOD = 10  # deterministic 10% query sample
_KNN_SCALE = 1000
_KNN_NB_MIN = 16  # block-count floor for the exact blocked kernel (r9)
# Per-block dense sims matrix is n_q x (n/nb) float64; cap its cell count
# so block count grows with the corpus instead of the matrix (ADVICE r9:
# a fixed 16 caps parallelism AND lets the per-block matrix grow
# quadratically). 8M cells = 64 MB per block at float64.
_KNN_MAX_BLOCK_CELLS = 8_000_000


def _knn_block_count(n_rows: int) -> int:
    """ceil(n_q * n / max_cells), floored at _KNN_NB_MIN and capped at
    n_rows — the output is invariant to the block count (the kernel's
    1.0-micro emission is a provable argmax superset for ANY blocking),
    so this only sizes parallelism and per-block memory."""
    n_q = max(1, n_rows // _KNN_QUERY_MOD)
    need = math.ceil((n_q * max(1, n_rows)) / _KNN_MAX_BLOCK_CELLS)
    return max(_KNN_NB_MIN, min(need, max(1, n_rows)))


@register(
    "emb_knn_loo_accuracy",
    f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(range(len(embedding)), ii ->
               CAST(round(CAST(embedding[ii + 1] AS DOUBLE)
                    * {_KNN_SCALE}) AS BIGINT)) AS qa
      FROM embeddings),
    nq AS (
      SELECT vec_id, label, qa,
             CAST(list_sum(list_transform(range(len(qa)), ii ->
               qa[ii + 1] * qa[ii + 1])) AS BIGINT) AS nn
      FROM q),
    scored AS (
      SELECT a.vec_id AS qid, a.label AS qlabel,
             b.vec_id AS cid, b.label AS clabel,
             CAST(round(1000000.0 * CAST(list_sum(
               list_transform(range(len(a.qa)), ii ->
                 a.qa[ii + 1] * b.qa[ii + 1])) AS DOUBLE)
               / (sqrt(CAST(a.nn AS DOUBLE))
                  * sqrt(CAST(b.nn AS DOUBLE)))) AS BIGINT)
               AS cos_micro
      FROM nq a JOIN nq b ON b.vec_id != a.vec_id
      WHERE a.vec_id % {_KNN_QUERY_MOD} = 0),
    best AS (
      SELECT qid, qlabel, clabel FROM (
        SELECT qid, qlabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos_micro DESC, cid) AS rk
        FROM scored)
      WHERE rk = 1)
    SELECT CAST(qlabel AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM best GROUP BY 1 ORDER BY label
    """,
)
def emb_knn_loo_accuracy(spark: SparkSession, sf_dir: str):
    """Leave-one-out 1-NN classification accuracy per label — the
    standard label-coherence eval of an embedding space (before you
    trust labels for hard-negative mining or semantic dedup, check
    that nearest neighbors AGREE with them; the nearest-centroid
    confusion op measures cluster geometry, this measures local
    geometry). A deterministic 10% of vectors query against the full
    corpus (minus self); cosine quantizes to micro integers BEFORE
    the per-query argmax (ties broken by candidate id) so the winner
    is engine-identical — integer dot products, IEEE sqrt norms, one
    double division. The pair volume is (n/{_KNN_QUERY_MOD})·n.

    r9 blocked kernel (the ivf_cosine_topk_blocked recipe,
    llm/similarity.py): the interpreted zip_with/aggregate fold was
    the wall, so the corpus splits into nb blocks (vec_id % nb, where
    nb = max({_KNN_NB_MIN}, ceil(n_q*n / {_KNN_MAX_BLOCK_CELLS})) sizes
    the per-block dense sims matrix to ≤64 MB — block count scales with
    the corpus, r10), queries replicate to every block, and one
    applyInPandas pass per block computes the EXACT int64 matmul
    (|qa| ≲ 3e3 at 64 dims ⇒ |dot| ≲ 6e8, no overflow) and the
    identical IEEE expression (1e6·dot)/(√nn_a·√nn_b). Selection
    safety: the kernel emits, per query and block, every non-self
    candidate within 1.0 micro (one rounding granule) of the block
    max — round(c) == round(m*) implies c > m* − 1.0 ≥ blockmax − 1.0,
    so the emission is a PROVABLE superset of every rounded-argmax
    tie; the round + window argmax (ties by cid) then run in Spark
    exactly as before, oracle unchanged. Zero-norm vectors raise
    loudly (same precondition as the ivf kernel). Measured at sf0.1:
    3.8-4.5s → ~1.3s, identical output. At 100 TB the exact arm gives
    way to the IVF candidates exactly as part_knn_graph_stats
    documents — the eval shape (sampled queries, argmax, per-label
    census) is unchanged, and block count scales with the corpus."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x ->"
            f" CAST(round(CAST(x AS DOUBLE) * {_KNN_SCALE}) AS BIGINT))"
            " AS qa"
        ),
    )
    nq = q.select(
        "vec_id",
        "label",
        "qa",
        F.expr(
            "CAST(aggregate(transform(qa, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT) AS nn"
        ),
    ).localCheckpoint()  # reused by corpus/queries/label lookups below
    # Bounded-grain count: sizes the block count so the per-block dense
    # matrix stays ≤64 MB at any corpus size.
    nb = _knn_block_count(nq.count())
    corpus_t = nq.select(
        F.lit(0).alias("role"),
        F.col("vec_id").alias("rid"),
        "qa",
        "nn",
        (F.col("vec_id") % nb).alias("blk"),
    )
    queries_t = (
        nq.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0)
        .withColumn(
            # sequence(), not a literal F.array of nb columns: nb scales
            # with corpus size (ceil(n_q*n/8e6)), and a literal array
            # would embed O(nb) expressions in the plan — driver-side
            # plan bloat/codegen blowup at large n (ADVICE r10)
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(nb - 1))),
        )
        .select(
            F.lit(1).alias("role"),
            F.col("vec_id").alias("rid"),
            "qa",
            "nn",
            "blk",
        )
    )
    tagged = corpus_t.unionByName(queries_t)

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        qs = pdf[pdf["role"] == 1]
        cs = pdf[pdf["role"] == 0]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                {"qid": [], "cid": [], "sim_raw": []}
            ).astype(
                {"qid": "int64", "cid": "int64", "sim_raw": "float64"}
            )
        Q = np.stack(qs["qa"].to_numpy()).astype(np.int64)
        C = np.stack(cs["qa"].to_numpy()).astype(np.int64)
        nnq = qs["nn"].to_numpy().astype(np.int64)
        nnc = cs["nn"].to_numpy().astype(np.int64)
        if not (nnq.all() and nnc.all()):
            raise ValueError(
                "emb_knn_loo_accuracy: zero-norm embedding — cosine is "
                "undefined; filter or impute zero vectors upstream"
            )
        dot = Q @ C.T  # exact int64 matmul, |dot| << 2^53
        sims = (1e6 * dot.astype(np.float64)) / np.multiply.outer(
            np.sqrt(nnq.astype(np.float64)),
            np.sqrt(nnc.astype(np.float64)),
        )
        qid = qs["rid"].to_numpy()
        cid = cs["rid"].to_numpy()
        self_mask = np.equal.outer(qid, cid)
        sel = np.where(self_mask, -np.inf, sims)
        bmax = sel.max(axis=1)
        keep = (sel >= (bmax - 1.0)[:, None]) & ~self_mask
        qi, ci = np.nonzero(keep)
        return pd.DataFrame(
            {"qid": qid[qi], "cid": cid[ci], "sim_raw": sims[qi, ci]}
        )

    cand = tagged.groupBy("blk").applyInPandas(
        block, "qid bigint, cid bigint, sim_raw double"
    )
    lbl_q = nq.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    lbl_c = nq.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clabel")
    )
    scored = (
        cand.join(lbl_q, "qid")
        .join(lbl_c, "cid")
        .withColumn(
            "cos_micro", F.expr("CAST(round(sim_raw) AS BIGINT)")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_micro").desc(), "cid"
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("qid", "qlabel", "clabel")
    )
    return (
        best.groupBy(F.col("qlabel").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.expr(
                "CAST(n_correct * 1000000 div n_queries AS BIGINT)"
            ).alias("accuracy_ppm"),
        )
        .orderBy("label")
    )


# ------------------------------------------------------------------
# 2. orders_luhn_check_digit_audit — mod-10 generator + validator
# ------------------------------------------------------------------

_LUHN_BODY_LEN = 12


@register(
    "orders_luhn_check_digit_audit",
    f"""
    WITH acct AS (
      SELECT lpad(CAST(o_orderkey % 1000000000 AS VARCHAR),
                  {_LUHN_BODY_LEN}, '0') AS body
      FROM orders),
    summed AS (
      SELECT body,
             CAST(list_sum(list_transform(range({_LUHN_BODY_LEN}),
               j -> CASE WHEN j % 2 = 0
                 THEN CASE WHEN CAST(body[{_LUHN_BODY_LEN} - j :
                        {_LUHN_BODY_LEN} - j] AS INT) * 2 > 9
                      THEN CAST(body[{_LUHN_BODY_LEN} - j :
                        {_LUHN_BODY_LEN} - j] AS INT) * 2 - 9
                      ELSE CAST(body[{_LUHN_BODY_LEN} - j :
                        {_LUHN_BODY_LEN} - j] AS INT) * 2 END
                 ELSE CAST(body[{_LUHN_BODY_LEN} - j :
                        {_LUHN_BODY_LEN} - j] AS INT) END))
               AS BIGINT) AS s
      FROM acct),
    checked AS (
      SELECT (10 - s % 10) % 10 AS check_digit FROM summed)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_numbers,
           CAST(SUM(CASE WHEN check_digit = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_naive_zero_valid,
           CAST(SUM(CASE WHEN check_digit = 0 THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS naive_zero_valid_ppm,
           CAST(SUM(check_digit) * 1000 // COUNT(*) AS BIGINT)
             AS check_digit_mean_milli
    FROM checked
    """,
)
def orders_luhn_check_digit_audit(spark: SparkSession, sf_dir: str):
    """Luhn (mod-10) check-digit generation over surrogate account
    numbers derived deterministically from order keys — the checksum
    every PII pipeline runs to separate card-LIKE digit strings from
    actual card numbers (the tier's PII detector finds candidates;
    Luhn cuts its false positives ~10×, because a random digit string
    passes only 1 time in 10). The doubling-and-digit-sum fold runs
    IN-ROW over the zero-padded body (positional lambda over a
    bounded range — no explode, no UDF), producing the exact check
    digit per number; naive_zero_valid_ppm ≈ 100000 (the 1-in-10
    random pass rate made measurable) and the mean check digit ≈ 4.5
    are the distribution's self-audit. Pure integer arithmetic end to
    end; one scan, one fold. At 100 TB this is the cheapest kind of
    op there is — a map-only expression."""
    o = t(spark, sf_dir, "orders")
    acct = o.select(
        F.expr(
            f"lpad(CAST(o_orderkey % 1000000000 AS STRING),"
            f" {_LUHN_BODY_LEN}, '0') AS body"
        )
    )
    summed = acct.select(
        F.expr(
            f"""CAST(aggregate(sequence(0, {_LUHN_BODY_LEN - 1}),
              CAST(0 AS BIGINT), (acc, j) -> acc + CASE WHEN j % 2 = 0
                THEN CASE WHEN CAST(substring(body,
                       {_LUHN_BODY_LEN} - j, 1) AS INT) * 2 > 9
                     THEN CAST(substring(body,
                       {_LUHN_BODY_LEN} - j, 1) AS INT) * 2 - 9
                     ELSE CAST(substring(body,
                       {_LUHN_BODY_LEN} - j, 1) AS INT) * 2 END
                ELSE CAST(substring(body,
                       {_LUHN_BODY_LEN} - j, 1) AS INT) END)
              AS BIGINT) AS s"""
        )
    )
    checked = summed.select(
        F.expr("(10 - s % 10) % 10").alias("check_digit")
    )
    return checked.agg(
        F.count("*").cast("bigint").alias("n_numbers"),
        F.sum(F.when(F.col("check_digit") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_naive_zero_valid"),
        F.expr(
            "CAST(SUM(CASE WHEN check_digit = 0 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("naive_zero_valid_ppm"),
        F.expr(
            "CAST(SUM(check_digit) * 1000 div COUNT(*) AS BIGINT)"
        ).alias("check_digit_mean_milli"),
    )


# ------------------------------------------------------------------
# 3. events_circular_hour_concentration — circular statistics
# ------------------------------------------------------------------

# cos/sin of each hour angle precomputed in PYTHON (libm trig differs
# across engines in the last ulp; 24 micro-int literals sidestep it)
_HOUR_TRIG = [
    (
        h,
        round(math.cos(2 * math.pi * h / 24) * 1_000_000),
        round(math.sin(2 * math.pi * h / 24) * 1_000_000),
    )
    for h in range(24)
]


def _circ_oracle() -> str:
    rows = ", ".join(
        f"({h}, CAST({c} AS BIGINT), CAST({s} AS BIGINT))"
        for h, c, s in _HOUR_TRIG
    )
    return f"""
    WITH trig (h, c_micro, s_micro) AS (VALUES {rows}),
    ev AS (
      SELECT event_type, hour(ts) AS h FROM events),
    hourly AS (
      SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev GROUP BY 1, 2),
    sums AS (
      SELECT e.event_type,
             CAST(SUM(e.cnt) AS BIGINT) AS n,
             CAST(SUM(e.cnt * t.c_micro) AS BIGINT) AS sc,
             CAST(SUM(e.cnt * t.s_micro) AS BIGINT) AS ss
      FROM hourly e JOIN trig t ON t.h = e.h GROUP BY 1),
    peak AS (
      SELECT event_type, h AS peak_hour, cnt AS peak_cnt FROM (
        SELECT event_type, h, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY cnt DESC, h) AS rk
        FROM hourly) WHERE rk = 1)
    SELECT s.event_type, s.n,
           CAST(round(sqrt(CAST(s.sc AS DOUBLE) * s.sc
                           + CAST(s.ss AS DOUBLE) * s.ss) / s.n)
             AS BIGINT) AS resultant_ppm,
           CAST(p.peak_hour AS INT) AS peak_hour,
           CAST(p.peak_cnt * 1000000 // s.n AS BIGINT)
             AS peak_share_ppm
    FROM sums s JOIN peak p ON p.event_type = s.event_type
    ORDER BY s.event_type
    """


@register("events_circular_hour_concentration", _circ_oracle())
def events_circular_hour_concentration(spark: SparkSession, sf_dir: str):
    """Circular (directional) statistics on hour-of-day — the correct
    way to summarize time-of-day concentration, where linear moments
    fail (the mean of 23h and 1h is midnight, not noon): each hour
    maps to a unit-circle angle and the mean resultant length R =
    |Σe^{{iθ}}|/n measures concentration (0 = uniform around the
    clock, 1e6 ppm = single-hour spike) — the von Mises κ readout
    behind diurnal bot detection and send-time optimization. The 24
    cos/sin values are PYTHON-precomputed micro-int literals (libm
    trig differs across engines in the last ulp — the same dodge as
    the mixture-temperature op's sqrt-only rule), so the vector sums
    are exact integers off the bounded 24-row hourly census; one
    final sqrt (correctly rounded) and round. Peak hour + share give
    the modal complement. One fact fold to (type, hour); everything
    after is ≤24 rows per type."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    trig = spark.createDataFrame(
        _HOUR_TRIG, "h INT, c_micro BIGINT, s_micro BIGINT"
    )
    sums = (
        hourly.join(F.broadcast(trig), "h")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum(F.col("cnt") * F.col("c_micro"))
            .cast("bigint")
            .alias("sc"),
            F.sum(F.col("cnt") * F.col("s_micro"))
            .cast("bigint")
            .alias("ss"),
        )
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), "h"
    )
    peak = (
        hourly.withColumn("rk", F.row_number().over(wpk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("peak_hour"),
            F.col("cnt").alias("peak_cnt"),
        )
    )
    return (
        sums.join(peak, "event_type")
        .select(
            "event_type",
            "n",
            F.expr(
                "CAST(round(sqrt(CAST(sc AS DOUBLE) * sc"
                " + CAST(ss AS DOUBLE) * ss) / n) AS BIGINT)"
            ).alias("resultant_ppm"),
            F.col("peak_hour").cast("int").alias("peak_hour"),
            F.expr(
                "CAST(peak_cnt * 1000000 div n AS BIGINT)"
            ).alias("peak_share_ppm"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------
# 4. dq_candidate_key_uniqueness — key census
# ------------------------------------------------------------------

_KEY_CANDIDATES = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
    (
        "o_custkey+o_orderdate+o_orderpriority",
        ["o_custkey", "o_orderdate", "o_orderpriority"],
    ),
    ("o_orderdate+o_totalprice", ["o_orderdate", "o_totalprice"]),
]


def _keys_oracle() -> str:
    parts = []
    for name, cols in _KEY_CANDIDATES:
        key = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        parts.append(
            f"""
      SELECT '{name}' AS candidate_key,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT concat_ws('|', {key})) AS BIGINT)
               AS n_distinct
      FROM orders"""
        )
    union = "\n      UNION ALL\n      ".join(parts)
    return f"""
    WITH census AS (
      {union})
    SELECT candidate_key, n_rows, n_distinct,
           n_rows - n_distinct AS dup_rows,
           CAST(CASE WHEN n_rows = n_distinct THEN 1 ELSE 0 END
             AS INT) AS is_unique
    FROM census ORDER BY candidate_key
    """


@register("dq_candidate_key_uniqueness", _keys_oracle())
def dq_candidate_key_uniqueness(spark: SparkSession, sf_dir: str):
    """Candidate-key uniqueness census — the DQ check that gates
    every MERGE/upsert the mutation tier runs (a MERGE keyed on a
    non-unique column silently multiplies rows; this table says which
    keys are SAFE): for each declared candidate, exact distinct count
    of the canonicalized composite ('|'-joined casts — the same
    canonical form the data-vault op hashes) vs row count, with the
    dup count as the violation volume. Complements FD discovery
    (which infers dependencies) by VERIFYING the keys contracts
    actually name. One hash-distinct per candidate over one scan
    each; at 100 TB swap approx_count_distinct in for a first-pass
    screen and keep the exact pass for keys that screen clean —
    the census shape is unchanged."""
    o = t(spark, sf_dir, "orders")
    out = None
    for name, cols in _KEY_CANDIDATES:
        key = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in cols]
        )
        row = o.agg(
            F.lit(name).alias("candidate_key"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct(key).cast("bigint").alias("n_distinct"),
        )
        out = row if out is None else out.union(row)
    return out.select(
        "candidate_key",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("dup_rows"),
        F.when(F.col("n_rows") == F.col("n_distinct"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_unique"),
    ).orderBy("candidate_key")


# ------------------------------------------------------------------
# 5. lineitem_cooks_group_influence — regression diagnostics
# ------------------------------------------------------------------


@register(
    "lineitem_cooks_group_influence",
    """
    WITH base AS (
      SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM base),
    fit AS (
      SELECT n, sx, sxx, sy, syy, sxy,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS b,
             CAST(sx AS DOUBLE) / n AS xbar,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
               AS sxx_c
      FROM g),
    fit2 AS (
      SELECT *, CAST(sy AS DOUBLE) / n - b * xbar AS a FROM fit),
    fit3 AS (
      SELECT *,
             (CAST(syy AS DOUBLE) + n * a * a + b * b * sxx
              - 2.0 * a * sy - 2.0 * b * sxy + 2.0 * a * b * sx)
               / (n - 2) AS s2
      FROM fit2),
    grp AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x,
             CAST(SUM(y) AS BIGINT) AS sy_x,
             CAST(SUM(y * y) AS BIGINT) AS syy_x
      FROM base GROUP BY 1)
    SELECT g.x AS discount_pts, g.n_x,
           1.0 / f.n + (g.x - f.xbar) * (g.x - f.xbar) / f.sxx_c
             AS leverage,
           (CAST(g.syy_x AS DOUBLE)
            - 2.0 * (f.a + f.b * g.x) * g.sy_x
            + g.n_x * (f.a + f.b * g.x) * (f.a + f.b * g.x))
             AS sse_group,
           (CAST(g.syy_x AS DOUBLE)
            - 2.0 * (f.a + f.b * g.x) * g.sy_x
            + g.n_x * (f.a + f.b * g.x) * (f.a + f.b * g.x))
             * (1.0 / f.n + (g.x - f.xbar) * (g.x - f.xbar) / f.sxx_c)
             / (2.0 * f.s2
                * (1.0 - (1.0 / f.n + (g.x - f.xbar) * (g.x - f.xbar)
                          / f.sxx_c))
                * (1.0 - (1.0 / f.n + (g.x - f.xbar) * (g.x - f.xbar)
                          / f.sxx_c)))
             AS group_cooks_d
    FROM grp g CROSS JOIN fit3 f
    ORDER BY discount_pts
    """,
)
def lineitem_cooks_group_influence(spark: SparkSession, sf_dir: str):
    """Cook's-distance influence diagnostics for the quantity~discount
    OLS, grouped by design point — the regression-diagnostics member
    the tier's OLS/Breusch-Pagan ops lack: leverage h grows
    quadratically with distance from x̄, and the group Cook's D
    (Σr²·h / (p·s²·(1−h)²), observations at one x share one h) says
    which discount levels could actually MOVE the fitted line — the
    difference between an outlier and an influential point. With x
    discrete (11 design points), per-observation diagnostics collapse
    exactly to per-group ones: two scans (global moments, per-x
    moments), both map-side partial folds, and every output is a
    fixed double expression of exact BIGINT moments — the same
    parity contract as the ANOVA ops. At 100 TB nothing is wider
    than the 11-row design grid after the folds."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        (dec("l_discount") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    ).persist()
    g = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    fit = g.select(
        "*",
        F.expr(
            "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        ).alias("b"),
        F.expr("CAST(sx AS DOUBLE) / n").alias("xbar"),
        F.expr(
            "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n"
        ).alias("sxx_c"),
    )
    fit2 = fit.select(
        "*", F.expr("CAST(sy AS DOUBLE) / n - b * xbar").alias("a")
    )
    fit3 = fit2.select(
        "*",
        F.expr(
            "(CAST(syy AS DOUBLE) + n * a * a + b * b * sxx"
            " - 2.0 * a * sy - 2.0 * b * sxy + 2.0 * a * b * sx)"
            " / (n - 2)"
        ).alias("s2"),
    )
    grp = base.groupBy("x").agg(
        F.count("*").cast("bigint").alias("n_x"),
        F.sum("y").cast("bigint").alias("sy_x"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy_x"),
    )
    lev = "1.0 / n + (x - xbar) * (x - xbar) / sxx_c"
    sse = (
        "(CAST(syy_x AS DOUBLE) - 2.0 * (a + b * x) * sy_x"
        " + n_x * (a + b * x) * (a + b * x))"
    )
    return (
        grp.crossJoin(F.broadcast(fit3))
        .select(
            F.col("x").alias("discount_pts"),
            "n_x",
            F.expr(lev).alias("leverage"),
            F.expr(sse).alias("sse_group"),
            F.expr(
                f"{sse} * ({lev}) / (2.0 * s2 * (1.0 - ({lev}))"
                f" * (1.0 - ({lev})))"
            ).alias("group_cooks_d"),
        )
        .orderBy("discount_pts")
    )


# ------------------------------------------------------------------
# 6. part_edge_ngram_autocomplete_plan — search index sizing
# ------------------------------------------------------------------

_ENG_MIN_L = 2
_ENG_MAX_L = 5


@register(
    "part_edge_ngram_autocomplete_plan",
    f"""
    WITH words AS (
      SELECT string_split(p_name, ' ')[1] AS w FROM part),
    lens (l) AS (VALUES {', '.join(f'({L})' for L in range(_ENG_MIN_L, _ENG_MAX_L + 1))}),
    prefixes AS (
      SELECT l.l, wd.w[1 : l.l] AS p
      FROM words wd CROSS JOIN lens l
      WHERE length(wd.w) >= l.l),
    buckets AS (
      SELECT l, p, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM prefixes GROUP BY 1, 2)
    SELECT CAST(l AS INT) AS prefix_len,
           CAST(SUM(cnt) AS BIGINT) AS n_words_indexed,
           CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(MAX(cnt) AS BIGINT) AS max_bucket,
           CAST(SUM(cnt) * 1000 // COUNT(*) AS BIGINT)
             AS avg_bucket_milli
    FROM buckets GROUP BY 1 ORDER BY prefix_len
    """,
)
def part_edge_ngram_autocomplete_plan(spark: SparkSession, sf_dir: str):
    """Edge-ngram autocomplete index plan — the sizing pass a search
    system runs before building typeahead (the indexing sibling of the
    tier's inverted-index and postings-compression ops): for each
    candidate prefix length, how many distinct prefixes exist, the
    WORST-case bucket (max candidates one keystroke must rank — the
    latency driver), and the mean fanout. The curve's knee (max_bucket
    collapsing between L=2 and L=4) is exactly the min_gram/max_gram
    decision an analyzer config encodes. Prefixes explode against the
    bounded length grid in-row (substring, no UDF); the census is one
    (L, prefix) groupBy. 1-based substring slicing matches across
    engines; the first word of p_name is the dictionary. At 100 TB
    the groupBy is the index build itself — this plan IS its dry
    run."""
    p = t(spark, sf_dir, "part")
    words = p.select(F.split("p_name", " ").getItem(0).alias("w"))
    lens = spark.createDataFrame(
        [(L,) for L in range(_ENG_MIN_L, _ENG_MAX_L + 1)], "l INT"
    )
    prefixes = (
        words.crossJoin(F.broadcast(lens))
        .filter(F.length("w") >= F.col("l"))
        .select("l", F.expr("substring(w, 1, l)").alias("p"))
    )
    buckets = prefixes.groupBy("l", "p").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    return (
        buckets.groupBy(F.col("l").cast("int").alias("prefix_len"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words_indexed"),
            F.count("*").cast("bigint").alias("n_prefixes"),
            F.max("cnt").cast("bigint").alias("max_bucket"),
            F.expr(
                "CAST(SUM(cnt) * 1000 div COUNT(*) AS BIGINT)"
            ).alias("avg_bucket_milli"),
        )
        .orderBy("prefix_len")
    )
