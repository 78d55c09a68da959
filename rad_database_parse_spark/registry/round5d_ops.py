"""Round-5d operators: lakehouse-maintenance and advanced-analytics
shapes that close the remaining day-2-operations gaps — small-file
compaction planning (the table-maintenance job every parquet lake runs
nightly), CUSUM changepoint detection (the ops-side drift alarm),
second-order Markov transitions (higher-order user-journey modeling),
MAD-based robust outlier screening (the quantile-robust complement to
the z-score screen), and incremental aggregate maintenance (partial-agg
merge ≡ full recompute — the IVM contract behind every materialized
rollup).

Reference parity: these extend the §2C analytics surface the same way
the round-5c curation ops do (reference `grover-dev/rad-database-parse`
exposes the query lifecycle in `query.py:24-60`; the maintenance shapes
here are the operational layer a 100 TB deployment of that surface
needs).

Float-parity discipline (registry/__init__.py): money travels as exact
integer cents (BIGINT) or DECIMAL until the final division; divisions
happen in double on identical operands in both engines; ranking on
floats is fixed-point floored and ties break on ids.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dbl, dec, t
from ..operators.ranking import exact_ntile, exact_ntile_multi

# ------------------------------------------ small-file compaction plan
# Target bin size for the packer (bytes). Deliberately small so the plan
# has interesting structure at every test SF; production would use
# 128-1024 MiB.
_COMPACT_TARGET = 16384


def compaction_bins(files, part_col: str, order_col: str, size_col: str,
                    target: int):
    """Cumsum-bucket a file inventory into target-size compaction bins:
    bin = floor(exclusive running size before this file / target), files
    ordered by ``order_col`` within each ``part_col`` partition. The
    deterministic distributable core of files_compaction_plan, exposed
    for property testing on generated inventories."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return files.withColumn(
        "cum_before", F.coalesce(F.sum(size_col).over(w), F.lit(0))
    ).withColumn(
        "bin_id",
        F.floor(F.col("cum_before") / F.lit(float(target))).cast("bigint"),
    )


@register(
    "files_compaction_plan",
    f"""
    WITH f AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(24 + length(event_type) + length(props)) AS BIGINT)
               AS bytes
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    b AS (
      SELECT event_type, day, bytes,
             COALESCE(SUM(bytes) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM f)
    SELECT event_type,
           CAST(floor(cum_before / {_COMPACT_TARGET}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           strftime(MIN(day), '%Y-%m-%d') AS first_day,
           strftime(MAX(day), '%Y-%m-%d') AS last_day
    FROM b GROUP BY event_type, bin_id
    """,
)
def files_compaction_plan(spark: SparkSession, sf_dir: str):
    """Small-file compaction planner — the nightly table-maintenance job
    of every parquet/Delta/Iceberg lake. The file inventory is simulated
    as one "file" per (event_type, day) slice with an exact byte proxy
    (fixed row overhead + payload lengths); the packer assigns files to
    target-size output bins by exclusive running byte total within the
    partition column: bin = floor(bytes_before / target). That
    cumsum-bucketing rule is the DISTRIBUTABLE variant of greedy
    first-fit (greedy is inherently sequential; the cumsum rule is
    deterministic, order-stable, and computable in one window pass), and
    it is how real lakehouse optimizers scope rewrite groups. Plan shape:
    one groupBy (file inventory — at scale this is the metadata/manifest
    table, NOT a data scan), one window partitioned by event_type (no
    global sort), one final groupBy. Output is O(#files), driver-safe at
    any corpus size because it aggregates metadata only."""
    ev = t(spark, sf_dir, "events")
    files = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(
            F.lit(24) + F.length("event_type") + F.length("props")
        ).cast("bigint").alias("bytes")
    )
    binned = compaction_bins(
        files, "event_type", "day", "bytes", _COMPACT_TARGET
    )
    return binned.groupBy("event_type", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bin_bytes"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
    )


# ------------------------------------------ CUSUM changepoint detection
def cusum_argmax(daily, key_col: str, order_col: str, val_col: str):
    """Exact-integer CUSUM peak per key over an ordered integer series:
    S_i = n·cumsum_i − i·total (the CUSUM statistic scaled by n — no
    mean division), argmax |S_i| with ties to the earliest point.
    Returns (key, <order_col>, cusum_stat, n_points). The core of
    events_cusum_changepoint, exposed for property testing."""
    w_ord = Window.partitionBy(key_col).orderBy(order_col)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(key_col)
    s = (
        daily.withColumn("i", F.row_number().over(w_ord).cast("bigint"))
        .withColumn("cum_v", F.sum(val_col).over(w_run).cast("bigint"))
        .withColumn("n_points", F.count("*").over(w_all).cast("bigint"))
        .withColumn("tot_v", F.sum(val_col).over(w_all).cast("bigint"))
        .select(
            key_col,
            order_col,
            "n_points",
            (
                F.col("n_points") * F.col("cum_v") - F.col("i") * F.col("tot_v")
            ).alias("cusum_stat"),
        )
    )
    w_best = Window.partitionBy(key_col).orderBy(
        F.abs(F.col("cusum_stat")).desc(), F.col(order_col)
    )
    return (
        s.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(key_col, order_col, "cusum_stat", "n_points")
    )


@register(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    cum AS (
      SELECT event_type, day, cents,
             CAST(ROW_NUMBER() OVER w_ord AS BIGINT) AS i,
             CAST(SUM(cents) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents,
             CAST(COUNT(*) OVER w_all AS BIGINT) AS n_days,
             CAST(SUM(cents) OVER w_all AS BIGINT) AS tot_cents
      FROM daily
      WINDOW w_ord AS (PARTITION BY event_type ORDER BY day),
             w_all AS (PARTITION BY event_type)),
    s AS (
      SELECT event_type, day, n_days,
             n_days * cum_cents - i * tot_cents AS cusum_cents
      FROM cum),
    best AS (
      SELECT event_type, day AS cp_day, cusum_cents, n_days,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum_cents) DESC, day) AS rk
      FROM s)
    SELECT event_type, strftime(cp_day, '%Y-%m-%d') AS cp_day,
           cusum_cents, n_days
    FROM best WHERE rk = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str):
    """CUSUM changepoint detection on the daily revenue series per event
    type — the classic sequential drift alarm (Page 1954): the day where
    the cumulative deviation from the series mean peaks is the most
    likely level-shift point. Arithmetic is EXACT end to end: values
    become integer cents, and the mean division is eliminated by scaling
    — S_i = n*cumsum_i - i*total is the CUSUM statistic times n, an
    integer, so both engines agree bit-for-bit and the argmax needs no
    float tolerance (ties break on the earlier day). Plan shape: one
    groupBy to the daily grain (map-side partial combine does the heavy
    lifting — the window then runs over #days rows per type, not raw
    events), two frames over the same event_type partitioning (ONE
    exchange), and a rank-1 filter. At 100 TB the daily grain is already
    tiny; the raw-event groupBy is the only real cost and it is the
    canonical partial-agg shape."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum((dec("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    return cusum_argmax(daily, "event_type", "day", "cents").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
        F.col("cusum_stat").alias("cusum_cents"),
        F.col("n_points").alias("n_days"),
    )


# ---------------------------------- second-order Markov transitions
@register(
    "events_second_order_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS nxt,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (
      SELECT prev2, prev1, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev2 IS NOT NULL
      GROUP BY prev2, prev1, nxt),
    tot AS (
      SELECT prev2, prev1, nxt, n,
             CAST(SUM(n) OVER (PARTITION BY prev2, prev1) AS BIGINT)
               AS n_context
      FROM tri)
    SELECT prev2, prev1, nxt, n, n_context,
           CAST(floor(1000000.0 * n / n_context) AS BIGINT) AS prob_fp
    FROM tot
    """,
)
def events_second_order_transitions(spark: SparkSession, sf_dir: str):
    """Second-order Markov transition table over user event streams:
    P(next | prev2, prev1) — the higher-order user-journey model that
    first-order transition matrices (event_type_transitions) cannot
    express (e.g. view→click→purchase vs click→view→purchase diverge).
    One user_id-partitioned window supplies both lags in a single pass,
    the trigram groupBy collapses to at most |types|^3 rows (216 here —
    bounded at ANY corpus size), and the conditional probability is a
    window over that bounded table, so the only data-sized cost is the
    one user_id exchange every sessionization query already pays.
    Probabilities are integer fixed-point (floor 1e6·n/total) for exact
    cross-engine agreement."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    ).filter(F.col("prev2").isNotNull())
    tri = seq.groupBy("prev2", "prev1", "nxt").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_ctx = Window.partitionBy("prev2", "prev1")
    return tri.withColumn(
        "n_context", F.sum("n").over(w_ctx).cast("bigint")
    ).withColumn(
        "prob_fp",
        F.floor(F.lit(1000000.0) * F.col("n") / F.col("n_context")).cast(
            "bigint"
        ),
    )


# ------------------------------------------ MAD robust outlier screen
_MAD_K = 3.0


@register(
    "lineitem_mad_outliers",
    f"""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
      FROM lineitem GROUP BY l_returnflag),
    dev AS (
      SELECT l.l_returnflag, m.med_qty,
             abs(l.l_quantity - m.med_qty) AS adev
      FROM lineitem l JOIN med m USING (l_returnflag)),
    mad AS (
      SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad_qty
      FROM dev GROUP BY l_returnflag)
    SELECT d.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           d.med_qty AS med_qty,
           a.mad_qty AS mad_qty,
           CAST(SUM(CASE WHEN d.adev > {_MAD_K} * a.mad_qty
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (l_returnflag)
    GROUP BY d.l_returnflag, d.med_qty, a.mad_qty
    """,
)
def lineitem_mad_outliers(spark: SparkSession, sf_dir: str):
    """Median-absolute-deviation robust outlier screen per return flag —
    the quantile-robust complement to the z-score screen
    (events_anomaly_zscore is mean/stddev — one wild value poisons it;
    MAD's 50% breakdown point does not care). Two exact-median passes
    (the established F.percentile ↔ quantile_cont interpolation parity)
    with the 3-row aggregate broadcast back each time, so the lineitem
    stream never shuffles — both joins are map-side. The deviation and
    the 3·MAD threshold are IEEE ops on identical doubles in both
    engines, so the outlier count is exact. At 100 TB the exact medians
    swap for the mergeable approx_percentile sketch with the same
    output contract (the agg_approx_quantile_check pattern pins that
    sketch's error)."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.percentile(dbl(F.col("l_quantity")), 0.5).alias("med_qty")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med_qty",
        F.abs(F.col("l_quantity") - F.col("med_qty")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile(dbl(F.col("adev")), 0.5).alias("mad_qty")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med_qty", "mad_qty")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(_MAD_K) * F.col("mad_qty"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("l_returnflag", "n", "med_qty", "mad_qty", "n_outliers")
    )


# --------------------------------- incremental aggregate maintenance
_IVM_CUTOVER = "1997-07-01"


@register(
    "orders_ivm_partial_agg_merge",
    f"""
    WITH base AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '{_IVM_CUTOVER}'
      GROUP BY month),
    delta AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_IVM_CUTOVER}'
      GROUP BY month),
    merged AS (
      SELECT month, SUM(cnt) AS n_orders, SUM(cents) AS total_cents
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY month)
    SELECT strftime(month, '%Y-%m') AS month,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST(total_cents AS DOUBLE) / (100.0 * n_orders) AS avg_price
    FROM merged
    """,
)
def orders_ivm_partial_agg_merge(spark: SparkSession, sf_dir: str):
    """Incremental view maintenance by partial-aggregate merge: the
    monthly revenue rollup is maintained as mergeable partials
    (count, cents) computed independently over a base segment and a
    delta batch, then merged by re-aggregation — and the merged result
    is IDENTICAL to a full recompute (the oracle runs the same
    two-segment merge; a dedicated test asserts merge ≡ recompute).
    This is the contract that lets a 100 TB deployment maintain
    materialized rollups by folding in each ingest batch instead of
    rescanning history: sums/counts are commutative monoids, cents are
    exact BIGINT, and the final average is derived from merged partials
    only. Plan shape: two pruned scans (the date split is a pushed-down
    predicate), partial agg each side, one union + re-agg on the month
    key — no join, no second pass over either segment."""
    o = t(spark, sf_dir, "orders")
    cut = F.lit(_IVM_CUTOVER).cast("timestamp")

    def partial(df):
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        ).agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum((dec("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cut))
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionAll(delta)
        .groupBy("month")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )
    return merged.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "n_orders",
        "total_cents",
        (
            F.col("total_cents").cast("double")
            / (F.lit(100.0) * F.col("n_orders"))
        ).alias("avg_price"),
    )


# --------------------------------------------- BM25 top-k retrieval
# Rational (log-free) idf keeps every arithmetic step an IEEE op on
# identical operands in both engines — the repo-wide float-parity policy.
_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_score_sql(engine: str) -> str:
    """Per-term BM25 partial, summed in a FIXED order (term1+term2+term3)
    so both engines add the same doubles in the same sequence."""
    parts = []
    for term in _BM25_TERMS:
        tf = f"CAST(tf_{term} AS DOUBLE)"
        df = f"CAST(df_{term} AS DOUBLE)"
        idf = f"((CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5))"
        parts.append(
            f"({idf} * ({tf} * {1.0 + _BM25_K1}) / "
            f"({tf} + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * "
            f"(CAST(dl AS DOUBLE) / avgdl))))"
        )
    return " + ".join(parts)


_BM25_TF_DUCK = ",\n             ".join(
    f"CAST(len(list_filter(w, x -> x = '{term}')) AS BIGINT) AS tf_{term}"
    for term in _BM25_TERMS
)
_BM25_DF_DUCK = ",\n             ".join(
    f"CAST(SUM(CASE WHEN tf_{term} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS df_{term}"
    for term in _BM25_TERMS
)


@register(
    "docs_bm25_topk",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tf AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             {_BM25_TF_DUCK}
      FROM d),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {_BM25_DF_DUCK}
      FROM tf),
    scored AS (
      SELECT doc_id, dl,
             CAST(floor(1000000.0 * ({_bm25_score_sql('duckdb')}))
                  AS BIGINT) AS score_fp
      FROM tf CROSS JOIN (
        SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
        FROM stats) s
      WHERE tf_{_BM25_TERMS[0]} + tf_{_BM25_TERMS[1]}
            + tf_{_BM25_TERMS[2]} > 0),
    ranked AS (
      SELECT doc_id, dl, score_fp,
             ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rank
      FROM scored)
    SELECT doc_id, dl, score_fp, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {_BM25_TOPK}
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str):
    """BM25 document retrieval for a fixed query-term set — the lexical
    ranking function behind every search/RAG retrieval baseline
    (Robertson-Sparck Jones), here with a RATIONAL idf
    ((N-df+0.5)/(df+0.5), no log) so every step is an IEEE op on
    identical operands in both engines and the fixed-point floor ranks
    bit-identically; the per-term partials are summed in one fixed
    order. Plan shape: one scan computes per-doc tf/dl JVM-side
    (size(filter(...)) — no Python), the 1-row corpus-stats aggregate
    broadcasts back, and the global top-k is a rank-filter (at 100 TB
    the global ROW_NUMBER swaps for the per-partition top-k + merge
    shape of topk_per_group; df/N come from the same mergeable
    aggregate). Reference parity: extends the reference's query surface
    (SURVEY §2C text analysis) with the retrieval-side scorer that
    pairs with docs_tfidf_top_terms and docs_inverted_index_segments."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    def _tf(term: str):
        # one-arg lambda: F.filter treats 2-arg lambdas as (element, index)
        return (
            F.size(F.filter("w", lambda x: x == F.lit(term)))
            .cast("bigint")
            .alias(f"tf_{term}")
        )

    tf = d.select(
        "doc_id",
        F.size("w").cast("bigint").alias("dl"),
        *[_tf(term) for term in _BM25_TERMS],
    )
    stats = tf.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{term}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{term}")
            for term in _BM25_TERMS
        ],
    ).withColumn(
        "avgdl",
        F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"),
    )
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .filter(sum(F.col(f"tf_{term}") for term in _BM25_TERMS) > 0)
        .select(
            "doc_id",
            "dl",
            F.floor(
                F.lit(1000000.0) * F.expr(_bm25_score_sql("spark"))
            )
            .cast("bigint")
            .alias("score_fp"),
        )
    )
    # rank() not row_number(): identical under the doc_id tie-break (total
    # order), but InferWindowGroupLimit only prunes the GLOBAL top-k
    # map-side for rank-like functions (verified on 4.1.2: WindowGroupLimit
    # appears for rank, not for row_number) — each partition forwards at
    # most k rows to the single-partition sort instead of the whole corpus
    w = Window.orderBy(F.col("score_fp").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") <= _BM25_TOPK)
        .withColumn("rank", F.col("rank").cast("int"))
        .select("doc_id", "dl", "score_fp", "rank")
    )


# ----------------------- two-stage retrieval: Hamming filter → rerank
_CASCADE_SHORTLIST = 20
_CASCADE_K = 5


def _cascade_packbits(lo: int, engine: str) -> str:
    from .llm_ops import _packbits_sql

    return _packbits_sql(lo, engine)


def _cascade_sql() -> str:
    cos = (
        "round(list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)"
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_cascade_packbits(1, 'duckdb')} AS h_lo,
             {_cascade_packbits(33, 'duckdb')} AS h_hi
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, h_lo AS q_lo, h_hi AS q_hi
          FROM sig WHERE vec_id < 10),
    ham AS (
      SELECT query_id, qv, s.vec_id AS neighbor_id, s.v AS cv,
             CAST(bit_count(xor(q_lo, s.h_lo))
                  + bit_count(xor(q_hi, s.h_hi)) AS INT) AS hamming
      FROM q CROSS JOIN sig s WHERE s.vec_id != query_id),
    short AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS hrk
        FROM ham) WHERE hrk <= {_CASCADE_SHORTLIST}),
    casc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {cos} DESC, neighbor_id) AS rk
        FROM short) WHERE rk <= {_CASCADE_K}),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, s.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, s.v) /
                   (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(s.v, s.v))), 6) DESC,
                   s.vec_id) AS rk
        FROM q CROSS JOIN sig s WHERE s.vec_id != q.query_id)
      WHERE rk <= {_CASCADE_K}),
    shortcnt AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM short
      GROUP BY query_id),
    hits AS (
      SELECT c.query_id, CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hit
      FROM casc c LEFT JOIN exact e
        ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
      GROUP BY c.query_id)
    SELECT s.query_id, s.n_candidates,
           CAST(h.n_hit * {1000000 // _CASCADE_K} AS BIGINT) AS recall_fp
    FROM shortcnt s JOIN hits h ON h.query_id = s.query_id
    """


@register("emb_hamming_rerank_cascade", _cascade_sql())
def emb_hamming_rerank_cascade(spark: SparkSession, sf_dir: str):
    """Two-stage retrieval cascade — the production ANN serving shape:
    a 64-bit binary-signature Hamming scan shortlists candidates
    (XOR+popcount, 16 bytes/vector — the whole corpus signature table
    fits in memory at billions of vectors), then ONLY the shortlist pays
    full-precision cosine, and recall@k against the exact top-k is the
    quality gate. This composes the repo's compression tier
    (emb_binary_hamming_topk) with its exact ranker into the
    filter-then-rerank pipeline every vector store runs; the measured
    recall is the number that decides shortlist depth in production.
    Integer Hamming ranks bit-identically; the rerank rounds cosine to
    1e-6 with id tie-breaks (established parity); recall is exact
    fixed-point (hits × 200000). The exact arm is the brute-force
    baseline — at 100 TB it is replaced by a labeled eval set; the
    cascade arm's plan (broadcast queries, one corpus scan, shortlist
    k·|Q| rows) is the scale path as-is."""
    from ..llm.similarity import brute_force_cosine_topk, cosine
    from .llm_ops import _packbits_sql

    e = t(spark, sf_dir, "embeddings")
    sig = e.selectExpr(
        "vec_id",
        "cast(embedding as array<double>) AS v",
        f"({_packbits_sql(1, 'spark')}) AS h_lo",
        f"({_packbits_sql(33, 'spark')}) AS h_hi",
    )
    q = sig.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("h_lo").alias("q_lo"),
        F.col("h_hi").alias("q_hi"),
    )
    ham = (
        sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qv",
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            (
                F.bit_count(F.expr("q_lo ^ h_lo"))
                + F.bit_count(F.expr("q_hi ^ h_hi"))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    short = ham.withColumn("hrk", F.row_number().over(w_ham)).filter(
        F.col("hrk") <= _CASCADE_SHORTLIST
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.round(cosine(F.col("qv"), F.col("cv")), 6).desc(),
        F.col("neighbor_id"),
    )
    casc = (
        short.withColumn("rk", F.row_number().over(w_cos))
        .filter(F.col("rk") <= _CASCADE_K)
        .select("query_id", "neighbor_id")
    )
    exact = brute_force_cosine_topk(
        e.filter(F.col("vec_id") < 10), e, k=_CASCADE_K
    ).select("query_id", "neighbor_id")
    shortcnt = short.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    hits = (
        casc.join(
            exact.withColumnRenamed("neighbor_id", "hit_id"),
            (casc["query_id"] == exact["query_id"])
            & (casc["neighbor_id"] == F.col("hit_id")),
            "left",
        )
        .groupBy(casc["query_id"].alias("query_id"))
        .agg(F.count("hit_id").cast("bigint").alias("n_hit"))
    )
    return shortcnt.join(hits, "query_id").select(
        "query_id",
        "n_candidates",
        (F.col("n_hit") * (1000000 // _CASCADE_K)).cast("bigint").alias(
            "recall_fp"
        ),
    )


# ----------------------------------------- k-core decomposition (graph)
# k is data-derived (ceil of the median initial degree) so the peel is
# non-trivial at every test SF; the peel is capped at _KCORE_ROUNDS
# rounds in BOTH engines (identical unroll → identical output even if
# unconverged) and a `converged` flag reports whether the cap bound.
_KCORE_ROUNDS = 6
_KCORE_EDGE_SQL = """
    p AS (
      SELECT p_partkey, p_name,
             regexp_extract(p_name, '^[^ ]+ [^ ]+') AS blk,
             length(p_name) AS ln
      FROM part),
    e AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
           AND abs(a.ln - b.ln) <= 2
      WHERE levenshtein(a.p_name, b.p_name) <= 2),
    u2 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg0 AS (SELECT u, COUNT(*) AS d FROM u2 GROUP BY u),
    kv AS (SELECT CAST(ceil(quantile_cont(CAST(d AS DOUBLE), 0.5)) AS INT)
             AS k FROM deg0),
    n0 AS (SELECT u AS node FROM deg0)"""


def _kcore_sql() -> str:
    stages = []
    prev = "n0"
    for i in range(1, _KCORE_ROUNDS + 1):
        stages.append(
            f"""n{i} AS (
      SELECT u2.u AS node FROM u2
      JOIN {prev} a ON u2.u = a.node JOIN {prev} b ON u2.v = b.node
      GROUP BY u2.u HAVING COUNT(*) >= (SELECT k FROM kv))"""
        )
        prev = f"n{i}"
    last, second = f"n{_KCORE_ROUNDS}", f"n{_KCORE_ROUNDS - 1}"
    return (
        "\n    WITH "
        + _KCORE_EDGE_SQL
        + ",\n    "
        + ",\n    ".join(stages)
        + f""",
    final AS (
      SELECT u2.u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM u2
      JOIN {last} a ON u2.u = a.node JOIN {last} b ON u2.v = b.node
      GROUP BY u2.u)
    SELECT node, core_deg, (SELECT k FROM kv) AS k,
           (SELECT COUNT(*) FROM {last}) = (SELECT COUNT(*) FROM {second})
             AS converged
    FROM final
    """
    )


@register("graph_kcore_decomposition", _kcore_sql())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str):
    """k-core decomposition of the part near-dup similarity graph —
    iterative peeling (drop nodes of degree < k from the induced
    subgraph until stable), the graph-density screen that isolates the
    tightly-knit duplicate clusters from chains/stragglers; completes
    the graph tier (connected components → PageRank → triangles →
    cores). k is data-derived (ceil median initial degree) so the peel
    bites at every SF.

    Distributed shape: the undirected edge list is checkpointed ONCE; each
    peel round is two semi-join-shaped hash joins of the edge list
    against the surviving-node set plus one degree groupBy — the same
    per-iteration cost envelope as PageRank — and the driver loop exits
    EARLY on the exact fixpoint (node-count stable; sets shrink
    monotonically so counts suffice), with a hard cap of
    {_KCORE_ROUNDS} rounds mirrored by the oracle's fixed unroll —
    identical output either way, and `converged` reports whether the
    cap bound. At 100 TB: node sets shrink monotonically, so the joins
    get cheaper every round; the known O(log n) refinement replaces the
    driver fixpoint check with a distributed convergence aggregate."""
    from .pipeline_ops import part_name_neardup

    e = part_name_neardup(spark, sf_dir).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    # both edge directions from ONE pass over the (expensive) near-dup
    # join — a union of two branches would evaluate it twice
    und = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("p")
    ).select("p.u", "p.v").localCheckpoint()
    deg0 = und.groupBy("u").agg(F.count("*").alias("d"))
    kv = deg0.agg(
        F.ceil(F.percentile(dbl(F.col("d")), 0.5)).cast("int").alias("k")
    )
    k = kv.collect()[0]["k"]  # scalar: one tiny agg, the peel loop needs it
    nodes = deg0.select(F.col("u").alias("node")).localCheckpoint()
    prev_n = nodes.count()
    rounds = 0
    converged = False
    for _ in range(_KCORE_ROUNDS):
        nodes = (
            und.join(nodes.withColumnRenamed("node", "u"), "u")
            .join(
                nodes.select(F.col("node").alias("v")), "v"
            )
            .groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("u").alias("node"))
            .localCheckpoint()
        )
        n = nodes.count()
        rounds += 1
        if n == prev_n:
            converged = True
            break
        prev_n = n
    final = (
        und.join(nodes.withColumnRenamed("node", "u"), "u")
        .join(nodes.select(F.col("node").alias("v")), "v")
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("core_deg"))
        .select(
            F.col("u").alias("node"),
            "core_deg",
            F.lit(k).cast("int").alias("k"),
            F.lit(converged).alias("converged"),
        )
    )
    return final


# ------------------------------------- GDPR erasure cascade audit
_ERASE_MOD = 20


@register(
    "gdpr_erasure_cascade",
    f"""
    WITH ek AS (SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0),
    eo AS (SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM ek)),
    c AS (SELECT 'customer' AS table_name,
                 CAST(COUNT(*) AS BIGINT) AS rows_before,
                 CAST(SUM(CASE WHEN c_custkey % {_ERASE_MOD} = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
          FROM customer),
    o AS (SELECT 'orders' AS table_name,
                 CAST(COUNT(*) AS BIGINT) AS rows_before,
                 CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM ek)
                               THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
          FROM orders),
    l AS (SELECT 'lineitem' AS table_name,
                 CAST(COUNT(*) AS BIGINT) AS rows_before,
                 CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM eo)
                               THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
          FROM lineitem),
    ev AS (SELECT 'events' AS table_name,
                  CAST(COUNT(*) AS BIGINT) AS rows_before,
                  CAST(SUM(CASE WHEN user_id IN (SELECT c_custkey FROM ek)
                                THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
           FROM events)
    SELECT table_name, rows_before, rows_erased,
           rows_before - rows_erased AS rows_after
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o
          UNION ALL SELECT * FROM l UNION ALL SELECT * FROM ev)
    """,
)
def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str):
    """Right-to-erasure cascade audit — given a deterministic erasure set
    of customers, report per-table how many rows the cascade removes:
    the customers themselves, their orders, those orders' lineitems, and
    the users' event streams. This is the compliance-side mutation every
    consumer-data deployment must support (reference §2A has row-level
    DELETE, `database.py:151-160`; this is its referential-integrity
    closure). Shape: the erasure-key set is orders of magnitude smaller
    than the fact tables, so every membership probe is a BROADCAST
    left-semi-flag join (no fact-table shuffle anywhere); the order-key
    set derived from it broadcasts the same way onto lineitem. Each
    table is scanned exactly once, counting total and flagged rows in
    the same pass; the report is a 4-row union of 1-row aggregates. At
    100 TB the same plan applies with the keys as a bloom/IN-set
    pushdown; the actual delete is the established copy-on-write
    anti-join (operators/mutate.py)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    ek = cust.filter(F.col("c_custkey") % _ERASE_MOD == 0).select(
        F.col("c_custkey").alias("k")
    )
    eo = (
        orders.join(
            F.broadcast(ek), orders["o_custkey"] == F.col("k"), "left_semi"
        )
        .select(F.col("o_orderkey").alias("k"))
    )

    def audit(df, name: str, key_col: str, keys):
        flagged = df.join(
            F.broadcast(keys.withColumn("erased", F.lit(1))),
            df[key_col] == keys["k"],
            "left",
        )
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.count("*").cast("bigint").alias("rows_before"),
            F.count("erased").cast("bigint").alias("rows_erased"),
        )

    rep = (
        audit(cust, "customer", "c_custkey", ek)
        .unionAll(audit(orders, "orders", "o_custkey", ek))
        .unionAll(audit(li, "lineitem", "l_orderkey", eo))
        .unionAll(audit(ev, "events", "user_id", ek))
    )
    return rep.select(
        "table_name",
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
    )


# ------------------------------------- kNN graph construction stats
_KNN_K = 5


_KNN_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "part_knn_graph_stats",
    f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c
             WHERE vec_id < 16),
    inv AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT c.vec_id, c.v, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_KNN_COS.format(a="v", b="cent_v")} DESC, cent_id) AS rn
        FROM c CROSS JOIN cent) WHERE rn = 1),
    probes AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT c.vec_id, c.v, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_KNN_COS.format(a="v", b="cent_v")} DESC, cent_id) AS rn
        FROM c CROSS JOIN cent) WHERE rn <= 2),
    sims AS (
      SELECT p.vec_id AS u, i.vec_id AS v,
             {_KNN_COS.format(a="p.v", b="i.v")} AS sim
      FROM probes p JOIN inv i USING (cent_id)
      WHERE p.vec_id != i.vec_id),
    knn AS (
      SELECT u, v FROM (
        SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
                                        ORDER BY sim DESC, v) AS rk
        FROM sims) WHERE rk <= {_KNN_K}),
    mut AS (
      SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_mutual_pairs
      FROM knn a JOIN knn b ON a.u = b.v AND a.v = b.u),
    indeg AS (
      SELECT c.vec_id, CAST(COALESCE(d.ind, 0) AS BIGINT) AS ind
      FROM c LEFT JOIN (SELECT v, COUNT(*) AS ind FROM knn GROUP BY v) d
        ON d.v = c.vec_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM knn) AS n_edges,
           (SELECT n_mutual_pairs FROM mut) AS n_mutual_pairs,
           (SELECT CAST(MAX(ind) AS BIGINT) FROM indeg) AS max_indeg,
           (SELECT quantile_cont(CAST(ind AS DOUBLE), 0.95) FROM indeg)
             AS p95_indeg
    """,
)
def part_knn_graph_stats(spark: SparkSession, sf_dir: str):
    """kNN-graph construction over the embedding corpus with the
    graph-health statistics that decide whether the graph is usable for
    graph-ANN serving or cluster propagation: directed k=5 edges per
    node, mutual-edge (reciprocity) count, and the in-degree
    distribution (max + exact p95 — hub detection: a node that half the
    corpus points at makes graph search beam-collapse). Candidate
    generation is the PRODUCTION path — the IVF inverted-list probe
    (every node probes its 2 nearest of 16 seed-centroid lists;
    emb_cosine_topk_ivf's machinery with queries = the whole corpus),
    so candidate work is n·nprobe·(n/nlists) instead of the n² cross
    join (the all-pairs exact arm was measured 80s at sf0.1 — the
    documented reason approximate kNN-graph construction exists). Every
    edge derives from the established rounded-cosine ranking (ties on
    id); per-side norms are precomputed scan-locally (llm/similarity).
    The reciprocity/in-degree rollups are single hash aggregates on the
    O(k·n) edge list."""
    from ..llm.similarity import ivf_cosine_topk_blocked

    e = t(spark, sf_dir, "embeddings")
    # the corpus-probes-itself shape has n·nprobe·n/nlists pair volume
    # (12.5M at sf0.1) — the blocked Arrow/numpy kernel computes the
    # SAME bit-exact folds per inverted list instead of the interpreted
    # HOF (see ivf_cosine_topk_blocked; r8 re-plan, SCALE.md)
    knn = ivf_cosine_topk_blocked(
        e, e, centroids=e.filter(F.col("vec_id") < 16), k=_KNN_K, nprobe=2
    ).select(F.col("query_id").alias("u"), F.col("neighbor_id").alias("v"))
    knn = knn.persist()
    n_nodes = e.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = knn.agg(F.count("*").cast("bigint").alias("n_edges"))
    mut = (
        knn.alias("a")
        .join(
            knn.alias("b"),
            (F.col("a.u") == F.col("b.v")) & (F.col("a.v") == F.col("b.u")),
        )
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_mutual_pairs")
        )
    )
    indeg = (
        e.select(F.col("vec_id"))
        .join(knn.groupBy("v").agg(F.count("*").alias("ind")),
              e["vec_id"] == F.col("v"), "left")
        .select(F.coalesce(F.col("ind"), F.lit(0)).cast("bigint").alias("ind"))
    )
    istats = indeg.agg(
        F.max("ind").cast("bigint").alias("max_indeg"),
        F.percentile(dbl(F.col("ind")), 0.95).alias("p95_indeg"),
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(mut)
        .crossJoin(istats)
        .select("n_nodes", "n_edges", "n_mutual_pairs", "max_indeg",
                "p95_indeg")
    )


# ------------------------------- recursive CTE hierarchy traversal
@register(
    "sql_recursive_hierarchy",
    """
    WITH RECURSIVE h(c_custkey, root_key, depth) AS (
      SELECT c_custkey, c_custkey AS root_key, 1 AS depth
      FROM customer WHERE c_custkey // 10 = 0
      UNION ALL
      SELECT c.c_custkey, h.root_key, h.depth + 1
      FROM customer c JOIN h ON c.c_custkey // 10 = h.c_custkey
      WHERE c.c_custkey >= 10)
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT root_key) AS BIGINT) AS n_roots,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
    FROM h GROUP BY depth
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str):
    """Recursive-CTE hierarchy traversal (Spark 4's WITH RECURSIVE —
    SPARK-24497, new SQL surface this engine exposes natively): walk a
    synthetic management chain where each customer reports to
    custkey/10, propagating the root and depth from the anchor roots
    down the tree, then profile the hierarchy per level. The recursion
    is set-based (each step is one join of the frontier against the dim
    — Spark executes it as iterated union steps, the same frontier-join
    shape as the hand-unrolled k-core peel), terminates because keys
    strictly shrink (the >= 10 guard on the recursive arm excludes the
    custkey-0 self-loop), and depth is bounded by log10(maxkey). The oracle
    runs DuckDB's own WITH RECURSIVE — engine-independent semantics,
    identical results. At 100 TB: frontier joins broadcast the (small)
    current level against the partitioned dim; aggregation is the
    standard partial-combine rollup."""
    c = t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_hview")
    return spark.sql(
        """
        WITH RECURSIVE h(c_custkey, root_key, depth) AS (
          SELECT c_custkey, c_custkey AS root_key, 1 AS depth
          FROM customer_hview WHERE c_custkey div 10 = 0
          UNION ALL
          SELECT c.c_custkey, h.root_key, h.depth + 1
          FROM customer_hview c JOIN h ON c.c_custkey div 10 = h.c_custkey
          WHERE c.c_custkey >= 10)
        SELECT CAST(depth AS INT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(COUNT(DISTINCT root_key) AS BIGINT) AS n_roots,
               CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
        FROM h GROUP BY depth
        """
    )


# --------------------------------- gaps & islands: activity streaks
@register(
    "events_active_streaks",
    """
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    numbered AS (
      SELECT user_id, day,
             date_diff('day', DATE '2024-01-01', day)
               - CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day)
                      AS BIGINT) AS island
      FROM active),
    islands AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak_len
      FROM numbered GROUP BY user_id, island)
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM islands GROUP BY user_id
    """,
)
def events_active_streaks(spark: SparkSession, sf_dir: str):
    """Gaps-and-islands: per-user consecutive-active-day streaks — the
    classic engagement metric (longest streak, streak count) and the
    canonical SQL islands idiom: day_number minus dense_rank is
    constant within a run of consecutive days, so each island collapses
    in one groupBy with NO self-join or sequential scan (the naive
    formulation is a per-user loop; this is the relational rewrite that
    distributes). Day numbers are integer datediffs from a fixed epoch
    — identical integers in both engines. One user_id exchange serves
    the distinct, the rank window, and both rollups (Catalyst reuses
    the partitioning); output is one row per user."""
    ev = t(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    numbered = active.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast(
                "bigint"
            )
            - F.dense_rank().over(w).cast("bigint")
        ).alias("island"),
    )
    islands = numbered.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("streak_len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )


# ------------------------------ grouped OLS regression from moments
@register(
    "part_brand_ols_slope",
    """
    WITH m AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p_size) AS BIGINT) AS sx,
             CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(p_size AS BIGINT) * CAST(p_size AS BIGINT))
                  AS BIGINT) AS sxx,
             CAST(SUM(CAST(p_size AS BIGINT)
                      * CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sxy
      FROM part GROUP BY p_brand)
    SELECT p_brand, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope,
           (CAST(sy AS DOUBLE) / 100.0
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0)
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
    FROM m
    """,
)
def part_brand_ols_slope(spark: SparkSession, sf_dir: str):
    """Per-brand simple linear regression (price ~ size) assembled from
    EXACT integer moments — the grouped-OLS feature-engineering shape
    (price elasticity proxies, trend slopes per segment) done the
    parity-safe way: Σx, Σy, Σx², Σxy accumulate as BIGINTs (prices as
    cents), so the slope's numerator/denominator are exact integers and
    the only float ops are two final divisions on identical operands —
    the agg_corr_from_sums discipline extended to regression
    coefficients. One partial-combine groupBy over part, output one row
    per brand; mergeable across any partitioning, so the same plan is
    the 100 TB plan."""
    p = t(spark, sf_dir, "part")
    cents = (dec("p_retailprice") * 100).cast("bigint")
    sx = F.col("p_size").cast("bigint")
    m = p.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(sx).cast("bigint").alias("sx"),
        F.sum(cents).cast("bigint").alias("sy"),
        F.sum(sx * sx).cast("bigint").alias("sxx"),
        F.sum(sx * cents).cast("bigint").alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        / F.lit(100.0)
    )
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0)
        - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "p_brand", "n", slope.alias("slope"), intercept.alias("intercept")
    )


# ----------------------------- k-means (2-round Lloyd, exact integer)
_KMEANS_K = 4
_KMEANS_DIM = 64


def _kmeans_sql() -> str:
    dist = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> (q.qv[i] - {c}.cv[i]) * (q.qv[i] - {c}.cv[i]))) AS BIGINT)"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(1000000 * x) AS BIGINT)) AS qv
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_KMEANS_K}),
    a1 AS (
      SELECT vec_id, cid, qv FROM (
        SELECT q.vec_id, c0.cid, q.qv,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {dist.format(c='c0')}, c0.cid)
                 AS rk
        FROM q CROSS JOIN c0) WHERE rk = 1),
    c1 AS (
      SELECT cid, list(cval ORDER BY pos) AS cv FROM (
        SELECT cid, p.pos,
               CAST(floor(CAST(SUM(qv[p.pos]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cval
        FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
        GROUP BY cid, p.pos)
      GROUP BY cid),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {dist.format(c='c1')}, c1.cid)
                 AS rk
        FROM q CROSS JOIN c1) WHERE rk = 1)
    SELECT a2.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(a2.vec_id) AS BIGINT) AS member_checksum,
           (SELECT CAST(list_sum(cv) AS BIGINT) FROM c1
            WHERE c1.cid = a2.cid) AS centroid_sum
    FROM a2 GROUP BY a2.cid
    """


@register("emb_kmeans_lloyd", _kmeans_sql())
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str):
    """Two-round Lloyd k-means over the embedding corpus in EXACT
    integer arithmetic — the iterative-ML-on-DataFrames shape (assign →
    recompute centroids → reassign) with none of float clustering's
    cross-engine nondeterminism: vectors quantize to 1e-6 fixed-point
    BIGINTs, distances are integer sums of squares (argmin ties break
    on centroid id), and centroid updates floor the exact per-dimension
    mean, so both engines walk IDENTICAL cluster trajectories. Seeds
    are the k lowest vec_ids (deterministic, PRNG-free — the
    sampling_profile discipline). Plan shape per round: corpus ⋈
    broadcast(k centroids) with the distance argmin resolved by a
    vec_id-partitioned rank (k rows per vector), then the update is
    posexplode → (cluster, dim) partial-combine groupBy → array
    re-assembly — every stage mergeable, no driver loop. At 100 TB this
    is exactly distributed mini-batch-free Lloyd: k·dim centroid tables
    broadcast at any k that fits an executor; more rounds = more of the
    same stage pair. Output is the per-cluster census + centroid
    checksum."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(F.lit(1000000) * x.cast("double")).cast(
                "bigint"
            ),
        ).alias("qv"),
    )
    c0 = q.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )

    def assign(cents):
        dist = F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy("vec_id").orderBy(dist.asc(), F.col("cid"))
        return (
            q.crossJoin(F.broadcast(cents))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cid", "qv")
        )

    a1 = assign(c0)
    c1 = (
        a1.select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(
            F.floor(
                F.sum("val").cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("cval")))
                ),
                lambda s: s.getField("cval"),
            ).alias("cv")
        )
    )
    a2 = assign(c1)
    csum = c1.select(
        "cid",
        F.aggregate(
            F.col("cv"), F.lit(0).cast("bigint"), lambda acc, v: acc + v
        ).alias("centroid_sum"),
    )
    return (
        a2.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("vec_id").cast("bigint").alias("member_checksum"),
        )
        .join(
            F.broadcast(csum.withColumnRenamed("cid", "cluster_id")),
            "cluster_id",
        )
        .select("cluster_id", "n_members", "member_checksum", "centroid_sum")
    )


# ----------------------------------------- cohort LTV revenue curves
@register(
    "orders_cohort_ltv_curve",
    """
    WITH fo AS (
      SELECT o_custkey,
             MIN(date_trunc('month', o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey),
    aged AS (
      SELECT strftime(f.cohort_m, '%Y-%m') AS cohort_month,
             CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
                  - (year(f.cohort_m) * 12 + month(f.cohort_m)) AS INT)
               AS age_months,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey),
    g AS (
      SELECT cohort_month, age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM aged GROUP BY cohort_month, age_months)
    SELECT cohort_month, age_months, n_orders, cents,
           CAST(SUM(cents) OVER (
             PARTITION BY cohort_month ORDER BY age_months
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents
    FROM g
    """,
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by cohort age in months — the LTV payback
    table behind every acquisition-spend decision, and the revenue-side
    sibling of cohort_retention (which counts users). Age is an integer
    year*12+month delta (identical in both engines — no float
    months_between), money is exact cents, and the cumulative curve is
    a running window over the (cohort, age) grain — tiny after the
    rollup. Plan shape: one custkey groupBy for the cohort map, one
    custkey-keyed join back (co-partitioned with the groupBy — Catalyst
    reuses the exchange), one rollup, one small window. At 100 TB the
    cohort map is customer-dimension-sized; the join stays a shuffle
    hash join on the natural key."""
    o = t(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_m")
    )
    aged = o.join(fo, "o_custkey").select(
        F.date_format("cohort_m", "yyyy-MM").alias("cohort_month"),
        (
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            - (F.year("cohort_m") * 12 + F.month("cohort_m"))
        )
        .cast("int")
        .alias("age_months"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = aged.groupBy("cohort_month", "age_months").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.withColumn(
        "cum_cents", F.sum("cents").over(w).cast("bigint")
    )


# ------------------------------------- corpus novelty decay curve
_NOVELTY_N = 3  # word n-gram order
_NOVELTY_BUCKET = 50  # docs per curve point


@register(
    "docs_ngram_novelty_decay",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(w) >= {_NOVELTY_N} THEN
                      list_transform(range(len(w) - {_NOVELTY_N - 1}),
                        i -> md5(array_to_string(
                               w[i + 1 : i + {_NOVELTY_N}], ' ')))
                    ELSE [] END) AS gh
      FROM d),
    first_seen AS (
      SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh),
    per_bucket AS (
      SELECT CAST(doc_id // {_NOVELTY_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_distinct_grams
      FROM g GROUP BY bucket),
    novel AS (
      SELECT CAST(first_doc // {_NOVELTY_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM first_seen GROUP BY bucket)
    SELECT p.bucket, p.n_distinct_grams,
           COALESCE(n.n_novel, 0) AS n_novel,
           CAST(floor(1000000.0 * COALESCE(n.n_novel, 0)
                      / p.n_distinct_grams) AS BIGINT) AS novelty_fp
    FROM per_bucket p LEFT JOIN novel n ON n.bucket = p.bucket
    """,
)
def docs_ngram_novelty_decay(spark: SparkSession, sf_dir: str):
    """Corpus novelty-decay curve: as documents stream in (doc_id
    order), what fraction of each 50-doc bucket's distinct word-3-grams
    has never been seen before — the diminishing-returns curve that
    tells a data-curation pipeline when more of the same source stops
    adding information (the scaling-law-side complement of the dedup
    tier: near-flat novelty ⇒ the source is mined out). First
    occurrence is min(doc_id) per gram hash — one gram groupBy; bucket
    rollups are partial-combine counts; no joins touch row-granular
    data (the final join is bucket-grain, tens of rows). The gram
    table is the same md5-shingle stream every dedup operator shares —
    at 100 TB this rides the existing shingle scan."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""CASE WHEN size(w) >= {_NOVELTY_N} THEN
                      transform(sequence(0, size(w) - {_NOVELTY_N}),
                        i -> md5(concat_ws(' ', slice(w, i + 1, {_NOVELTY_N}))))
                    ELSE array() END"""
            )
        ).alias("gh"),
    ).distinct()
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = grams.groupBy(
        F.expr(f"doc_id div {_NOVELTY_BUCKET}").alias("bucket")
    ).agg(F.count_distinct("gh").cast("bigint").alias("n_distinct_grams"))
    novel = first_seen.groupBy(
        F.expr(f"first_doc div {_NOVELTY_BUCKET}").alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("n_novel"))
    return (
        per_bucket.join(novel, "bucket", "left")
        .select(
            "bucket",
            "n_distinct_grams",
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("n_novel"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_distinct_grams")
            )
            .cast("bigint")
            .alias("novelty_fp"),
        )
    )


# -------------------------- bipartite projection: co-supply graph
@register(
    "supplier_shared_customer_graph",
    """
    WITH sc AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    sccap AS (
      SELECT s, c FROM (
        SELECT s, c, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
        FROM sc) WHERE rn <= 128),
    counted AS (
      SELECT a.s AS supp_a, b.s AS supp_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_customers
      FROM sccap a JOIN sccap b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s),
    thr AS (
      SELECT CAST(ceil(quantile_cont(
               CAST(n_shared_customers AS DOUBLE), 0.9)) AS BIGINT) AS t
      FROM counted)
    SELECT supp_a, supp_b, n_shared_customers
    FROM counted CROSS JOIN thr WHERE n_shared_customers >= t
    """,
)
def supplier_shared_customer_graph(spark: SparkSession, sf_dir: str):
    """Bipartite graph projection: suppliers linked by the number of
    customers they both serve, keeping the top-decile edges (shared
    count ≥ exact p90 — a data-relative cut, selective at any SF) — the
    co-occurrence projection underlying substitute-supplier detection
    and market-structure graphs, and the graph-construction dual of the
    basket_part_association pair miner. Shape note (measured, r5): the
    per-customer array collapse + pair explosion was tried first and
    LOST to the equi-key self-join by 6x at sf0.1 — nested
    struct-building lambdas execute interpreted (no codegen), while the
    hash self-join generates the identical |S|²/2 pairs inside
    WholeStageCodegen; both shapes put a hub customer's pairs in one
    task, so the join shape concedes nothing on skew. The hub
    mitigation is now IN the plan (VERDICT r7): each customer
    contributes only its first 128 suppliers (deterministic key order,
    same cap in the oracle), bounding per-key join output at cap²/2 —
    output skew is the one kind AQE cannot split. 128 exceeds the
    corpus max degree at test scales (102 @ sf0.1, measured), so it
    binds only at the 100× hubs it guards against. The p90 edge cut
    is a 1-row broadcast."""
    li = t(spark, sf_dir, "lineitem")
    # broadcast the 2-column orderkey->custkey map (same knob as
    # graph_adamic_adar_suppliers: valid while orders < ~10^8 rows,
    # drop the hint past that and the plan shuffles instead)
    o = F.broadcast(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    )
    sc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    sccap = (
        sc.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("c").orderBy("s")),
        )
        .filter(F.col("rn") <= 128)
        .drop("rn")
    )
    a = sccap.select(F.col("s").alias("supp_a"), "c")
    b = sccap.select(F.col("s").alias("supp_b"), "c")
    pairs = a.join(b, "c").filter(F.col("supp_a") < F.col("supp_b"))
    counted = pairs.groupBy("supp_a", "supp_b").agg(
        F.count("*").cast("bigint").alias("n_shared_customers")
    )
    thr = counted.agg(
        F.ceil(F.percentile(dbl(F.col("n_shared_customers")), 0.9))
        .cast("bigint")
        .alias("thr")
    )
    return (
        counted.crossJoin(F.broadcast(thr))
        .filter(F.col("n_shared_customers") >= F.col("thr"))
        .select("supp_a", "supp_b", "n_shared_customers")
    )


# ----------------------------------- CDC net-change compaction
def cdc_squash(log, key_col: str, seq_col: str, op_col: str):
    """Squash a CDC change log to one net operation per key by
    first/last-writer analysis (I..D ⇒ NONE, ..D ⇒ D, I.. ⇒ I, else U).
    Returns (key, net_op, n_changes). The mergeable core of
    events_cdc_net_changes, exposed for property testing."""
    per_key = log.groupBy(key_col).agg(
        F.min_by(op_col, seq_col).alias("first_op"),
        F.max_by(op_col, seq_col).alias("last_op"),
        F.count("*").cast("bigint").alias("n_changes"),
    )
    return per_key.select(
        key_col,
        F.when(
            (F.col("last_op") == "D") & (F.col("first_op") == "I"), "NONE"
        )
        .when(F.col("last_op") == "D", "D")
        .when(F.col("first_op") == "I", "I")
        .otherwise("U")
        .alias("net_op"),
        "n_changes",
    )


@register(
    "events_cdc_net_changes",
    """
    WITH log AS (
      SELECT o_orderkey % 997 AS key, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 < 6 THEN 'U'
                  WHEN o_orderkey % 10 < 8 THEN 'I'
                  ELSE 'D' END AS op
      FROM orders),
    per_key AS (
      SELECT key,
             arg_min(op, seq) AS first_op,
             arg_max(op, seq) AS last_op,
             CAST(COUNT(*) AS BIGINT) AS n_changes
      FROM log GROUP BY key),
    net AS (
      SELECT key, n_changes,
             CASE WHEN last_op = 'D' AND first_op = 'I' THEN 'NONE'
                  WHEN last_op = 'D' THEN 'D'
                  WHEN first_op = 'I' THEN 'I'
                  ELSE 'U' END AS net_op
      FROM per_key)
    SELECT net_op, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_changes) AS BIGINT) AS n_changes,
           CAST(SUM(key) AS BIGINT) AS key_checksum
    FROM net GROUP BY net_op
    """,
)
def events_cdc_net_changes(spark: SparkSession, sf_dir: str):
    """CDC net-effect compaction — the change-log squash every
    Debezium/CDC ingest pipeline runs before merging into the lake:
    thousands of per-key changes collapse to ONE net operation via
    first/last-writer analysis (insert then delete inside the window ⇒
    no-op; anything ending in delete ⇒ delete; starting with insert and
    still alive ⇒ net insert; else net update). The change log is
    synthesized deterministically from orders (key = orderkey mod 997,
    seq = orderkey, op from the key residue). One groupBy per key with
    min_by/max_by (seq is unique ⇒ tie-free parity), then a 4-row
    rollup; the compaction is mergeable partial aggregation, so at
    100 TB it rides map-side combine — the squash happens BEFORE the
    shuffle, which is the entire point of compacting ahead of the
    MERGE (operators/mutate.py applies the squashed set
    copy-on-write)."""
    o = t(spark, sf_dir, "orders")
    log = o.select(
        (F.col("o_orderkey") % 997).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 < 6, "U")
        .when(F.col("o_orderkey") % 10 < 8, "I")
        .otherwise("D")
        .alias("op"),
    )
    net = cdc_squash(log, "key", "seq", "op")
    return net.groupBy("net_op").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n_changes").cast("bigint").alias("n_changes"),
        F.sum("key").cast("bigint").alias("key_checksum"),
    )


# ---------------------- streaming IVM: rollup maintained per microbatch
@register(
    "stream_ivm_rollup_maintenance",
    """
    WITH g AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders GROUP BY month)
    SELECT month, n_orders, total_cents,
           CAST(total_cents AS DOUBLE) / (100.0 * n_orders) AS avg_price
    FROM g
    """,
)
def stream_ivm_rollup_maintenance(spark: SparkSession, sf_dir: str):
    """STREAMING incremental view maintenance: the monthly revenue rollup
    is maintained across micro-batches — each foreachBatch folds the
    batch's (count, cents) partials into the persisted rollup by
    partial-aggregate merge (read prev + union + re-sum, alternating
    state dirs — the stream_foreachbatch_upsert discipline applied to
    AGGREGATES instead of rows) — and the final maintained table must
    equal the one-shot batch recompute (the oracle). This is the
    streaming half of the IVM contract orders_ivm_partial_agg_merge
    states for batch: sums/counts are commutative monoids, so the
    maintained view is independent of how the stream was sliced, which
    is exactly why production rollups can be kept fresh per-batch
    without rescanning history. Orders replay in 3 event-time-ordered
    slices (the established test-fixture replay); at 100 TB the state
    table is one row per month and each batch's fold is one tiny merge
    after a map-side partial agg of the batch."""
    import os
    import shutil
    import tempfile

    from ..streaming.events import build_time_ordered_replay

    o = t(spark, sf_dir, "orders")
    scratch = tempfile.mkdtemp(prefix="orders_ivm_")
    replay = os.path.join(scratch, "replay", "orders")
    build_time_ordered_replay(o, replay, ts_col="o_orderdate", n_slices=3)
    state_root = os.path.join(scratch, "state")
    os.makedirs(state_root, exist_ok=True)
    last_dir: list[str | None] = [None]

    def fold_batch(batch, batch_id: int):
        part = batch.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
            .alias("month")
        ).agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100)
                  .cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        if last_dir[0] is not None:
            prev = batch.sparkSession.read.parquet(last_dir[0])
            part = part.unionByName(prev).groupBy("month").agg(
                F.sum("n_orders").cast("bigint").alias("n_orders"),
                F.sum("total_cents").cast("bigint").alias("total_cents"),
            )
        nxt = os.path.join(state_root, f"state_{batch_id % 2}")
        part.write.mode("overwrite").parquet(nxt)
        last_dir[0] = nxt

    try:
        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", os.path.join(state_root, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        final = spark.read.parquet(last_dir[0]).select(
            "month",
            "n_orders",
            "total_cents",
            (
                F.col("total_cents").cast("double")
                / (F.lit(100.0) * F.col("n_orders"))
            ).alias("avg_price"),
        )
        # materialize the per-month state (bounded: one row per month in
        # the order history) so the scratch root can be deleted — the
        # returned plan must not depend on files a finally removes
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------- windowed (24h-bounded) funnel
_FUNNEL_WINDOW_US = 24 * 3600 * 1000000


@register(
    "events_funnel_windowed_24h",
    f"""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > v.v_us
        AND epoch_us(e.ts) <= v.v_us + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > c.c_us
        AND epoch_us(e.ts) <= c.c_us + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_24h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_24h,
           (SELECT CAST(COALESCE(SUM(c.c_us - v.v_us), 0) AS BIGINT)
            FROM c JOIN v ON v.user_id = c.user_id) AS sum_view_to_click_us
    """,
)
def events_funnel_windowed_24h(spark: SparkSession, sf_dir: str):
    """Conversion-window funnel: view → click within 24h of the first
    view → purchase within 24h of that click — the time-BOUNDED funnel
    product analytics actually reports (the unbounded ordered-sequence
    funnel, funnel_view_click_purchase, over-counts conversions that
    took a month). Each stage anchors on the previous stage's first
    event and admits only successors inside the window; timestamps are
    exact integer micros so the window arithmetic is engine-identical.
    All three stages key on user_id — the joins and groupBys share ONE
    exchange (the sessionize discipline), and each stage's anchor table
    is one row per user. Output is the 3-point funnel plus the exact
    view→click latency mass (integer micros, the input to a
    time-to-convert distribution)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("us") > F.col("v_us"))
            & (F.col("us") <= F.col("v_us") + _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("us") > F.col("c_us"))
            & (F.col("us") <= F.col("c_us") + _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    lat = c.join(v, "user_id").agg(
        F.coalesce(F.sum(F.col("c_us") - F.col("v_us")), F.lit(0))
        .cast("bigint")
        .alias("sum_view_to_click_us")
    )
    return (
        v.agg(F.count("*").cast("bigint").alias("n_view"))
        .crossJoin(c.agg(F.count("*").cast("bigint").alias("n_click_24h")))
        .crossJoin(
            p.agg(F.count("*").cast("bigint").alias("n_purchase_24h"))
        )
        .crossJoin(lat)
    )


# ----------------------------------- join-skew diagnostics report
@register(
    "join_skew_diagnostics",
    """
    WITH kc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id),
    agg AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt,
             CAST(arg_max(user_id, cnt) AS BIGINT) AS hottest_key,
             quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99_cnt
      FROM kc)
    SELECT n_rows, n_keys, max_cnt, hottest_key, p99_cnt,
           CAST(floor(1000000.0 * max_cnt * n_keys / n_rows) AS BIGINT)
             AS skew_ratio_fp,
           CAST((max_cnt * n_keys + n_rows - 1) // n_rows AS BIGINT)
             AS recommended_salt
    FROM agg
    """,
)
def join_skew_diagnostics(spark: SparkSession, sf_dir: str):
    """Join-key skew diagnostics — the pre-flight report that decides
    whether a shuffle key needs salting BEFORE the job runs (the
    operational front-end of the repo's skew tier: salted_join_*,
    AQE skew-join): per-key cardinality profile of events.user_id with
    max/avg skew ratio (fixed-point), the hottest key (max_by — the key
    you'd isolate or broadcast), exact p99 key size, and the recommended
    salt factor ceil(max/avg) as exact integer arithmetic
    ((max·keys + rows − 1) div rows — no float ceil). One partial-combine
    groupBy plus a 1-row aggregate: the profile costs one scan at any
    corpus size and pays for itself the first time it prevents a
    straggler task. Ties on arg_max cannot occur here only if one key is
    strictly hottest; the synthetic corpus has a unique max (asserted in
    tests), and production use would max_by on (cnt, key) — documented
    contract."""
    ev = t(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    agg = kc.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.max_by("user_id", "cnt").cast("bigint").alias("hottest_key"),
        F.percentile(dbl(F.col("cnt")), 0.99).alias("p99_cnt"),
    )
    return agg.select(
        "n_rows",
        "n_keys",
        "max_cnt",
        "hottest_key",
        "p99_cnt",
        F.floor(
            F.lit(1000000.0) * F.col("max_cnt") * F.col("n_keys")
            / F.col("n_rows")
        )
        .cast("bigint")
        .alias("skew_ratio_fp"),
        F.expr("(max_cnt * n_keys + n_rows - 1) div n_rows")
        .cast("bigint")
        .alias("recommended_salt"),
    )


# ------------------- CEP: pattern with a negative condition (no-X-between)
@register(
    "events_cep_click_after_view_no_error",
    """
    WITH marked AS (
      SELECT user_id, event_id, event_type,
             MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER w AS last_view_us,
             MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
               OVER w AS last_error_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN last_view_us IS NOT NULL
                          AND (last_error_us IS NULL
                               OR last_view_us > last_error_us)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_matches
    FROM marked WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def events_cep_click_after_view_no_error(spark: SparkSession, sf_dir: str):
    """Complex-event-processing pattern with a NEGATIVE condition —
    MATCH_RECOGNIZE's "A then B with no C between" (here: a click
    preceded by a view with no error in between), the alert shape
    sequence-funnel operators cannot express because absence is not a
    join. The relational rewrite: two running last-event-time marks
    (last view, last error) over ONE user_id window pass with an
    exclusive frame; a click matches iff last_view exists and postdates
    last_error. No self-join, no per-user loop, no state machine — one
    exchange, all predicates in codegen, exact integer micros. The
    streaming twin of this shape is the stateful sessionizer's
    applyInPandasWithState; batch-side, absence-between reduces to a
    frame comparison."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.select(
        "user_id",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        )
        .over(w)
        .alias("last_view_us"),
        F.max(
            F.when(F.col("event_type") == "error", F.unix_micros("ts"))
        )
        .over(w)
        .alias("last_error_us"),
    )
    return (
        marked.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_clicks"),
            F.sum(
                F.when(
                    F.col("last_view_us").isNotNull()
                    & (
                        F.col("last_error_us").isNull()
                        | (F.col("last_view_us") > F.col("last_error_us"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clean_matches"),
        )
    )


# ------------------------- embedding dimension health profile
@register(
    "emb_dim_variance_profile",
    """
    WITH q AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(1000000 * x) AS BIGINT)) AS qv
      FROM embeddings),
    flat AS (
      SELECT p.pos, qv[p.pos] AS v
      FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p),
    m AS (
      SELECT CAST(pos AS INT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s1,
             CAST(SUM(v * v) AS BIGINT) AS s2
      FROM flat GROUP BY pos)
    SELECT dim, n,
           CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean,
           (CAST(s2 AS DOUBLE) / n
            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / 1000000.0 / 1000000.0 AS variance
    FROM m
    """,
)
def emb_dim_variance_profile(spark: SparkSession, sf_dir: str):
    """Per-dimension embedding health profile — mean and variance of
    every coordinate, the model-ops screen that catches dead dimensions
    (variance ~ 0: wasted index bytes, a truncation candidate) and
    scale-imbalanced ones (a few dims dominating every distance). The
    parity discipline is the kmeans quantization: coordinates become
    1e-6 fixed-point BIGINTs, moments (Σv, Σv²) accumulate exactly, and
    the only float ops are the final divisions on identical integers.
    Plan: posexplode to (dim, v) narrow rows, one partial-combine
    groupBy to 64 rows — mergeable, so the same single-pass profile
    runs at any corpus size (and is the input that would choose the
    emb_truncated_topk_recall truncation point)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(F.lit(1000000) * x.cast("double")).cast(
                "bigint"
            ),
        ).alias("qv")
    )
    flat = q.select(F.posexplode("qv").alias("pos0", "v")).select(
        (F.col("pos0") + 1).cast("int").alias("dim"), "v"
    )
    m = flat.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("s2"),
    )
    mean_i = F.col("s1").cast("double") / F.col("n")
    return m.select(
        "dim",
        "n",
        (mean_i / F.lit(1000000.0)).alias("mean"),
        (
            (F.col("s2").cast("double") / F.col("n") - mean_i * mean_i)
            / F.lit(1000000.0)
            / F.lit(1000000.0)
        ).alias("variance"),
    )


# --------------------------- sweep-line: open-order backlog series
@register(
    "orders_backlog_sweepline",
    """
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             CAST(MAX(l.l_shipdate) AS DATE) AS end_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)),
    deltas AS (
      SELECT start_day AS day, CAST(1 AS BIGINT) AS d FROM spans
      UNION ALL
      SELECT end_day AS day, CAST(-1 AS BIGINT) AS d FROM spans),
    daily AS (
      SELECT day, CAST(SUM(d) AS BIGINT) AS delta
      FROM deltas GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day, delta,
           CAST(SUM(delta) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_backlog
    FROM daily
    """,
)
def orders_backlog_sweepline(spark: SparkSession, sf_dir: str):
    """Open-order backlog over time by SWEEP-LINE: each order
    contributes +1 at placement and -1 at its last shipment, and the
    running sum of the daily deltas IS the number of concurrently open
    orders — the classic interval-concurrency rewrite that replaces the
    quadratic day×interval containment join (or a per-day correlated
    count) with one groupBy and one running window. The operational
    'how deep is the fulfilment queue' series, and the same shape
    answers any concurrency question (active sessions, concurrent
    rentals, peak occupancy). The span derivation is one orderkey
    groupBy; deltas collapse to the daily grain before the (tiny,
    date-ordered) global window — the only single-partition stage runs
    over #days rows, not orders. Exact integers throughout."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("start_day"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("end_day"))
    )
    deltas = spans.select(
        F.col("start_day").alias("day"), F.lit(1).cast("bigint").alias("d")
    ).unionAll(
        spans.select(
            F.col("end_day").alias("day"), F.lit(-1).cast("bigint").alias("d")
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("d").cast("bigint").alias("delta")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        F.sum("delta").over(w).cast("bigint").alias("open_backlog"),
    )


# ------------------- polymorphic UDTF (analyze-time dynamic schema)
_SPLIT_N = 3


@register(
    "udtf_dynamic_split_words",
    f"""
    SELECT p_partkey,
           {", ".join(
               f"string_split(p_name, ' ')[{i + 1}] AS word_{i + 1}"
               for i in range(_SPLIT_N)
           )}
    FROM part
    """,
)
def udtf_dynamic_split_words(spark: SparkSession, sf_dir: str):
    """Polymorphic Python UDTF whose OUTPUT SCHEMA is computed at
    analyze time from a literal argument (Spark 4's UDTF ``analyze()``
    protocol — SPARK-44503) — the last member of the repo's UDF matrix:
    scalar/grouped-agg pandas UDFs, grouped-map, mapInPandas,
    applyInPandasWithState (both timeout modes), mapInArrow, and
    static- AND dynamic-schema UDTFs. ``split_words(name, N)`` fans a
    string into word_1..word_N columns; N=2 and N=5 produce genuinely
    different schemas from one registration, which a static returnType
    cannot express. The eval path is per-row Python (the documented
    slow path — the JVM split() is the hot-path form); the value here
    is API parity, and the oracle is the JVM-side split indexed in SQL,
    so the gate also proves the Python fan-out agrees with the
    declarative rewrite."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitWords:
        @staticmethod
        def analyze(
            s: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"word_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, s: str, n: int):
            words = (s or "").split(" ")
            yield tuple(
                words[i] if i < len(words) else None for i in range(int(n))
            )

    spark.udtf.register("split_words_dyn", udtf(SplitWords))
    p = t(spark, sf_dir, "part")
    p.createOrReplaceTempView("part_udtf_view")
    return spark.sql(
        f"""
        SELECT p.p_partkey, s.*
        FROM part_udtf_view p,
             LATERAL split_words_dyn(p.p_name, {_SPLIT_N}) s
        """
    )


# --------------------- two-sample Kolmogorov-Smirnov (exact integer)
@register(
    "lineitem_ks_two_sample",
    """
    WITH a AS (SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'A'),
    b AS (SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'),
    pts AS (
      SELECT v,
             CAST(COUNT(*) FILTER (WHERE src = 1) AS BIGINT) AS ca,
             CAST(COUNT(*) FILTER (WHERE src = 2) AS BIGINT) AS cb
      FROM (SELECT v, 1 AS src FROM a UNION ALL SELECT v, 2 AS src FROM b)
      GROUP BY v),
    cum AS (
      SELECT v,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n2
      FROM pts
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    d AS (
      SELECT v, n1, n2, abs(cum_a * n2 - cum_b * n1) AS d_scaled,
             ROW_NUMBER() OVER (ORDER BY abs(cum_a * n2 - cum_b * n1) DESC,
                                v) AS rk
      FROM cum)
    SELECT n1, n2, d_scaled, v AS at_value,
           CAST(floor(1000000.0 * d_scaled / (n1 * n2)) AS BIGINT) AS ks_fp
    FROM d WHERE rk = 1
    """,
)
def lineitem_ks_two_sample(spark: SparkSession, sf_dir: str):
    """Two-sample Kolmogorov-Smirnov statistic between the A and R
    return-flag quantity distributions — THE nonparametric
    distribution-drift test (train/serve skew, cohort shift) computed
    EXACTLY: D = max|F1 - F2| over the merged support, with the CDFs
    cross-multiplied to integers (|cum_a·n2 − cum_b·n1|) so the argmax
    needs no float tolerance and both engines agree bit-for-bit. Plan:
    one value-grain groupBy with conditional counts (partial combine
    collapses the fact table to ≤|support| rows — 50 here), one
    running window over that tiny spine (single-partition by design,
    bounded by support size, NOT data size), one rank-1 filter. The
    chi-square drift monitor (orders_priority_drift_chi2) covers
    categorical columns; this covers ordered/numeric ones."""
    li = t(spark, sf_dir, "lineitem")
    pts = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = pts.agg(
        F.sum("ca").cast("bigint").alias("n1"),
        F.sum("cb").cast("bigint").alias("n2"),
    )
    cum = (
        pts.withColumn("cum_a", F.sum("ca").over(w).cast("bigint"))
        .withColumn("cum_b", F.sum("cb").over(w).cast("bigint"))
        .crossJoin(F.broadcast(totals))
    )
    d = cum.select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1")
        ).alias("d_scaled"),
    )
    w_rk = Window.orderBy(F.col("d_scaled").desc(), F.col("v"))
    return (
        d.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select(
            "n1",
            "n2",
            "d_scaled",
            F.col("v").alias("at_value"),
            F.floor(
                F.lit(1000000.0) * F.col("d_scaled")
                / (F.col("n1") * F.col("n2"))
            )
            .cast("bigint")
            .alias("ks_fp"),
        )
    )


# ------------------- revenue bridge: mix vs growth decomposition
@register(
    "nation_mix_shift_decomposition",
    """
    WITH r0 AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) = 1996 GROUP BY c.c_nationkey),
    r1 AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) = 1997 GROUP BY c.c_nationkey),
    tot AS (
      SELECT (SELECT CAST(SUM(cents) AS BIGINT) FROM r0) AS t0,
             (SELECT CAST(SUM(cents) AS BIGINT) FROM r1) AS t1),
    m AS (
      SELECT COALESCE(r0.nk, r1.nk) AS nk,
             COALESCE(r0.cents, 0) AS c0, COALESCE(r1.cents, 0) AS c1
      FROM r0 FULL OUTER JOIN r1 ON r0.nk = r1.nk)
    SELECT n.n_name,
           m.c0 AS r0_cents, m.c1 AS r1_cents,
           m.c1 - m.c0 AS delta_cents,
           CAST(CAST(m.c1 AS HUGEINT) * t.t0
                - CAST(m.c0 AS HUGEINT) * t.t1 AS VARCHAR)
             AS mix_scaled,
           CAST(CAST(m.c1 AS HUGEINT) * (t.t1 - t.t0) AS VARCHAR)
             AS growth_scaled
    FROM m CROSS JOIN tot t JOIN nation n ON n.n_nationkey = m.nk
    """,
)
def nation_mix_shift_decomposition(spark: SparkSession, sf_dir: str):
    """Revenue-bridge decomposition: each nation's 1996→1997 revenue
    change splits EXACTLY into a mix effect (share shift) and a growth
    effect (market growth at the nation's new share) — the BI waterfall
    behind every 'why did revenue move' review. The float-free trick:
    scale both effects by T1 (mix = c1·T0 − c0·T1, growth = c1·(T1−T0))
    so mix + growth = Δ·T1 as an exact DECIMAL(38,0) identity per
    nation (cents × yearly-total-cents exceeds BIGINT; 128-bit exact
    integers carry it — HUGEINT on the oracle side), and
    Σ mix = 0 / Σ growth = (T1−T0)·T1 globally — conservation laws a
    test can assert to the last cent, impossible with floored float
    shares. Plan: two pruned scans partial-agg to nation grain, a
    25-row full-outer merge, 1-row totals broadcast, broadcast nation
    dim. At 100 TB only the two fact scans touch data."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")

    def rev(yr: int):
        return (
            o.filter(F.year("o_orderdate") == yr)
            .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                  o["o_custkey"] == c["c_custkey"])
            .groupBy(F.col("c_nationkey").alias("nk"))
            .agg(
                F.sum((dec("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("cents")
            )
        )

    r0 = rev(1996).withColumnRenamed("cents", "c0")
    r1 = rev(1997).withColumnRenamed("cents", "c1")
    m = (
        r0.join(r1, "nk", "full_outer")
        .select(
            "nk",
            F.coalesce("c0", F.lit(0)).cast("bigint").alias("c0"),
            F.coalesce("c1", F.lit(0)).cast("bigint").alias("c1"),
        )
    )
    tot = m.agg(
        F.sum("c0").cast("bigint").alias("t0"),
        F.sum("c1").cast("bigint").alias("t1"),
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .join(F.broadcast(n), m["nk"] == n["n_nationkey"])
        .select(
            "n_name",
            F.col("c0").alias("r0_cents"),
            F.col("c1").alias("r1_cents"),
            (F.col("c1") - F.col("c0")).alias("delta_cents"),
            # cents x yearly-total-cents exceeds BIGINT — exact DECIMAL(38)
            (
                F.col("c1").cast("decimal(38,0)")
                * F.col("t0").cast("decimal(38,0)")
                - F.col("c0").cast("decimal(38,0)")
                * F.col("t1").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")  # 128-bit exact digits; strings hash-compare
            .alias("mix_scaled"),
            (
                F.col("c1").cast("decimal(38,0)")
                * (F.col("t1") - F.col("t0")).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("growth_scaled"),
        )
    )


# ----------------------- Laspeyres price index (fixed-basket, per brand)
@register(
    "part_laspeyres_price_index",
    """
    WITH p0 AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS ext0,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty0
      FROM lineitem l WHERE year(l.l_shipdate) = 1996
      GROUP BY l.l_partkey),
    p1 AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS ext1,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty1
      FROM lineitem l WHERE year(l.l_shipdate) = 1997
      GROUP BY l.l_partkey),
    j AS (
      SELECT p.p_brand,
             CAST(SUM((1000000 * p1.ext1 * p0.qty0) // p1.qty1) AS BIGINT)
               AS num_fp,
             CAST(SUM(1000000 * p0.ext0) AS BIGINT) AS den_fp,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM p0 JOIN p1 USING (l_partkey)
      JOIN part p ON p.p_partkey = p0.l_partkey
      GROUP BY p.p_brand)
    SELECT p_brand, n_parts,
           CAST(floor(1000000.0 * num_fp / den_fp) AS BIGINT) AS index_fp
    FROM j
    """,
)
def part_laspeyres_price_index(spark: SparkSession, sf_dir: str):
    """Laspeyres fixed-basket price index per brand (1996 basket priced
    at 1997 unit prices over its 1996 cost) — the inflation/pricing
    analytics staple. Exactness discipline: the per-part term
    p1·q0 = ext1·qty0/qty1 is computed as INTEGER division of
    1e6-scaled BIGINTs ((1e6·ext1·qty0) div qty1 — both engines'
    integer div, no double in sight until the final ratio), so the
    per-brand sums are bit-identical and the index is a fixed-point
    floor of one terminal division. Plan: two pruned-year partial aggs
    to part grain, one part-keyed join (co-partitioned), broadcast part
    dim, brand rollup. Only parts traded in BOTH periods enter —
    the standard matched-basket convention."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")

    def per_part(yr: int, ext: str, qty: str):
        return (
            li.filter(F.year("l_shipdate") == yr)
            .groupBy("l_partkey")
            .agg(
                F.sum((dec("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias(ext),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias(qty),
            )
        )

    p0 = per_part(1996, "ext0", "qty0")
    p1 = per_part(1997, "ext1", "qty1")
    j = (
        p0.join(p1, "l_partkey")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.expr("(1000000 * ext1 * qty0) div qty1")
            )
            .cast("bigint")
            .alias("num_fp"),
            F.sum(F.lit(1000000) * F.col("ext0"))
            .cast("bigint")
            .alias("den_fp"),
            F.count("*").cast("bigint").alias("n_parts"),
        )
    )
    return j.select(
        "p_brand",
        "n_parts",
        F.floor(F.lit(1000000.0) * F.col("num_fp") / F.col("den_fp"))
        .cast("bigint")
        .alias("index_fp"),
    )


# --------------------------- rule-based bot/abuse detection screen
_BOT_BURST_10MIN = 12
_BOT_ERROR_SHARE_FP = 300000  # 30%


@register(
    "events_bot_detection_rules",
    f"""
    WITH burst AS (
      SELECT user_id, event_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
               AS in_10min
      FROM events),
    per_user AS (
      SELECT e.user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(floor(1000000.0
                        * SUM(CASE WHEN e.event_type = 'error'
                                   THEN 1 ELSE 0 END) / COUNT(*))
                  AS BIGINT) AS error_share_fp,
             CAST(MAX(b.in_10min) AS BIGINT) AS max_burst_10min
      FROM events e JOIN burst b ON b.event_id = e.event_id
      GROUP BY e.user_id)
    SELECT user_id, n_events, error_share_fp, max_burst_10min,
           CAST((CASE WHEN max_burst_10min >= {_BOT_BURST_10MIN}
                      THEN 1 ELSE 0 END)
                + (CASE WHEN error_share_fp >= {_BOT_ERROR_SHARE_FP}
                        THEN 2 ELSE 0 END) AS INT) AS flags
    FROM per_user
    WHERE max_burst_10min >= {_BOT_BURST_10MIN}
       OR error_share_fp >= {_BOT_ERROR_SHARE_FP}
    """,
)
def events_bot_detection_rules(spark: SparkSession, sf_dir: str):
    """Rule-based bot/abuse screen — the traffic-cleaning gate a
    training-data pipeline runs before user-event data is trusted
    (rate-limit bursts and error-storm clients poison engagement
    features and event-derived labels): flags users whose 10-minute
    event burst exceeds {_BOT_BURST_10MIN} or whose error share exceeds
    30%, with a composed bitmask (bit 1 = burst, bit 2 = errors) so
    downstream consumers can route by reason. The burst is a RANGE
    event-time frame over the user_id exchange (the
    window_range_frame_5min machinery); the per-user rollup reuses the
    same partitioning; shares are fixed-point. At 100 TB this is one
    window + one groupBy on the sessionization exchange — the cheapest
    possible shape for a per-entity behavioral screen."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600000000, 0)
    )
    burst = ev.select(
        "user_id",
        "event_type",
        F.count("*").over(w).alias("in_10min"),
    )
    per_user = burst.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            / F.count("*")
        )
        .cast("bigint")
        .alias("error_share_fp"),
        F.max("in_10min").cast("bigint").alias("max_burst_10min"),
    )
    return per_user.filter(
        (F.col("max_burst_10min") >= _BOT_BURST_10MIN)
        | (F.col("error_share_fp") >= _BOT_ERROR_SHARE_FP)
    ).select(
        "user_id",
        "n_events",
        "error_share_fp",
        "max_burst_10min",
        (
            F.when(F.col("max_burst_10min") >= _BOT_BURST_10MIN, 1).otherwise(
                0
            )
            + F.when(
                F.col("error_share_fp") >= _BOT_ERROR_SHARE_FP, 2
            ).otherwise(0)
        )
        .cast("int")
        .alias("flags"),
    )


# ----------------------- customer spend-decile migration matrix
@register(
    "customer_decile_migration",
    """
    WITH s0 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
    s1 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey),
    both_years AS (
      SELECT s0.o_custkey, s0.cents AS c0, s1.cents AS c1
      FROM s0 JOIN s1 ON s1.o_custkey = s0.o_custkey),
    ranked AS (
      SELECT o_custkey,
             CAST(NTILE(10) OVER (ORDER BY c0, o_custkey) AS INT) AS d0,
             CAST(NTILE(10) OVER (ORDER BY c1, o_custkey) AS INT) AS d1
      FROM both_years)
    SELECT d0 AS decile_1996, d1 AS decile_1997,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM ranked GROUP BY d0, d1
    """,
)
def customer_decile_migration(spark: SparkSession, sf_dir: str):
    """Spend-decile migration matrix: where each customer's 1996 spend
    decile lands in 1997 — the mobility/churn table behind 'are our top
    customers staying on top' (strong diagonal = sticky value tiers;
    mass below it = churn risk). Deciles use NTILE over the total order
    (spend, custkey) so bucket boundaries are deterministic in both
    engines — a bare spend ordering would tie-break arbitrarily and
    break cross-engine parity. Plan: two pruned year scans partial-agg
    to customer grain, one customer join (persisted — each ranking
    scans it for cut points, counts, and the final pass), two
    exact_ntile rankings (range-bucketed, PARTITIONED windows — no
    single-partition sort, plan-guarded in tests/test_plans.py), and a
    ≤100-row rollup."""
    o = t(spark, sf_dir, "orders")

    def spend(yr: int, col: str):
        return (
            o.filter(F.year("o_orderdate") == yr)
            .groupBy("o_custkey")
            .agg(
                F.sum((dec("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias(col)
            )
        )

    both = spend(1996, "c0").join(spend(1997, "c1"), "o_custkey").persist()
    ranked = exact_ntile_multi(
        both,
        10,
        [
            (F.col("c0"), ["o_custkey"], "decile_1996"),
            (F.col("c1"), ["o_custkey"], "decile_1997"),
        ],
    ).select("decile_1996", "decile_1997")
    return ranked.groupBy("decile_1996", "decile_1997").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


# ------------------- two-way ANOVA sum-of-squares decomposition
@register(
    "lineitem_anova_two_way",
    """
    WITH piv AS (
      SELECT CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ssq,
             CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a_f,
             CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_a_f,
             CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a_o,
             CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_a_o,
             CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_n_f,
             CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_n_f,
             CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_n_o,
             CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_n_o,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_r_f,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_r_f,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s_r_o,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_r_o
      FROM lineitem),
    terms AS (
      SELECT ssq,
             (s_a_f + s_a_o + s_n_f + s_n_o + s_r_f + s_r_o) AS t,
             (n_a_f + n_a_o + n_n_f + n_n_o + n_r_f + n_r_o) AS n_tot,
             ((CASE WHEN n_a_f > 0 THEN CAST(s_a_f AS DOUBLE) * s_a_f / n_a_f ELSE 0.0 END) + (CASE WHEN n_a_o > 0 THEN CAST(s_a_o AS DOUBLE) * s_a_o / n_a_o ELSE 0.0 END) + (CASE WHEN n_n_f > 0 THEN CAST(s_n_f AS DOUBLE) * s_n_f / n_n_f ELSE 0.0 END) + (CASE WHEN n_n_o > 0 THEN CAST(s_n_o AS DOUBLE) * s_n_o / n_n_o ELSE 0.0 END) + (CASE WHEN n_r_f > 0 THEN CAST(s_r_f AS DOUBLE) * s_r_f / n_r_f ELSE 0.0 END) + (CASE WHEN n_r_o > 0 THEN CAST(s_r_o AS DOUBLE) * s_r_o / n_r_o ELSE 0.0 END)) AS mc,
             ((CASE WHEN (n_a_f + n_a_o) > 0 THEN CAST((s_a_f + s_a_o) AS DOUBLE) * (s_a_f + s_a_o) / (n_a_f + n_a_o) ELSE 0.0 END) + (CASE WHEN (n_n_f + n_n_o) > 0 THEN CAST((s_n_f + s_n_o) AS DOUBLE) * (s_n_f + s_n_o) / (n_n_f + n_n_o) ELSE 0.0 END) + (CASE WHEN (n_r_f + n_r_o) > 0 THEN CAST((s_r_f + s_r_o) AS DOUBLE) * (s_r_f + s_r_o) / (n_r_f + n_r_o) ELSE 0.0 END)) AS ma,
             ((CASE WHEN (n_a_f + n_n_f + n_r_f) > 0 THEN CAST((s_a_f + s_n_f + s_r_f) AS DOUBLE) * (s_a_f + s_n_f + s_r_f) / (n_a_f + n_n_f + n_r_f) ELSE 0.0 END) + (CASE WHEN (n_a_o + n_n_o + n_r_o) > 0 THEN CAST((s_a_o + s_n_o + s_r_o) AS DOUBLE) * (s_a_o + s_n_o + s_r_o) / (n_a_o + n_n_o + n_r_o) ELSE 0.0 END)) AS mb
      FROM piv)
    SELECT ssq - CAST(t AS DOUBLE) * t / n_tot AS ss_total,
           ma - CAST(t AS DOUBLE) * t / n_tot AS ss_a,
           mb - CAST(t AS DOUBLE) * t / n_tot AS ss_b,
           mc - ma - mb + CAST(t AS DOUBLE) * t / n_tot AS ss_interaction,
           ssq - mc AS ss_error
    FROM terms
    """,
)
def lineitem_anova_two_way(spark: SparkSession, sf_dir: str):
    """Two-way ANOVA sum-of-squares decomposition of quantity by
    (returnflag x linestatus) — the factorial-effects screen that says
    which factor (or their interaction) actually moves a metric, the
    statistical step past per-group means. Parity discipline, revised
    after a 1e-9 drift in the first cut: every (cell, margin, total)
    moment comes from conditional sums over the KNOWN category grid in
    ONE aggregate row, and the s²/n terms are summed in a FIXED
    lexicographic expression order — a SUM over a cells table would let
    each engine (and each Spark partitioning) add the doubles in its
    own order. All moments are exact BIGINTs; empty cells contribute
    0.0 by CASE guard; the fact table is scanned exactly once and the
    partials are mergeable."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    aggs = [
        F.sum(q * q).cast("bigint").alias("ssq"),
    ]
    for a in ['A', 'N', 'R']:
        for b in ['F', 'O']:
            cond = (F.col("l_returnflag") == a) & (F.col("l_linestatus") == b)
            suf = f"{a.lower()}_{b.lower()}"
            aggs.append(
                F.sum(F.when(cond, q).otherwise(0))
                .cast("bigint")
                .alias(f"s_{suf}")
            )
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{suf}")
            )
    piv = li.agg(*aggs)
    terms = piv.selectExpr(
        "ssq",
        "(s_a_f + s_a_o + s_n_f + s_n_o + s_r_f + s_r_o) AS t",
        "(n_a_f + n_a_o + n_n_f + n_n_o + n_r_f + n_r_o) AS n_tot",
        """((CASE WHEN n_a_f > 0 THEN CAST(s_a_f AS DOUBLE) * s_a_f / n_a_f ELSE 0.0 END) + (CASE WHEN n_a_o > 0 THEN CAST(s_a_o AS DOUBLE) * s_a_o / n_a_o ELSE 0.0 END) + (CASE WHEN n_n_f > 0 THEN CAST(s_n_f AS DOUBLE) * s_n_f / n_n_f ELSE 0.0 END) + (CASE WHEN n_n_o > 0 THEN CAST(s_n_o AS DOUBLE) * s_n_o / n_n_o ELSE 0.0 END) + (CASE WHEN n_r_f > 0 THEN CAST(s_r_f AS DOUBLE) * s_r_f / n_r_f ELSE 0.0 END) + (CASE WHEN n_r_o > 0 THEN CAST(s_r_o AS DOUBLE) * s_r_o / n_r_o ELSE 0.0 END)) AS mc""",
        """((CASE WHEN (n_a_f + n_a_o) > 0 THEN CAST((s_a_f + s_a_o) AS DOUBLE) * (s_a_f + s_a_o) / (n_a_f + n_a_o) ELSE 0.0 END) + (CASE WHEN (n_n_f + n_n_o) > 0 THEN CAST((s_n_f + s_n_o) AS DOUBLE) * (s_n_f + s_n_o) / (n_n_f + n_n_o) ELSE 0.0 END) + (CASE WHEN (n_r_f + n_r_o) > 0 THEN CAST((s_r_f + s_r_o) AS DOUBLE) * (s_r_f + s_r_o) / (n_r_f + n_r_o) ELSE 0.0 END)) AS ma""",
        """((CASE WHEN (n_a_f + n_n_f + n_r_f) > 0 THEN CAST((s_a_f + s_n_f + s_r_f) AS DOUBLE) * (s_a_f + s_n_f + s_r_f) / (n_a_f + n_n_f + n_r_f) ELSE 0.0 END) + (CASE WHEN (n_a_o + n_n_o + n_r_o) > 0 THEN CAST((s_a_o + s_n_o + s_r_o) AS DOUBLE) * (s_a_o + s_n_o + s_r_o) / (n_a_o + n_n_o + n_r_o) ELSE 0.0 END)) AS mb""",
    )
    cf = F.col("t").cast("double") * F.col("t") / F.col("n_tot")
    return terms.select(
        (F.col("ssq") - cf).alias("ss_total"),
        (F.col("ma") - cf).alias("ss_a"),
        (F.col("mb") - cf).alias("ss_b"),
        (F.col("mc") - F.col("ma") - F.col("mb") + cf).alias(
            "ss_interaction"
        ),
        (F.col("ssq") - F.col("mc")).alias("ss_error"),
    )


# ---------------------- difference-in-differences experiment readout
_DID_CUT = "2024-01-15"


@register(
    "events_diff_in_differences",
    f"""
    WITH cell AS (
      SELECT CAST(e.user_id % 2 = 0 AS INT) AS treated,
             CASE WHEN e.ts >= TIMESTAMP '{_DID_CUT}' THEN 1 ELSE 0 END
               AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events e
      WHERE e.event_type = 'purchase'
      GROUP BY treated, post),
    m AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0
                 THEN CAST(cents AS DOUBLE) / n / 100.0 END) AS m_t_pre,
        MAX(CASE WHEN treated = 1 AND post = 1
                 THEN CAST(cents AS DOUBLE) / n / 100.0 END) AS m_t_post,
        MAX(CASE WHEN treated = 0 AND post = 0
                 THEN CAST(cents AS DOUBLE) / n / 100.0 END) AS m_c_pre,
        MAX(CASE WHEN treated = 0 AND post = 1
                 THEN CAST(cents AS DOUBLE) / n / 100.0 END) AS m_c_post
      FROM cell)
    SELECT m_t_pre, m_t_post, m_c_pre, m_c_post,
           (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_estimate
    FROM m
    """,
)
def events_diff_in_differences(spark: SparkSession, sf_dir: str):
    """Difference-in-differences experiment readout: purchase-value
    means for the treatment arm (deterministic hash assignment —
    user_id parity stands in for the experiment's bucketing hash) vs
    control, before vs after the cutover, and the DiD estimate that
    nets out both the group baseline and the secular trend — the
    standard experiment readout when pre-period imbalance is possible.
    Cells are exact (count, cents) BIGINT partials from ONE scan; the
    four means and the estimate are fixed double expressions of those
    integers — engine-identical. At 100 TB a real assignment column or
    broadcast allowlist replaces the parity predicate; the 4-cell
    aggregate stays the cheapest possible experiment summary."""
    ev = t(spark, sf_dir, "events")
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
            F.when(
                F.col("ts") >= F.lit(_DID_CUT).cast("timestamp"), 1
            )
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((dec("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    mean = F.col("cents").cast("double") / F.col("n") / F.lit(100.0)
    piv = cell.select("treated", "post", mean.alias("m"))

    def cell_mean(tr: int, po: int, name: str):
        # conditional pivot from the single ≤4-row cell table: a missing
        # (treated, post) cell surfaces as NULL — identical to the
        # oracle's conditional MAX, with no 0-row crossJoin collapse
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), F.col("m"))
        ).alias(name)

    return (
        piv.agg(
            cell_mean(1, 0, "m_t_pre"),
            cell_mean(1, 1, "m_t_post"),
            cell_mean(0, 0, "m_c_pre"),
            cell_mean(0, 1, "m_c_post"),
        )
        .select(
            "m_t_pre",
            "m_t_post",
            "m_c_pre",
            "m_c_post",
            (
                (F.col("m_t_post") - F.col("m_t_pre"))
                - (F.col("m_c_post") - F.col("m_c_pre"))
            ).alias("did_estimate"),
        )
    )


# --------------------------- tokenizer training: first BPE merge
_BPE_TOPK = 20


@register(
    "docs_bpe_first_merge",
    f"""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w != '' GROUP BY w),
    pairs AS (
      SELECT unnest(list_transform(range(length(w) - 1),
                    i -> w[i + 1 : i + 2])) AS pair, cnt
      FROM words WHERE length(w) >= 2),
    agg AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
      FROM pairs GROUP BY pair)
    SELECT pair, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair)
                AS INT) AS rank
    FROM agg
    QUALIFY rank <= {_BPE_TOPK}
    """,
)
def docs_bpe_first_merge(spark: SparkSession, sf_dir: str):
    """The first merge step of BPE tokenizer training: count adjacent
    character pairs across the corpus weighted by word frequency and
    rank the merge candidates — the inner loop of training a tokenizer
    ON the corpus the engine curates (distributed BPE = this exact
    count-and-rank per round over an evolving symbol vocabulary). The
    scale-critical rewrite: pair counting runs over the DISTINCT-WORD
    table with multiplicities (words groupBy first), so a word
    appearing a million times contributes its bigrams once times its
    count — corpus size affects only the word-count groupBy, which is
    the canonical partial-combine shape. Bigrams come from 1-based
    substring arithmetic identical in both engines; ties rank
    lexicographically."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "cnt",
        )
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("cnt").cast("bigint").alias("n_occurrences")
    )
    # rank() == row_number() under the pair tie-break; rank() additionally
    # gets the map-side WindowGroupLimit top-k prune (see docs_bm25_topk)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (
        agg.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") <= _BPE_TOPK)
        .withColumn("rank", F.col("rank").cast("int"))
    )
