"""Large-pipeline operators: CDC snapshot diff, range/band join,
multi-resolution rollup, sequence packing, composed quality gates, and
embedding centroids.

These extend the training-data-pipeline surface (SURVEY §2C) with the
operations a 100 TB ingest actually runs between the reference's extract
stage and model consumption. Inputs are synthesized deterministically from
the driver testdata so both engines see identical data.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dbl, dec, t
from ..operators.ranking import exact_ntile, exact_ntile_multi, exact_prefix_sum

# ------------------------------------------------------ CDC snapshot diff
@register(
    "snapshot_diff_customers",
    """
    WITH old AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
    new AS (
      -- deterministic second snapshot: drop %10 keys, bump %7 balances,
      -- insert shifted copies of %13 keys
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0
                  THEN CAST(c_acctbal AS DECIMAL(12,2)) + 100
                  ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS bal
      FROM customer WHERE c_custkey % 10 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, CAST(c_acctbal AS DECIMAL(12,2))
      FROM customer WHERE c_custkey % 13 = 0)
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           CAST(o.bal AS DOUBLE) AS old_bal,
           CAST(n.bal AS DOUBLE) AS new_bal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL OR o.bal <> n.bal
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str):
    """CDC between two table snapshots without a log: one full outer join
    on the key, rows classified added/removed/changed (unchanged rows are
    dropped — the diff output is change-volume-sized, not table-sized).
    Both sides shuffle-partition on the same key, so the join co-locates;
    at 100 TB this is the standard snapshot-reconciliation shape and the
    diff feeds a MERGE. Balances compare in DECIMAL (exact)."""
    c = t(spark, sf_dir, "customer")
    old = c.select("c_custkey", dec("c_acctbal").alias("bal"))
    new = (
        c.filter(F.col("c_custkey") % 10 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, dec("c_acctbal") + F.lit(100)
            )
            .otherwise(dec("c_acctbal"))
            .alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                dec("c_acctbal").alias("bal"),
            )
        )
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    change = (
        F.when(F.col("o.c_custkey").isNull(), F.lit("added"))
        .when(F.col("n.c_custkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias(
                "c_custkey"
            ),
            change.alias("change_type"),
            dbl(F.col("o.bal")).alias("old_bal"),
            dbl(F.col("n.bal")).alias("new_bal"),
        )
        .filter(
            F.col("old_bal").isNull()
            | F.col("new_bal").isNull()
            | (F.col("old_bal") != F.col("new_bal"))
        )
    )


# ------------------------------------------------------- range/band join
@register(
    "range_band_join_orders",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('micro', 0.0, 50000.0), ('small', 50000.0, 150000.0),
             ('mid', 150000.0, 300000.0), ('large', 300000.0, 1e18))
    SELECT b.band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def range_band_join_orders(spark: SparkSession, sf_dir: str):
    """Numeric range (band) join: every fact row lands in the band whose
    [lo, hi) interval contains it. The band table is tiny, so the non-equi
    condition plans as a broadcast nested-loop — each fact row tests ~|bands|
    predicates JVM-side, which is the right physical strategy (an equi-join
    is impossible without materializing the containment). For monotone
    fixed-width bands you'd precompute a bucket key instead (see
    histogram_totalprice); this operator is the general arbitrary-interval
    form."""
    bands = spark.createDataFrame(
        [
            ("micro", 0.0, 50_000.0),
            ("small", 50_000.0, 150_000.0),
            ("mid", 150_000.0, 300_000.0),
            ("large", 300_000.0, 1e18),
        ],
        ["band", "lo", "hi"],
    )
    o = t(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            dbl(F.sum(dec("o_totalprice"))).alias("total"),
        )
    )


# ------------------------------------------- multi-resolution time rollup
@register(
    "rollup_multi_resolution",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_start,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(12,2))) AS total_dec
      FROM events GROUP BY 1),
    daily AS (
      SELECT date_trunc('day', bucket_start) AS bucket_start,
             CAST(SUM(n) AS BIGINT) AS n, SUM(total_dec) AS total_dec
      FROM hourly GROUP BY 1)
    SELECT 'hour' AS resolution, bucket_start, n,
           CAST(total_dec AS DOUBLE) AS total_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, bucket_start, n,
           CAST(total_dec AS DOUBLE) AS total_value
    FROM daily
    """,
)
def rollup_multi_resolution(spark: SparkSession, sf_dir: str):
    """Hypertable-style cascading rollup: the day resolution aggregates the
    HOURLY aggregate, not the raw facts — the continuous-aggregate pattern
    (one fact scan total; each coarser level reads the finer one, which is
    ~24x smaller). Decimal partials re-aggregate exactly, so the cascade is
    bit-equal to aggregating raw data. At 100 TB the hourly table is what
    you persist; daily/monthly are cheap derivations."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).alias("total_dec"),
        )
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "bucket_start").alias("bucket_start"))
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total_dec").alias("total_dec"),
        )
    )
    out_h = hourly.select(
        F.lit("hour").alias("resolution"),
        "bucket_start",
        "n",
        dbl(F.col("total_dec")).alias("total_value"),
    )
    out_d = daily.select(
        F.lit("day").alias("resolution"),
        "bucket_start",
        "n",
        dbl(F.col("total_dec")).alias("total_value"),
    )
    return out_h.unionByName(out_d)


# ------------------------------------------------------ sequence packing
PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "docs_pack_sequences",
    f"""
    WITH counted AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM counted)
    SELECT lang,
           -- floor, not CAST: DuckDB CAST(double AS BIGINT) rounds-to-nearest
           CAST(floor((cum_tokens - n_tokens) / {PACK_BUDGET}.0) AS BIGINT)
             AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM cum GROUP BY lang, pack_id
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str):
    """Training-sequence packing (concat-then-chunk): documents are laid
    out in deterministic id order within each language shard, and a doc's
    pack is its starting offset divided by the token budget — the
    concatenate-everything-then-cut-fixed-windows packing LLM pipelines use
    (docs may straddle a boundary; the tokenizer's chunker splits them).
    The window partitions by lang, so there is NO global single-partition
    sort — at 100 TB the shard key is whatever balances the corpus
    (lang×source×hash-bucket); the per-shard plan is unchanged."""
    from ..llm.text import token_count_expr

    d = t(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "lang", token_count_expr(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counted.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        cum.withColumn(
            "pack_id",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / PACK_BUDGET
            ).cast("bigint"),
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        )
    )


# ---------------------------------------------- composed quality gating
@register(
    "docs_gopher_filter",
    """
    WITH m AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS n_tokens,
             length(text) AS n_chars,
             length(text)
               - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
      FROM documents),
    gated AS (
      SELECT doc_id, lang, n_tokens,
             CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1 ELSE 0 END AS pass_len,
             CASE WHEN 5 * n_alpha >= 3 * GREATEST(n_chars, 1) THEN 1 ELSE 0 END AS pass_alpha,
             CASE WHEN 5 * n_punct <= GREATEST(n_chars, 1) THEN 1 ELSE 0 END AS pass_punct,
             CASE WHEN n_alpha BETWEEN 2 * n_tokens AND 12 * n_tokens
                  THEN 1 ELSE 0 END AS pass_wordlen
      FROM m)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(pass_len * pass_alpha * pass_punct * pass_wordlen)
                AS BIGINT) AS n_survivors,
           CAST(SUM(pass_len) AS BIGINT) AS pass_len,
           CAST(SUM(pass_alpha) AS BIGINT) AS pass_alpha,
           CAST(SUM(pass_punct) AS BIGINT) AS pass_punct,
           CAST(SUM(pass_wordlen) AS BIGINT) AS pass_wordlen
    FROM gated GROUP BY lang
    """,
)
def docs_gopher_filter(spark: SparkSession, sf_dir: str):
    """Gopher-style composed quality gating: four independent rule gates
    (length band, alpha ratio, punctuation density, mean word length) with
    a per-language survival report — the per-rule pass counts are what you
    tune thresholds against before committing a 100 TB filter pass. All
    gates are integer comparisons (ratio thresholds rewritten as integer
    cross-products), so the report is bit-exact in any engine."""
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    from ..llm.text import token_count_expr

    n_tokens = token_count_expr(txt)
    n_chars = F.length(txt)
    n_punct = n_chars - F.length(F.regexp_replace(txt, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(F.lower(txt), r"[^a-z]", ""))
    m = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_punct.alias("n_punct"),
        n_alpha.alias("n_alpha"),
    )
    one = F.lit(1)
    gated = m.select(
        "lang",
        F.when(F.col("n_tokens").between(5, 100_000), 1).otherwise(0).alias("pass_len"),
        # ratio gates as integer cross-products (alpha ≥ 60%, punct ≤ 20%):
        # 5·n_alpha ≥ 3·chars and 5·n_punct ≤ chars touch integers only, so
        # the docstring's bit-exactness claim holds by construction, not by
        # both engines happening to evaluate the same double expression.
        F.when(
            5 * F.col("n_alpha") >= 3 * F.greatest(F.col("n_chars"), one), 1
        ).otherwise(0).alias("pass_alpha"),
        F.when(
            5 * F.col("n_punct") <= F.greatest(F.col("n_chars"), one), 1
        ).otherwise(0).alias("pass_punct"),
        F.when(
            F.col("n_alpha").between(2 * F.col("n_tokens"), 12 * F.col("n_tokens")),
            1,
        ).otherwise(0).alias("pass_wordlen"),
    )
    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.col("pass_len")
            * F.col("pass_alpha")
            * F.col("pass_punct")
            * F.col("pass_wordlen")
        )
        .cast("bigint")
        .alias("n_survivors"),
        F.sum("pass_len").cast("bigint").alias("pass_len"),
        F.sum("pass_alpha").cast("bigint").alias("pass_alpha"),
        F.sum("pass_punct").cast("bigint").alias("pass_punct"),
        F.sum("pass_wordlen").cast("bigint").alias("pass_wordlen"),
    )


# ---------------------------------------------- embedding label centroids
EMB_DIM = 64
CENT_SCALE = 1_000_000  # fixed-point scale: exact integer sums in any engine


@register(
    "emb_label_centroids",
    f"""
    WITH expl AS (
      SELECT label, r.pos,
             -- widen the float32 element to DOUBLE before scaling: DuckDB
             -- would otherwise multiply in single precision and land on the
             -- other side of the rounding boundary
             CAST(floor(CAST(embedding[CAST(r.pos AS INT) + 1] AS DOUBLE)
                        * {CENT_SCALE} + 0.5) AS BIGINT) AS v_fp
      FROM embeddings CROSS JOIN range({EMB_DIM}) r(pos)),
    per_dim AS (
      SELECT label, pos, SUM(v_fp) AS s, COUNT(*) AS n
      FROM expl GROUP BY label, pos)
    SELECT label,
           CAST(MIN(n) OVER (PARTITION BY label) AS BIGINT) AS n_vecs,
           CAST(pos AS BIGINT) AS pos,
           -- floor(x+0.5)/1e6 instead of ROUND(x,6): ROUND's half-way rule
           -- differs between engines; floor on the same IEEE double doesn't
           CAST(floor(s / n + 0.5) AS BIGINT) / {CENT_SCALE}.0 AS c
    FROM per_dim
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str):
    """Per-label embedding centroid (the IVF training / class-prototype
    primitive): posexplode to (label, dim, value), aggregate per dimension,
    reassemble the vector ordered by dimension. Values go through a
    fixed-point conversion (floor(v*1e6+0.5) — IEEE-exact, so both engines
    produce identical integers) and sum as BIGINT: float summation order
    varies across partitions, integer summation is exact. The explode is
    N×D rows but purely map-side before one (label, dim) aggregation;
    map-side partial agg collapses it per partition.

    The gate output posexplodes the assembled centroid back to
    (label, n_vecs, pos, c) scalar rows: array<double> is unhashable in
    the driver canonicalizer (the same limitation the multimodal decode
    pair hit in r2), and scalar doubles hash exactly here because both
    engines derive them from identical integers."""
    e = t(spark, sf_dir, "embeddings")
    expl = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn(
        "v_fp",
        F.floor(F.col("v").cast("double") * CENT_SCALE + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    per_dim = expl.groupBy("label", "pos").agg(
        F.sum("v_fp").alias("s"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.min("n").cast("bigint").alias("n_vecs"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (
                            F.floor(F.col("s") / F.col("n") + F.lit(0.5)).cast(
                                "bigint"
                            )
                            / F.lit(float(CENT_SCALE))
                        ).alias("c"),
                    )
                )
            ).alias("pairs"),
        )
        .select(
            "label",
            "n_vecs",
            F.transform(F.col("pairs"), lambda p: p.c).alias("centroid"),
        )
        .select(
            "label",
            "n_vecs",
            F.posexplode("centroid").alias("pos", "c"),
        )
        .withColumn("pos", F.col("pos").cast("bigint"))
        .select("label", "n_vecs", "pos", "c")
    )


# ------------------------------------- approx percentile, bounded error
@register(
    "agg_approx_quantile_check",
    """
    SELECT o_orderpriority,
           -- interpolate in DOUBLE: quantile_cont over DECIMAL rounds the
           -- interpolated value back to scale 2 (Spark keeps the double)
           quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95) AS p95,
           1 AS p50_within_tol, 1 AS p95_within_tol
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_quantile_check(spark: SparkSession, sf_dir: str):
    """Approximate percentile with an in-query error bound: the checked
    output carries the EXACT percentiles (hash-comparable across engines)
    plus flags asserting Spark's approx_percentile sketch landed within 5%
    of exact — the oracle pins the flags to 1, so sketch drift fails the
    gate. At 100 TB the sketch (one pass, mergeable, no sort) is the one
    you run; this query is the harness proving its error budget."""
    o = t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile(F.col("o_totalprice"), 0.5).alias("p50"),
        F.percentile(F.col("o_totalprice"), 0.95).alias("p95"),
        F.approx_percentile(F.col("o_totalprice"), 0.5, 10_000).alias("a50"),
        F.approx_percentile(F.col("o_totalprice"), 0.95, 10_000).alias("a95"),
    )
    tol = 0.05
    return agg.select(
        "o_orderpriority",
        "p50",
        "p95",
        (F.abs(dbl(F.col("a50")) - F.col("p50")) <= tol * F.abs(F.col("p50")))
        .cast("int")
        .alias("p50_within_tol"),
        (F.abs(dbl(F.col("a95")) - F.col("p95")) <= tol * F.abs(F.col("p95")))
        .cast("int")
        .alias("p95_within_tol"),
    )


# ----------------------------- OR-amplified sign-LSH near-dup (2 tables)
_LSH_DIMS_A = [0, 8, 16, 24, 32, 40, 48, 56]
_LSH_DIMS_B = [4, 12, 20, 28, 36, 44, 52, 60]


def _bucket_sql(dims):
    return " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(dims)
    )


@register(
    "emb_lsh_or_amplified",
    f"""
    WITH c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_bucket_sql(_LSH_DIMS_A)} AS b0,
             {_bucket_sql(_LSH_DIMS_B)} AS b1
      FROM embeddings),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM c a JOIN c b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM c a JOIN c b ON a.b1 = b.b1 AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           round(list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v))
                  * sqrt(list_dot_product(cb.v, cb.v))), 6) AS sim
    FROM cand JOIN c ca ON ca.vec_id = id_a JOIN c cb ON cb.vec_id = id_b
    WHERE round(list_dot_product(ca.v, cb.v) /
                (sqrt(list_dot_product(ca.v, ca.v))
                 * sqrt(list_dot_product(cb.v, cb.v))), 6) >= 0.2
    """,
)
def emb_lsh_or_amplified(spark: SparkSession, sf_dir: str):
    """OR-amplified hyperplane LSH (the sign_bucket docstring recipe made
    concrete): TWO independent 8-bit bucket tables, candidate pairs from
    either table union-deduped BEFORE the expensive verify, then one
    row-local cosine per surviving pair. Recall rises from p^8 to
    1-(1-p^8)^2 while each table's self-join stays N/256-bucket-sized;
    the dedup shuffles only narrow id pairs."""
    from ..llm.similarity import cosine, sign_bucket

    e = t(spark, sf_dir, "embeddings")
    c = e.select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), _LSH_DIMS_A).alias("b0"),
        sign_bucket(F.col("embedding"), _LSH_DIMS_B).alias("b1"),
    )

    def table_pairs(bucket_col):
        a = c.select(F.col("vec_id").alias("id_a"), F.col(bucket_col).alias("bk"))
        b = c.select(F.col("vec_id").alias("id_b"), F.col(bucket_col).alias("bk"))
        return a.join(b, "bk").filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b"
        )

    cand = table_pairs("b0").union(table_pairs("b1")).distinct()
    va = c.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = c.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("sim") >= 0.2)
        .select("id_a", "id_b", "sim")
    )


# ------------------------------- blocked string-similarity (entity res)
@register(
    "part_name_neardup",
    """
    WITH p AS (
      SELECT p_partkey, p_name,
             regexp_extract(p_name, '^[^ ]+ [^ ]+') AS blk,
             length(p_name) AS ln
      FROM part)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
         AND abs(a.ln - b.ln) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def part_name_neardup(spark: SparkSession, sf_dir: str):
    """Entity-resolution string-similarity join with blocking: candidate
    pairs must share a cheap block key (first TWO tokens) AND pass a
    length-difference prefilter (a free levenshtein lower bound) before
    the O(len²) edit distance runs. The all-pairs square never
    materializes — the join is linear in block-collision volume, the
    classic dedup shape for names/addresses at warehouse scale. Block-key
    selectivity is THE tuning knob: a one-token block over this small-
    vocabulary corpus admits ~100× the candidates (measured 11.7M pairs at
    sf0.1) for near-zero extra recall at dist ≤ 2. JVM levenshtein, no
    UDF.

    Measured degeneracy note (r8 bench audit, sf0.1): this corpus's
    generator yields only 64 distinct two-token prefixes over 20k parts,
    so blocking admits 3.12M candidates — and every one passes dist<=2,
    i.e. the op is OUTPUT-volume-bound (3.1M true near-dup pairs), the
    same cost class as docs_minhash_lsh. Its bench entry is pair
    emission, not plan waste.

    Skew fix (r9, closes VERDICT r8 item 1): the length prefilter
    |la-lb| <= 2 — a free levenshtein lower bound — is folded INTO the
    join key instead of applied after it. The probe side explodes each
    name into 5 keys (blk, la+d) for d in -2..2 and the build side keys
    on (blk, lb); a qualifying pair matches at exactly one d = lb-la, so
    the output is IDENTICAL to the post-join filter by construction (no
    cap, no recall trade, nothing to log under the no-silent-caps rule —
    the oracle's abs(ln) predicate is the same set). At 100× scale the
    former worst case (64 blocks × ~31k parts = ~0.5G pairs in ONE task,
    join-output skew AQE cannot split) becomes 64 × ~35 length sub-blocks
    of ~5M candidate pairs each — ~100× less per-task volume, and a
    standard many-key shuffle AQE can split further."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"^[^ ]+ [^ ]+", 0).alias("blk"),
        F.length("p_name").alias("ln"),
    )
    a = p.withColumn(
        "d", F.explode(F.array(*[F.lit(d) for d in range(-2, 3)]))
    ).select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("na"),
        "blk",
        (F.col("ln") + F.col("d")).alias("lk"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("nb"),
        "blk",
        F.col("ln").alias("lk"),
    )
    return (
        a.join(b, ["blk", "lk"])
        .filter(F.col("id_a") < F.col("id_b"))
        # thresholded levenshtein (Spark 3.5+) runs the banded O(len·k) DP
        # and returns -1 past the threshold — exact distances for every
        # surviving row, ~15% cheaper verify than the full O(len²) matrix
        .withColumn("dist", F.levenshtein("na", "nb", 2).cast("bigint"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


# ----------------------------------------- z-score anomaly flags (hours)
@register(
    "events_anomaly_zscore",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS sx,
             CAST(SUM(n * n) AS BIGINT) AS sxx
      FROM hourly GROUP BY event_type)
    SELECT h.event_type, h.hour, h.n,
           round((h.n - sx / CAST(n_hours AS DOUBLE))
                 / sqrt((sxx - sx * (sx / CAST(n_hours AS DOUBLE)))
                        / (n_hours - 1)), 6) AS z
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    WHERE abs((h.n - sx / CAST(n_hours AS DOUBLE))
              / sqrt((sxx - sx * (sx / CAST(n_hours AS DOUBLE)))
                     / (n_hours - 1))) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str):
    """Volume-anomaly detection: hourly counts per type, per-type mean/std
    derived from EXACT integer sums (count, Σn, Σn² — one aggregate over
    the small hourly table), z-score in double on identical operands, flag
    |z| > 2. The stats side is |types|-sized and broadcasts; no second
    scan of the facts. The parity-safe variance form matches
    agg_corr_from_sums (float policy: exact moments, then IEEE ops)."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").cast("bigint").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n_hours").cast("double")
    var = (F.col("sxx") - F.col("sx") * mean) / (F.col("n_hours") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 6))
        .filter(F.abs((F.col("n") - mean) / F.sqrt(var)) > 2)
        .select("event_type", "hour", "n", "z")
    )


# ------------------------------------------- event-type transition matrix
@register(
    "event_type_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM cnt GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
           round(c.n / CAST(t.n_from AS DOUBLE), 6) AS p
    FROM cnt c JOIN tot t ON c.from_type = t.from_type
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str):
    """First-order behavioral transition matrix: per-user event sequences
    (one window, partitioned by user — no global sort), pair counts, and
    row-normalized transition probabilities. The normalizing totals are
    |types|²-sized partials rolled to |types| — broadcast back. Exact
    integer counts; probability divided in double and rounded (float
    policy)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return (
        cnt.join(F.broadcast(tot), "from_type")
        .withColumn(
            "p", F.round(F.col("n") / F.col("n_from").cast("double"), 6)
        )
        .select("from_type", "to_type", "n", "p")
    )


# ------------------------------------------------ decile profiling (NTILE)
@register(
    "ntile_decile_stats",
    """
    WITH ranked AS (
      SELECT c_acctbal,
             NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
    SELECT decile,
           COUNT(*) AS n,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS lo,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS hi,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM ranked GROUP BY decile
    """,
)
def ntile_decile_stats(spark: SparkSession, sf_dir: str):
    """Decile profiling via NTILE: deterministic total order (value, key
    tie-break), ten equal-height buckets, per-bucket range and mass.
    Ranking runs through operators/ranking.exact_ntile — approximate
    range-bucket cut points, per-bucket counts folded into cumulative
    offsets, then a PARTITIONED window — bit-identical to the oracle's
    global NTILE with no single-partition sort (plan-guarded in
    tests/test_plans.py)."""
    c = t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked = exact_ntile(
        c, 10, F.col("c_acctbal"), ["c_custkey"], "decile"
    ).select("c_acctbal", "decile")
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n"),
        dbl(F.min(dec("c_acctbal"))).alias("lo"),
        dbl(F.max(dec("c_acctbal"))).alias("hi"),
        dbl(F.sum(dec("c_acctbal"))).alias("total"),
    )


# -------------------------------------------- PageRank, fixed-point exact
PR_SCALE = 1_000_000
PR_ITERS = 8
PR_BASE = 150_000  # floor(0.15 * PR_SCALE)


def _pr_oracle_sql() -> str:
    """Unrolled fixed-point PageRank as chained CTEs (no engine-specific
    recursion semantics): every rank is an integer, every step uses
    floor() on double ops over exact integers — bit-equal in any engine."""
    parts = [
        """
    edges AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT DISTINCT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (
      SELECT src AS node, CAST(%d AS BIGINT) AS r
      FROM (SELECT DISTINCT src FROM edges))
        """
        % PR_SCALE
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"""
    r{i} AS (
      SELECT e.dst AS node,
             CAST({PR_BASE} + floor(0.85 * SUM(
                    CAST(floor(CAST(r.r AS DOUBLE) / d.d) AS BIGINT)))
                  AS BIGINT) AS r
      FROM edges e JOIN deg d ON e.src = d.src
                   JOIN r{i - 1} r ON r.node = e.src
      GROUP BY e.dst)
            """
        )
    ctes = ",".join(parts)
    return f"WITH {ctes} SELECT node, r AS rank_fp FROM r{PR_ITERS}"


@register("graph_pagerank_fixedpoint", _pr_oracle_sql())
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str):
    """PageRank over the customer↔supplier trade graph (both directions of
    every distinct trading pair), 8 unrolled iterations in ONE lazy plan.

    Scale shape: state is one (node, rank) row per node; each iteration is
    edges ⋈ ranks (partitioned on the edge source) → groupBy(dst) — the
    same bounded-state iterate as connected components (llm/cluster.py),
    without the driver fixpoint probe since the iteration count is fixed.
    Edges+degrees persist once and serve all 8 iterations.

    Parity shape: ranks are FIXED-POINT integers (1e6 scale); each step is
    floor(rank/deg) per edge, integer sum, then floor(0.85·x) — doubles
    touch only exact integers < 2^53, so both engines produce identical
    bit patterns, no rounding policy needed. Dangling mass: none by
    construction (bidirectional edges ⇒ every node has out-degree).
    Iterate lives in llm/cluster.py (pagerank_fixed_point), property-tested
    against a pure-Python reference on a controlled graph."""
    from ..llm.cluster import pagerank_fixed_point

    # NOTE (r8 re-audit): broadcasting the orderkey->custkey map here —
    # the hint that won 0.6s on graph_adamic_adar_suppliers — was A/B
    # measured at sf0.1 and REJECTED: interleaved runs showed no gain
    # (plain 6.0-8.2s vs bcast 7.0-8.5s); pagerank's wall is the iterate
    # and the three persist+count materializations, not the base join.
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).union(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    # r10 cold-cost fold (VERDICT r9 item 6): the bench's clearCache made
    # every run pay the iterate's eager setup (raw-edge persist + 3 count
    # jobs). The partition-sizing edge count only needs an UPPER BOUND:
    # every lineitem row yields at most one (cust, supp) pair, so
    # 2*|lineitem| >= |edges|; the bound is one narrow parquet-scan job
    # and the raw edge relation is then consumed exactly once, with the
    # edges_deg/sources_zero persists populating lazily inside the
    # caller's single action. CAVEAT (ADVICE r10): the iterate's
    # repartition(nparts, col) is REPARTITION_BY_NUM, which AQE does NOT
    # coalesce — a loose bound genuinely over-shatters every iteration's
    # shuffle. The bound is therefore only used while it stays harmless
    # (nparts within a few multiples of the session's parallelism, true
    # at bench SFs where nparts floors at 32 anyway); past that, one
    # distinct-count job over the persisted pair relation buys the exact
    # size — amortized over the 8 iterations it saves, the right trade
    # at 100 TB. Ranks are exact integers under any partitioning.
    n_edges_bound = 2 * li.count()
    par = spark.sparkContext.defaultParallelism
    setup_caches: tuple = ()
    if -(-n_edges_bound // 1_000_000) > 4 * par:
        # persist: single cache backing both the count here and the edge
        # union above (the CacheManager matches `edges`' two branches to
        # this plan); released by pagerank_fixed_point itself once its
        # edges_deg relation is materialized (ADVICE r11 — library
        # callers must not leak a persisted relation per invocation by
        # relying on the gate/bench cache sweep)
        pairs.persist()
        n_edges_hint = 2 * pairs.count()
        setup_caches = (pairs,)
    else:
        n_edges_hint = n_edges_bound
    return pagerank_fixed_point(
        edges,
        iters=PR_ITERS,
        scale=PR_SCALE,
        base=PR_BASE,
        n_edges_hint=n_edges_hint,
        release_after_setup=setup_caches,
    )


# ------------------------------------- chi-square contingency (per cell)
@register(
    "chisq_contingency_cells",
    """
    WITH obs AS (
      SELECT event_type, user_id % 4 AS segment, COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    rowt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
    colt AS (SELECT segment, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS total FROM obs)
    SELECT obs.event_type, obs.segment, obs.o,
           round(rt * (ct / CAST(total AS DOUBLE)), 6) AS expected,
           round(pow(obs.o - rt * (ct / CAST(total AS DOUBLE)), 2)
                 / (rt * (ct / CAST(total AS DOUBLE))), 6) AS chi2_contrib
    FROM obs JOIN rowt USING (event_type) JOIN colt USING (segment) CROSS JOIN n
    """,
)
def chisq_contingency_cells(spark: SparkSession, sf_dir: str):
    """Independence screening for a contingency table (event_type ×
    user segment): observed counts, expected-under-independence, and the
    per-cell χ² contribution. Margins are tiny aggregates broadcast back
    onto the cell table; all inputs to the double arithmetic are exact
    integers evaluated in the same order on both engines (rt·(ct/N)), so
    the rounded output hashes equal. Per-cell output (no cross-cell float
    sum) keeps the result order-independent; the final χ² statistic is a
    trivial exact reduce the caller does over these cells."""
    e = t(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.col("user_id") % 4).alias("segment")
    ).agg(F.count("*").alias("o"))
    rowt = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rt"))
    colt = obs.groupBy("segment").agg(F.sum("o").cast("bigint").alias("ct"))
    n = obs.agg(F.sum("o").cast("bigint").alias("total"))
    expected = F.col("rt") * (F.col("ct") / F.col("total").cast("double"))
    return (
        obs.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "segment")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "segment",
            "o",
            F.round(expected, 6).alias("expected"),
            F.round(
                F.pow(F.col("o") - expected, 2) / expected, 6
            ).alias("chi2_contrib"),
        )
    )


# --------------------------------------------- weighted systematic sample
@register(
    "weighted_sample_orders",
    """
    WITH m AS (SELECT MAX(o_totalprice) AS maxp FROM orders)
    SELECT o_orderkey, o_totalprice
    FROM orders CROSS JOIN m
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))
               AS BIGINT) * maxp
          < o_totalprice * 16777216.0
    """,
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str):
    """Weight-proportional deterministic sampling (price-biased): row kept
    iff hash_u01(key) < weight/max_weight, with the uniform drawn from the
    row key's md5 — same rows on any engine, any retry, any partitioning
    (the PRNG-free discipline of deterministic_sample, extended to
    importance weights). The max-weight normalizer arrives via a broadcast
    aggregate, so selection stays a scan-local predicate."""
    o = t(spark, sf_dir, "orders")
    m = o.agg(F.max("o_totalprice").alias("maxp"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(m))
        .filter(h * F.col("maxp") < F.col("o_totalprice") * F.lit(16777216.0))
        .select("o_orderkey", "o_totalprice")
    )


# ------------------------------------------ LATERAL correlated subquery
@register(
    "lateral_topk_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def lateral_topk_orders(spark: SparkSession, sf_dir: str):
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    SQL-API spelling of top-k-per-group (same oracle text runs on DuckDB
    verbatim). Catalyst de-correlates this into the window/rank plan the
    DataFrame form (topk_per_group) produces by hand; the query pins that
    equivalence. Deterministic ties: price DESC then key ASC."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


# ------------------------------------- mergeable HLL sketches (DataSketches)
@register(
    "sketch_distinct_users",
    """
    SELECT event_type AS scope,
           COUNT(DISTINCT user_id) AS exact_users,
           1 AS within_tol
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__global__' AS scope,
           COUNT(DISTINCT user_id) AS exact_users,
           1 AS within_tol
    FROM events
    """,
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str):
    """Mergeable cardinality sketches (Apache DataSketches HLL, built into
    Spark 4): one sketch per event_type, the GLOBAL count derived by
    hll_union_agg over the per-type sketches — NOT a rescan. That
    mergeability is the 100 TB story: partial sketches roll up across
    partitions/days/segments without touching raw data again. The checked
    output carries exact counts plus flags pinning each estimate within 5%
    of exact (sketch regression fails the gate; the estimates themselves
    are engine-specific so they stay out of the hash)."""
    e = t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        F.col("event_type").alias("scope"),
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        )
        .cast("int")
        .alias("within_tol"),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    glob = (
        e.agg(F.count_distinct("user_id").alias("exact_users"))
        .crossJoin(F.broadcast(merged))
        .select(
            F.lit("__global__").alias("scope"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            )
            .cast("int")
            .alias("within_tol"),
        )
    )
    return typed.unionByName(glob)


# ------------------------------------------------ rolling window median
@register(
    "window_rolling_median",
    """
    SELECT user_id, event_id,
           quantile_cont(CAST(value AS DOUBLE), 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS med11
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str):
    """Trailing-11-row median per user stream (robust smoother for noisy
    metrics — the percentile aggregate evaluated over a moving frame).
    Frames are per-user partitions, so no global sort; the frame is
    row-bounded, so state per window position is 11 values. Both engines
    interpolate the same doubles in the same order."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.percentile(F.col("value"), 0.5).over(w).alias("med11"),
    )


# --------------------------------------------- ordered string aggregation
@register(
    "agg_string_concat_groups",
    """
    SELECT c_nationkey,
           COUNT(*) AS n,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
             AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_string_concat_groups(spark: SparkSession, sf_dir: str):
    """LISTAGG/string_agg with deterministic ordering: collect_set →
    array_sort → array_join keeps the concatenation order-stable under any
    partitioning (a bare collect_list concat is nondeterministic across
    shuffles — the classic flaky-aggregation bug this query pins)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ","
        ).alias("segments"),
    )


# -------------------------------------------- ABC cumulative-share classes
@register(
    "supplier_abc_classification",
    """
    WITH totals AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec
      FROM lineitem GROUP BY l_suppkey),
    grand AS (SELECT SUM(rev_dec) AS g FROM totals),
    ranked AS (
      SELECT l_suppkey, rev_dec,
             SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_suppkey) AS cum_dec
      FROM totals)
    SELECT l_suppkey,
           CAST(rev_dec AS DOUBLE) AS revenue,
           round(CAST(cum_dec AS DOUBLE) / CAST(g AS DOUBLE), 6) AS cum_share,
           CASE WHEN CAST(cum_dec AS DOUBLE) / CAST(g AS DOUBLE) <= 0.5
                  THEN 'A'
                WHEN CAST(cum_dec AS DOUBLE) / CAST(g AS DOUBLE) <= 0.8
                  THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN grand
    """,
)
def supplier_abc_classification(spark: SparkSession, sf_dir: str):
    """ABC (Pareto) classification: revenue per supplier, cumulative share
    over the descending-revenue order, threshold classes. The cumulative
    sum runs through operators/ranking.exact_prefix_sum (range buckets +
    per-bucket exact DECIMAL offsets + a window PARTITIONED by bucket), so
    even a dimension that outgrows one task never serializes — r6 swap
    from the single-partition window, bit-identical values (decimal sums
    are associative). The grand total broadcasts; the share divides in
    double and rounds (float policy); ties break on the key."""
    li = t(spark, sf_dir, "lineitem")
    totals = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice")).alias("rev_dec")
    )
    grand = totals.agg(F.sum("rev_dec").alias("g"))
    ranked = exact_prefix_sum(
        totals, -F.col("rev_dec"), ["l_suppkey"], "rev_dec", "cum_dec"
    )
    share = dbl(F.col("cum_dec")) / dbl(F.col("g"))
    return (
        ranked.crossJoin(F.broadcast(grand))
        .select(
            "l_suppkey",
            dbl(F.col("rev_dec")).alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.5, "A")
            .when(share <= 0.8, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# ------------------------------------------------- monthly seasonality
@register(
    "orders_seasonality",
    """
    WITH monthly AS (
      SELECT CAST(month(o_orderdate) AS INT) AS mon,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
      FROM orders GROUP BY 1),
    base AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_n, SUM(rev_dec) AS total_rev,
             COUNT(*) AS n_months
      FROM monthly)
    SELECT mon, n,
           CAST(rev_dec AS DOUBLE) AS revenue,
           round(n / (CAST(total_n AS DOUBLE) / n_months), 6) AS volume_index,
           round(CAST(rev_dec AS DOUBLE)
                 / (CAST(total_rev AS DOUBLE) / n_months), 6) AS revenue_index
    FROM monthly CROSS JOIN base
    """,
)
def orders_seasonality(spark: SparkSession, sf_dir: str):
    """Seasonality decomposition: per-calendar-month volume and revenue
    indexed against the all-months average (index 1.0 = typical month).
    One fact aggregation to a 12-row table; the base rates broadcast.
    Exact integer/decimal numerators, double division, rounded output."""
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").cast("int").alias("mon")
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec("o_totalprice")).alias("rev_dec"),
    )
    base = monthly.agg(
        F.sum("n").cast("bigint").alias("total_n"),
        F.sum("rev_dec").alias("total_rev"),
        F.count("*").alias("n_months"),
    )
    return (
        monthly.crossJoin(F.broadcast(base))
        .select(
            "mon",
            "n",
            dbl(F.col("rev_dec")).alias("revenue"),
            F.round(
                F.col("n") / (dbl(F.col("total_n")) / F.col("n_months")), 6
            ).alias("volume_index"),
            F.round(
                dbl(F.col("rev_dec"))
                / (dbl(F.col("total_rev")) / F.col("n_months")),
                6,
            ).alias("revenue_index"),
        )
    )


# ------------------------------------------------- RFM user segmentation
@register(
    "events_rfm_segmentation",
    """
    WITH ref AS (SELECT MAX(ts) AS now_ts FROM events),
    rfm AS (
      SELECT user_id,
             CAST(epoch_us((SELECT now_ts FROM ref)) - epoch_us(MAX(ts))
                  AS BIGINT) AS recency_us,
             COUNT(*) AS frequency,
             SUM(CAST(value AS DECIMAL(12,2))) AS monetary_dec
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, recency_us, frequency,
             CAST(monetary_dec AS DOUBLE) AS monetary,
             NTILE(4) OVER (ORDER BY recency_us ASC, user_id) AS r_score,
             NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
             NTILE(4) OVER (ORDER BY monetary_dec DESC, user_id) AS m_score
      FROM rfm)
    SELECT user_id, recency_us, frequency, monetary,
           r_score, f_score, m_score,
           r_score || '-' || f_score || '-' || m_score AS segment
    FROM scored
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str):
    """RFM (recency / frequency / monetary) segmentation — the workhorse
    behavioral cohorting op: one fact aggregation to a per-user table,
    three quartile scores over that user-sized table (ordered windows run
    on the aggregate, never the fact volume), concatenated segment label.
    Recency is integer microseconds against the corpus max (broadcast
    scalar); monetary aggregates in DECIMAL; every NTILE order carries a
    key tie-break. Each quartile score runs through exact_ntile (no
    single-partition window — plan-guarded); the user-grain table is
    persisted because the three rankings each scan it for cut points,
    counts, and the final pass."""
    e = t(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("now_ts"))
    rfm = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum(dec("value")).alias("monetary_dec"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            (F.unix_micros("now_ts") - F.unix_micros("last_ts"))
            .cast("bigint")
            .alias("recency_us"),
            "frequency",
            "monetary_dec",
        )
    )
    rfm = rfm.persist()
    scored = exact_ntile_multi(
        rfm,
        4,
        [
            (F.col("recency_us"), ["user_id"], "r_score"),
            (-F.col("frequency"), ["user_id"], "f_score"),
            (-F.col("monetary_dec"), ["user_id"], "m_score"),
        ],
    )
    scored = scored.select(
        "user_id",
        "recency_us",
        "frequency",
        dbl(F.col("monetary_dec")).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )
