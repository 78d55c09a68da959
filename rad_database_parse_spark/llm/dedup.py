"""Document deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame plans (no Python UDFs — everything stays in
whole-stage codegen) designed to hold at 100 TB:

- exact: md5 of normalized text → hash groupBy (one shuffle on a short key);
- n-gram Jaccard: shingle explode → self-join on shingle → pair counts;
  candidate generation only touches pairs that SHARE a shingle, so the
  join is linear in shingle-collision volume, not quadratic in documents;
- MinHash + LSH banding: k arithmetic min-hashes per doc (one groupBy),
  band buckets → bucket self-join → verify. Hash functions are
  (a_i·t + b_i) mod p over a dictionary token id, so signatures are
  deterministic and oracle-reproducible (Spark's own hash() differs from
  other engines' — a dictionary id join keeps us engine-portable);
- SimHash: bitwise majority over token-hash bits → one 32-bit signature
  per doc; duplicates collide exactly, near-duplicates within small
  Hamming distance.

The token-id dictionary (dense_rank over distinct tokens) adds one extra
shuffle; at production scale you'd persist the dictionary as a bucketed
table and reuse it across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Deterministic universal-hash parameters (public textbook construction:
# h_i(x) = (a_i x + b_i) mod p with p prime > universe).
MERSENNE_P = (1 << 31) - 1
HASH_AS = [7919, 104729, 224737, 350377, 479909, 611953, 746773, 882377,
           1020379, 1159523, 1299709, 1441331, 1583539, 1726943, 1870667, 2015177]
HASH_BS = [104659, 224711, 350353, 479879, 611921, 746747, 882343, 1020347,
           1159483, 1299673, 1441273, 1583489, 1726919, 1870607, 2015141, 7901]


def tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token, pos) — lowercase whitespace tokens, JVM-side."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "token")
    ).filter(F.col("token") != "")


def token_ids(tokens: DataFrame) -> DataFrame:
    """Attach a deterministic, engine-portable token id: the first 48 bits
    of md5(token) reduced mod 2³¹−1.

    No dictionary: the previous dense_rank dictionary needed a GLOBAL sort
    of the vocabulary plus a broadcast join back — the one step that could
    not scale past a driver-sized vocabulary. A content hash is a pure
    per-row expression (one scan, zero shuffles) and both engines compute
    it identically (DuckDB: ``CAST('0x' || substr(md5(token),1,12) AS
    BIGINT) % 2147483647``). The mod keeps ids < 2³¹ so downstream
    universal-hash products (a·id + b, a ≤ ~2·10⁶) stay far below 2⁶³ in
    both engines' BIGINT arithmetic. Id collisions are ~V²/2³² over a
    V-token vocabulary — they only (marginally) loosen minhash estimates,
    identically in both engines."""
    return tokens.withColumn(
        "token_id",
        F.conv(F.substring(F.md5("token"), 1, 12), 16, 10).cast("long")
        % F.lit(MERSENNE_P),
    )


def exact_dedup_by_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-free dedup: normalize, md5, keep min-id doc per hash."""
    norm = F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))
    hashed = df.withColumn("text_hash", norm)
    keep = hashed.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    return hashed.join(keep, ["text_hash", id_col], "left_semi")


def word_shingles(tokens: DataFrame, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document via lead() windows —
    stays in codegen, no UDF."""
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(w) for i in range(1, n)]
    return (
        tokens.withColumn("shingle", F.concat_ws(" ", *parts))
        .withColumn("_last", F.lead("token", n - 1).over(w))
        .filter(F.col("_last").isNotNull())
        .select(id_col, "shingle")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
    threshold: float = 0.5, max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Candidate duplicate pairs with exact n-gram Jaccard ≥ threshold.

    Self-join on shingle generates only co-occurring pairs; |A∪B| comes from
    per-doc shingle counts (|A|+|B|−|A∩B|), so no second pass over pairs.
    The shingle set is persisted (3 plan references: sizes + both join
    sides) — MEMORY_AND_DISK so large corpora spill rather than re-shingle.

    ``max_shingle_df`` drops shingles shared by more than that many docs
    before the self-join (Jaccard is then computed over the capped shingle
    space on both the intersection AND size side). Without it, one
    boilerplate shingle in d docs contributes d² join rows — quadratic on
    exactly the hot keys a 100 TB corpus is full of. The dropped shingles
    carry ~no signal (they match everything); the slight recall loss is the
    standard trade. The hot set is tiny (shingles with df > cap), so it
    broadcasts into an anti-join — no extra shuffle on the big side."""
    from pyspark import StorageLevel

    sh = word_shingles(tokenize(df, text_col, id_col), id_col, n)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hash_value_cols(num_hashes: int) -> list:
    """h_i(token_id) as PROJECTION columns. Hoisting matters: aggregate
    expressions don't get common-subexpression elimination, so min((a_i·
    md5id+b_i)%p) inlines the md5 derivation into every one of the k
    aggregates (k× the hashing cost, measured 3× slower end-to-end);
    ProjectExec DOES eliminate the shared md5, so computing h_i as columns
    evaluates it once per row and the aggregate sees plain longs."""
    return [
        (
            (F.lit(HASH_AS[i]).cast("long") * F.col("token_id") + F.lit(HASH_BS[i]))
            % F.lit(MERSENNE_P)
        ).alias(f"hv_{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, tok_set, sz, mh_0..mh_{k-1}) — full signature + distinct token-id
    set + set size in ONE shuffle. MIN is duplicate-insensitive, so tokens
    need no pre-distinct; set and size ride along in the same aggregation.
    Map-side partial aggregation collapses each partition to one row per doc
    before the shuffle."""
    toks = token_ids(tokenize(df, text_col, id_col)).select(
        id_col, "token_id", *_hash_value_cols(num_hashes)
    )
    return (
        toks.groupBy(id_col)
        .agg(
            F.collect_set("token_id").alias("tok_set"),
            *[F.min(f"hv_{i}").alias(f"mh_{i}") for i in range(num_hashes)],
        )
        .withColumn("sz", F.size("tok_set"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, hash_idx, minhash) row form — a zero-shuffle unpivot of the wide
    signature (k small, one row per doc)."""
    wide = minhash_signatures_wide(df, text_col, id_col, num_hashes)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("hash_idx"), F.col(f"mh_{i}").alias("minhash")
            )
            for i in range(num_hashes)
        ]
    )
    return wide.select(
        id_col, F.explode(pairs).alias("p")
    ).select(id_col, "p.hash_idx", "p.minhash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures → bucket self-join →
    verified exact Jaccard ≥ threshold. The shuffle-heavy all-pairs compare
    collapses to joins on (band, band_signature).

    Output volume, measured (r5), for the bench narrative: the synthetic
    corpus is near-dup-heavy, so verified pairs grow ~quadratically with
    clique sizes — 61,116 pairs at sf0.01 and 5,962,013 at sf0.1. Both
    previously-cited figures were correct at their own SF; the pair VOLUME
    is the inherent cost driver of this query at bench scale, not any join.

    Plan shape (scale-critical): the corpus is tokenized ONCE; signatures,
    set sizes, band keys, AND the verify-side token arrays all come out of a
    single groupBy(doc). Identical signatures collapse BEFORE banding
    (lever 1: a hot bucket pairs |signatures|², not |docs|²·bands), and
    verification runs per CONTENT CLASS — distinct token set — not per doc
    pair (lever 2: every doc pair drawn from the same two classes shares
    one exact Jaccard, so the fat token arrays join onto |class pairs|
    rows instead of millions of doc pairs; the doc-level expansion
    afterwards moves only (id, id, jaccard) narrow rows, and within-class
    pairs are Jaccard ≡ 1 with no verification at all). Exact Jaccard per
    class pair is `array_intersect` inside codegen — row-local on two
    joined arrays — never a re-explode of candidates against the token
    table (quadratic in bucket size)."""
    # Checkpoint NOW: the plan below references wide from ~6 broadcast
    # subtrees, and broadcast exchanges build EAGERLY in parallel at query
    # start — over a lazy plan each one would recompute the whole
    # tokenize→hash→aggregate pipeline.
    wide = minhash_signatures_wide(df, text_col, id_col, num_hashes).localCheckpoint()
    num_bands = num_hashes // band_size
    band_sig_cols = [
        F.concat_ws(
            ",", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
        )
        for b in range(num_bands)
    ]
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_sig_cols[b].alias("band_sig"))
            for b in range(num_bands)
        ]
    )
    # each band row also carries the doc's FULL signature vector, so a pair
    # is emitted only from the first band where it collides — near-identical
    # docs collide in every band, and without this the bucket join emits
    # each pair num_bands× and needs a distinct() shuffle over the whole
    # candidate volume (the dominant shuffle on near-dup-heavy corpora)
    # ---- collapse identical signatures BEFORE pairing (the scale lever).
    # Near-dup-heavy corpora put thousands of docs behind ONE 16-hash
    # signature; pairing at the doc level makes the bucket join enumerate
    # every ordered doc pair per band (B²·bands ordered matches for a hot
    # bucket of B docs — compute skew AQE cannot split, because the skew is
    # in join OUTPUT, not input bytes). Instead: band-join the ~|distinct
    # signatures| representatives, then expand verified group pairs back to
    # doc pairs with one hash-probe per OUTPUT row.
    sig = wide.withColumn(
        "sig_key", F.xxhash64(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    )
    members = sig.select(id_col, "sig_key", "tok_set", "sz")
    reps = sig.groupBy("sig_key").agg(
        *[F.min(f"mh_{i}").alias(f"mh_{i}") for i in range(num_hashes)],
        F.count("*").alias("grp_n"),
    )
    # checkpointed: the self-join references bands twice
    # (each reference would re-run the reps aggregation and pay another AQE
    # stage barrier), and it is signature-count-sized — tiny relative to the
    # corpus at any scale
    bands = (
        reps.select(
            "sig_key",
            "grp_n",
            F.array(*band_sig_cols).alias("sigs"),
            F.explode(band_structs).alias("bs"),
        )
        .select("sig_key", "grp_n", "sigs", "bs.band", "bs.band_sig")
        .localCheckpoint()
    )
    a = bands.alias("a")
    b = bands.alias("b")
    earlier_collision = F.exists(
        F.slice(
            F.zip_with(F.col("a.sigs"), F.col("b.sigs"), lambda x, y: x == y),
            F.lit(1),
            F.col("a.band"),
        ),
        lambda x: x,
    )
    grp_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.sig_key") < F.col("b.sig_key")),
        )
        .filter(~earlier_collision)
        .select(
            F.col("a.sig_key").alias("sig_a"), F.col("b.sig_key").alias("sig_b")
        )
    )
    # ---- verify per CONTENT CLASS, not per doc pair (the second scale
    # lever). Near-dup-heavy corpora hold many docs with the IDENTICAL
    # token set (sf0.1: 5000 docs → 3935 distinct sets, hottest class 248
    # docs); every doc pair drawn from the same two classes shares one
    # Jaccard. Verifying doc pairs attaches two fat token arrays to every
    # candidate (~6M wide shuffled rows at sf0.1); verifying CLASS pairs
    # shrinks the array-carrying join to |class pairs| rows, and the doc-
    # level expansion afterwards moves only (id, id, jaccard). Classes are
    # keyed by the sorted token-set itself (exact — no hash-collision
    # risk), with min(doc_id) as the compact class id for the narrow joins.
    # one shuffle builds the class table AND its membership lists; same
    # token set ⇒ same minhashes ⇒ same sig_key, so each class belongs to
    # exactly one signature group (first() is deterministic here)
    cls = (
        members.withColumn("cset", F.sort_array("tok_set"))
        .groupBy("cset")
        .agg(
            F.min(id_col).alias("cls_id"),
            F.first("sz").alias("csz"),
            F.first("sig_key").alias("sig_key"),
            F.collect_list(id_col).alias("member_ids"),
        )
        .localCheckpoint()
    )
    # doc ↔ class membership (narrow), exploded from the class rows — no
    # second array-keyed join against the corpus
    cm = cls.select(
        "cls_id", F.explode("member_ids").alias(id_col)
    )
    sig_cls = cls.select("sig_key", "cls_id")
    ca = sig_cls.select(
        F.col("sig_key").alias("sig_a"), F.col("cls_id").alias("cls_a")
    )
    cb = sig_cls.select(
        F.col("sig_key").alias("sig_b"), F.col("cls_id").alias("cls_b")
    )
    # candidate class pairs: banded sig pairs expanded to their classes,
    # plus distinct-class pairs inside one signature group (those collide
    # in every band by construction). Both streams are narrow id pairs.
    cross_cls = grp_pairs.join(ca, "sig_a").join(cb, "sig_b").select(
        "cls_a", "cls_b"
    )
    within_sig = ca.join(
        cb.withColumnRenamed("sig_b", "sig_a"), "sig_a"
    ).filter(F.col("cls_a") < F.col("cls_b")).select("cls_a", "cls_b")
    cand_cls = cross_cls.unionByName(within_sig).distinct()
    # Verify with exact token-ID-set Jaccard computed row-locally over the
    # class table: |A∩B| = size(array_intersect) over integer token ids.
    # The oracle intersects the SAME md5-derived id sets, so a (rare,
    # ~V²/2³²) id collision shifts the ratio identically in both engines —
    # the hash-compare stays bit-exact by construction, not by assuming
    # the id map is collision-free. The class table is
    # signature-count-sized — broadcastable here; at corpus scale these
    # become narrow shuffles on cls_id, still |classes| not |docs|.
    info_a = cls.select(
        F.col("cls_id").alias("cls_a"),
        F.col("cset").alias("set_a"),
        F.col("csz").alias("sz_a"),
    )
    info_b = cls.select(
        F.col("cls_id").alias("cls_b"),
        F.col("cset").alias("set_b"),
        F.col("csz").alias("sz_b"),
    )
    verified_cls = (
        cand_cls.join(info_a, "cls_a")
        .join(info_b, "cls_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("cls_a", "cls_b", "jaccard")
    )
    # expand verified class pairs to doc pairs — narrow rows only
    da_m = cm.select(F.col("cls_id").alias("cls_a"), F.col(id_col).alias("da"))
    db_m = cm.select(F.col("cls_id").alias("cls_b"), F.col(id_col).alias("db"))
    cross_docs = (
        verified_cls.join(da_m, "cls_a")
        .join(db_m, "cls_b")
        .select("da", "db", "jaccard")
    )
    # within-class doc pairs: identical sets, Jaccard exactly sz/sz = 1.0
    # (same double the per-pair division produced before)
    within_docs = (
        da_m.join(
            db_m.withColumnRenamed("cls_b", "cls_a"), "cls_a"
        )
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", F.lit(1.0).alias("jaccard"))
    )
    return cross_docs.unionByName(within_docs).select(
        F.least("da", "db").alias("id_a"),
        F.greatest("da", "db").alias("id_b"),
        "jaccard",
    )


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """SimHash per document: for each bit j, sign of Σ_tokens (±1 by bit j
    of the token's arithmetic hash). One aggregate expression per bit in a
    single groupBy — no ×bits row blowup, and map-side partial aggregation
    collapses each partition to one row per doc.

    Default 64 bits (halves false candidates vs 32 on billion-doc corpora);
    bit j draws from hash function j//32 so each 32-bit block is an
    independent universal hash, and bits 0-31 are bit-identical to the
    legacy 32-bit construction (the registry oracle relies on that).
    Bits are OR-combined, so a 64-bit signature using the sign bit stays a
    valid bit pattern (equality / xor-hamming both work on negative longs)."""
    # hv hoisted into a projection so the md5-derived token_id is computed
    # once per row, not once per bit aggregate (see _hash_value_cols note)
    n_srcs = (bits + 31) // 32
    toks = token_ids(tokenize(df, text_col, id_col)).select(
        id_col,
        *[
            (
                (F.lit(HASH_AS[k]) * F.col("token_id") + F.lit(HASH_BS[k]))
                % F.lit(MERSENNE_P)
            ).alias(f"hv_{k}")
            for k in range(n_srcs)
        ],
    )
    # majority vote via positive-bit counts: the ±1 sum s_j = 2·p_j − n, so
    # sign(s_j) > 0 ⟺ 2·p_j > n. SUM((hv>>j)&1) is a plain integer
    # aggregate, ~16× faster than the equivalent CASE WHEN ±1 form
    # (branch-free, stays in codegen's int path); results are identical.
    bit_sums = [
        F.sum(
            F.shiftright(F.col(f"hv_{j // 32}"), j % 32).bitwiseAND(F.lit(1))
        ).alias(f"p_{j}")
        for j in range(bits)
    ]
    contrib = toks.groupBy(id_col).agg(F.count("*").alias("_n"), *bit_sums)
    sig = None
    for j in range(bits):
        term = F.shiftleft(
            (2 * F.col(f"p_{j}") > F.col("_n")).cast("long"), j
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    return contrib.select(id_col, sig.alias("simhash"))


def minhash_lsh_incremental(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Ingest-time near-dup dedup: band-join a NEW batch against the
    EXISTING corpus without ever pairing the corpus with itself — the
    shape a daily 100 TB ingest actually runs (the corpus's signatures
    and band keys are computed once per batch here; in production they
    persist as the dedup index and only the increment side is fresh).

    Candidates are (increment doc × corpus doc) sharing any LSH band;
    the increment is small relative to the corpus by definition, so its
    band table broadcasts and the corpus streams through map-side — no
    corpus self-join. Each side's tokenize→signature pipeline runs ONCE:
    the wide signature tables persist and serve both the band explode and
    the verify-side (tok_set, sz) lookup, so the corpus pays exactly one
    scan + one signature groupBy (the pair production persists as the
    dedup index). Band rows are NARROW (id, band, band_sig) — the fat
    token arrays never ride an explode. Verification is the same exact
    row-local token-id-set Jaccard as the self-join operator (for very
    large increments, the content-class collapse from
    minhash_lsh_candidates applies unchanged).

    Returns (inc_id, corp_id, jaccard) for every verified pair with
    jaccard ≥ threshold."""
    from pyspark import StorageLevel

    num_bands = num_hashes // band_size
    band_sig_cols = [
        F.concat_ws(
            ",", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
        )
        for b in range(num_bands)
    ]
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_sig_cols[b].alias("band_sig"))
            for b in range(num_bands)
        ]
    )
    wide_i = minhash_signatures_wide(
        increment, text_col, id_col, num_hashes
    ).localCheckpoint()
    wide_c = minhash_signatures_wide(corpus, text_col, id_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The increment count drives the broadcast guard below; the corpus side
    # is NOT eagerly counted — its persist materializes on first use (the
    # band join) and the second reference (corp_info) reads the cache, so
    # the raw corpus is scanned exactly once. An eager count here would add
    # a full extra signature pass over the corpus (measured +2.4x on the
    # sf0.1 bench).
    n_inc = wide_i.count()

    def bands_of(wide: DataFrame, out_id: str) -> DataFrame:
        return wide.select(
            F.col(id_col).alias(out_id), F.explode(band_structs).alias("bs")
        ).select(out_id, "bs.band", "bs.band_sig")

    # The increment is small relative to the corpus BY CONVENTION, not by
    # contract — broadcast only while its band table plausibly fits in an
    # executor (~narrow rows of (id, band, sig)); past that, fall back to
    # the shuffle band-join, which degrades to slower-but-correct instead
    # of OOMing the driver on an unexpectedly large batch (ADVICE r3).
    inc_bands = bands_of(wide_i, "inc_id")
    if n_inc * num_bands <= 5_000_000:
        inc_bands = F.broadcast(inc_bands)

    # distinct narrow pairs first; the fat token arrays attach after
    cand = (
        inc_bands.join(bands_of(wide_c, "corp_id"), ["band", "band_sig"])
        .select("inc_id", "corp_id")
        .distinct()
    )
    inc_info = wide_i.select(
        F.col(id_col).alias("inc_id"),
        F.col("tok_set").alias("inc_set"),
        F.col("sz").alias("inc_sz"),
    )
    corp_info = wide_c.select(
        F.col(id_col).alias("corp_id"),
        F.col("tok_set").alias("corp_set"),
        F.col("sz").alias("corp_sz"),
    )
    return (
        cand.join(F.broadcast(inc_info), "inc_id")
        .join(corp_info, "corp_id")
        .withColumn("inter", F.size(F.array_intersect("inc_set", "corp_set")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("inc_sz") + F.col("corp_sz") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("inc_id", "corp_id", "jaccard")
    )


def setsim_prefix_join(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact set-similarity self-join (whitespace-token Jaccard >= threshold)
    via prefix filtering with class-collapsed verification — the core behind
    the registry's docs_setsim_prefix_join; see that docstring for the full
    plan-shape analysis. Returns (id_a, id_b, jaccard), id_a < id_b, every
    pair exact — zero false negatives by the prefix-filter guarantee."""
    toks = (
        df.select(
            id_col,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    ordered = (
        toks.join(F.broadcast(freq), "token")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cnt", "token"))
            ).alias("arr")
        )
        .select(
            id_col,
            F.expr("transform(arr, x -> x.token)").alias("tokens"),
            F.size("arr").alias("sz"),
        )
    )
    cls = (  # referenced four times below; materialize once
        ordered.groupBy("tokens")
        .agg(
            F.min(id_col).alias("cls_id"),
            F.first("sz").alias("sz"),
            F.collect_list(id_col).alias("member_ids"),
            F.count("*").alias("grp_n"),
        )
        .localCheckpoint()
    )
    # PPJoin candidate generation, fully integer arithmetic (threshold as
    # the exact rational tn/10^6 so prefix lengths can never lose a pair
    # to a float-ceil rounding):
    #   probe prefix  (longer side): sz - ceil(t·sz) + 1 tokens
    #   index prefix (shorter side): sz - ceil(2t/(1+t)·sz) + 1 tokens
    # A similar pair (|x∩y| = o ≥ α = t/(1+t)·(|x|+|y|)) shares its FIRST
    # common token within the probe prefix of the larger record AND the
    # index prefix of the smaller (position ≤ sz - o + 1 on each side;
    # o ≥ t·|x| and, given |x| ≥ |y|, o ≥ 2t/(1+t)·|y|) — so joining
    # probe×index with |x| ≥ |y| is complete, at ~half the exploded rows
    # of the symmetric probe×probe join.
    tn = round(threshold * 1_000_000)
    td = 1_000_000 + tn  # denominator of t/(1+t) in millionths
    probe = cls.select(
        F.col("cls_id").alias("cls_a"),
        F.col("sz").alias("sza"),
        F.posexplode(
            F.expr(
                f"slice(tokens, 1, size(tokens)"
                f" - (({tn}L * size(tokens) + 999999) div 1000000) + 1)"
            )
        ).alias("pa", "ptok"),
    )
    index = cls.select(
        F.col("cls_id").alias("cls_b"),
        F.col("sz").alias("szb"),
        F.posexplode(
            F.expr(
                f"slice(tokens, 1, size(tokens)"
                f" - ((2 * {tn}L * size(tokens) + {td} - 1) div {td}) + 1)"
            )
        ).alias("pb", "ptok"),
    )
    occ = (
        probe.join(index, "ptok")
        # larger probes smaller's index; equal sizes canonicalize by id
        .filter(
            (F.col("sza") > F.col("szb"))
            | ((F.col("sza") == F.col("szb")) & (F.col("cls_a") != F.col("cls_b")))
        )
        # length filter: szb ≥ t·sza (szb ≤ sza already holds); bigint
        # casts keep the millionths-scaled products out of int32 range
        .filter(
            F.col("szb").cast("bigint") * 1_000_000
            >= tn * F.col("sza").cast("bigint")
        )
        # position-aware prefix filter: a shared token at 0-based (pa, pb)
        # can start an α-overlap only if pa ≤ sza - α and pb ≤ szb - α
        .filter(
            (
                F.col("pa").cast("bigint") * td
                <= F.col("sza").cast("bigint") * td
                - tn * (F.col("sza") + F.col("szb")).cast("bigint")
            )
            & (
                F.col("pb").cast("bigint") * td
                <= F.col("szb").cast("bigint") * td
                - tn * (F.col("sza") + F.col("szb")).cast("bigint")
            )
        )
        # ppjoin positional upper bound on the true overlap: common tokens
        # sort identically, so at most min(pa, pb) matches precede the
        # shared token and at most the shorter suffix follows it
        .withColumn(
            "ub",
            F.least("pa", "pb")
            + 1
            + F.least(
                F.col("sza") - F.col("pa") - 1,
                F.col("szb") - F.col("pb") - 1,
            ),
        )
    )
    cand = (
        occ.select(
            F.least("cls_a", "cls_b").alias("pair_lo"),
            F.greatest("cls_a", "cls_b").alias("pair_hi"),
            (F.col("sza") + F.col("szb")).alias("szsum"),
            "ub",
        )
        .groupBy("pair_lo", "pair_hi", "szsum")
        .agg(F.min("ub").alias("ub"))
        # tightest positional bound must still reach α = t/(1+t)·(sza+szb)
        .filter(
            F.col("ub").cast("bigint") * td
            >= tn * F.col("szsum").cast("bigint")
        )
        .select(
            F.col("pair_lo").alias("cls_a"), F.col("pair_hi").alias("cls_b")
        )
    )
    ta = cls.select(
        F.col("cls_id").alias("cls_a"),
        F.col("tokens").alias("tok_a"),
        F.col("sz").alias("sza"),
    )
    tb = cls.select(
        F.col("cls_id").alias("cls_b"),
        F.col("tokens").alias("tok_b"),
        F.col("sz").alias("szb"),
    )
    verified = (
        cand.join(ta, "cls_a")
        .join(tb, "cls_b")
        .withColumn("i", F.size(F.array_intersect("tok_a", "tok_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")).cast("double"),
                6,
            ),
        )
        .filter(
            F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")).cast("double")
            >= threshold
        )
        .select("cls_a", "cls_b", "jaccard")
    )
    cm = cls.select("cls_id", F.explode("member_ids").alias(id_col))
    cross = (
        verified.join(
            cm.select(F.col("cls_id").alias("cls_a"), F.col(id_col).alias("da")),
            "cls_a",
        )
        .join(
            cm.select(F.col("cls_id").alias("cls_b"), F.col(id_col).alias("db")),
            "cls_b",
        )
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "jaccard",
        )
    )
    within = (
        cls.filter(F.col("grp_n") > 1)
        .select(F.explode("member_ids").alias("da"), "member_ids")
        .select("da", F.explode("member_ids").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def containment_prefix_join(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact ASYMMETRIC containment self-join: every ordered pair (A, B)
    with |A∩B| / |A| >= threshold over distinct whitespace-token sets —
    the screen for a small document living inside a larger one (template
    + payload, quote + commentary), which symmetric Jaccard structurally
    misses as |B| grows.

    Same two levers as setsim_prefix_join, adapted to the directed bound:
    if |A∩B| >= ceil(t·|A|), A must share one of its first
    |A| − ceil(t·|A|) + 1 rare-first tokens with B — so only A's short
    prefix explodes, joined against the full token index of the B side
    (bucket sizes bounded by the rarity of A's prefix tokens), plus the
    necessary-size filter |B| >= ceil(t·|A|). Verification is per content
    class with array_intersect; within-class ordered pairs are containment
    ≡ 1 with no arrays. Returns (id_a, id_b, containment), id_a != id_b,
    directed: id_a is the contained side."""
    toks = (
        df.select(
            id_col,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    ordered = (
        toks.join(F.broadcast(freq), "token")
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("cnt", "token"))).alias("arr")
        )
        .select(
            id_col,
            F.expr("transform(arr, x -> x.token)").alias("tokens"),
            F.size("arr").alias("sz"),
        )
    )
    cls = (
        ordered.groupBy("tokens")
        .agg(
            F.min(id_col).alias("cls_id"),
            F.first("sz").alias("sz"),
            F.collect_list(id_col).alias("member_ids"),
            F.count("*").alias("grp_n"),
        )
        .localCheckpoint()
    )
    a_prefix = cls.select(
        F.col("cls_id").alias("cls_a"),
        F.col("sz").alias("sza"),
        F.explode(
            F.expr(
                f"slice(tokens, 1, size(tokens)"
                f" - cast(ceil({threshold}d * size(tokens)) as int) + 1)"
            )
        ).alias("token"),
    )
    b_all = cls.select(
        F.col("cls_id").alias("cls_b"),
        F.col("sz").alias("szb"),
        F.explode("tokens").alias("token"),
    )
    cand = (
        a_prefix.join(b_all, "token")
        .filter(
            (F.col("cls_a") != F.col("cls_b"))
            & (F.col("szb") >= F.ceil(F.lit(threshold) * F.col("sza")))
        )
        .select("cls_a", "cls_b")
        .distinct()
    )
    ta = cls.select(
        F.col("cls_id").alias("cls_a"),
        F.col("tokens").alias("tok_a"),
        F.col("sz").alias("sza"),
    )
    tb = cls.select(
        F.col("cls_id").alias("cls_b"),
        F.col("tokens").alias("tok_b"),
    )
    verified = (
        cand.join(ta, "cls_a")
        .join(tb, "cls_b")
        .withColumn("i", F.size(F.array_intersect("tok_a", "tok_b")))
        .filter(F.col("i") / F.col("sza").cast("double") >= threshold)
        .select(
            "cls_a",
            "cls_b",
            F.round(F.col("i") / F.col("sza").cast("double"), 6).alias(
                "containment"
            ),
        )
    )
    cm = cls.select("cls_id", F.explode("member_ids").alias(id_col))
    cross = (
        verified.join(
            cm.select(F.col("cls_id").alias("cls_a"), F.col(id_col).alias("da")),
            "cls_a",
        )
        .join(
            cm.select(F.col("cls_id").alias("cls_b"), F.col(id_col).alias("db")),
            "cls_b",
        )
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            "containment",
        )
    )
    within = (
        cls.filter(F.col("grp_n") > 1)
        .select(F.explode("member_ids").alias("da"), "member_ids")
        .select("da", F.explode("member_ids").alias("db"))
        .filter(F.col("da") != F.col("db"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionByName(within)
