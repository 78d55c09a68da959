"""Semantic checks for the round-5c curation/analytics operators —
properties the DuckDB oracle's hash-equality can't express (brute-force
equivalence, determinism under repartitioning, rate calibration)."""

from __future__ import annotations

import pyspark.sql.functions as F

from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.registry.curation_ops import (
    docs_cross_source_overlap,
    docs_inverted_index_segments,
    events_attribution_last_touch,
    events_cms_heavy_hitters,
    lineitem_winsorized_stats,
    orders_calendar_densify,
    part_skyline_pareto,
)
from rad_database_parse_spark.catalog.io import load_table


def test_skyline_matches_bruteforce(spark, sf_dir):
    got = {
        r.p_partkey
        for r in part_skyline_pareto(spark, sf_dir).collect()
    }
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    ).collect()
    expect = set()
    for a in parts:
        dominated = any(
            b.p_retailprice <= a.p_retailprice
            and b.p_size <= a.p_size
            and (b.p_retailprice < a.p_retailprice or b.p_size < a.p_size)
            for b in parts
        )
        if not dominated:
            expect.add(a.p_partkey)
    assert got == expect and got


def test_skyline_is_mutually_nondominating(spark, sf_dir):
    rows = part_skyline_pareto(spark, sf_dir).collect()
    for a in rows:
        for b in rows:
            assert not (
                b.p_retailprice <= a.p_retailprice
                and b.p_size <= a.p_size
                and (b.p_retailprice < a.p_retailprice or b.p_size < a.p_size)
            )


def test_cross_source_overlap_matches_bruteforce(spark, sf_dir):
    rows = docs_cross_source_overlap(spark, sf_dir).collect()
    got = {(r.src_a, r.src_b): r.n_shared_grams for r in rows}
    # brute force: distinct (source, 5-gram) pairs, count shared per pair
    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    by_src: dict[str, set] = {}
    for d in docs:
        w = d.text.split(" ")
        grams = {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}
        by_src.setdefault(d.source, set()).update(grams)
    expect = {}
    srcs = sorted(by_src)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            n = len(by_src[a] & by_src[b])
            if n:
                expect[(a, b)] = n
    assert got == expect
    for (a, b) in got:
        assert a < b  # ordered pairs only, no mirrored duplicates


def test_inverted_index_cells_bounded_and_df_consistent(spark, sf_dir):
    import hashlib

    rows = docs_inverted_index_segments(spark, sf_dir).collect()
    assert rows
    df_by_token: dict[str, set] = {}
    for r in rows:
        assert 1 <= r.seg_n <= 256  # segment cells are bounded
        df_by_token.setdefault(r.token, set()).add((r.seg, r.seg_n, r.df))
    for token, cells in df_by_token.items():
        dfs = {d for _, _, d in cells}
        assert len(dfs) == 1  # df constant across a token's segments
        assert dfs.pop() == sum(n for _, n, _ in cells)
    # spot-check one posting hash against a recomputed list
    docs = load_table(spark, sf_dir, "documents").collect()
    token = rows[0].token
    seg = rows[0].seg
    ids = sorted(
        d.doc_id
        for d in docs
        if token in set(d.text.split(" ")) and d.doc_id // 256 == seg
    )
    expect = hashlib.md5(",".join(str(i) for i in ids).encode()).hexdigest()
    assert rows[0].seg_md5 == expect and len(ids) == rows[0].seg_n


def test_calendar_densify_gapless_grid(spark, sf_dir):
    df = orders_calendar_densify(spark, sf_dir)
    n_days = df.select("day").distinct().count()
    n_pri = df.select("o_orderpriority").distinct().count()
    assert df.count() == n_days * n_pri  # full cross grid, no gaps
    # zero-filled cells exist and carry exact zeros
    zeros = df.filter(F.col("n_orders") == 0)
    assert zeros.count() > 0
    assert zeros.filter(F.col("revenue") != 0.0).count() == 0


def test_attribution_conserves_purchases(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    agg = events_attribution_last_touch(spark, sf_dir).collect()
    assert sum(r.n_purchases for r in agg) == n_purchases
    assert all(r.touch_type != "purchase" for r in agg)


def test_winsorized_mean_bounded_by_clamps(spark, sf_dir):
    for r in lineitem_winsorized_stats(spark, sf_dir).collect():
        assert r.p05 <= r.p95
        assert r.p05 <= r.w_mean <= r.p95
        assert r.n_below + r.n_above <= r.n


def test_cms_overestimates_and_ranks_deterministically(spark, sf_dir):
    rows = sorted(
        events_cms_heavy_hitters(spark, sf_dir).collect(), key=lambda r: r.rn
    )
    assert rows and len(rows) <= 25
    ests = [r.est for r in rows]
    assert ests == sorted(ests, reverse=True)
    truth = {
        r.user_id: r.true_n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "true_n")
        .collect()
    }
    for r in rows:
        assert r.est_ge_true == 1
        assert r.est >= r.true_n  # CMS never underestimates
        assert r.true_n == truth[r.user_id]


def test_curation_ops_registered_under_their_names():
    # These ten got their first driver CORRECTNESS rows in round 5 (all
    # green); a rename would orphan that record, so the names must stay.
    names = all_queries()
    for q in (
        "docs_cross_source_overlap",
        "docs_bigram_lm_score",
        "docs_inverted_index_segments",
        "part_skyline_pareto",
        "orders_calendar_densify",
        "events_attribution_last_touch",
        "lineitem_winsorized_stats",
        "events_cms_heavy_hitters",
        "events_ewma_smoothing",
        "nation_supplier_hhi",
    ):
        assert q in names


def test_ewma_equals_recursive_definition(spark, sf_dir):
    # the power-of-two windowed fold must match the textbook truncated
    # EWMA: weights 2^(p-1) over the last <=10 values, newest heaviest
    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    from rad_database_parse_spark.registry.curation_ops import (
        events_ewma_smoothing,
    )

    got = {r.event_id: r for r in events_ewma_smoothing(spark, sf_dir).collect()}
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    checked = 0
    for user, rs in list(by_user.items())[:20]:
        for i, r in enumerate(rs):
            frame = rs[max(0, i - 9) : i + 1]
            cents = [round(x.value * 100) for x in frame]
            num = sum(c * (1 << p) for p, c in enumerate(cents))
            den = 100 * ((1 << len(cents)) - 1)
            g = got[r.event_id]
            assert g.n_win == len(cents)
            assert abs(g.ewma - num / den) < 1e-9
            checked += 1
    assert checked > 50


def test_hhi_bounds_and_concentration_semantics(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        nation_supplier_hhi,
    )

    rows = nation_supplier_hhi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # floor() rounding keeps the fixed-point HHI within [even, single]
        assert r.n_suppliers >= 1
        lower = (10**12) // r.n_suppliers - 2 * 10**6  # even split, fp slack
        assert lower <= r.hhi_fp <= 10**12


def test_frame_sample_counts_and_checksums(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        multimodal_frame_sample,
    )

    rows = multimodal_frame_sample(spark, sf_dir).collect()
    assert rows
    docs = {
        d.doc_id: d.text
        for d in load_table(spark, sf_dir, "documents").collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in docs.items():
        data = text.encode()
        n_frames = -(-len(data) // 32)
        expect_idx = list(range(0, n_frames, 2))
        got = sorted(by_doc[doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == expect_idx
        for r in got:
            seg = data[r.frame_idx * 32 : (r.frame_idx + 1) * 32]
            assert r.frame_len == len(seg)
            assert r.checksum == sum(seg)


def test_ivf_multiprobe_recall_monotone(spark, sf_dir):
    # nprobe=1 candidates are a subset of nprobe=2's, so hits can only grow
    from rad_database_parse_spark.registry.llm_ops import (
        emb_ivf_multiprobe_recall,
    )

    rows = emb_ivf_multiprobe_recall(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hit_p1 <= r.n_hit_p2 <= 5


def test_binary_hamming_matches_bruteforce(spark, sf_dir):
    from rad_database_parse_spark.registry.llm_ops import (
        emb_binary_hamming_topk,
    )

    embs = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def sig(v):
        return [1 if x >= 0 else 0 for x in v]

    got = emb_binary_hamming_topk(spark, sf_dir).collect()
    assert got
    for r in got:
        a, b = sig(embs[r.query_id]), sig(embs[r.neighbor_id])
        assert r.hamming == sum(x != y for x, y in zip(a, b))
    # per-query ranks are 1..5 with nondecreasing hamming
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        hs = [r.hamming for r in rs]
        assert hs == sorted(hs)


def test_minhash_estimator_error_bounded(spark, sf_dir):
    from rad_database_parse_spark.registry.llm_ops import (
        docs_minhash_estimator_error,
    )

    rows = docs_minhash_estimator_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_match <= 16
        assert r.max_err_fp <= 1_000_000  # |est - exact| <= 1 by definition
        # verified pairs have jaccard >= 0.5 -> per-pair fp >= 500000
        assert r.sum_j_fp >= 500_000 * r.n_pairs


def test_benford_shares_sum_to_one(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        orders_benford_digit_test,
    )

    rows = orders_benford_digit_test(spark, sf_dir).collect()
    assert len(rows) == 9 and {r.d for r in rows} == set(range(1, 10))
    n_total = sum(r.n for r in rows)
    assert n_total > 0
    # observed fixed-point shares must sum to ~1e6 (floor slack <= 9)
    obs_sum = sum(r.obs_fp for r in rows)
    assert 1_000_000 - 9 <= obs_sum <= 1_000_000
    exp_sum = sum(r.exp_fp for r in rows)
    assert exp_sum == 999_995  # Benford constants, fixed


def test_multitouch_credits_bounded_by_purchase_value(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        events_multitouch_decay_attribution,
    )

    ev = load_table(spark, sf_dir, "events").collect()
    by_user: dict[int, list] = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    # total value of purchases that HAVE at least one preceding touch
    total_cents = 0
    n_expected_credits = 0
    for rs in by_user.values():
        touches = 0
        for r in rs:
            if r.event_type != "purchase":
                touches += 1
            else:
                if touches >= 1:
                    total_cents += round(r.value * 100)
                    n_expected_credits += min(touches, 8)
    rows = events_multitouch_decay_attribution(spark, sf_dir).collect()
    got_fp = sum(r.credit_fp_total for r in rows)
    assert sum(r.n_credits for r in rows) == n_expected_credits
    # credits are fixed-point fractions of cents summing (with floor
    # slack <= 1 per credit) to the attributed purchase value
    target = 1_000_000 * total_cents
    assert target - n_expected_credits <= got_fp <= target


def test_basket_association_metrics_consistent(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        basket_part_association,
    )

    rows = basket_part_association(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.part_a < r.part_b
        assert r.n_ab >= 3
        # support <= confidence (n_orders >= n_a) and both in (0, 1e6]
        assert 0 < r.support_fp <= r.conf_ab_fp <= 1_000_000


def test_gini_matches_local_computation(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        lineitem_gini_inequality,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_flag: dict[str, list] = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(
            round(r.l_extendedprice * 100)
        )
    import math

    expect = {}
    for flag, xs in by_flag.items():
        xs.sort()
        n, s0 = len(xs), sum(xs)
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        expect[flag] = math.floor(1e6 * (2 * s1 - (n + 1) * s0) / (n * s0))
    got = {r.l_returnflag: r.gini_fp for r in
           lineitem_gini_inequality(spark, sf_dir).collect()}
    assert got == expect
    for g in got.values():
        assert 0 <= g < 1_000_000  # Gini of positive amounts is in [0, 1)


def test_survival_curve_monotone_from_full_population(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        customer_survival_curve,
    )

    rows = sorted(customer_survival_curve(spark, sf_dir).collect(),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == list(range(25))
    n_customers = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert rows[0].n_alive == n_customers  # everyone survives to k=0
    alive = [r.n_alive for r in rows]
    assert alive == sorted(alive, reverse=True)  # survival never increases


def test_drift_shares_and_chi2_nonnegative(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        orders_priority_drift_chi2,
    )

    rows = orders_priority_drift_chi2(spark, sf_dir).collect()
    assert rows
    ref_sum = sum(r.ref_share_fp for r in rows)
    cur_sum = sum(r.cur_share_fp for r in rows)
    assert 1_000_000 - len(rows) <= ref_sum <= 1_000_000
    assert 1_000_000 - len(rows) <= cur_sum <= 1_000_000
    for r in rows:
        assert r.chi2_term_fp >= 0


def test_simpson_diversity_bounds(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        events_type_diversity_simpson,
    )

    rows = events_type_diversity_simpson(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.diversity_fp < 1_000_000  # < 1 always (finite sample)


def test_winsorized_stats_match_bruteforce(spark, sf_dir):
    import math

    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_flag: dict[str, list] = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, []).append(r.l_extendedprice)

    def q_cont(xs, p):  # quantile_cont / F.percentile interpolation
        xs = sorted(xs)
        h = (len(xs) - 1) * p
        lo = math.floor(h)
        return xs[lo] + (h - lo) * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])

    got = {
        r.l_returnflag: r
        for r in lineitem_winsorized_stats(spark, sf_dir).collect()
    }
    for flag, xs in by_flag.items():
        p05, p95 = q_cont(xs, 0.05), q_cont(xs, 0.95)
        n_below = sum(1 for x in xs if x < p05)
        n_above = sum(1 for x in xs if x > p95)
        w_mean = (
            sum(x for x in xs if p05 <= x <= p95)
            + n_below * p05
            + n_above * p95
        ) / len(xs)
        g = got[flag]
        assert g.n_below == n_below and g.n_above == n_above
        assert abs(g.p05 - p05) < 1e-9 and abs(g.p95 - p95) < 1e-9
        assert abs(g.w_mean - w_mean) < 1e-6


def test_ewma_stable_under_repartition(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        events_ewma_smoothing,
    )

    base = {
        r.event_id: (r.n_win, r.ewma)
        for r in events_ewma_smoothing(spark, sf_dir).collect()
    }
    shuffled = {
        r.event_id: (r.n_win, r.ewma)
        for r in events_ewma_smoothing(spark, sf_dir)
        .repartition(13)
        .collect()
    }
    assert base == shuffled


def test_inverted_index_stable_under_repartition(spark, sf_dir):
    base = {
        (r.token, r.seg): (r.seg_n, r.df, r.seg_md5)
        for r in docs_inverted_index_segments(spark, sf_dir).collect()
    }
    shuffled = {
        (r.token, r.seg): (r.seg_n, r.df, r.seg_md5)
        for r in docs_inverted_index_segments(spark, sf_dir)
        .repartition(7)
        .collect()
    }
    assert base == shuffled
