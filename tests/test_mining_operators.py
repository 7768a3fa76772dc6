"""Behavioral tests for the mining/sketch/eval/privacy operators
(operators/mining.py). Oracle parity is covered by
test_oracle_parity.py; these pin SEMANTICS on planted inputs.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog

from conftest import write_docs, write_events


def _write_lineitem(spark, path, order_parts):
    rows = [
        (ok, pk, 1, i, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-01")
        for ok, parts in order_parts
        for i, pk in enumerate(parts)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{path}/lineitem.parquet")


def _write_embeddings(spark, path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def test_cms_overcounts_but_never_undercounts(spark, tmp_path):
    """CMS one-sided error: est >= true for every probed token, and the
    planted heavy hitter must surface as the top estimate."""
    rows = [(i, "zzz", "en", "src0", 3) for i in range(50)] + [
        (100 + i, f"tok{i} filler", "en", "src0", 10) for i in range(30)
    ]
    write_docs(spark, tmp_path, rows)
    out = load_catalog()["sketch_cms_frequencies"].fn(spark, str(tmp_path)).collect()
    assert out[0]["tok"] == "zzz"
    assert out[0]["true_n"] == 50
    for r in out:
        assert r["cms_est"] >= r["true_n"], r
        assert r["overcount"] == r["cms_est"] - r["true_n"]


def test_khop_chain_distances_and_support_threshold(spark, tmp_path):
    """A support-2 chain 1-2-3-4-5: BFS from seed 1 reaches exactly
    depth 3 (node 5 is 4 hops away), and a pair sharing only ONE order
    (1, 9) never becomes an edge."""
    order_parts = [
        (1, [1, 2]), (2, [1, 2]),
        (3, [2, 3]), (4, [2, 3]),
        (5, [3, 4]), (6, [3, 4]),
        (7, [4, 5]), (8, [4, 5]),
        (9, [1, 9]),  # support 1 -> no edge
    ]
    _write_lineitem(spark, tmp_path, order_parts)
    got = {
        r["node"]: r["dist"]
        for r in load_catalog()["graph_khop_reach"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_auc_separable_is_one_and_ties_are_half(spark, tmp_path):
    """Perfectly separable scores give AUC=1; all-equal scores give the
    exact tie credit 0.5."""
    # even user_ids -> cohort A: purchases strictly above non-purchases
    rows_a = [
        (i, "2024-01-01 00:00:00", 2, "purchase", 100.0 + i, "{}")
        for i in range(5)
    ] + [
        (10 + i, "2024-01-01 00:00:00", 4, "view", float(i), "{}")
        for i in range(5)
    ]
    # odd user_ids -> cohort B: every score identical (pure ties)
    rows_b = [
        (20 + i, "2024-01-01 00:00:00", 3, "purchase" if i < 4 else "view", 7.0, "{}")
        for i in range(10)
    ]
    write_events(spark, tmp_path, rows_a + rows_b)
    got = {
        r["cohort"]: r
        for r in load_catalog()["eval_auc_mannwhitney"].fn(spark, str(tmp_path)).collect()
    }
    assert got["A"]["auc"] == 1.0
    assert (got["A"]["n_pos"], got["A"]["n_neg"]) == (5, 5)
    assert got["B"]["auc"] == 0.5


def test_auc_matches_pairwise_definition(spark, sf_dir):
    """On real data the rank-statistic AUC must equal the O(P*N)
    pairwise definition: mean over (pos, neg) pairs of
    1[s_p > s_n] + 0.5*1[s_p = s_n]."""
    import duckdb

    got = {
        r["cohort"]: r["auc"]
        for r in load_catalog()["eval_auc_mannwhitney"].fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = dict(
        con.execute(
            """
            WITH l AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
                     value AS s,
                     event_type = 'purchase' AS y
              FROM events
            )
            SELECT p.cohort,
                   round(avg(CASE WHEN p.s > n.s THEN 1.0
                                  WHEN p.s = n.s THEN 0.5
                                  ELSE 0.0 END), 6)
            FROM l p JOIN l n ON p.cohort = n.cohort
            WHERE p.y AND NOT n.y
            GROUP BY p.cohort
            """
        ).fetchall()
    )
    assert got == want


def test_dp_noise_is_bounded_and_deterministic(spark, tmp_path):
    """Seeded Laplace noise: |noisy - true| <= b*ln(1e6), reproducible
    across runs, and distinct groups draw distinct noise."""
    rows = [(i, "x", "en", "src0", 1) for i in range(100)] + [
        (200 + i, "x", "de", "src1", 1) for i in range(40)
    ]
    write_docs(spark, tmp_path, rows)
    fn = load_catalog()["dp_noisy_group_counts"].fn
    out1 = {(r["lang"], r["source"]): r["noisy_n"] for r in fn(spark, str(tmp_path)).collect()}
    out2 = {(r["lang"], r["source"]): r["noisy_n"] for r in fn(spark, str(tmp_path)).collect()}
    assert out1 == out2  # seeded -> reproducible release
    true = {("en", "src0"): 100, ("de", "src1"): 40}
    bound = math.log(1e6) + 1e-9
    noises = []
    for k, v in out1.items():
        noise = v - true[k]
        assert abs(noise) <= bound, (k, noise)
        noises.append(round(noise, 3))
    assert noises[0] != noises[1]  # per-group keys -> independent draws


def test_funnel_regex_matches_and_error_aborts(spark, tmp_path):
    """view->click->purchase converts; view->ERROR->purchase does not;
    a >30-min gap splits the session so the pattern cannot span it."""
    rows = [
        # user 1, one session: v c p => converted
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:01:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 10:02:00", 1, "purchase", 1.0, "{}"),
        # user 2, one session: v e p => error aborts the funnel
        (4, "2024-01-01 10:00:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-01 10:01:00", 2, "error", 1.0, "{}"),
        (6, "2024-01-01 10:02:00", 2, "purchase", 1.0, "{}"),
        # user 3: view, then purchase 31 min later => session split, no match
        (7, "2024-01-01 10:00:00", 3, "view", 1.0, "{}"),
        (8, "2024-01-01 10:31:00", 3, "purchase", 1.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    out = load_catalog()["seq_pattern_funnel"].fn(spark, str(tmp_path)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert [(r["seq"], r["funnel_hit"], r["converted"]) for r in by_user[1]] == [
        ("vcp", "vcp", 1)
    ]
    assert [(r["seq"], r["funnel_hit"], r["converted"]) for r in by_user[2]] == [
        ("vep", "", 0)
    ]
    assert [(r["sid"], r["seq"], r["converted"]) for r in by_user[3]] == [
        (1, "v", 0),
        (2, "p", 0),
    ]


def test_hll_estimate_tracks_exact_and_merges(spark, sf_dir):
    """Portable HLL: every group's estimate within 25% of exact (m=256
    => ~6.5% standard error), and the '__all__' merged row covers the
    union (exact side: event_ids are globally unique)."""
    rows = load_catalog()["sketch_hll_portable"].fn(spark, sf_dir).collect()
    by_type = {r["event_type"]: r for r in rows}
    assert "__all__" in by_type
    per_type_sum = sum(
        r["n_exact"] for t, r in by_type.items() if t != "__all__"
    )
    assert by_type["__all__"]["n_exact"] == per_type_sum
    for t, r in by_type.items():
        rel_err = abs(r["hll_est"] - r["n_exact"]) / r["n_exact"]
        assert rel_err < 0.25, (t, r)


def test_weighted_median_follows_units_not_rows(spark, tmp_path):
    """One heavy line (qty 10) must pull the weighted median to its
    price even though the row-median of prices is lower."""
    order_parts = []  # reuse lineitem writer with explicit quantities
    rows = [
        # flag A: prices 1,2 at qty 1; price 3 at qty 10 -> median 3.0
        (1, 1, 1, 0, 1.0, 1.0, 0.0, 0.0, "A", "O", "1995-01-01"),
        (1, 2, 1, 1, 1.0, 2.0, 0.0, 0.0, "A", "O", "1995-01-01"),
        (1, 3, 1, 2, 10.0, 3.0, 0.0, 0.0, "A", "O", "1995-01-01"),
        # flag B: equal weights -> lower-median convention picks 5.0
        (2, 4, 1, 0, 1.0, 5.0, 0.0, 0.0, "B", "O", "1995-01-01"),
        (2, 5, 1, 1, 1.0, 6.0, 0.0, 0.0, "B", "O", "1995-01-01"),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r["l_returnflag"]: (r["weighted_median"], r["total_weight"])
        for r in load_catalog()["weighted_median_price"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (3.0, 12), "B": (5.0, 2)}


def test_islands_split_on_calendar_gaps(spark, tmp_path):
    """Consecutive days merge into one island; a single missing day
    splits; duplicate events on one day count once."""
    rows = [
        (1, "2024-01-01 09:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 17:00:00", 1, "click", 1.0, "{}"),  # same day
        (3, "2024-01-02 09:00:00", 1, "view", 1.0, "{}"),
        (4, "2024-01-03 09:00:00", 1, "view", 1.0, "{}"),
        # Jan 4 missing -> island break
        (5, "2024-01-05 09:00:00", 1, "view", 1.0, "{}"),
        (6, "2024-03-01 09:00:00", 2, "view", 1.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = [
        (r["user_id"], str(r["start_day"]), str(r["end_day"]), r["n_days"])
        for r in load_catalog()["user_activity_islands"].fn(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, "2024-01-01", "2024-01-03", 3),
        (1, "2024-01-05", "2024-01-05", 1),
        (2, "2024-03-01", "2024-03-01", 1),
    ]


# stream_static_enrich is value-certified by its DuckDB oracle (parity)
# and by tests/test_streaming.py::test_stream_static_enrichment_equals_batch,
# which compares the drained stream against the batch join on real data.
def test_ndcg_perfect_ordering_is_one_and_inversion_penalized(spark, tmp_path):
    """A user whose value-ranking matches relevance exactly scores
    ndcg=1; the same relevance multiset ranked WORST scores the
    hand-computed minimum; an all-zero-relevance user scores 0."""
    rows = [
        # user 2 (cohort irrelevant here): perfect order p > c > v
        (1, "2024-01-01 00:00:00", 2, "purchase", 30.0, "{}"),
        (2, "2024-01-01 00:00:00", 2, "click", 20.0, "{}"),
        (3, "2024-01-01 00:00:00", 2, "view", 10.0, "{}"),
        # user 3: worst order v > c > p
        (4, "2024-01-01 00:00:00", 3, "view", 30.0, "{}"),
        (5, "2024-01-01 00:00:00", 3, "click", 20.0, "{}"),
        (6, "2024-01-01 00:00:00", 3, "purchase", 10.0, "{}"),
        # user 4: nothing relevant
        (7, "2024-01-01 00:00:00", 4, "error", 30.0, "{}"),
        (8, "2024-01-01 00:00:00", 4, "signup", 20.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: r
        for r in load_catalog()["eval_ndcg_at_k"].fn(spark, str(tmp_path)).collect()
    }
    assert got[2]["ndcg"] == 1.0
    disc = [1 / math.log2(i + 1) for i in range(1, 4)]
    dcg_worst = 1 * disc[0] + 3 * disc[1] + 7 * disc[2]
    idcg = 7 * disc[0] + 3 * disc[1] + 1 * disc[2]
    assert got[3]["ndcg"] == round(dcg_worst / idcg, 6)
    assert got[3]["ndcg"] < 1.0
    assert got[4]["ndcg"] == 0.0 and got[4]["idcg"] == 0.0


def test_calibration_bins_recover_planted_rates(spark, tmp_path):
    """Events planted so one bin is perfectly calibrated (frac_pos ==
    mean_p within the bin) and another is maximally miscalibrated
    (high p, zero positives) with the Brier gap to prove it."""
    # value=35 -> p=0.5 exactly (bin 5); 2 of 4 are purchases
    rows = [
        (1, "2024-01-01 00:00:00", 1, "purchase", 35.0, "{}"),
        (2, "2024-01-01 00:00:00", 1, "purchase", 35.0, "{}"),
        (3, "2024-01-01 00:00:00", 1, "view", 35.0, "{}"),
        (4, "2024-01-01 00:00:00", 1, "view", 35.0, "{}"),
        # value=95 -> p=sigmoid(3)=0.952574 (bin 9); zero purchases
        (5, "2024-01-01 00:00:00", 2, "view", 95.0, "{}"),
        (6, "2024-01-01 00:00:00", 2, "view", 95.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = {
        r["bin"]: r
        for r in load_catalog()["eval_calibration_bins"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {5, 9}
    b5 = got[5]
    assert (b5["n"], b5["mean_p"], b5["frac_pos"]) == (4, 0.5, 0.5)
    assert b5["brier"] == 0.25  # (0.5-y)^2 = 0.25 for every row
    b9 = got[9]
    p9 = round(1 / (1 + math.exp(-3.0)), 6)
    assert (b9["n"], b9["mean_p"], b9["frac_pos"]) == (2, p9, 0.0)
    assert b9["brier"] == round(p9 * p9, 6)  # confident and wrong


def test_degree_powerlaw_star_graph(spark, tmp_path):
    """A 5-leaf star (every edge at support 2): hub degree 5, leaves
    degree 1, Hill tail holds exactly the hub."""
    # edges hub(0)-leaf(i): two orders each containing {0, i}
    order_parts = []
    ok = 1
    for leaf in range(1, 6):
        order_parts += [(ok, [0, leaf]), (ok + 1, [0, leaf])]
        ok += 2
    _write_lineitem(spark, tmp_path, order_parts)
    row = load_catalog()["graph_degree_powerlaw"].fn(spark, str(tmp_path)).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["max_degree"], row["n_tail"]) == (
        6, 5, 5, 1
    )
    assert row["alpha_hill"] == round(1 + 1 / round(math.log(5 / 1.5), 9), 4)


def test_vocab_overlap_identical_and_disjoint_sources(spark, tmp_path):
    """Identical token sets give Jaccard 1.0; disjoint sets give 0."""
    rows = [
        (1, "x y", "en", "srcA", 3),
        (2, "y x x", "en", "srcB", 5),
        (3, "z", "en", "srcC", 1),
    ]
    write_docs(spark, tmp_path, rows)
    got = {
        (r["source_a"], r["source_b"]): (r["n_inter"], r["jaccard"])
        for r in load_catalog()["source_vocab_overlap"].fn(spark, str(tmp_path)).collect()
    }
    assert got[("srcA", "srcB")] == (2, 1.0)
    assert ("srcA", "srcC") not in got  # zero intersection -> no pair row


def test_quantile_normalize_aligns_group_marginals(spark, tmp_path):
    """After normalization, a low-scale and a high-scale group map onto
    the SAME global quantile values — their marginals coincide."""
    rows = [
        (1, 1, "O", 1.0, "1995-01-01", "U"),
        (2, 1, "O", 2.0, "1995-01-01", "U"),
        (3, 1, "O", 3.0, "1995-01-01", "U"),
        (4, 1, "O", 100.0, "1995-01-01", "V"),
        (5, 1, "O", 200.0, "1995-01-01", "V"),
        (6, 1, "O", 300.0, "1995-01-01", "V"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["quantile_normalize_groups"].fn(spark, str(tmp_path)).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["normalized_price"])
    assert sorted(by_grp["U"]) == sorted(by_grp["V"])  # aligned marginals
    # rank order within each group is preserved
    u = {r["price"]: r["normalized_price"] for r in out if r["grp"] == "U"}
    assert u[1.0] < u[2.0] < u[3.0]


def test_bootstrap_ci_brackets_true_mean_and_is_deterministic(spark, tmp_path):
    """Planted tight distribution: the CI must bracket the true mean,
    stay narrow, and reproduce exactly across runs (seeded draws)."""
    rows = [
        (i, 1, "O", 100.0 + (i % 5), "1995-01-01", "P1") for i in range(200)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    fn = load_catalog()["bootstrap_mean_ci"].fn
    r1 = fn(spark, str(tmp_path)).collect()
    r2 = fn(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    row = r1[0]
    true_mean = sum(100.0 + (i % 5) for i in range(200)) / 200
    assert row["ci_lo"] <= true_mean <= row["ci_hi"]
    assert row["ci_hi"] - row["ci_lo"] < 1.0  # sd~1.4, n=200 -> tight CI


def test_decay_weights_recent_revenue_more(spark, tmp_path):
    """Same total spend: the customer whose orders are recent must
    outscore the one whose orders are years old."""
    rows = [
        # anchor order fixes max(o_orderdate)
        (1, 1, "O", 1000.0, "2000-01-01", "P1"),
        # customer 2: same 1000 but 3 years before the anchor
        (2, 2, "O", 1000.0, "1997-01-01", "P1"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["o_custkey"]: r["decayed_revenue"]
        for r in load_catalog()["decay_weighted_revenue"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1] == 1000.0  # zero age -> weight exactly 1
    import datetime

    age = (datetime.date(2000, 1, 1) - datetime.date(1997, 1, 1)).days
    assert got[2] == round(round(1000.0 * math.exp(-age / 180.0), 6), 2)
    assert got[2] < got[1]


def test_minplus_strong_ties_beat_direct_weak_edge(spark, tmp_path):
    """Triangle 1-2-3 where the direct 1-3 edge is weak (support 2,
    cost 99) but the 1-2-3 path is strong (support 50 each, cost 51+51
    = 102 > 99? no — make supports high enough that 2 hops win)."""
    order_parts = []
    ok = 1
    # edge 1-2 and 2-3: support 70 each -> cost 31 each, path = 62
    for _ in range(70):
        order_parts += [(ok, [1, 2]), (ok + 1, [2, 3])]
        ok += 2
    # direct edge 1-3: support 2 -> cost 99
    order_parts += [(ok, [1, 3]), (ok + 1, [1, 3])]
    _write_lineitem(spark, tmp_path, order_parts)
    got = {
        r["node"]: r["dist"]
        for r in load_catalog()["graph_minplus_distance"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1] == 0
    assert got[2] == 31  # 101 - min(70,100)
    assert got[3] == 62  # 2-hop strong path beats the 99-cost direct edge


def test_xcorr_perfect_lag_alignment(spark, tmp_path):
    """Purchases exactly mirror views shifted by 2 days: corr at lag 2
    must be 1.0 and corr at lag 0 must be below it."""
    rows = []
    eid = 1
    # views ramp 1,2,...,10 on days 1..10; purchases same ramp days 3..12
    for day in range(1, 11):
        for _ in range(day):
            rows.append((eid, f"2024-01-{day:02d} 08:00:00", 1, "view", 1.0, "{}"))
            eid += 1
    for day in range(3, 13):
        for _ in range(day - 2):
            rows.append((eid, f"2024-01-{day:02d} 09:00:00", 1, "purchase", 1.0, "{}"))
            eid += 1
    write_events(spark, tmp_path, rows)
    got = {
        r["lag"]: r["xcorr"]
        for r in load_catalog()["xcorr_daily_lags"].fn(spark, str(tmp_path)).collect()
    }
    assert got[2] == 1.0
    assert got[0] < 1.0


def test_position_attribution_u_shape(spark, tmp_path):
    """4-touch journey view,click,signup,view before purchase: ends get
    0.4 each, middles 0.1 each -> view 0.8 (both ends), rest 0.1."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:01:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 10:02:00", 1, "signup", 1.0, "{}"),
        (4, "2024-01-01 10:03:00", 1, "view", 1.0, "{}"),
        (5, "2024-01-01 10:04:00", 1, "purchase", 1.0, "{}"),
        # post-conversion touches earn nothing
        (6, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
        # single-touch journey: 100% to error? no — errors count as touches
        (7, "2024-01-02 10:00:00", 2, "error", 1.0, "{}"),
        (8, "2024-01-02 10:01:00", 2, "purchase", 1.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: r["total_credit"]
        for r in load_catalog()["attribution_position_based"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"view": 0.8, "click": 0.1, "signup": 0.1, "error": 1.0}


def test_bollinger_flags_spike_only(spark, tmp_path):
    """Flat revenue never breaks the band; a 10x single-day spike does."""
    rows = []
    ok = 1
    for day in range(1, 15):
        price = 1000.0 if day != 10 else 10000.0
        rows.append((ok, 1, "O", price, f"1995-01-{day:02d}", "P1"))
        ok += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["rolling_bollinger_bands"].fn(spark, str(tmp_path)).collect()
    breaks = [str(r["day"]) for r in out if r["is_break"] == 1]
    assert breaks == ["1995-01-10"]  # only the spike day breaks the band
    flat = [r for r in out if str(r["day"]) == "1995-01-05"][0]
    assert flat["ma"] == 1000.0 and flat["upper_band"] == 1000.0  # sd=0 window


def test_seasonality_index_is_one_when_flat(spark, tmp_path):
    """Identical order values on every weekday give seasonal_index 1.0
    for all seven rows."""
    rows = [
        (i, 1, "O", 500.0, f"1995-01-{i:02d}", "P1") for i in range(1, 29)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["seasonality_dow_profile"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 7
    assert all(r["seasonal_index"] == 1.0 for r in out)
    assert sorted(r["dow"] for r in out) == [1, 2, 3, 4, 5, 6, 7]


def test_label_centroids_exact_mean(spark, tmp_path):
    """Two vectors per label: every centroid component is the exact
    midpoint, across all 64 dims."""
    base = [0.5] * 64
    high = [1.5] * 64
    rows = [(1, base, 0), (2, high, 0), (3, base, 1), (4, base, 1)]
    _write_embeddings(spark, tmp_path, rows)
    out = load_catalog()["embedding_label_centroids"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 128  # 2 labels x 64 dims
    for r in out:
        assert r["n"] == 2
        assert r["centroid"] == (1.0 if r["label"] == 0 else 0.5)


def test_label_noise_flags_planted_mislabel(spark, tmp_path):
    """Six near-identical vectors, one labeled differently: only the
    odd one out is flagged, with a unanimous 5-vote majority."""
    def vec(eps):
        return [1.0 + eps] + [0.25] * 63

    rows = [(i, vec(0.001 * i), 1) for i in range(5)] + [(99, vec(0.006), 2)]
    # a far-away, consistently-labeled pair must NOT be flagged (the
    # big negative lead component lands it in a different LSH bucket)
    rows += [(200, [-9.0] + [0.1] * 63, 3), (201, [-9.0] + [0.1] * 63, 3)]
    _write_embeddings(spark, tmp_path, rows)
    out = load_catalog()["label_noise_knn_audit"].fn(spark, str(tmp_path)).collect()
    assert [(r["vec_id"], r["label"], r["majority_label"], r["n_votes"]) for r in out] == [
        (99, 2, 1, 5)
    ]


def test_km_survival_handles_censoring(spark, tmp_path):
    """4 customers: two repurchase at t=10, one at t=20, one censored at
    t=15. KM: S(10) = 1 - 2/4 = 0.5; at t=20 risk set is 1 (censored
    customer left at 15), S(20) = 0.5 * (1 - 1/1) -> excluded (d=n),
    so the curve ends at t=10. A naive uncensored mean would differ."""
    rows = [
        # customer 1 & 2: first 1995-01-01, second 1995-01-11 (t=10)
        (1, 1, "O", 10.0, "1995-01-01", "P"),
        (2, 1, "O", 10.0, "1995-01-11", "P"),
        (3, 2, "O", 10.0, "1995-01-01", "P"),
        (4, 2, "O", 10.0, "1995-01-11", "P"),
        # customer 3: first 1995-01-01, second 1995-01-21 (t=20)
        (5, 3, "O", 10.0, "1995-01-01", "P"),
        (6, 3, "O", 10.0, "1995-01-21", "P"),
        # customer 4: one order 1995-01-06; censored at horizon
        # (1995-01-21), duration 15, no event
        (7, 4, "O", 10.0, "1995-01-06", "P"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["survival_repurchase_curve"].fn(spark, str(tmp_path)).collect()
    assert [(r["t_days"], r["n_risk"], r["d_events"], r["survival"]) for r in out] == [
        (10, 4, 2, 0.5)
    ]


def test_holt_tracks_linear_trend_exactly_in_the_limit(spark, tmp_path):
    """A perfectly linear monthly series: Holt's level converges to the
    last value and trend to the slope, so forecasts continue the line."""
    rows = []
    for i in range(24):
        y, mth = divmod(i, 12)
        rows.append(
            (i, 1, "O", 1000.0 + 100.0 * i, f"{1995 + y}-{mth + 1:02d}-15", "P")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["holt_linear_forecast"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 6
    by_h = {r["h"]: r for r in out}
    last = 1000.0 + 100.0 * 23
    # after 24 points of a pure line, level ~ last value, trend ~ slope
    assert abs(by_h[1]["level"] - last) < 20.0
    assert abs(by_h[1]["trend"] - 100.0) < 10.0
    # forecasts increase by ~trend per step
    assert by_h[6]["forecast"] > by_h[1]["forecast"]
    step = by_h[2]["forecast"] - by_h[1]["forecast"]
    assert abs(step - by_h[1]["trend"]) < 0.02


def test_mann_kendall_detects_monotone_trend(spark, tmp_path):
    """A strictly increasing monthly series: S = n(n-1)/2 (every pair
    concordant), positive z, Sen slope = the planted step."""
    rows = []
    for i in range(12):
        rows.append((i, 1, "O", 1000.0 + 50.0 * i, f"1995-{i + 1:02d}-15", "P"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    row = load_catalog()["trend_mann_kendall"].fn(spark, str(tmp_path)).collect()[0]
    n = 12
    assert row["n_months"] == n
    assert row["s_stat"] == n * (n - 1) // 2  # all pairs concordant
    assert row["var18_num"] == n * (n - 1) * (2 * n + 5)
    assert row["z_stat"] > 3.0  # decisively significant
    assert row["sen_slope"] == 50.0  # every pairwise slope is the step


def test_fd_discovery_key_holds_and_planted_violation(spark, tmp_path):
    """The key column determines everything; a planted duplicate name
    mapping to two custkeys breaks name->custkey but nothing else new."""
    rows = [
        (1, "Alice", 10, 5.0, "SEG_A"),
        (2, "Bob", 10, 6.0, "SEG_A"),
        (3, "Alice", 20, 7.0, "SEG_B"),  # Alice -> {1, 3}: FD violated
    ]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        r["fd"]: (r["n_violating"], r["holds"])
        for r in load_catalog()["fd_discovery_profile"].fn(spark, str(tmp_path)).collect()
    }
    assert len(got) == 20
    # the key determines every other column
    for rhs in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"):
        assert got[f"c_custkey->{rhs}"] == (0, 1)
    # planted: Alice maps to two custkeys and two nations
    assert got["c_name->c_custkey"] == (1, 0)
    assert got["c_name->c_nationkey"] == (1, 0)
    # nationkey 10 -> one segment, 20 -> one segment: FD holds here
    assert got["c_nationkey->c_mktsegment"] == (0, 1)


def test_l_diversity_flags_homogeneous_class(spark, tmp_path):
    """A large-but-homogeneous QI class (k-anonymous, all one segment)
    must be flagged; a small diverse class must pass."""
    rows = [(i, f"C{i}", 10, 0.0, "SEG_A") for i in range(20)]  # nation 10: 20 rows, 1 segment
    rows += [(100, "X", 20, 0.0, "SEG_A"), (101, "Y", 20, 0.0, "SEG_B"),
             (102, "Z", 20, 0.0, "SEG_C")]  # nation 20: 3 rows, 3 segments
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        r["c_nationkey"]: (r["group_size"], r["n_sensitive"], r["at_risk"])
        for r in load_catalog()["l_diversity_audit"].fn(spark, str(tmp_path)).collect()
    }
    assert got[10] == (20, 1, True)  # big but homogeneous -> leak
    assert got[20] == (3, 3, False)  # small but diverse -> safe here


def test_peak_concurrency_counts_overlap_and_touching(spark, tmp_path):
    """Three users: two fully overlapping sessions plus one that starts
    exactly when another ends — pinned tie order counts the touching
    pair as concurrent, so the peak is 3."""
    rows = [
        # user 1: session 10:00-10:10
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 1, "click", 1.0, "{}"),
        # user 2: session 10:05-10:15 (overlaps user 1)
        (3, "2024-01-01 10:05:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-01 10:15:00", 2, "click", 1.0, "{}"),
        # user 3: session starting exactly at user 1's end
        (5, "2024-01-01 10:10:00", 3, "view", 1.0, "{}"),
        (6, "2024-01-01 10:12:00", 3, "click", 1.0, "{}"),
        # next day: one lone session -> peak 1
        (7, "2024-01-02 09:00:00", 1, "view", 1.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = {
        str(r["day"]): (r["peak_concurrent"], r["n_ticks"])
        for r in load_catalog()["events_peak_concurrency"].fn(spark, str(tmp_path)).collect()
    }
    assert got["2024-01-01"] == (3, 6)
    assert got["2024-01-02"] == (1, 2)


def test_share_of_parent_sums_to_one(spark, sf_dir):
    """Within every region the nation shares sum to 1, and the total
    shares sum to 1 across all rows (up to rounding)."""
    out = load_catalog()["share_of_parent_rollup"].fn(spark, sf_dir).collect()
    assert len(out) == 25
    by_region = {}
    for r in out:
        by_region.setdefault(r["region"], []).append(r["share_of_region"])
    for region, shares in by_region.items():
        assert abs(sum(shares) - 1.0) < 1e-4, region
    assert abs(sum(r["share_of_total"] for r in out) - 1.0) < 1e-4


def test_ndcg_ideal_set_includes_items_below_cutoff(spark, tmp_path):
    """A purchase ranked 11th (outside the top-10) must raise IDCG and
    drag nDCG below 1 even though the retrieved top-10 is ordered
    perfectly among themselves."""
    rows = [
        (i, "2024-01-01 00:00:00", 2, "view", 100.0 - i, "{}")
        for i in range(10)  # ranks 1..10: all views (gain 1)
    ]
    rows.append((99, "2024-01-01 00:00:00", 2, "purchase", 1.0, "{}"))  # rank 11
    write_events(spark, tmp_path, rows)
    row = load_catalog()["eval_ndcg_at_k"].fn(spark, str(tmp_path)).collect()[0]
    disc = [1 / math.log2(i + 1) for i in range(1, 11)]
    dcg = sum(1 * d for d in disc)  # ten views retrieved
    idcg = 7 * disc[0] + sum(1 * d for d in disc[1:])  # ideal: purchase first
    assert row["n_ranked"] == 10
    assert row["ndcg"] == round(round(dcg, 6) / round(idcg, 6), 6) or row["ndcg"] == round(dcg / idcg, 6)
    assert row["ndcg"] < 1.0


def test_fellegi_sunter_weights_separate_fields(spark, sf_dir):
    rows = {
        r["field"]: r
        for r in load_catalog()["er_fellegi_sunter_em"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"prior", "name", "type", "size", "price_band"}
    for r in rows.values():
        assert 0 <= r["m_micro"] <= 1_000_000
        assert 0 <= r["u_micro"] <= 1_000_000
    # EM must learn that name agreement is informative: matches agree on
    # name far more often than non-matches (m >> u), i.e. the m/u ratio
    # exceeds 1 — the minimum property any usable linkage model has
    name = rows["name"]
    assert name["m_micro"] > name["u_micro"]
    assert name["mu_ratio_milli"] is None or name["mu_ratio_milli"] > 1000


def test_bleu_corpus_precisions_decline_and_bp_binds(spark, sf_dir):
    """Candidate = reference minus every 5th token: unigram precision
    is exactly 1 (candidate tokens are a sub-multiset), higher-order
    precisions strictly decline (dropped positions splice novel
    n-grams), and the brevity penalty binds (candidate shorter)."""
    rows = load_catalog()["eval_bleu_corpus"].fn(spark, sf_dir).collect()
    assert rows
    import math

    for r in rows:
        assert r["c_len"] < r["r_len"]
        assert r["p1"] == 1.0
        assert 0 < r["p4"] < r["p3"] < r["p2"] < r["p1"]
        geo = math.exp(
            sum(math.log(r[f"p{k}"]) for k in (1, 2, 3, 4)) / 4.0
        )
        bp = math.exp(1.0 - r["r_len"] / r["c_len"])
        assert abs(r["bleu"] - bp * geo) < 5e-3  # vs rounded p_k inputs
        assert 0.0 < r["bleu"] < 1.0


def test_ks_statistic_bounds_and_definition(spark, sf_dir):
    """0 <= D <= 1, and the integer numerator reproduces D exactly."""
    r = load_catalog()["ks_test_two_sample"].fn(spark, sf_dir).collect()[0]
    assert r["n1"] > 0 and r["n2"] > 0
    assert 0.0 <= r["ks_d"] <= 1.0
    assert abs(r["ks_d"] - round(r["d_num"] / (r["n1"] * r["n2"]), 6)) < 1e-12


def test_ks_disjoint_distributions_hit_d_equals_one(spark, tmp_path):
    """Plant two segments with non-overlapping price ranges: the KS
    supremum must be exactly 1 (d_num == n1*n2) — the statistic's
    defining extreme."""
    cust = [(i, f"c{i}", 0, 0.0, "BUILDING" if i < 40 else "MACHINERY")
            for i in range(100)]
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    orders = [
        (i, i, "F", 10.0 + i if i < 40 else 5000.0 + i, "2024-01-01", "1-URGENT")
        for i in range(100)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    r = load_catalog()["ks_test_two_sample"].fn(spark, str(tmp_path)).collect()[0]
    assert (r["n1"], r["n2"]) == (40, 60)
    assert r["d_num"] == 40 * 60 and r["ks_d"] == 1.0


def test_cusum_identity_matches_recursive_fold(spark, tmp_path):
    """The prefix-min rewrite must equal the textbook recursion
    S_t = max(0, S_{t-1} + x_t - k), checked day by day on a planted
    series with a mid-stream upward shift; flat days before the shift
    carry S=0 and no flags, the shifted tail flags."""
    # 10 days at $100, then 10 days at $300 -> k lands between the
    # regimes and the tail accumulates
    orders = []
    oid = 0
    for day in range(1, 21):
        price = 100.0 if day <= 10 else 300.0
        orders.append((oid, oid, "F", price, f"2024-01-{day:02d}", "1-URGENT"))
        oid += 1
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    rows = load_catalog()["cusum_revenue_shift"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 20
    # recursive reference in exact integers
    k = (10 * 10_000 + 10 * 30_000) // 20
    s_ref, flags_ref = [], []
    s = 0
    for day in range(1, 21):
        x = 10_000 if day <= 10 else 30_000
        s = max(0, s + x - k)
        s_ref.append(s)
        flags_ref.append(s > k)
    assert [r["s_cents"] for r in rows] == s_ref
    assert [r["flagged"] for r in rows] == flags_ref
    assert not any(flags_ref[:10]) and flags_ref[-1]


def test_spearman_planted_monotone_inverse_and_constant(spark, tmp_path):
    """Monotone segment -> rho=1, inverse segment -> rho=-1 (both exact
    despite balance ties handled via midranks), zero-variance segment
    -> NULL."""
    cust, orders, oid = [], [], 0

    def add(custkey, seg, bal, n_orders):
        nonlocal oid
        cust.append((custkey, f"c{custkey}", 0, bal, seg))
        for _ in range(n_orders):
            orders.append((oid, custkey, "F", 10.0, "2024-01-01", "1-URGENT"))
            oid += 1

    for k in range(6):  # MONO: higher balance -> more orders
        add(k, "MONO", 100.0 + k, k + 1)
    for k in range(6):  # INV: higher balance -> fewer orders
        add(100 + k, "INV", 100.0 + k, 6 - k)
    for k in range(4):  # FLAT: y constant -> zero variance -> NULL
        add(200 + k, "FLAT", 100.0 + k, 3)
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    rows = {
        r["segment"]: r
        for r in load_catalog()["eval_spearman_corr"].fn(spark, str(tmp_path)).collect()
    }
    assert rows["MONO"]["spearman_rho"] == 1.0
    assert rows["INV"]["spearman_rho"] == -1.0
    assert rows["FLAT"]["spearman_rho"] is None


def test_pass_at_k_estimator_values(spark, tmp_path):
    """Planted tasks with known (n, c): n=4,c=1 -> 1 - C(3,3)/C(4,3) =
    0.75; n=3,c=0 -> 0; n=3,c=3 -> 1. One priority per task keeps the
    groups separable."""
    orders, lines = [], []
    specs = [("1-URGENT", 4, 1), ("2-HIGH", 3, 0), ("3-MEDIUM", 3, 3)]
    lid = 0
    for oid, (prio, n, c) in enumerate(specs):
        orders.append((oid, 0, "F", 1.0, "2024-01-01", prio))
        for i in range(n):
            qty = 30.0 if i < c else 1.0
            lines.append((oid, lid, 1, 1, qty, 10.0, 0.0, 0.0, "N", "O", "2024-01-02"))
            lid += 1
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    rows = {
        r["priority"]: r["pass_at_k"]
        for r in load_catalog()["eval_pass_at_k"].fn(spark, str(tmp_path)).collect()
    }
    assert rows == {"1-URGENT": 0.75, "2-HIGH": 0.0, "3-MEDIUM": 1.0}


def test_cohens_kappa_known_table(spark, tmp_path):
    """Hand-checkable contingency: labels derive from n_chars % 3 and
    (n_chars + doc_id) % 3 — choose rows so annotators agree on 2 of 4
    docs with known marginals: po=0.5, pe=(2*2 + 1*1 + 1*1)/16=0.375,
    kappa=(0.5-0.375)/(1-0.375)=0.2."""
    # (doc_id, n_chars): ann_a = n_chars%3, ann_b = (n_chars+doc_id)%3
    rows = [(0, 3), (3, 3), (1, 1), (2, 2)]
    # a: 0,0,1,2  b: 0,0,2,1 -> agree 2; a-marg (2,1,1), b-marg (2,1,1)
    spark.createDataFrame(
        [(d, "x" * n, "en", "s", n) for d, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = load_catalog()["eval_cohens_kappa"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["p_observed"], r["p_expected"], r["kappa"]) == (0.5, 0.375, 0.2)


def test_bradley_terry_dominant_source_wins(spark, tmp_path):
    """A source whose docs are always longer must come out with the
    highest strength; strengths are positive and sum to ~1."""
    docs = []
    for i in range(60):
        src = ("big", "mid", "small")[i % 3]
        n = {"big": 300 + i, "mid": 200 + i, "small": 100 + i}[src]
        docs.append((i, "t", "en", src, n))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = load_catalog()["rank_bradley_terry"].fn(spark, str(tmp_path)).collect()
    assert [r["source"] for r in rows][0] == "big"
    total = sum(r["strength"] for r in rows)
    assert abs(total - 1.0) < 1e-4
    assert rows[0]["strength"] > rows[-1]["strength"]


def test_mcnemar_discordant_counts_and_significance(spark, tmp_path):
    """30 docs with n_chars = doc_id: a_ok = id%5 in {0,1,2} (18 true),
    b_ok = id%3 in {0,1} (20 true). Discordants: b = a and not b,
    c = b and not a — hand-enumerated below; chi2 = (b-c)^2/(b+c)."""
    ids = list(range(30))
    b = sum(1 for i in ids if i % 5 in (0, 1, 2) and i % 3 == 2)
    c = sum(1 for i in ids if i % 5 in (3, 4) and i % 3 in (0, 1))
    spark.createDataFrame(
        [(i, "t", "en", "s", i) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = load_catalog()["eval_mcnemar_test"].fn(spark, str(tmp_path)).collect()[0]
    assert (r["b_discordant"], r["c_discordant"]) == (b, c)
    assert r["chi2_statistic"] == round((b - c) ** 2 / (b + c), 6)
    assert r["significant_05"] is False  # b+c < 25 on 30 docs


def test_f1_identity_on_planted_confusion(spark, tmp_path):
    """Planted verdicts with a known 3x3 confusion matrix; F1 must equal
    2tp/(2tp+fp+fn) per class, cross-checked against sklearn-style
    hand computation."""
    rows, did = [], 0
    # (y_true, y_pred, count): y_true=n%3, y_pred=(n+d)%3 -> choose n, d
    for y_true, y_pred, count in [(0, 0, 5), (0, 1, 2), (1, 1, 4), (2, 0, 3), (2, 2, 6)]:
        for _ in range(count):
            n = [3, 4, 5][y_true]  # n % 3 == y_true
            d = (y_pred - n) % 3
            while d < did:  # keep doc_ids unique with d % 3 preserved
                d += 3
            rows.append((d, "t", "en", "s", n))
            did = d + 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["cls"]: r for r in load_catalog()["eval_f1_per_class"].fn(spark, str(tmp_path)).collect()}
    # class 0: tp=5 fp=3 fn=2 -> f1 = 10/15; class 1: tp=4 fp=2 fn=0;
    # class 2: tp=6 fp=0 fn=3
    assert (out[0]["tp"], out[0]["fp"], out[0]["fn"]) == (5, 3, 2)
    assert out[0]["f1"] == round(10 / 15, 6)
    assert (out[1]["tp"], out[1]["fp"], out[1]["fn"]) == (4, 2, 0)
    assert out[1]["f1"] == round(8 / 10, 6)
    assert (out[2]["tp"], out[2]["fp"], out[2]["fn"]) == (6, 0, 3)
    assert out[2]["f1"] == round(12 / 15, 6)


def test_minplus_fixpoint_idempotent_inside_oracle_unroll(spark):
    """The fixpoint result at sf0.001 must equal an explicit
    MINPLUS_FIXPOINT_ORACLE_ROUNDS-round bounded unrolling — proving
    convergence lands inside the oracle's unroll depth (rounds past the
    fixpoint are idempotent)."""
    from jaffle_shop_classic_spark.operators.mining import (
        KHOP_MIN_SUPPORT,
        MINPLUS_FIXPOINT_ORACLE_ROUNDS,
        _copurchase_pairs,
    )

    sf = "/root/testdata/sf0.001"
    fix = {
        (r["node"], r["dist"])
        for r in load_catalog()["graph_minplus_fixpoint"].fn(spark, sf).collect()
    }
    p = _copurchase_pairs(spark, sf, KHOP_MIN_SUPPORT).select(
        "pa", "pb", (101 - F.least(F.col("cnt"), F.lit(100))).cast("bigint").alias("w")
    )
    e = p.selectExpr("pa AS s", "pb AS t", "w").unionAll(
        p.selectExpr("pb AS s", "pa AS t", "w")
    )
    cur = e.agg(F.min("s").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(MINPLUS_FIXPOINT_ORACLE_ROUNDS):
        relaxed = (
            e.join(cur.hint("broadcast"), e["s"] == cur["node"])
            .select(F.col("t").alias("node"), (cur["dist"] + e["w"]).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        cur = relaxed.unionAll(cur).groupBy("node").agg(F.min("dist").alias("dist"))
        cur = cur.localCheckpoint(eager=False)
    bounded = {(r["node"], r["dist"]) for r in cur.collect()}
    assert fix == bounded


def test_kmv_intersection_exact_when_sets_fit_inside_k(spark, tmp_path):
    """With both distinct-user sets below k=256, theta covers the full
    hash domain, every common hash is retained, and the estimate
    DEGRADES TO EXACT: est == exact == |A ∩ B| (planted overlap 40)."""
    rows, eid = [], 0
    for u in range(100):  # viewers 0..99
        rows.append((eid, "2024-01-01 00:00:00", u, "view", 1.0, "{}")); eid += 1
    for u in range(60, 180):  # purchasers 60..179 -> overlap 60..99 = 40
        rows.append((eid, "2024-01-01 00:00:00", u, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type",
        "value", "props"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = load_catalog()["sketch_kmv_intersection"].fn(spark, str(tmp_path)).collect()[0]
    assert r["exact_intersection"] == 40
    assert r["n_retained"] == 40
    assert r["est_intersection"] == 40.0
    assert r["theta"] == 4294967296


# int64 headroom: a planted worst case at the documented bound
def test_pass_at_k_integer_exact_at_documented_headroom(spark, tmp_path):
    """pass@k millionths: the widest integer term is f*(f-1)*(f-2) with
    f <= n = samples per task, so int64 holds up to n = 2_097_151
    (n^3 < 2^63). Plant a single task at n = 2_000_000 (just inside the
    bound) and check the Spark value against exact Python arithmetic."""
    import datetime

    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    n, n_pass = 2_000_000, 3  # f = 1_999_997 -> f^3 ~ 8.0e18 < 2^63
    spark.createDataFrame(
        [(1, 1, "O", 10.0, datetime.datetime(1995, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    (
        spark.range(n)
        .select(
            F.lit(1).alias("l_orderkey"),
            # first n_pass lines have quantity >= 25 (the 'pass' rubric)
            F.when(F.col("id") < n_pass, 30.0).otherwise(1.0).alias("l_quantity"),
        )
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/lineitem.parquet")
    )
    rows = load_catalog()["eval_pass_at_k"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    f = n - n_pass
    # Mirror the operator's arithmetic exactly: it casts numerator and
    # denominator to double BEFORE dividing, which differs from Python
    # big-int true division by 1 ulp at n = 2e6 (round-11 advice).
    ratio = 1.0 - float(f * (f - 1) * (f - 2)) / float(n * (n - 1) * (n - 2))
    expected = round((ratio * 1_000_000 + 0.5) // 1 / 1_000_000, 6)
    assert rows[0]["pass_at_k"] == expected
    # the documented bound itself: max n whose cube fits int64
    assert 2_097_151**3 < 2**63 <= 2_097_152**3


def test_kmv_membership_flags_equal_per_type_distinct(spark, sf_dir):
    # sketch_kmv_intersection replan: one groupBy(h) with per-type
    # membership flags must yield the same two distinct hash sets as
    # the old per-event-type scan+distinct pipelines.
    from jaffle_shop_classic_spark.operators.mining import (
        load_table as load_mining,
    )

    ev = load_mining(spark, sf_dir, "events")
    h_expr = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    old_a = {
        r["h"]
        for r in ev.where(F.col("event_type") == "view")
        .select(h_expr)
        .distinct()
        .collect()
    }
    old_b = {
        r["h"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select(h_expr)
        .distinct()
        .collect()
    }
    base = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .select(h_expr, F.col("event_type").alias("et"))
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("et") == "view", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("et") == "purchase", 1).otherwise(0)).alias("in_b"),
        )
        .collect()
    )
    new_a = {r["h"] for r in base if r["in_a"] == 1}
    new_b = {r["h"] for r in base if r["in_b"] == 1}
    assert old_a == new_a and old_b == new_b
    assert len(new_a) > 0 and len(new_b) > 0


def test_symmetric_moments_equal_stacked_union(spark):
    # graph_degree_assortativity replan: one-pass symmetric moments
    # over (x, y) must equal the stacked-union aggregate exactly,
    # including the decimal-exact sxx/sxy before the double cast.
    ends = spark.createDataFrame(
        [(3, 7), (2, 2), (9, 1), (4, 6), (123456, 7890)], "x long, y long"
    )
    stacked = ends.unionByName(
        ends.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    old = stacked.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    ).collect()[0]
    new = ends.agg(
        (F.count(F.lit(1)) * 2).cast("bigint").alias("m2"),
        (F.sum("x") + F.sum("y")).cast("bigint").alias("sx"),
        (
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            + F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        )
        .cast("double")
        .alias("sxx"),
        (F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")) * 2)
        .cast("double")
        .alias("sxy"),
    ).collect()[0]
    assert old.m2 == new.m2 and old.sx == new.sx
    assert old.sxx == new.sxx and old.sxy == new.sxy


def test_numpy_bit_partials_equal_jvm_conditional_aggregates(spark, sf_dir):
    # ab_randomization_test replan: the mapInPandas numpy reduction
    # (bits x values matrix product per Arrow batch, summed across
    # partitions) must equal the r14 JVM conditional aggregates
    # sum(v * bit_b) / sum(bit_b) exactly, bit for bit, including the
    # grand totals row and the observed g==1 cell lane (row n_b+1).
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.operators.mining import (
        RAND_TEST_B,
        _rand_test_partials,
        load_table,
    )

    n_words = (RAND_TEST_B + 31) // 32
    o = load_table(spark, sf_dir, "orders")
    hashed = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 2).cast("int").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    ).selectExpr(
        "v",
        "g",
        *[
            f"CAST(conv(substring(md5(CAST(k AS STRING)), {1 + 8 * i}, 8), "
            f"16, 10) AS BIGINT) AS w{i}"
            for i in range(n_words)
        ],
    )
    aggs = []
    for b in range(RAND_TEST_B):
        gb = f"(shiftright(w{b // 32}, {31 - b % 32}) & 1)"
        aggs.append(F.expr(f"sum(v * {gb})").cast("bigint").alias(f"s{b}"))
        aggs.append(F.expr(f"sum({gb})").cast("bigint").alias(f"n{b}"))
    aggs.append(F.sum("v").cast("bigint").alias("s_all"))
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    aggs.append(F.expr("sum(v * g)").cast("bigint").alias("s_obs"))
    aggs.append(F.expr("sum(g)").cast("bigint").alias("n_obs"))
    old = hashed.agg(*aggs).collect()[0]
    new = {
        r["b"]: (r["s"], r["n"])
        for r in hashed.mapInPandas(
            _rand_test_partials(RAND_TEST_B, n_words),
            schema="b int, s long, n long",
        )
        .groupBy("b")
        .agg(
            F.sum("s").cast("bigint").alias("s"),
            F.sum("n").cast("bigint").alias("n"),
        )
        .collect()
    }
    for b in range(RAND_TEST_B):
        assert new[b] == (old[f"s{b}"], old[f"n{b}"]), f"replicate {b}"
    assert new[RAND_TEST_B] == (old["s_all"], old["n_all"])
    assert new[RAND_TEST_B + 1] == (old["s_obs"], old["n_obs"])
