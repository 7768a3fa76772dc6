"""Behavioral tests for the round-7 operators (oracle parity is covered
by test_oracle_parity.py; these pin SEMANTICS on controlled inputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog

from conftest import write_docs, write_events


def test_fuzzy_join_finds_planted_typo_pair(spark, tmp_path):
    """Two same-brand parts whose names differ by one edit must pair at
    lev_dist=1; cross-brand twins must NOT (blocking is intentional)."""
    rows = [
        (1, "red widget", "Brand#1"),
        (2, "red widgets", "Brand#1"),  # 1 edit, same block
        (3, "red widget", "Brand#2"),  # identical name, other block
        (4, "blue bolt", "Brand#1"),  # same brand, different first letter
        (5, "completely different", "Brand#1"),
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = {
        (r["part_a"], r["part_b"]): r["lev_dist"]
        for r in load_catalog()["fuzzy_join_levenshtein"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): 1}


def test_ewma_weights_recent_events_more(spark, tmp_path):
    """A step change in value: EWMA must sit strictly between the old
    and new levels and closer to the new one (alpha=0.5 halves each
    step back)."""
    rows = [
        (i, f"2024-01-01 00:0{i}:00", 1, "view", 0.0 if i < 5 else 100.0, "{}")
        for i in range(10)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in load_catalog()["event_ewma_smoothing"].fn(spark, str(tmp_path)).collect()
    }
    assert got[4] == 0.0  # before the step: flat history
    assert 50.0 < got[5] <= 100.0  # first high value dominates (weight 1/2)
    assert got[9] > got[5]  # keeps converging toward 100
    assert got[9] < 100.0  # old zeros still in the window


def test_lr_classifier_beats_majority_on_separable_corpus(spark, tmp_path):
    """On a linearly separable corpus (en = alpha-heavy text, other =
    digit-heavy), 5 GD iterations must beat the majority-class baseline
    and move the alpha-fraction weight positive."""
    rows = []
    for i in range(60):
        rows.append((i, "alpha words only here " * 3, "en", "web", 66))
    for i in range(40):
        rows.append((100 + i, "12345 67890 11111 22222 " * 3, "zh", "web", 72))
    write_docs(spark, tmp_path, rows)
    r = load_catalog()["quality_lr_classifier"].fn(spark, str(tmp_path)).collect()[0]
    assert r["n_docs"] == 100
    assert r["n_correct"] > 60  # beats predicting the majority class
    assert r["w_alpha_frac"] > 0  # alpha fraction predicts 'en'


def test_sparse_tfidf_pairs_ranks_shared_shingles_first(spark, tmp_path):
    """Docs sharing rare shingles must out-rank docs sharing none; a
    boilerplate shingle present in EVERY doc is pruned by the df cut
    and alone produces no pair."""
    boiler = "copyright footer text"
    rows = [
        (1, f"unique alpha beta gamma delta {boiler}", "en", "web", 1),
        (2, f"unique alpha beta gamma other {boiler}", "en", "web", 1),
        (3, f"totally different content stream {boiler}", "en", "web", 1),
        # many docs carrying only the boilerplate => df(boiler shingles) high
        *[(10 + i, f"filler{i} filler{i}b {boiler}", "en", "web", 1) for i in range(200)],
    ]
    write_docs(spark, tmp_path, rows)
    rows_out = load_catalog()["sim_sparse_tfidf_pairs"].fn(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in rows_out}
    assert (1, 2) in pairs  # rare shared shingles pair up
    # boilerplate-only docs must not pair via the pruned hot shingles
    assert not any(a >= 10 and b >= 10 for a, b in pairs)


def test_orc_roundtrip_preserves_values(spark, tmp_path):
    """Full-row equality through the ORC write/read cycle, including
    unicode text."""
    rows = [
        (1, "héllo wörld ünïcode", "de", "web", 19),
        (2, "plain ascii text", "en", "web", 16),
        (3, None, "en", "web", 0),
    ]
    write_docs(spark, tmp_path, rows)
    from jaffle_shop_classic_spark.sources.parquet import load_table

    d = load_table(spark, str(tmp_path), "documents")
    d.write.mode("overwrite").orc(f"{tmp_path}/docs_orc")
    back = spark.read.orc(f"{tmp_path}/docs_orc")
    assert sorted(map(tuple, d.collect())) == sorted(map(tuple, back.collect()))
    # and the catalog aggregate runs green on the same fixture
    out = load_catalog()["source_orc_roundtrip"].fn(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in out) == 3


def test_mad_flags_outlier_zscore_misses(spark, tmp_path):
    """The classic robustness case: one mega-user so extreme it inflates
    mean+stddev. MAD must flag it; its presence must not drag normal
    users into the flag set."""
    rows = []
    eid = 0
    for u in range(20):  # 20 normal users, 10 events each
        for i in range(10):
            rows.append((eid, f"2024-01-01 0{i % 10}:00:00", u, "view", 1.0, "{}"))
            eid += 1
    for i in range(500):  # the mega-user
        rows.append((eid, "2024-01-02 00:00:00", 99, "view", 1.0, "{}"))
        eid += 1
    write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: r["n_events"]
        for r in load_catalog()["users_anomaly_mad"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {99: 500}


def test_time_weighted_avg_weights_by_interval(spark, tmp_path):
    """Value 10 held for 9 minutes then 100 for 1 minute: TWA = 19,
    while the naive mean of readings would say 40."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "v", 10.0, "{}"),
        (2, "2024-01-01 00:09:00", 1, "v", 100.0, "{}"),
        (3, "2024-01-01 00:10:00", 1, "v", 55.0, "{}"),  # closes the span
    ]
    write_events(spark, tmp_path, rows)
    r = load_catalog()["event_time_weighted_avg"].fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0]["twa_value"] == 19.0
    assert r[0]["span_us"] == 10 * 60 * 1_000_000


def test_decimal_pricing_is_exact_under_repartition(spark, sf_dir):
    """Decimal sums must be identical regardless of partitioning — the
    property double sums lack. Also Decimal output scale is pinned."""
    from decimal import Decimal

    fn = load_catalog()["decimal_exact_pricing"].fn
    a = fn(spark, sf_dir).collect()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = fn(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(isinstance(r["disc_revenue"], Decimal) for r in a)


def test_corpus_token_ids_roundtrip_decode(spark, tmp_path):
    """Encoding then decoding through the vocabulary must reproduce the
    original token stream; most-frequent token gets id 0."""
    rows = [
        (1, "a a a b c", "en", "web", 9),
        (2, "b a c c a", "en", "web", 9),
    ]
    write_docs(spark, tmp_path, rows)
    out = {
        r["doc_id"]: r["token_ids"]
        for r in load_catalog()["corpus_token_ids"].fn(spark, str(tmp_path)).collect()
    }
    # freq: a=5 -> 0, c=3 -> 1, b=2 -> 2
    assert out[1] == [0, 0, 0, 2, 1]
    assert out[2] == [2, 0, 1, 1, 0]


def test_q2_decorrelation_surfaces_all_ties(spark, tmp_path):
    """Two parts tied at the brand minimum must BOTH appear (correlated
    = semantics, not distinct-on)."""
    rows = [
        (1, "a", "B1", "t", 1, 5.0),
        (2, "b", "B1", "t", 1, 5.0),  # tie at the min
        (3, "c", "B1", "t", 1, 9.0),
        (4, "d", "B2", "t", 1, 7.0),
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = [
        (r["p_brand"], r["p_partkey"])
        for r in load_catalog()["tpch_q2_style"].fn(spark, str(tmp_path)).collect()
    ]
    assert got == [("B1", 1), ("B1", 2), ("B2", 4)]


def test_incremental_rollup_merge_equals_direct(spark, sf_dir):
    """merge-of-partials == direct recompute — asserted engine-side on
    the same data the oracle certifies."""
    from jaffle_shop_classic_spark.sources.parquet import load_table

    got = {
        (r["c_mktsegment"]): (r["n_orders"], r["revenue"])
        for r in load_catalog()["incremental_revenue_rollup"].fn(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    direct = {
        r["c_mktsegment"]: (r["n"], r["s"])
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("s"),
        )
        .collect()
    }
    assert got == direct


def test_pivot_dynamic_discovers_new_category(spark, tmp_path):
    """An unseen category must become a column automatically — the whole
    point of the dynamic form."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:00:01", 1, "brand_new_type", 1.0, "{}"),
        (3, "2024-01-01 00:00:02", 2, "view", 1.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    df = load_catalog()["pivot_dynamic"].fn(spark, str(tmp_path))
    assert df.columns == ["user_id", "brand_new_type", "view"]
    got = {r["user_id"]: (r["brand_new_type"], r["view"]) for r in df.collect()}
    assert got == {1: (1, 1), 2: (0, 1)}


def test_ohlc_open_close_deterministic_under_ts_ties(spark, tmp_path):
    """Two events at the SAME timestamp: the event_id tiebreak must make
    open/close deterministic (bare min_by(ts) would be arbitrary)."""
    rows = [
        (2, "2024-01-01 00:00:00", 1, "v", 20.0, "{}"),
        (1, "2024-01-01 00:00:00", 1, "v", 10.0, "{}"),  # same ts, lower id
        (3, "2024-01-01 00:05:00", 1, "v", 99.0, "{}"),
        (4, "2024-01-01 00:07:00", 1, "v", 5.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    r = load_catalog()["events_ohlc_bars"].fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    bar = r[0]
    assert (bar["open"], bar["high"], bar["low"], bar["close"]) == (10.0, 99.0, 5.0, 5.0)
    assert bar["n_events"] == 4


def test_impute_uses_user_median_then_global(spark, tmp_path):
    """User 1's error event gets USER-1's median; a user with only error
    events falls back to the global median; clean rows pass through."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 10.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "view", 30.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "error", 999.0, "{}"),  # -> 20 (user median)
        (4, "2024-01-01 00:03:00", 2, "error", 888.0, "{}"),  # -> global median
        (5, "2024-01-01 00:04:00", 3, "view", 50.0, "{}"),
    ]
    write_events(spark, tmp_path, rows)
    got = {
        r["event_id"]: (r["value_imputed"], r["was_imputed"])
        for r in load_catalog()["impute_group_median"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1] == (10.0, False)
    assert got[3] == (20.0, True)  # median of {10, 30}
    assert got[4] == (30.0, True)  # global median of {10, 30, 50}
    assert got[5] == (50.0, False)


def test_nb_classifier_separates_disjoint_vocabularies(spark, tmp_path):
    """Languages with disjoint vocabularies must classify perfectly —
    the confusion matrix is diagonal."""
    rows = []
    for i in range(30):
        rows.append((i, "hello world again hello", "en", "web", 1))
    for i in range(20):
        rows.append((100 + i, "bonjour monde encore bonjour", "fr", "web", 1))
    write_docs(spark, tmp_path, rows)
    got = {
        (r["true_lang"], r["pred_lang"]): r["n_docs"]
        for r in load_catalog()["lang_nb_classifier"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {("en", "en"): 30, ("fr", "fr"): 20}


def test_cf_cosine_normalizes_popularity(spark, tmp_path):
    """Two niche items always bought together must out-score a pair that
    co-occurs only via a blockbuster item's popularity."""
    # customers 1-3 buy niche pair (10, 11); everyone buys blockbuster 99
    rows = []
    ok = 0
    for u in (1, 2, 3):
        for i in (10, 11, 99):
            rows.append((ok, u, i)); ok += 1
    for u in range(4, 20):
        rows.append((ok, u, 99)); ok += 1
        rows.append((ok, u, 50 + u)); ok += 1  # singleton items
    orders = [(k, u) for k, u, _ in [(r[0], r[1], r[2]) for r in rows]]
    spark.createDataFrame(
        [(k, u, "O", 1.0, "2024-01-01", "p") for k, u in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(k, i, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-02") for k, _, i in [(r[0], r[1], r[2]) for r in rows]],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    out = load_catalog()["cf_item_cosine"].fn(spark, str(tmp_path)).collect()
    scores = {(r["item_a"], r["item_b"]): r["cosine"] for r in out}
    assert scores[(10, 11)] == 1.0  # perfect niche pair
    # blockbuster pairs exist but are popularity-penalized
    assert all(v < 1.0 for (a, b), v in scores.items() if 99 in (a, b))


def test_ols_recovers_planted_slope(spark, tmp_path):
    """A perfectly linear revenue series must recover its slope and
    intercept exactly (closed-form on exact statistics)."""
    # y = 100*x + 50 on days x = 19723..19732 (Jan 2024)
    rows = []
    for k in range(10):
        day = f"2024-01-{k + 1:02d}"
        rows.append((k, 1, "O", float(100 * (19723 + k) + 50), day, "p"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "c", 0, 0.0, "SEG1")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    r = load_catalog()["segment_sales_trend"].fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0]["slope"] == 100.0
    assert r[0]["intercept"] == 50.0


def test_chi2_ranks_discriminative_tokens_first(spark, tmp_path):
    """A token exclusive to one language must out-rank a token shared
    uniformly by all documents (which scores ~0)."""
    rows = []
    for i in range(30):
        rows.append((i, "shared exclusive_en shared", "en", "web", 1))
    for i in range(30):
        rows.append((100 + i, "shared exclusive_fr shared", "fr", "web", 1))
    write_docs(spark, tmp_path, rows)
    out = load_catalog()["chi2_feature_select"].fn(spark, str(tmp_path)).collect()
    top_en = [r["tok"] for r in out if r["lang"] == "en"][0]
    top_fr = [r["tok"] for r in out if r["lang"] == "fr"][0]
    assert top_en in ("exclusive_en", "exclusive_fr")  # both perfectly discriminate en
    assert top_fr in ("exclusive_en", "exclusive_fr")
    shared_scores = [r["chi2"] for r in out if r["tok"] == "shared"]
    assert all(s == 0.0 for s in shared_scores)


def test_psi_flat_when_periods_identical(spark, tmp_path):
    """Identical before/after distributions must yield ~zero PSI in
    every bin; a shifted current period must not."""
    rows = []
    k = 0
    for period, year in (("ref", "1997"), ("cur", "2000")):
        for i in range(200):
            rows.append((k, 1, "O", float(100 + (i % 100)), f"{year}-06-01", "p"))
            k += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["drift_psi_monitor"].fn(spark, str(tmp_path)).collect()
    psi = sum(r["psi_contrib"] for r in out)
    assert abs(psi) < 0.01  # identical distributions -> no drift signal
    assert sum(r["ref_n"] for r in out) == sum(r["cur_n"] for r in out) == 200


def test_jl_projection_preserves_pairwise_distances(spark, sf_dir):
    """The JL property: squared distances in the 16-dim projection track
    the 64-dim originals — median ratio near 1, spread bounded. This is
    the whole point of the operator, asserted on real embeddings."""
    import math

    from jaffle_shop_classic_spark.sources.parquet import load_table

    red = {
        r["vec_id"]: r["reduced"]
        for r in load_catalog()["embedding_jl_project"].fn(spark, sf_dir).collect()
    }
    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").limit(60).collect()
    }
    ids = sorted(orig)[:40]
    ratios = []
    for a, b in zip(ids, ids[1:]):
        d_o = sum((float(x) - float(y)) ** 2 for x, y in zip(orig[a], orig[b]))
        d_r = sum((x - y) ** 2 for x, y in zip(red[a], red[b]))
        if d_o > 0:
            ratios.append(d_r / d_o)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.6 < med < 1.4  # unbiased estimator, k=16 spread
    assert sum(1 for r in ratios if 0.3 < r < 2.5) >= len(ratios) * 0.9


def test_jsonl_roundtrip_preserves_unicode(spark, tmp_path):
    rows = [
        (1, 'quote " backslash \\ newline\nunicode héllo', "de", "web", 40),
        (2, "plain", "en", "web", 5),
    ]
    write_docs(spark, tmp_path, rows)
    out = load_catalog()["source_jsonl_roundtrip"].fn(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in out) == 2
    # checksum equality with a direct computation over the originals
    from jaffle_shop_classic_spark.sources.parquet import load_table

    direct = (
        load_table(spark, str(tmp_path), "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"))
            .cast("bigint")
            .alias("cs")
        )
        .collect()
    )
    want = {r["lang"]: r["cs"] for r in direct}
    assert {r["lang"]: r["content_checksum"] for r in out} == want


def test_rrf_fuses_both_arms(spark, sf_dir):
    """RRF semantics on real data: every returned score must equal the
    recomputed fusion of the doc's dense and sparse ranks, and a doc
    ranked #1 in BOTH arms would dominate any single-arm doc."""
    from jaffle_shop_classic_spark.operators.similarity import RRF_K

    out = load_catalog()["hybrid_retrieval_rrf"].fn(spark, sf_dir).collect()
    assert len(out) == 10
    scores = [r["rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # every score is a sum of at most two reciprocal-rank terms
    max_possible = round(2 / (RRF_K + 1), 8)
    assert all(0 < s <= max_possible for s in scores)


def test_skyline_keeps_exact_pareto_frontier(spark, tmp_path):
    """Planted 2-D dominance: only non-dominated (size, price) points
    survive; equal-point duplicates are mutually non-dominated and BOTH
    survive; in-group lower prices and equal-price-larger-size rows die."""
    rows = [
        (1, 1, 50.0),   # frontier (smallest size)
        (2, 2, 80.0),   # frontier
        (3, 2, 70.0),   # dominated in-group by 2
        (4, 3, 80.0),   # dominated by 2 (same price, larger size)
        (5, 5, 90.0),   # frontier
        (6, 5, 90.0),   # duplicate of 5 — survives too
        (7, 9, 85.0),   # dominated by 5
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_size int, p_retailprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = {
        r["p_partkey"]
        for r in load_catalog()["skyline_pareto_parts"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1, 2, 5, 6}


def test_markov_rows_are_per_user_and_probs_normalize(spark, tmp_path):
    """Transitions never cross user boundaries, and outgoing
    probabilities sum to 1 per source state."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "a", 0.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "b", 0.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "a", 0.0, "{}"),
        # user 2 starts with "b": no a->b transition may leak from user 1's tail "a"
        (4, "2024-01-01 00:00:00", 2, "b", 0.0, "{}"),
        (5, "2024-01-01 00:01:00", 2, "c", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    out = load_catalog()["event_markov_transitions"].fn(spark, str(tmp_path)).collect()
    got = {(r["src"], r["dst"]): (r["n"], r["p"]) for r in out}
    assert got == {("a", "b"): (1, 1.0), ("b", "a"): (1, 0.5), ("b", "c"): (1, 0.5)}


def test_rfm_scores_monotone_in_metrics(spark, sf_dir):
    """Within one market segment, a strictly larger monetary total can
    never receive a lower m_score (ntile is monotone in the sort key),
    and all scores stay in 1..5."""
    out = load_catalog()["rfm_customer_segments"].fn(spark, sf_dir).collect()
    assert out, "rfm produced no rows"
    by_seg = {}
    for r in out:
        assert 1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5 and 1 <= r["m_score"] <= 5
        by_seg.setdefault(r["c_mktsegment"], []).append((r["monetary"], r["m_score"]))
    for rows in by_seg.values():
        rows.sort()
        scores = [s for _, s in rows]
        assert scores == sorted(scores), "m_score not monotone in monetary"


def test_k_anonymity_flags_small_groups_only(spark, tmp_path):
    """A QI class of size 9 is at risk at k=10; one of size 10 is not."""
    rows = [(i, f"c{i}", 1, 0.0, "SEG_A") for i in range(9)] + [
        (100 + i, f"d{i}", 2, 0.0, "SEG_B") for i in range(10)
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): (r["group_size"], r["at_risk"])
        for r in load_catalog()["k_anonymity_audit"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {(1, "SEG_A"): (9, True), (2, "SEG_B"): (10, False)}


def test_benford_digit_exact_at_power_of_ten_boundary(spark, tmp_path):
    """Digits come from exact integer cents: 1000.00 -> 1, 999.99 -> 9
    (a float-log10 extraction would misclassify the boundary)."""
    rows = [
        (1, 1, "O", 1000.00, "2024-01-01 00:00:00", "1-URGENT"),
        (2, 1, "O", 999.99, "2024-01-01 00:00:00", "1-URGENT"),
        (3, 1, "O", 100.00, "2024-01-01 00:00:00", "1-URGENT"),
        (4, 1, "O", 95.50, "2024-01-01 00:00:00", "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["digit"]: r["n"]
        for r in load_catalog()["benford_first_digit"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: 2, 9: 2}


def test_gini_zero_for_equality_and_max_for_monopoly(spark, tmp_path):
    """Four equal customers -> G=0; one customer with all the revenue
    -> G=(n-1)/n=0.75 (discrete-population closed form)."""
    orders = [
        # SEG_EQ: four customers, 100 each
        *[(i, i, "O", 100.0, "2024-01-01 00:00:00", "1-URGENT") for i in range(1, 5)],
        # SEG_MONO: three zero-ish customers and one whale
        *[
            (10 + i, 10 + i, "O", 0.01, "2024-01-01 00:00:00", "1-URGENT")
            for i in range(3)
        ],
        (14, 14, "O", 10000.0, "2024-01-01 00:00:00", "1-URGENT"),
    ]
    custs = [(i, f"c{i}", 0, 0.0, "SEG_EQ") for i in range(1, 5)] + [
        (i, f"c{i}", 0, 0.0, "SEG_MONO") for i in (10, 11, 12, 14)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        custs, "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        r["c_mktsegment"]: r["gini"]
        for r in load_catalog()["revenue_concentration_gini"].fn(spark, str(tmp_path)).collect()
    }
    assert got["SEG_EQ"] == 0.0
    assert abs(got["SEG_MONO"] - 0.75) < 0.001  # whale dominates; 0.01s nudge it a hair


def test_assoc_lift_one_under_independence(spark, tmp_path):
    """{A,B} x3 plus {A} x1: conf(a->b)=0.75, conf(b->a)=1.0 and
    lift = n_ab*N/(n_a*n_b) = 3*4/(4*3) = exactly 1."""
    rows = [
        *[(k, 100, k, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00") for k in (1, 2, 3)],
        *[(k, 200, k, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00") for k in (1, 2, 3)],
        (4, 100, 4, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    out = load_catalog()["assoc_rules_lift"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["part_a"], r["part_b"], r["n_ab"]) == (100, 200, 3)
    assert (r["conf_a_to_b"], r["conf_b_to_a"], r["lift"]) == (0.75, 1.0, 1.0)


def test_hard_negatives_are_cross_label_ranked_and_dedup_guarded(spark, sf_dir):
    """Every mined negative crosses labels, passes the near-dup guard
    (cosine < 0.98), and per-anchor rows are top-2 ranked by cosine."""
    out = load_catalog()["contrastive_hard_negatives"].fn(spark, sf_dir).collect()
    assert out, "no hard negatives mined"
    per_anchor = {}
    for r in out:
        assert r["anchor_label"] != r["neg_label"]
        assert r["cosine"] < 0.98
        assert r["rnk"] in (1, 2)
        per_anchor.setdefault(r["anchor_id"], []).append((r["rnk"], r["cosine"]))
    for rows in per_anchor.values():
        rows.sort()
        assert len(rows) <= 2
        if len(rows) == 2:  # rank 1 is at least as similar as rank 2
            assert rows[0][1] >= rows[1][1]


def test_welch_t_recovers_planted_cohort_gap(spark, tmp_path):
    """Even users at ~10, odd users at ~20 with equal tiny variance:
    t = -10/sqrt(var/4 + var/4) with var=1/3 -> -24.495 exactly at 3dp."""
    vals = {0: [10.0, 11.0], 2: [10.0, 11.0], 1: [20.0, 21.0], 3: [20.0, 21.0]}
    rows = []
    i = 0
    for uid, vs in vals.items():
        for v in vs:
            rows.append((i, "2024-01-01 00:00:00", uid, "click", v, "{}"))
            i += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    out = load_catalog()["ab_test_welch_ttest"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"], r["mean_a"], r["mean_b"]) == (4, 4, 10.5, 20.5)
    assert r["t_stat"] == -24.495


def test_seasonal_naive_forecast_pairs_with_year_ago_month(spark, tmp_path):
    """13 months of revenue: only the 13th has a year-ago twin; its
    forecast is month 1's revenue and ape = |150-100|/150."""
    rows = []
    for i in range(13):
        y, mth = 2020 + (i // 12), (i % 12) + 1
        rev = 100.0 if i == 0 else (150.0 if i == 12 else 50.0 + i)
        rows.append((i, 1, "O", rev, f"{y}-{mth:02d}-15 00:00:00", "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    out = load_catalog()["forecast_backtest_mape"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert float(r["forecast"]) == 100.0 and float(r["revenue"]) == 150.0
    assert r["ape"] == 0.3333


def test_entity_resolution_merges_transitive_chain(spark, tmp_path):
    """A~B and B~C (1 edit each) chain into ONE entity even though A and
    C are 2 edits apart; blocked strangers and singletons emit nothing."""
    rows = [
        (1, "red widget", "Brand#1"),
        (2, "red widgets", "Brand#1"),   # 1 edit from 1
        (3, "red widgetsx", "Brand#1"),  # 1 edit from 2, 2 from 1
        (4, "red widget", "Brand#2"),    # other block — never compared
        (5, "zzz unique", "Brand#1"),    # singleton
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = {
        r["p_partkey"]: (r["entity_id"], r["n_members"])
        for r in load_catalog()["entity_resolution_clusters"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_conversion_latency_counts_only_post_view_purchases(spark, tmp_path):
    """A purchase BEFORE the first view must not convert; the delay is
    first-view -> FIRST subsequent purchase."""
    rows = [
        # user 1: purchase at t0 (pre-view, ignored), view t1, purchases t3 and t5
        (1, "2024-01-01 00:00:00", 1, "purchase", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 00:04:00", 1, "purchase", 1.0, "{}"),
        (4, "2024-01-01 00:06:00", 1, "purchase", 1.0, "{}"),
        # user 2: views but never purchases
        (5, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    out = load_catalog()["conversion_latency_percentiles"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_converted"] == 1
    assert r["p50_s"] == 180.0  # 00:01 -> 00:04, not the pre-view purchase


def test_max_drawdown_tracks_running_peak(spark, tmp_path):
    """Series 100, 80, 120, 60: worst peak-relative decline is 60/120-1
    = -0.5 (not 60/100-1), because the peak updates at 120."""
    vals = [100.0, 80.0, 120.0, 60.0]
    rows = [
        (i, f"2024-01-01 00:0{i}:00", 1, "view", v, "{}") for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    out = load_catalog()["user_max_drawdown"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["max_drawdown"] == -0.5 and out[0]["n_events"] == 4


def test_ltv_curve_accumulates_within_cohort(spark, tmp_path):
    """Two customers in one cohort: month-0 and month-2 revenue, with the
    cumulative carrying month-0 forward through month 2."""
    rows = [
        (1, 1, "O", 100.0, "2020-01-10 00:00:00", "1-URGENT"),
        (2, 2, "O", 50.0, "2020-01-20 00:00:00", "1-URGENT"),
        (3, 1, "O", 30.0, "2020-03-05 00:00:00", "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["age_months"]: (float(r["revenue"]), float(r["cumulative_ltv"]))
        for r in load_catalog()["cohort_ltv_curve"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {0: (150.0, 150.0), 2: (30.0, 180.0)}


def test_referential_profile_counts_planted_orphans(spark, tmp_path):
    """One orphan order (missing customer) shows up in exactly its FK row."""
    spark.createDataFrame(
        [(1, 1, "O", 10.0, "2020-01-01 00:00:00", "1-URGENT"),
         (2, 99, "O", 10.0, "2020-01-01 00:00:00", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2020-01-01 00:00:00")],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p", "B", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(
        [(0, "n", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    got = {
        r["relationship"]: (r["n_child"], r["n_orphans"])
        for r in load_catalog()["referential_integrity_profile"].fn(spark, str(tmp_path)).collect()
    }
    assert got["orders.o_custkey->customer"] == (2, 1)
    assert got["lineitem.l_orderkey->orders"] == (1, 0)
    assert got["customer.c_nationkey->nation"] == (1, 0)


def test_target_encoding_excludes_own_fold(spark, tmp_path):
    """One category, two folds: each fold's te is the OTHER fold's mean,
    never the pooled mean."""
    # orderkeys 0,3 -> fold 0 (values 10, 20); orderkey 1 -> fold 1 (value 99)
    rows = [
        (0, 1, "O", 10.0, "2020-01-01 00:00:00", "1-URGENT"),
        (3, 1, "O", 20.0, "2020-01-01 00:00:00", "1-URGENT"),
        (1, 1, "O", 99.0, "2020-01-01 00:00:00", "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "c", 0, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {
        r["fold"]: (r["n_oof"], r["te"])
        for r in load_catalog()["target_encode_kfold"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {0: (1, 99.0), 1: (2, 15.0)}


def test_last_touch_credits_most_recent_prior_channel(spark, tmp_path):
    """view -> click -> purchase credits click; a purchase with no prior
    touch emits nothing."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "purchase", 40.0, "{}"),
        (4, "2024-01-01 00:00:00", 2, "purchase", 7.0, "{}"),  # no prior touch
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r["channel"]: (r["n_purchases"], r["attributed_value"])
        for r in load_catalog()["attribution_last_touch"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"click": (1, 40.0)}


def test_feature_hashing_counts_are_token_counts(spark, tmp_path):
    """Bucket counts per doc sum to the doc's token count, and repeated
    tokens land in one bucket."""
    rows = [(1, "apple apple banana", "en", "s", 18)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = load_catalog()["feature_hashing"].fn(spark, str(tmp_path)).collect()
    assert sum(r["n"] for r in out) == 3
    assert max(r["n"] for r in out) == 2  # the doubled 'apple' bucket
    assert all(0 <= r["bucket"] < 32 for r in out)


def test_wau_is_trailing_7day_distinct(spark, tmp_path):
    """User A active day 1 only, user B active day 5: DAU(5)=1 but
    WAU(5)=2 (A's day-1 activity is within the trailing week); by the
    spine rule no phantom days beyond observed days appear."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-05 10:00:00", 2, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        str(r["day"]): (r["dau"], r["wau"])
        for r in load_catalog()["dau_wau_rollup"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"2024-01-01": (1, 1), "2024-01-05": (1, 2)}


def test_recommendations_exclude_owned_and_rank_by_support(spark, tmp_path):
    """Customer 1 owns part 10; parts 20 (2 co-orders) and 30 (1) are
    candidates ranked by support; owned part 10 never recommended."""
    orders = [
        (1, 1, "O", 1.0, "2020-01-01 00:00:00", "1-URGENT"),
        (2, 9, "O", 1.0, "2020-01-01 00:00:00", "1-URGENT"),
        (3, 9, "O", 1.0, "2020-01-01 00:00:00", "1-URGENT"),
    ]
    li = [
        (1, 10), (2, 10), (2, 20), (3, 10), (3, 20), (3, 30),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2020-01-01 00:00:00") for ok, pk in li],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    recs = {
        (r["o_custkey"], r["rnk"]): (r["rec_part"], r["score"])
        for r in load_catalog()["recommend_copurchase_topk"].fn(spark, str(tmp_path)).collect()
    }
    assert recs[(1, 1)] == (20, 2) and recs[(1, 2)] == (30, 1)
    assert all(part != 10 for (cust, _), (part, _) in recs.items() if cust == 1)


def test_incremental_lsh_never_pairs_within_a_side(spark, sf_dir):
    """Every reported match joins a new doc (id%10==0) to an index doc
    (id%10!=0) — the asymmetry that makes ingest-side dedup cheap."""
    out = load_catalog()["dedup_incremental_lsh"].fn(spark, sf_dir).collect()
    for r in out:
        assert r["new_doc"] % 10 == 0
        assert r["first_match"] % 10 != 0
        assert r["n_index_matches"] >= 1


def test_schema_evolution_backfills_nulls_for_old_batch(spark, sf_dir):
    """Batch 1 (written without the column) reads back all-NULL; batch 2
    reads back fully populated."""
    got = {
        r["batch"]: (r["n_rows"], r["n_null_priority"])
        for r in load_catalog()["source_schema_evolution"].fn(spark, sf_dir).collect()
    }
    assert set(got) == {1, 2}
    assert got[1][0] == got[1][1] > 0  # every old row NULL
    assert got[2][1] == 0 and got[2][0] > 0
