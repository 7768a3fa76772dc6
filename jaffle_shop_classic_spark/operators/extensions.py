"""Extension operators X1-X11 + X14 (SURVEY §2.4) — pure Spark built-ins.

Everything here stays inside whole-stage codegen: filters and projections
push into the parquet scan; aggregates are partial->final; windows sort
once per partition key. No row-at-a-time Python UDFs; the one Arrow
kernel (skyline_pareto_parts' mapInPandas local-prune pass) is batched
and explicitly documented at its site.

Cross-engine parity conventions (vs the DuckDB oracle):
- Spark ``union`` is UNION ALL; SQL ``UNION`` deduplicates — both
  variants are registered explicitly.
- LIMIT queries order by a unique tiebreaker so the row set is
  deterministic.
- Running/windowed double sums use a deterministic ORDER BY, so both
  engines add in the same order; outputs are still rounded.
- Tumbling/sliding windows bucket on epoch-second arithmetic rather than
  engine-specific window functions, pinning identical bucket boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .catalog import register


# ---------------------------------------------------------------- X1 filters
@register(
    "filter_in_between",
    oracle="""
    SELECT o_orderkey AS order_id, o_totalprice AS total
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 1000 AND 50000
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    """,
    doc="X1: IN + BETWEEN + range predicates, all pushed to the parquet scan.",
)
def q_filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 50000)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_orderkey").alias("order_id"), F.col("o_totalprice").alias("total"))


@register(
    "filter_null_safe_eq",
    oracle="""
    SELECT o.o_orderkey AS order_id,
           (l.sum_qty IS NOT DISTINCT FROM l.max_qty) AS qty_all_in_one_line
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    """,
    doc="X1: null-safe equality (<=>); orders with no lineitems compare "
    "NULL<=>NULL = true instead of NULL.",
)
def q_filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.max("l_quantity").alias("max_qty"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("sum_qty").eqNullSafe(F.col("max_qty")).alias("qty_all_in_one_line"),
    )


# ---------------------------------------------------------------- X2 joins
@register(
    "join_semi",
    oracle="""
    SELECT c_custkey AS customer_id
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    doc="X2: LEFT SEMI join (EXISTS) — emits each customer at most once.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("customer_id")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey AS customer_id
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    doc="X2: LEFT ANTI join (NOT EXISTS).",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("customer_id")
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.nk, s.nk) AS nation_key,
           c.n_customers, s.n_suppliers
    FROM (SELECT c_nationkey AS nk, count(*) AS n_customers
          FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, count(*) AS n_suppliers
          FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s
      ON c.nk = s.nk
    """,
    doc="X2: FULL OUTER join of two aggregates with non-overlapping keys.",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nation_key"), "n_customers", "n_suppliers"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
    doc="X2: explicit CROSS join of two small dimensions (125 rows).",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return r.crossJoin(n)


# ---------------------------------------------------------------- X3 sort/limit
@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey AS order_id, o_totalprice AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="X3: global top-k with unique tiebreaker (Spark runs TakeOrdered — "
    "per-partition top-k then merge, no full sort).",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(F.col("o_orderkey").alias("order_id"), F.col("o_totalprice").alias("total"))
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT customer_id, order_id, total, rn AS rank_in_customer
    FROM (
      SELECT o_custkey AS customer_id, o_orderkey AS order_id,
             o_totalprice AS total,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    doc="X3/X7: per-group top-k via row_number window — the scalable "
    "pattern (single shuffle on the group key, no global sort).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("total"),
            F.col("rn").alias("rank_in_customer"),
        )
    )


# ---------------------------------------------------------------- X4 distinct
@register(
    "distinct_pairs",
    oracle="""
    SELECT DISTINCT c_nationkey AS nation_key, c_mktsegment AS segment
    FROM customer
    """,
    doc="X4: exact distinct = hash aggregate on all projected columns.",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nation_key"), F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


# ---------------------------------------------------------------- X5 set ops
@register(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'P'
    UNION
    SELECT c_custkey AS customer_id FROM customer WHERE c_acctbal < 0
    """,
    doc="X5: UNION (distinct) — Spark union() is bag semantics, so "
    ".distinct() is required to match SQL UNION.",
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("customer_id"))
    )
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("customer_id"))
    )
    return a.union(b).distinct()


@register(
    "set_union_all",
    oracle="""
    SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT c_custkey AS customer_id FROM customer WHERE c_acctbal < 0
    """,
    doc="X5: UNION ALL (bag) — Spark's native union.",
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("customer_id"))
    )
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("customer_id"))
    )
    return a.union(b)


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'P'
    INTERSECT
    SELECT c_custkey AS customer_id FROM customer WHERE c_acctbal < 0
    """,
    doc="X5: INTERSECT (distinct semantics in both engines).",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("customer_id"))
    )
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("customer_id"))
    )
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey AS customer_id FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="X5: EXCEPT (distinct semantics).",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("customer_id"))
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("customer_id"))
    )
    return a.subtract(b)


# ---------------------------------------------------------------- X6 rollup/cube
@register(
    "rollup_flag_status",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="X6: ROLLUP — subtotal rows carry NULL group keys in both engines.",
)
def q_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup(F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="X6: CUBE over two keys.",
)
def q_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    ).agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


@register(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="X6: explicit GROUPING SETS via the SQL surface (temp views + "
    "spark.sql) — same Catalyst Expand plan as rollup/cube.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # operator-private view name: repointing a shared 'lineitem' view
    # would silently redirect every later spark.sql in the session
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_grouping_sets_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS flag, l_linestatus AS status,
               round(sum(l_quantity), 2) AS sum_qty
        FROM _grouping_sets_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# ---------------------------------------------------------------- X7 windows
@register(
    "window_rank",
    oracle="""
    SELECT o_custkey AS customer_id, o_orderkey AS order_id,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_dense_rank
    FROM orders
    """,
    doc="X7: rank/dense_rank windows (ties share ranks deterministically).",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey AS order_id,
           o_custkey AS customer_id,
           lag(o_orderkey) OVER w AS prev_order_id,
           lead(o_orderkey) OVER w AS next_order_id
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="X7: lag/lead over a deterministic (tiebroken) ordering.",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.lag("o_orderkey").over(w).alias("prev_order_id"),
        F.lead("o_orderkey").over(w).alias("next_order_id"),
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_orderkey AS order_id,
           o_custkey AS customer_id,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    doc="X7: running aggregate with an explicit ROWS frame; identical "
    "ordering in both engines makes the double sum deterministic.",
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT l_orderkey AS order_id, l_linenumber AS line_number,
           round(sum(l_extendedprice) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber
             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS neighborhood_amount
    FROM lineitem
    """,
    doc="X7: RANGE frame over an integer ordering column.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber").rangeBetween(-1, 1)
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.round(F.sum("l_extendedprice").over(w), 2).alias("neighborhood_amount"),
    )


# ---------------------------------------------------------------- X8 approx
@register(
    "count_distinct_exact",
    oracle="""
    SELECT o_orderstatus AS status,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="X8 baseline: exact distinct count (expands to two-phase agg).",
)
def q_count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "approx_count_distinct",
    oracle=None,  # HLL sketches differ across engines — rows-only check
    doc="X8: approx_count_distinct (HyperLogLog++, rsd=1%) — the 100 TB "
    "path for distinct counts: constant memory per group vs a "
    "two-phase exact expansion. No oracle: sketch estimates are "
    "implementation-specific.",
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_customers")
    )


@register(
    "percentile_exact",
    oracle="""
    SELECT o_orderstatus AS status,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="X8: exact interpolated percentile (Spark `percentile` == DuckDB "
    "quantile_cont).",
)
def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.percentile("o_totalprice", 0.5), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90"),
    )


@register(
    "percentile_approx",
    oracle=None,  # t-digest/GK sketches differ across engines
    doc="X8: percentile_approx — constant-memory quantile sketch for the "
    "100 TB path. Rows-only check.",
)
def q_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx")
    )


# ---------------------------------------------------------------- X9 scalar fns
@register(
    "string_functions",
    oracle="""
    SELECT c_custkey AS customer_id,
           lower(c_mktsegment) AS segment_lower,
           upper(substr(c_name, 1, 8)) AS name_prefix,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_number,
           length(c_name) AS name_len,
           replace(c_name, 'Customer#', 'C-') AS short_name
    FROM customer
    """,
    doc="X9: lower/upper/substr/regexp_extract/length/replace.",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("bigint").alias("name_number"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_name", r"Customer#", "C-").alias("short_name"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT o_orderkey AS order_id,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           dayofweek(CAST(o_orderdate AS DATE)) AS dow
    FROM orders
    """,
    doc="X9: year/month/date_trunc/datediff/dayofweek on timestamps. "
    "DuckDB dayofweek is 0=Sunday vs Spark 1=Sunday, so Spark shifts.",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("dow"),
    )


@register(
    "math_functions",
    oracle="""
    SELECT l_orderkey AS order_id, l_linenumber AS line_number,
           round(abs(l_extendedprice - 1000.0), 2) AS abs_diff,
           round(ln(l_extendedprice + 1), 6) AS log_price,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_bucket
    FROM lineitem
    """,
    doc="X9: abs/ln/sqrt/floor arithmetic.",
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 2).alias("abs_diff"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.floor(F.col("l_extendedprice") / 1000).cast("bigint").alias("price_bucket"),
    )


# ---------------------------------------------------------------- X10 JSON
@register(
    "json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc="X10: JSON field extraction from a string column + aggregate. "
    "get_json_object evaluates JVM-side without full parse "
    "materialization.",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "json_schema_parse",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
    doc="X10: from_json with an explicit schema (typed struct access), "
    "filter on the parsed field.",
)
def q_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("j", F.from_json("props", "k BIGINT"))
    return parsed.filter(F.col("j.k") > 90).select("event_id", F.col("j.k").alias("k"))


# ---------------------------------------------------------------- X11 arrays
@register(
    "array_vector_norm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
    doc="X11: higher-order array functions (transform + aggregate) for an "
    "L2 norm — JVM-side lambda evaluation, no Python.",
)
def q_array_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


@register(
    "array_explode_stats",
    oracle="""
    SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 4) AS avg_val
    FROM (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    )
    WHERE pos < 4
    GROUP BY label, pos
    """,
    doc="X11: posexplode an array column + aggregate by position.",
)
def q_array_explode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .filter(F.col("pos") < 4)
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("avg_val"))
    )


# ---------------------------------------------------------------- X14 windows (batch)
@register(
    "tumbling_window",
    oracle="""
    SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="X14: 10-minute tumbling window via epoch-bucket arithmetic "
    "(identical boundaries in both engines; in Spark Structured "
    "Streaming the same logic is F.window(ts, '10 minutes') — see "
    "streaming/windows.py).",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds((F.unix_timestamp("ts") / 600).cast("bigint") * 600)
    return e.groupBy(
        bucket.alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))


@register(
    "sliding_window",
    oracle="""
    WITH buckets AS (
      SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS slide_start, value
      FROM events
    ),
    expanded AS (
      SELECT slide_start AS window_start, value FROM buckets
      UNION ALL
      SELECT slide_start - INTERVAL 5 MINUTE AS window_start, value FROM buckets
    )
    SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM expanded
    GROUP BY window_start
    """,
    doc="X14: 10-minute window sliding by 5 — each event lands in 2 "
    "windows. Spark uses native F.window(ts, '10 minutes', '5 minutes'); "
    "the oracle expands the two bucket families explicitly.",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "session_window_batch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="X14: batch sessionization (30-min gap) via lag + running sum — "
    "the classic two-window pattern; single shuffle on user_id. The "
    "streaming twin is F.session_window (streaming/windows.py).",
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "tpch_q1_style",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: the canonical OLAP pricing-summary aggregate — "
    "scan-level date filter (pushed to parquet), 8 aggregates in one "
    "partial->final hash agg over two grouping keys. The whole query "
    "is one shuffle of ~6 grouped rows per map task at any scale.",
)
def q_tpch_q1_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    ).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "map_ops",
    oracle="""
    SELECT key, count(*) AS n, CAST(sum(val) AS BIGINT) AS total_val
    FROM (
      -- dynamic path ('$.' || key): correct for ANY key set, not just
      -- the current single-key fixture shape
      SELECT key,
             CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS val
      FROM (SELECT unnest(json_keys(props)) AS key, props FROM events)
    )
    GROUP BY key
    """,
    doc="X11: map-typed column ops — parse the JSON props into "
    "map<string,bigint>, explode entries (map_keys/values via "
    "explode), aggregate per key. The map never leaves the JVM.",
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select(F.explode(m).alias("key", "val"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("total_val"))
    )


@register(
    "sample_hash_based",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
    """,
    doc="Deterministic ~16% sample via content hash: keep rows whose "
    "md5(key) prefix falls below a threshold ('29' hex ≈ 0x29/0x100). "
    "Unlike seeded random sampling this is reproducible across engines, "
    "runs, partitionings and cluster sizes — the standard way to cut "
    "stable training-data subsets. Map-only, pushdown-friendly.",
)
def q_sample_hash_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "29"
    ).select("doc_id", "n_chars")


@register(
    "train_test_split_hash",
    oracle="""
    SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split
    """,
    doc="Deterministic train/test split (~81/19) by hash bucket — every "
    "engine, run, and worker assigns the same row to the same split, "
    "with no coordination and no stored assignment table.",
)
def q_train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "d", F.lit("train")
    ).otherwise(F.lit("test"))
    return (
        d.select("n_chars", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "sample_seeded_random",
    oracle=None,  # engine-internal RNG — rows-only check
    doc="Seeded Bernoulli sample (df.sample) — deterministic within Spark "
    "for a fixed seed AND partitioning, but not across engines or "
    "repartitionings, which is exactly why the hash-based variant "
    "above exists for training-data reproducibility.",
)
def q_sample_seeded_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.sample(fraction=0.2, seed=42).select("doc_id", "lang")


@register(
    "upsert_latest_state",
    oracle="""
    SELECT user_id, event_id AS latest_event_id, ts AS latest_ts,
           event_type AS latest_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="CDC / MERGE emulation: compact an event stream to per-key "
    "current state — union of base + changes (here: the whole stream) "
    "then keep the latest row per key via row_number. Without a Delta/"
    "Iceberg MERGE INTO this window-compaction is the idiomatic Spark "
    "upsert: one shuffle on the key, then overwrite the state table. "
    "Incremental variant at scale: restrict to keys present in the "
    "change batch (semi-join) before the window.",
)
def q_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("latest_type"),
        )
    )


@register(
    "sample_stratified_quota",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
    doc="Stratified quota sampling: deterministically keep up to 10 "
    "documents per source, ordered by content hash — equal-share "
    "domain balancing for training mixes (no domain can flood the "
    "sample, small domains keep everything). The hash order makes the "
    "quota winner set stable across engines, runs and partitionings; "
    "one shuffle on the stratum key. At 100 TB with heavy per-domain "
    "skew, swap row_number for a per-partition pre-rank + re-rank "
    "(same two-level shape as global top-k).",
)
def q_sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS stage_no, 'view' AS stage, count(*) AS users FROM v
      UNION ALL
      SELECT 2, 'click_after_view', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase_after_click', count(*) FROM p
    )
    """,
    doc="Ordered event funnel (view -> click -> purchase): each stage is "
    "min(ts) of the stage event STRICTLY AFTER the previous stage's "
    "time, per user — the standard product-analytics conversion query. "
    "Three chained filter+min aggregates on user_id: after the first "
    "groupBy every later join and aggregate re-uses the user_id "
    "partitioning, so scale cost is one events shuffle plus "
    "per-stage-shrinking joins.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")

    def stage_after(prev: DataFrame, t_prev: str, etype: str, t_out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_out))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = stage_after(v, "t_view", "click", "t_click")
    p = stage_after(c, "t_click", "purchase", "t_purchase")

    def row(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("users"),
        )

    return (
        row(1, "view", v)
        .unionByName(row(2, "click_after_view", c))
        .unionByName(row(3, "purchase_after_click", p))
    )


RANGE_WINDOW_SEC = 3600  # attribution lookback; also the bucket width


@register(
    "range_join_bucketed",
    oracle=f"""
    SELECT p.event_id, count(v.event_id) AS n_views_1h
    FROM events p LEFT JOIN events v
      ON v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL {RANGE_WINDOW_SEC} SECOND
     AND v.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    doc="Range (interval) join WITHOUT an equi-key — for every purchase, "
    "count the views in the preceding hour across all users. The naive "
    "plan is a cartesian product with a range filter (O(n*m)); this "
    "implementation buckets both sides by hour and probes each "
    "purchase against its two candidate buckets (an interval spanning "
    "W seconds overlaps exactly 2 W-wide buckets), making it an "
    "EQUI-join on the bucket id followed by the exact range predicate "
    "— each matching pair appears in exactly one probed bucket, so no "
    "dedup is needed. Left semantics (purchases with zero views) are "
    "restored by a final left join against the purchase keys. At "
    "100 TB the bucket key carries the shuffle, AQE splits hot "
    "buckets, and cost is O(pairs sharing a bucket), never O(n*m). "
    "All time math is integer microseconds so both engines agree "
    "bit-for-bit.",
)
def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w_us = RANGE_WINDOW_SEC * 1_000_000
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.unix_micros("ts").alias("v_us"),
        F.expr(f"unix_micros(ts) div {w_us}").alias("bucket"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.unix_micros("ts").alias("p_us")
    )
    probes = purchases.select(
        "event_id",
        "p_us",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"(p_us - {w_us}) div {w_us}"),
                    F.expr(f"p_us div {w_us}"),
                )
            )
        ).alias("bucket"),
    )
    hits = (
        probes.join(views, "bucket")
        .filter((F.col("v_us") >= F.col("p_us") - w_us) & (F.col("v_us") < F.col("p_us")))
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return purchases.join(hits, "event_id", "left").select(
        "event_id", F.coalesce(F.col("n"), F.lit(0)).alias("n_views_1h")
    )


@register(
    "sketch_hll_mergeable",
    oracle=None,  # HLL sketch bytes are engine-internal — rows-only; the
    # estimate-vs-exact error bound is asserted in tests/test_operators.py
    doc="Re-aggregatable HyperLogLog sketches — the pattern that makes "
    "COUNT DISTINCT incremental at 100 TB: per-source partial sketches "
    "(hll_sketch_agg) merge associatively (hll_union_agg) into the "
    "global estimate, so daily/partition-level sketches roll up "
    "without ever re-touching raw data — unlike exact count_distinct, "
    "whose state is the value set itself. Both aggregation levels are "
    "partial->final with constant-size (kb) buffers. Output: per-"
    "source estimates plus the merged corpus-wide estimate from the "
    "sketch union (NOT a re-scan), labeled source='__all__'.",
)
def q_sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.hll_sketch_agg(F.col("text"), F.lit(12)).alias("sk")
    )
    est = per_source.select(
        "source", F.hll_sketch_estimate("sk").alias("n_distinct_est")
    )
    merged = per_source.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__all__").alias("source"),
        F.hll_sketch_estimate("sk").alias("n_distinct_est"),
    )
    return est.unionByName(merged)


@register(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Skew-hardened dimension join — the salting pattern for hot keys: "
    "the fact side gains a deterministic salt in [0,S), the dimension "
    "side replicates S ways, and the join runs on (key, salt) so one "
    "hot customer spreads over S tasks instead of stalling one. The "
    "salt never escapes (functions/skew.py::salted_join) and the "
    "result is provably identical to the plain equi-join — which is "
    "exactly what the oracle checks. At 100 TB this is the manual "
    "fallback when AQE's skew-join split can't help (e.g. a "
    "broadcast-ineligible mid-size dimension with power-law keys).",
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    return (
        salted_join(o, c, "o_custkey", num_salts=8)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


EPOCH_SEED = 7


@register(
    "shuffle_epoch_sample",
    oracle=f"""
    SELECT doc_id, md5('{EPOCH_SEED}|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key ASC
    LIMIT 100
    """,
    doc="Deterministic epoch shuffling — training-data order for epoch k "
    "is the sort order of md5(seed_k || id): reproducible across "
    "engines, runs, partitionings and cluster sizes, with a fresh "
    "permutation per epoch (bump the seed). This query takes the "
    "permutation's first shard, which Spark executes as TakeOrdered "
    "(per-partition top-k + merge — no global sort). Writing the FULL "
    "permutation at 100 TB is a range-partitioned sort on the hash key "
    "(the TeraSort shape): each output shard is one partition, and "
    "readers stream shards in order with no coordination.",
)
def q_shuffle_epoch_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{EPOCH_SEED}|"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy(F.col("shuffle_key").asc())
        .limit(100)
    )


@register(
    "pivot_native",
    oracle="""
    SELECT o_orderpriority AS priority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS f_total,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS o_total,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS p_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Native pivot API (R9's conditional-aggregate pivot via "
    "df.groupBy().pivot() instead of hand-written CASE columns): with "
    "the pivot values DECLARED ('F','O','P'), Catalyst plans a "
    "two-level aggregate — partial->final sum on (key, pivot-col), "
    "then pivotfirst gathering the declared columns — ONE scan, no "
    "value-discovery pass (the hand-written CASE form in "
    "jaffle_orders does it in one aggregate level; both shuffle the "
    "same bytes). Omitting the value list would trigger a driver-side "
    "distinct scan to discover columns first: never do that at "
    "100 TB; the schema must not depend on the data.",
)
def q_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2))
    )
    return p.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("f_total"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("o_total"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("p_total"),
    )


@register(
    "train_test_split_by_source",
    oracle="""
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM (
      SELECT source,
             CASE WHEN substr(md5(source), 1, 1) < 'd'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split
    """,
    doc="Leakage-safe train/test split: hash the SOURCE (domain), not the "
    "document — near-duplicates and boilerplate cluster within a "
    "source, so a doc-level split leaks eval content into training "
    "(the classic contamination-by-construction bug). Grouping the "
    "whole source into one side makes the eval set genuinely "
    "out-of-distribution. Same zero-coordination map-side hash "
    "assignment as train_test_split_hash; the unit of assignment is "
    "the only change.",
)
def q_train_test_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    split = F.when(F.substring(F.md5("source"), 1, 1) < "d", F.lit("train")).otherwise(
        F.lit("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


BATCH_SIZE = 16
LEN_BUCKET = 32  # tokens per length-bucket step


@register(
    "batch_length_bucketed",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) // {LEN_BUCKET}
                  AS BIGINT) AS len_bucket
      FROM documents
    )
    SELECT doc_id, len_bucket,
           CAST((row_number() OVER (PARTITION BY len_bucket ORDER BY doc_id) - 1)
                // {BATCH_SIZE} AS BIGINT) AS batch_id
    FROM t
    """,
    doc="Length-bucketed batch assignment — group documents of similar "
    "token length into training batches so per-batch padding waste is "
    "bounded by the bucket width (the standard dataloader trick, "
    "precomputed at corpus scale instead of in the loader). Bucketing "
    "is map-only; batch numbering is a row_number window PER BUCKET, "
    "so parallelism = number of buckets — and within a bucket the "
    "deterministic doc_id order makes batches reproducible. To also "
    "randomize batch composition per epoch, order by the epoch-seeded "
    "hash (shuffle_epoch_sample's key) instead of doc_id: same plan.",
)
def q_batch_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.size(tokens_col(F.col("text"))) / LEN_BUCKET)
        .cast("bigint")
        .alias("len_bucket"),
    )
    w = Window.partitionBy("len_bucket").orderBy("doc_id")
    return t.select(
        "doc_id",
        "len_bucket",
        ((F.row_number().over(w) - 1) / BATCH_SIZE).cast("bigint").alias("batch_id"),
    )


SYNTH_N = 500


@register(
    "source_synthetic_docs",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {SYNTH_N})) AS doc_id),
    w AS (SELECT doc_id, 5 + (doc_id * 2654435761) % 7 AS k FROM ids)
    SELECT doc_id,
           array_to_string(list_transform(range(0, k),
             i -> (['spark','query','hash','row','column','table','scan',
                    'merge','sort','join','batch','stream','key','value',
                    'part','agg','window','fast','slow','line'])
                  [((doc_id * 2654435761 + i * 97003) % 4294967296) % 20 + 1]),
             ' ') AS text,
           CAST(k AS INT) AS n_words
    FROM w
    """,
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource API) — "
    "the source-connector surface beyond file formats: partition "
    "planning on the driver (contiguous ranges, one task per range), "
    "row generation on the executors, schema declared up front. The "
    "generator derives rows from doc_id via exact integer arithmetic, "
    "so even a CUSTOM SOURCE is oracle-checkable — DuckDB rebuilds the "
    "identical corpus from the same formulas. A real connector swaps "
    "the arithmetic for its client library; the partition/read/schema "
    "contract is unchanged (sources/synthetic.py).",
)
def q_source_synthetic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.synthetic import SyntheticDocsDataSource

    spark.dataSource.register(SyntheticDocsDataSource)
    return (
        spark.read.format("synthetic_documents")
        .option("n", SYNTH_N)
        .option("partitions", 8)
        .load()
    )


@register(
    "gapfill_daily_orders",
    oracle="""
    WITH b AS (
      SELECT date_trunc('day', min(o_orderdate)) AS lo,
             date_trunc('day', max(o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b
    ),
    prios AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
    daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             o_orderpriority AS priority, count(*) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT s.day, p.priority, COALESCE(d.n, 0) AS n_orders
    FROM spine s
    CROSS JOIN prios p
    LEFT JOIN daily d ON d.day = s.day AND d.priority = p.priority
    """,
    doc="Calendar-spine gap filling — the dense (day x dimension) grid "
    "every time-series consumer (forecasting, charting, SLA windows) "
    "needs: days with zero orders appear explicitly as 0, not as "
    "missing rows. The spine generates EXECUTOR-side from a 1-row "
    "min/max aggregate (sequence + explode — never a driver loop), "
    "the dimension join is a deliberate small cross product "
    "(spine x |dimension|), and the fact left-joins onto the grid. "
    "At 100 TB the grid is still tiny (days x dimension cardinality) "
    "while the daily aggregate is the only fact-sized shuffle.",
)
def q_gapfill_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("DAY", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("DAY", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    prios = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    daily = o.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(prios))
        .join(daily, ["day", "priority"], "left")
        .select("day", "priority", F.coalesce("n", F.lit(0)).alias("n_orders"))
    )


@register(
    "rollup_grouping_id",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="X6 hygiene: grouping() markers on a rollup — the only correct "
    "way to tell a subtotal row from a genuine NULL group value (a "
    "status of NULL and the all-statuses total both render as NULL "
    "without it). Same single rollup aggregate as rollup_flag_status; "
    "the markers are free metadata from the grouping-set expansion.",
)
def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n",
        )
    )


@register(
    "profile_orders_table",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS custkey_nonnull,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_distinct,
           round(min(o_totalprice), 2) AS price_min,
           round(max(o_totalprice), 2) AS price_max,
           round(avg(o_totalprice), 2) AS price_avg,
           min(o_orderdate) AS date_min,
           max(o_orderdate) AS date_max
    FROM orders
    """,
    doc="One-pass table profiling — the data-observability summary "
    "(row counts, null coverage, distinct cardinality, ranges) that "
    "gates ingestion in a production pipeline: every metric is a "
    "column of ONE aggregate, so profiling costs a single scan with "
    "partial->final combine regardless of how many metrics ride "
    "along. At 100 TB the exact count(DISTINCT) is the only "
    "cardinality-state metric — swap in approx_count_distinct / the "
    "HLL sketch (sketch_hll_mergeable) to keep the profile "
    "constant-memory.",
)
def q_profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.count_distinct("o_orderstatus").alias("status_distinct"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        F.round(F.avg("o_totalprice"), 2).alias("price_avg"),
        F.min("o_orderdate").alias("date_min"),
        F.max("o_orderdate").alias("date_max"),
    )


HIST_BUCKETS = 20
HIST_LO, HIST_HI = 0.0, 600_000.0


@register(
    "histogram_order_totals",
    oracle=f"""
    SELECT CAST(CASE WHEN o_totalprice < {HIST_LO} THEN 0
                     WHEN o_totalprice >= {HIST_HI} THEN {HIST_BUCKETS + 1}
                     ELSE floor((o_totalprice - {HIST_LO})
                                / (({HIST_HI} - {HIST_LO}) / {HIST_BUCKETS})) + 1
                END AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram via width_bucket — the distribution "
    "profile behind skew diagnosis, partition sizing, and monitoring "
    "dashboards. Bucket assignment is a map-only arithmetic projection "
    "(no sort, unlike quantile-based binning), then one "
    f"{HIST_BUCKETS + 2}-group aggregate; constant output size at any "
    "corpus scale. Out-of-range values land in the under/overflow "
    "buckets (0 and n+1); the oracle spells out the same arithmetic "
    "(DuckDB 1.0 has no width_bucket) with a bucket width chosen "
    "exactly representable in binary so floor() agrees bit-for-bit "
    "(boundary-exact edge assignment asserted in "
    "tests/test_extensions.py). Integer surface is plain "
    "counts — headroom is the int64 count ceiling itself, "
    "unreachable at any SF.",
)
def q_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                "o_totalprice", F.lit(HIST_LO), F.lit(HIST_HI), F.lit(HIST_BUCKETS)
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --------------------------------------------------------------- SCD Type 2
@register(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, state, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_state IS NULL OR prev_state <> state
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) IS NULL AS is_current
    FROM changes
    """,
    doc="SCD Type-2 history build — the dbt `snapshot` analog "
    "(check-strategy: a new version row whenever the tracked attribute "
    "changes). Treats each user's event_type as the tracked state: "
    "collapse consecutive equal states, then [valid_from, valid_to) "
    "validity intervals via lead(), NULL valid_to marking the current "
    "row. Two window passes over ONE user_id shuffle, no joins, no "
    "self-join against the existing snapshot (the incremental variant "
    "unions the change feed with the open rows and re-runs the same "
    "plan — cf. upsert_latest_state). Deterministic under ts ties via "
    "the event_id tiebreaker. At 100 TB: partition-local windows after "
    "a single hash shuffle on the entity key; state never leaves the "
    "executor.",
)
def q_scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state")))
        .select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ----------------------------------------------------------- Z-order layout
_Z_BITS = 16


def _zvalue(x, y):
    """Interleave the low 16 bits of two non-negative int columns into a
    32-bit Morton (Z-order) key — pure JVM expression tree (32 shift/or
    terms), no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(x.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(y.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


@register(
    "zorder_orders_layout",
    oracle=f"""
    SELECT o_orderkey,
           CAST(list_aggregate(
             list_transform(range(0, {_Z_BITS}), i ->
               (((o_custkey >> i) & 1) << (2 * i))
               | (((datediff('day', DATE '1992-01-01', o_orderdate) >> i) & 1)
                  << (2 * i + 1))
             ), 'sum'
           ) AS BIGINT) AS zval
    FROM orders
    """,
    doc="Z-order (Morton) layout key over (o_custkey, o_orderdate-epoch "
    "-day) — the data-layout primitive behind multi-dimensional file "
    "skipping: writing the table range-partitioned and sorted by zval "
    "gives every file a tight min/max envelope on BOTH columns, so "
    "predicates on either key prune files (the effect Delta/Iceberg "
    "OPTIMIZE ZORDER targets). The key itself is a map-only 32-term "
    "shift/or expression (zero shuffles here); the write path is "
    "df.repartitionByRange(F.col('zval')).sortWithinPartitions('zval') "
    "into the parquet sink (tests/test_sinks.py covers the "
    "partitioned-write round trip). Day offset anchored at 1992-01-01 "
    "(TPC-H epoch) keeps 16 bits sufficient for the date dimension.",
)
def q_zorder_orders_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    return o.select("o_orderkey", _zvalue(F.col("o_custkey"), day).alias("zval"))


# ------------------------------------------------ incremental materialization
@register(
    "incremental_orders_state",
    oracle="""
    SELECT l_orderkey AS order_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS amount
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="Incremental (delete+insert) materialization certified against a "
    "full recompute: the per-order line aggregate is built in TWO "
    "incremental runs through Project._materialize_incremental "
    "(plans/registry.py:214-230) — batch 1 sees only lineitems with "
    "l_linenumber <= 3, batch 2 re-emits the full aggregate for every "
    "order that has lines beyond 3 (the dbt pattern: recompute rows "
    "whose source changed, keyed by unique_key). The merge replaces "
    "changed keys via a key-only left-anti join and appends the rest, "
    "so the final state must equal DuckDB's one-shot GROUP BY over all "
    "lineitems. Reference anchor: dbt_project.yml:22-27 names the "
    "materialization configs; this is the `incremental` strategy the "
    "reference configures but does not ship a model for. At 100 TB the "
    "anti-join shuffles only keys and a lakehouse MERGE INTO with "
    "partition pruning replaces the full-state rewrite.",
)
def q_incremental_orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..plans.registry import ModelContext, Project

    wh = os.path.join(
        tempfile.gettempdir(),
        f"incr_orders_state_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(wh, ignore_errors=True)  # bounded: one dir per session
    project = Project(warehouse_dir=wh)
    batch = {"n": 1}

    @project.model(
        name="orders_state_incr",
        materialized="incremental",
        unique_key=("order_id",),
    )
    def orders_state_incr(ctx: ModelContext) -> DataFrame:
        li = load_table(ctx.spark, sf_dir, "lineitem")
        if batch["n"] == 1:
            src = li.filter(F.col("l_linenumber") <= 3)
        else:
            changed = (
                li.groupBy("l_orderkey")
                .agg(F.max("l_linenumber").alias("mx"))
                .filter(F.col("mx") >= 4)
                .select("l_orderkey")
            )
            src = li.join(changed, "l_orderkey", "semi")
        return src.groupBy(F.col("l_orderkey").alias("order_id")).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("amount"),
        )

    project.run(spark, select=["orders_state_incr"])  # v1: initial build
    batch["n"] = 2
    project._built.clear()
    return project._materialize(project.models["orders_state_incr"], spark)


# ------------------------------------------------- bloom-filter join pruning
BLOOM_BITS = 1 << 16  # 65536 bits = 1024 longs (~8 KB broadcast)
BLOOM_SEEDS = (1, 2, 3)  # k=3 hash functions


def _bloom_check_sql(key: str, seed: int) -> str:
    h = f"pmod(xxhash64({key}, {seed}), {BLOOM_BITS})"
    word = f"coalesce(element_at(bm, CAST({h} div 64 AS INT)), CAST(0 AS BIGINT))"
    mask = f"shiftleft(CAST(1 AS BIGINT), CAST({h} % 64 AS INT))"
    return f"(({word} & {mask}) != CAST(0 AS BIGINT))"


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 4500
    GROUP BY order_month
    """,
    doc="Runtime bloom-filter join pruning made explicit — the pattern "
    "Spark's InjectRuntimeFilter applies to selective star joins, built "
    "from plain JVM expressions so it works on any join and any Spark "
    "build: the selective dim side (BUILDING customers with high "
    "balance) aggregates k=3 xxhash64 bit positions into a 65536-bit "
    "bitmap (bit_or partial->final, then ONE ~8 KB map row), the bitmap "
    "broadcasts to the fact scan, and each orders row is pre-filtered "
    "by 3 codegen'd bit probes BEFORE the join shuffle — only rows that "
    "might match (FP rate ~(set_bits/m)^3, here <1e-5) ride the "
    "exchange; the exact semi-join then removes false positives, so "
    "the result is EXACTLY the plain join (which is the oracle). At "
    "100 TB this is the difference between shuffling the full fact "
    "table and shuffling the ~matching slice; the bitmap costs one "
    "dim-side aggregate regardless of fact size. (At THIS sf the dim "
    "also broadcasts, so Catalyst reorders the broadcast semi-join "
    "below the probe filter — cost-equivalent here; with a "
    "non-broadcastable dim the probe is a plain pushed-down filter "
    "under the join exchange, which is the scale payoff.) "
    "tests/test_operators.py asserts the prefilter actually drops "
    "non-matching fact rows before the join.",
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 4500)
    )
    pref = bloom_prefilter(orders, "o_custkey", dim, "c_custkey")
    return (
        pref.join(dim, pref["o_custkey"] == dim["c_custkey"], "left_semi")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def bloom_prefilter(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Filter `fact` down to rows whose key might appear in dim[dim_key]
    via a broadcast bloom bitmap; exact join afterwards removes FPs."""
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(dim_key), F.lit(s)), F.lit(BLOOM_BITS))
                    for s in BLOOM_SEEDS
                ]
            )
        ).alias("bit")
    )
    words = pos.selectExpr(
        "CAST(bit div 64 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT)) AS m",
    ).groupBy("w").agg(F.expr("bit_or(m)").alias("bits"))
    bf = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bm")
    )
    checks = " AND ".join(_bloom_check_sql(fact_key, s) for s in BLOOM_SEEDS)
    return fact.crossJoin(F.broadcast(bf)).filter(checks).drop("bm")


def _value_histogram_cdf(e: DataFrame):
    """Shared histogram-CDF core for the exact median/quantile pair:
    2dp value buckets, per-type counts, cumulative window over DISTINCT
    buckets, and per-type totals. Returns (cum, tot)."""
    b = e.select("event_type", F.round("value", 2).alias("v"))
    h = b.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = h.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("event_type").orderBy("v"))
    )
    tot = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return cum, tot



@register(
    "median_histogram_cdf",
    oracle="""
    WITH b AS (SELECT event_type, round(value, 2) AS v FROM events),
    h AS (SELECT event_type, v, count(*) AS c FROM b GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v,
             sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
      FROM h
    ),
    tot AS (SELECT event_type, count(*) AS n FROM b GROUP BY event_type)
    SELECT t.event_type, CAST(t.n AS BIGINT) AS n_events,
           min(c.v) AS median_value
    FROM cum c JOIN tot t USING (event_type)
    WHERE c.cum >= ceil(t.n * 0.5)
    GROUP BY t.event_type, t.n
    """,
    doc="Exact per-key median via histogram CDF — the scale path where "
    "percentile_exact cannot go: Spark's exact `percentile` is an "
    "ObjectHashAggregate that BUFFERS every value of a group in one "
    "task (fine for bounded groups, an executor OOM for a hot key with "
    "billions of rows). Here the value domain is bucketized (2dp), the "
    "per-(key, bucket) histogram is an ordinary partial->final count, "
    "the cumulative distribution is a window over DISTINCT buckets "
    "(histogram-sized, not row-count-sized — the per-key sort touches "
    "at most |value domain| rows no matter how hot the key), and the "
    "median is the first bucket whose cumulative count reaches "
    "ceil(n/2) (lower median — engine-pinned definition, no "
    "interpolation ambiguity). Memory per key is O(distinct buckets) "
    "at every stage. Generalizes to any quantile and to mergeable "
    "multi-quantile extraction from the same histogram.",
)
def q_median_histogram_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum, tot = _value_histogram_cdf(load_table(spark, sf_dir, "events"))
    return (
        cum.join(tot, "event_type")
        .filter(F.col("cum") >= F.ceil(F.col("n") * 0.5))
        .groupBy("event_type", "n")
        .agg(F.min("v").alias("median_value"))
        .select("event_type", F.col("n").alias("n_events"), "median_value")
    )


@register(
    "users_anomaly_zscore",
    # |c - mean| > 2*sigma over per-user event counts, rearranged into
    # EXACT integer arithmetic so the flag is bit-deterministic across
    # engines AND partitionings: with c = user's event count, n = number
    # of users, SX = sum(c), SXX = sum(c^2):
    #   sigma = sqrt(n*SXX - SX^2) / n, so |c - SX/n| > 2*sigma
    #   <=>  |n*c - SX| > 2 * sqrt(n*SXX - SX^2)
    #   <=>  (n*c - SX)^2 > 4 * (n*SXX - SX^2)
    # both sides are exact DECIMAL(38,0) quantities — no floating-point
    # summation order anywhere near the comparison. (events.value is
    # uniform, max |z| ~ 1.7, so a value-level rule is vacuous by
    # construction; per-user activity has real tails.)
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS DECIMAL(38,0)) AS c
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             sum(c) AS sx, sum(c * c) AS sxx
      FROM u
    )
    SELECT u.user_id, CAST(u.c AS BIGINT) AS n_events
    FROM u, s
    WHERE (s.n * u.c - s.sx) * (s.n * u.c - s.sx)
          > 4 * (s.n * s.sxx - s.sx * s.sx)
    """,
    doc="Distribution-based anomaly flagging (2-sigma rule) on per-user "
    "activity — the bot/outage detector of an event pipeline — with "
    "the population moments in EXACT integer arithmetic: "
    "floating-point stddev differs in its last bits between engines "
    "and partition orders, which would make boundary users flicker; "
    "cross-multiplying |c-mean|>2*sigma into an integer inequality "
    "removes every float from the decision. Plan: per-user counts "
    "(one keys-only shuffle), a 3-number global moment aggregate "
    "broadcast back, then a map-side flag over the (already tiny) "
    "per-user table. At 100 TB only user_id ever rides an exchange.",
)
def q_users_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("sx"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
    )
    dev = F.col("n") * F.col("c") - F.col("sx")
    return (
        u.crossJoin(F.broadcast(s))
        .filter(
            dev * dev
            > F.lit(4) * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .select("user_id", F.col("c").cast("bigint").alias("n_events"))
    )


@register(
    "session_top_paths",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM m
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, sid
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
    """,
    doc="Top user-journey paths: sessionize (30-min gap, lag/cumsum — "
    "same session algebra as session_window_batch), concatenate each "
    "session's event types IN EVENT-TIME ORDER, and count path "
    "frequencies. The ordered concat is array_sort(collect_list("
    "struct(ts, type))) — the struct sort happens inside the per-"
    "session agg buffer (bounded by session length, never corpus "
    "length), so no per-user window sort over the full stream is "
    "needed beyond the one sessionization pass. Two shuffles total: "
    "user_id for sessionization (sort rides the exchange), path for "
    "the frequency count; top-20 is TakeOrdered. The product-analytics "
    "staple (funnel_conversion's open-world complement: it discovers "
    "paths instead of testing one).",
)
def q_session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # gap test at full µs precision (a seconds-cast would disagree
        # with the oracle's INTERVAL comparison on sub-second gaps)
        F.when(
            (
                F.expr("unix_micros(ts)")
                - F.lag(F.expr("unix_micros(ts)")).over(w)
            )
            < 1_800_000_000,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_s"),
    )
    s = m.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


@register(
    "retention_cohorts",
    # month offset via integer year/month arithmetic — identical in
    # both engines (no engine-specific month-diff semantics involved)
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    a AS (
      SELECT f.cohort,
             (year(o.o_orderdate) - year(f.cohort)) * 12
               + (month(o.o_orderdate) - month(f.cohort)) AS month_offset,
             o.o_custkey
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey
    )
    SELECT cohort, CAST(month_offset AS BIGINT) AS month_offset,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM a GROUP BY cohort, month_offset
    """,
    doc="Retention cohort matrix — the canonical warehouse analytics "
    "query: customers grouped by first-order month (cohort), activity "
    "counted per months-since-first-order offset. Plan: one custkey "
    "aggregate for cohorts (keys-only shuffle), a broadcast-or-shuffle "
    "equi-join back to the fact, and a (cohort, offset) count-distinct "
    "which Spark expands into two partial->final aggregates. At 100 TB "
    "the cohort table is customers-sized (<< fact), the join key is "
    "the fact's natural key, and nothing wider than (custkey, date) "
    "rides any exchange.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate")).cast("date")).alias("cohort")
    )
    a = o.join(f, "o_custkey").select(
        "cohort",
        (
            (F.year("o_orderdate") - F.year("cohort")) * 12
            + (F.month("o_orderdate") - F.month("cohort"))
        ).alias("month_offset"),
        "o_custkey",
    )
    return a.groupBy("cohort", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    ).select("cohort", F.col("month_offset").cast("bigint").alias("month_offset"), "n_customers")


@register(
    "copurchase_part_pairs",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT 25
    """,
    doc="Market-basket co-occurrence — part pairs appearing in the same "
    "order, the support-count core of association mining. The "
    "quadratic term is bounded by basket size (lines per order), not "
    "corpus size: dedup to distinct (order, part), self-equi-join on "
    "the order key (pairs explode only within a basket), then one "
    "pair-key count with map-side combine. Top-k is TakeOrdered with "
    "full tiebreaks. The same plan shape at 100 TB — a hot basket "
    "(one order with thousands of parts) is the only skew risk, "
    "handled by capping basket size upstream exactly like the LSH "
    "hot-band cap.",
)
def q_copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r15: basket-array pair expansion replaces the distinct + self-join
    # (guide §2.1/§3.4). collect_set(l_partkey) per order IS the
    # distinct (order, part) relation folded to one row per basket, so
    # the ordered pairs a < b fall out of one codegen transform over
    # the sorted set — no second shuffle of the relation, no join, and
    # the within-basket quadratic stays bounded by basket size exactly
    # as before. Equivalence pinned in tests/test_extensions.py.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "y -> named_struct('part_a', x, 'part_b', y))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(25)
    )


# ----------------------------------------------- TPC-H-style join queries
# Multi-way-join analogs of TPC-H Q3/Q5/Q10 over the driver's star
# schema (partsupp does not exist in the testdata; predicates adjusted
# to its 1995-2001 date range). ORDER BY uses the ROUNDED revenue so
# top-k cutoffs cannot flip on last-bit float noise.
_REV = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q3_style",
    oracle=f"""
    SELECT l.l_orderkey,
           round(sum({_REV.replace('l_', 'l.l_')}), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 analog (shipping priority): segment-filtered customers "
    "x orders x lineitem, revenue per unshipped order, top-10. The "
    "selective dimension filter reaches the customer scan "
    "(PushedFilters), the customer side broadcasts, and the "
    "order-lineitem join keys on the fact's natural key; at 100 TB "
    "AQE picks SMJ vs broadcast per actual build size. Date "
    "predicates prune at the parquet row-group level on both fact "
    "scans.",
)
def q_tpch_q3_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.expr(_REV)), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5_style",
    oracle=f"""
    SELECT n.n_name, round(sum({_REV.replace('l_', 'l.l_')}), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 analog (local supplier volume): the 6-way join — "
    "customer x orders x lineitem x supplier x nation x region with "
    "the local-supplier condition (customer and supplier share a "
    "nation) — revenue per Asian nation. The canonical Catalyst "
    "join-ordering workout: region->nation->supplier prune to a tiny "
    "broadcast chain, the two fact joins key on natural keys, and the "
    "c_nationkey = s_nationkey condition rides the supplier join as a "
    "non-key equality filter rather than forcing an extra shuffle.",
)
def q_tpch_q5_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.expr(_REV)), 2).alias("revenue"))
    )


@register(
    "tpch_q10_style",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum({_REV.replace('l_', 'l.l_')}), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 analog (returned-item reporting): customers ranked by "
    "lost revenue from returned lineitems in a two-quarter window — "
    "fact-fact join on the order key with the returnflag filter pushed "
    "to the lineitem scan, nation broadcast for the final decorate, "
    "top-20 by rounded revenue via TakeOrdered.",
)
def q_tpch_q10_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.expr(_REV)), 2).alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "util_surrogate_key",
    # dbt_utils.generate_surrogate_key semantics: every component cast
    # to string, NULL replaced by the sentinel, joined with '-', md5'd.
    oracle="""
    SELECT o_orderkey,
           md5(concat_ws('-',
               coalesce(CAST(o_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
               coalesce(CAST(o_orderstatus AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
               coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), '_dbt_utils_surrogate_key_null_')))
             AS surrogate_key
    FROM orders
    """,
    doc="dbt_utils.generate_surrogate_key parity (the ecosystem's most-"
    "used macro; reference repos adopting dbt-utils call it on every "
    "mart): md5 over '-'-joined, null-sentineled string casts of the "
    "component columns — deterministic, collision-resistant enough for "
    "grain keys, and identical across engines because every component "
    "is normalized to a string first (timestamps via epoch "
    "microseconds: engine-native timestamp rendering differs, epoch "
    "integers do not). Map-only at any scale.",
)
def q_util_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    sentinel = "_dbt_utils_surrogate_key_null_"
    parts = [
        F.coalesce(F.col("o_custkey").cast("string"), F.lit(sentinel)),
        F.coalesce(F.col("o_orderstatus").cast("string"), F.lit(sentinel)),
        # NTZ -> zoned cast is identity under the session's pinned UTC,
        # matching DuckDB's epoch_us on the naive timestamp
        F.coalesce(
            F.expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING)"),
            F.lit(sentinel),
        ),
    ]
    return o.select(
        "o_orderkey", F.md5(F.concat_ws("-", *parts)).alias("surrogate_key")
    )


@register(
    "audit_table_diff",
    # dbt-audit-helper compare_relations analog: diff two versions of
    # the per-order state (v1 = built from the first 3 lines of every
    # order, v2 = from all lines — the same split the incremental
    # materialization test uses), keyed by order_id.
    oracle="""
    WITH v1 AS (
      SELECT l_orderkey AS order_id, CAST(count(*) AS BIGINT) AS n_lines,
             round(sum(l_extendedprice), 2) AS amount
      FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey
    ),
    v2 AS (
      SELECT l_orderkey AS order_id, CAST(count(*) AS BIGINT) AS n_lines,
             round(sum(l_extendedprice), 2) AS amount
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT 'changed' AS op, CAST(count(*) AS BIGINT) AS n_rows FROM v1
    JOIN v2 USING (order_id)
    WHERE v1.n_lines <> v2.n_lines OR v1.amount <> v2.amount
    UNION ALL
    SELECT 'unchanged', CAST(count(*) AS BIGINT) FROM v1
    JOIN v2 USING (order_id)
    WHERE v1.n_lines = v2.n_lines AND v1.amount = v2.amount
    UNION ALL
    SELECT 'added', CAST(count(*) AS BIGINT) FROM v2
    WHERE order_id NOT IN (SELECT order_id FROM v1)
    UNION ALL
    SELECT 'removed', CAST(count(*) AS BIGINT) FROM v1
    WHERE order_id NOT IN (SELECT order_id FROM v2)
    """,
    doc="dbt-audit-helper compare_relations analog — the regression "
    "check run before swapping a rebuilt mart over the old one: two "
    "versions of the per-order state are keyed on the grain and "
    "bucketed into added / removed / changed / unchanged with row "
    "counts. Plan: both versions aggregate on the same key so the "
    "diff join reuses one partitioning; added/removed are anti-joins "
    "(keys only); value comparison happens on the pre-rounded "
    "aggregates. At 100 TB this replaces a full-table EXCEPT (which "
    "shuffles entire rows) with a key-partitioned column comparison.",
)
def q_audit_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def version(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("l_orderkey").alias("order_id")).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("amount"),
        )

    v1 = version(li.filter(F.col("l_linenumber") <= 3))
    v2 = version(li)
    j = v1.alias("v1").join(v2.alias("v2"), "order_id")
    same = (F.col("v1.n_lines") == F.col("v2.n_lines")) & (
        F.col("v1.amount") == F.col("v2.amount")
    )
    changed = j.filter(~same).agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("changed").alias("op"), "n_rows"
    )
    unchanged = j.filter(same).agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("unchanged").alias("op"), "n_rows"
    )
    added = (
        v2.join(v1, "order_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("added").alias("op"), "n_rows")
    )
    removed = (
        v1.join(v2, "order_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("removed").alias("op"), "n_rows")
    )
    return changed.unionByName(unchanged).unionByName(added).unionByName(removed)


@register(
    "quantiles_histogram_cdf",
    oracle="""
    WITH b AS (SELECT event_type, round(value, 2) AS v FROM events),
    h AS (SELECT event_type, v, count(*) AS c FROM b GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v,
             sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
      FROM h
    ),
    tot AS (SELECT event_type, count(*) AS n FROM b GROUP BY event_type),
    qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q)
    SELECT t.event_type, qs.q, min(c.v) AS value
    FROM cum c
    JOIN tot t USING (event_type)
    CROSS JOIN qs
    WHERE c.cum >= ceil(t.n * qs.q)
    GROUP BY t.event_type, qs.q
    """,
    doc="Multi-quantile extraction from ONE histogram pass — the claim "
    "median_histogram_cdf makes ('generalizes to any quantile'), "
    "delivered: p25/p50/p75/p95 per key all read off the same "
    "cumulative distribution, so adding quantiles costs one more "
    "broadcast-joined threshold row, not another scan or sort. Same "
    "hot-key-safe posture (per-key memory = distinct buckets); the "
    "mergeable-summary analog of percentile_approx with EXACT "
    "bucketized answers and a plain SQL oracle.",
)
def q_quantiles_histogram_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum, tot = _value_histogram_cdf(load_table(spark, sf_dir, "events"))
    qs = spark.createDataFrame([(0.25,), (0.5,), (0.75,), (0.95,)], "q double")
    return (
        cum.join(tot, "event_type")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.ceil(F.col("n") * F.col("q")))
        .groupBy("event_type", "q")
        .agg(F.min("v").alias("value"))
    )


# ------------------------------------------------- governance / freshness
@register(
    "gdpr_erase_users",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    c AS (
      SELECT 'customer' AS table_name,
             count(*) AS rows_before,
             count(*) FILTER (WHERE c_custkey IN (SELECT c_custkey FROM del))
               AS rows_removed
      FROM customer
    ),
    o AS (
      SELECT 'orders' AS table_name,
             count(*) AS rows_before,
             count(*) FILTER (WHERE o_custkey IN (SELECT c_custkey FROM del))
               AS rows_removed
      FROM orders
    )
    SELECT table_name, rows_before, rows_removed,
           rows_before - rows_removed AS rows_after
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o)
    ORDER BY table_name
    """,
    doc="Right-to-erasure propagation (GDPR/CCPA delete cascade): a "
    "deletion-request list (here the deterministic custkey % 97 == 0 "
    "cohort standing in for an uploaded request file) is applied "
    "across every table holding that subject's rows, and the audit "
    "row per table reports before/removed/after counts — the receipt "
    "a compliance pipeline must produce. Plan: the request list is "
    "tiny by nature, so each fact table gets ONE broadcast left join "
    "and a count aggregate — map-side probe, no fact-side shuffle at "
    "any scale; the actual delete at 100 TB is the same plan with the "
    "anti-join written back partition-aligned. Flag counting uses "
    "count(match_key) (non-null = hit), mirroring the oracle's "
    "FILTER(IN).",
)
def q_gdpr_erase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    req = (
        cust.filter((F.col("c_custkey") % 97) == 0)
        .select(F.col("c_custkey").alias("erase_key"))
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        flagged = df.join(
            F.broadcast(req), F.col(key) == F.col("erase_key"), "left"
        )
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("rows_before"),
            F.count("erase_key").alias("rows_removed"),
            (F.count(F.lit(1)) - F.count("erase_key")).alias("rows_after"),
        )

    return (
        audit(cust, "c_custkey", "customer")
        .unionByName(audit(orders, "o_custkey", "orders"))
        .orderBy("table_name")
    )


@register(
    "window_ntile_cume",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    doc="X7 distribution-rank window trio: ntile quartile bucketing, "
    "percent_rank, cume_dist per status partition — the standard "
    "primitives for per-segment score calibration (e.g. mapping a "
    "raw quality score to its within-language percentile before a "
    "global threshold). The ORDER BY carries o_orderkey as a unique "
    "tiebreaker so every rank is deterministic cross-engine. Plan: "
    "one shuffle on the partition key, one sort within partitions, "
    "all three functions evaluated in the same Window operator — "
    "adding more rank functions is free once the sort is paid.",
)
def q_window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@register(
    "check_source_freshness",
    oracle="""
    WITH per AS (
      SELECT event_type, max(ts) AS latest_ts FROM events GROUP BY event_type
    )
    SELECT event_type, latest_ts,
           CAST(floor(date_diff('second', latest_ts, max(latest_ts) OVER ())
                      / 3600.0) AS BIGINT) AS lag_hours,
           CASE
             WHEN date_diff('second', latest_ts, max(latest_ts) OVER ())
                  <= 24 * 3600 THEN 'pass'
             WHEN date_diff('second', latest_ts, max(latest_ts) OVER ())
                  <= 72 * 3600 THEN 'warn'
             ELSE 'error'
           END AS freshness
    FROM per
    ORDER BY event_type
    """,
    doc="dbt `source freshness` analog: per source partition (event "
    "type), how stale is the newest row, classified against "
    "warn/error SLAs (24 h / 72 h)? The as-of instant is pinned to "
    "the corpus-wide max timestamp so the check is deterministic "
    "(wall-clock `now()` would break both the oracle and reruns); a "
    "production run substitutes now() for the window max and keeps "
    "the identical plan. Plan: one partial->final max aggregate over "
    "the events scan (parquet footer min/max makes this near-free), "
    "then the global max via an unbounded window over the "
    "per-type AGGREGATE — a handful of rows regardless of corpus "
    "size, so the single-partition window is bounded by the number "
    "of sources, not the data. UTC session timezone pins the "
    "epoch-second arithmetic to DuckDB's naive-timestamp date_diff.",
)
def q_check_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(F.max("ts").alias("latest_ts"))
    asof = F.max("latest_ts").over(Window.partitionBy())
    lag_s = F.unix_timestamp(asof) - F.unix_timestamp(F.col("latest_ts"))
    return per.select(
        "event_type",
        "latest_ts",
        F.floor(lag_s / 3600).cast("long").alias("lag_hours"),
        F.when(lag_s <= 24 * 3600, "pass")
        .when(lag_s <= 72 * 3600, "warn")
        .otherwise("error")
        .alias("freshness"),
    ).orderBy("event_type")


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.absent') IS NULL AS absent_is_null,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    """,
    doc="X10 via Spark 4's VARIANT type: parse_json materializes the "
    "document ONCE into the binary variant encoding, and every "
    "variant_get afterwards is a typed sub-document seek — the "
    "semi-structured answer to re-running string JSON parsing per "
    "extracted field (get_json_object re-scans the text for each "
    "path; variant pays one parse then O(fields) binary probes, the "
    "difference between 1 and N parses per row on wide telemetry "
    "payloads at 100 TB). Missing paths yield typed NULL, not an "
    "error, so schema drift degrades gracefully. Plan: map-only "
    "projection, codegen'd, zero shuffles. Oracle extracts the same "
    "paths from the JSON text — values are engine-independent even "
    "though the variant binary encoding is Spark-internal.",
)
def q_json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json("props").alias("v"))
    out = v.select(
        "event_id",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.variant_get("v", "$.absent", "string").isNull().alias("absent_is_null"),
        (F.variant_get("v", "$.k", "bigint") % 10).alias("k_bucket"),
    )
    return out.filter(F.col("k").isNotNull())


@register(
    "distinct_exact_bitmap",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_distinct_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc="EXACT distinct counting via mergeable roaring-style bitmaps "
    "(Spark's bitmap_bucket_number / bitmap_construct_agg / "
    "bitmap_count) — the third point on the distinct-count spectrum "
    "next to count(DISTINCT) and HLL sketches: unlike count(DISTINCT) "
    "its partial state is a fixed-width bitmap per 32768-value bucket "
    "(mergeable across partitions, days, and incremental refreshes "
    "with a bit_or — count(DISTINCT) partials are the raw value sets "
    "and cannot be merged without re-deduplicating), and unlike HLL "
    "(sketch_hll_mergeable) the answer is exact, not ±2%%. The "
    "standard pattern for incrementally-maintained exact uniques in "
    "lakehouse aggregation tables. Plan: map-side bucket/position "
    "projection, partial->final bitmap OR-aggregate keyed on (type, "
    "bucket), then a tiny sum of per-bucket popcounts per key — "
    "shuffle carries bitmaps, never user ids. The oracle states the "
    "same quantity as plain COUNT(DISTINCT); equal output is the "
    "exactness proof. int64 headroom (audited round 11): bucket/"
    "position arithmetic is div/mod 32768 — no multiply — so the op "
    "is exact over the full non-negative int64 id domain (planted "
    "worst case at 2^62 in tests/test_extensions.py).",
)
def q_distinct_exact_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    buckets = e.selectExpr(
        "event_type",
        "bitmap_bucket_number(user_id) AS bucket",
        "bitmap_bit_position(user_id) AS pos",
    )
    per_bucket = buckets.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users"),
        F.sum("n").alias("n_events"),
    )


@register(
    "cdc_upsert_with_deletes",
    oracle="""
    WITH ops AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    latest AS (
      SELECT user_id, event_id, ts, event_type, op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ops
    )
    SELECT user_id, event_id AS latest_event_id, ts AS latest_ts,
           event_type AS latest_type
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
    doc="CDC compaction WITH tombstones — the full MERGE semantics a "
    "Debezium/outbox stream needs: each change row carries an op "
    "(upsert or delete; here 'error' events stand in for delete "
    "markers), the latest op per key wins, and a key whose newest "
    "change is a delete vanishes from the state table instead of "
    "resurfacing its stale pre-delete row. One extra predicate on "
    "top of upsert_latest_state's window — the tombstone filter "
    "applies AFTER the latest-row pick, which is the part naive "
    "implementations get wrong (filtering deletes BEFORE the window "
    "resurrects the previous version of a deleted key). Plan: "
    "identical to the plain upsert — one key shuffle, one window, "
    "map-side tombstone predicate; at scale the change batch "
    "semi-joins the base table before the window so only touched "
    "keys re-compact.",
)
def q_cdc_upsert_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ops = e.withColumn(
        "op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("latest_type"),
        )
        .orderBy("user_id")
    )


@register(
    "fuzzy_join_levenshtein",
    oracle="""
    WITH cand AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand
       AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
       AND a.p_partkey < b.p_partkey
    )
    SELECT part_a, part_b, name_a, name_b, lev_dist
    FROM cand WHERE lev_dist <= 3
    ORDER BY lev_dist ASC, part_a ASC, part_b ASC
    LIMIT 50
    """,
    doc="Record linkage / fuzzy entity resolution: edit-distance join on "
    "part names with BLOCKING — the join key is (brand, first letter), "
    "so the quadratic levenshtein comparison runs only inside blocks "
    "(the classic Fellegi-Sunter blocking step) and never as a cross "
    "join. At 100 TB: blocks shuffle on their key like any equi-join "
    "(levenshtein is a post-join filter, JVM codegen in Spark), block "
    "sizes are bounded by the blocking key's selectivity, and a hot "
    "block (one mega-brand) falls under the same salting/cap toolkit "
    "as every other skewed equi-join in this repo. Multi-pass blocking "
    "(union of several cheap keys: sorted-neighborhood, phonetic, "
    "q-gram) raises recall the same way LSH multi-banding does; the "
    "per-block verify stays identical. Levenshtein itself is exact "
    "and engine-portable (same DP definition in Spark and DuckDB).",
)
def q_fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # spread the probe side across tasks on the BLOCK key: the dimension
    # table arrives as one small file (one split), which would run the
    # entire post-join levenshtein stream on a single core; block-key
    # partitioning is also exactly how a cluster would co-locate the
    # comparison work (measured 2.5s -> ~0.4s at sf0.1 on local[32])
    probe = p.repartition(F.col("p_brand"), F.substring(F.col("p_name"), 1, 1))
    a, b = probe.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (
                F.substring(F.col("a.p_name"), 1, 1)
                == F.substring(F.col("b.p_name"), 1, 1)
            )
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            # thresholded levenshtein: banded O(len*k) DP that bails at
            # k=3 (returns -1 above), ~the verify-cost trick every
            # similarity join here uses; exact distance for survivors
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 3)
            .cast("bigint")
            .alias("lev_dist"),
        )
        .filter(F.col("lev_dist") >= 0)
        .orderBy(F.col("lev_dist").asc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


@register(
    "event_ewma_smoothing",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id,
           round(sum(b.value * power(0.5, a.rn - b.rn))
                 / sum(power(0.5, a.rn - b.rn)), 6) AS ewma
    FROM r a JOIN r b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
    GROUP BY a.user_id, a.event_id
    """,
    doc="Per-key exponentially-weighted moving average (alpha=0.5, "
    "window 10) over the event stream — the feature-engineering "
    "staple for behavioral models. Spark plan: ONE window sort per "
    "user (row_number + frame-bounded collect_list share the same "
    "(user_id, ts, event_id) exchange+sort), then the weighted fold "
    "runs map-side over the 10-element frame array via JVM "
    "higher-order aggregate — no self-join, no second shuffle. The "
    "frame bound (ROWS 9 PRECEDING) is what makes this scale: state "
    "per row is O(window), never O(history), the same bound a "
    "streaming twin would enforce via watermark. The oracle computes "
    "the identical weighted mean as a banded self-join (DuckDB lacks "
    "frame-ordered list aggregation) — 10 bounded terms per row, so "
    "the 6dp round absorbs fold-order float noise.",
)
def q_event_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-9, 0)
    r = e.withColumn("rn", F.row_number().over(w)).withColumn(
        "hist", F.collect_list(F.struct("rn", "value")).over(frame)
    )
    wsum = F.aggregate(
        F.col("hist"),
        F.lit(0.0),
        lambda acc, s: acc + s["value"] * F.pow(F.lit(0.5), F.col("rn") - s["rn"]),
    )
    wnorm = F.aggregate(
        F.col("hist"),
        F.lit(0.0),
        lambda acc, s: acc + F.pow(F.lit(0.5), F.col("rn") - s["rn"]),
    )
    return r.select(
        "user_id", "event_id", F.round(wsum / wnorm, 6).alias("ewma")
    )


_MD5_HEX8_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, 9), "
    "i -> CAST(instr('0123456789abcdef', substr(md5(text), i, 1)) - 1 AS BIGINT))), "
    "(acc, d) -> acc * 16 + d)"
)


@register(
    "source_orc_roundtrip",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           CAST(sum({_MD5_HEX8_SQL}) AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY lang
    """,
    doc="ORC source/sink round trip, VALUE-certified: the documents "
    "table is written to ORC (Spark's built-in columnar alternative "
    "to parquet — zlib/zstd stripes, predicate-pushdown indexes) and "
    "read back, and the oracle computes the identical per-language "
    "aggregate over the ORIGINAL parquet — so any codec-level value "
    "corruption (encoding, nulls, unicode) breaks the hash match. "
    "The content checksum is a SUM of per-row md5-prefix integers: "
    "order-independent and mergeable, so it scales as an ordinary "
    "partial->final aggregate (the same trick incremental pipelines "
    "use for cross-format migration audits — never a sorted "
    "string_agg, which would single-partition the corpus). The ORC "
    "write itself is map-side parallel per partition.",
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"jaffle_orc_roundtrip_{spark.sparkContext.applicationId}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    d.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    checksum = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(checksum).cast("bigint").alias("content_checksum"),
    )


@register(
    "users_anomaly_mad",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(2 * quantile_cont(n_events, 0.5)) AS BIGINT) AS m2 FROM c
    ),
    dev AS (
      SELECT c.user_id, c.n_events, abs(4 * c.n_events - 2 * med.m2) AS d4
      FROM c CROSS JOIN med
    ),
    mad AS (
      SELECT CAST(round(quantile_cont(d4, 0.5)) AS BIGINT) AS mad4 FROM dev
    )
    SELECT dev.user_id, dev.n_events
    FROM dev CROSS JOIN mad
    WHERE 10000 * dev.d4 > 22239 * mad.mad4
    ORDER BY user_id
    """,
    doc="Robust outlier detection via MEDIAN absolute deviation — the "
    "resistant twin of users_anomaly_zscore (one mega-user inflates "
    "mean AND stddev, hiding itself from a z-score; the median "
    "ignores it). Flag |c - median| > 1.5 * 1.4826 * MAD (the 1.5 "
    "sensitivity keeps the flag non-vacuous on the near-uniform bench "
    "corpus; production dials 2-3). Every float "
    "is eliminated from the decision: interpolated medians of "
    "integers land on quarter-units, so deviations are carried as "
    "exact 4x-scaled BIGINTs (d4 = |4c - 2*median*2|, mad4 = "
    "4*MAD) and the threshold cross-multiplies to 10000*d4 > "
    "22239*mad4 — the same integer-exactness discipline as the "
    "z-score query, so the knife-edge flag can never disagree "
    "across engines. Plan: per-user count (keys-only shuffle), two "
    "1-row quantile aggregates broadcast back, map-side flag. At "
    "100 TB the exact median swaps for approx_percentile with an "
    "epsilon documented on the threshold.",
)
def q_users_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    med = c.agg(
        F.round(2 * F.percentile("n_events", F.lit(0.5))).cast("bigint").alias("m2")
    )
    dev = c.crossJoin(F.broadcast(med)).select(
        "user_id",
        "n_events",
        F.abs(4 * F.col("n_events") - 2 * F.col("m2")).alias("d4"),
    )
    mad = dev.agg(
        F.round(F.percentile("d4", F.lit(0.5))).cast("bigint").alias("mad4")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(10000 * F.col("d4") > 22239 * F.col("mad4"))
        .select("user_id", "n_events")
        .orderBy("user_id")
    )


@register(
    "event_time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
             - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id,
           round(sum(value * dt_us) / sum(dt_us), 6) AS twa_value,
           CAST(sum(dt_us) AS BIGINT) AS span_us
    FROM s WHERE dt_us IS NOT NULL
    GROUP BY user_id
    HAVING sum(dt_us) > 0
    ORDER BY user_id
    """,
    doc="Time-weighted average over an IRREGULAR event stream — each "
    "reading holds until the next one, so its weight is the interval "
    "it was live (step-function integral / elapsed span), the correct "
    "aggregate for sensor/price/state series where arithmetic mean "
    "over-weights bursts. The interval arithmetic is exact BIGINT "
    "microseconds (epoch_us both engines); only the value*interval "
    "products are floats, summed per user (bounded group size) under "
    "a 6dp round. Plan: ONE window sort on (user_id, ts, event_id) "
    "producing lead() deltas, then the same exchange carries the "
    "groupBy — one shuffle total. The last event per user has no "
    "successor and drops out (open interval), zero-span users are "
    "excluded exactly in both engines via the integer HAVING.",
)
def q_event_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt_us"),
    )
    return (
        s.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
            ).alias("twa_value"),
            F.sum("dt_us").cast("bigint").alias("span_us"),
        )
        .filter(F.col("span_us") > 0)
        .orderBy("user_id")
    )


@register(
    "decimal_exact_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
             AS gross_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
             AS disc_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
             AS total_discount
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Money-exact pricing rollup: every monetary quantity is cast to "
    "DECIMAL(18,2) at the scan and all arithmetic stays in decimal — "
    "sums are EXACT (associative, partition-order-independent), so "
    "unlike every double-summing query in this catalog the output "
    "needs NO rounding and the cross-engine hash matches bit-for-bit "
    "by construction. This is the financial-reporting discipline: a "
    "double sum over 100 TB of line items drifts with partition "
    "count; a decimal sum cannot. The double->decimal(2) cast itself "
    "is unambiguous (binary doubles are never exact .005 midpoints, "
    "so round-to-nearest has no ties). Fixed final precisions "
    "(38,2)/(38,4) pin the schema across engines. Plan: plain "
    "partial->final hash aggregate on a 2-value key — decimal adds "
    "in unscaled longs JVM-side, same cost class as the double sum.",
)
def q_decimal_exact_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one_minus = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(price).cast("decimal(38,2)").alias("gross_revenue"),
            F.sum(price * one_minus).cast("decimal(38,4)").alias("disc_revenue"),
            F.sum(price * disc).cast("decimal(38,4)").alias("total_discount"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q2_style",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice AS min_price
    FROM part p
    WHERE p.p_retailprice = (
      SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    ORDER BY p.p_brand ASC, p.p_partkey ASC
    """,
    doc="TPC-H Q2's correlated-subquery shape (cheapest supplier per "
    "part, here: cheapest part(s) per brand) DECORRELATED the way "
    "every engine's optimizer rewrites it: the per-group scalar "
    "subquery becomes one group-level min aggregate joined back on "
    "the correlation key — O(n) + one small join instead of a "
    "rescan per outer row. Ties all surface (Q2 semantics), and the "
    "equality predicate compares the engine's own stored doubles "
    "(no arithmetic), so it is exact in both engines. The oracle "
    "keeps the CORRELATED form — DuckDB decorrelates it internally "
    "— certifying that the manual Spark rewrite implements the "
    "subquery semantics, not an approximation of them. At 100 TB "
    "the aggregate side is brand-cardinality rows: broadcast.",
)
def q_tpch_q2_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").alias("p")
    m = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("mb"))
        .agg(F.min("p_retailprice").alias("mp"))
    )
    return (
        p.join(
            F.broadcast(m),
            (F.col("p.p_brand") == F.col("mb"))
            & (F.col("p.p_retailprice") == F.col("mp")),
        )
        .select(
            F.col("p.p_brand").alias("p_brand"),
            "p_partkey",
            "p_name",
            F.col("p.p_retailprice").alias("min_price"),
        )
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "tpch_q18_style",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(big.sum_qty AS DOUBLE) AS sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 200
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY big.sum_qty DESC, o.o_orderkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q18 (large-volume customers): aggregate-then-join — the "
    "HAVING filter shrinks the fact table BEFORE it meets orders/"
    "customer, so the expensive joins see only qualifying keys (the "
    "optimizer cannot push a sum() predicate; writing the aggregate "
    "innermost is the query author's job, same discipline dbt marts "
    "teach). The quantity sum is exact despite double typing: "
    "quantities are integer-valued and the sums stay far below 2^53, "
    "so the HAVING threshold has no float knife-edge in either "
    "engine. Plan: one l_orderkey aggregate (partial->final), "
    "filtered keys join orders then broadcast-ish customer; top-100 "
    "is TakeOrdered.",
)
def q_tpch_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "pivot_dynamic",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Dynamic pivot — the column set is DISCOVERED from the data "
    "(distinct event_type, sorted), then the pivot compiles to the "
    "same conditional-count aggregate as the declared-values form "
    "(pivot_native / R9). The two-phase shape is the production "
    "reality for 'one column per category' reports where the "
    "category set drifts: phase 1 is a distinct aggregate over the "
    "pivot column (category-cardinality rows — driver-safe by "
    "definition, or the pivot could not be a schema), phase 2 is "
    "one partial->final aggregate. Spark's df.pivot() without "
    "values does exactly this internally; values are passed sorted "
    "so the column order is deterministic. The oracle hardcodes "
    "the discovered set — schema equality IS part of the check.",
)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    values = [
        r["event_type"]
        for r in e.select("event_type").distinct().orderBy("event_type").collect()
    ]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", values)
        .agg(F.count(F.lit(1)))
        .orderBy("user_id")
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(v), F.lit(0)).cast("bigint").alias(v) for v in values]
    )


@register(
    "incremental_revenue_rollup",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
             AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="Incremental aggregate-view maintenance via MERGEABLE partial "
    "state: the order stream is processed as two batches (orderdate "
    "before/after 1998-01-01 — the incremental refresh boundary), "
    "each producing per-key partials (count, decimal sum); the "
    "refresh MERGES partials (sum of counts, sum of sums) instead "
    "of rescanning history. The oracle computes the rollup directly "
    "over all orders — the hash match PROVES merge-of-partials == "
    "full recompute, which is the entire correctness obligation of "
    "an incremental materialized view (and why the state is decimal: "
    "double partials would drift by merge order). At 100 TB only "
    "the new batch is scanned per refresh and the stored state is "
    "key-cardinality rows; this composes with the delete+insert "
    "incremental materialization (incremental_orders_state) which "
    "maintains row-level state the same way.",
)
def q_incremental_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cut = F.lit("1998-01-01").cast("timestamp")
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(batch):
        return (
            batch.join(c, batch["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("pn"),
                F.sum(price).alias("ps"),
            )
        )

    merged = partial(o.filter(F.col("o_orderdate") < cut)).unionByName(
        partial(o.filter(F.col("o_orderdate") >= cut))
    )
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.sum("pn").cast("bigint").alias("n_orders"),
            F.sum("ps").cast("decimal(38,2)").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "events_ohlc_bars",
    oracle="""
    WITH k AS (
      SELECT user_id, value,
             (epoch_us(ts) // 600000000) * 600000000 AS bucket_us,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ord
      FROM events
    )
    SELECT user_id,
           make_timestamp(bucket_us) AS bar_start,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM k
    GROUP BY user_id, bucket_us
    ORDER BY user_id, bar_start
    """,
    doc="Time-series downsampling to OHLC bars (open/high/low/close per "
    "user per 10-minute bucket) — the resample primitive for metric "
    "and market data. open/close use min_by/max_by (arg_min/arg_max) "
    "over a COLLISION-FREE ordering key: zero-padded epoch-micros "
    "concatenated with the event id, so lexicographic string order "
    "equals the (ts, event_id) total order and first/last are "
    "deterministic even under equal timestamps (a bare min_by(ts) "
    "tie is engine-arbitrary — the bug this key exists to kill). "
    "Values are raw stored doubles, selected not computed, so no "
    "rounding is needed anywhere. Plan: single partial->final "
    "aggregate on (user, bucket), one shuffle at any scale — Spark "
    "plans the min_by/max_by pair buffers as SortAggregate (struct "
    "buffers aren't hash-agg-eligible), a sort on the GROUPING key "
    "only, still no window/self-join over the event stream; "
    "bucketing is epoch arithmetic pinned identically in both "
    "engines (the tumbling_window discipline).",
)
def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket_us = (F.unix_micros("ts") / F.lit(600000000)).cast("bigint") * F.lit(
        600000000
    )
    ordkey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    return (
        e.select(
            "user_id",
            "value",
            bucket_us.alias("bucket_us"),
            ordkey.alias("ord"),
        )
        .groupBy("user_id", "bucket_us")
        .agg(
            F.min_by("value", F.col("ord")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ord")).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("bucket_us")).alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .orderBy("user_id", "bar_start")
    )


@register(
    "impute_group_median",
    oracle="""
    WITH nm AS (
      SELECT user_id, value FROM events WHERE event_type <> 'error'
    ),
    mu AS (SELECT user_id, quantile_cont(value, 0.5) AS mu FROM nm GROUP BY user_id),
    mg AS (SELECT quantile_cont(value, 0.5) AS mg FROM nm)
    SELECT e.event_id, e.user_id,
           CASE WHEN e.event_type = 'error'
                THEN round(coalesce(mu.mu, mg.mg), 6)
                ELSE e.value END AS value_imputed,
           (e.event_type = 'error') AS was_imputed
    FROM events e LEFT JOIN mu USING (user_id) CROSS JOIN mg
    """,
    doc="Group-median imputation — the feature-repair step before model "
    "training: readings flagged unreliable (here: 'error' events) are "
    "replaced by their USER's median of reliable readings, falling "
    "back to the corpus median for users with no reliable history — "
    "median, not mean, so one corrupt mega-value cannot poison the "
    "fill (the users_anomaly_mad robustness argument applied to "
    "repair). Exact interpolated medians (the percentile_exact-"
    "certified function) keep the fill deterministic cross-engine; "
    "untouched rows pass the stored double through unmodified. Plan: "
    "one per-user aggregate joined back on the key, one 1-row global "
    "broadcast, map-side CASE — the imputation itself never "
    "shuffles the fact stream. At 100 TB the per-user median table "
    "is user-cardinality (ordinary keyed join); approx_percentile "
    "swaps in with a documented epsilon.",
)
def q_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    nm = e.filter(F.col("event_type") != "error").select("user_id", "value")
    mu = nm.groupBy("user_id").agg(F.percentile("value", F.lit(0.5)).alias("mu"))
    mg = nm.agg(F.percentile("value", F.lit(0.5)).alias("mg"))
    return (
        e.join(mu, "user_id", "left")
        .crossJoin(F.broadcast(mg))
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("event_type") == "error",
                F.round(F.coalesce(F.col("mu"), F.col("mg")), 6),
            )
            .otherwise(F.col("value"))
            .alias("value_imputed"),
            (F.col("event_type") == "error").alias("was_imputed"),
        )
    )


CF_BASKET_CAP = 20  # heavy-basket truncation: keep each customer's top-20 items


@register(
    "cf_item_cosine",
    oracle=f"""
    WITH ui0 AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i, count(*) AS f
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, l.l_partkey
    ),
    ui AS (
      SELECT u, i FROM (
        SELECT u, i,
               row_number() OVER (PARTITION BY u ORDER BY f DESC, i ASC) AS rn
        FROM ui0
      ) WHERE rn <= {CF_BASKET_CAP}
    ),
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_common
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY a.i, b.i
    )
    SELECT p.item_a, p.item_b, p.n_common,
           round(p.n_common / sqrt(CAST(da.n AS DOUBLE) * db.n), 6) AS cosine
    FROM pairs p JOIN deg da ON da.i = p.item_a JOIN deg db ON db.i = p.item_b
    ORDER BY cosine DESC, item_a ASC, item_b ASC
    LIMIT 50
    """,
    doc="Item-item collaborative filtering (binary cosine over the "
    "customer-item matrix) — the 'customers who bought X also bought Y' "
    "scorer, and a different grain from copurchase_part_pairs (shared "
    f"CUSTOMERS across all orders, normalized by item popularity so "
    "blockbuster items don't dominate). The pair stream is "
    "O(sum_u basket_u^2), so the HEAVY-BASKET TRUNCATION (top-"
    f"{CF_BASKET_CAP} items per customer by purchase frequency, "
    "deterministic id tiebreak) is applied first — the standard CF "
    "skew control (a crawler account with 10k items would otherwise "
    "contribute 50M pairs); degrees are computed AFTER capping so the "
    "cosine is exact over the capped matrix. Plan: per-user window "
    "cap (one user-key sort), self-equi-join on the user key, pair "
    "aggregate, two broadcast degree joins; integer counts until the "
    "one final rounded division. Swap in minhash item sketches when "
    "even capped baskets are too hot.",
)
def q_cf_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ui0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("u").orderBy(F.col("f").desc(), F.col("i").asc())
    ui = (
        ui0.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CF_BASKET_CAP)
        .select("u", "i")
    )
    ui = ui.localCheckpoint(eager=True)  # feeds degrees AND both join sides
    deg = ui.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = ui.alias("a"), ui.alias("b")
    pairs = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    da = deg.select(F.col("i").alias("item_a"), F.col("n").alias("na"))
    db = deg.select(F.col("i").alias("item_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(da), "item_a")
        .join(F.broadcast(db), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_common",
            F.round(
                F.col("n_common") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("item_a").asc(), F.col("item_b").asc())
        .limit(50)
    )


@register(
    "segment_sales_trend",
    oracle="""
    WITH pts AS (
      SELECT c.c_mktsegment AS seg,
             CAST(date_diff('day', DATE '1970-01-01', o.o_orderdate) AS BIGINT) AS x,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    agg AS (
      SELECT seg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS DECIMAL(38,2)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,2)) AS sxy
      FROM pts GROUP BY seg
    )
    SELECT seg, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6) + 0 AS slope,
           round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) * sx) / n,
                 4) + 0 AS intercept
    FROM agg ORDER BY seg
    """,
    doc="Per-segment OLS trend (daily revenue vs time): closed-form "
    "simple linear regression where every sufficient statistic "
    "(n, Σx, Σx², Σy, Σxy) is an EXACT aggregate — x is integer "
    "epoch-days, y is decimal money, so the five statistics are "
    "bit-identical across engines and partitionings, and floats "
    "appear only in the final slope/intercept division (rounded). "
    "This is the mergeable-statistics discipline applied to model "
    "fitting: the same five numbers support incremental refresh "
    "(add a batch's partials) and distributed fit at any scale — "
    "one partial->final aggregate per segment, zero iterations, "
    "zero shuffles beyond the join+agg. The grouped-regression "
    "primitive behind trend dashboards and drift monitors.",
)
def q_segment_sales_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint").alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    agg = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).cast("decimal(38,2)").alias("sxy"),
    )
    slope = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx")
    ) / F.col("n")
    return agg.select(
        "seg",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
    ).orderBy("seg")


@register(
    "drift_psi_monitor",
    oracle="""
    WITH ref AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ),
    cur AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    edges AS (
      SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
      FROM ref
    ),
    rb AS (
      SELECT 1 + list_reduce(list_prepend(0, list_transform(edges.e,
               x -> CASE WHEN ref.v > x THEN 1 ELSE 0 END)),
               (a, b) -> a + b) AS bin,
             count(*) AS n
      FROM ref, edges GROUP BY 1
    ),
    cb AS (
      SELECT 1 + list_reduce(list_prepend(0, list_transform(edges.e,
               x -> CASE WHEN cur.v > x THEN 1 ELSE 0 END)),
               (a, b) -> a + b) AS bin,
             count(*) AS n
      FROM cur, edges GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT sum(n) + 10 FROM rb) AS tr, (SELECT sum(n) + 10 FROM cb) AS tc
    ),
    grid AS (SELECT unnest(range(1, 11)) AS bin)
    SELECT g.bin,
           CAST(coalesce(rb.n, 0) AS BIGINT) AS ref_n,
           CAST(coalesce(cb.n, 0) AS BIGINT) AS cur_n,
           round(((coalesce(rb.n, 0) + 1.0) / tot.tr - (coalesce(cb.n, 0) + 1.0) / tot.tc)
                 * ln(((coalesce(rb.n, 0) + 1.0) / tot.tr)
                      / ((coalesce(cb.n, 0) + 1.0) / tot.tc)), 8) AS psi_contrib
    FROM grid g LEFT JOIN rb ON rb.bin = g.bin LEFT JOIN cb ON cb.bin = g.bin
    CROSS JOIN tot
    ORDER BY g.bin
    """,
    doc="Population-stability-index drift monitor — the production "
    "data-quality check that catches a shifted feature distribution "
    "before it poisons a model: bin the CURRENT period's order values "
    "into the REFERENCE period's deciles and accumulate "
    "(p-q)*ln(p/q) per bin (sum the psi_contrib column for the "
    "headline PSI; >0.2 = act). Bin edges come from one exact-"
    "percentile aggregate over the reference, broadcast; bin "
    "assignment is a fold of strict > comparisons against the edge "
    "array, so boundary values land identically in both engines "
    "(no float arithmetic in the decision, only comparisons of "
    "identical stored doubles). Laplace +1 smoothing keeps empty "
    "bins finite and deterministic. Plan: two scans (or one with a "
    "period CASE), one 1-row edge broadcast, two 10-row count "
    "aggregates — drift monitoring at 100 TB costs two passes and "
    "shuffles 20 rows.",
)
def q_drift_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    ref = o.filter(F.col("o_orderdate") < cutoff).select(
        F.col("o_totalprice").alias("v")
    )
    cur = o.filter(F.col("o_orderdate") >= cutoff).select(
        F.col("o_totalprice").alias("v")
    )
    edges = ref.agg(
        F.percentile("v", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])).alias("e")
    )
    bin_col = F.lit(1) + F.aggregate(
        F.col("e"),
        F.lit(0),
        lambda acc, x: acc + F.when(F.col("v") > x, 1).otherwise(0),
    )

    def binned(side):
        return (
            side.crossJoin(F.broadcast(edges))
            .select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    rb = binned(ref).select("bin", F.col("n").alias("rn"))
    cb = binned(cur).select("bin", F.col("n").alias("cn"))
    tot = rb.agg((F.sum("rn") + 10).alias("tr")).crossJoin(
        cb.agg((F.sum("cn") + 10).alias("tc"))
    )
    grid = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    p = (F.coalesce(F.col("rn"), F.lit(0)) + 1.0) / F.col("tr")
    q = (F.coalesce(F.col("cn"), F.lit(0)) + 1.0) / F.col("tc")
    return (
        grid.join(rb, "bin", "left")
        .join(cb, "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce(F.col("rn"), F.lit(0)).cast("bigint").alias("ref_n"),
            F.coalesce(F.col("cn"), F.lit(0)).cast("bigint").alias("cur_n"),
            F.round((p - q) * F.log(p / q), 8).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


@register(
    "source_jsonl_roundtrip",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({_MD5_HEX8_SQL}) AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY lang
    """,
    doc="JSON-lines source/sink round trip, value-certified the same "
    "way as source_orc_roundtrip: documents are written as JSONL "
    "(the interchange format most ingestion pipelines actually "
    "receive), read back under an EXPLICIT schema (schema inference "
    "on JSON is a correctness trap — a batch of all-numeric strings "
    "silently changes the column type), and the per-language "
    "aggregate + order-independent md5-prefix-sum checksum is "
    "compared against the parquet originals — so escaping, unicode, "
    "and null handling through the JSON codec are value-checked, "
    "not assumed. Only exactly-representable types ride the trip "
    "(bigint, string); doubles would need explicit round-trip "
    "formatting guarantees. Map-side parallel write, ordinary "
    "partial->final aggregate.",
)
def q_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"jaffle_jsonl_roundtrip_{spark.sparkContext.applicationId}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, lang string, n_chars long, text string"
    ).json(path)
    checksum = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(checksum).cast("bigint").alias("content_checksum"),
    )


@register(
    "revenue_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, revenue,
           round(CASE WHEN lag(revenue) OVER (ORDER BY month) IS NULL THEN NULL
                      ELSE (CAST(revenue AS DOUBLE)
                            / CAST(lag(revenue) OVER (ORDER BY month) AS DOUBLE) - 1)
                        * 100 END, 4) AS growth_pct
    FROM m ORDER BY month
    """,
    doc="Month-over-month revenue growth — the reporting staple on top "
    "of any mart: exact-decimal monthly sums (partition-order-"
    "independent), then one lag window over the MONTH-cardinality "
    "aggregate (the global window is over ~tens of rows by "
    "construction, never the fact stream — the vocab_id_assign "
    "argument). The growth ratio is the only float, computed from "
    "two exact decimals and rounded. First month emits NULL growth "
    "in both engines (no synthetic zero). date_trunc month "
    "boundaries are timezone-pinned by the session's UTC setting.",
)
def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        F.col("month").cast("date").alias("month"),
        "revenue",
        F.round(
            F.when(prev.isNull(), F.lit(None)).otherwise(
                (F.col("revenue").cast("double") / prev.cast("double") - 1) * 100
            ),
            4,
        ).alias("growth_pct"),
    ).orderBy("month")


@register(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
    doc="Running COUNT(DISTINCT) over a stream — a window frame cannot "
    "hold distinct state, so the textbook rewrite applies: flag each "
    "row as the FIRST occurrence of its (user, event_type) via "
    "row_number, then a plain cumulative sum of flags. State per "
    "window is O(1) after the rewrite (the distinctness was paid in "
    "the first window's shuffle, keyed on (user, type)); the second "
    "window re-shuffles on user_id only. This is the construction "
    "streaming engines call 'distinct aggregation over append "
    "windows' and warehouses hand-optimize — here it is two window "
    "functions with deterministic (ts, event_id) tiebreaks. At "
    "100 TB both shuffles are keyed and the flags column is one "
    "byte per row.",
)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn(
            "first_seen", F.when(F.row_number().over(w1) == 1, 1).otherwise(0)
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w2).cast("bigint").alias("distinct_types_so_far"),
        )
    )


@register(
    "rfm_customer_segments",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, c_mktsegment, recency_days, frequency, monetary,
           ntile(5) OVER (PARTITION BY c_mktsegment
                          ORDER BY recency_days DESC, c_custkey) AS r_score,
           ntile(5) OVER (PARTITION BY c_mktsegment
                          ORDER BY frequency ASC, c_custkey) AS f_score,
           ntile(5) OVER (PARTITION BY c_mktsegment
                          ORDER BY monetary ASC, c_custkey) AS m_score
    FROM agg JOIN customer ON c_custkey = o_custkey
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation — the "
    "marketing-analytics staple one layer above the jaffle marts: "
    "exact per-customer aggregates off one keyed shuffle of orders "
    "(decimal money sum, order-independent), recency anchored to the "
    "dataset's max order date via a broadcast 1-row aggregate (no "
    "wall-clock in the query — deterministic and oracle-portable), "
    "then ntile(5) scores per market segment. Partitioning the score "
    "windows by c_mktsegment keeps every sort shard-sized (the "
    "sample_quality_deciles argument); for one giant segment at "
    "100 TB the swap is percentile_approx quintile BOUNDARIES "
    "broadcast into a map-side bucket assignment. Ties break on "
    "c_custkey so scores are deterministic, not partition-ordered. "
    "Customers with zero orders are out of scope by definition "
    "(inner join). Reference surface analog: the customer mart's "
    "lifetime-value column (models/customers.sql) extended to the "
    "standard three-axis score.",
)
def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor_date"))
    agg = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("monetary"),
        )
        .join(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("anchor_date", "last_order"))
    )
    j = agg.join(c, agg.o_custkey == c.c_custkey)
    wr = Window.partitionBy("c_mktsegment").orderBy(
        F.col("recency_days").desc(), F.col("c_custkey")
    )
    wf = Window.partitionBy("c_mktsegment").orderBy(
        F.col("frequency").asc(), F.col("c_custkey")
    )
    wm = Window.partitionBy("c_mktsegment").orderBy(
        F.col("monetary").asc(), F.col("c_custkey")
    )
    return j.select(
        "c_custkey",
        "c_mktsegment",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    )


@register(
    "event_markov_transitions",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY src), 4) AS p
    FROM pairs WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
    doc="First-order Markov transition matrix over per-user event "
    "streams — the model behind next-event prediction and "
    "session-flow dashboards. One keyed window (user_id, ordered by "
    "ts with event_id tiebreak — the session_top_paths determinism "
    "rule) pairs each event with its successor via lead(); "
    "cross-user transitions never appear because the window "
    "partition IS the user. Then an ordinary partial->final count on "
    "(src, dst) — at most |event_types|^2 groups, so the row-"
    "normalizing second window runs over a constant-cardinality "
    "frame (9 types -> <=81 rows), never the event stream. At 100 TB "
    "the only data-sized cost is the per-user sort, which is the "
    "same shuffle every sessionization query already pays; the "
    "matrix itself is broadcast-sized by construction.",
)
def q_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wsrc = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wsrc), 4).alias("p"),
    )


@register(
    "skyline_pareto_parts",
    oracle="""
    SELECT p_partkey, p_size, p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size <= p.p_size AND q.p_retailprice >= p.p_retailprice
        AND (q.p_size < p.p_size OR q.p_retailprice > p.p_retailprice)
    )
    """,
    doc="Skyline (Pareto-frontier) query: parts not dominated on "
    "(minimize p_size, maximize p_retailprice) — the price-"
    "efficiency frontier. The oracle states the O(n^2) NOT EXISTS "
    "definition; the engine runs the distributed two-phase plan: "
    "(1) a per-batch LOCAL skyline inside one Arrow mapInPandas pass "
    "(sort by size asc/price desc, keep rows beating the running "
    "price cummax — skyline(skyline(S)) = skyline(S), so per-batch "
    "pruning is lossless), which collapses each partition to at most "
    "|distinct sizes| candidates; (2) the EXACT merge on the tiny "
    "survivor set via two windows — max price within equal size, and "
    "a rangeBetween(unboundedPreceding, -1) running best over "
    "strictly smaller sizes. A row survives iff it tops its own size "
    "group AND strictly beats every smaller size's best. The global "
    "ordered window in phase 2 runs over the candidate set (bounded "
    "by 50 distinct sizes x partitions after local pruning), never "
    "the raw table — the standard distributed-skyline shape "
    "(Borzsony et al., ICDE 2001). Equal (size, price) duplicates "
    "are mutually non-dominated and all survive in both engines.",
)
def q_skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401 — Arrow batch interface

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )

    def local_skyline(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(
                ["p_size", "p_retailprice"], ascending=[True, False]
            ).reset_index(drop=True)
            # per-size best price, and the running best over strictly
            # SMALLER sizes (cummax over group-first rows, shifted one
            # group back, spread to the rest of the group via ffill —
            # the first size group keeps NaN = "nothing smaller exists")
            gmax = pdf.groupby("p_size")["p_retailprice"].transform("max")
            first_of_size = ~pdf["p_size"].duplicated()
            prev_best = (
                gmax[first_of_size].cummax().shift(1).reindex(pdf.index).ffill()
            )
            keep = (pdf["p_retailprice"] == gmax) & (
                prev_best.isna() | (pdf["p_retailprice"] > prev_best)
            )
            yield pdf.loc[keep, ["p_partkey", "p_size", "p_retailprice"]]

    cand = p.mapInPandas(local_skyline, schema=p.schema)
    wsize = Window.partitionBy("p_size")
    wrun = Window.orderBy("p_size").rangeBetween(Window.unboundedPreceding, -1)
    return (
        cand.withColumn("gmax", F.max("p_retailprice").over(wsize))
        .withColumn("prev_best", F.max("p_retailprice").over(wrun))
        .where(
            (F.col("p_retailprice") == F.col("gmax"))
            & (
                F.col("prev_best").isNull()
                | (F.col("p_retailprice") > F.col("prev_best"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


@register(
    "k_anonymity_audit",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < 10 AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="k-anonymity audit over quasi-identifiers — the privacy "
    "pre-release gate: group the table by the quasi-identifier "
    "tuple (nationkey, mktsegment — the columns an adversary could "
    "link from public data) and flag every equivalence class "
    "smaller than k=10; rows in flagged classes are re-"
    "identifiable and need suppression or generalization before "
    "the dataset ships (companion to gdpr_erase_users and "
    "pii_redact in the governance suite). One partial->final hash "
    "aggregate on the QI key — group cardinality is the product of "
    "QI domains (125 here), so the audit output is dashboard-sized "
    "regardless of table size, and the k threshold is evaluated "
    "map-free on the aggregate. At 100 TB this is the same plan; "
    "generalization ladders (bucketing acctbal, dropping QI "
    "columns) re-run the identical audit on coarser keys.",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    ).withColumn("at_risk", F.col("group_size") < 10)


@register(
    "benford_first_digit",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 4) AS obs_share,
           round(log10(1.0 + 1.0 / digit), 4) AS exp_share,
           round(sum(n) OVER ()
                 * pow(CAST(n AS DOUBLE) / sum(n) OVER ()
                       - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 4) AS chi2_term
    FROM g
    """,
    doc="Benford's-law first-digit audit over order totals — the "
    "classic fraud/data-quality screen: the observed share of each "
    "leading significant digit vs the log10(1+1/d) expectation, "
    "with per-digit chi-squared contributions (sum them and compare "
    "against the 8-df critical value to flag the table). The digit "
    "is extracted from EXACT integer cents (round(x*100) as bigint, "
    "then the first character of its decimal rendering) — never "
    "from floating log10(x), whose rounding at powers of ten flips "
    "digits between engines. One map-side projection + a 9-group "
    "aggregate; the share-normalizing window runs over at most 9 "
    "rows (the markov-matrix argument), so the audit is a single "
    "scan at any scale.",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = (
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    g = o.select(digit).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy()
    total = F.sum("n").over(w)
    obs = F.col("n").cast("double") / total
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return g.select(
        "digit",
        "n",
        F.round(obs, 4).alias("obs_share"),
        F.round(exp, 4).alias("exp_share"),
        F.round(total * F.pow(obs - exp, 2) / exp, 4).alias("chi2_term"),
    )


@register(
    "revenue_concentration_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c_mktsegment, x,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY x ASC, o_custkey ASC) AS i
      FROM rev JOIN customer ON c_custkey = o_custkey
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(x) AS DECIMAL(38,2)) AS total_revenue,
           round(2.0 * CAST(sum(i * x) AS DOUBLE)
                   / (count(*) * CAST(sum(x) AS DOUBLE))
                 - (count(*) + 1.0) / count(*), 4) AS gini
    FROM ranked GROUP BY c_mktsegment
    """,
    doc="Gini coefficient of revenue concentration per market segment — "
    "the Lorenz-curve summary behind 'top 1% of customers drive X% "
    "of revenue' dashboards. Exact decimal per-customer revenue off "
    "one keyed shuffle, a segment-partitioned rank window (ties on "
    "equal revenue cannot change sum(i*x), so the custkey tiebreak "
    "is for determinism only), then the closed form "
    "G = 2*sum(i*x)/(n*sum(x)) - (n+1)/n per segment from two exact "
    "decimal sums — the only float is the final ratio, computed from "
    "identical exact inputs in both engines and rounded. Score "
    "windows shard by segment (the rfm_customer_segments argument); "
    "a single giant segment at 100 TB swaps the exact rank for "
    "histogram-CDF binning exactly like median_histogram_cdf.",
)
def q_revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    j = rev.join(c, rev.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("x").asc(), F.col("o_custkey").asc()
    )
    ranked = j.select(
        "c_mktsegment", "x", F.row_number().over(w).cast("bigint").alias("i")
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    six = F.sum(F.col("i") * F.col("x"))
    return ranked.groupBy("c_mktsegment").agg(
        n.cast("bigint").alias("n_customers"),
        sx.cast("decimal(38,2)").alias("total_revenue"),
        F.round(
            F.lit(2.0) * six.cast("double") / (n * sx.cast("double"))
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
    )


@register(
    "assoc_rules_lift",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM d),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
             FROM d GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / ia.n_item, 4) AS conf_a_to_b,
           round(CAST(n_ab AS DOUBLE) / ib.n_item, 4) AS conf_b_to_a,
           round(CAST(n_ab AS DOUBLE) * nb.n_baskets
                 / (ia.n_item * CAST(ib.n_item AS DOUBLE)), 4) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN nb
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 50
    """,
    doc="Association rules with confidence and lift on top of the "
    "co-purchase support counts (copurchase_part_pairs): pair "
    "supports from the basket-bounded self-equi-join, item supports "
    "from a plain keyed count, basket count N from a broadcast 1-row "
    "aggregate, then conf(a->b)=n_ab/n_a, conf(b->a)=n_ab/n_b and "
    "lift = n_ab*N/(n_a*n_b) via two broadcast joins against the "
    "dimension-sized item-support table. All inputs to the float "
    "ratios are exact bigints, so cross-engine parity is a rounding "
    "formality. The min-support HAVING prunes the rule set before "
    "the joins; top-k orders by the ROUNDED lift with full "
    "tiebreaks so the cutoff cannot flip on last-bit noise. Same "
    "plan at 100 TB: supports shuffle on their keys, the item table "
    "stays broadcastable (it is the part dimension), and the only "
    "skew risk is the hot-basket cap copurchase already documents.",
)
def q_assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    nb = d.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets"))
    item = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a, b = d.alias("a"), d.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .join(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 4).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_b"), 4).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_b").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


@register(
    "ab_test_welch_ttest",
    oracle="""
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    s AS (
      SELECT event_type, cohort,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DECIMAL(38,12)) AS sv,
             CAST(sum(v * v) AS DECIMAL(38,12)) AS svv
      FROM assigned GROUP BY event_type, cohort
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             CAST(a.sv AS DOUBLE) / a.n AS mean_a,
             CAST(b.sv AS DOUBLE) / b.n AS mean_b,
             (CAST(a.svv AS DOUBLE) - pow(CAST(a.sv AS DOUBLE), 2) / a.n)
               / (a.n - 1) AS var_a,
             (CAST(b.svv AS DOUBLE) - pow(CAST(b.sv AS DOUBLE), 2) / b.n)
               / (b.n - 1) AS var_b
      FROM s a JOIN s b ON a.event_type = b.event_type
      WHERE a.cohort = 'A' AND b.cohort = 'B'
    )
    SELECT event_type, n_a, n_b,
           round(mean_a, 4) AS mean_a, round(mean_b, 4) AS mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 3) AS t_stat
    FROM w
    """,
    doc="A/B experiment readout — Welch's t statistic per metric "
    "(event_type) between two deterministic user cohorts "
    "(user_id parity — the hash-split assignment every experiment "
    "platform uses, so assignment is reproducible and join-free). "
    "The moments are EXACT: values are cast to decimal(18,6) and "
    "both sum and sum-of-squares accumulate as decimal(38,12) — "
    "associative and partition-order-independent, so mean/variance "
    "derive from bit-identical inputs in both engines and only the "
    "final float division is rounded (the decimal_exact_pricing "
    "argument applied to second moments). One partial->final "
    "aggregate on (metric, cohort) — cohort count is 2 by "
    "construction, so the self-join at the end is on a "
    "metric-cardinality frame. Same single-scan plan at 100 TB.",
)
def q_ab_test_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    assigned = e.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("cohort"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    s = assigned.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("decimal(38,12)").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,12)").alias("svv"),
    )
    a = s.where(F.col("cohort") == "A").alias("a")
    b = s.where(F.col("cohort") == "B").alias("b")
    j = a.join(b, F.col("a.event_type") == F.col("b.event_type"))
    mean_a = F.col("a.sv").cast("double") / F.col("a.n")
    mean_b = F.col("b.sv").cast("double") / F.col("b.n")
    var_a = (
        F.col("a.svv").cast("double")
        - F.pow(F.col("a.sv").cast("double"), 2) / F.col("a.n")
    ) / (F.col("a.n") - 1)
    var_b = (
        F.col("b.svv").cast("double")
        - F.pow(F.col("b.sv").cast("double"), 2) / F.col("b.n")
    ) / (F.col("b.n") - 1)
    return j.select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round(
            (mean_a - mean_b) / F.sqrt(var_a / F.col("a.n") + var_b / F.col("b.n")),
            3,
        ).alias("t_stat"),
    )


@register(
    "forecast_backtest_mape",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, revenue,
           forecast,
           round(abs(CAST(revenue AS DOUBLE) - CAST(forecast AS DOUBLE))
                 / CAST(revenue AS DOUBLE), 4) AS ape
    FROM (
      SELECT month, revenue,
             lag(revenue, 12) OVER (ORDER BY month) AS forecast
      FROM m
    )
    WHERE forecast IS NOT NULL
    ORDER BY month
    """,
    doc="Forecast backtesting — the seasonal-naive baseline (predict "
    "this month = same month last year) scored with per-month "
    "absolute percentage error; averaging ape gives MAPE, the "
    "metric every forecasting pipeline reports before trying "
    "anything fancier. Exact decimal monthly sums "
    "(order-independent), then one lag(12) window over the "
    "MONTH-cardinality aggregate (tens of rows by construction — "
    "the revenue_mom_growth argument), and the only float is the "
    "final ratio of two exact decimals, rounded. Months without a "
    "year-ago twin emit no row (no synthetic zeros to poison the "
    "average). At 100 TB the plan is unchanged: the window input "
    "is the aggregate, never the fact stream.",
)
def q_forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    fc = F.lag("revenue", 12).over(w)
    return (
        m.select(
            F.col("month").cast("date").alias("month"),
            "revenue",
            fc.alias("forecast"),
        )
        .where(F.col("forecast").isNotNull())
        .select(
            "month",
            "revenue",
            "forecast",
            F.round(
                F.abs(
                    F.col("revenue").cast("double") - F.col("forecast").cast("double")
                )
                / F.col("revenue").cast("double"),
                4,
            ).alias("ape"),
        )
        .orderBy("month")
    )


MAX_ER_BLOCK = 256
"""Hot-block guard for entity resolution: a (brand, first-letter) block
holding more than this many DISTINCT names is excluded from the fuzzy
quadratic entirely (exact-duplicate clustering still applies inside it).
An adversarial key — one blocking value covering the table — would
otherwise go quadratic silently, the same failure mode MAX_BAND_SIZE
guards in the LSH path. Mirrored verbatim in the DuckDB oracle, so the
cap is part of the certified semantics, not a Spark-side shortcut; at
the normal data's block-size distribution (~2-25 distinct names/block
across sf0.001-sf1) it never binds."""


@register(
    "entity_resolution_clusters",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT p_brand, p_name, substr(p_name, 1, 1) AS blk
      FROM part GROUP BY 1, 2, 3
    ),
    bn AS (SELECT p_brand, blk, count(*) AS n FROM g GROUP BY 1, 2),
    cand AS (
      SELECT a.p_partkey AS src, b.p_partkey AS dst
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand
       AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
       AND a.p_partkey < b.p_partkey
      JOIN bn ON bn.p_brand = a.p_brand AND bn.blk = substr(a.p_name, 1, 1)
      WHERE a.p_name = b.p_name
         OR (bn.n <= {MAX_ER_BLOCK} AND levenshtein(a.p_name, b.p_name) <= 3)
    ),
    edges AS (
      SELECT src, dst FROM cand
      UNION ALL
      SELECT dst, src FROM cand
    ),
    nodes AS (SELECT DISTINCT src AS p_partkey FROM edges),
    reach(p_partkey, label) AS (
      SELECT p_partkey, p_partkey FROM nodes
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.p_partkey
      WHERE r.label < e.dst
    ),
    comp AS (
      SELECT p_partkey, min(label) AS entity_id FROM reach GROUP BY p_partkey
    )
    SELECT c.p_partkey, c.entity_id, s.n_members
    FROM comp c
    JOIN (SELECT entity_id, count(*) AS n_members
          FROM comp GROUP BY entity_id) s
      ON c.entity_id = s.entity_id
    """,
    doc="End-to-end entity resolution: fuzzy blocking -> pairwise match "
    "scoring -> transitive-closure clustering, composed from the "
    "certified pieces (fuzzy_join_levenshtein's blocked edit-distance "
    "candidates feeding dedup_cluster_components' hash-min label "
    "propagation). Each resolved part gets entity_id = min partkey of "
    "its match component (the canonical survivor every MDM pipeline "
    "picks) plus the cluster size; unmatched singletons emit no row. "
    "The quadratic comparison runs only inside (brand, first-letter) "
    "blocks AND only on DISTINCT names — exact duplicates collapse to "
    "partkey arrays before the edit-distance step and re-expand "
    "afterwards (~1M evals -> ~1k at sf0.1; 2.09 s -> 0.59 s measured, "
    "identical output). Two scale guards added round 13: (a) duplicate "
    "groups emit STAR edges (group-min to each member; one "
    "representative edge per matching name pair) instead of all-pairs "
    "— connected components, and therefore every output value, are "
    "identical, but edge count drops from sum(|ka|*|kb|) to linear in "
    "records + one per fuzzy match, removing the duplicate-count "
    "quadratic the r12 curve flagged (exp 1.09/decade); (b) a "
    "(brand, first-letter) block with more than MAX_ER_BLOCK distinct "
    "names is excluded from the fuzzy quadratic (exact-dup clustering "
    "still applies), mirrored in the oracle — the planted degenerate- "
    "block pytest proves pair generation stays bounded under an "
    "adversarial key. Clustering is the same monotone-fixpoint loop as "
    "CC (near-dup entity graphs are shallow), lazily localCheckpoint-ed "
    "per round — at 100 TB the checkpoints become durable and hot "
    "blocks salt exactly like any skewed equi-join key. Oracle is the "
    "identical fixpoint as a recursive min-label closure.",
)
def q_entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import min_label_components

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # Exact-dup collapse BEFORE the fuzzy quadratic (the standard MDM
    # trick): levenshtein only ever sees DISTINCT (brand, name) pairs,
    # then the verdicts re-expand through each group's partkey array.
    # Identical records are the bulk of any real entity workload (here
    # 20k parts share 1,600 distinct brand+name combos), so the edit-
    # distance evals drop from one-per-candidate-pair (~1M at sf0.1) to
    # one per distinct-name pair (~1k): candidate generation measured
    # 2.09 s -> 0.59 s, output verified identical. At 100 TB the same
    # shape holds — the groupBy is a keyed exchange of the record
    # table, and the quadratic term runs on the (much smaller) distinct
    # value space inside each block.
    grp = (
        p.groupBy("p_brand", "p_name")
        .agg(F.collect_list("p_partkey").alias("ks"))
        .withColumn("rep", F.array_min("ks"))
    )
    # hot-block guard: blocks with > MAX_ER_BLOCK distinct names sit out
    # the fuzzy quadratic; the windowed count partitions by the block
    # key, the same key the candidate self-join shuffles on
    blk = Window.partitionBy("p_brand", F.substring("p_name", 1, 1))
    fz = (
        grp.withColumn("blk_n", F.count(F.lit(1)).over(blk))
        .filter(F.col("blk_n") <= MAX_ER_BLOCK)
        .select("p_brand", "p_name", "rep")
    )
    # one representative edge per matching DISTINCT-name pair (star
    # contraction: components — and thus every output value — identical
    # to the all-pairs expansion it replaced)
    g1, g2 = fz.alias("g1"), fz.alias("g2")
    cross = (
        g1.join(
            g2,
            (F.col("g1.p_brand") == F.col("g2.p_brand"))
            & (
                F.substring(F.col("g1.p_name"), 1, 1)
                == F.substring(F.col("g2.p_name"), 1, 1)
            )
            & (F.col("g1.p_name") < F.col("g2.p_name")),
        )
        .where(F.levenshtein(F.col("g1.p_name"), F.col("g2.p_name")) <= 3)
        .select(
            F.least("g1.rep", "g2.rep").alias("src"),
            F.greatest("g1.rep", "g2.rep").alias("dst"),
        )
    )
    # The fixpoint runs on the REPRESENTATIVE graph — one node per
    # distinct name, edges = fuzzy name matches — because rep ==
    # array_min(ks) <= every member, so min-partkey per component over
    # members equals min-rep per component over reps: expanding members
    # after convergence is provably output-identical and shrinks every
    # propagation frame by the duplicate multiplicity (~12x here).
    edges = cross.unionByName(
        cross.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # hash-min rounds budget: a match component deeper than 8 hops
    # raises rather than ship clusters short of the oracle's closure
    labels = min_label_components(edges, 8).withColumnRenamed("node", "rep")
    # exact-duplicate groups (|ks| >= 2) with no fuzzy neighbor are
    # their own component; singleton names with no match emit no row
    dup_only = (
        grp.filter(F.size("ks") >= 2)
        .select("rep")
        .join(labels, "rep", "left_anti")
        .select("rep", F.col("rep").alias("label"))
    )
    comp = (
        grp.join(labels.unionByName(dup_only), "rep")
        .select(F.explode("ks").alias("p_partkey"), F.col("label").alias("entity_id"))
    )
    sizes = comp.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    # keyed join, not broadcast: entity count grows with node count
    return comp.join(sizes, "entity_id").select("p_partkey", "entity_id", "n_members")


@register(
    "conversion_latency_percentiles",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id,
             CAST(date_diff('microsecond', fv.first_view, min(e.ts)) AS DOUBLE)
               / 1000000 AS delay_s
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        AND e.ts >= fv.first_view
      GROUP BY e.user_id, fv.first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(delay_s, 0.5), 2) AS p50_s,
           round(quantile_cont(delay_s, 0.9), 2) AS p90_s,
           round(quantile_cont(delay_s, 0.99), 2) AS p99_s
    FROM conv
    """,
    doc="Time-to-convert latency percentiles — the funnel companion "
    "metric (funnel_conversion counts WHO converts; this measures HOW "
    "LONG first view -> first subsequent purchase takes). First-view "
    "per user is one conditional aggregate; the first purchase AT OR "
    "AFTER it is a keyed join + filtered min on the same user key, so "
    "both shuffles ride user_id. Delay is exact integer microseconds "
    "cast once to double (never float timestamp math), and the "
    "interpolated percentiles run over the CONVERTED-USER aggregate "
    "(one row per converter, not the event stream). At 100 TB the "
    "global exact percentile swaps for percentile_approx (the "
    "percentile_exact/approx pair documents that trade).",
)
def q_conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fv = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view")
    )
    conv = (
        e.join(fv, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & F.col("first_view").isNotNull()
            & (F.col("ts") >= F.col("first_view"))
        )
        .groupBy("user_id", "first_view")
        .agg(
            (
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.col("first_view"))).cast(
                    "double"
                )
                / 1000000
            ).alias("delay_s")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.percentile("delay_s", 0.5), 2).alias("p50_s"),
        F.round(F.percentile("delay_s", 0.9), 2).alias("p90_s"),
        F.round(F.percentile("delay_s", 0.99), 2).alias("p99_s"),
    )


@register(
    "user_max_drawdown",
    oracle="""
    WITH dd AS (
      SELECT user_id,
             value / max(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) - 1 AS drawdown
      FROM events
    )
    SELECT user_id,
           round(min(drawdown), 4) AS max_drawdown,
           CAST(count(*) AS BIGINT) AS n_events
    FROM dd GROUP BY user_id
    """,
    doc="Maximum drawdown per user value series — the running-peak "
    "decline metric (finance's risk staple, equally useful for "
    "engagement-decay monitoring): a cumulative max over each user's "
    "(ts, event_id)-ordered stream, then the worst value/peak ratio. "
    "One keyed window + one aggregate sharing the same user_id "
    "exchange; tiebreak on event_id makes the running peak "
    "deterministic under equal timestamps (the session_top_paths "
    "rule). events.value > 0 is a data invariant (asserted by the "
    "profile/test suite), so the ratio is total. Per-user windows "
    "shard by key; no global ordering anywhere.",
)
def q_user_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = e.select(
        "user_id", (F.col("value") / F.max("value").over(w) - 1).alias("drawdown")
    )
    return dd.groupBy("user_id").agg(
        F.round(F.min("drawdown"), 4).alias("max_drawdown"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             date_trunc('month', min(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    monthly AS (
      SELECT f.cohort_month,
             date_diff('month', f.cohort_month,
                       date_trunc('month', o.o_orderdate)) AS age_months,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS revenue
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(cohort_month AS DATE) AS cohort_month, age_months,
           revenue,
           CAST(sum(revenue) OVER (
                  PARTITION BY cohort_month ORDER BY age_months
                  ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2))
             AS cumulative_ltv
    FROM monthly
    WHERE age_months <= 12
    """,
    doc="Cohort lifetime-value curve — the retention companion in "
    "revenue terms: customers cohorted by first-order month, revenue "
    "bucketed by cohort age, and an exact-decimal running LTV per "
    "cohort for the first year. Two keyed aggregates share the "
    "o_custkey exchange (first-order month, then the join back to "
    "the fact); the cumulative window runs over the (cohort × "
    "age≤12) aggregate — a few hundred rows by construction, never "
    "the order stream (the revenue_mom_growth argument). Decimal "
    "sums keep every partial partition-order-independent, so the "
    "curve is bit-identical at any cluster size.",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    monthly = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort_month"))
                * 12
                + (
                    F.month(F.date_trunc("month", "o_orderdate"))
                    - F.month("cohort_month")
                )
            )
            .cast("bigint")
            .alias("age_months"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue")
        )
        .where(F.col("age_months") <= 12)
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        F.col("cohort_month").cast("date").alias("cohort_month"),
        "age_months",
        "revenue",
        F.sum("revenue").over(w).cast("decimal(38,2)").alias("cumulative_ltv"),
    )


@register(
    "referential_integrity_profile",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS relationship,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT CAST(count(*) AS BIGINT) FROM customer),
           (SELECT CAST(count(*) AS BIGINT) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    """,
    doc="One-query referential-integrity profile across the star "
    "schema's four foreign keys — the fleet view the per-relationship "
    "`relationships` test (T4) feeds one row at a time: child count "
    "and orphan count per FK, computed as LEFT ANTI joins (the T4 "
    "plan) and unioned into a four-row dashboard. Each anti-join "
    "broadcasts its parent when dimension-sized (part/customer/"
    "nation) and shuffles on the key for the fact-fact pair, exactly "
    "as the individual tests do; the union is of 1-row aggregates. "
    "At 100 TB each FK audit is an independent keyed anti-join — "
    "embarrassingly parallel across relationships.",
)
def q_referential_integrity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def audit(name, child, key, parent, pkey):
        total = child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
        orphans = (
            child.join(parent, child[key] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        return (
            total.join(orphans)
            .select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )

    return (
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(audit("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(
            audit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


@register(
    "target_encode_kfold",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment AS seg, o_orderkey % 3 AS fold,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    pf AS (
      SELECT seg, fold, CAST(count(*) AS BIGINT) AS n_f,
             CAST(sum(y) AS DECIMAL(38,2)) AS s_f
      FROM j GROUP BY seg, fold
    ),
    pc AS (
      SELECT seg, CAST(sum(n_f) AS BIGINT) AS n,
             CAST(sum(s_f) AS DECIMAL(38,2)) AS s
      FROM pf GROUP BY seg
    )
    SELECT pf.seg AS c_mktsegment, CAST(pf.fold AS BIGINT) AS fold,
           (pc.n - pf.n_f) AS n_oof,
           round(CAST(pc.s - pf.s_f AS DOUBLE) / (pc.n - pf.n_f), 4) AS te
    FROM pf JOIN pc ON pf.seg = pc.seg
    WHERE pc.n > pf.n_f
    """,
    doc="K-fold target encoding — the leakage-safe categorical feature: "
    "each fold's encoding for a category is the target mean computed "
    "from the OTHER folds only (out-of-fold), so a row never sees its "
    "own label. Folds are deterministic (o_orderkey % 3 — the "
    "hash-split discipline of train_test_split_hash), and the "
    "out-of-fold mean comes from exact decimal (sum, count) partials: "
    "per-(category, fold) partials roll up to per-category totals, and "
    "oof = (total - own fold) / (n - n_own) — the subtraction trick "
    "that computes all K folds from ONE pass instead of K scans. Only "
    "the final ratio is float, rounded. Categories living entirely in "
    "one fold emit no row (no self-leakage fallback; consumers apply "
    "the global prior). At 100 TB: one keyed aggregate on the fact, "
    "then category-cardinality joins — the encoding table is "
    "dimension-sized by construction.",
)
def q_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_orderkey") % 3).alias("fold"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    pf = j.groupBy("seg", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_f"),
        F.sum("y").cast("decimal(38,2)").alias("s_f"),
    )
    pc = pf.groupBy("seg").agg(
        F.sum("n_f").cast("bigint").alias("n"),
        F.sum("s_f").cast("decimal(38,2)").alias("s"),
    )
    return (
        pf.join(pc, "seg")
        .where(F.col("n") > F.col("n_f"))
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("fold").cast("bigint").alias("fold"),
            (F.col("n") - F.col("n_f")).alias("n_oof"),
            F.round(
                (F.col("s") - F.col("s_f")).cast("double")
                / (F.col("n") - F.col("n_f")),
                4,
            ).alias("te"),
        )
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH attributed AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM attributed
    WHERE event_type = 'purchase' AND channel IS NOT NULL
    GROUP BY channel
    """,
    doc="Last-touch attribution — each purchase credits the user's most "
    "recent PRECEDING non-purchase event (the marketing-analytics "
    "default before anyone argues about multi-touch): one keyed "
    "window per user with last_value(... IGNORE NULLS) over an "
    "open-ended preceding frame (Spark F.last(ignorenulls) — the "
    "carry-forward idiom SCD readers use), deterministic under "
    "timestamp ties via the event_id tiebreak. Purchases with no "
    "prior touch emit nothing (no synthetic 'direct' channel — "
    "consumers decide). Then a channel-cardinality aggregate. The "
    "window rides the same user_id sort every sessionization query "
    "pays; state per row is one string, frame or no frame.",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.select("event_type", "value", channel.alias("channel"))
        .where((F.col("event_type") == "purchase") & F.col("channel").isNotNull())
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


@register(
    "dau_wau_rollup",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
      SELECT CAST(u.day + CAST(i AS INT) AS DATE) AS day, u.user_id
      FROM ud u, unnest(range(0, 7)) AS t(i)
    ),
    wau AS (
      SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM contrib c JOIN days d ON c.day = d.day
      GROUP BY c.day
    ),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT dau.day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
    """,
    doc="DAU/WAU active-user rollup — the engagement dashboard's "
    "headline pair, with WAU as a SLIDING 7-day count distinct. A "
    "frame cannot hold distinct state, so the scalable rewrite: dedup "
    "to (user, day) once, EXPLODE each user-day into the 7 trailing "
    "windows it serves (a constant ×7 expansion of the already-"
    "deduped table, not the event stream), equi-join to the observed "
    "day spine to drop phantom future days, and count distinct per "
    "target day — every shuffle keyed, no range join, no "
    "BroadcastNestedLoop. This is the contribution-expansion trick "
    "streaming engines use for sliding distinct aggregation "
    "(stream_sliding_counts is its event-count twin). At 100 TB the "
    "×7 rides the user-day table (≈ users × active-days), and the "
    "per-day distinct is an ordinary partial->final on (day, user).",
)
def q_dau_wau_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "day", "user_id"
    ).select(F.date_add("day", F.col("i")).alias("day"), "user_id")
    wau = (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return dau.join(wau, "day")


@register(
    "recommend_copurchase_topk",
    oracle="""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair_all AS (
      SELECT a.l_partkey AS part_x, b.l_partkey AS part_y,
             CAST(count(*) AS BIGINT) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY part_x, part_y
    ),
    pair AS (
      SELECT part_x, part_y, n FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY part_x ORDER BY n DESC, part_y ASC) AS pr
        FROM pair_all
      ) WHERE pr <= 10
    ),
    scored AS (
      SELECT cp.o_custkey, pair.part_y AS rec_part,
             CAST(sum(pair.n) AS BIGINT) AS score
      FROM cp JOIN pair ON pair.part_x = cp.l_partkey
      GROUP BY cp.o_custkey, pair.part_y
    ),
    cand AS (
      SELECT s.* FROM scored s
      WHERE NOT EXISTS (
        SELECT 1 FROM cp own
        WHERE own.o_custkey = s.o_custkey AND own.l_partkey = s.rec_part
      )
    )
    SELECT o_custkey, rec_part, score, rnk FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_custkey ORDER BY score DESC, rec_part ASC) AS rnk
      FROM cand
    ) WHERE rnk <= 3
    """,
    doc="Item-to-user co-purchase recommendations — the batch recsys "
    "staple: candidate items are parts co-ordered with anything the "
    "customer already bought, scored by summed co-occurrence support, "
    "with ALREADY-OWNED parts excluded (anti-join) and top-3 per "
    "customer under deterministic (score, part) ordering. Every stage "
    "is keyed: the pair table is the basket-bounded self-join "
    "copurchase_part_pairs certifies, TRUNCATED to each item's top-10 "
    "partners (deterministic (support, part) ranking) BEFORE the user "
    "join — without the cap the candidate expansion is |user-parts| × "
    "avg-partner-degree and measured 37 s at sf0.1; with it, "
    "|user-parts| × 10 and ~12× cheaper, the exact cap cf_item_cosine "
    "applies to baskets. Scoring aggregates BEFORE the ownership "
    "anti-join so the exclusion runs on the compact (customer, part) "
    "result, and top-k is one window on the customer key. Skew: a "
    "blockbuster part is a hot join key — the cap bounds its fanout "
    "by construction. Plan-variant tournament (sf0.1, interleaved "
    "medians): this plan 3.7-3.8 s; broadcast of the 200k-row capped "
    "pair table 4.4 s (worse — the broadcast build beats the narrow "
    "shuffle it saves); custkey-only repartition sharing one exchange "
    "across score-agg/anti-join/window 3.7 s (neutral); basket-"
    "collect_set pair generation 3.7-4.3 s (neutral); broadcast "
    "ownership anti-join 3.55 s (within noise, and NOT scale-sound — "
    "ownership grows with customers); round-8 retry: eager "
    "localCheckpoint of the shared cp/op frames 6.4 s vs 5.7 s base "
    "(worse — materializing the 550k-row distinct outweighs the one "
    "saved recompute), and core-count input repartition 6.6 s vs "
    "5.4 s (worse — the first stages are cheap projections feeding "
    "shuffles). The residual cost is the "
    "irreducible ~6M-row candidate shuffle; score aggregation and "
    "top-k are already partial-combined and WindowGroupLimit-pruned. "
    "Round-12 sf1 re-run (the growth exponent rises 0.45->0.70/decade, "
    "so the tournament was re-held ON the tiled sf1 dir per the "
    "round-11 verdict; tools/ab_copurchase_sf1.py, last present at "
    "commit 8b08e99; interleaved medians "
    "of 3): base 22.52 s, basket collect_set 1.003x, broadcast capped "
    "pair table 1.017x, shared custkey exchange 1.075x — the sf0.1 "
    "verdicts HOLD at sf1; no variant beats the keyed base plan. The "
    "rising exponent is the data-proportional candidate shuffle "
    "emerging past Spark's fixed action floor, and linear is its "
    "correct asymptote. Round-16 re-challenge with the r15 basket-"
    "array codegen learning BEATS that floor: sorted-basket "
    "transform/slice expands only the a < b orientation and the "
    "symmetric mirror is restored by a post-aggregation union, so "
    "the pair aggregate shuffles HALF the rows and the op-distinct "
    "self-join disappears (SMJ 4->2). Two sf1 tournaments: x0.786 "
    "and x0.839 vs base (wins every interleaved round of the "
    "second); sf0.1 cross-commit A/B x0.95 (2/3 pairs). The custkey "
    "single-exchange variant hit x0.755 in one sf1 run but x0.959 "
    "in the replicate, and composing it with the half-mirror beat "
    "neither — both dispositioned as non-robust, not shipped.",
)
def q_recommend_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    # r16 re-challenge with the r15 basket-array learning: collect_set
    # per order IS the distinct (order, part) relation folded to one row
    # per basket, the a < b pairs fall out of one codegen
    # transform/slice (no self-join, no second shuffle of the relation),
    # and — the new half — the co-occurrence count n is SYMMETRIC, so
    # the aggregate shuffles only the a < b orientation (half the rows)
    # and the mirror is restored by a post-aggregation union at
    # pair-table cardinality before the per-part_x top-10 window.
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
    pair_all = pair_half.unionByName(
        pair_half.select(
            F.col("part_y").alias("part_x"), F.col("part_x").alias("part_y"), "n"
        )
    )
    wp = Window.partitionBy("part_x").orderBy(
        F.col("n").desc(), F.col("part_y").asc()
    )
    pair = (
        pair_all.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= 10)
        .drop("pr")
    )
    cand = (
        cp.join(pair, cp.l_partkey == pair.part_x)
        .groupBy("o_custkey", F.col("part_y").alias("rec_part"))
        .agg(F.sum("n").cast("bigint").alias("score"))
        .join(
            cp.select("o_custkey", F.col("l_partkey").alias("rec_part")),
            ["o_custkey", "rec_part"],
            "left_anti",
        )
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("score").desc(), F.col("rec_part").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "rec_part", "score", "rnk")
    )


@register(
    "sink_manifest_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderdate) AS first_date,
           max(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="The two-phase-commit manifest sink protocol, VALUE-certified "
    "end to end: orders stream task-parallel through the custom "
    "jsonl_manifest DataSource (each task writes a uniquely-named "
    "shard, the driver-side commit() atomically publishes the "
    "manifest via fsync+os.replace — sources/jsonl_sink.py:197-230), "
    "then read back MANIFEST-FIRST (only committed shards are "
    "visible) and aggregated per status. The oracle computes the "
    "same aggregate straight from the source table, so any row lost "
    "or duplicated by the commit protocol, any timestamp shifted by "
    "the UTC-offset JSON serialization, or any double degraded by "
    "the text round-trip breaks the hash. Overwrite mode keeps the "
    "entry idempotent across runs. Scale shape: shards and the "
    "read-back scan are one task per partition/shard with no "
    "driver-side data movement (the driver touches only the "
    "manifest); the final aggregate is a partial->final hash agg on "
    "a 3-value key. JSONL is the export/debug path — the columnar "
    "hot path stays parquet — but the COMMIT protocol certified "
    "here is the same one every lake writer needs.",
)
def q_sink_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.jsonl_sink import JsonlManifestDataSource, read_manifest

    spark.dataSource.register(JsonlManifestDataSource)
    root = os.path.join(
        tempfile.gettempdir(),
        f"jaffle_sink_rt_{spark.sparkContext.applicationId}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    o.write.format("jsonl_manifest").mode("overwrite").option("path", root).save()
    back, _manifest = read_manifest(spark, root)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT CAST(1 AS INT) AS batch,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 2 = 0) AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 2 = 0) AS n_null_priority
    UNION ALL
    SELECT CAST(2 AS INT),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 2 = 1),
           CAST(0 AS BIGINT)
    """,
    doc="Schema-evolution round trip — the additive-column lakehouse "
    "contract, value-checked: batch 1 lands WITHOUT o_orderpriority, "
    "batch 2 lands WITH it, and a mergeSchema read over both must "
    "union the schemas and backfill NULLs for the old batch — never "
    "error, never silently drop the column (the read-side half of "
    "the on_schema_change write-side policy plans/registry.py "
    "enforces). The audit aggregate pins exactly that: per batch, "
    "row count and NULL count of the evolved column; the oracle "
    "states the expected semantics directly from the source table. "
    "At 100 TB mergeSchema's footer-union cost is why production "
    "pins schemas in a catalog — the docstring trade documented on "
    "sources/parquet.py applies; the semantics checked here are the "
    "same either way.",
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(),
        f"jaffle_schema_evo_{spark.sparkContext.applicationId}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("batch")
    ).write.mode("overwrite").parquet(f"{root}/b1")
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", F.lit(2).alias("batch")
    ).write.mode("overwrite").parquet(f"{root}/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/b1", f"{root}/b2"
    )
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_priority"),
    )


@register(
    "tpch_q21_style",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    -- group by the KEY (suppkey), not the name: the Spark plan
    -- aggregates on l_suppkey before the dimension join, so a
    -- duplicate s_name must stay two rows on both engines; suppkey
    -- also tiebreaks the LIMIT so boundary ties pick the same rows
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_name ASC, s.s_suppkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q21 analog (suppliers who kept orders waiting): the "
    "multi-correlated-subquery class — an EXISTS and a NOT EXISTS "
    "against the SAME fact table with different predicates, the one "
    "relational shape none of the single semi/anti entries exercises. "
    "'Late' is shipdate > orderdate + 60 days on finished ('F') "
    "orders; a supplier counts once per lineitem where it was late, "
    "the order involved ANOTHER supplier (EXISTS -> left-semi), and "
    "NO other supplier was late on it (NOT EXISTS -> left-anti). "
    "Spark-first plan: both correlated subqueries decorrelate to "
    "keyed self-joins on l_orderkey — a left-semi against the full "
    "lineitem scan and a left-anti against the (late, F) subset the "
    "outer block already computed — so the fact table is read twice, "
    "shuffled on its natural key, and never expanded (semi/anti "
    "produce at most one probe hit per row; no pair blow-up exists "
    "at any scale). The supplier dimension broadcasts (100 rows at "
    "sf0.01, 1M at 100 TB TPC-H scale — still broadcastable at "
    "10 MB/executor), and the final top-20 is a single all-to-one "
    "sort of at most |suppliers| aggregated rows. The secondary "
    "suppkey-inequality rides each join as a residual filter, not a "
    "join key, so skew is bounded by per-order line counts (7 max "
    "in TPC-H). Ref: reference has no analog; class from the public "
    "TPC-H spec Q21, re-expressed without correlated execution.",
)
def q_tpch_q21_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select("l_orderkey", "l_suppkey")
    sole_late = (
        late.alias("l1")
        .join(
            others.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .alias("l1")
        .join(
            late.alias("l3"),
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc(), F.col("s_suppkey").asc())
        .limit(20)
        .select("s_name", "numwait")
    )


@register(
    "tpch_q17_style",
    oracle="""
    WITH pq AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#16'
      GROUP BY l.l_partkey
    )
    SELECT round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / CAST(700 AS DOUBLE), 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_lines
    FROM lineitem l
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE 5 * CAST(floor(l.l_quantity) AS BIGINT) * pq.cnt < pq.sum_qty
    """,
    doc="TPC-H Q17 analog (small-quantity-order revenue): the "
    "correlated SCALAR-aggregate subquery class — 'lineitems below "
    "20% of this part's average quantity' — decorrelated the only "
    "way that scales: the per-part aggregate becomes its own keyed "
    "frame joined back on l_partkey, so the fact table is scanned "
    "twice and shuffled on its join key, never probed per-row (the "
    "correlated form is O(rows x subquery) on engines that execute "
    "it naively; Catalyst's RewriteCorrelatedScalarSubquery does the "
    "same rewrite this states explicitly). Cross-engine exactness: "
    "the 20%% threshold is the INTEGER inequality 5*qty*cnt < "
    "sum_qty (quantities floored to BIGINT on both sides per the "
    "weighted_median_price discipline), so no float sits on a "
    "keep/drop boundary; revenue enters as floor(price*100+0.5) "
    "cent-units, summed exactly as BIGINT, with ONE double division "
    "by 700 (the spec's /7.0 over cents) at the end. Skew: bounded "
    "by per-part line counts; the brand filter prunes the part side "
    "before the join (PushedFilters). Ref: public TPC-H spec Q17; "
    "no reference analog.",
)
def q_tpch_q17_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#16")
    pq = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey")
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    small = li.join(pq, "l_partkey").where(
        F.lit(5) * F.floor("l_quantity").cast("bigint") * F.col("cnt")
        < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("double")
            / F.lit(700).cast("double"),
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
    )


@register(
    "tpch_q8_style",
    oracle="""
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS cents,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_7'
                               THEN cents ELSE 0 END) AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE), 4) AS mkt_share,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM rev
    GROUP BY o_year
    """,
    doc="TPC-H Q8 analog (national market share): the "
    "ratio-of-conditional-aggregates class over the full 8-way "
    "dimension chain — NATION_7 suppliers' share of PROMO-part "
    "revenue sold into ASIA, per order year. Catalyst shape: region "
    "-> customer-nation and supplier-nation prune to broadcast "
    "chains (two DIFFERENT roles for the same nation dimension — "
    "the self-join-free double-alias join), the part filter "
    "broadcasts, and the two fact joins shuffle on their natural "
    "keys; the share is a conditional sum over the SAME aggregated "
    "frame, never two scans. Cross-engine exactness: revenue enters "
    "as floor(price*(1-disc)*100+0.5) cent-units — one fixed-shape "
    "IEEE expression per row, identical on both engines — then "
    "integer sums and ONE double division per group, so the 4dp "
    "share is bit-stable (the DECIMAL-literal trap is dodged by "
    "CASTing every literal in the division to DOUBLE). Ref: public "
    "TPC-H spec Q8; no reference analog.",
)
def q_tpch_q8_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            )
            .cast("bigint")
            .alias("cents"),
            "supp_nation",
        )
    )
    return rev.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("cents")).otherwise(0))
            .cast("double")
            / F.sum("cents").cast("double"),
            4,
        ).alias("mkt_share"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ------------------------------------------------------------- round 9
@register(
    "tpch_q22_style",
    oracle="""
    WITH elig AS (
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
      WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD', 'FURNITURE')
        AND c_acctbal > CAST(0 AS DOUBLE)
    ),
    t AS (
      SELECT CAST(sum(cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS cnt
      FROM elig
    )
    SELECT e.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(CAST(sum(e.cents) AS DOUBLE) / CAST(100 AS DOUBLE), 2)
             AS total_acctbal
    FROM elig e CROSS JOIN t
    WHERE e.cents * t.cnt > t.total
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = e.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY e.c_mktsegment
    """,
    doc="TPC-H Q22 analog (global-sales-opportunity): the "
    "scalar-threshold + NOT-EXISTS class — eligible customers with an "
    "account balance ABOVE the eligible-population average who have "
    "LAPSED (no order since 1999-01-01; the spec's 'never ordered' is "
    "vacuous on this testdata, where every sf<=0.01 customer has "
    "orders — the recency filter keeps the identical anti-join shape "
    "with a non-empty answer). Spark-first decorrelation: the average "
    "becomes a broadcast 1-row (total, cnt) frame and the comparison "
    "is the INTEGER inequality cents*cnt > total (no float average "
    "ever sits on a keep/drop boundary — the same discipline as "
    "tpch_q17's 20% rule); the NOT EXISTS is a left-anti join on "
    "c_custkey against the orders scan (keys-only shuffle, at most "
    "one probe per row). Skew: bounded — the anti join keys on the "
    "customer primary key. Ref: public TPC-H spec Q22; no reference "
    "analog.",
)
def q_tpch_q22_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1999-01-01"
    )
    elig = c.where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
        & (F.col("c_acctbal") > F.lit(0).cast("double"))
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    t = elig.agg(
        F.sum("cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    return (
        elig.crossJoin(F.broadcast(t))
        .where(F.col("cents") * F.col("cnt") > F.col("total"))
        .join(o, elig["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.round(
                F.sum("cents").cast("double") / F.lit(100).cast("double"), 2
            ).alias("total_acctbal"),
        )
    )


@register(
    "tpch_q11_style",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM v)
    SELECT v.l_partkey, v.value_cents
    FROM v CROSS JOIN t
    WHERE v.value_cents > t.total // 2000
    ORDER BY v.value_cents DESC, v.l_partkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q11 analog (important stock identification): the "
    "HAVING-against-a-global-scalar class — per-part line revenue "
    "kept only where it exceeds fraction 1/2000 of the corpus-wide "
    "total (the spec's GROUP BY ... HAVING sum > scalar-subquery "
    "shape, which neither the broadcast-threshold filters nor the "
    "TPC-H analogs above exercise: here the scalar aggregates the "
    "SAME frame the HAVING prunes). Decorrelated Spark-first: one "
    "keyed aggregate builds the per-part frame, a second 1-row "
    "aggregate over IT broadcasts as the threshold. Cross-engine "
    "exactness AND overflow safety: the fraction test uses "
    "value > total div 2000 (integer floor division) — provably "
    "equivalent to 2000*value > total for integers, without the "
    "total*2000 product that would overflow BIGINT at 100 TB scale "
    "(corpus totals ~1e17 cents). Deterministic LIMIT via the "
    "partkey tiebreak. Ref: public TPC-H spec Q11; no reference "
    "analog.",
)
def q_tpch_q11_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("value_cents")
    )
    t = v.agg(F.sum("value_cents").cast("bigint").alias("total"))
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("value_cents") > F.expr("total div 2000"))
        .orderBy(F.col("value_cents").desc(), F.col("l_partkey").asc())
        .limit(100)
        .select("l_partkey", "value_cents")
    )


@register(
    "winsorize_group_clip",
    oracle="""
    WITH s AS (
      SELECT c.c_mktsegment AS segment,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    h AS (
      SELECT segment, cents, CAST(count(*) AS BIGINT) AS c
      FROM s GROUP BY segment, cents
    ),
    r AS (
      SELECT segment, cents,
             CAST(sum(c) OVER (PARTITION BY segment ORDER BY cents)
                  AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY segment) AS BIGINT) AS n
      FROM h
    ),
    thr AS (
      SELECT segment,
             CAST(max(n) AS BIGINT) AS n_orders,
             CAST(min(CASE WHEN cum >= (n + 19) // 20 THEN cents END)
                  AS BIGINT) AS lo_cents,
             CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN cents END)
                  AS BIGINT) AS hi_cents
      FROM r GROUP BY segment
    )
    SELECT s.segment,
           CAST(max(t.n_orders) AS BIGINT) AS n_orders,
           max(t.lo_cents) AS lo_cents,
           max(t.hi_cents) AS hi_cents,
           CAST(sum(CASE WHEN s.cents < t.lo_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN s.cents > t.hi_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           round(CAST(sum(greatest(t.lo_cents, least(t.hi_cents, s.cents)))
                      AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS winsorized_total
    FROM s JOIN thr t ON s.segment = t.segment
    GROUP BY s.segment
    """,
    doc="Winsorization — the feature-pipeline outlier treatment that "
    "CLIPS instead of dropping: per customer segment, order totals "
    "are clamped to the exact [p05, p95] order statistics before "
    "aggregation (quantile_normalize_groups maps ranks, "
    "users_anomaly_* FLAG outliers; winsorizing bounds their "
    "leverage while keeping the rows). Cross-engine exactness: the "
    "thresholds are ORDER STATISTICS on the integer cent grid — "
    "percentile_disc semantics as the smallest value whose "
    "cumulative count reaches ceil(p*n), with the ceilings computed "
    "as (n+19) div 20 and (19n+19) div 20 in pure integer "
    "arithmetic — so no interpolated float quantile ever decides a "
    "clip, and the winsorized sum is an exact integer until the "
    "final /100 projection. Scale shape (hot-group safe): the rank "
    "pass is the HISTOGRAM-CDF form, not a per-row sort — rows first "
    "collapse to (segment, cents) counts via a partial->final hash "
    "aggregate, and the cumulative window runs over the DISTINCT-"
    "value domain per segment (bounded by the cent grid, the "
    "median_histogram_cdf argument), so a segment holding 99% of "
    "the fact table costs O(its distinct prices) in the single "
    "window task, not O(its rows); then a broadcast threshold join "
    "back and one partial->final aggregate. Ref: no reference "
    "analog; winsorized mean per the classic robust-statistics "
    "definition.",
)
def q_winsorize_group_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    h = s.groupBy("segment", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("segment").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "segment",
        "cents",
        F.sum("c").over(w).cast("bigint").alias("cum"),
        F.sum("c").over(Window.partitionBy("segment")).cast("bigint").alias("n"),
    )
    thr = r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.min(F.when(F.col("cum") >= F.expr("(n + 19) div 20"), F.col("cents")))
        .cast("bigint")
        .alias("lo_cents"),
        F.min(F.when(F.col("cum") >= F.expr("(19 * n + 19) div 20"), F.col("cents")))
        .cast("bigint")
        .alias("hi_cents"),
    )
    return (
        s.join(F.broadcast(thr), "segment")
        .groupBy("segment")
        .agg(
            F.max("n_orders").cast("bigint").alias("n_orders"),
            F.max("lo_cents").alias("lo_cents"),
            F.max("hi_cents").alias("hi_cents"),
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(
                F.sum(
                    F.greatest("lo_cents", F.least("hi_cents", F.col("cents")))
                ).cast("double")
                / F.lit(100).cast("double"),
                2,
            ).alias("winsorized_total"),
        )
    )


@register(
    "tpch_q19_style",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= CAST(1 AS DOUBLE)
           AND l.l_quantity <= CAST(11 AS DOUBLE))
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= CAST(10 AS DOUBLE)
           AND l.l_quantity <= CAST(20 AS DOUBLE))
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity >= CAST(20 AS DOUBLE)
           AND l.l_quantity <= CAST(30 AS DOUBLE))
    """,
    doc="TPC-H Q19 analog (discounted revenue, disjunctive predicates): "
    "the OR-of-conjunctive-clauses join class — three brand/size/"
    "quantity clause bundles OR'd across the part-lineitem join, the "
    "one predicate SHAPE none of the other analogs exercises (their "
    "filters are all conjunctive). What Catalyst must do, and the "
    "plan asserts it does: PROJECT the disjunction onto each side so "
    "both still prune at the SCAN — the part scan receives the pushed "
    "Or(brand=13&size<=10, brand=20&size<=15, brand=25&size<=20) "
    "filter, the lineitem scan the Or of the three quantity bands "
    "(verified in PushedFilters by tests/test_plans.py::"
    "test_q19_disjunction_pushes_to_both_scans); only the residual "
    "cross-side pairing evaluates post-join. A naive engine evaluates "
    "the whole disjunction per joined row over full scans. The filtered "
    "part side broadcasts. Cross-engine exactness: quantities are "
    "integer-valued doubles compared against integer literals CAST "
    "to DOUBLE on both engines, and revenue enters as "
    "floor(price*(1-disc)*100+0.5) cents summed as BIGINT. Ref: "
    "public TPC-H spec Q19; no reference analog.",
)
def q_tpch_q19_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    clause = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= F.lit(1).cast("double"))
            & (F.col("l_quantity") <= F.lit(11).cast("double"))
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= F.lit(10).cast("double"))
            & (F.col("l_quantity") <= F.lit(20).cast("double"))
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 20)
            & (F.col("l_quantity") >= F.lit(20).cast("double"))
            & (F.col("l_quantity") <= F.lit(30).cast("double"))
        )
    )
    return joined.where(clause).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )


@register(
    "keyset_pagination_page3",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT 100 OFFSET 200
    """,
    doc="Keyset (cursor) pagination — page 3 of the order feed, 100 "
    "rows per page over the unique sort key (o_orderdate, "
    "o_orderkey): the API-pagination class every serving layer needs "
    "at scale. The ORACLE states the semantics in the naive form "
    "(ORDER BY ... LIMIT 100 OFFSET 200 — which must SORT PAST every "
    "skipped row and degrades linearly with page number); the Spark "
    "plan is the production keyset form: derive the cursor (the last "
    "tuple of page 2) via TakeOrdered(200) + top-1, broadcast it, and "
    "fetch WHERE (d > cd) OR (d = cd AND k > ck) ORDER BY LIMIT 100 — "
    "per-partition top-k merges, never a global offset sort. The two "
    "forms agreeing IS the certified property. In production the "
    "cursor arrives as a LITERAL from the previous page's response, "
    "and the tuple predicate then pushes down to the scan "
    "(PushedFilters on the date range — constant page cost at any "
    "depth); here it is derived in-plan to keep the entry "
    "self-contained. Determinism: the sort key is unique (orderkey "
    "tiebreak), so page boundaries are exact on both engines. Ref: "
    "no reference analog; keyset pagination per the standard "
    "engineering pattern.",
)
def q_keyset_pagination_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("total_cents"),
    )
    cursor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(200)
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_orderdate").alias("cd"), F.col("o_orderkey").alias("ck")
        )
    )
    return (
        o.crossJoin(F.broadcast(cursor))
        .where(
            (F.col("o_orderdate") > F.col("cd"))
            | (
                (F.col("o_orderdate") == F.col("cd"))
                & (F.col("o_orderkey") > F.col("ck"))
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate", "total_cents")
    )


# ------------------------------------------------ TPC-H analog completion
# Round 10 closes the TPC-H-style family: with the ten below, all 22
# query shapes of the public TPC-H spec have an analog adapted to the
# driver's reduced schemas (no partsupp / l_shipmode / l_commitdate —
# each analog's docstring states its adaptation). Shared conventions:
# money enters as floor(x*100+0.5) cents summed as BIGINT, fractional
# literals are CAST AS DOUBLE on both engines (bare SQL decimals are
# DECIMAL-typed and diverge), and every ORDER BY carries a unique
# tiebreak.


@register(
    "tpch_q4_style",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 analog (order priority checking): count Q1-1996 "
    "orders per priority that had at least one LATE line — EXISTS "
    "decorrelated to a LEFT SEMI join whose condition mixes the "
    "equi-key with a non-equi date comparison against the outer row "
    "(l_shipdate > o_orderdate + 30 days; the spec's "
    "commit<receipt predicate adapted to the reduced lineitem "
    "schema). The semi join keeps at most one match per order "
    "(no EXISTS double-count), the quarter filter pushes to the "
    "orders scan, and the count is a partial->final aggregate over "
    "five priority groups. Ref: public TPC-H spec Q4; no reference "
    "analog.",
)
def q_tpch_q4_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6_style",
    oracle="""
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE)
      AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < CAST(24 AS DOUBLE)
    """,
    doc="TPC-H Q6 analog (forecasting revenue change): the pure "
    "scan-filter-aggregate — every predicate (ship year, discount "
    "band, quantity cap) pushes into the parquet scan's "
    "PushedFilters, no join, no shuffle beyond the single "
    "partial->final global aggregate; at 100 TB this is the "
    "I/O-bound query whose cost is the column-pruned scan itself. "
    "Discount bounds CAST to DOUBLE on both engines (the "
    "DECIMAL-literal trap). Ref: public TPC-H spec Q6; no reference "
    "analog.",
)
def q_tpch_q6_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= F.lit(0.05))
            & (F.col("l_discount") <= F.lit(0.07))
            & (F.col("l_quantity") < F.lit(24).cast("double"))
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100 + 0.5)
                .cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@register(
    "tpch_q7_style",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_11')
             OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_9'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 analog (volume shipping): bilateral trade volume "
    "between two nations by year, BOTH directions — the disjunctive "
    "cross-side nation-pair predicate is the defining shape (either "
    "supplier in 9 and customer in 11, or vice versa), which cannot "
    "collapse to independent per-side filters; each side still "
    "prunes to the two-nation superset before the join. Plan: "
    "lineitem drives; orders/customer join on keys; supplier and "
    "both nation maps broadcast (dimension-sized); one "
    "partial->final aggregate over (supp, cust, year). Ref: public "
    "TPC-H spec Q7; no reference analog.",
)
def q_tpch_q7_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_11"))
            | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_9"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q9_style",
    oracle="""
    SELECT nation, o_year, CAST(sum(profit_cents) AS BIGINT) AS profit_cents
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(floor((l.l_extendedprice * (1 - l.l_discount)
                         - CAST(0.6 AS DOUBLE) * p.p_retailprice * l.l_quantity)
                        * 100 + 0.5) AS BIGINT) AS profit_cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%r%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 analog (product type profit): per supplier-nation and "
    "order year, profit = revenue minus cost over parts whose NAME "
    "matches a LIKE pattern — the substring-filtered star join is the "
    "defining shape. Cost adapts the spec's ps_supplycost (no "
    "partsupp table in the driver schema) to 0.6 * p_retailprice per "
    "unit, keeping the profit expression's mixed-sign arithmetic; "
    "floor(x*100+0.5) half-up rounds identically for the negative "
    "profits on both engines. Plan: the LIKE prunes part BEFORE its "
    "broadcast; supplier/nation broadcast; lineitem-orders is the one "
    "big shuffle join; partial->final aggregate over ~nation x year "
    "groups. Ref: public TPC-H spec Q9; no reference analog.",
)
def q_tpch_q9_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%r%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.floor(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
                )
                * 100
                + 0.5
            )
            .cast("bigint")
            .alias("profit_cents"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit_cents").cast("bigint").alias("profit_cents"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "tpch_q12_style",
    oracle="""
    SELECT ship_mode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT CASE l.l_linenumber % 3 WHEN 0 THEN 'MAIL'
                                     WHEN 1 THEN 'RAIL'
                                     ELSE 'SHIP' END AS ship_mode,
             o.o_orderpriority
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY ship_mode
    ORDER BY ship_mode
    """,
    doc="TPC-H Q12 analog (shipping modes and order priority): for "
    "1997 lines shipped LATE (>60 days after order — the spec's "
    "receipt/commit lag adapted to the reduced schema), pivot line "
    "counts into high/low priority columns per ship mode. The driver "
    "schema has no l_shipmode, so mode derives deterministically "
    "from l_linenumber % 3 — the conditional-aggregate pivot over a "
    "non-equi-joined fact is the preserved shape. Year filter pushes "
    "to the lineitem scan; the lag predicate evaluates post-join; "
    "one partial->final pivot aggregate over three groups. Ref: "
    "public TPC-H spec Q12; no reference analog.",
)
def q_tpch_q12_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    o = load_table(spark, sf_dir, "orders")
    j = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(
            F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
            .when(F.col("l_linenumber") % 3 == 1, "RAIL")
            .otherwise("SHIP")
            .alias("ship_mode"),
            "o_orderpriority",
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


@register(
    "tpch_q13_style",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 analog (customer distribution): histogram of "
    "customers by order count, INCLUDING zero-order customers — the "
    "defining shape is the filter living in the LEFT JOIN's ON "
    "clause (the spec's NOT-LIKE comment filter adapted to "
    "priority <> '5-LOW'): moving it to WHERE would silently drop "
    "the zero bucket. Two aggregates: per-customer count (count of a "
    "nullable key skips the null-extended rows), then the "
    "distribution over counts; both partial->final. Ref: public "
    "TPC-H spec Q13; no reference analog.",
)
def q_tpch_q13_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q14_style",
    oracle="""
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round(CAST(100 AS DOUBLE)
                 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                        AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE), 4) AS promo_pct
    FROM (
      SELECT p.p_type,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
        AND l.l_shipdate < TIMESTAMP '1997-10-01'
    )
    """,
    doc="TPC-H Q14 analog (promotion effect): the ratio-of-conditional-"
    "sums shape — promo revenue share of one month's total, computed "
    "in a SINGLE aggregate pass (both sums partial->final over the "
    "same joined rows; a naive engine runs the fact join twice). "
    "Integer cents keep both sums exact; the one double division "
    "rounds at the projection. Month filter pushes to the lineitem "
    "scan; part broadcasts. Ref: public TPC-H spec Q14; no "
    "reference analog.",
)
def q_tpch_q14_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "p_type",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("cents")).otherwise(0)).cast(
        "bigint"
    )
    total = F.sum("cents").cast("bigint")
    return j.agg(
        promo.alias("promo_cents"),
        total.alias("total_cents"),
        F.round(
            F.lit(100).cast("double") * promo.cast("double") / total.cast("double"), 4
        ).alias("promo_pct"),
    )


@register(
    "tpch_q15_style",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM supplier s
    JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 analog (top supplier): the supplier(s) whose Q1-1997 "
    "revenue EQUALS the maximum — the scalar-subquery-against-a-"
    "derived-aggregate shape (the spec's CREATE VIEW inlined as a "
    "CTE), keeping ties exactly because revenue is integer cents "
    "(a float max would make the equality flaky). Spark plan: one "
    "partial->final revenue aggregate per supplier, its 1-row max "
    "attached via broadcast scalar join (the allowlisted "
    "scalar-attach pattern), then a broadcast join to the supplier "
    "dim. Ref: public TPC-H spec Q15; no reference analog.",
)
def q_tpch_q15_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("max_cents"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_style",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0 AS DOUBLE)
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 analog (parts/supplier relationship): distinct "
    "supplier counts per (brand, type, size) bucket with BOTH "
    "exclusion shapes — negated dimension predicates plus a NOT IN "
    "anti-join against a filtered supplier set (the spec's "
    "complaint-comment suppliers adapted to negative account "
    "balance; lineitem stands in for the absent partsupp as the "
    "part-supplier relation). Spark: the anti join broadcasts the "
    "tiny excluded set; count(DISTINCT) runs as the standard "
    "two-phase expand-aggregate, partial per partition. Ref: public "
    "TPC-H spec Q16; no reference analog.",
)
def q_tpch_q16_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < F.lit(0).cast("double"))
        .select("s_suppkey")
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).join(
        F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@register(
    "tpch_q20_style",
    oracle="""
    WITH pq AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    pa AS (
      SELECT l_partkey,
             CAST(sum(sq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_sq
      FROM pq GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT pq.l_suppkey
      FROM pq
      JOIN pa ON pa.l_partkey = pq.l_partkey
      JOIN part p ON p.p_partkey = pq.l_partkey AND p.p_name LIKE 'small%'
      WHERE pq.sq > CAST(1.2 AS DOUBLE) * pa.avg_sq
    )
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q20 analog (potential part promotion): suppliers who "
    "moved MORE than 1.2x the average per-supplier volume of some "
    "'small%' part in 1997 — the nested-IN-over-a-correlated-"
    "aggregate-threshold shape (the spec's ps_availqty > 0.5 * "
    "shipped-quantity test adapted to the schema without partsupp: "
    "the threshold derives from the same pq aggregate, keeping the "
    "self-referential decorrelation). Two keyed aggregates (pair "
    "volume, then per-part average), a broadcast LIKE-pruned part "
    "join, and the IN decorrelates to a LEFT SEMI join into the "
    "supplier dim. The threshold comparison is a fixed-shape double "
    "expression evaluated identically by both engines (quantities "
    "are integer-valued doubles, sums exact). Ref: public TPC-H "
    "spec Q20; no reference analog.",
)
def q_tpch_q20_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    pq = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    pa = pq.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.sum("sq").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_sq")
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    qualified = (
        pq.join(pa, pq["l_partkey"] == pa["pa_partkey"])
        .join(F.broadcast(p), pq["l_partkey"] == p["p_partkey"])
        .where(F.col("sq") > F.lit(1.2) * F.col("avg_sq"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(qualified, s["s_suppkey"] == qualified["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
